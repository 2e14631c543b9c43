package graft.report

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Pipeline-level surface for the engine's "no silent caps" beacons.
  *
  * The scale operators emit named observations whenever a narrowing or
  * sampling path was live (`graft.minhash.hot` — LSH hot-bucket two-band
  * prefix extension; `graft.minhash.hotrecall` — pairs recovered by the
  * hot-bucket sample, i.e. the measured loss of the prefix path alone;
  * `graft.hammingknn.cand` — candidate signature-pair volume of a Hamming
  * kNN join). A `QueryExecutionListener` can read them, but a batch
  * pipeline wants them on the report it already produces — the reference's
  * warning channel (reference jobs.py:159-160 appends run warnings to the
  * report payload).
  *
  * Register one instance for the span of a pipeline run, then append
  * [[warnings]] to the run's [[ValidationReport.warnings]]:
  * {{{
  * val pw = PipelineWarnings.register(spark)
  * try {
  *   val pairs = Dedup.minHashPairs(...).cache(); pairs.count()
  *   val done = report.copy(warnings = report.warnings ++ pw.await())
  * } finally pw.close()
  * }}}
  *
  * Listener delivery is asynchronous; [[await]] polls until at least one
  * beacon (or `minBeacons`) arrived or the timeout passed, then snapshots.
  * Metrics from repeated executions of the same plan overwrite (last wins —
  * the beacons are per-run evidence, not accumulators).
  */
final class PipelineWarnings private (spark: SparkSession) extends AutoCloseable {
  import PipelineWarnings._

  private val seen = TrieMap.empty[String, Seq[Long]]

  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (Beacons.contains(name))
          // sum() over an empty frame observes NULL — treat as 0
          seen.put(name, (0 until row.length).map(i => if (row.isNullAt(i)) 0L else row.getLong(i)))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  spark.listenerManager.register(listener)

  /** Beacons observed so far, rendered as report warning strings. Beacons
    * whose value says the narrowing never fired (hot_rows == 0,
    * hot_recovered == 0) render nothing — silence means the fast path was
    * exact. */
  def warnings: Seq[String] =
    Beacons.flatMap { name => seen.get(name).flatMap(render(name, _)) }

  /** Raw values of beacon `name` (its observed row, NULL read as 0), if it
    * arrived — for callers that need the numbers, not the rendered text. */
  def values(name: String): Option[Seq[Long]] = seen.get(name)

  /** Poll (listener delivery is async) until at least `minBeacons` beacon
    * rows arrived or `timeoutMs` passed, then return [[warnings]]. */
  def await(minBeacons: Int = 1, timeoutMs: Long = 10000L): Seq[String] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (seen.size < minBeacons && System.currentTimeMillis() < deadline) Thread.sleep(25)
    warnings
  }

  override def close(): Unit = spark.listenerManager.unregister(listener)
}

object PipelineWarnings {

  /** Observation names the collector understands, in render order. */
  val Beacons: Seq[String] =
    Seq("graft.minhash.hot", "graft.minhash.hotrecall", "graft.hammingknn.cand")

  def register(spark: SparkSession): PipelineWarnings = new PipelineWarnings(spark)

  private def render(name: String, values: Seq[Long]): Option[String] = name match {
    case "graft.minhash.hot" =>
      values.headOption.filter(_ > 0).map(n =>
        s"MinHash LSH hot-bucket narrowing was live: $n row(s) routed through two-band prefix extension")
    case "graft.minhash.hotrecall" =>
      values.headOption.filter(_ > 0).map(n =>
        s"MinHash hot-bucket sample recovered $n verified pair(s) the prefix path alone would have missed")
    case "graft.hammingknn.cand" =>
      values.headOption.map(n =>
        s"Hamming kNN join examined $n candidate signature pair(s)")
    case _ => None
  }
}

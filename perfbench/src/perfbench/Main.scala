package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * Set-up (timed as `setup_s`, repeated `SetupReps` times, median reported):
  * start a session on local[nproc], generate the seed's inputs under the work
  * directory, and run the workload's warm-up operations. The last set-up is
  * kept for the timed region.
  *
  * `--trace 0`: operations run back to back for `--seconds`; every output
  * is checked; the end-to-end metrics are printed.
  * `--trace 1`: for `--seconds`, each operation runs twice, untraced and
  * traced (spans, the Spark listener and the per-layer probes), in
  * alternating order, so both see the same inputs equally warm; the
  * per-layer metrics and the tracing overhead are printed.
  *
  * The last stdout line is one JSON object: correct, attempted, failed,
  * metrics. */
object Main {
  val Workloads: Seq[Workload] = Seq(Resources, Table, Curation)
  val SetupReps = 2

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.read_ms" -> "ms", "schema.parse_ms" -> "ms", "runner.plan_ms" -> "ms",
    "runner.physical_plan_ms" -> "ms", "runner.run_ms" -> "ms", "report.to_json_ms" -> "ms",
    "report.assemble_s" -> "s", "checks.row_s" -> "s", "checks.row_violations" -> "count",
    "checks.unique_s" -> "s", "checks.unique_hot_s" -> "s", "checks.fk_s" -> "s",
    "images.decode_s" -> "s", "images.caption_s" -> "s", "images.violations_s" -> "s",
    "text.verdicts_s" -> "s", "dedup.lines_s" -> "s", "dedup.minhash_pairs_s" -> "s",
    "dedup.components_s" -> "s", "stats.quota_s" -> "s", "stats.packing_s" -> "s",
    "dedup.pairs" -> "count", "dedup.survivors" -> "count",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count", "spark.sched_delay_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MB", "spark.fetch_wait_ms" -> "ms", "spark.spill_mb" -> "MB",
    "spark.gc_ms" -> "ms", "spark.task_skew" -> "ratio", "heap_peak_mb" -> "MB", "trace.overhead_pct" -> "%")

  final case class Sample(ns: Long, units: Long, errors: Seq[String], spark: Map[String, Double])

  /** A printed figure; only `inResult` ones go into the final JSON line. */
  final case class Metric(name: String, unit: String, value: Double, note: String, inResult: Boolean = true)

  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the frozen harness's configuration, with parallelism sized to the host
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.files.maxPartitionBytes", String.valueOf(2 * 1024 * 1024))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // everything the session writes stays under the work directory
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try {
        val w = Workloads.find(_.name == opts("workload"))
          .getOrElse(throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
        run(w, opts("seed").toLong, opts("seconds").toDouble, opts("trace") == "1",
          new File(opts("work")), opts.get("trace-out").map(new File(_)))
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }

  def run(w: Workload, seed: Long, seconds: Double, traced: Boolean, work: File, traceOut: Option[File]): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def record(s: Sample): Unit = {
      attempted += 1
      if (s.errors.nonEmpty) { failed += 1; errors ++= s.errors }
    }

    // set-up, repeated; the last one stays up
    var spark: SparkSession = null
    var prepared: Prepared = null
    val setupSeconds = (1 to (if (traced) 1 else SetupReps)).map { rep =>
      if (spark != null) spark.stop()
      val dir = new File(work, s"inputs-$rep")
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val t1 = System.nanoTime()
      prepared = w.prepare(spark, dir, seed)
      val t2 = System.nanoTime()
      // warm-up inputs come from the end of the cycle
      (1 to w.warmupOps).foreach(k => record(runOp(prepared, -k, Tracer.off, None, spark)))
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"setup $rep: session ${(t1 - t0) / 1e9}%.2f s, inputs ${(t2 - t1) / 1e9}%.2f s, " +
        f"warm-up ${(System.nanoTime() - t2) / 1e9}%.2f s")
      if (rep > 1) Common.deleteRecursively(new File(work, s"inputs-${rep - 1}"))
      s
    }

    val metrics: Seq[Metric] =
      if (!traced) {
        val heap = new HeapPeak
        heap.start()
        val ops = loop(seconds, w.minOps)(i => runOp(prepared, i, Tracer.off, None, spark))
        val heapMb = heap.stopMb()
        ops.foreach(record)
        endToEnd(setupSeconds, ops, heapMb)
      } else {
        // one more warm-up, then pairs in alternating order, so neither side
        // of the overhead comparison is systematically the warmer one
        record(runOp(prepared, -1, Tracer.off, None, spark))
        val tracer = new Tracer(true)
        val listener = PerfListener.setup(spark.sparkContext)
        val heap = new HeapPeak
        heap.start()
        val pairs = loop(seconds, math.max(1, w.minOps / 4)) { i =>
          tracer.op = i
          def plain = runOp(prepared, i, Tracer.off, None, spark)
          def withSpans = runOp(prepared, i, tracer, Some(listener), spark)
          if (i % 2 == 0) { val u = plain; Seq(u, withSpans) }
          else { val t = withSpans; Seq(plain, t) }
        }
        val heapMb = heap.stopMb()
        pairs.flatten.foreach(record)
        traceOut.foreach { f =>
          f.getParentFile.mkdirs()
          Files.write(f.toPath, tracer.toJson.getBytes(StandardCharsets.UTF_8))
        }
        perLayer(tracer, pairs.map(_.head), pairs.map(_.last), heapMb)
      }
    spark.stop()

    println(s"# workload=${w.name} seed=$seed cores=$cores trace=${if (traced) 1 else 0}")
    metrics.foreach(m => println(f"# ${m.name}%-24s ${m.value}%14.4f ${m.unit}%-6s ${m.note}"))
    println(f"# fail_ratio ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f ($failed/$attempted)")
    errors.distinct.take(20).foreach(e => System.err.println(s"check failed: $e"))
    val body = metrics.filter(_.inResult).map { m =>
      s""""${m.name}": {"value": ${jsonNumber(m.value)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    0
  }

  private def jsonNumber(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  /** One operation: its time, then its output check (and, when traced, the
    * Spark counters of the operation and the layer probes). */
  def runOp(p: Prepared, i: Int, t: Tracer, listener: Option[PerfListener], spark: SparkSession): Sample = {
    listener.foreach(_.reset(spark.sparkContext))
    val t0 = System.nanoTime()
    val done = Try(t.span("op")(p.op(i, t)))
    val ns = System.nanoTime() - t0
    val counters = listener.map(_.snapshot(spark.sparkContext)).getOrElse(Map.empty)
    def failures(x: Try[Seq[String]], what: String) = x match {
      case Success(errs) => errs
      case Failure(e)    => Seq(s"$what threw $e")
    }
    val errs = done match {
      case Success(d) =>
        failures(Try(d.check()), "check") ++ (if (t.enabled) failures(Try(p.probes(i, t)), "probe") else Nil)
      case Failure(e) => Seq(s"operation threw $e")
    }
    Sample(ns, done.map(_.units).getOrElse(0L), errs, counters)
  }

  /** Steps 0, 1, 2, … back to back until `seconds` have passed and at
    * least `minSteps` ran. */
  def loop[T](seconds: Double, minSteps: Int)(step: Int => T): Seq[T] = {
    val out = mutable.ArrayBuffer.empty[T]
    val start = System.nanoTime()
    while (out.size < minSteps || (System.nanoTime() - start) / 1e9 < seconds) out += step(out.size)
    out.toSeq
  }

  /** setup_s, op_p50_ms and rows_per_s go into the result. op_p90_ms and
    * the heap peak are printed only: a run has too few operations for ten
    * samples beyond p90, and the heap peak spreads too widely across runs. */
  def endToEnd(setup: Seq[Double], ops: Seq[Sample], heapMb: Double): Seq[Metric] = {
    val ok = ops.filter(_.errors.isEmpty)
    val ms = ok.map(_.ns / 1e6)
    // mean units per operation over the median operation time: as robust to
    // a stalled operation as the median itself
    val unitsPerOp = if (ok.isEmpty) 0.0 else ok.map(_.units).sum.toDouble / ok.size
    val rowsPerS = if (ok.isEmpty) 0.0 else unitsPerOp / (Stats.median(ms) / 1e3)
    val n = s"(n=${ok.size})"
    Seq(
      Metric("setup_s", "s", Stats.median(setup), s"(median of ${setup.size}: ${setup.map(x => f"$x%.2f").mkString(", ")})"),
      Metric("op_p50_ms", "ms", Stats.median(ms), s"$n ops: ${ms.map(x => f"$x%.0f").mkString(" ")}"),
      Metric("rows_per_s", "1/s", rowsPerS, f"$unitsPerOp%.0f per op / p50 $n"),
      Metric("op_p90_ms", "ms", Stats.quantile(ms, 0.9), s"$n, printed only", inResult = false),
      Metric("heap_peak_mb", "MB", heapMb, "timed region, printed only", inResult = false)
    )
  }

  def perLayer(t: Tracer, untraced: Seq[Sample], traced: Seq[Sample], heapMb: Double): Seq[Metric] = {
    val self = t.selfTimes
    val ops = traced.indices
    def perOp(span: String): Seq[Double] = ops.map(op => self.getOrElse(op, Map.empty).getOrElse(span, 0L).toDouble)
    val counts = t.counts.groupBy(c => (c._1, c._2)).map { case (k, v) => k -> v.map(_._3).sum }
    // operation i ran both untraced and traced, on the same inputs
    val overhead = (traced.map(_.ns).sum.toDouble / untraced.map(_.ns).sum - 1) * 100
    val n = s"(n=${traced.size})"
    PerLayer.map { case (name, unit) =>
      val v = name match {
        case "trace.overhead_pct" => overhead
        case "heap_peak_mb" => heapMb
        case "report.assemble_s" =>
          // run() minus the uncapped violations plan written to a no-op sink
          Stats.median(perOp("runner.run").zip(perOp("runner.violations_noop")).map {
            case (run, noop) => if (noop == 0) 0.0 else (run - noop) / 1e9
          })
        case s if s.startsWith("spark.") => Stats.median(traced.map(_.spark.getOrElse(s, 0.0)))
        case s if unit == "ms" => Stats.median(perOp(s.stripSuffix("_ms"))) / 1e6
        case s if unit == "s" => Stats.median(perOp(s.stripSuffix("_s"))) / 1e9
        case s => Stats.median(ops.map(op => counts.getOrElse((op, s), 0.0)))
      }
      Metric(name, unit, v, n)
    }
  }
}

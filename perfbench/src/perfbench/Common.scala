package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** One operation's outcome: the input units it covered (rows, images or
  * documents) and its output check, run after the clock stops. */
final case class Done(units: Long, check: () => Seq[String])

/** A workload whose inputs exist on disk and whose session is warm. */
trait Prepared {
  /** The i-th timed operation (inputs cycle with i). Spans are no-ops unless
    * `t` is enabled. */
  def op(i: Int, t: Tracer): Done

  /** Traced run only: extra calls that isolate single layers, on the inputs
    * of operation i. Returns check failures. */
  def probes(i: Int, t: Tracer): Seq[String] = Nil
}

trait Workload {
  def name: String
  /** untimed operations run during set-up (JIT and codegen warm-up) */
  def warmupOps: Int
  /** timed operations run even when they overrun the time budget */
  def minOps: Int
  def prepare(spark: SparkSession, dir: File, seed: Long): Prepared
}

/** SplitMix64: a small seeded generator, stable across JVMs. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    Rng.mix(s)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def chance(p: Double): Boolean = nextDouble() < p
  def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.size))
  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    var i = a.length - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val tmp = a(i); a(i) = a(j); a(j) = tmp
      i -= 1
    }
    a.toIndexedSeq
  }
  def word(minLen: Int, maxLen: Int): String = {
    val n = minLen + nextInt(maxLen - minLen + 1)
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb.append(('a' + nextInt(26)).toChar))
    sb.toString
  }
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

object Common {

  /** Run `df` into Spark's no-op sink and return its row count, observed
    * on the same job (no second pass). */
  def noopCount(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Per-code mismatches between an expected and an actual count map. */
  def diffCounts(what: String, expected: Map[String, Long], actual: Map[String, Long]): Seq[String] =
    (expected.keySet ++ actual.keySet).toSeq.sorted.flatMap { code =>
      val e = expected.getOrElse(code, 0L)
      val a = actual.getOrElse(code, 0L)
      if (e == a) None else Some(s"$what: $code expected $e, got $a")
    }

  def expect(what: String, expected: Long, actual: Long): Seq[String] =
    if (expected == actual) Nil else Seq(s"$what: expected $expected, got $actual")

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

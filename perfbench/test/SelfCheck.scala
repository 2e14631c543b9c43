package perfbench

import java.io.File

import scala.io.Source

/** Tiny-size self-check of the generators' expected outputs:
  *  1. the closed forms agree with a plain recount of the generated data
  *     (table: per-class predicates over the collected rows; resources: the
  *     written files read back);
  *  2. every workload's operations and probes, run through graft at a tiny
  *     size, produce exactly the expected outputs.
  * Run: python3 perfbench/run.py --selftest */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val work = new File(args.sliding(2, 2).collectFirst { case Array("--work", v) => v }.get)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(what: String)(errs: => Seq[String]): Unit = {
      val e = scala.util.Try(errs).fold(t => Seq(s"threw $t"), identity)
      println(s"${if (e.isEmpty) "ok  " else "FAIL"} $what")
      e.foreach(x => println(s"     $x"))
      failures ++= e.map(what + ": " + _)
    }
    val spark = Main.session(2, work)
    val seeds = Seq(1L, 7L)

    for (seed <- seeds) {
      val resDir = new File(work, s"res-$seed")
      val resources = Resources.generate(resDir, seed, count = 16, maxRows = 400, maxXlsxRows = 200)
      check(s"resources seed $seed: expected counts match the written files") {
        resources.filterNot(_.xlsx).flatMap { r =>
          val lines = Source.fromFile(r.path).getLines().toIndexedSeq
          val header = lines.head.split(",", -1).toIndexedSeq
          val grid = lines.tail.map(_.split(",", -1).toIndexedSeq)
          val schema = r.schemaJson
          val recount = Resources.expectedCounts(grid, header,
            schema.contains(Resources.NamePattern), schema.contains("\"enum\""), schema.contains("\"minimum\""))
          Common.diffCounts(new File(r.path).getName, r.expected, recount)
        }
      }

      val layout = TableLayout(20000, seed)
      check(s"table seed $seed: closed form matches a recount of the rows") {
        val rows = layout.frame(spark, 4).collect()
        val n = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        rows.foreach { r =>
          if (r.getInt(2) < 1) n("minimum-constraint") += 1
          if (r.getInt(2) > 16384) n("maximum-constraint") += 1
          if (r.getInt(3) < 1) n("minimum-constraint") += 1
          if (r.getString(5).isEmpty) n("required-constraint") += 1
          if (r.getString(5).length > 200) n("maximum-length-constraint") += 1
          if (!r.getString(1).matches("img_[0-9]{12}")) n("pattern-constraint") += 1
          if (!Set("png", "jpeg", "gif")(r.getString(4))) n("foreign-key") += 1
        }
        def dups(xs: Seq[Any]) = xs.size - xs.distinct.size.toLong
        n("unique-constraint") = dups(rows.map(_.getString(1)).toSeq) + dups(rows.map(_.getLong(6)).toSeq)
        Common.diffCounts("table", layout.expected, n.toMap)
      }

      val corpus = Corpus.generate(600, seed)
      check(s"curation seed $seed: survivors are a subset of the corpus") {
        val ids = corpus.docs.map(_._1).toSet
        if (corpus.survivors.subsetOf(ids) && corpus.survivors.nonEmpty && corpus.pairs > 0) Nil
        else Seq(s"${corpus.survivors.size} survivors, ${corpus.pairs} pairs")
      }

      val traced = new Tracer(true)
      def runAll(name: String, p: Prepared, ops: Int): Unit = check(s"$name seed $seed: outputs through graft") {
        (0 until ops).flatMap { i =>
          traced.op = i
          p.op(i, Tracer.off).check() ++ p.probes(i, traced)
        }
      }
      runAll("resources", Resources.loopOver(spark, resources), resources.size)
      runAll("table", Table.prepare(spark, new File(work, s"table-$seed"), seed, 20000, 800), 1)
      runAll("curation", Curation.prepare(spark, new File(work, s"cur-$seed"), seed, 600), 1)
    }
    spark.stop()
    println(if (failures.isEmpty) "selftest: all checks passed" else s"selftest: ${failures.size} failures")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}

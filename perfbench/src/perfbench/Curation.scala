package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.stats.{Packing, Sampling}
import graft.text.{CurationPipeline, TextOps}

/** A generated web-text corpus with planted clusters, and the survivor set
  * `CurationPipeline.run` must return for it under single-row bands.
  *
  * Every kept body has a stop word at each fourth token (so no body fails
  * the stop-word rule), 45–70 tokens and no PII. Planted groups:
  *  - dropped by the verdicts: too-short, PII and stop-word-free documents;
  *  - near-dup clusters: one body, each further member with one word
  *    replaced (pairwise 3-shingle Jaccard ≥ 0.73) — one survivor, the
  *    smallest id;
  *  - reflowed clusters: the same words broken into lines at different
  *    places, so line dedup keeps them and their shingle sets are identical;
  *  - exact clusters: byte-identical copies. Line dedup empties every copy
  *    but the first, and the emptied documents (identical empty shingle
  *    sets) form one component, which keeps its smallest id;
  *  - a hot boilerplate line shared by 30% of the single documents (one hot
  *    key in the line-dedup shuffle).
  * The per-language cap keeps the `quota` smallest (hash(id), id) of each
  * language, with the pipeline's default hash. */
final case class Corpus(
    docs: IndexedSeq[(Long, String, String)],
    survivors: Set[Long],
    pairs: Long,
    quota: Int
)

object Corpus {
  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es")
  val Footer = "please share this page with your friends and family today"

  def hash(id: Long): Long = java.lang.Math.floorMod(id * 2654435761L, 4294967296L)

  def generate(docs: Int, seed: Long): Corpus = {
    val rng = new Rng(Rng.mix(seed ^ 0x5eedL))
    val stop = TextOps.defaultStopwords.toIndexedSeq
    val vocab = Iterator.continually(rng.word(3, 9)).filterNot(stop.contains).take(3000).toIndexedSeq
    def body(len: Int): IndexedSeq[String] =
      (0 until len).map(j => if (j % 4 == 0) rng.pick(stop) else rng.pick(vocab))
    def bodyLen = 45 + rng.nextInt(26)
    def lines(words: IndexedSeq[String], breaks: Seq[Int]): String =
      (0 +: breaks :+ words.size).sliding(2).map { case Seq(a, b) => words.slice(a, b).mkString(" ") }.mkString("\n")

    // documents in generation order; cluster -1 = none
    val texts = mutable.ArrayBuffer.empty[String]
    val kindOf = mutable.ArrayBuffer.empty[String]
    val clusterOf = mutable.ArrayBuffer.empty[Int]
    var clusters = 0
    def add(text: String, kind: String, cluster: Int): Unit = {
      texts += text; kindOf += kind; clusterOf += cluster
    }
    while (texts.size < docs) {
      val u = rng.nextDouble()
      if (u < 0.03) add(body(10 + rng.nextInt(11)).mkString(" "), "short", -1)
      else if (u < 0.05) add(body(bodyLen).mkString(" ") + s" contact ${rng.word(4, 8)}@example.com", "pii", -1)
      else if (u < 0.07) add((0 until bodyLen).map(_ => rng.pick(vocab)).mkString(" "), "nostop", -1)
      else if (u < 0.11) {
        val b = body(bodyLen)
        val size = 2 + rng.nextInt(4)
        // member m replaces the non-stop word at position 6m - 3 (≥ 6 apart)
        (0 until size).foreach { m =>
          val words = if (m == 0) b else {
            val p = 6 * m - 3
            b.updated(p, Iterator.continually(rng.pick(vocab)).find(_ != b(p)).get)
          }
          add(words.mkString(" "), "near", clusters)
        }
        clusters += 1
      } else if (u < 0.13) {
        val b = body(bodyLen)
        (0 until 2 + rng.nextInt(3)).foreach(c => add(lines(b, Seq(8 + 6 * c)), "reflow", clusters))
        clusters += 1
      } else if (u < 0.15) {
        val text = body(bodyLen).mkString(" ")
        (0 until 2 + rng.nextInt(3)).foreach(_ => add(text, "exact", clusters))
        clusters += 1
      } else {
        val b = body(bodyLen)
        val breaks = (1 until 1 + rng.nextInt(3)).map(k => k * b.size / 3)
        add(lines(b, breaks) + (if (rng.chance(0.3)) "\n" + Footer else ""), "single", -1)
      }
    }
    val n = texts.size
    val base = 1000L + java.lang.Long.remainderUnsigned(Rng.mix(seed + 7), 1000000L)
    val ids = rng.shuffle((0 until n).map(base + _))
    val langs = (0 until n).map(_ => rng.pick(Langs))

    // stage 1-3: which ids stay after the verdicts, line dedup and components
    val kept = (0 until n).filterNot(i => Set("short", "pii", "nostop")(kindOf(i)))
    val byCluster = kept.filter(clusterOf(_) >= 0).groupBy(clusterOf(_))
    val emptied = byCluster.values.filter(m => kindOf(m.head) == "exact")
      .flatMap(m => m.map(ids).sorted.tail).toSeq
    val keepers = kept.filter(clusterOf(_) < 0).map(ids) ++
      byCluster.values.map(m => m.map(ids).min) ++ emptied.minOption
    def choose2(c: Long) = c * (c - 1) / 2
    val pairs = byCluster.values.filter(m => kindOf(m.head) != "exact").map(m => choose2(m.size.toLong)).sum +
      choose2(emptied.size.toLong)

    // stage 4: per-language cap
    val langOf = (0 until n).map(i => ids(i) -> langs(i)).toMap
    val perLang = keepers.groupBy(langOf)
    val quota = math.max(1, (keepers.size * 0.85 / Langs.size).toInt)
    val survivors = perLang.values.flatMap(_.sortBy(id => (hash(id), id)).take(quota)).toSet
    Corpus((0 until n).map(i => (ids(i), langs(i), texts(i))), survivors, pairs, quota)
  }
}

/** The curation pipeline with the q74 call shape (32 hashes in 32
  * single-row bands, threshold 0.5, token budget 500). */
object Curation extends Workload {
  val name = "curation"
  val warmupOps = 1
  val minOps = 2
  val Docs = 700
  val Budget = 500L

  def prepare(spark: SparkSession, dir: File, seed: Long): Prepared = prepare(spark, dir, seed, Docs)

  def prepare(spark: SparkSession, dir: File, seed: Long, docs: Int): Prepared = {
    val corpus = Corpus.generate(docs, seed)
    val path = new File(dir, "corpus").getPath
    spark.createDataFrame(corpus.docs).toDF("doc_id", "lang", "text")
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .write.mode("overwrite").parquet(path)
    new Pass(spark, corpus, path)
  }

  private final class Pass(spark: SparkSession, corpus: Corpus, path: String) extends Prepared {
    private val cut: DataFrame => DataFrame = _.localCheckpoint(true)
    private val hash: Column => Column = c => pmod(c * lit(2654435761L), lit(4294967296L))

    def op(i: Int, t: Tracer): Done = {
      val docs = t.span("sources.read")(spark.read.parquet(path))
      val out = t.span("text.pipeline") {
        CurationPipeline.run(docs, col("text"), col("doc_id"), col("lang"), quota = corpus.quota,
          budget = Budget, bands = 32).select("id", "bin").collect()
      }
      Done(corpus.docs.size.toLong, () => {
        val ids = out.map(_.getLong(0))
        val missing = (corpus.survivors -- ids).size
        val extra = (ids.toSet -- corpus.survivors).size
        Common.expect("survivors", corpus.survivors.size.toLong, ids.length.toLong) ++
          (if (missing + extra == 0) Nil else Seq(s"survivor set: $missing missing, $extra unexpected")) ++
          (if (out.forall(r => !r.isNullAt(1) && r.getLong(1) >= 0)) Nil else Seq("survivor without a bin"))
      })
    }

    /** The pipeline's stages called one by one (as `CurationPipeline.survivors`
      * chains them), each cut eagerly so its span holds its own work. */
    override def probes(i: Int, t: Tracer): Seq[String] = {
      val stage0 = cut(spark.read.parquet(path)
        .select(col("doc_id").cast("long").as("id"), col("text"), col("lang").as("_st")))
      val stage1 = t.span("text.verdicts") {
        val flagged = TextOps.curationVerdicts(stage0, col("text"), col("id")).select(col("doc_id").as("id"))
        cut(stage0.join(flagged, Seq("id"), "left_anti"))
      }
      val stage2 = t.span("dedup.lines") {
        cut(Dedup.dedupLines(stage1, col("text"), col("id")).join(stage1.select(col("id"), col("_st")), Seq("id")))
      }
      val (pairs, pairCount) = t.span("dedup.minhash_pairs") {
        val p = cut(Dedup.minHashPairs(stage2, col("text"), col("id"), bands = 32, threshold = 0.5, truncate = cut))
        (p, p.count())
      }
      val stage3 = t.span("dedup.components") {
        val keepers = Dedup.components(stage2, col("id"), pairs, col("id_a"), col("id_b"), truncate = cut)
          .filter(col("id") === col("comp")).select(col("id"))
        cut(stage2.join(keepers, Seq("id"), "left_semi"))
      }
      val kept = t.span("stats.quota") {
        cut(Sampling.quotaSample(stage3, col("_st"), hash(col("id")), col("id"), corpus.quota))
      }
      val bins = t.span("stats.packing") {
        Packing.assignBins(kept, col("id"), col("id"), TextOps.tokenCount(col("text")), Budget).count()
      }
      t.count("dedup.pairs", pairCount.toDouble)
      t.count("dedup.survivors", bins.toDouble)
      Common.expect("near-dup pairs", corpus.pairs, pairCount) ++
        Common.expect("staged survivors", corpus.survivors.size.toLong, bins)
    }
  }
}

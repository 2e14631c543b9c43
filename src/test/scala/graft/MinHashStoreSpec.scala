package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, MinHashStore}
import graft.report.PipelineWarnings

/** Incremental MinHash store: batch screening against a persisted corpus
  * index must equal the full-corpus pair set restricted to batch-touching
  * pairs, at every bucket regime. */
class MinHashStoreSpec extends SparkSpec {
  import spark.implicits._

  // corpus with exact dups, near dups, and distinct docs; ids chosen so the
  // even/odd split puts dup partners on both sides
  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
  private def allDocs = (
    (1L to 20L).map(i => (i, s"$base extra$i tail$i")) ++      // near-dup family
      Seq(
        (30L, "the quick brown fox jumps over the lazy dog"),  // exact pair 30/31
        (31L, "the quick brown fox jumps over the lazy dog"),
        (32L, "a completely different sentence about spark engines"),
        (33L, "yet another unrelated document body entirely here")
      )
  ).toDF("doc_id", "text")

  private def split(df: org.apache.spark.sql.DataFrame) =
    (df.filter(col("doc_id") % 2 === 0), df.filter(col("doc_id") % 2 === 1))

  private val docIds = (1L to 20L) ++ (30L to 33L)

  /** Batch id sets for the equality tests: the even/odd split plus seeded
    * random store/batch splits (both sides non-empty). */
  private val batchSplits: Seq[Set[Long]] = docIds.filter(_ % 2 == 1).toSet +:
    Seq(7L, 11L).map { seed =>
      val r = new scala.util.Random(seed)
      val batch = docIds.filter(_ => r.nextDouble() < 0.4).toSet
      if (batch.isEmpty) Set(docIds.head) else if (batch.size == docIds.size) batch - docIds.head else batch
    }

  private def splitBy(df: org.apache.spark.sql.DataFrame, batch: Set[Long]) = {
    val inBatch = col("doc_id").isin(batch.toSeq: _*)
    (df.filter(!inBatch), df.filter(inBatch))
  }

  test("incremental probe equals the full-corpus pair set restricted to batch-touching pairs") {
    val full = Dedup
      .minHashPairs(allDocs, col("text"), col("doc_id"), threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    for (batchIds <- batchSplits) {
      val (corpus, batch) = splitBy(allDocs, batchIds)
      val path = Files.createTempDirectory("graft_mhstore").toString + "/store"
      MinHashStore.write(corpus, col("text"), col("doc_id"), path, bands = 8)

      val got = MinHashStore
        .minHashPairsIncremental(spark, batch, col("text"), col("doc_id"), path, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

      val expected = full.filter(p => batchIds(p._1) || batchIds(p._2))
      assert(got == expected, s"batch=${batchIds.toSeq.sorted}")
      assert(expected.size < full.size, "fixture must also have corpus-only pairs the probe excludes")
      if (batchIds == batchSplits.head)
        assert(got.exists(p => p._1 == 30L && p._2 == 31L && p._3 == 1.0), "cross-split exact dup must surface")
    }
  }

  test("incremental probe equality holds in the hot-bucket regime (maxBucket=1, sample on)") {
    val full = Dedup
      .minHashPairs(allDocs, col("text"), col("doc_id"), threshold = 0.3, maxBucket = 1, hotSample = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    for (batchIds <- batchSplits) {
      val (corpus, batch) = splitBy(allDocs, batchIds)
      val path = Files.createTempDirectory("graft_mhstore_hot").toString + "/store"
      MinHashStore.write(corpus, col("text"), col("doc_id"), path, bands = 8)
      val pw = PipelineWarnings.register(spark)
      try {
        val pairs = MinHashStore.minHashPairsIncremental(spark, batch, col("text"), col("doc_id"), path,
          threshold = 0.3, maxBucket = 1, hotSample = 30)
        val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
        assert(got == full.filter(p => batchIds(p._1) || batchIds(p._2)), s"batch=${batchIds.toSeq.sorted}")
        // the narrowing is live, so both beacons ride the probe's own query
        val observed = pairs.queryExecution.observedMetrics
        assert(observed.get("graft.minhash.hot").exists(_.getLong(0) > 0), s"hot beacon missing: $observed")
        val recall = observed.get("graft.minhash.hotrecall")
        assert(recall.exists(_.getLong(1) > 0), s"hotrecall beacon missing: $observed")
        // ... and PipelineWarnings renders them (a recall line only when the
        // sample recovered something)
        val recovered = recall.get.getLong(0)
        val warnings = pw.await(minBeacons = 2)
        assert(warnings.exists(_.contains("hot-bucket narrowing was live")), s"warnings: $warnings")
        val raw = pw.values("graft.minhash.hotrecall")
        assert(raw.contains(Seq(recovered, recall.get.getLong(1))), s"raw hotrecall $raw vs observed $recall")
        assert(warnings.exists(_.contains(s"sample recovered $recovered verified pair")) == (recovered > 0),
          s"recovered=$recovered warnings: $warnings")
      } finally pw.close()
    }
  }

  test("append: new shingle sets extend the index, duplicate sets only add members") {
    val (corpus, batch) = split(allDocs)
    val path = Files.createTempDirectory("graft_mhstore_app").toString + "/store"
    MinHashStore.write(corpus, col("text"), col("doc_id"), path)
    MinHashStore.append(spark, batch, col("text"), col("doc_id"), path)

    // reps stay one-per-distinct-set across both writes
    val reps = spark.read.parquet(s"$path/reps")
    assert(reps.select("_shkey").distinct().count() == reps.count())
    val memberCount = spark.read.parquet(s"$path/members").count()
    assert(memberCount == 24L, s"every doc from both writes is a member, got $memberCount")
    // 30 and 31 share one set: 24 members, 23 distinct sets
    assert(reps.count() == 23L)

    // a second batch of copies now matches docs from BOTH prior writes
    val batch2 = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, s"$base extra3 tail3")
    ).toDF("doc_id", "text")
    val got = MinHashStore
      .minHashPairsIncremental(spark, batch2, col("text"), col("doc_id"), path, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(got.contains((30L, 100L, 1.0)) && got.contains((31L, 100L, 1.0)))
    assert(got.contains((3L, 101L, 1.0)), "identical set appended from batch 1 must match batch 2")
  }

  test("stored geometry governs the probe (meta round trip)") {
    // a store written with non-default geometry (2-word shingles, 16 hashes,
    // 4 bands): the probe must band with the STORED geometry or its hashes
    // would never match the store's — equality with a full run at that same
    // geometry proves the meta round trip end-to-end
    val (corpus, batch) = split(allDocs)
    val path = Files.createTempDirectory("graft_mhstore_meta").toString + "/store"
    MinHashStore.write(corpus, col("text"), col("doc_id"), path, shingleWords = 2, numHashes = 16, bands = 4)
    val got = MinHashStore
      .minHashPairsIncremental(spark, batch, col("text"), col("doc_id"), path, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val full = Dedup
      .minHashPairs(allDocs, col("text"), col("doc_id"), shingleWords = 2, numHashes = 16, bands = 4, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(got == full.filter(p => p._1 % 2 == 1 || p._2 % 2 == 1))
    assert(got.nonEmpty)
  }
}

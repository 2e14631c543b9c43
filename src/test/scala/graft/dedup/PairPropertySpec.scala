package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean

import graft.SparkSpec
import graft.text.TextOps

/** Differential properties for the identical-key pair operators: each one
  * is compared with an in-test brute force over small random inputs drawn
  * from tiny pools, so most rows have exact duplicates (the collapse path)
  * and near duplicates (the banded / blocked path). Inputs are spread over
  * 1-4 partitions; the scalacheck seed is fixed so a failure reproduces. */
class PairPropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(trials: Int)(prop: Prop): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(trials)
      .withInitialSeed(20261017L)
      .withWorkers(1)
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  private val parts = Gen.choose(1, 4)
  private val truncates: Gen[DataFrame => DataFrame] =
    Gen.oneOf(Seq[DataFrame => DataFrame](_.localCheckpoint(true), identity))

  private def ids(n: Int): Gen[Seq[Long]] = Gen.pick(n, 1L to 200L).map(_.toSeq)

  /** 2-20 texts from three base sentences: verbatim copies, one-word edits
    * and truncations, so identical, near and unrelated shingle sets mix. */
  private val texts: Gen[Seq[String]] = {
    val vocab = Seq("red", "green", "blue", "fox", "dog", "cat", "runs", "jumps", "over", "under")
    val sentence = Gen.choose(3, 8).flatMap(Gen.listOfN(_, Gen.oneOf(vocab)))
    for {
      n <- Gen.choose(2, 20)
      bases <- Gen.listOfN(3, sentence)
      rows <- Gen.listOfN(n, for {
        b <- Gen.oneOf(bases)
        edit <- Gen.frequency(3 -> 0, 2 -> 1, 1 -> 2)
        at <- Gen.choose(0, b.length - 1)
        w <- Gen.oneOf(vocab)
      } yield edit match {
        case 0 => b
        case 1 => b.updated(at, w)
        case _ => b.take(at + 1)
      })
    } yield rows.map(_.mkString(" "))
  }

  private def triples(df: DataFrame): Seq[(Long, Long, Any)] =
    df.collect().map((r: Row) => (r.getLong(0), r.getLong(1), r.get(2))).toSeq.sortBy(t => (t._1, t._2))

  private def shingles(rows: Seq[(Long, String)]): Map[Long, Seq[Long]] =
    rows.toDF("id", "text")
      .select(col("id"), TextOps.wordShingleHashes(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def allPairs[A](xs: Seq[A]): Seq[(A, A)] =
    for (i <- xs.indices; j <- (i + 1) until xs.size) yield (xs(i), xs(j))

  test("hammingPairs equals brute force at every maxBucket and band count") {
    val gen = for {
      n <- Gen.choose(2, 24)
      pool <- Gen.listOfN(3, Gen.choose(Long.MinValue, Long.MaxValue))
      sigs <- Gen.listOfN(n, for {
        b <- Gen.oneOf(pool)
        k <- Gen.frequency(3 -> 0, 2 -> 1, 1 -> 2, 1 -> 3)
        bits <- Gen.listOfN(k, Gen.choose(0, 63))
      } yield bits.foldLeft(b)((s, i) => s ^ (1L << i)))
      id <- ids(n)
      maxH <- Gen.oneOf(1, 3)
      p <- parts
      trunc <- truncates
    } yield (id.zip(sigs), maxH, p, trunc)
    check(3)(Prop.forAllNoShrink(gen) { case (rows, maxH, p, trunc) =>
      val df = spark.sparkContext.parallelize(rows, p).toDF("id", "sig")
      val expected = allPairs(rows).flatMap { case ((ia, a), (ib, b)) =>
        val h = java.lang.Long.bitCount(a ^ b)
        if (h <= maxH) Some((math.min(ia, ib), math.max(ia, ib), h)) else None
      }.sortBy(t => (t._1, t._2))
      (for (bands <- Seq(maxH + 1, 8); cap <- Seq(1, 2, 10000)) yield {
        val got = triples(Dedup.hammingPairs(df, col("sig"), col("id"), maxH, bands, cap, trunc))
        (got == expected) :| s"bands=$bands maxBucket=$cap rows=$rows"
      }).reduce(_ && _)
    })
  }

  test("ngramJaccardPairs equals brute-force jaccardLong within each block") {
    val gen = for {
      ts <- texts
      id <- ids(ts.size)
      blk <- Gen.listOfN(ts.size, Gen.choose(1, 2))
      thr <- Gen.oneOf(0.3, 0.5, 0.8)
      p <- parts
      trunc <- truncates
    } yield (id.zip(ts).zip(blk).map { case ((i, t), b) => (i, t, b) }, thr, p, trunc)
    check(6)(Prop.forAllNoShrink(gen) { case (rows, thr, p, trunc) =>
      val df = spark.sparkContext.parallelize(rows, p).toDF("id", "text", "blk")
      val sh = shingles(rows.map(r => (r._1, r._2)))
      val expected = allPairs(rows).flatMap { case ((ia, _, ba), (ib, _, bb)) =>
        val j = Dedup.jaccardLong(sh(ia), sh(ib))
        if (ba == bb && j >= thr) Some((math.min(ia, ib), math.max(ia, ib), j)) else None
      }.sortBy(t => (t._1, t._2))
      val got = triples(Dedup.ngramJaccardPairs(df, col("text"), col("id"), col("blk"),
        threshold = thr, truncate = trunc))
      (got == expected) :| s"rows=$rows"
    })
  }

  test("embeddingCosinePairs equals brute-force cosine within each block") {
    // small-integer components: every dot and squared norm is an exact
    // integer, so both sides compute bit-identical IEEE cosines
    val vec = Gen.listOfN(3, Gen.choose(-2, 2).map(_.toDouble))
    val gen = for {
      n <- Gen.choose(2, 20)
      pool <- Gen.listOfN(4, vec)
      vs <- Gen.listOfN(n, for {
        v <- Gen.oneOf(pool)
        k <- Gen.frequency(3 -> 1.0, 1 -> 2.0)
      } yield v.map(_ * k))
      id <- ids(n)
      blk <- Gen.listOfN(n, Gen.choose(1, 2))
      thr <- Gen.oneOf(0.5, 0.9)
      p <- parts
      trunc <- truncates
    } yield (id.zip(vs).zip(blk).map { case ((i, v), b) => (i, v, b) }, thr, p, trunc)
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map(t => t._1 * t._2).sum
    check(6)(Prop.forAllNoShrink(gen) { case (rows, thr, p, trunc) =>
      val df = spark.sparkContext.parallelize(rows, p).toDF("id", "v", "blk")
      val expected = allPairs(rows).flatMap { case ((ia, va, ba), (ib, vb, bb)) =>
        val c = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
        if (ba == bb && c >= thr) Some((math.min(ia, ib), math.max(ia, ib), c)) else None
      }.sortBy(t => (t._1, t._2))
      val got = triples(Dedup.embeddingCosinePairs(df, col("v"), col("id"), col("blk"),
        threshold = thr, truncate = trunc))
      (got == expected) :| s"rows=$rows"
    })
  }

  test("minHashPairs is a subset of brute force at any maxBucket; single-row bands without a hot bucket equal it") {
    val gen = for {
      ts <- texts
      id <- ids(ts.size)
      numHashes <- Gen.oneOf(8, 16)
      bands <- Gen.oneOf(2, 4, 8)
      thr <- Gen.oneOf(0.3, 0.5)
      p <- parts
      trunc <- truncates
    } yield (id.zip(ts), numHashes, bands, thr, p, trunc)
    check(5)(Prop.forAllNoShrink(gen) { case (rows, numHashes, bands, thr, p, trunc) =>
      val df = spark.sparkContext.parallelize(rows, p).toDF("id", "text")
      val sh = shingles(rows)
      val sigs = rows.toDF("id", "text")
        .select(col("id"), Dedup.minhashSignature(TextOps.wordShingleHashes(col("text"), 3), numHashes))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val verified = allPairs(rows.map(_._1)).flatMap { case (a, b) =>
        val j = Dedup.jaccardLong(sh(a), sh(b))
        if (j >= thr) Some((math.min(a, b), math.max(a, b), j)) else None
      }
      // single-row bands: a candidate pair agrees on at least one minhash
      val expected = verified.filter { case (a, b, _) =>
        sigs(a).indices.exists(i => sigs(a)(i) == sigs(b)(i))
      }.sortBy(t => (t._1, t._2))
      val exact = triples(Dedup.minHashPairs(df, col("text"), col("id"), numHashes = numHashes,
        bands = numHashes, threshold = thr, maxBucket = rows.size, truncate = trunc))
      val subsets = for (cap <- Seq(1, 2, 10000)) yield {
        val got = triples(Dedup.minHashPairs(df, col("text"), col("id"), numHashes = numHashes,
          bands = bands, threshold = thr, maxBucket = cap, truncate = trunc))
        got.toSet.subsetOf(verified.toSet[(Long, Long, Any)]) :| s"bands=$bands maxBucket=$cap rows=$rows"
      }
      ((exact == expected) :| s"single-row bands rows=$rows") && subsets.reduce(_ && _)
    })
  }
}

package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The plan shared by the identical-key pair operators
  * ([[Dedup.minHashPairs]], [[Dedup.hammingPairs]],
  * [[Dedup.ngramJaccardPairs]], [[Dedup.embeddingCosinePairs]] and
  * [[MinHashStore.minHashPairsIncremental]]):
  *
  *  1. collapse: rows with the same key (a hash of the shingle set, the
  *     signature itself, a hash of the vector) form one group; [[reps]]
  *     keeps its min-id row as the group's representative;
  *  2. candidates: representative pairs, either from equal band buckets
  *     ([[bandedCandidates]], with the caller's hot-bucket policy) or from
  *     all pairs within a block ([[blockedCandidates]]);
  *  3. verify: the caller scores the candidates and keeps the passing ones;
  *  4. expand: [[expand]] turns verified representative pairs into member
  *     pairs, adds the pairs inside each group (their score is fixed per
  *     group, no verification needed) and unions the two.
  *
  * Frames carry their group key as the columns `key.cols`: `key.name` plus
  * the `key.scope` columns both sides of a pair must share (the block of the
  * blocked operators; empty for the banded ones). Members are
  * `key.cols ++ _id`, one row per input row. Candidate and verified pairs
  * are `key.scope ++ (_ka, _kb)` with `_ka < _kb`.
  *
  * '''Eager construction.''' Building an operator's frame runs Spark jobs
  * before the frame is returned, so a caller that only wants the plan still
  * pays for them:
  *  - every `truncate` cut: the default `localCheckpoint(eager = true)` runs
  *    one job per cut (minHashPairs 3, hammingPairs 2, ngramJaccardPairs and
  *    embeddingCosinePairs 1, minHashPairsIncremental 4 over batch-sized
  *    frames); `truncate = identity` skips them;
  *  - the over-cap probe of [[bandedCandidates]] (minHashPairs, hammingPairs,
  *    minHashPairsIncremental): one aggregation over the banded rows decides
  *    whether the hot subtree is planned at all; it always runs, and for
  *    the incremental operator it reads the store's banded rows;
  *  - the block guard of [[blockedCandidates]] (ngramJaccardPairs,
  *    embeddingCosinePairs): one aggregation that raises before the
  *    quadratic self-join can start; `maxBlockDistinct = Int.MaxValue`
  *    skips it.
  * A lazy in-job check could not prune the plan or abort the blow-up these
  * exist for, which is why they run at construction.
  */
private[dedup] object PairCore {

  /** The group key of a collapsed frame: `name`, within `scope`. */
  final case class Key(scope: Seq[String], name: String) {
    def cols: Seq[String] = scope :+ name
  }

  /** Re-buckets the banded rows of over-cap buckets. Returns one frame per
    * path with the columns its bucket is keyed by; path `i` tags its
    * candidates with source bit `2 << i` (the cold path is bit 1). */
  type HotPolicy = DataFrame => Seq[(DataFrame, Seq[String])]

  /** Group sizes: `key.cols ++ _cnt`. */
  def groups(members: DataFrame, key: Key): DataFrame =
    members.groupBy(key.cols.map(col): _*).agg(count(lit(1)).as("_cnt"))

  /** Keys of the groups with more than one member. */
  def multiKeys(groups: DataFrame, key: Key): DataFrame =
    groups.filter(col("_cnt") > 1).select(key.cols.map(col): _*)

  /** One representative per key, the min-id row: `key.cols ++ _id ++ payload`. */
  def reps(base: DataFrame, key: Key, payload: Seq[String]): DataFrame = {
    val fields = "_id" +: payload
    base
      .groupBy(key.cols.map(col): _*)
      .agg(min_by(struct(fields.map(col): _*), col("_id")).as("_r"))
      .select(key.cols.map(col) ++ fields.map(f => col(s"_r.$f").as(f)): _*)
  }

  /** Representative pairs sharing a band bucket: `(_ka, _kb, _src)`, one row
    * per pair, `_src` the bit-or of the paths that produced it. Banding is
    * unscoped: `key` names the group-key column of `banded`, which also
    * holds the `bucket` columns and whatever `hot` reads.
    *
    * Buckets of 2..`maxBucket` rows pair up directly. Buckets over the cap
    * go through `hot`, but only if one exists: the probe is one cheap
    * aggregation over `banded`, and when it finds none the hot subtree,
    * whose inputs would be empty, is left out of the plan. */
  def bandedCandidates(banded: DataFrame, key: String, bucket: Seq[String], maxBucket: Int,
      hot: HotPolicy): DataFrame = {
    def pairsOf(bk: DataFrame, keys: Seq[String], src: Int): DataFrame =
      bk.select(keys.map(col) :+ col(key).as("_ka"): _*)
        .join(bk.select(keys.map(col) :+ col(key).as("_kb"): _*), keys)
        .filter(col("_ka") < col("_kb"))
        .select(col("_ka"), col("_kb"), lit(src).as("_src"))

    // counts/cold re-derive from `banded` per consumer: callers cut it, and
    // re-running one join over in-memory blocks is cheaper than more cuts
    val counts = banded.groupBy(bucket.map(col): _*).agg(count(lit(1)).as("_bc"))
    val cold = banded.join(counts.filter(col("_bc").between(2, maxBucket)), bucket)
    val over = counts.filter(col("_bc") > maxBucket)
    val hasHot = over.limit(1).count() > 0
    val paths = if (!hasHot) Nil else hot(banded.join(over, bucket))
    paths.zipWithIndex
      .foldLeft(pairsOf(cold, bucket, 1)) { case (acc, ((bk, keys), i)) =>
        acc.unionAll(pairsOf(bk, keys, 2 << i))
      }
      .groupBy(col("_ka"), col("_kb"))
      .agg(bit_or(col("_src")).as("_src"))
  }

  /** All representative pairs within each block, carrying each side's
    * `payload` as `<p>_a` / `<p>_b`. Fails fast (one aggregation over
    * `groups`) when a block holds more than `maxBlockDistinct` keys: the
    * pair volume is quadratic in that count, and `scalePath` names the
    * bucket-bounded operator to use instead. */
  def blockedCandidates(groups: DataFrame, reps: DataFrame, key: Key, payload: Seq[String],
      maxBlockDistinct: Int, op: String, units: String, scalePath: String): DataFrame = {
    if (maxBlockDistinct != Int.MaxValue) {
      val r = groups.groupBy(key.scope.map(col): _*).agg(count(lit(1)).as("_d")).agg(max(col("_d"))).head
      val worst = if (r.isNullAt(0)) 0L else r.getLong(0)
      require(worst <= maxBlockDistinct,
        s"$op: largest block holds $worst DISTINCT $units " +
          s"(> maxBlockDistinct=$maxBlockDistinct) - the all-pairs baseline is quadratic in that " +
          s"count; use $scalePath for corpora of this shape, or raise maxBlockDistinct explicitly")
    }
    def side(s: String): DataFrame =
      reps.select(key.scope.map(col) ++ (col(key.name).as(s"_k$s") +: payload.map(p => col(p).as(s"${p}_$s"))): _*)
    side("a").join(side("b"), key.scope).filter(col("_ka") < col("_kb"))
  }

  /** Member pairs `(id_a, id_b, <score>)`, `id_a < id_b`.
    *
    *  - `same`: `key.cols ++ <score>`, the groups whose members pair up with
    *    each other, and the score those pairs get;
    *  - `verified`: `key.scope ++ (_ka, _kb, <score>)`, the representative
    *    pairs that passed verification; each expands to every member pair
    *    of its two groups (members share their representative's key, so
    *    they share its score);
    *  - `tags`: member columns both sides carry as `<t>_a` / `<t>_b`, for
    *    `keep`, a predicate every output pair must satisfy;
    *  - `combine`: when set, aggregates the score of a pair reached twice.
    */
  def expand(members: DataFrame, key: Key, same: DataFrame, verified: DataFrame, score: String,
      combine: Option[Column => Column], tags: Seq[String] = Nil, keep: Column = lit(true)): DataFrame = {
    def tagged(s: String) = tags.map(t => col(t).as(s"${t}_$s"))

    val dup = members.join(same, key.cols)
    val samePairs = dup.select(key.cols.map(col) ++ Seq(col("_id").as("id_a"), col(score)) ++ tagged("a"): _*)
      .join(dup.select(key.cols.map(col) ++ (col("_id").as("id_b") +: tagged("b")): _*), key.cols)
      .filter(col("id_a") < col("id_b") && keep)
      .select(col("id_a"), col("id_b"), col(score))

    def side(s: String): DataFrame = members.select(key.scope.map(col) ++
      Seq(col(key.name).as(s"_k$s"), col("_id").as(s"_i$s")) ++ tagged(s): _*)
    val crossPairs = verified
      .join(side("a"), key.scope :+ "_ka")
      .join(side("b"), key.scope :+ "_kb")
      .filter(keep)
      .select(least(col("_ia"), col("_ib")).as("id_a"), greatest(col("_ia"), col("_ib")).as("id_b"), col(score))

    val all = samePairs.unionAll(crossPairs)
    combine.fold(all)(agg => all.groupBy(col("id_a"), col("id_b")).agg(agg(col(score)).as(score)))
  }
}

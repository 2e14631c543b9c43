package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.images.{ImageChecks, SyntheticImages}
import graft.runner.{ValidationConfig, ValidationRunner}
import graft.schema.{Field, FieldConstraints, TableSchema}

/** Ids [base, base + n) of `SyntheticImages.row` and the violations its
  * planting gives them: an id with id % 100 == 7 carries defect
  * (id / 100) % 7 — 0 width, 1 height, 2 format label (type-or-format-error),
  * 3 truncated bytes (missing-geometry), 4 empty caption (required),
  * 5 altered caption (custom-constraint), 6 the image_id of id - 100
  * (unique-constraint when that row is in range, and custom-constraint,
  * because the caption no longer matches the image_id). */
final case class ImageLayout(n: Long, seed: Long) {
  val base: Long = 100000L + java.lang.Long.remainderUnsigned(Rng.mix(seed), 1000000000L)
  private def defects: Seq[(Long, Long)] =
    (base until base + n).filter(_ % 100 == 7).map(id => id -> (id / 100) % 7)
  val expected: Map[String, Long] = {
    val byKind = defects.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }.withDefaultValue(0L)
    Map(
      "type-or-format-error" -> (byKind(0) + byKind(1) + byKind(2)),
      "missing-geometry" -> byKind(3),
      "required-constraint" -> byKind(4),
      "custom-constraint" -> (byKind(5) + byKind(6))
    ).filter(_._2 > 0)
  }
  val uniqueViolations: Long = defects.count { case (id, k) => k == 6 && id - 100 >= base }.toLong
  val captionCodes: Map[String, Long] = expected.filter { case (c, _) => c == "required-constraint" || c == "custom-constraint" }
}

/** The stored image+caption table with encoded bytes that the `table`
  * workload validates next to the metadata table: `ImageChecks.violations`
  * plus `unique` on image_id; decoding dominates its cost. */
object ImageTable {
  def write(spark: SparkSession, path: String, layout: ImageLayout): Unit = {
    import spark.implicits._
    val base = layout.base
    spark.range(base, base + layout.n, 1, spark.sparkContext.defaultParallelism * 4)
      .map { id =>
        val r = SyntheticImages.row(id)
        (id - base + 1, r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash)
      }
      .toDF("row_id", "image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .write.mode("overwrite").parquet(path)
  }

  def codeCounts(df: DataFrame): Map[String, Long] =
    df.groupBy("code").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private val uniqueSchema = TableSchema(Seq(Field("image_id", constraints = FieldConstraints(unique = true))))

  /** The violations of the stored table, checked against `layout`. */
  def validate(t: Tracer, stored: DataFrame, layout: ImageLayout): () => Seq[String] = {
    val codes = t.span("images.violations")(codeCounts(ImageChecks.violations(stored, col("row_id"))))
    val dups = t.span("checks.unique_images") {
      val meta = stored.drop("bytes").withColumnRenamed("row_id", "_rid")
      ValidationRunner.plan(meta, uniqueSchema, ValidationConfig(rowNumberCol = "_rid")).violations.count()
    }
    () => Common.diffCounts("image violations", layout.expected, codes) ++
      Common.expect("unique image_id of the images", layout.uniqueViolations, dups)
  }

  /** Decode alone and the caption checks alone. */
  def probes(t: Tracer, stored: DataFrame, layout: ImageLayout): Seq[String] = {
    t.span("images.decode")(Common.noopCount(ImageChecks.withDecoded(stored)))
    val caption = t.span("images.caption")(codeCounts(ImageChecks.captionViolations(stored, col("row_id"))))
    Common.diffCounts("caption violations", layout.captionCodes, caption)
  }
}

package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.checks.{ForeignKeyCheck, RowChecks, UniquenessCheck}
import graft.runner.{ValidationConfig, ValidationRunner}
import graft.schema.TableSchema

/** Layout of the stored image-metadata table and its planted defects.
  *
  * Row i (0-based) belongs to residue class r(i) = (i·step + offset) mod
  * 1000. `step` is coprime to 1000, so each class holds exactly n/1000 rows
  * (n is a multiple of 1000), and `step` is at least 20 away from 0 mod
  * 1000, so no two defective rows (classes 0–11) are adjacent. Class:
  *  0 w = -1 (minimum), 1 w = 20000 (maximum), 2 h = 0 (minimum),
  *  3 caption "" (required), 4 caption of 250 chars (maxLength),
  *  5 malformed image_id (pattern), 6 image_id of row i-1 (unique),
  *  7–9 phash = one hot value (unique), 10 phash from a skewed tail
  *  (unique), 11 fmt outside the dimension (foreign key).
  * phash is index·M + salt with M odd, a bijection on 64 bits: the index is
  * i for clean rows, n for the hot value and n + 1 + t for tail value t,
  * where a class-10 row takes t = ctz(i / 1000 + 1) (half of them share
  * t = 0, a quarter t = 1, …). So no two indices collide. */
final case class TableLayout(n: Long, seed: Long) {
  require(n % 1000 == 0, "n must be a multiple of 1000")
  val k: Long = n / 1000
  private val steps = Seq(37, 113, 271, 389, 457, 613, 743, 877)
  val step: Long = steps((Rng.mix(seed) & 7).toInt).toLong
  val offset: Long = java.lang.Long.remainderUnsigned(Rng.mix(seed + 1), 1000L)
  val idBase: Long = 1 + java.lang.Long.remainderUnsigned(Rng.mix(seed + 2), 100000000000L)
  val mul: Long = Rng.mix(seed + 3) | 1L
  val salt: Long = Rng.mix(seed + 4)

  def idOf(i: Column): Column = concat(lit("img_"), lpad((lit(idBase) + i).cast("string"), 12, "0"))

  def frame(spark: SparkSession, files: Int): DataFrame = {
    val i = col("id")
    val r = pmod(i * lit(step) + lit(offset), lit(1000L))
    val blk = i.divide(1000).cast("long") + 1
    spark.range(0, n, 1, files).select(
      (i + 1).as("_rid"),
      when(r === 5, concat(lit("bad_"), i.cast("string")))
        .when(r === 6, idOf(i - 1)).otherwise(idOf(i)).as("image_id"),
      when(r === 0, lit(-1)).when(r === 1, lit(20000))
        .otherwise(lit(24) + pmod(i, lit(5L)) * 8).cast("int").as("w"),
      when(r === 2, lit(0)).otherwise(lit(24) + pmod(i, lit(3L)) * 8).cast("int").as("h"),
      when(r === 11, lit("webp")).when(pmod(i, lit(2L)) === 0, lit("png")).otherwise(lit("jpeg")).as("fmt"),
      when(r === 3, lit("")).when(r === 4, lit("x" * 250))
        .otherwise(concat(lit("caption for image "), i.cast("string"))).as("caption"),
      (when(r.isin(7, 8, 9), lit(n))
        .when(r === 10, lit(n + 1) + bit_count(blk.bitwiseAND(-blk) - 1).cast("long"))
        .otherwise(i) * lit(mul) + lit(salt)).as("phash")
    )
  }

  // class 6 at i = 0 copies a row that does not exist
  val uniqueIdViolations: Long = k - (if (offset == 6) 1 else 0)
  val uniquePhashViolations: Long = {
    // tail groups: sizes c_t = #{b in 1..k : ctz(b) = t}
    val tailGroups = (1L to k).groupBy(b => java.lang.Long.numberOfTrailingZeros(b)).values.map(_.size.toLong)
    (3 * k - 1) + tailGroups.map(_ - 1).sum
  }
  val rowCodes: Map[String, Long] = Map(
    "minimum-constraint" -> 2 * k,
    "maximum-constraint" -> k,
    "required-constraint" -> k,
    "maximum-length-constraint" -> k,
    "pattern-constraint" -> k
  )
  val expected: Map[String, Long] = rowCodes ++ Map(
    "unique-constraint" -> (uniqueIdViolations + uniquePhashViolations),
    "foreign-key" -> k
  )
}

/** The north-star admission shape: a stored image-metadata table validated
  * through `ValidationRunner.run` to a full report, with `unique` on
  * image_id and on phash and a foreign key to a small dimension, then a
  * stored sample of the images themselves (bytes decoded and compared with
  * the declared w/h/fmt, captions, `unique` image_id). */
object Table extends Workload {
  val name = "table"
  val warmupOps = 1
  val minOps = 4
  val Rows = 200000L
  val Images = 1500L
  val Files = 16

  val SchemaJson: String =
    """{"fields": [
      |  {"name": "image_id", "type": "string", "constraints": {"required": true, "unique": true, "pattern": "img_[0-9]{12}"}},
      |  {"name": "w", "type": "integer", "constraints": {"minimum": 1, "maximum": 16384}},
      |  {"name": "h", "type": "integer", "constraints": {"minimum": 1, "maximum": 16384}},
      |  {"name": "fmt", "type": "string", "foreignKey": "formats:fmt"},
      |  {"name": "caption", "type": "string", "constraints": {"required": true, "maxLength": 200}},
      |  {"name": "phash", "type": "integer", "constraints": {"unique": true}}
      |]}""".stripMargin

  def prepare(spark: SparkSession, dir: File, seed: Long): Prepared = prepare(spark, dir, seed, Rows, Images)

  def prepare(spark: SparkSession, dir: File, seed: Long, rows: Long, images: Long): Prepared = {
    val layout = TableLayout(rows, seed)
    val path = new File(dir, "images_meta").getPath
    layout.frame(spark, Files).write.mode("overwrite").parquet(path)
    val dimPath = new File(dir, "formats").getPath
    spark.createDataFrame(Seq(Tuple1("png"), Tuple1("jpeg"), Tuple1("gif"))).toDF("fmt")
      .coalesce(1).write.mode("overwrite").parquet(dimPath)
    val imageLayout = ImageLayout(images, seed)
    val imagePath = new File(dir, "images").getPath
    ImageTable.write(spark, imagePath, imageLayout)
    new Pass(spark, layout, path, dimPath, imageLayout, imagePath)
  }

  private final class Pass(spark: SparkSession, layout: TableLayout, path: String, dimPath: String,
      imageLayout: ImageLayout, imagePath: String) extends Prepared {
    private def config(dim: DataFrame) =
      ValidationConfig(rowNumberCol = "_rid", dims = Map("formats" -> dim))
    private def parsed: TableSchema = TableSchema.parse(SchemaJson).fold(e => throw new IllegalStateException(e.message), identity)

    def op(i: Int, t: Tracer): Done = {
      val schema = t.span("schema.parse")(parsed)
      val (df, dim, stored) = t.span("sources.read") {
        (spark.read.parquet(path), spark.read.parquet(dimPath), spark.read.parquet(imagePath))
      }
      val (report, _) = t.span("runner.run")(ValidationRunner.run(df, schema, config(dim)))
      val json = t.span("report.to_json")(report.toJson)
      val imageCheck = ImageTable.validate(t, stored, imageLayout)
      Done(layout.n + imageLayout.n, () => {
        val table = report.tables.head
        val cap = graft.schema.ValidationOptions.default.errorLimitPerCode.getOrElse(Int.MaxValue).toLong
        val actual = table.errors.groupBy(_.code).map { case (c, v) => c -> v.size.toLong }
        Common.diffCounts("table report", layout.expected.map { case (c, v) => c -> math.min(v, cap) }, actual) ++
          Common.expect("table row count", layout.n, table.rowCount) ++
          (if (json.nonEmpty) Nil else Seq("empty report JSON")) ++
          imageCheck()
      })
    }

    override def probes(i: Int, t: Tracer): Seq[String] = {
      val df = spark.read.parquet(path)
      val dim = spark.read.parquet(dimPath)
      val schema = parsed
      val dataCols = df.columns.toSeq.filterNot(_ == "_rid")
      val rid = col("_rid")
      val all = t.span("runner.violations_noop") {
        Common.noopCount(ValidationRunner.plan(df, schema, config(dim)).violations)
      }
      val rowViolations = t.span("checks.row") {
        val compiled = RowChecks.compile(schema, StructType(dataCols.map(df.schema(_))), rid)
        Common.noopCount(RowChecks.violations(df, compiled, rid))
      }
      t.count("checks.row_violations", rowViolations.toDouble)
      val uniqueId = t.span("checks.unique") {
        Common.noopCount(UniquenessCheck.violations(df, dataCols, Seq("image_id"), rid, 1))
      }
      val uniqueHot = t.span("checks.unique_hot") {
        Common.noopCount(UniquenessCheck.violations(df, dataCols, Seq("phash"), rid, 6))
      }
      val fk = t.span("checks.fk") {
        Common.noopCount(ForeignKeyCheck.violations(df, dataCols, "fmt", 4, rid, dim, "fmt"))
      }
      Common.expect("uncapped violations", layout.expected.values.sum, all) ++
        Common.expect("row-check violations", layout.rowCodes.values.sum, rowViolations) ++
        Common.expect("unique image_id", layout.uniqueIdViolations, uniqueId) ++
        Common.expect("unique phash", layout.uniquePhashViolations, uniqueHot) ++
        Common.expect("foreign key", layout.k, fk) ++
        ImageTable.probes(t, spark.read.parquet(imagePath), imageLayout)
    }
  }
}

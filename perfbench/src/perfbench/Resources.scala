package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.checks.UniquenessCheck
import graft.runner.{ValidationConfig, ValidationRunner}
import graft.schema.TableSchema
import graft.sources.{TableSource, XlsxSource}

/** One uploaded resource: a CSV or XLSX file, its Table Schema descriptor
  * and the per-code violation counts its report must hold. */
final case class Resource(
    path: String,
    xlsx: Boolean,
    schemaJson: String,
    rows: Int,
    expected: Map[String, Long]
)

/** The reference's traffic: one synchronous validation per uploaded
  * resource, a closed loop with one client. An operation parses the
  * resource's schema, validates the file through `runCsv`/`runXlsx` and
  * renders the report JSON. Operation i validates resource i mod count.
  *
  * The cost shape is the same for every seed, so that runs of different
  * seeds are comparable: resource p has the row count of rank
  * ⌊frac(p·φ)·count⌋ on a log grid over [50, 5000] (XLSX: [50, 2000]), so
  * every prefix of the sequence spreads over the sizes; every 16th
  * resource is XLSX. Every schema has `required` and `unique` on id; the
  * seed draws the other constraints, the cells, the planted defects and the
  * bad headers. */
object Resources extends Workload {
  val name = "resources"
  val warmupOps = 2
  val minOps = 16

  val Header: IndexedSeq[String] = IndexedSeq("id", "name", "category", "amount", "code", "note")
  val Categories: IndexedSeq[String] = IndexedSeq("alpha", "beta", "gamma", "delta")
  val NamePattern = "[A-Z][a-z]+"
  val CodePattern = "[A-Z]{3}-[0-9]{4}"
  /** share of data rows that carry one planted defect */
  val DefectRate = 0.03

  def prepare(spark: SparkSession, dir: File, seed: Long): Prepared =
    loopOver(spark, generate(dir, seed))

  /** Operations cycling through `resources`. */
  def loopOver(spark: SparkSession, resources: IndexedSeq[Resource]): Prepared = new Loop(spark, resources)

  def generate(dir: File, seed: Long, count: Int = 160, maxRows: Int = 5000,
      maxXlsxRows: Int = 2000): IndexedSeq[Resource] = {
    dir.mkdirs()
    val phi = (math.sqrt(5) - 1) / 2
    (0 until count).map { p =>
      val xlsx = p % 32 == 7 || p % 32 == 24
      val rank = ((p * phi) % 1.0 * count).toInt
      val hi = if (xlsx) maxXlsxRows else maxRows
      val rows = math.round(50 * math.pow(hi / 50.0, rank.toDouble / (count - 1))).toInt
      val rng = new Rng(Rng.mix(seed * 1000003L + p))
      resource(new File(dir, f"res_$p%03d." + (if (xlsx) "xlsx" else "csv")).getPath, xlsx, rows, rng)
    }
  }

  private def resource(path: String, xlsx: Boolean, rows: Int, rng: Rng): Resource = {
    val pattern = rng.chance(0.7)
    val enumC = rng.chance(0.7)
    val range = rng.chance(0.7)
    val badHeader = !xlsx && rng.chance(0.1)

    // planted defects: 0 blank id, 1 repeated id, 2 non-integer id,
    // 3 lower-case name, 4 unknown category, 5 negative amount,
    // 6 amount over the maximum, 7 non-numeric amount, 8 malformed code,
    // 9 row missing its last cell, 10 row with an extra cell.
    // XLSX omits 0, 9 and 10 (sparse cells cannot express them).
    val kinds = if (xlsx) (1 to 8) else (0 to 10)
    var prevId = "1"
    val grid = (1 to rows).map { r =>
      var cells = IndexedSeq(
        r.toString,
        rng.word(1, 1).toUpperCase + rng.word(3, 8),
        rng.pick(Categories),
        s"${rng.nextInt(1001)}.${"%02d".format(rng.nextInt(100))}",
        s"${rng.word(3, 3).toUpperCase}-${"%04d".format(rng.nextInt(10000))}",
        rng.word(2, 10)
      )
      if (rng.chance(DefectRate)) rng.pick(kinds.toIndexedSeq) match {
        case 0  => cells = cells.updated(0, "")
        case 1  => cells = cells.updated(0, prevId)
        case 2  => cells = cells.updated(0, s"x$r")
        case 3  => cells = cells.updated(1, rng.word(3, 8))
        case 4  => cells = cells.updated(2, "omega")
        case 5  => cells = cells.updated(3, s"-${1 + rng.nextInt(99)}.50")
        case 6  => cells = cells.updated(3, s"${1001 + rng.nextInt(9000)}.25")
        case 7  => cells = cells.updated(3, "n/a")
        case 8  => cells = cells.updated(4, s"bad-${rng.word(2, 5)}")
        case 9  => cells = cells.init
        case _  => cells = cells :+ "extra"
      }
      prevId = cells(0)
      cells
    }

    val headers = if (badHeader) Header.updated(5, "notes") else Header
    if (xlsx) XlsxSource.writeXlsx(path, Seq("Sheet1" -> (headers +: grid)), useSharedStrings = rng.chance(0.5))
    else
      Files.write(new File(path).toPath,
        (headers +: grid).map(_.mkString(",")).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

    val constraints = (name: String) => name match {
      case "id" => Seq("\"required\": true", "\"unique\": true")
      case "name" => Seq("\"required\": true") ++ (if (pattern) Seq(s""""pattern": "$NamePattern"""") else Nil)
      case "category" if enumC => Seq(Categories.map("\"" + _ + "\"").mkString("\"enum\": [", ", ", "]"))
      case "amount" if range => Seq("\"minimum\": 0", "\"maximum\": 1000")
      case "code" if pattern => Seq(s""""pattern": "$CodePattern"""")
      case _ => Nil
    }
    val types = Map("id" -> "integer", "amount" -> "number").withDefaultValue("string")
    val schemaJson = Header.map { f =>
      s"""{"name": "$f", "type": "${types(f)}", "constraints": {${constraints(f).mkString(", ")}}}"""
    }.mkString("{\"fields\": [", ", ", "]}")

    Resource(path, xlsx, schemaJson, rows, expectedCounts(grid, headers, pattern, enumC, range))
  }

  /** The report a resource must produce, from the Table Schema rules stated
    * on the generated cells: row-level codes per cell, ragged rows from the
    * cell count, header codes from the header row. */
  def expectedCounts(grid: Seq[IndexedSeq[String]], headers: IndexedSeq[String],
      pattern: Boolean, enumC: Boolean, range: Boolean): Map[String, Long] = {
    val n = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def isInt(v: String) = v.matches("[+-]?\\d+")
    grid.foreach { c =>
      if (c.size < Header.size) n("missing-value") += 1
      if (c.size > Header.size) n("extra-value") += 1
      val Seq(id, nm, cat, amt, code) = c.take(5)
      if (id.isEmpty) n("required-constraint") += 1
      else if (!isInt(id)) n("type-or-format-error") += 1
      if (nm.isEmpty) n("required-constraint") += 1
      if (pattern && !nm.matches(NamePattern)) n("pattern-constraint") += 1
      if (enumC && !Categories.contains(cat)) n("enumerable-constraint") += 1
      amt.toDoubleOption match {
        case None => if (amt.nonEmpty) n("type-or-format-error") += 1
        case Some(v) =>
          if (range && v < 0) n("minimum-constraint") += 1
          if (range && v > 1000) n("maximum-constraint") += 1
      }
      if (pattern && !code.matches(CodePattern)) n("pattern-constraint") += 1
    }
    val ids = grid.map(_(0))
    n("unique-constraint") += ids.size - ids.distinct.size
    headers.zip(Header).foreach { case (h, f) =>
      if (h != f) { n("extra-header") += 1; n("missing-header") += 1 }
    }
    n.filter(_._2 > 0).toMap
  }

  private final class Loop(spark: SparkSession, resources: IndexedSeq[Resource]) extends Prepared {
    private def parsed(r: Resource): TableSchema = TableSchema.parse(r.schemaJson) match {
      case Right(s) => s
      case Left(e)  => throw new IllegalStateException(s"schema rejected: ${e.message}")
    }

    def op(i: Int, t: Tracer): Done = {
      val r = resources(Math.floorMod(i, resources.size))
      val schema = t.span("schema.parse")(parsed(r))
      val (report, _) = t.span("runner.run") {
        if (r.xlsx) ValidationRunner.runXlsx(spark, r.path, schema)
        else ValidationRunner.runCsv(spark, r.path, schema)
      }
      val json = t.span("report.to_json")(report.toJson)
      Done(r.rows, () => {
        val name = new File(r.path).getName
        val table = report.tables.headOption
        val actual = table.toSeq.flatMap(_.errors).groupBy(_.code).map { case (k, v) => k -> v.size.toLong }
        Common.diffCounts(name, r.expected, actual) ++
          Common.expect(s"$name row count", r.rows + 1L, table.map(_.rowCount).getOrElse(-1L)) ++
          (if (json.contains("\"error-count\"")) Nil else Seq("report JSON lacks error-count"))
      })
    }

    override def probes(i: Int, t: Tracer): Seq[String] = {
      val r = resources(Math.floorMod(i, resources.size))
      val parsedSource = t.span("sources.read") {
        if (r.xlsx) XlsxSource.readXlsx(spark, r.path) else TableSource.readCsv(spark, r.path)
      }
      val csv = parsedSource.getOrElse(throw new IllegalStateException(s"read failed: $parsedSource"))
      val cfg = ValidationConfig(rowNumberCol = "_row_number", source = r.path, headerInRowCount = true)
      val plan = t.span("runner.plan")(ValidationRunner.plan(csv.df, parsed(r), cfg))
      t.span("runner.physical_plan")(plan.violations.queryExecution.executedPlan)
      val dups = t.span("checks.unique") {
        Common.noopCount(UniquenessCheck.violations(csv.df, csv.headers, Seq("id"), col("_row_number"), 1))
      }
      Common.expect(s"${new File(r.path).getName} unique id", r.expected.getOrElse("unique-constraint", 0L), dups)
    }
  }
}

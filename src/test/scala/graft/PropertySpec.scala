package graft

import org.apache.spark.sql.functions._

import graft.runner.{Lineage, ValidationConfig, ValidationRunner}
import graft.schema._

/** Property-style invariants (SURVEY.md §5.6) over seed-generated random
  * tables: the engine's guarantees hold for arbitrary inputs, not just
  * fixtures. (Plain seeded generation — the scalatest/scalacheck bridge
  * artifact is not in the offline cache.) */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def fc = FieldConstraints()

  private def randomRows(seed: Long): List[(Long, Option[String], Double)] = {
    val r = new scala.util.Random(seed)
    val n = 5 + r.nextInt(40)
    (1 to n).map { i =>
      val s = if (r.nextDouble() < 0.2) None else Some(s"v${r.nextInt(8)}")
      (i.toLong + 1, s, r.nextInt(200).toDouble - 50)
    }.toList
  }

  test("violations(injected) == injected set for any random table") {
    for (seed <- 1L to 6L) {
      val rows = randomRows(seed)
      val df = rows.toDF("_rid", "s", "x")
      val schema = TableSchema(
        Seq(
          Field("s", constraints = fc.copy(required = true)),
          Field("x", "number", constraints = fc.copy(minimum = Some(0)))
        )
      )
      val got = ValidationRunner
        .plan(df, schema, ValidationConfig(rowNumberCol = "_rid", options = ValidationOptions(checks = Seq("schema"))))
        .violations
        .collect()
        .map(r => (r.getLong(1), r.getString(0)))
        .toSet
      val expected =
        rows.filter(_._2.isEmpty).map(r => (r._1, "required-constraint")).toSet ++
          rows.filter(_._3 < 0).map(r => (r._1, "minimum-constraint")).toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("report.valid <=> zero errors, status consistent, for any random table") {
    for (seed <- 10L to 14L) {
      val rows = randomRows(seed)
      val df = rows.toDF("_rid", "s", "x")
      val schema = TableSchema(Seq(Field("s", constraints = fc.copy(required = true))))
      val (report, status) = ValidationRunner.run(
        df, schema,
        ValidationConfig(rowNumberCol = "_rid", options = ValidationOptions(checks = Seq("schema")))
      )
      assert(report.valid == report.tables.head.errors.isEmpty, s"seed=$seed")
      assert(report.valid == (status == "success"), s"seed=$seed")
      assert(report.errorCount == report.tables.head.errors.size, s"seed=$seed")
    }
  }

  test("uniqueness violation count is partitioning-invariant and equals n - distinct") {
    for (seed <- 20L to 23L) {
      val rows = randomRows(seed)
      val schema = TableSchema(Seq(Field("s", constraints = fc.copy(unique = true))))
      val counts = Seq(1, 3, 7).map { p =>
        val df = rows.toDF("_rid", "s", "x").repartition(p)
        ValidationRunner
          .plan(df, schema, ValidationConfig(rowNumberCol = "_rid", options = ValidationOptions(checks = Seq("schema"))))
          .violations
          .count()
      }
      assert(counts.distinct.size == 1, s"seed=$seed: $counts")
      val nonNull = rows.flatMap(_._2)
      assert(counts.head == (nonNull.size - nonNull.distinct.size).toLong, s"seed=$seed")
    }
  }

  test("stable partition ids cover [0,P) for any P") {
    for (p <- Seq(1, 2, 7, 16, 63)) {
      val df = (1L to 200L).map(i => Tuple1(s"k$i")).toDF("k")
      val pids = df.select(Lineage.stablePartitionId(col("k"), p)).distinct().collect().map(_.getInt(0))
      assert(pids.forall(x => x >= 0 && x < p), s"P=$p")
    }
  }

  test("column reorder mapping is a permutation pointing at the same headers") {
    for (seed <- 30L to 34L) {
      val r = new scala.util.Random(seed)
      val headers = r.shuffle(('a' to 'h').map(_.toString).toList).take(4 + r.nextInt(4))
      val schema = TableSchema(r.shuffle(headers).take(2).map(Field(_)))
      val (ordered, mapping) = graft.report.PostProcess.schemaOrder(headers, schema)
      assert(ordered.sorted == headers.sorted, s"seed=$seed")
      assert(mapping.keys.toSeq.sorted == (1 to headers.size), s"seed=$seed")
      assert(mapping.values.toSeq.sorted == (1 to headers.size), s"seed=$seed")
      mapping.foreach { case (newPos, origPos) =>
        assert(ordered(newPos - 1) == headers(origPos - 1), s"seed=$seed")
      }
    }
  }

  test("salted uniqueness is bit-identical to unsalted under extreme skew") {
    // 2000 rows, only 3 distinct keys = every row in a hot group
    val rows = (1L to 2000L).map(i => (i + 1, s"k${i % 3}")).toList
    val df = rows.toDF("_rid", "s")
    val schema = TableSchema(Seq(Field("s", constraints = fc.copy(unique = true))))
    def run(salts: Int) = ValidationRunner
      .plan(
        df, schema,
        ValidationConfig(rowNumberCol = "_rid", options = ValidationOptions(checks = Seq("schema")), uniquenessSalts = salts)
      )
      .violations
      .collect()
      .map(r => (r.getLong(1), r.getString(3)))
      .sortBy(_._1)
      .toSeq
    assert(run(0) == run(16))
    assert(run(16).size == 2000 - 3) // first-occurrence-wins
  }

  test("custom-constraint violation set matches direct evaluation for random expressions") {
    for (seed <- 40L to 44L) {
      val r = new scala.util.Random(seed)
      val rows = (1 to 30).map(i => (i.toLong, r.nextInt(100).toDouble, r.nextInt(100).toDouble)).toList
      val df = rows.toDF("_rid", "a", "b")
      val exprs = Seq("a > b", "a + b >= 100", "a * 2 < b + 50", "a - b != 0")
      val e = exprs(r.nextInt(exprs.size))
      val schema = TableSchema(Seq.empty, customConstraints = Seq(e))
      val got = ValidationRunner
        .plan(df, schema, ValidationConfig(rowNumberCol = "_rid", options = ValidationOptions(checks = Seq("custom"))))
        .violations
        .collect()
        .map(_.getLong(1))
        .toSet
      def eval(a: Double, b: Double): Boolean = e match {
        case "a > b"          => a > b
        case "a + b >= 100"   => a + b >= 100
        case "a * 2 < b + 50" => a * 2 < b + 50
        case "a - b != 0"     => a - b != 0
      }
      val expected = rows.filter(t => !eval(t._2, t._3)).map(_._1).toSet
      assert(got == expected, s"seed=$seed expr=$e")
    }
  }

  test("runCsv report equals run() over the same rows in 1, 3 or 4 partitions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.Prop.propBoolean
    import graft.report.ValidationReport
    import graft.sources.TableSource

    val headers = Seq("id", "name", "cat", "score")
    // ids: blank, duplicated (small pool), non-integer; names/cats/scores
    // with pattern, enum and range misses and non-numbers
    val cell: Map[String, Gen[String]] = Map(
      "id" -> Gen.frequency(6 -> Gen.choose(1, 12).map(_.toString), 1 -> Gen.const(""), 1 -> Gen.const("x7")),
      "name" -> Gen.oneOf("ann", "bob", "Bob", "c3", ""),
      "cat" -> Gen.oneOf("a", "b", "c", "z", ""),
      "score" -> Gen.oneOf("0", "42.5", "100", "101", "-3", "n/a", "")
    )
    // ragged rows keep at least 2 cells so no line is empty
    val line: Gen[Seq[String]] = for {
      width <- Gen.frequency(8 -> Gen.const(headers.size), 1 -> Gen.choose(2, headers.size - 1), 1 -> Gen.const(headers.size + 1))
      cells <- Gen.sequence[List[String], String](headers.map(cell) :+ Gen.const("extra"))
    } yield cells.take(width)
    val grid = Gen.choose(0, 25).flatMap(Gen.listOfN(_, line))
    val schemas = Gen.oneOf(Seq(Nil, Seq("id"))).map { pk =>
      TableSchema(
        Seq(
          Field("id", "integer", constraints = fc.copy(required = true, unique = true)),
          Field("name", constraints = fc.copy(pattern = Some("[a-z]+"))),
          Field("cat", constraints = fc.copy(enumVals = Some(Seq("a", "b", "c")))),
          Field("score", "number", constraints = fc.copy(minimum = Some(0), maximum = Some(100)))
        ),
        primaryKey = pk
      )
    }

    def untimed(r: ValidationReport): ValidationReport =
      r.copy(time = 0, tables = r.tables.map(_.copy(time = 0)))

    val prop = Prop.forAll(grid, schemas) { (lines, schema) =>
      val f = java.io.File.createTempFile("partinv", ".csv")
      try {
        java.nio.file.Files.writeString(f.toPath, (headers +: lines).map(_.mkString(",")).mkString("\n"))
        val path = f.getPath
        val (viaCsv, _) = ValidationRunner.runCsv(spark, path, schema)
        val structural = TableSource.readCsv(spark, path).toOption.get.structureViolations
        val rows = lines.zipWithIndex.map { case (cells, i) =>
          Row.fromSeq(cells.padTo(headers.size, null).take(headers.size) :+ (i + 2L))
        }
        val sparkSchema =
          StructType(headers.map(StructField(_, StringType)) :+ StructField("_row_number", LongType))
        val cfg = ValidationConfig(rowNumberCol = "_row_number", source = path, headerInRowCount = true)
        Prop.all(Seq(1, 3, 4).map { k =>
          val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, k), sparkSchema)
          val (rep, _) = ValidationRunner.run(df, schema, cfg)
          val t = rep.tables.head
          val merged = (structural ++ t.errors).sortBy(v => (v.rowNumber.getOrElse(0L), v.columnNumber.getOrElse(0)))
          val table = t.copy(errors = merged, errorCount = merged.size.toLong, valid = merged.isEmpty)
          val expected = rep.copy(valid = table.valid, errorCount = table.errorCount, tables = Seq(table))
          (untimed(viaCsv) == untimed(expected)) :| s"k=$k rows=${lines.size}"
        }: _*)
      } finally f.delete()
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(12).withInitialSeed(20261018L).withWorkers(1)
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}

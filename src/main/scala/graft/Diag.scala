package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** The diagnostic main beside the frozen `Bench`/`Verify` harness (which
  * it never changes). One JSON line per run on stdout; Spark logs go to
  * stderr.
  *
  * Usage: `runMain graft.Diag <mode> [args]`, where mode is one of
  *  - `queries [--plans DIR] [prefix ...]`: for every `SparkEntry` query
  *    whose name starts with a prefix (all when none), time
  *    SPARK_GRAFT_BENCH_SAMPLES samples (default 3) of a noop-sink write
  *    (every column computed, output discarded) and of the frozen harness's
  *    `count()`, printing min + samples. With `--plans DIR`, first write
  *    `DIR/<query>.txt` with explain("formatted"); without it no plan is
  *    written. Reads the tables under SPARK_GRAFT_SF_DIR (required) and
  *    the parallelism from SPARK_GRAFT_CPUS, like `Bench`.
  *  - `point [workload] [rows] [cpus] [samples] [shufflePartitions]`
  *    (defaults metadata 200000000 32 2 64): one [[workloads]] entry at an
  *    arbitrary size, min-of-samples; records the 10× points in BENCH.md so
  *    round-over-round comparisons don't live at sf0.1's noise floor. Size
  *    shufflePartitions so per-task join/sort state fits executor memory —
  *    the join-heavy workloads at 10× rows need ~4× the partitions; AQE
  *    coalesces any that come out small.
  *  - `stages [workload] [rows] [cpus] [shufflePartitions]` (defaults
  *    contamination 20000000 8 64): one sample with a stage-metrics
  *    listener, printing per stage wall time vs summed executor run/CPU
  *    time, shuffle bytes + fetch wait + write time, spill and GC — the
  *    numbers that decide WHERE a sub-bar scaling ratio comes from.
  *  - `scaling [lowCpus] [highCpus] [rounds] [rows]` (defaults 8 32 3
  *    20000000): the N → 4N scaling efficiency (tpHigh / tpLow /
  *    (high/low)). Each selected workload runs at both levels, INTERLEAVED
  *    `rounds` times in one process so host-load drift hits both levels
  *    equally; min-of-rounds per level. GRAFT_SCALING_MODES=a,b picks the
  *    workloads (default rowchecks,full,salted,embedding,knnjoin,text,image).
  *  - `hotprobe [family] [fillers] [cpus]` (defaults 4000 100000 32): the
  *    recall of `Dedup.minHashPairs`' hot-bucket path against brute force.
  *
  * `stages` and `scaling` honour GRAFT_SCALING_PIN=1: the whole process is
  * bound to cores 0..cpus-1 with taskset before each session.
  */
object Diag {

  type Run = (SparkSession, Long, Int) => (Long, Double, Long)

  /** A bench workload: its name, the `Bench` call (session, rows, cpus →
    * (work, seconds, result)), and the row count `scaling` runs it at for a
    * given `rows` argument. `work` is the workload's own rate unit (rows,
    * edges, batch docs, tokens); every rate divides by it. */
  final case class Workload(name: String, run: Run, scalingRows: Long => Long = identity)

  private def w(name: String, scalingRows: Long => Long = identity)(
      run: (SparkSession, Long) => (Long, Double, Long)): Workload =
    Workload(name, (s, n, _) => run(s, n), scalingRows)

  // image scaling runs real PNG/JPEG decodes, sized apart from `rows` so the
  // timed region is tens of seconds at the LOW level: at 50k images the pass
  // is ~3 s on 8 cores and fixed job overhead (~1.5 s) fakes the ratio
  private def scalingImages: Long =
    sys.env.get("GRAFT_SCALING_IMG").map(_.toLong).getOrElse(200000L)

  // scaling sizes: hammingknn/contamination are CHEAP per row, so they are
  // sized for a LOW-level run of tens of seconds — at small sizes the fixed
  // job envelope fakes a ~0.5 "efficiency"
  val workloads: Seq[Workload] = Seq(
    Workload("metadata", (s, n, cpus) => Bench.scaleThroughput(s, n, cpus)),
    Workload("full", (s, n, cpus) => Bench.scaleThroughput(s, n, cpus)),
    Workload("rowchecks", (s, n, cpus) => Bench.scaleThroughput(s, n, cpus, withUniqueness = false)),
    Workload("salted", (s, n, cpus) => Bench.scaleThroughput(s, n, cpus, uniquenessSalts = 16)),
    w("embedding", _ / 10)(Bench.embeddingThroughput(_, _)),
    w("knnjoin", _ / 10)(Bench.knnJoinThroughput(_, _)),
    w("text", _ / 40)(Bench.textThroughput(_, _)),
    w("image", _ => scalingImages)(Bench.imageThroughput),
    w("cc")(Bench.ccThroughput(_, _)),
    w("ccstars")(Bench.ccStarsThroughput(_, _)),
    w("contamination", _ / 10)(Bench.contaminationThroughput(_, _)),
    w("contamsparse")(Bench.contaminationThroughput(_, _, sparseBench = true)),
    w("contamsparsebloom")(Bench.contaminationThroughput(_, _, bloom = true, sparseBench = true)),
    w("streaming", _ / 10)(Bench.streamingThroughput(_, _)),
    w("linededup", _ / 10 * 2)(Bench.lineDedupThroughput(_, _)),
    w("spandedup", _ / 10 / 2)(Bench.spanDedupThroughput(_, _)),
    w("imagecanonical")(Bench.imageCanonicalThroughput(_, _)),
    w("packing")(Bench.packingThroughput(_, _)),
    w("packingnaive")(Bench.packingThroughput(_, _, naive = true)),
    w("packedseq")(Bench.packedSeqThroughput(_, _)),
    w("splitdocs")(Bench.splitDocsThroughput(_, _)),
    w("hammingknn", _ / 2)(Bench.hammingKnnThroughput(_, _)),
    w("semdedup", _ / 4)(Bench.semDedupThroughput(_, _)),
    w("kmeans", _ / 2)(Bench.kmeansThroughput(_, _)),
    w("ksexact")(Bench.ksExactThroughput(_, _)),
    w("incremental")(Bench.incrementalThroughput(_, _)),
    w("exactincr")(Bench.exactIncrementalThroughput(_, _)),
    w("bpe")(Bench.bpeThroughput(_, _)),
    w("bpenaive")(Bench.bpeThroughput(_, _, naive = true)),
    w("pq")(Bench.pqThroughput(_, _)),
    w("pqbrute")(Bench.pqThroughput(_, _, brute = true)),
    w("pqrecall")(Bench.pqRecallThroughput(_, _)),
    w("tokenids")(Bench.tokenIdsThroughput(_, _)),
    w("dsir", _ / 10)(Bench.dsirThroughput(_, _)),
    w("urldedup")(Bench.urlDedupThroughput(_, _)),
    w("htmltext")(Bench.htmlTextThroughput(_, _)),
    w("editdist", _ * 2)(Bench.editDistThroughput(_, _)),
    w("bpeapply", _ / 2)(Bench.bpeApplyThroughput(_, _)),
    w("quantiles", _ * 20)(Bench.quantilesThroughput(_, _)),
    w("zipf")(Bench.zipfThroughput(_, _)),
    w("entropysample")(Bench.entropySampleThroughput(_, _)),
    w("alignment")(Bench.alignmentThroughput(_, _)),
    w("asof")(Bench.asOfThroughput(_, _)),
    w("sessionize")(Bench.sessionizeThroughput(_, _)),
    w("rolling")(Bench.rollingThroughput(_, _)),
    w("funnel")(Bench.funnelThroughput(_, _)),
    w("rangejoin")(Bench.rangeJoinThroughput(_, _)),
    w("zorder")(Bench.zorderProbeThroughput(_, _)),
    w("zorderbrute")(Bench.zorderProbeThroughput(_, _, brute = true)),
    w("setsim", _ / 2)(Bench.setSimThroughput(_, _)),
    w("setsimdense")(Bench.setSimThroughput(_, _, dense = true)),
    w("outliers")(Bench.outlierThroughput(_, _))
  )

  /** The workload named `name`; an unknown name fails before any Spark work
    * instead of silently measuring some other workload. */
  def workload(name: String): Workload =
    workloads.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; valid: ${workloads.map(_.name).mkString(", ")}"))

  def main(args: Array[String]): Unit = args.toList match {
    case "queries" :: rest  => queries(rest)
    case "point" :: rest    => point(rest)
    case "stages" :: rest   => stages(rest)
    case "scaling" :: rest  => scaling(rest)
    case "hotprobe" :: rest => hotprobe(rest)
    case other =>
      throw new IllegalArgumentException(
        s"unknown mode '${other.headOption.getOrElse("")}'; valid: queries, point, stages, scaling, hotprobe")
  }

  /** Positional argument `i`, or `default` when absent. */
  private def arg[T](args: Seq[String], i: Int, default: T)(parse: String => T): T =
    args.lift(i).map(parse).getOrElse(default)

  /** A fresh local session (any previous one is cleared, so `scaling` can
    * rebuild per level). A 4m or 16m advisory partition size instead of
    * AQE's 64MB keeps reduce-side parallelism at local data sizes. */
  private def session(cpus: Int, shufflePartitions: Int, advisory: String,
      extra: (String, String)*): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** GRAFT_SCALING_PIN=1: bind the WHOLE process (task threads, GC, shuffle
    * IO) to exactly `cpus` cores. Without it, local[2] still runs GC/IO
    * threads on every host core — measured 2.7 cores of process CPU for
    * shuffle-heavy workloads — overstating the low level's capacity and
    * compressing the N→4N ratio. */
  private def pin(cpus: Int): Unit =
    if (sys.env.get("GRAFT_SCALING_PIN").contains("1"))
      new ProcessBuilder("taskset", "-a", "-p", "-c", s"0-${cpus - 1}",
        ProcessHandle.current().pid().toString)
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .redirectError(ProcessBuilder.Redirect.INHERIT)
        .start().waitFor()

  private def queries(args: List[String]): Unit = {
    val (planDir, prefixes) = args match {
      case "--plans" :: dir :: rest => (Some(new java.io.File(dir)), rest)
      case rest                     => (None, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("queries needs SPARK_GRAFT_SF_DIR, the generated tables' directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val samples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt
    // Bench's file-split and time-zone settings, so timings compare with it
    val spark = session(cpus, cpus, "4m",
      "spark.sql.files.maxPartitionBytes" -> String.valueOf(2 * 1024 * 1024),
      "spark.sql.session.timeZone" -> "UTC")
    spark.range(1000000).selectExpr("sum(id)").collect()
    scala.util.Try {
      graft.images.SyntheticImages.materialized(spark, SparkEntry.imageCount(sfDir))
      SparkEntry.lshStore(spark, sfDir)
      SparkEntry.ivfStore(spark, sfDir)
      SparkEntry.knnStore(spark, sfDir)
      SparkEntry.knnIvfStore(spark, sfDir)
    }
    planDir.foreach(_.mkdirs())

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.isEmpty || prefixes.exists(name.startsWith) }
      .foreach { case (name, fn) =>
        planDir.foreach { dir =>
          val plan = try fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
          catch { case e: Throwable => s"explain failed: $e" }
          val out = new java.io.PrintWriter(new java.io.File(dir, s"$name.txt"))
          try out.write(plan) finally out.close()
        }
        def time(action: DataFrame => Unit, label: String): Unit = {
          var failed: Option[Throwable] = None
          val xs = (1 to samples).map { i =>
            spark.sparkContext.setJobDescription(s"$name/$label/$i")
            val t0 = System.nanoTime()
            try action(fn(spark, sfDir))
            catch { case e: Throwable => failed = Some(e) }
            (System.nanoTime() - t0) / 1e9
          }
          spark.sparkContext.setJobDescription(null)
          // a failing query must never masquerade as a fast one
          failed match {
            case Some(e) => println(s"[extra] $name $label FAILED: $e")
            case None =>
              println(f"[extra] $name $label min=${xs.min}%.3f samples=${xs.map(x => f"$x%.3f").mkString(",")}")
          }
        }
        time(_.write.format("noop").mode("overwrite").save(), "noop")
        time(_.count(): Unit, "count")
      }
    spark.stop()
  }

  private def point(args: List[String]): Unit = {
    val wl = workload(arg(args, 0, "metadata")(identity))
    val n = arg(args, 1, 200000000L)(_.toLong)
    val cpus = arg(args, 2, 32)(_.toInt)
    val samples = arg(args, 3, 2)(_.toInt)
    val spark = session(cpus, arg(args, 4, 64)(_.toInt), "16m")
    wl.run(spark, math.min(n / 100, 2000000L), cpus) // codegen warmup
    val xs = (1 to samples).map(_ => wl.run(spark, n, cpus))
    val best = xs.map(_._2).min
    val work = xs.head._1
    println(
      s"""{"metric":"scale_point","mode":"${wl.name}","rows":$n,"work":$work,"cpus":$cpus,"sec":$best,""" +
        s""""rows_per_sec":${(work / best).toLong},"samples":[${xs.map(_._2).mkString(",")}],""" +
        s""""result":${xs.head._3}}""")
    spark.stop()
  }

  private final case class StageRow(id: Int, name: String, tasks: Int, wallMs: Long, runMs: Long,
      cpuMs: Long, gcMs: Long, shReadMb: Long, fetchWaitMs: Long, shWriteMb: Long, shWriteMs: Long,
      spillMb: Long)

  private def stages(args: List[String]): Unit = {
    val wl = workload(arg(args, 0, "contamination")(identity))
    val n = arg(args, 1, 20000000L)(_.toLong)
    val cpus = arg(args, 2, 8)(_.toInt)
    pin(cpus)
    val spark = session(cpus, arg(args, 3, 64)(_.toInt), "4m")
    val rows = mutable.ArrayBuffer.empty[StageRow]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo; val m = i.taskMetrics
        rows.synchronized {
          rows += StageRow(
            i.stageId,
            i.name.takeWhile(_ != '\n').take(60),
            i.numTasks,
            (for { s <- i.submissionTime; c <- i.completionTime } yield c - s).getOrElse(-1L),
            m.executorRunTime,
            m.executorCpuTime / 1000000L,
            m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead >> 20,
            m.shuffleReadMetrics.fetchWaitTime,
            m.shuffleWriteMetrics.bytesWritten >> 20,
            m.shuffleWriteMetrics.writeTime / 1000000L,
            (m.memoryBytesSpilled + m.diskBytesSpilled) >> 20)
        }
      }
    })
    wl.run(spark, math.min(n / 100, 2000000L), cpus) // codegen warmup
    rows.synchronized(rows.clear())
    val (work, sec, res) = wl.run(spark, n, cpus)

    val all = rows.synchronized(rows.toList).sortBy(_.id)
    all.foreach { s =>
      println(
        s"""{"stage":${s.id},"tasks":${s.tasks},"wall_ms":${s.wallMs},"run_ms":${s.runMs},""" +
          s""""cpu_ms":${s.cpuMs},"gc_ms":${s.gcMs},"sh_read_mb":${s.shReadMb},""" +
          s""""fetch_wait_ms":${s.fetchWaitMs},"sh_write_mb":${s.shWriteMb},""" +
          s""""sh_write_ms":${s.shWriteMs},"spill_mb":${s.spillMb},"name":"${s.name}"}""")
    }
    val stageWall = all.map(_.wallMs).sum
    println(
      s"""{"metric":"scale_diag","mode":"${wl.name}","rows":$n,"work":$work,"cpus":$cpus,""" +
        s""""sec":$sec,"result":$res,"stage_wall_ms":$stageWall,""" +
        s""""seam_ms":${(sec * 1000).toLong - stageWall},""" +
        s""""cpu_ms_total":${all.map(_.cpuMs).sum},"run_ms_total":${all.map(_.runMs).sum},""" +
        s""""sh_read_mb_total":${all.map(_.shReadMb).sum},"sh_write_mb_total":${all.map(_.shWriteMb).sum},""" +
        s""""fetch_wait_ms_total":${all.map(_.fetchWaitMs).sum},"sh_write_ms_total":${all.map(_.shWriteMs).sum},""" +
        s""""gc_ms_total":${all.map(_.gcMs).sum},"spill_mb_total":${all.map(_.spillMb).sum}}""")
    spark.stop()
  }

  private def scaling(args: List[String]): Unit = {
    val low = arg(args, 0, 8)(_.toInt)
    val high = arg(args, 1, 32)(_.toInt)
    val rounds = arg(args, 2, 3)(_.toInt)
    val n = arg(args, 3, 20000000L)(_.toLong)
    val modes = sys.env.get("GRAFT_SCALING_MODES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq("rowchecks", "full", "salted", "embedding", "knnjoin", "text", "image"))
      .map(workload)
    // the shuffle partition count is fixed across levels: identical plan,
    // only the thread count varies
    def levelSession(cpus: Int): SparkSession = { pin(cpus); session(cpus, 64, "4m") }

    // one untimed run of each workload at full size: warms codegen and
    // materializes the stored inputs (image table, PQ codes, streaming docs,
    // exact store) outside the timed rounds
    {
      val s = levelSession(low)
      modes.foreach(m => m.run(s, m.scalingRows(n), low))
      s.stop()
    }

    // min-of-rounds = least-contended sample, the standard capacity measure
    // on a host with noisy-neighbour CPU steal
    val times = mutable.Map[(String, Int), List[Double]]().withDefaultValue(Nil)
    val work = mutable.Map[String, Long]()
    for (_ <- 1 to rounds; cpus <- Seq(low, high); m <- modes) {
      val s = levelSession(cpus)
      val (units, sec, _) = m.run(s, m.scalingRows(n), cpus)
      s.stop()
      work(m.name) = units
      times((m.name, cpus)) = sec :: times((m.name, cpus))
      System.err.println(s"[scaling] mode=${m.name} cpus=$cpus sec=$sec")
    }

    val parts = modes.map(_.name).map { mode =>
      val runsLow = times((mode, low)); val runsHigh = times((mode, high))
      val tLow = runsLow.min; val tHigh = runsHigh.min
      val eff = (tLow / tHigh) / (high.toDouble / low)
      s""""$mode":{"sec_low":$tLow,"sec_high":$tHigh,"rows_per_sec_low":${(work(mode) / tLow).toLong},""" +
        s""""rows_per_sec_high":${(work(mode) / tHigh).toLong},"efficiency":${"%.3f".format(eff)},""" +
        s""""runs_low":${runsLow.sorted.mkString("[", ",", "]")},"runs_high":${runsHigh.sorted.mkString("[", ",", "]")}}"""
    }
    println(
      s"""{"metric":"scaling_efficiency","low_cpus":$low,"high_cpus":$high,"rows":$n,${parts.mkString(",")}}""")
  }

  /** Residual recall loss of `Dedup.minHashPairs`' hot-bucket path on a
    * boilerplate-heavy corpus. The operator truncates buckets past
    * `maxBucket` to a two-band prefix extension plus a bounded
    * deterministic sample — bounded-loss, not exact — so this runs it
    * against BRUTE-FORCE ground truth at a size where the hot path is live
    * and reports pair recall, CLUSTER-MEMBERSHIP recall (docs that still
    * land in the dedup component — what canonicalization consumes),
    * uncapped-banding recall (separates banding loss from hot-path loss),
    * and the capped run's `graft.minhash.hot`/`hotrecall` beacons.
    *
    * Fixture: `family` docs share 50 base tokens with ONE doc-unique token
    * each (pairwise jaccard ≈ 0.78–0.88, all above the 0.7 threshold, all
    * DISTINCT shingle sets — nothing collapses pre-banding and every band's
    * modal bucket holds ~77% of the family), plus `fillers` unique
    * background docs. */
  private def hotprobe(args: List[String]): Unit = {
    val fam = arg(args, 0, 4000)(_.toInt)
    val fillers = arg(args, 1, 100000L)(_.toLong)
    val cpus = arg(args, 2, 32)(_.toInt)
    val threshold = 0.7
    val spark = session(cpus, 64, "16m")

    val textU = udf { (id: Long) =>
      def tok(seed: Long): String = {
        var z = seed + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        "w" + java.lang.Long.toUnsignedString((z ^ (z >>> 31)) % 50000)
      }
      if (id < fam) {
        val toks = Array.tabulate(50)(i => tok(1000000L + i))
        toks((1 + id % 48).toInt) = s"zz$id"
        toks.mkString(" ")
      } else Array.tabulate(50)(i => tok(id * 131L + i)).mkString(" ")
    }
    val corpus = spark.range(0, fam + fillers, 1, 64)
      .select(col("id"), textU(col("id")).as("text"))
      .localCheckpoint(true)

    // brute-force ground truth over the family block (the only block with
    // pairs; the capped/uncapped runs see the full corpus)
    val jac = udf { (a: Seq[Long], b: Seq[Long]) =>
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      inter.toDouble / (a.length + b.length - inter)
    }
    val sh = corpus.filter(col("id") < fam)
      .select(col("id"), graft.text.TextOps.wordShingleHashes(col("text")).as("sh"))
      .localCheckpoint(true)
    val brute = sh.select(col("id").as("id_a"), col("sh").as("_sa"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("_sb")), col("id_a") < col("id_b"))
      .filter(jac(col("_sa"), col("_sb")) >= threshold)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val brutePairs = brute.count()

    def runPairs(maxBucket: Int): (DataFrame, Double, Long) = {
      val t0 = System.nanoTime()
      val raw = graft.dedup.Dedup
        .minHashPairs(corpus, col("text"), col("id"), threshold = threshold, maxBucket = maxBucket)
        .filter(col("id_a") < fam && col("id_b") < fam)
      // count() through the Dataset API fires the observation listener
      // (localCheckpoint's internal job would not)
      val n = raw.count()
      val sec = (System.nanoTime() - t0) / 1e9
      (raw.localCheckpoint(true), sec, n)
    }
    // capped run (operator defaults: maxBucket=1000, hot sample = cap);
    // its beacons are read before the uncapped run could overwrite them
    val pw = graft.report.PipelineWarnings.register(spark)
    val (capped, secCapped, cappedPairs) = runPairs(1000)
    pw.await(minBeacons = 2)
    def beacon(name: String): Long = pw.values(name).map(_.head).getOrElse(0L)
    val hotRows = beacon("graft.minhash.hot")
    val hotRecovered = beacon("graft.minhash.hotrecall")
    pw.close()
    val (uncapped, secUncapped, uncappedPairs) = runPairs(Int.MaxValue)

    val cappedFound = capped.join(brute, Seq("id_a", "id_b"), "left_semi").count()
    val uncappedFound = uncapped.join(brute, Seq("id_a", "id_b"), "left_semi").count()
    val nodesBrute = brute.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct().count()
    val nodesCapped = capped.join(brute, Seq("id_a", "id_b"), "left_semi")
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct().count()

    println(
      s"""{"metric":"minhash_hot_probe","family":$fam,"fillers":$fillers,"threshold":$threshold,"maxBucket":1000,""" +
        s""""brute_pairs":$brutePairs,"capped_pairs":$cappedPairs,"capped_true":$cappedFound,""" +
        s""""pair_recall":${"%.4f".format(cappedFound.toDouble / brutePairs)},""" +
        s""""uncapped_pairs":$uncappedPairs,"uncapped_true":$uncappedFound,""" +
        s""""banding_recall":${"%.4f".format(uncappedFound.toDouble / brutePairs)},""" +
        s""""nodes_brute":$nodesBrute,"nodes_capped":$nodesCapped,""" +
        s""""membership_recall":${"%.4f".format(nodesCapped.toDouble / nodesBrute)},""" +
        s""""hot_rows":$hotRows,"hot_recovered":$hotRecovered,""" +
        s""""sec_capped":${"%.1f".format(secCapped)},"sec_uncapped":${"%.1f".format(secUncapped)}}""")
    spark.stop()
  }
}

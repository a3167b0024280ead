package perfbench

import graft.core.{Frames, Tables}
import graft.dedup.{Cluster, DedupSettings, Matching, Normalize, Outputs, Pipeline}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** The entity-resolution workloads: a user hands `Sources.runFile` an
  * upload and gets the five reports back. One rep runs from the call until
  * the last report is written. */
object ErBench {
  val NameCol = "company_name"
  val KeyCol = "id"
  /** Rows of the parity slice (ids 0 until SliceRows); also the warm rep. */
  val SliceRows = 1500
  val BulkRows = 12000
  val DenseBlocks = 8
  val DenseNamesPerBlock = 1024
  val DenseSpellings = 8
  /** Reports `Sources.runFile` writes, by sub-directory. */
  val Reports = Seq("company_duplicates_final", "canonical_summary", "settings",
    "golden_mapping", "high_confidence_review")

  final class RegimeDrift(msg: String) extends RuntimeException(msg)

  def rowsFor(workload: String, seed: Long): Array[Gen.NameRow] = workload match {
    case "er_bulk" => Gen.bulkRows(seed, BulkRows)
    case "er_dense" => Gen.denseRows(seed, DenseBlocks, DenseNamesPerBlock, DenseSpellings)
  }

  /** er_bulk is a CSV upload; er_dense a parquet table. */
  def writeInput(spark: SparkSession, workload: String, rows: Array[Gen.NameRow], path: String): Unit =
    if (workload == "er_bulk") {
      Files.createDirectories(Paths.get(path).getParent)
      Files.write(Paths.get(path), Gen.csvBytes(rows))
    } else {
      import spark.implicits._
      rows.toSeq.map(r => (r.id, r.name)).toDF(KeyCol, NameCol)
        .coalesce(1).write.mode("overwrite").parquet(path)
    }

  def inputPath(work: String, workload: String, stem: String): String =
    if (workload == "er_bulk") s"$work/input/$stem.csv" else s"$work/input/$stem.parquet"

  def runJob(spark: SparkSession, input: String, out: String): Unit =
    Sources.runFile(spark, input, out, Some(NameCol), Some(KeyCol))

  /** Input shape, from a rep's `company_duplicates_final` report: its
    * base names regrouped under the library's block key. */
  def shape(clusters: DataFrame): Checks.Shape = {
    val names = clusters.filter(col("base_name") =!= "").select("base_name").distinct()
    val perBlock = names.groupBy(Normalize.blockKey(col("base_name")).as("block_key"))
      .agg(count(lit(1)).as("n"))
    val r = perBlock.agg(count(lit(1)), sum(col("n")), max(col("n")),
      sum((col("n") * (col("n") - 1) / 2).cast("long"))).head()
    Checks.Shape(clusters.count(), r.getLong(1), r.getLong(0), r.getLong(2), r.getLong(3))
  }

  /** Invariants + digest of one rep's reports. */
  def checkReports(spark: SparkSession, out: String, nRows: Long): (Seq[String], String) = {
    val clusters = spark.read.parquet(s"$out/company_duplicates_final")
    val problems = Checks.invariants(clusters, nRows)
    val digest = Checks.sha(Reports.map(r => r + "=" + Checks.tableDigest(spark.read.parquet(s"$out/$r"))).mkString(";"))
    (problems, digest)
  }

  def run(spark: SparkSession, rep: Report, work: String, seconds: Int,
      sessionS: Double, meter: StorageMeter): Unit = {
    val workload = rep.workload
    val t0 = System.nanoTime()
    val rows = rowsFor(workload, rep.seed)
    val input = inputPath(work, workload, "names")
    val slice = inputPath(work, workload, "slice")
    writeInput(spark, workload, rows, input)
    writeInput(spark, workload, rows.take(SliceRows), slice)
    // untimed warm rep on the slice; its reports are the parity subject
    runJob(spark, slice, s"$work/parity/spark")
    rep.metric("setup_s", sessionS + (System.nanoTime() - t0) / 1e9, "s")
    Files.write(Paths.get(s"$work/parity/oracle.sql"),
      (graft.oracle.Sql.dedupPipelineCte("slice", KeyCol, NameCol) +
        "\nSELECT row_order, original_name, normalized_name, base_name, cluster_id, " +
        "cluster_size, canonical_name, confidence, reason FROM final").getBytes("UTF-8"))
    Files.write(Paths.get(s"$work/parity/slice.path"), slice.getBytes("UTF-8"))

    val (walls, firstDir) = timedReps(spark, rep, input, work, rows.length, seconds, meter)
    rep.metric("rows_per_s", rows.length / Checks.median(walls.map(_._1)), "rows/s")
    rep.metric("peak_storage_mb", Checks.median(walls.map(_._2)) / (1024.0 * 1024.0), "MB")
    rep.stamp("rep_wall_s", walls.map(_._1))

    val clusters = s"$firstDir/company_duplicates_final"
    val sh = shape(spark.read.parquet(clusters))
    rep.stamp("input", Map("rows" -> sh.rows, "distinct_names" -> sh.names, "blocks" -> sh.blocks,
      "max_block_names" -> sh.maxBlock, "implied_pairs" -> sh.impliedPairs))
    val drift = Checks.shapeViolations(workload, sh)
    if (drift.nonEmpty) throw new RegimeDrift(drift.mkString("; "))

    val (p, r) = precisionRecall(spark, clusters, rows)
    rep.metric("pair_precision", p, "ratio")
    rep.metric("pair_recall", r, "ratio")

    if (rep.trace) traced(spark, rep, input, work, rows.length, sh, walls.last._1)
  }

  /** Timed reps until `seconds` have passed: at least two, or one on
    * er_dense (~20 s a rep). Each rep is checked after its clock stops.
    * Returns (wall s, peak storage bytes) per checked rep, and the report
    * directory of the first, which is kept. */
  def timedReps(spark: SparkSession, rep: Report, input: String, work: String, nRows: Long,
      seconds: Int, meter: StorageMeter): (Seq[(Double, Double)], String) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    var firstDigest: Option[String] = None
    var firstDir: Option[String] = None
    val start = System.nanoTime()
    var i = 0
    val minReps = if (rep.workload == "er_dense") 1 else 2
    while (i < minReps || (System.nanoTime() - start) / 1e9 < seconds) {
      settle(spark)
      meter.reset()
      Cluster.clearStats()
      val dir = s"$work/rep-$i"
      val t = System.nanoTime()
      val ok = scala.util.Try(runJob(spark, input, dir))
      val wall = (System.nanoTime() - t) / 1e9
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val peak = meter.peakBytes.toDouble
      if (ok.isSuccess) stampRegime(rep, "rep")
      ok.flatMap(_ => scala.util.Try(checkReports(spark, dir, nRows))) match {
        case scala.util.Failure(e) => rep.op(ok = false, s"rep $i failed: $e")
        case scala.util.Success((problems, digest)) =>
          if (firstDigest.isEmpty) { firstDigest = Some(digest); firstDir = Some(dir) }
          val pin = Pins.er.get((rep.workload, rep.seed))
          val bad = problems ++
            (if (firstDigest.contains(digest)) Nil else Seq(s"digest $digest != first rep ${firstDigest.get}")) ++
            pin.filter(_ != digest).map(p => s"digest $digest != pinned $p")
          rep.op(bad.isEmpty, s"rep $i: " + bad.mkString("; "))
          rep.stamp("digest", digest)
          out += ((wall, peak))
      }
      if (!firstDir.contains(dir)) deleteTree(dir)
      i += 1
    }
    if (out.isEmpty) throw new IllegalStateException("every rep failed")
    (out.toSeq, firstDir.get)
  }

  /** Regimes the last job took; a drift out of the workload's contract
    * fails the run. */
  private def stampRegime(rep: Report, what: String): Unit = {
    val stage = Matching.lastStageStats
    val cc = Cluster.lastStats
    rep.stamp("matching_regime", stage.map(_.regime).orNull)
    rep.stamp("jw_passes", stage.map(_.jwPasses).getOrElse(0))
    rep.stamp("cc_regime", cc.map(_.regime).orNull)
    val drift = Checks.regimeViolations(rep.workload, stage.map(_.regime), cc.map(_.regime))
    if (drift.nonEmpty) throw new RegimeDrift(s"$what: " + drift.mkString("; "))
  }

  def precisionRecall(spark: SparkSession, clustersDir: String, rows: Array[Gen.NameRow]): (Double, Double) = {
    import spark.implicits._
    val truth = rows.toSeq.map(r => (r.id, r.entity.toLong)).toDF("row_order", "entity")
    val cells = spark.read.parquet(clustersDir).join(truth, "row_order")
      .groupBy("cluster_id", "entity").agg(count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSeq
    Checks.pairPrecisionRecall(cells)
  }

  private def settle(spark: SparkSession): Unit = {
    System.gc()
    Thread.sleep(200)
    org.apache.spark.BenchBus.drain(spark.sparkContext)
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally w.close()
    }
  }

  private def mat(df: DataFrame): DataFrame = Frames.materialize(df, false)

  /** Traced run: the unmodified job under the listeners, then the job
    * replayed as a chain of materialized public calls, then matching and
    * cluster alone on the replay's derived table. */
  def traced(spark: SparkSession, rep: Report, input: String, work: String, nRows: Long,
      sh: Checks.Shape, untracedBefore: Double): Unit = {
    val tracer = new Tracer(spark, Some(Paths.get(input).getFileName.toString))
    tracer.install()
    settle(spark)
    Cluster.clearStats()
    tracer.span("job")(runJob(spark, input, s"$work/traced"))
    val stage = Matching.lastStageStats
    val jobCc = Cluster.lastStats
    stampRegime(rep, "traced job")
    val (problems, digest) = checkReports(spark, s"$work/traced", nRows)
    rep.op(problems.isEmpty && rep.stamps.get("digest").contains(digest),
      s"traced job: ${problems.mkString("; ")} digest $digest")

    val settings = DedupSettings()
    val (derived, reports) = tracer.span("replay") {
      val in = tracer.span("sources.read")(mat(Sources.read(spark, input)))
      val derived = tracer.span("normalize")(mat(Normalize.withDerived(Tables.spread(in, KeyCol), NameCol, KeyCol)))
      val full = tracer.span("pipeline")(mat(Pipeline.runDerived(derived, settings)))
      val reports = tracer.span("outputs")(Seq(Outputs.clusters(full), Outputs.summary(full),
        Outputs.settingsEcho(spark, settings), Outputs.mapping(full), Outputs.review(full)).map(mat))
      tracer.span("sources.write") {
        reports.zip(Reports).foreach { case (d, sub) =>
          d.coalesce(1).write.mode("overwrite").parquet(s"$work/replay/$sub")
        }
      }
      (derived, reports)
    }
    val cols = derived.select("row_order", "original_name", "normalized_name", "base_name", "block_key")
    Cluster.clearStats()
    val (stats, pairs) = tracer.span("standalone") {
      val (stats, pairs) = tracer.span("matching") {
        val stats = mat(Matching.nameStats(cols))
        (stats, mat(Matching.qualifyingPairsPrepared(stats, settings)))
      }
      tracer.span("cluster")(mat(Cluster.connectedComponents(
        pairs.select(col("a_min_row").as("src"), col("b_min_row").as("dst")),
        edgesMaterialized = true, edgeCountHint = sh.impliedPairs)))
      (stats, pairs)
    }
    val ccAlone = Cluster.lastStats
    tracer.uninstall()
    // counted outside every span, over the materialized frames
    rep.metric("outputs.rows_out", reports.map(_.count()).sum.toDouble, "count")
    val names = stats.count()
    val qualifying = pairs.count()
    // tracing overhead: the traced job against the untraced reps right
    // before and after it (the JIT is still warming across reps)
    settle(spark)
    val t = System.nanoTime()
    runJob(spark, input, s"$work/after")
    val untracedAfter = (System.nanoTime() - t) / 1e9

    val self = tracer.selfSeconds
    def wall(n: String) = tracer.find(n).map(_.seconds).getOrElse(0.0)
    val cores = spark.sparkContext.defaultParallelism
    def engine(layer: String, groups: Seq[String]): Unit = {
      val c = groups.map(g => tracer.counters(g)).reduce(_ + _)
      val w = groups.map(wall).sum
      rep.metric(s"$layer.jobs", c.jobs.toDouble, "count")
      rep.metric(s"$layer.tasks", c.tasks.toDouble, "count")
      rep.metric(s"$layer.task_s", c.taskS, "s")
      rep.metric(s"$layer.gc_s", c.gcS, "s")
      rep.metric(s"$layer.shuffle_write_mb", c.shuffleWriteMb, "MB")
      rep.metric(s"$layer.shuffle_read_mb", c.shuffleReadMb, "MB")
      rep.metric(s"$layer.spill_mb", c.spillMb, "MB")
      rep.metric(s"$layer.plan_s", c.planS, "s")
      rep.metric(s"$layer.core_busy", if (w > 0) c.taskS / (w * cores) else 0.0, "ratio")
    }
    val jobC = tracer.counters("job")
    rep.metric("job.s", wall("job"), "s")
    engine("job", Seq("job"))
    rep.metric("sources.read_s", self("sources.read"), "s")
    rep.metric("sources.write_s", self("sources.write"), "s")
    rep.metric("sources.bytes_read", jobC.bytesRead.toDouble, "bytes")
    rep.metric("sources.bytes_written", jobC.bytesWritten.toDouble, "bytes")
    engine("sources", Seq("sources.read", "sources.write"))
    rep.metric("normalize.s", self("normalize"), "s")
    rep.metric("normalize.cpu_s", tracer.counters("normalize").cpuS, "s")
    rep.metric("normalize.passes", tracer.regexPasses("job").toDouble, "count")
    engine("normalize", Seq("normalize"))
    rep.metric("matching.s", self("matching"), "s")
    rep.metric("matching.names", names.toDouble, "count")
    rep.metric("matching.max_block_names", sh.maxBlock.toDouble, "count")
    rep.metric("matching.implied_pairs", sh.impliedPairs.toDouble, "count")
    rep.metric("matching.qualifying_pairs", qualifying.toDouble, "count")
    rep.metric("matching.pair_yield", if (sh.impliedPairs > 0) qualifying.toDouble / sh.impliedPairs else 0.0, "ratio")
    rep.metric("matching.jw_passes", stage.map(_.jwPasses).getOrElse(0).toDouble, "count")
    engine("matching", Seq("matching"))
    rep.metric("cluster.s", self("cluster"), "s")
    rep.metric("cluster.edges_in", qualifying.toDouble, "count")
    rep.metric("cluster.contracted_edges", ccAlone.map(_.contractedEdges).getOrElse(-1L).toDouble, "count")
    rep.metric("cluster.rounds", ccAlone.map(_.rounds).getOrElse(0).toDouble, "count")
    engine("cluster", Seq("cluster"))
    rep.metric("pipeline.s", self("pipeline"), "s")
    engine("pipeline", Seq("pipeline"))
    rep.metric("outputs.s", self("outputs"), "s")
    engine("outputs", Seq("outputs"))
    rep.metric("replay_gap_s", wall("job") - wall("replay"), "s")
    rep.metric("trace_overhead", wall("job") / ((untracedBefore + untracedAfter) / 2) - 1.0, "ratio")
    rep.stamp("cc_regime_standalone", ccAlone.map(_.regime).orNull)
    rep.stamp("cc_regime_job", jobCc.map(_.regime).orNull)
    rep.spans = tracer.spans.map(s => (s, self(s.name)))
  }
}

package perfbench

import graft.streaming.StreamNearDup
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable

/** docs_stream: near-duplicate documents fed as parquet files into
  * `StreamNearDup.candidatePairs` (production defaults) with a
  * `foreachBatch` parquet sink.
  *
  * Catch-up phase: a pre-staged backlog read `FilesPerTrigger` files per
  * trigger, so its micro-batches are deterministic; one rep runs from query
  * start until the backlog is committed. Live phase (open loop): one
  * publisher thread renames pre-written files into the source directory on
  * a fixed schedule; a file's latency runs from its due time to the end of
  * the `foreachBatch` that processed its rows. */
object StreamBench {
  val DocsPerFile = 200
  val BacklogFiles = 24
  val FilesPerTrigger = 6
  val LiveFiles = 24
  val TimedCatchups = 2

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("ts", TimestampType)))

  /** The corpus: exactly enough documents for the backlog and live files. */
  def docsFor(seed: Long): Array[Gen.Doc] = Gen.docs(seed, (BacklogFiles + LiveFiles) * DocsPerFile)

  /** Writes file k (docs [k*DocsPerFile, (k+1)*DocsPerFile)) as
    * `<dir>/f-<k>.parquet`, one parquet file each, rows in id order;
    * event time = a fixed epoch + one second per doc id. */
  def writeFiles(spark: SparkSession, docs: Array[Gen.Doc], dir: String): Unit = {
    import spark.implicits._
    val tmp = s"$dir/_tmp"
    docs.toSeq.map(d => (d.id, d.text, d.id / DocsPerFile)).toDF("doc_id", "text", "file_seq")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
      .repartition(4, col("file_seq")).sortWithinPartitions("file_seq", "doc_id")
      .write.partitionBy("file_seq").parquet(tmp)
    val files = docs.length / DocsPerFile
    (0 until files).foreach { k =>
      val part = Files.list(Paths.get(s"$tmp/file_seq=$k")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(part), Paths.get(f"$dir/f-$k%04d.parquet"))
    }
    ErBench.deleteTree(tmp)
  }

  /** One query over `src`: start, catch up, optionally run the live phase.
    * Records every foreachBatch end time by batch id. */
  final class Run(spark: SparkSession, src: String, val dir: String) {
    val batchEnd = mutable.HashMap.empty[Long, Long]
    @volatile var live = false
    private val catchupSink = s"$dir/catchup"
    val query: StreamingQuery = {
      val stream = spark.readStream.schema(Schema).option("maxFilesPerTrigger", FilesPerTrigger).parquet(src)
      StreamNearDup.candidatePairs(stream, "doc_id", "text", "ts")(spark)
        .writeStream.option("checkpointLocation", s"$dir/checkpoint")
        .foreachBatch { (df: Dataset[StreamNearDup.Candidate], id: Long) =>
          df.write.mode("append").parquet(if (live) s"$dir/live/b$id" else catchupSink)
          batchEnd.synchronized(batchEnd(id) = System.nanoTime())
        }.start()
    }
    val startNs: Long = System.nanoTime()
    def catchupPairs(): Array[(Long, Long, String, Double)] = {
      import spark.implicits._
      if (!Files.exists(Paths.get(catchupSink))) Array.empty
      else spark.read.parquet(catchupSink).as[(Long, Long, String, Double)].collect()
    }
  }

  /** Start a query and wait until the backlog is committed; returns the
    * run and its catch-up wall seconds. */
  def catchup(spark: SparkSession, src: String, dir: String): (Run, Double) = {
    val run = new Run(spark, src, dir)
    run.query.processAllAvailable()
    (run, (System.nanoTime() - run.startNs) / 1e9)
  }

  /** Structural check of emitted pairs: ordered ids, both known, estimate
    * within [minEst, 1]. */
  def pairProblems(pairs: Seq[(Long, Long, String, Double)], known: Long => Boolean): Seq[String] = {
    val bad = pairs.filterNot(p => p._1 < p._2 && known(p._1) && known(p._2) && p._4 >= 0.5 && p._4 <= 1.0)
    if (bad.isEmpty) Nil else Seq(s"${bad.size} malformed candidate pairs, e.g. ${bad.head}")
  }

  def pairDigest(pairs: Seq[(Long, Long, String, Double)]): String =
    Checks.sha(pairs.map(p => s"${p._1},${p._2},${p._3},${p._4}").sorted.mkString("\n"))

  def run(spark: SparkSession, rep: Report, work: String, seconds: Int,
      sessionS: Double, meter: StorageMeter): Unit = {
    val t0 = System.nanoTime()
    val docs = docsFor(rep.seed)
    val backlogN = BacklogFiles * DocsPerFile
    val src = s"$work/src"
    val staging = s"$work/staging"
    Files.createDirectories(Paths.get(src))
    writeFiles(spark, docs, staging)
    (0 until BacklogFiles).foreach { k =>
      val f = Paths.get(f"$staging/f-$k%04d.parquet")
      // distinct, ordered modification times fix the file order of batches
      f.toFile.setLastModified(System.currentTimeMillis() - 100000L + k * 1000L)
      Files.move(f, Paths.get(f"$src/f-$k%04d.parquet"))
    }
    // untimed warm rep: one full catch-up
    val (warm, _) = catchup(spark, src, s"$work/q-warm")
    warm.query.stop()
    rep.metric("setup_s", sessionS + (System.nanoTime() - t0) / 1e9, "s")
    rep.stamp("input", Map("docs" -> docs.length, "backlog_docs" -> backlogN,
      "families" -> docs.map(_.family).distinct.length, "docs_per_file" -> DocsPerFile,
      "backlog_files" -> BacklogFiles, "files_per_trigger" -> FilesPerTrigger, "live_files" -> LiveFiles))

    val family = docs.take(backlogN).map(d => d.id -> d.family).toMap
    val known: Long => Boolean = id => id >= 0 && id < docs.length
    var firstDigest: Option[String] = None
    val walls = mutable.ArrayBuffer.empty[Double]
    val peaks = mutable.ArrayBuffer.empty[Double]
    var quality = (0.0, 0.0)
    def timedCatchup(i: Int): Run = {
      ErBench.deleteTree(s"$work/q-$i")
      System.gc()
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      meter.reset()
      val attempt = scala.util.Try(catchup(spark, src, s"$work/q-$i"))
      attempt.failed.foreach(e => rep.op(ok = false, s"catch-up $i failed: $e"))
      attempt.toOption.map { case (run, wall) =>
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        val stateBytes = run.query.recentProgress.flatMap(_.stateOperators.map(_.memoryUsedBytes)).maxOption.getOrElse(0L)
        val pairs = run.catchupPairs().toSeq
        val digest = pairDigest(pairs)
        if (firstDigest.isEmpty) {
          firstDigest = Some(digest)
          quality = Checks.streamPrecisionRecall(pairs.map(p => (p._1, p._2)), family)
        }
        val bad = pairProblems(pairs, known) ++
          (if (firstDigest.contains(digest)) Nil else Seq(s"digest $digest != first ${firstDigest.get}")) ++
          Pins.stream.get(rep.seed).filter(_ != digest).map(p => s"digest $digest != pinned $p")
        rep.op(bad.isEmpty, s"catch-up $i: " + bad.mkString("; "))
        rep.stamp("digest", digest)
        walls += wall
        peaks += (meter.peakBytes + stateBytes).toDouble
        run
      }.orNull
    }

    var last: Run = null
    (1 to TimedCatchups).foreach { i =>
      if (last != null) last.query.stop()
      last = timedCatchup(i)
    }
    if (walls.isEmpty) throw new IllegalStateException("every catch-up failed")
    rep.metric("rows_per_s", backlogN / Checks.median(walls.toSeq), "rows/s")
    rep.metric("peak_storage_mb", Checks.median(peaks.toSeq) / (1024.0 * 1024.0), "MB")
    rep.metric("pair_precision", quality._1, "ratio")
    rep.metric("pair_recall", quality._2, "ratio")
    rep.stamp("catchup_wall_s", walls.toSeq)

    if (last != null) {
      liveReport(rep, livePhase(last, staging, src, seconds, known, rep))
      last.query.stop()
    }

    if (rep.trace) traced(spark, rep, work, src, staging, seconds, known, walls.last)
  }

  final case class Live(latencies: Seq[Double], lagMax: Double, backlogMax: Int, batches: Int)

  /** Open loop: publish the staged live files on a fixed schedule spread
    * over `seconds`, then wait until they are processed. Each live data
    * batch is one checked operation. */
  def livePhase(run: Run, staging: String, src: String, seconds: Int,
      known: Long => Boolean, rep: Report): Live = {
    val spark = SparkSession.active
    run.live = true
    val interval = seconds * 1e9 / LiveFiles
    val due = new Array[Long](LiveFiles)
    val lag = new Array[Double](LiveFiles)
    val start = System.nanoTime() + 100000000L
    val publisher = new Thread(() => {
      (0 until LiveFiles).foreach { j =>
        val k = BacklogFiles + j
        due(j) = start + (j * interval).toLong
        val wait = due(j) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val f = Paths.get(f"$staging/f-$k%04d.parquet")
        f.toFile.setLastModified(System.currentTimeMillis())
        Files.move(f, Paths.get(f"$src/f-$k%04d.parquet"), StandardCopyOption.ATOMIC_MOVE)
        lag(j) = (System.nanoTime() - due(j)) / 1e9
      }
    }, "perfbench-publisher")
    publisher.start()
    publisher.join()
    run.query.processAllAvailable()
    Thread.sleep(200)
    // batch -> files: cumulative source rows, files being consumed in order
    val progress = run.query.recentProgress.sortBy(_.batchId)
    val base = BacklogFiles.toLong * DocsPerFile
    var cum = 0L
    val fileBatch = new Array[Long](LiveFiles)
    java.util.Arrays.fill(fileBatch, -1L)
    val ends = run.batchEnd.synchronized(run.batchEnd.toMap)
    var backlogMax = 0
    var liveBatches = 0
    progress.foreach { p =>
      cum += p.numInputRows
      if (cum > base && p.numInputRows > 0) {
        liveBatches += 1
        val done = ((cum - base) / DocsPerFile).toInt
        (0 until math.min(done, LiveFiles)).foreach(j => if (fileBatch(j) < 0) fileBatch(j) = p.batchId)
        ends.get(p.batchId).foreach { e =>
          val published = due.count(_ <= e)
          backlogMax = math.max(backlogMax, published - done)
        }
        val dir = s"${run.dir}/live/b${p.batchId}"
        val pairs =
          if (Files.exists(Paths.get(dir))) {
            import spark.implicits._
            spark.read.parquet(dir).as[(Long, Long, String, Double)].collect().toSeq
          } else Nil
        val bad = pairProblems(pairs, known)
        rep.op(bad.isEmpty && ends.contains(p.batchId), s"live batch ${p.batchId}: " + bad.mkString("; "))
      }
    }
    val lat = (0 until LiveFiles).flatMap { j =>
      if (fileBatch(j) < 0) { rep.op(ok = false, s"live file $j never processed"); None }
      else ends.get(fileBatch(j)).map(e => (e - due(j)) / 1e9)
    }
    Live(lat, lag.max, backlogMax, liveBatches)
  }

  private def liveReport(rep: Report, live: Live): Unit = {
    if (live.latencies.length >= 11) {
      val (p50, tailV, pct, n) = Checks.tail(live.latencies)
      rep.metric("batch_latency_p50_s", p50, "s")
      rep.metric("batch_latency_tail_s", tailV, "s")
      rep.stamp("batch_latency_tail_percentile", pct)
      rep.stamp("batch_latency_samples", n)
    } else rep.op(ok = false, s"only ${live.latencies.length} latency samples")
    rep.stamp("generator_lag_max_s", live.lagMax)
  }

  /** Copies files `ks` from `from` to `to`, keeping modification times. */
  private def copyFiles(from: String, to: String, ks: Range): Unit = {
    Files.createDirectories(Paths.get(to))
    ks.foreach { k =>
      Files.copy(Paths.get(f"$from/f-$k%04d.parquet"), Paths.get(f"$to/f-$k%04d.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** Traced rep: a fresh query with the listeners on, over a fresh copy of
    * the backlog, through catch-up and a live phase. */
  def traced(spark: SparkSession, rep: Report, work: String, src0: String, staging0: String,
      seconds: Int, known: Long => Boolean, untracedBefore: Double): Unit = {
    // the untraced live phase moved every file into src0: restage copies
    val src = s"$work/src-traced"
    val staging = s"$work/staging-traced"
    copyFiles(src0, src, 0 until BacklogFiles)
    copyFiles(src0, staging, BacklogFiles until BacklogFiles + LiveFiles)
    val tracer = new Tracer(spark, None)
    tracer.install()
    System.gc()
    val t0 = System.currentTimeMillis()
    val (run, wall) = tracer.span("job")(catchup(spark, src, s"$work/q-traced"))
    val t1 = System.currentTimeMillis()
    val group = run.query.runId.toString
    val catchupBatches = tracer.batches.filter(_.inputRows > 0)
    val live = tracer.span("live")(livePhase(run, staging, src, seconds, known, rep))
    run.query.stop()
    tracer.uninstall()
    // tracing overhead: against the untraced catch-ups right before and after
    copyFiles(src0, s"$work/src-after", 0 until BacklogFiles)
    val (after, untracedAfter) = catchup(spark, s"$work/src-after", s"$work/q-after")
    after.query.stop()
    val c = tracer.counters(group, t0, t1)
    val cores = spark.sparkContext.defaultParallelism
    rep.metric("job.s", wall, "s")
    rep.metric("job.jobs", c.jobs.toDouble, "count")
    rep.metric("job.tasks", c.tasks.toDouble, "count")
    rep.metric("job.task_s", c.taskS, "s")
    rep.metric("job.gc_s", c.gcS, "s")
    rep.metric("job.shuffle_write_mb", c.shuffleWriteMb, "MB")
    rep.metric("job.shuffle_read_mb", c.shuffleReadMb, "MB")
    rep.metric("job.spill_mb", c.spillMb, "MB")
    rep.metric("job.plan_s", c.planS, "s")
    rep.metric("job.core_busy", c.taskS / (wall * cores), "ratio")
    rep.metric("streaming.batches", catchupBatches.size.toDouble, "count")
    rep.metric("streaming.batch_s", Checks.median(catchupBatches.map(_.triggerMs / 1e3)), "s")
    rep.metric("streaming.plan_s", catchupBatches.map(_.planningMs).sum / 1e3, "s")
    rep.metric("streaming.state_rows", catchupBatches.lastOption.map(_.stateRows).getOrElse(0L).toDouble, "count")
    rep.metric("streaming.state_mb", catchupBatches.lastOption.map(_.stateBytes).getOrElse(0L) / (1024.0 * 1024.0), "MB")
    rep.metric("streaming.state_commit_s", catchupBatches.map(_.commitMs).sum / 1e3, "s")
    rep.metric("streaming.backlog_files", live.backlogMax.toDouble, "count")
    rep.metric("streaming.generator_lag_s", live.lagMax, "s")
    rep.metric("streaming.live_batches", live.batches.toDouble, "count")
    rep.metric("trace_overhead", wall / ((untracedBefore + untracedAfter) / 2) - 1.0, "ratio")
    val self = tracer.selfSeconds
    rep.spans = tracer.spans.map(s => (s, self(s.name)))
  }
}

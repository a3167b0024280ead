package graft.dedup

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end golden test: the reference's 8-row fixture
  * (/root/repo/FIXTURES.md §1, engine_test.py:33-47) through the full
  * pipeline, with our deterministic re-specs (cluster_id =
  * min(row_order): 0 and 2 instead of the union-find artifacts 1/3;
  * offline — no web-verified reason suffixes). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  private lazy val fullDf = {
    import spark.implicits._
    val input = Seq(
      (0L, "IBM India Pvt Ltd"),
      (1L, "IBM"),
      (2L, "TCS"),
      (3L, "Tata Consultancy Services Limited"),
      (4L, "Google LLC"),
      (5L, "Alphabet Inc"),
      (6L, "Microsoft"),
      (7L, "Ltd")).toDF("id", "company_name")
    Pipeline.run(input, "company_name", "id").cache()
  }

  private lazy val full = Outputs.clusters(fullDf).collect()

  test("golden clusters sheet") {
    val expected = Seq(
      Row(0L, "IBM India Pvt Ltd", "IBM INDIA PVT LTD", "IBM", 0L, 2L, "IBM",
        0.98, "token-sorted match AND ratio >= 0.90"),
      Row(1L, "IBM", "IBM", "IBM", 0L, 2L, "IBM", 0.70, "Isolated or weak match"),
      Row(2L, "TCS", "TCS", "TATA CONSULTANCY SERVICES", 2L, 2L,
        "TATA CONSULTANCY SERVICES", 0.98, "token-sorted match AND ratio >= 0.90"),
      Row(3L, "Tata Consultancy Services Limited", "TATA CONSULTANCY SERVICES LIMITED",
        "TATA CONSULTANCY SERVICES", 2L, 2L, "TATA CONSULTANCY SERVICES", 0.70,
        "Isolated or weak match"),
      Row(4L, "Google LLC", "GOOGLE LLC", "GOOGLE", 4L, 1L, "GOOGLE", 0.70,
        "Isolated or weak match"),
      Row(5L, "Alphabet Inc", "ALPHABET INC", "ALPHABET", 5L, 1L, "ALPHABET", 0.70,
        "Isolated or weak match"),
      Row(6L, "Microsoft", "MICROSOFT", "MICROSOFT", 6L, 1L, "MICROSOFT", 0.70,
        "Isolated or weak match"),
      Row(7L, "Ltd", "LTD", "", 7L, 1L, "LTD", 0.50,
        "No base name after cleaning; kept as singleton"))
    assert(full.toSeq == expected)
  }

  test("typed Dataset facade carries the contract") {
    import spark.implicits._
    val recs = Pipeline.runTyped(
      Seq((0L, "IBM"), (1L, "IBM")).toDF("id", "n"), "n", "id")
      .collect().sortBy(_.row_order)
    assert(recs.map(_.canonical_name).toSeq == Seq("IBM", "IBM"))
    assert(recs.map(_.cluster_size).toSeq == Seq(2L, 2L))
    assert(recs(0).confidence == 0.98 && recs(1).confidence == 0.70)
  }

  test("stats match the reference fixture") {
    val s = Outputs.stats(fullDf).collect()(0)
    assert(s.getLong(0) == 8) // total_rows
    assert(s.getLong(1) == 6) // total_clusters
    assert(s.getLong(2) == 4) // rows in multi-record clusters
    assert(s.getLong(3) == 2) // review rows
  }

  test("summary and review match the reference fixture") {
    val summary = Outputs.summary(fullDf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(summary == Seq(
      (0L, "IBM", 2L), (2L, "TATA CONSULTANCY SERVICES", 2L), (4L, "GOOGLE", 1L),
      (5L, "ALPHABET", 1L), (6L, "MICROSOFT", 1L), (7L, "LTD", 1L)))
    val review = Outputs.review(fullDf).collect().map(_.getLong(0)).toSeq
    assert(review == Seq(0L, 2L))
  }

  test("driver fast path and distributed path agree bit-for-bit") {
    import spark.implicits._
    // 60 names engineered for near-dup structure: shared stems with
    // typos (soft/hard matches), duplicated rows, empty names, and
    // multi-block spread
    val stems = Seq("GLOBEX CORP", "GLOBEX CORPS", "INITECH LTD", "INITECH INC",
      "ACME WIDGETS", "ACME WIDGET", "UMBRELLA PHARMA", "UMBRELA PHARMA",
      "STARK INDUSTRIES", "STARK INDUSTRIE", "WAYNE ENTERPRISES", "")
    val rows = (0 until 60).map { i =>
      (i.toLong, stems(i % stems.length) + (if (i % 5 == 0) "" else s" ${i % 3}"))
    }
    val df = rows.toDF("id", "nm")
    val fast = Pipeline.run(df, "nm", "id").orderBy("row_order").collect()
    val dist = Pipeline.run(df, "nm", "id",
      DedupSettings(driverFastPathNames = 0L)).orderBy("row_order").collect()
    assert(fast.length == 60 && fast.toSeq == dist.toSeq)
  }

  /** Actions that aggregate the materialized name index (the checkpoint
    * carrying `token_key`) down to one row: the index's sizing. */
  private def sizesNameIndex(qe: org.apache.spark.sql.execution.QueryExecution): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val plan = qe.analyzed
    plan.exists {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.output.exists(_.name == "token_key")
      case _ => false
    } && plan.exists {
      case a: Aggregate => a.groupingExpressions.isEmpty
      case _ => false
    } && !plan.exists(_.isInstanceOf[Join])
  }

  test("materialize regime: one histogram action sizes the name index, no fan-out past the shuffle partitions") {
    import spark.implicits._
    // 4,400 distinct names (over driverFastPathNames = 4096) in 2,200
    // blocks of two, each a one-letter typo pair: the materialize regime
    val df = (0 until 2200).flatMap { i =>
      Seq((2L * i, f"VENDOR$i%04d ALPHA"), (2L * i + 1, f"VENDOR$i%04d ALPHE"))
    }.toDF("id", "nm")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val sizing = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "_guard_marker")) marker.countDown()
        else if (sizesNameIndex(qe)) sizing.incrementAndGet()
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val full = try {
      val full = Pipeline.run(df, "nm", "id")
      assert(full.filter($"cluster_size" === 2L).count() == 4400L)
      spark.range(1).toDF("_guard_marker").collect()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      full
    } finally spark.listenerManager.unregister(listener)
    assert(Matching.lastStageStats.map(_.regime).contains("materialize"))
    assert(sizing.get == 1, s"${sizing.get} sizing actions over the name index")
    // the run's checkpoints (name index, compact pairs): small blocks
    // need no salt, so nothing is spread wider than the shuffle
    // partitions
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ckpts = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    assert(ckpts.size >= 2, s"checkpoints seen: ${ckpts.keys}")
    ckpts.values.foreach(r => assert(r.getNumPartitions <= parts,
      s"checkpoint ${r.id} has ${r.getNumPartitions} partitions > $parts"))
    assert(full.columns.contains("cluster_id")) // keeps the checkpoints referenced
  }

  test("pipeline output does not depend on the pair join's salt") {
    import spark.implicits._
    // 300 names in one hot block (under the governor cap) next to 400
    // two-name blocks, duplicated rows and an empty name; the fast
    // path is off so the salted pair join runs
    val hot = (0 until 300).map(i => f"HOTCO X$i%03d")
    val small = (0 until 400).flatMap(i => Seq(f"FIRM$i%03d BETA", f"FIRM$i%03d BETE"))
    val names = hot ++ small ++ small.take(50) ++ Seq("", "Ltd")
    val df = names.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("id", "nm")
    val settings = DedupSettings(driverFastPathNames = 0L)
    val stats = Matching.nameStats(Normalize.withDerived(df, "nm", "id")).cache()
    val chunks = Matching.saltChunks(Matching.blockHistogram(stats, settings),
      spark.sparkContext.defaultParallelism)
    stats.unpersist()
    assert(chunks > 1 && chunks < 96, s"adaptive salt $chunks")
    val adaptive = Pipeline.run(df, "nm", "id", settings).orderBy("row_order").collect()
    val salted = Pipeline.runDerived(Normalize.withDerived(df, "nm", "id", settings),
      settings, salt = 96).orderBy("row_order").collect()
    assert(adaptive.length == names.length && adaptive.toSeq == salted.toSeq)
  }
}

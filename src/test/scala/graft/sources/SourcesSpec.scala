package graft.sources

import graft.dedup.{DedupSettings, Outputs, Pipeline, SparkTest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** E2-style end-to-end: CSV in → auto-detected column → pipeline →
  * five report sinks on disk (the reference's engine_test.py flow,
  * offline). */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  test("csv in, reports out, column auto-detection") {
    val dir = Files.createTempDirectory("graft_src").toFile
    val csv = new java.io.File(dir, "companies.csv")
    val w = new java.io.PrintWriter(csv)
    w.println("Company Name")
    Seq("IBM India Pvt Ltd", "IBM", "TCS", "Tata Consultancy Services Limited",
      "Google LLC", "Alphabet Inc", "Microsoft", "Ltd").foreach(w.println)
    w.close()

    val df = Sources.readCsv(spark, csv.getAbsolutePath)
    assert(Sources.detectNameColumn(df).contains("Company Name"))
    assert(Sources.peekSchema(spark, csv.getAbsolutePath).fields.length == 1)

    val out = new java.io.File(dir, "out").getAbsolutePath
    val full = Sources.runFile(spark, csv.getAbsolutePath, out)
    assert(full.count() == 8)

    val clusters = spark.read.parquet(s"$out/company_duplicates_final")
    assert(clusters.count() == 8)
    val mapping = spark.read.parquet(s"$out/golden_mapping").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mapping("TCS") == "TATA CONSULTANCY SERVICES")
    assert(mapping("IBM India Pvt Ltd") == "IBM")
    val review = spark.read.parquet(s"$out/high_confidence_review")
    assert(review.count() == 2)
  }

  test("xlsx report format reproduces the reference's three workbooks") {
    val dir = Files.createTempDirectory("graft_xlsx_e2e").toFile
    val csv = new java.io.File(dir, "c.csv")
    val w = new java.io.PrintWriter(csv)
    w.println("Company Name"); Seq("IBM India Pvt Ltd", "IBM", "Ltd").foreach(w.println)
    w.close()
    val out = new java.io.File(dir, "out").getAbsolutePath
    Sources.runFile(spark, csv.getAbsolutePath, out, format = "xlsx")
    for (f <- Seq("company_duplicates_final.xlsx", "golden_mapping.xlsx",
        "high_confidence_review.xlsx")) {
      assert(new java.io.File(out, f).exists(), f)
    }
    val mapping = Xlsx.read(spark, s"$out/golden_mapping.xlsx").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mapping("IBM India Pvt Ltd") == "IBM")
    assert(mapping("Ltd") == "LTD")
  }

  test("jsonl write -> read round-trip, schema-pinned and inferred") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toFile
    val path = new java.io.File(dir, "docs.jsonl").getAbsolutePath
    val df = Seq((0L, "alpha beta", "en"), (1L, "gamma", "es"))
      .toDF("doc_id", "text", "lang")
    Sources.writeJsonl(df, path)
    // inferred
    val back = Sources.readJsonl(spark, path)
      .select("doc_id", "text", "lang").orderBy("doc_id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((0L, "alpha beta", "en"), (1L, "gamma", "es")))
    // schema-pinned (single-pass at scale) + extension dispatch
    val pinned = Sources.read(spark, path)
    assert(pinned.count() == 2)
    val typed = Sources.readJsonl(spark, path, Some(df.schema))
    // JSON columns are always nullable on read — compare names+types
    assert(typed.schema.map(f => f.name -> f.dataType) ==
      df.schema.map(f => f.name -> f.dataType))
  }

  test("SQL surface: registered jaro_winkler and dot_product") {
    graft.Graft.install(spark)
    val r = spark.sql(
      "SELECT jaro_winkler('IBM', 'IBM INDIA') AS jw, " +
        "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp").collect()(0)
    assert(r.getDouble(0) == 0.8444444444444443)
    assert(r.getDouble(1) == 11.0)
  }

  /** Awkward names: padding, embedded commas and quotes, an empty
    * and a null name, unicode, an all-suffix name and exact duplicates
    * (so reports have ties and multi-row clusters). */
  private val trickyNames: Seq[(Long, String)] = Seq("  IBM India Pvt Ltd  ", "IBM",
    "Acme, Inc.", "ACME INC", "The \"Quoted\" Company Ltd", "", null,
    "Société Générale S.A.", "SOCIETE GENERALE", "株式会社 トヨタ", "Ltd", "Ltd", "TCS",
    "Tata Consultancy Services Limited", "IBM").zipWithIndex.map { case (n, i) => (i.toLong, n) }

  /** `trickyNames` as an `id,name` input; csv when `file` ends in
    * `.csv` (where the empty name reads back as null), else parquet. */
  private def trickyInput(dir: java.io.File, file: String): String = {
    import spark.implicits._
    val path = new java.io.File(dir, file).getAbsolutePath
    val w = trickyNames.toDF("id", "name").coalesce(1).write
    if (file.endsWith(".csv")) w.option("header", "true").csv(path) else w.parquet(path)
    path
  }

  /** Part-file contents of a Spark output directory, in name order. */
  private def partFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).toSeq

  /** Every entry of an xlsx zip, by name. */
  private def zipEntries(path: String): Map[String, String] = {
    val z = new java.util.zip.ZipFile(path)
    try {
      import scala.jdk.CollectionConverters._
      z.entries().asScala.map(e =>
        e.getName -> new String(z.getInputStream(e).readAllBytes(), "UTF-8")).toMap
    } finally z.close()
  }

  test("every runFile report equals its Outputs projection of a direct Pipeline.run") {
    val dir = Files.createTempDirectory("graft_equiv").toFile
    val input = trickyInput(dir, "tricky.parquet")
    val full = Pipeline.run(Sources.read(spark, input), "name", "id")
    val direct: Seq[(String, DataFrame)] = Seq(
      "company_duplicates_final" -> Outputs.clusters(full),
      "canonical_summary" -> Outputs.summary(full),
      "settings" -> Outputs.settingsEcho(spark, DedupSettings()),
      "golden_mapping" -> Outputs.mapping(full),
      "high_confidence_review" -> Outputs.review(full))
    // the inputs really are awkward: the null, empty and suffix-only
    // names all reach the reports
    assert(full.filter("original_name IS NULL").count() == 1)
    assert(full.filter("original_name = ''").count() == 1)
    assert(full.filter("base_name = ''").count() >= 4)

    val pq = new java.io.File(dir, "pq").getAbsolutePath
    Sources.runFile(spark, input, pq, Some("name"), Some("id"))
    for ((sub, d) <- direct) {
      val got = spark.read.parquet(s"$pq/$sub")
      assert(got.columns.toSeq == d.columns.toSeq, sub)
      assert(got.collect().toSeq == d.collect().toSeq, sub)
    }

    val csvOut = new java.io.File(dir, "csv").getAbsolutePath
    val csvRef = new java.io.File(dir, "csv_ref").getAbsolutePath
    Sources.runFile(spark, input, csvOut, Some("name"), Some("id"), format = "csv")
    assert(!new java.io.File(csvOut, "_pipeline").exists())
    for ((sub, d) <- direct) {
      d.coalesce(1).write.option("header", "true").csv(s"$csvRef/$sub")
      val got = partFiles(s"$csvOut/$sub")
      assert(got.nonEmpty && got == partFiles(s"$csvRef/$sub"), sub)
    }

    val xl = new java.io.File(dir, "xlsx").getAbsolutePath
    val xlRef = new java.io.File(dir, "xlsx_ref")
    xlRef.mkdirs()
    Sources.runFile(spark, input, xl, Some("name"), Some("id"), format = "xlsx")
    assert(!new java.io.File(xl, "_pipeline").exists())
    val byName = direct.toMap
    Xlsx.write(Seq("clusters" -> byName("company_duplicates_final"),
      "canonical_summary" -> byName("canonical_summary"),
      "settings" -> byName("settings")), s"$xlRef/company_duplicates_final.xlsx")
    Xlsx.write(Seq("mapping" -> byName("golden_mapping")), s"$xlRef/golden_mapping.xlsx")
    Xlsx.write(Seq("review" -> byName("high_confidence_review")),
      s"$xlRef/high_confidence_review.xlsx")
    for (f <- Seq("company_duplicates_final.xlsx", "golden_mapping.xlsx",
        "high_confidence_review.xlsx"))
      assert(zipEntries(s"$xl/$f") == zipEntries(s"$xlRef/$f"), f)
  }

  /** Every node of an executed plan, through AQE wrappers and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def isScanOf(n: SparkPlan, file: String): Boolean = n match {
    case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.getName == file)
    case _ => false
  }

  private def scansInput(p: SparkPlan, file: String): Boolean =
    nodes(p).exists(isScanOf(_, file))

  private def evalsRegex(n: SparkPlan): Boolean =
    n.expressions.exists(_.find(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.RegExpReplace]).isDefined)

  /** Run `body`, handing the executed plan of every query it ran to
    * `seen` (on the listener thread). */
  private def withPlans(seen: SparkPlan => Unit)(body: => Unit): Unit = {
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "_guard_marker")) marker.countDown()
        else seen(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once the marker query's
      // event is in, every plan of `body` has been seen
      spark.range(1).toDF("_guard_marker").collect()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
  }

  test("runFile evaluates the normalize chain over its input at most twice") {
    // every executed plan that runs regexp_replace over a scan of the
    // input file is one evaluation of the normalize chain: the
    // name-index build, then the single clusters write. A report
    // computed from the lazy pipeline frame instead of the persisted
    // table would add one per report.
    def regexOverInput(p: SparkPlan, file: String): Boolean =
      nodes(p).exists(n => evalsRegex(n) && scansInput(n, file))

    val dir = Files.createTempDirectory("graft_once").toFile
    val csv = trickyInput(dir, "once.csv")
    for (format <- Seq("parquet", "csv", "xlsx")) {
      val passes = new java.util.concurrent.atomic.AtomicInteger(0)
      withPlans(p => if (regexOverInput(p, "once.csv")) passes.incrementAndGet()) {
        Sources.runFile(spark, csv, new java.io.File(dir, format).getAbsolutePath,
          Some("name"), Some("id"), format = format)
      }
      assert(passes.get >= 1, s"$format: the guard saw no normalize pass at all")
      assert(passes.get <= 2, s"$format: ${passes.get} normalize passes over the input")
    }
  }

  test("runFile keeps the normalize chain above the source spread's exchange") {
    // A single-split CSV over the spread gate's 64 KB: Pipeline.run
    // repartitions it across the cores before the 14-regex chain. A
    // filter on the derived base name that Catalyst pushes below that
    // exchange drags the chain into the one scan task, where it runs
    // serially before running again in parallel after the exchange.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_spread").toFile
    val csv = new java.io.File(dir, "spread.csv").getAbsolutePath
    (0 until 4000).map(i => (i.toLong, f"Vendor$i%05d Trading Company Pvt Ltd"))
      .toDF("id", "name").coalesce(1).write.option("header", "true").csv(csv)
    // the nodes an exchange's child stage runs, down to the next
    // exchange: the work done before that shuffle
    def stage(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap {
      case _: Exchange | _: QueryStageExec => Nil
      case c => stage(c)
    }
    val spreads = new java.util.concurrent.atomic.AtomicInteger(0)
    val regexBelow = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    withPlans { p =>
      nodes(p).collect { case e: Exchange => stage(e.child) }
        .filter(_.exists(isScanOf(_, "spread.csv")))
        .foreach { below =>
          spreads.incrementAndGet()
          below.filter(evalsRegex).foreach(n => regexBelow.add(n.nodeName))
        }
    } {
      Sources.runFile(spark, csv, new java.io.File(dir, "out").getAbsolutePath,
        Some("name"), Some("id"))
    }
    assert(spreads.get >= 1, "the input was never spread: the guard checked nothing")
    assert(regexBelow.isEmpty,
      s"regexp_replace evaluated beneath the spread's exchange in: $regexBelow")
  }
}

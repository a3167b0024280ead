package graft.sources

import graft.dedup.{DedupSettings, Outputs, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}

/** Sources and sinks for the dedup pipeline (S1-S4, O1 in SURVEY.md
  * §2.1). The reference reads CSV/XLSX via pandas
  * (/root/reference/app.py:86-88); here CSV and Parquet are native
  * Spark scans (header + schema inference for CSV parity). XLSX has
  * no offline Spark datasource — persist reports as Parquet/CSV
  * instead (SURVEY.md §2.2). */
object Sources {

  /** S1 — CSV scan with pandas-like header/inference behavior. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S2 — XLSX scan (dependency-free, see [[Xlsx]]), with
    * pandas-style dtype inference so [[detectNameColumn]] skips
    * numeric id columns exactly like the reference's pandas read
    * (app.py:88) — an all-string read would misdetect a leading
    * numeric column as the name column. */
  def readXlsx(spark: SparkSession, path: String): DataFrame =
    Xlsx.readTyped(spark, path)

  /** JSONL scan — the standard LLM-corpus interchange format (one
    * JSON object per line). Schema inference needs a full pass; pass
    * an explicit schema at scale so the read is single-pass and
    * pruned columns never parse. */
  def readJsonl(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** JSONL sink (line-delimited JSON, the `spark.write.json` layout). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Generic reader dispatched on extension (S4's per-file loop). */
  def read(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".csv")) readCsv(spark, path)
    else if (path.endsWith(".xlsx")) readXlsx(spark, path)
    else if (path.endsWith(".jsonl") || path.endsWith(".json")) readJsonl(spark, path)
    else spark.read.parquet(path)

  /** S3 — schema peek without scanning data. */
  def peekSchema(spark: SparkSession, path: String): StructType =
    read(spark, path).schema

  /** Reference behavior: auto-detect the name column as the first
    * string column when none is given (engine_test.py:13-16). */
  def detectNameColumn(df: DataFrame): Option[String] =
    df.schema.fields.find(_.dataType == StringType).map(_.name)

  /** Bucketed managed-table sink: pre-partitions (and pre-sorts) by
    * the join key so repeated joins/aggregations on that key read
    * co-located buckets and skip the shuffle entirely — the storage-
    * layout half of the 100 TB join strategy (pair with broadcast for
    * small dims). Both sides of a join must use the same bucket
    * count. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** S4 + E3 + O1 — run the full pipeline on an input file and write
    * the reference reports under `outDir` (parquet, csv or xlsx).
    * Returns the full cluster table (lazy: an action on it evaluates
    * the pipeline again; read the written reports instead).
    *
    * The pipeline is evaluated ONCE: its sorted contract projection
    * ([[Outputs.clusters]], which carries every column the other
    * reports read) is written as parquet a single time and read back
    * with its known schema (no footer-inference job); `summary`,
    * `mapping` and `review` are projections of that persisted table,
    * so none of them re-runs the scan, the normalize chain or the
    * election windows. For `parquet` the persisted table IS the
    * `company_duplicates_final` report; for `csv`/`xlsx` it is a
    * `_pipeline` parquet staging directory under `outDir`, deleted
    * once the reports are written. A written file rather than a
    * cached frame: it holds no block-manager storage and survives
    * executor loss. */
  def runFile(spark: SparkSession, inPath: String, outDir: String,
      nameCol: Option[String] = None, rowOrderCol: Option[String] = None,
      settings: DedupSettings = DedupSettings(), format: String = "parquet"): DataFrame = {
    val df0 = read(spark, inPath)
    val name = nameCol.orElse(detectNameColumn(df0)).getOrElse(
      throw new IllegalArgumentException(s"no string column in $inPath"))
    // a stable row id: an explicit key column, else a line id for
    // single-partition inputs (documented: file order = row_order)
    val (df, orderCol) = rowOrderCol match {
      case Some(c) => (df0, c)
      case None =>
        (df0.coalesce(1).withColumn("_row_order",
          org.apache.spark.sql.functions.monotonically_increasing_id()), "_row_order")
    }
    val full = Pipeline.run(df, name, orderCol, settings)
    val clusters = Outputs.clusters(full)
    val staged = format == "csv" || format == "xlsx"
    val tablePath = if (staged) s"$outDir/_pipeline" else s"$outDir/company_duplicates_final"
    try {
      clusters.coalesce(1).write.mode("overwrite").parquet(tablePath)
      val table = spark.read.schema(clusters.schema).parquet(tablePath)
      if (format == "xlsx") {
        // the reference's exact three-workbook layout (outputs.py:44-58)
        Xlsx.write(Seq(
          "clusters" -> Outputs.clusters(table),
          "canonical_summary" -> Outputs.summary(table),
          "settings" -> Outputs.settingsEcho(spark, settings)),
          s"$outDir/company_duplicates_final.xlsx")
        Xlsx.write(Seq("mapping" -> Outputs.mapping(table)),
          s"$outDir/golden_mapping.xlsx")
        Xlsx.write(Seq("review" -> Outputs.review(table)),
          s"$outDir/high_confidence_review.xlsx")
      } else {
        def save(d: DataFrame, sub: String): Unit = {
          val w = d.coalesce(1).write.mode("overwrite")
          if (format == "csv") w.option("header", "true").csv(s"$outDir/$sub")
          else w.parquet(s"$outDir/$sub")
        }
        // a multi-split read may reorder the file's rows: re-sort
        if (staged) save(Outputs.clusters(table), "company_duplicates_final")
        save(Outputs.summary(table), "canonical_summary")
        save(Outputs.settingsEcho(spark, settings), "settings")
        save(Outputs.mapping(table), "golden_mapping")
        save(Outputs.review(table), "high_confidence_review")
      }
    } finally if (staged) {
      val p = new org.apache.hadoop.fs.Path(tablePath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    full
  }
}

package perfbench

import graft.dedup.{DedupSettings, Rules}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks and quality math. Pure functions where possible, so the
  * self-test can drive them with hand-built inputs. */
object Checks {

  val Ladder: Set[Double] = Set(Rules.ConfTokenAndRatio, Rules.ConfHardRatio,
    Rules.ConfSoftRatio, Rules.ConfDefault, Rules.ConfEmptyBase)

  /** Structural invariants of the `company_duplicates_final` report over an
    * input whose row keys are exactly 0 until `nRows`. Returns the violated
    * invariants (empty when the output is sound). */
  def invariants(clusters: DataFrame, nRows: Long): Seq[String] = {
    val r = clusters.agg(
      count(lit(1)), countDistinct(col("row_order")), min(col("row_order")),
      max(col("row_order")),
      sum(when(col("confidence").isin(Ladder.toSeq: _*), 0L).otherwise(1L))).head()
    val perCluster = clusters.groupBy("cluster_id").agg(
      min(col("row_order")).as("m"), count(lit(1)).as("n"),
      min(col("cluster_size")).as("s0"), max(col("cluster_size")).as("s1"))
    val bad = perCluster.agg(
      sum(when(col("m") =!= col("cluster_id"), 1L).otherwise(0L)),
      sum(when(col("s0") =!= col("n") || col("s1") =!= col("n"), 1L).otherwise(0L))).head()
    def l(i: Int, row: org.apache.spark.sql.Row) = if (row.isNullAt(i)) 0L else row.getLong(i)
    Seq(
      (l(0, r) == nRows && l(1, r) == nRows && l(2, r) == 0L && l(3, r) == nRows - 1) ->
        s"every input row appears once (rows=${l(0, r)}, distinct=${l(1, r)}, expected=$nRows)",
      (l(0, bad) == 0L) -> s"cluster_id is the cluster's min row_order (${l(0, bad)} clusters violate)",
      (l(1, bad) == 0L) -> s"cluster_size equals the cluster's row count (${l(1, bad)} clusters violate)",
      (l(4, r) == 0L) -> s"confidence is on the ladder (${l(4, r)} rows off it)"
    ).collect { case (false, msg) => msg }
  }

  /** Order-independent digest of a table: row count and the exact sum of
    * every row's 64-bit hash. */
  def tableDigest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  /** Pair precision and recall of a clustering against ground-truth
    * entities, from the contingency counts (cluster, entity) -> rows.
    * Output pairs are row pairs sharing a cluster; true pairs share an
    * entity. */
  def pairPrecisionRecall(cells: Seq[(Long, Long, Long)]): (Double, Double) = {
    def c2(n: Long) = n * (n - 1) / 2
    val tp = cells.map(c => c2(c._3)).sum
    val out = cells.groupBy(_._1).valuesIterator.map(cs => c2(cs.map(_._3).sum)).sum
    val truth = cells.groupBy(_._2).valuesIterator.map(cs => c2(cs.map(_._3).sum)).sum
    (if (out == 0) 1.0 else tp.toDouble / out, if (truth == 0) 1.0 else tp.toDouble / truth)
  }

  /** Precision and recall of streamed candidate pairs. Precision: share of
    * distinct emitted pairs whose documents share a family. Recall: share of
    * non-first family members (arrival order = id order) emitted with an
    * earlier member of their family. `family` maps every arrived doc id. */
  def streamPrecisionRecall(pairs: Seq[(Long, Long)], family: Map[Long, Int]): (Double, Double) = {
    val distinct = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val good = distinct.filter(p => family.get(p._1).exists(f => family.get(p._2).contains(f)))
    val recovered = good.map(_._2).toSet
    val firsts = family.toSeq.groupBy(_._2).valuesIterator.map(_.map(_._1).min).toSet
    val later = family.keysIterator.filterNot(firsts).toSeq
    val precision = if (distinct.isEmpty) 1.0 else good.size.toDouble / distinct.size
    val recall = if (later.isEmpty) 1.0 else later.count(recovered).toDouble / later.size
    (precision, recall)
  }

  /** Median, and the value at the highest percentile with at least ten
    * samples beyond it: the (n-10)th smallest, stamped as percentile
    * 100*(n-10)/n. Needs n >= 11. */
  def tail(samples: Seq[Double]): (Double, Double, Double, Int) = {
    val s = samples.sorted
    val n = s.length
    require(n >= 11, s"tail percentile needs >= 11 samples, got $n")
    (median(s), s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Input shape of an ER run, measured on the derived name index. */
  final case class Shape(rows: Long, names: Long, blocks: Long, maxBlock: Long, impliedPairs: Long)

  /** The input shape that puts each ER workload in its regime under
    * default settings. Returns the violations; the caller fails the run
    * loudly on any. */
  def shapeViolations(workload: String, shape: Shape,
      settings: DedupSettings = DedupSettings()): Seq[String] = {
    val cap = settings.maxBlockNames.getOrElse(Long.MaxValue)
    val checks = workload match {
      case "er_bulk" => Seq(
        (shape.names > settings.driverFastPathNames) ->
          s"names=${shape.names} must exceed driverFastPathNames=${settings.driverFastPathNames}",
        (shape.maxBlock <= 12) -> s"max block ${shape.maxBlock} must stay <= 12 names",
        (2 * shape.impliedPairs <= 2000000L) ->
          s"implied pairs ${shape.impliedPairs} must fit the single-collect CC")
      case "er_dense" => Seq(
        (shape.impliedPairs > settings.densePairEstimate) ->
          s"implied pairs ${shape.impliedPairs} must exceed densePairEstimate=${settings.densePairEstimate}",
        (shape.maxBlock <= cap) -> s"max block ${shape.maxBlock} must stay under the governor cap $cap")
      case other => Seq(false -> s"no shape contract for workload $other")
    }
    checks.collect { case (false, msg) => msg }
  }

  /** The regimes each ER workload must run in, given what the job reported
    * (`Matching.lastStageStats`, `Cluster.lastStats`). */
  def regimeViolations(workload: String, stage: Option[String], cc: Option[String]): Seq[String] = {
    val checks = workload match {
      case "er_bulk" => Seq(
        stage.contains("materialize") -> s"matching regime ${stage.orNull} != materialize",
        cc.contains("local-union-find") -> s"CC regime ${cc.orNull} != local-union-find")
      case "er_dense" => Seq(
        stage.contains("dense-recompute") -> s"matching regime ${stage.orNull} != dense-recompute")
      case other => Seq(false -> s"no regime contract for workload $other")
    }
    checks.collect { case (false, msg) => msg }
  }
}

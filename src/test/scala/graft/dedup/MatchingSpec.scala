package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MatchingSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  /** Random name table with collisions and multi-block structure. */
  private lazy val stats = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val names = (1 to 300).map { i =>
      val base = Seq("ACME", "ACMA", "ACNE", "BOLT", "BELT", "BOLD", "CORP X", "CORP Y")(rnd.nextInt(8))
      val suffix = if (rnd.nextBoolean()) s" ${rnd.nextInt(10)}" else ""
      (i.toLong, base + suffix)
    }
    val derived = Normalize.withDerived(names.toDF("id", "name"), "name", "id")
    Matching.nameStats(derived).cache()
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, Double)] =
    df.select("a_name", "b_name", "ratio").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

  test("salted pair join is exactly the plain self-join, any salt") {
    // plain reference: unsalted equi-join with a<b residual
    val a = stats.select(col("block_key"), col("base_name").as("a_name"),
      col("token_key").as("a_tk"))
    val b = stats.select(col("block_key"), col("base_name").as("b_name"),
      col("token_key").as("b_tk"))
    val plain = a.join(b, Seq("block_key")).where(col("a_name") < col("b_name"))
      .withColumn("ratio", graft.functions.functions.jaro_winkler(col("a_name"), col("b_name")))
      .withColumn("token_match", col("a_tk") === col("b_tk"))
      .where((col("token_match") && col("ratio") >= 0.85) || col("ratio") >= 0.90)
    val expected = pairSet(plain)
    assert(expected.nonEmpty)
    for (salt <- Seq(1, 2, 7, 96)) {
      assert(pairSet(Matching.qualifyingPairs(stats, salt = salt)) == expected,
        s"salt=$salt")
    }
  }

  test("cost governor: drop policy excludes over-cap blocks, keeps the rest intact") {
    val full = pairSet(Matching.qualifyingPairs(stats,
      DedupSettings(maxBlockNames = None)))
    val blockSizes = stats.groupBy("block_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cap = blockSizes.values.max - 1
    val capped = Matching.qualifyingPairs(stats,
      DedupSettings(maxBlockNames = Some(cap), hotBlockWindow = 0))
    assert(pairSet(capped).subsetOf(full))
    assert(pairSet(capped).size < full.size)
    // no pair from an over-cap block survives
    val bigBlocks = blockSizes.filter(_._2 > cap).keySet
    val cappedBlocks = capped.select("block_key").distinct().collect()
      .map(_.getString(0)).toSet
    assert(cappedBlocks.intersect(bigBlocks).isEmpty)
  }

  test("cost governor default: over-cap blocks switch to sorted-neighborhood") {
    val blockSizes = stats.groupBy("block_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cap = blockSizes.values.max - 1
    val bigBlocks = blockSizes.filter(_._2 > cap).keySet
    val governed = pairSet(Matching.qualifyingPairs(stats,
      DedupSettings(maxBlockNames = Some(cap), hotBlockWindow = 10)))
    // expected = full pairing on under-cap blocks + SNP(10) on the rest
    val isHot = col("block_key").isin(bigBlocks.toSeq: _*)
    val expected =
      pairSet(Matching.qualifyingPairs(stats.filter(!isHot),
        DedupSettings(maxBlockNames = None))) ++
        pairSet(Matching.sortedNeighborhoodPairs(stats.filter(isHot), 10))
    assert(governed == expected)
    assert(governed.nonEmpty)
  }

  test("sorted-neighborhood pairs are a subset of full pairs and adjacent-complete") {
    val full = pairSet(Matching.qualifyingPairs(stats))
    val sn = pairSet(Matching.sortedNeighborhoodPairs(stats, window = 3))
    assert(sn.nonEmpty && sn.subsetOf(full))
    // window = max block size  ⇒  identical to full pairing
    val maxBlock = stats.groupBy("block_key").count().agg(max("count")).collect()(0).getLong(0)
    val snAll = pairSet(Matching.sortedNeighborhoodPairs(stats, window = maxBlock.toInt + 1))
    assert(snAll == full)
  }

  test("block histogram: one row sizes the index; the salt follows block skew") {
    import spark.implicits._
    val h = Matching.blockHistogram(stats)
    val sizes = stats.groupBy("block_key").count().collect().map(_.getLong(1))
    assert(h.names == sizes.sum && h.maxBlock == sizes.max)
    assert(h.impliedPairs == sizes.map(n => n * (n - 1) / 2).sum)
    assert(h.hotKeys.isEmpty && h.smallPairs == h.impliedPairs)
    val capped = Matching.blockHistogram(stats, DedupSettings(maxBlockNames = Some(sizes.max - 1)))
    assert(capped.hotKeys.nonEmpty && capped.smallMaxBlock < h.maxBlock)
    assert(capped.smallNames + sizes.filter(_ > sizes.max - 1).sum == h.names)

    def index(names: Seq[String]) = Matching.nameStats(Normalize.withDerived(
      names.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("id", "name"), "name", "id"))
    val cores = spark.sparkContext.defaultParallelism
    // one hot block: its share of the pairs is 1, so it is split
    val oneBlock = Matching.blockHistogram(index((0 until 200).map(i => f"HOTCO X$i%03d")))
    assert(oneBlock.impliedPairs == 200L * 199 / 2)
    assert(Matching.saltChunks(oneBlock, cores) > 1)
    // many blocks of two: no single block is worth a salt
    val spread = Matching.blockHistogram(index((0 until 500).flatMap(i =>
      Seq(f"FIRM$i%03d BETA", f"FIRM$i%03d BETE"))))
    assert(spread.maxBlock == 2 && Matching.saltChunks(spread, cores) == 1)
    // no pairs at all
    assert(Matching.saltChunks(Matching.blockHistogram(index(Seq("SOLO"))), cores) == 1)
  }
}

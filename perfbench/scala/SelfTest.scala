package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`.
  * Runs every check and exits non-zero if any failed. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).getOrElse(false)
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def bytesOf(dir: String): Seq[(String, Seq[Byte])] = {
    val s = Files.list(Paths.get(dir))
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path]).sortBy(_.getFileName.toString)
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toSeq
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val work = args(0)

    // --- generators: the same seed gives byte-identical inputs
    check("er_bulk CSV is byte-identical for one seed") {
      Gen.csvBytes(Gen.bulkRows(7, 3000)).sameElements(Gen.csvBytes(Gen.bulkRows(7, 3000)))
    }
    check("neighbouring seeds give unrelated inputs") {
      val a = Gen.bulkRows(7, 3000).map(_.name).toSet
      val b = Gen.bulkRows(8, 3000).map(_.name).toSet
      (a intersect b).size < 300
    }
    check("er_dense rows are identical for one seed") {
      Gen.denseRows(7, 2, 64, 4).sameElements(Gen.denseRows(7, 2, 64, 4))
    }
    check("docs are identical for one seed, with ground truth") {
      Gen.docs(7, 500).sameElements(Gen.docs(7, 500)) && Gen.docs(7, 500).length == 500
    }
    check("names are ASCII") {
      (Gen.bulkRows(3, 2000) ++ Gen.denseRows(3, 2, 64, 4)).forall(_.name.forall(_ < 128))
    }

    // --- percentile rule
    check("tail: 20 samples -> 10th smallest at p50") {
      Checks.tail((1 to 20).map(_.toDouble)) == ((10.5, 10.0, 50.0, 20))
    }
    check("tail: 40 samples -> p75 with 10 beyond") {
      val (_, v, p, n) = Checks.tail((1 to 40).reverse.map(_.toDouble))
      v == 30.0 && p == 75.0 && n == 40
    }
    check("tail: fewer than 11 samples is refused") {
      scala.util.Try(Checks.tail((1 to 10).map(_.toDouble))).isFailure
    }

    // --- precision/recall math on hand-built clusters
    check("pair precision/recall on hand-built clusters") {
      // cluster 0: entity A x3 + entity B x1; cluster 1: entity B x2
      // output pairs 6 + 1 = 7, true pairs 3 + 3 = 6, shared 3 + 1 = 4
      val (p, r) = Checks.pairPrecisionRecall(Seq((0L, 10L, 3L), (0L, 11L, 1L), (1L, 11L, 2L)))
      p == 4.0 / 7 && r == 4.0 / 6
    }
    check("pair precision/recall of singletons is perfect, not NaN") {
      Checks.pairPrecisionRecall(Seq((0L, 1L, 1L), (1L, 2L, 1L))) == ((1.0, 1.0))
    }
    check("stream precision/recall on hand-built pairs") {
      // families: {1,2,3}, {4,5}, {6}; pairs (1,2) good, (2,4) bad, (3,1) good
      val fam = Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1, 6L -> 2)
      val (p, r) = Checks.streamPrecisionRecall(Seq((1L, 2L), (2L, 4L), (3L, 1L), (1L, 2L)), fam)
      // distinct pairs 3, good 2; non-first members {2,3,5}, recovered {2,3}
      p == 2.0 / 3 && r == 2.0 / 3
    }

    // --- span self time
    check("self time subtracts the union of child intervals") {
      val spans = Seq(Span("root", -1, 0L, 10000000000L), Span("a", 0, 1000000000L, 3000000000L),
        Span("b", 0, 2000000000L, 5000000000L), Span("c", 0, 7000000000L, 8000000000L),
        Span("c1", 3, 7000000000L, 7500000000L))
      val self = Tracer.selfTimes(spans)
      self("root") == 5.0 && self("a") == 2.0 && self("c") == 0.5 && self("c1") == 0.5
    }

    // --- regime contract
    val bulkShape = Checks.Shape(12000, 5500, 4100, 6, 1700)
    check("er_bulk shape passes its contract") { Checks.shapeViolations("er_bulk", bulkShape).isEmpty }
    check("er_bulk contract rejects a block of 40 names") {
      Checks.shapeViolations("er_bulk", bulkShape.copy(maxBlock = 40)).nonEmpty
    }
    check("er_bulk contract rejects a name index the driver fast path would take") {
      Checks.shapeViolations("er_bulk", bulkShape.copy(names = 3000)).nonEmpty
    }
    check("er_dense contract rejects too few implied pairs") {
      Checks.shapeViolations("er_dense", Checks.Shape(9000, 8192, 8, 1024, 3000000)).nonEmpty
    }
    check("regime stamp rejects the wrong regimes") {
      Checks.regimeViolations("er_bulk", Some("materialize"), Some("local-union-find")).isEmpty &&
        Checks.regimeViolations("er_bulk", Some("driver-fast-path"), None).nonEmpty &&
        Checks.regimeViolations("er_bulk", Some("materialize"), Some("min-edge-contraction")).nonEmpty &&
        Checks.regimeViolations("er_dense", Some("materialize"), None).nonEmpty &&
        Checks.regimeViolations("er_dense", Some("dense-recompute"), None).isEmpty
    }

    val spark = Main.session(work)
    try {
      import spark.implicits._
      // --- written inputs are byte-identical too
      check("docs_stream files are byte-identical for one seed") {
        val docs = Gen.docs(5, 600)
        StreamBench.writeFiles(spark, docs, s"$work/docs-a")
        StreamBench.writeFiles(spark, docs, s"$work/docs-b")
        val a = bytesOf(s"$work/docs-a")
        a.length == 3 && a == bytesOf(s"$work/docs-b")
      }
      check("er_dense parquet is byte-identical for one seed") {
        val rows = Gen.denseRows(5, 2, 64, 4)
        ErBench.writeInput(spark, "er_dense", rows, s"$work/dense-a")
        ErBench.writeInput(spark, "er_dense", rows, s"$work/dense-b")
        bytesOf(s"$work/dense-a").map(_._2) == bytesOf(s"$work/dense-b").map(_._2)
      }

      // --- a mis-shaped input is caught from a real run's report
      check("a dense-shaped upload fails the er_bulk shape contract") {
        val rows = Gen.denseRows(5, 2, 100, 4)
        ErBench.writeInput(spark, "er_dense", rows, s"$work/mis.parquet")
        ErBench.runJob(spark, s"$work/mis.parquet", s"$work/mis-out")
        val sh = ErBench.shape(spark.read.parquet(s"$work/mis-out/company_duplicates_final"))
        sh.rows == rows.length && sh.maxBlock > 12 && Checks.shapeViolations("er_bulk", sh).nonEmpty
      }

      // --- invariant checker: accepts a real output, rejects corruptions
      val bulk = Gen.bulkRows(9, 400)
      ErBench.writeInput(spark, "er_bulk", bulk, s"$work/inv/in.csv")
      ErBench.runJob(spark, s"$work/inv/in.csv", s"$work/inv/out")
      val good = spark.read.parquet(s"$work/inv/out/company_duplicates_final").cache()
      val n = bulk.length.toLong
      check("invariants hold on a real report") { Checks.invariants(good, n).isEmpty }
      check("invariants reject a duplicated row") {
        Checks.invariants(good.union(good.limit(1)), n).nonEmpty
      }
      check("invariants reject a dropped row") {
        Checks.invariants(good.filter($"row_order" =!= 5), n).nonEmpty
      }
      check("invariants reject a cluster_id that is not the cluster minimum") {
        val multi = good.filter($"cluster_size" > 1).select($"cluster_id").head().getLong(0)
        val bad = good.withColumn("cluster_id",
          org.apache.spark.sql.functions.when($"cluster_id" === multi, multi + 100000L)
            .otherwise($"cluster_id"))
        Checks.invariants(bad, n).exists(_.contains("min row_order"))
      }
      check("invariants reject a wrong cluster_size") {
        Checks.invariants(good.withColumn("cluster_size", $"cluster_size" + 1), n)
          .exists(_.contains("cluster_size"))
      }
      check("invariants reject a confidence off the ladder") {
        val bad = good.withColumn("confidence",
          org.apache.spark.sql.functions.when($"row_order" === 3, 0.91).otherwise($"confidence"))
        Checks.invariants(bad, n).exists(_.contains("ladder"))
      }
      check("the report digest ignores row order") {
        Checks.tableDigest(good) == Checks.tableDigest(good.orderBy($"row_order".desc).repartition(3))
      }
      check("the report digest sees a one-value change") {
        Checks.tableDigest(good) !=
          Checks.tableDigest(good.withColumn("canonical_name",
            org.apache.spark.sql.functions.when($"row_order" === 3, "X").otherwise($"canonical_name")))
      }
    } finally spark.stop()

    println(if (failures == 0) "self-test: all checks passed" else s"self-test: $failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}

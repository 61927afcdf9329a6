package graft

import org.apache.spark.sql.functions._

/** Accuracy bound for the sketch aggregates (no cross-engine oracle —
  * sketch layouts are engine-specific, so correctness is an error bound
  * against the exact answer instead).
  */
class SketchSpec extends SparkSpec {
  test("approx_percentile agrees with exact percentile_disc at high accuracy") {
    val orders = Tables.load(spark, "/root/testdata/sf0.01", "orders")
    // raw sketch values (the a13 gate itself now emits exact quantiles +
    // in-band booleans for the oracle; the numeric bound lives here)
    val approx = orders.groupBy("o_orderpriority")
      .agg(approx_percentile(
        col("o_totalprice"), array(lit(0.5), lit(0.9)), lit(10000)).as("qs"))
      .select(col("o_orderpriority"),
        element_at(col("qs"), 1).as("p50"), element_at(col("qs"), 2).as("p90"))
    val exact = orders.groupBy("o_orderpriority").agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("e50"),
      expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("e90"))
    val worst = approx.join(exact, "o_orderpriority")
      .select(greatest(
        abs(col("p50") - col("e50")) / col("e50"),
        abs(col("p90") - col("e90")) / col("e90")).as("err"))
      .agg(max("err")).head().getDouble(0)
    assert(worst <= 0.01, s"worst relative quantile error $worst")
  }

  test("kll_*_double built-ins: merged states stay in the rank-error band, old zones too") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    // per-month states → one merge → quantile estimates, never rescanning rows
    val merged = li.groupBy(date_format(col("l_shipdate"), "yyyy-MM"))
      .agg(expr("kll_sketch_agg_double(cast(l_extendedprice as double))").as("sk"))
      .agg(expr(
        "kll_sketch_get_quantile_double(kll_merge_agg_double(sk), array(0.1d, 0.5d, 0.9d))").as("q"))
      .head().getSeq[Double](0)
    val single = li
      .agg(expr("kll_sketch_get_quantile_double(" +
        "kll_sketch_agg_double(cast(l_extendedprice as double)), array(0.1d, 0.5d, 0.9d))").as("q"))
      .head().getSeq[Double](0)
    val n = li.count().toDouble
    def assertInBand(what: String, qs: Seq[Double]): Unit =
      for ((p, v) <- Seq(0.1, 0.5, 0.9).zip(qs)) {
        val rank = li.filter(col("l_extendedprice") <= v).count() / n
        assert(math.abs(rank - p) <= 0.04, s"$what rank($v) = $rank, want ~$p")
      }
    assertInBand("merged", merged)
    assertInBand("single-pass", single)

    // a stats zone written before the built-ins: its value_kll bytes are
    // what graft's own KLL aggregate wrote (a datasketches
    // KllDoublesSketch at k = 200, serialized with toByteArray). A
    // built-in increment merges into it and the rollup decodes both.
    import spark.implicits._
    import graft.operators.Profiling
    val tmp = tempDir("graft_kllold")
    val priced = li.select(
      date_format(col("l_shipdate"), "yyyy-MM").as("month"),
      col("l_extendedprice").cast("double").as("price"), col("l_partkey"))
    val cutoff = "1995-06"
    val before = priced.filter(col("month") < cutoff)
    val oldBytes = before.select("month", "price").collect()
      .groupBy(_.getString(0)).toSeq.map { case (m, rows) =>
        val sk = org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(200)
        rows.foreach(r => sk.update(r.getDouble(1)))
        (m, sk.toByteArray)
      }.toDF("epoch", "value_kll")
    Profiling.writeStatsZone(before, s"$tmp/built",
      epochExpr = "month", groupExpr = "'all'", valueExpr = "price", keyExpr = "l_partkey")
    spark.read.parquet(s"$tmp/built").drop("value_kll").join(oldBytes, "epoch")
      .write.parquet(s"$tmp/zone")
    assert(Profiling.mergeStatsIncrement(spark, priced.filter(col("month") >= cutoff),
      s"$tmp/zone", epochExpr = "month", groupExpr = "'all'", valueExpr = "price",
      keyExpr = "l_partkey", batchId = Some(0L)))
    val roll = Profiling.rollupStats(
      Profiling.readStatsZone(spark, s"$tmp/zone"), Seq(0.1, 0.5, 0.9)).head()
    assert(roll.getAs[Long]("n_rows") == n.toLong)
    assertInBand("old+built-in zone", roll.getSeq[Double](roll.fieldIndex("value_quantiles")))
  }

  test("no function GraftExtensions injects shadows a Spark built-in") {
    // a future Spark shipping a same-named built-in must fail here, not
    // be silently overridden by the session extension
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = injected += f._1.funcName
    }
    new GraftExtensions()(ext)
    assert(injected.nonEmpty)
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
    val shadowing = injected.filter(name =>
      builtin.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
    assert(shadowing.isEmpty, s"graft functions shadow Spark built-ins: $shadowing")
  }

  test("freq_items_agg: planted heavy hitters survive per-group merge with valid bounds") {
    import spark.implicits._
    // 40 uniform background tokens ×50 + 2 hot ×1000 → hot ≈ 25% each;
    // map size 16 (< 42 distinct, ε = 3.5/16 ≈ 21.9%) forces real purges
    val rows =
      (0 until 2000).map(i => (i % 4, s"bg${i % 40}")) ++
      (0 until 2000).map(i => (i % 4, s"h${i % 2}"))
    val toks = rows.toDF("g", "token")
    val items = toks.groupBy("g").agg(expr("freq_items_agg(token, 16)").as("sk"))
      .agg(expr("freq_top_items(freq_items_merge_agg(sk))").as("fis"))
      .select(explode(col("fis")).as("fi"))
      .select(col("fi.item").as("item"), col("fi.lb").as("lb"), col("fi.ub").as("ub"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    for (hot <- Seq("h0", "h1")) {
      assert(items.contains(hot), s"heavy hitter $hot purged — MG guarantee violated")
      val (lb, ub) = items(hot)
      assert(lb <= 1000L && 1000L <= ub, s"$hot bounds [$lb,$ub] exclude exact 1000")
    }
  }

  test("t12's deterministic threshold dominates the library's a-priori error") {
    // the gate filters on n_exact > 3.5/32 · N; capture is guaranteed for
    // anything above the sketch's true a-priori error, so the formula
    // must upper-bound it at every stream length the gate can see
    for (n <- Seq(1000L, 50000L, 500000L, 50000000L)) {
      val apriori = org.apache.datasketches.frequencies.ItemsSketch.getAprioriError(32, n)
      assert(apriori <= 3.5 * n / 32.0 + 1e-9,
        s"a-priori error $apriori exceeds gate threshold ${3.5 * n / 32.0} at n=$n")
    }
  }

  test("bucketizeByQuantiles: right-closed bins, exact totality on a known frame") {
    import spark.implicits._
    val df = (1 to 100).toDF("v")
    val binned = graft.operators.Profiling.bucketizeByQuantiles(df, "v", Seq(25.0, 50.0, 75.0))
    val counts = binned.groupBy("bin").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(0 -> 25L, 1 -> 25L, 2 -> 25L, 3 -> 25L),
      s"right-closed quartile bins must hold exactly 25 each: $counts")
    assert(binned.filter(col("bin").isNull).isEmpty, "binning must be total")
  }

  test("approx_count_distinct stays within 5% of exact at rsd=0.02") {
    val li = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact"))
    val approx = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
    val worst = exact.join(approx, "l_returnflag")
      .select((abs(col("approx") - col("exact")) / col("exact")).as("err"))
      .agg(max("err")).head().getDouble(0)
    assert(worst <= 0.05, s"worst relative error $worst")
  }
}

package graft

/** Physical-plan audits for the headline queries — the properties that
  * decide whether a plan survives a 100× scale-up: predicate pushdown to
  * the scan, column pruning, broadcast dims, map-side partial
  * aggregation. These assert the plan SHAPE, not timings, so they hold on
  * any host.
  */
class PlanAuditSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q6: range predicates reach the parquet scan as pushed filters") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      s"filters not pushed:\n$p")
  }

  test("q5: snowflake dims join as broadcasts, not shuffles") {
    val p = plan("q5_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("q1: aggregation combines map-side before the shuffle") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("t5: documents scan prunes to the two referenced columns") {
    val p = plan("t5_tfidf")
    assert(p.contains("doc_id") && !p.contains("n_chars") && !p.contains("source"),
      s"scan reads unreferenced columns:\n$p")
  }

  test("q7: both nation roles broadcast; no cartesian anywhere") {
    val p = plan("q7_volume_shipping")
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      s"unexpected join strategy:\n$p")
  }

  test("tj2: range join runs as binned equi-join, not nested loop") {
    val p = plan("tj2_range_ship_window")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated:\n$p")
  }

  test("IVF quantizer sample: no global sort, driver payload O(sampleSize)") {
    val emb = Tables.load(spark, dir, "embeddings")
    val p = graft.operators.SimilaritySearch
      .trainingSample(emb, "embedding", 64, 42L)
      .queryExecution.executedPlan.toString
    // orderBy(rand).limit compiled to TakeOrdered (per-partition sort +
    // driver merge of up-to-sampleSize rows PER PARTITION) — the scale
    // bug this plan must not regress to
    assert(!p.contains("TakeOrdered") && !p.contains("Sort "),
      s"sample plan sorts:\n$p")
    assert(p.contains("CollectLimit") || p.contains("GlobalLimit"),
      s"sample plan lacks a limit:\n$p")
  }

  test("q4: EXISTS runs as a semi join with the quarter filter pushed to the orders scan") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), s"no semi join:\n$p")
    assert(p.contains("PushedFilters:") && p.contains("o_orderdate"),
      s"orders range not pushed:\n$p")
  }

  test("q9: part name filter pushes to the scan; nation broadcasts") {
    val p = plan("q9_product_profit")
    assert(p.contains("StringContains(p_name,red)"), s"part filter not pushed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation not broadcast:\n$p")
  }

  test("q16: supplier exclusion is an anti join; distinct agg is two-phase") {
    val p = plan("q16_supplier_cnt")
    assert(p.contains("LeftAnti"), s"NOT IN not planned as anti join:\n$p")
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("q21: double correlation is semi+anti joins, no cartesian, limit is TakeOrdered") {
    val p = plan("q21_waiting_suppliers")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), s"correlations degenerated:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 is a global sort:\n$p")
  }

  test("c4: running total is de-skewed — full-data window keys on (source, sub-bucket)") {
    val p = plan("c4_token_budget")
    assert(p.contains("Window"), s"no window operator:\n$p")
    // the full-corpus running-total window must partition by the md5
    // range-bucket alongside source (spec shape: partition cols first,
    // then "rk ASC" sort), so no single reducer owns a whole source
    // domain at 100 TB
    assert("windowspecdefinition\\(source#\\d+, bkt#\\d+, rk#\\d+ ASC".r.findFirstIn(p).isDefined,
      s"big window not keyed on (source, bkt):\n$p")
    // the old skewed shape — partitioned by source alone, sorted by rk —
    // must be gone; the only source-alone window left is the offsets one
    // over the tiny per-bucket aggregate (sorted by bkt, ≤256 rows/source)
    assert("windowspecdefinition\\(source#\\d+, rk#\\d+ ASC".r.findFirstIn(p).isEmpty,
      s"skewed source-only window still present:\n$p")
    // offsets come back as a broadcast, not another full shuffle
    assert(p.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$p")
  }

  test("z1: bucketed-zone star join broadcasts the dim; only the final agg shuffles") {
    val p = plan("z1_bucketed_zone")
    assert(p.contains("BroadcastHashJoin"), s"dim not broadcast:\n$p")
    // the zone side must reach the join without any repartitioning: the
    // ONLY exchanges allowed are the final aggregation's (tiny, post
    // partial-agg) and the broadcast one feeding the dim
    val shuffles = "Exchange hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(shuffles.subsetOf(Set("c_mktsegment")),
      s"unexpected shuffle keys $shuffles:\n$p")
  }

  test("tj4: nearest as-of is windows + hash join — no nested-loop inequality join") {
    val p = plan("tj4_asof_nearest_purchase")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"inequality degenerated to a nested loop:\n$p")
    assert(p.contains("Window"), s"as-of passes not window-based:\n$p")
  }

  test("c7: weighted sample rides the de-skewed window; total comes back as a broadcast") {
    val p = plan("c7_weighted_sample")
    // the single stratum is a constant, so Catalyst folds it out of the
    // partition key — the big window must still key on the md5 sub-bucket
    assert("windowspecdefinition\\((source#\\d+, )?bkt#\\d+".r.findFirstIn(p).isDefined,
      s"running total not sub-bucketed:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"scalar total not broadcast:\n$p")
  }

  test("bf1: bloom pre-filter evaluates on the fact side BEFORE the join") {
    val p = plan("bf1_bloom_prefilter_join")
    assert(p.contains("might_contain"), s"bloom filter absent from the plan:\n$p")
    // the predicate must sit in a Filter under the join, not above it —
    // the whole point is rows dying before the shuffle
    val filterIdx = p.indexOf("might_contain")
    val joinIdx = p.indexOf("SortMergeJoin") max p.indexOf("ShuffledHashJoin") max
      p.indexOf("BroadcastHashJoin")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"bloom filter not below the join in the plan tree:\n$p")
  }

  test("AQE matrix: bucketed no-shuffle and bloom-below-join hold in the FINAL adaptive plan") {
    // every graft session runs with AQE ON (Sessions.builder) — so every
    // audit in these suites already planned under AQE. This test closes
    // the remaining gap: AQE re-plans AT RUNTIME as stages finish, so the
    // guarantees are asserted here on the post-execution final plan
    // (isFinalPlan=true), not the initial one.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "graft sessions must run AQE-on; the audits would otherwise test a non-prod planner")
    import spark.implicits._
    import graft.sources.Zones
    val wh = tempDir("aqe_matrix")
    val tbl = "graft_aqe_bucket_zone"
    try Sessions.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { scoped =>
      val day1 = (1 to 200).map(i => (i.toLong, 10, i * 1.0)).toDF("product_sk", "date_sk", "price")
      Zones.upsertBucketed(scoped, tbl, s"$wh/agg", day1,
        Seq("product_sk", "date_sk"), "date_sk", Seq("product_sk"), 8)
      // the daily merge shape: bucketed zone ⋈ in-memory increment, as the
      // upsert returns it (bound to its own scoped session)
      val increment = (50 to 80).map(i => (i.toLong, 10, -1.0)).toDF("product_sk", "date_sk", "price")
      val mergeShape = Zones.upsertBucketed(scoped, tbl, s"$wh/agg", increment,
        Seq("product_sk", "date_sk"), "date_sk", Seq("product_sk"), 8)
      mergeShape.collect() // runtime re-planning has now happened
      val root = mergeShape.queryExecution.executedPlan
      root match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          assert(a.toString.contains("isFinalPlan=true"), s"plan not finalized:\n$a")
        case p => fail(s"expected an adaptive plan under AQE, got ${p.getClass}:\n$p")
      }
      assertZoneSideUnshuffled(mergeShape, "bucketed merge under AQE (final plan)")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // bloom pre-filter: the fact-side kill must survive AQE's runtime
    // re-planning too — same below-the-join assert, final plan
    val bf = SparkEntry.queries("bf1_bloom_prefilter_join")(spark, dir)
    bf.collect()
    val p = bf.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), s"bf1 plan not finalized:\n$p")
    assert(p.contains("might_contain"), s"bloom filter absent from the final plan:\n$p")
    val filterIdx = p.indexOf("might_contain")
    val joinIdx = p.indexOf("SortMergeJoin") max p.indexOf("ShuffledHashJoin") max
      p.indexOf("BroadcastHashJoin")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"bloom filter not below the join in the final adaptive plan:\n$p")
  }

  test("k3: IVF probe runs through the fused NearestCells kernel, flat plan") {
    val df = SparkEntry.queries("k3_knn_ivf")(spark, dir)
    val analyzed = df.queryExecution.analyzed
    val kernels = analyzed.expressions.flatMap(_.collect {
      case n: graft.functions.NearestCells => n
    })
    val hasKernel = analyzed.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[graft.functions.NearestCells])) => p
    }.nonEmpty
    assert(hasKernel || kernels.nonEmpty, "nearest_cells kernel not in plan")
    // the literal-array fallback at nCells=256×dim64 would put 16k+
    // Literal nodes in the tree; the kernel keeps the matrix out of it
    val literalCount = analyzed.expressions.map(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Literal => l
    }.size).sum
    assert(literalCount < 1000, s"plan carries $literalCount literals — matrix leaked into tree")
  }

  test("d9: incremental dedup scans the signature zone; no corpus re-shingle in the plan") {
    import spark.implicits._
    val zone = tempDir("d9_audit") + "/idx"
    // in-memory batches: the ONLY legitimate file scan in the incremental
    // plan is then the signature zone itself
    val day1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val day2 = Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta iota")).toDF("doc_id", "text")
    graft.operators.Dedup.writeSignatureIndex(
      spark, zone, day1, "doc_id", "text", 3, 32, mode = "overwrite")
    val pairs = graft.operators.Dedup.minhashLshPairsIncremental(
      graft.operators.Dedup.readSignatureIndex(spark, zone), day2,
      "doc_id", "text", 3, 32, 16, 0.6)
    val p = pairs.queryExecution.executedPlan.toString
    val scans = p.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty, s"no file scan of the index zone:\n$p")
    assert(scans.forall(_.contains("d9_audit")),
      s"plan scans files beyond the signature zone:\n${scans.mkString("\n")}")
    // and the index actually served: the cross-batch pair is found
    assert(pairs.filter(
      org.apache.spark.sql.functions.col("id_a") === 1L &&
        org.apache.spark.sql.functions.col("id_b") === 3L).count() == 1)
  }

  test("d9/e3: zone row-prefilter rides the scan; confirm fetch pushes candidate ids to parquet") {
    import spark.implicits._
    // d9 shape: the signature zone's probe plan must carry (a) the
    // bloom row-prefilter as a filter over the STORED sig arrays (no
    // corpus-wide explode before a bloom can drop rows) and (b) the
    // confirm stage's hgrams fetch as a PUSHED In(id, ...) — the
    // pushable predicate that lets parquet row-group stats skip the
    // heavy column for row groups holding no candidate.
    val zone = tempDir("d9_fetch_audit") + "/idx"
    val day1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val day2 = Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta iota")).toDF("doc_id", "text")
    graft.operators.Dedup.writeSignatureIndex(
      spark, zone, day1, "doc_id", "text", 3, 32, mode = "overwrite")
    val pairs = graft.operators.Dedup.minhashLshPairsIncremental(
      graft.operators.Dedup.readSignatureIndex(spark, zone), day2,
      "doc_id", "text", 3, 32, 16, 0.6)
    val p = pairs.queryExecution.executedPlan.toString
    // the row-prefilter must sit ON the zone scan (a DataFilter of the
    // FileScan itself — the OR chain of per-band bloom probes over the
    // stored sig arrays), not as a post-scan Filter node above an
    // exploded frame
    assert(p.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("might_contain")),
      "bloom row-prefilter absent from the zone FileScan's data filters " +
        s"(scan lines: ${p.linesIterator.filter(_.contains("FileScan")).mkString(" | ").take(2000)})")
    assert(p.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("In(id")),
      "confirm fetch not pushed as In(id, ...) to the zone scan " +
        s"(scan lines: ${p.linesIterator.filter(_.contains("FileScan")).mkString(" | ").take(2000)})")
    assert(pairs.filter(
      org.apache.spark.sql.functions.col("id_a") === 1L &&
        org.apache.spark.sql.functions.col("id_b") === 3L).count() == 1)

    // the fetch helper's fallback contract: an over-bound id set (or an
    // empty one) returns the zone UNFILTERED — the streamed join is the
    // honest plan once candidates are a material fraction of the corpus
    val zoneDf = graft.operators.Dedup.readSignatureIndex(spark, zone)
    import org.apache.spark.sql.functions.col
    val big = spark.range(graft.operators.Dedup.ConfirmFetchMaxIds + 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    assert(graft.operators.Dedup.pruneToCandidateIds(zoneDf, "id", big) eq zoneDf,
      "over-bound candidate set must leave the zone frame untouched")
    val none = big.limit(0)
    assert(graft.operators.Dedup.pruneToCandidateIds(zoneDf, "id", none) eq zoneDf,
      "empty candidate set must leave the zone frame untouched")
    val two = Seq((1L, 3L)).toDF("id_a", "id_b")
    assert(graft.operators.Dedup.pruneToCandidateIds(zoneDf, "id", two).count() == 1,
      "bounded candidate set must fetch exactly the zone-resident candidates")
  }

  test("a21: stats-zone rollup's only file scan is the zone — no raw-table rescan") {
    val zone = tempDir("a21_audit") + "/stats"
    graft.operators.Profiling.writeStatsZone(
      Tables.load(spark, dir, "lineitem"), zone,
      epochExpr = "date_format(l_shipdate, 'yyyy-MM')",
      groupExpr = "l_returnflag",
      valueExpr = "l_extendedprice",
      keyExpr = "l_partkey")
    val roll = graft.operators.Profiling.rollupStats(
      graft.operators.Profiling.readStatsZone(spark, zone), Seq(0.5, 0.9))
    val p = roll.queryExecution.executedPlan.toString
    val scans = p.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty, s"no file scan of the stats zone:\n$p")
    assert(scans.forall(_.contains("a21_audit")),
      s"plan scans files beyond the stats zone:\n${scans.mkString("\n")}")
    // and the states actually answer: exact counts survive the state path
    val n = roll.agg(org.apache.spark.sql.functions.sum("n_rows")).head().getLong(0)
    assert(n == Tables.load(spark, dir, "lineitem").count(),
      "state-summed row count diverges from the raw count")
  }

  test("e3: incremental embedding near-dup scans only the signature zone — no corpus re-hash") {
    import spark.implicits._
    val zone = tempDir("e3_audit") + "/idx"
    val rnd = new scala.util.Random(3)
    val corpus = (0L until 20L).map(i => (i, Array.fill(8)(rnd.nextGaussian()).toSeq))
      .toDF("id", "v")
    graft.operators.Dedup.writeEmbeddingSignatureIndex(
      spark, zone, corpus, "id", "v", bands = 4, bitsPerBand = 4, mode = "overwrite")
    val inc = (100L until 105L).map(i => (i, Array.fill(8)(rnd.nextGaussian()).toSeq))
      .toDF("id", "v")
    val pairs = graft.operators.Dedup.embeddingNearDupIncremental(
      graft.operators.Dedup.readEmbeddingSignatureIndex(spark, zone), inc,
      "id", "v", 0.9, bands = 4, bitsPerBand = 4)
    val p = pairs.queryExecution.executedPlan.toString
    val scans = p.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty, s"no file scan of the signature zone:\n$p")
    assert(scans.forall(_.contains("e3_audit")),
      s"plan scans files beyond the signature zone:\n${scans.mkString("\n")}")
  }

  test("k4: persisted-IVF query plan scans only the index zone — no train, no re-assign") {
    import spark.implicits._
    val zone = tempDir("k4_audit") + "/idx"
    val emb = Tables.load(spark, dir, "embeddings")
    graft.operators.SimilaritySearch.buildIvfIndex(
      spark, zone, emb, "vec_id", "embedding", nCells = 16)
    // in-memory queries: any file scan left in the query plan must be the
    // index zone (a train or re-assign step would drag the embeddings
    // source back in)
    val qData = emb
      .select(
        org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .limit(5).collect()
      .map(r => (r.getLong(0) + 1000000L, r.getSeq[Double](1)))
    val queries = qData.toSeq.toDF("vec_id", "embedding")
    val res = graft.operators.SimilaritySearch.ivfTopKPersisted(
      spark, zone, queries, "vec_id", "embedding", 5, nProbe = 4)
    val p = res.queryExecution.executedPlan.toString
    val scans = p.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty, s"no file scan of the index zone:\n$p")
    assert(scans.forall(_.contains("k4_audit")),
      s"query plan scans files beyond the index zone:\n${scans.mkString("\n")}")
    // probed-cell pruning (round 14): the assignments scan must carry the
    // probed-cell set as a PARTITION filter — unprobed cell directories
    // never enter the scan's file listing. (5 queries × nProbe 4 ≤ the
    // MaxPrunedCells cap, so the pruned plan is the contract here.)
    val assignScan = scans.filter(_.contains("assignments"))
    assert(assignScan.nonEmpty, s"no assignments scan in plan:\n$p")
    assert(assignScan.forall(l => l.contains("PartitionFilters: [cell") && l.contains("IN")),
      "probed-cell isin absent from the assignments scan's partition filters:\n" +
        assignScan.mkString("\n"))
    assert(res.count() > 0)
  }

  test("k5: IVF append day is a narrow map — no sampling, no scan of standing partitions") {
    import spark.implicits._
    val zone = tempDir("k5_audit") + "/idx"
    val emb = Tables.load(spark, dir, "embeddings")
    graft.operators.SimilaritySearch.buildIvfIndex(
      spark, zone, emb, "vec_id", "embedding", nCells = 16)
    val centroids = graft.operators.SimilaritySearch.readIvfCentroids(spark, zone)
    // in-memory increment: the append-day quantization frame must then
    // contain NO file scan at all (a train/re-assign step would drag the
    // corpus or the standing assignment partitions back in) and no Sample
    // node (the build-time quantizer sampler must not run on appends)
    val incData = emb
      .select(
        org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .limit(8).collect()
      .map(r => (r.getLong(0) + 700000L, r.getSeq[Double](1)))
    val inc = incData.toSeq.toDF("vec_id", "embedding")
    val assigned = graft.operators.SimilaritySearch.assignIncrement(
      inc, "vec_id", "embedding", centroids)
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Sample"), s"append-day plan samples (Lloyd machinery leaked in):\n$p")
    assert(!p.linesIterator.exists(_.contains("FileScan")),
      s"append-day plan scans standing files:\n$p")
    assert(assigned.count() == 8)
  }

  test("e2 at k=64: assignment runs through the fused NearestCells kernel, flat plan") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("e"))
    val cents = graft.operators.Clustering.centroids(
      vecs.withColumn("cluster",
        org.apache.spark.sql.functions.col("vec_id") % 64), "e", "cluster")
    val df = graft.operators.Clustering.assignFused(vecs, "vec_id", "e", cents)
    val analyzed = df.queryExecution.analyzed
    val hasKernel = analyzed.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[graft.functions.NearestCells])) => p
    }.nonEmpty
    assert(hasKernel, "nearest_cells kernel not in assignment plan")
    // the crossJoin form would put a k-row amplification in the plan; the
    // kernel keeps one scan + one broadcast join, and the 64×dim matrix
    // stays out of the expression tree
    val literalCount = analyzed.expressions.map(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Literal => l
    }.size).sum
    assert(literalCount < 1000, s"plan carries $literalCount literals — matrix leaked into tree")
  }

  test("e5: incremental semantic dedup scans the assignment zone; every join is an equi-join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val zone = tempDir("e5_audit") + "/assign"
    val rnd = new scala.util.Random(5)
    val day1 = (0L until 60L).map(i => (i, Seq.fill(8)(rnd.nextGaussian()))).toDF("vec_id", "e")
    graft.operators.Dedup.semanticDedup(day1, "vec_id", "e", 8, 2, 0.95)
      .select(col("vec_id").as("id"), col("cluster"))
      .join(day1.select(col("vec_id").as("id"), col("e").as("v")), "id")
      .write.parquet(zone)
    val inc = (100L until 110L).map(i => (i, Seq.fill(8)(rnd.nextGaussian()))).toDF("vec_id", "e")
    val out = graft.operators.Dedup.semanticDedupIncremental(
      spark.read.parquet(zone), inc, "vec_id", "e", 0.95)
    val p = out.queryExecution.executedPlan.toString
    // in-memory increment → the only legitimate FILE scan is the zone:
    // the daily path must never re-read (let alone re-cluster) the corpus
    // from anywhere else
    val scans = p.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("e5_audit")),
      s"plan scans files beyond the assignment zone:\n${scans.mkString("\n")}")
    // cluster-keyed candidate joins + vector join-backs are equi-joins;
    // an inequality fallback would put the quadratic on one task
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental semantic dedup fell back to an all-pairs join:\n$p")
    assert(out.count() == 10)
  }

  test("e5 via centroid state: daily plan carries NO corpus-scale centroid aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tempDir("e5_state_audit")
    val zone = s"$root/assign"
    val rnd = new scala.util.Random(7)
    val day1 = (0L until 60L).map(i => (i, Seq.fill(8)(rnd.nextGaussian()))).toDF("vec_id", "e")
    graft.operators.Dedup.semanticDedup(day1, "vec_id", "e", 8, 2, 0.95)
      .select(col("vec_id").as("id"), col("cluster"))
      .join(day1.select(col("vec_id").as("id"), col("e").as("v")), "id")
      .write.parquet(zone)
    // the maintained state zone: k rows of decimal sums + counts
    graft.operators.Clustering.centroidState(spark.read.parquet(zone), "v", "cluster", 8)
      .write.parquet(s"$root/state")
    val inc = (100L until 110L).map(i => (i, Seq.fill(8)(rnd.nextGaussian()))).toDF("vec_id", "e")
    val cents = graft.operators.Clustering.centroidsFromState(
      spark.read.parquet(s"$root/state"))
    // The centroid work happens EAGERLY at construction (the assignment
    // kernel collects centroids driver-side), so the audit captures the
    // plans of every action fired DURING construction via the SQL-
    // execution listener; a marker action flushes the FIFO bus so the
    // capture set is complete before asserting.
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            captured.add(e.physicalPlanDescription); ()
          case _ =>
        }
    }
    def awaitMarker(tag: String): Unit = {
      spark.range(1).select(col("id").as(tag)).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!captured.asScala.exists(_.contains(tag)) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(captured.asScala.exists(_.contains(tag)), "listener marker never arrived")
    }
    spark.sparkContext.addSparkListener(listener)
    val (viaState, rebuilt) =
      try {
        val rebuilt = graft.operators.Dedup.semanticDedupIncremental(
          spark.read.parquet(zone), inc, "vec_id", "e", 0.95)
        awaitMarker("audit_marker_rebuild")
        // control: the self-contained path DID aggregate the zone
        assert(captured.asScala.exists(_.contains("decimal_vector_mean")),
          "audit control broke: the self-contained path no longer shows the zone-wide mean")
        captured.clear()
        val viaState = graft.operators.Dedup.semanticDedupIncremental(
          spark.read.parquet(zone), inc, "vec_id", "e", 0.95, centroidsOpt = Some(cents))
        awaitMarker("audit_marker_state")
        // the state path's construction actions must NEVER aggregate the
        // zone for centroids — the derivation input is the k-row state
        assert(!captured.asScala.exists(_.contains("decimal_vector_mean")),
          s"state-supplied path still aggregates the corpus for centroids:\n" +
            captured.asScala.filter(_.contains("decimal_vector_mean")).mkString("\n---\n"))
        (viaState, rebuilt)
      } finally spark.sparkContext.removeSparkListener(listener)
    // lazy remainder: the only legitimate FILE scans are zone + state
    val pState = viaState.queryExecution.executedPlan.toString
    val scans = pState.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("e5_state_audit")),
      s"plan scans files beyond the zone/state:\n${scans.mkString("\n")}")
    // and the two paths agree bitwise
    assert(viaState.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(viaState).isEmpty,
      "state-derived centroids changed the incremental semantic verdicts")
    spark.catalog.clearCache()
  }

  test("batch SemDeDup kernel route: vector payloads cross exactly one exchange") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
      case q: QueryStageExec => q +: expand(q.plan)
      case _ => p +: p.children.flatMap(expand)
    }
    // integral ids, every cluster ≤ maxCluster → the kernel route handles
    // the whole corpus. The Lloyd loop is checkpoint-severed and the
    // labeled vectors ride the checkpoint, so the ONLY exchange allowed
    // to carry an array<double> payload in the final adaptive plan is
    // the group-by-cluster gather feeding the in-memory kernel — the
    // pair-row plan this replaced shipped vectors through every
    // candidate join (~80 GB of spill at the 100× probe scale).
    val rnd = new scala.util.Random(12)
    val vecs = (0L until 400L).map(i => (i, Seq.fill(8)(rnd.nextGaussian())))
      .toDF("vec_id", "e")
    val out = graft.operators.Dedup.semanticDedup(vecs, "vec_id", "e", 8, 2, 0.95)
    out.collect() // finalize the adaptive plan
    val vectorExchanges = expand(out.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if e.output.exists(a => a.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }) => e
    }
    assert(vectorExchanges.size == 1,
      s"expected exactly ONE vector-carrying exchange (the kernel gather), " +
        s"got ${vectorExchanges.size}:\n${vectorExchanges.mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("e4/t16: semantic dedup and BPE tokenize plans stay equi-join only") {
    import spark.implicits._
    val rnd = new scala.util.Random(6)
    val vecs = (0L until 80L).map(i => (i, Seq.fill(8)(rnd.nextGaussian()))).toDF("vec_id", "e")
    val e4 = graft.operators.Dedup.semanticDedup(vecs, "vec_id", "e", 8, 2, 0.95)
    val pe4 = e4.queryExecution.executedPlan.toString
    assert(!pe4.contains("CartesianProduct") && !pe4.contains("BroadcastNestedLoopJoin"),
      s"semanticDedup fell back to an all-pairs join:\n$pe4")
    val docs = Seq((1L, "a b c a b c d e"), (2L, "a b d e f g")).toDF("doc_id", "text")
    val t16 = graft.operators.TextAnalysis.bpeApply(docs, "doc_id", "text",
      graft.operators.TextAnalysis.bpeTrain(docs, "text", 4))
    val pt16 = t16.queryExecution.executedPlan.toString
    assert(!pt16.contains("CartesianProduct") && !pt16.contains("BroadcastNestedLoopJoin"),
      s"bpeApply fell back to an all-pairs join:\n$pt16")
    assert(t16.count() == 2)
  }

  test("zone probes: daily joins reach standing zones without a corpus-side exchange") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
      case q: QueryStageExec => q +: expand(q.plan)
      case _ => p +: p.children.flatMap(expand)
    }
    def scansZone(p: SparkPlan, tag: String): Boolean = expand(p).exists {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains(tag))
      case _ => false
    }
    val root = tempDir("zoneprobe_audit")
    // ── inverted fingerprint anti-join: the zone must enter NO exchange ──
    (0L until 500L).map(i => f"fp$i%04d").toDF("fp").write.parquet(s"$root/fp")
    val incFp = (400L until 520L).map(i => f"fp$i%04d").toDF("fp")
    val anti = graft.operators.ZoneProbes.zoneAntiJoin(
      incFp, spark.read.parquet(s"$root/fp"), Seq("fp"), 120)
    // result identity vs the plain anti join first
    val plainAnti = incFp.join(spark.read.parquet(s"$root/fp"), Seq("fp"), "left_anti")
    assert(anti.exceptAll(plainAnti).isEmpty && plainAnti.exceptAll(anti).isEmpty,
      "inverted zone anti-join changed the result")
    anti.collect() // finalize the adaptive plan
    val antiShuffledZone = expand(anti.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if scansZone(e, "zoneprobe_audit") => e
    }
    assert(antiShuffledZone.isEmpty,
      s"fp zone rows entered an exchange:\n${antiShuffledZone.mkString("\n")}")
    // ── DISENGAGED broadcast arm (forced via the caller-supplied count):
    // past BroadcastProbeMaxRows the explicit bloom must prune the zone
    // SCAN — Spark's InjectRuntimeFilter never blooms the right side of a
    // LEFT ANTI, so without this wiring the zone would shuffle unpruned.
    // Result identity first, then the plan pin. ──
    val bloomAnti = graft.operators.ZoneProbes.zoneAntiJoin(
      incFp, spark.read.parquet(s"$root/fp"), Seq("fp"),
      graft.operators.ZoneProbes.BroadcastProbeMaxRows + 1)
    assert(bloomAnti.exceptAll(plainAnti).isEmpty && plainAnti.exceptAll(bloomAnti).isEmpty,
      "bloomed (disengaged-broadcast) zone anti-join changed the result")
    bloomAnti.collect()
    val bloomPlan = bloomAnti.queryExecution.executedPlan
    assert(bloomPlan.toString.contains("might_contain"),
      s"disengaged arm lost its bloom prune entirely:\n$bloomPlan")
    val unbloomed = expand(bloomPlan).collect {
      case e: ShuffleExchangeExec if scansZone(e, "zoneprobe_audit") &&
          !e.toString.contains("might_contain") => e
    }
    assert(unbloomed.isEmpty,
      s"zone rows entered an exchange without the bloom prune below it:\n" +
        unbloomed.mkString("\n"))
    // ── banded probe join: zone rows shuffle only AFTER the broadcast
    // semi prune (d9 shape) ──
    (0L until 2000L).map(i => (i % 16, i % 97, i)).toDF("band", "key", "id")
      .write.parquet(s"$root/bands")
    val probe = (0L until 40L).map(i => (i % 16, i % 5, 100000L + i)).toDF("band", "key", "id_x")
    val pruned = graft.operators.ZoneProbes.pruneByKeys(
      spark.read.parquet(s"$root/bands"), probe, Seq("band", "key"), engage = true)
    val joined = pruned.withColumnRenamed("id", "id_y").join(probe, Seq("band", "key"))
    // identity vs the unpruned join
    val plainJoined = spark.read.parquet(s"$root/bands")
      .withColumnRenamed("id", "id_y").join(probe, Seq("band", "key"))
    assert(joined.exceptAll(plainJoined).isEmpty && plainJoined.exceptAll(joined).isEmpty,
      "probe prune changed the join result")
    joined.collect()
    val offending = expand(joined.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if scansZone(e, "zoneprobe_audit") &&
          !expand(e).exists {
            case b: BroadcastHashJoinExec => b.joinType == LeftSemi
            case _ => false
          } => e
    }
    assert(offending.isEmpty,
      s"zone rows shuffled WITHOUT the broadcast semi prune below the exchange:\n" +
        offending.mkString("\n"))
    // ── bloom probe prune (the band-key form d9/e3 use — one plan-literal
    // bloom instead of a per-prune broadcast build): result identity, and
    // the might_contain filter must sit below the zone's exchange ──
    val bloom = graft.operators.ZoneProbes.keyBloom(probe, Seq("band", "key"))
    val bloomJoined = graft.operators.ZoneProbes.pruneByBloom(
        spark.read.parquet(s"$root/bands"), bloom, Seq("band", "key"))
      .withColumnRenamed("id", "id_y").join(probe, Seq("band", "key"))
    assert(bloomJoined.exceptAll(plainJoined).isEmpty &&
        plainJoined.exceptAll(bloomJoined).isEmpty,
      "bloom probe prune changed the join result")
    bloomJoined.collect()
    val unbloomedZone = expand(bloomJoined.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if scansZone(e, "zoneprobe_audit") &&
          !e.toString.contains("might_contain") => e
    }
    assert(unbloomedZone.isEmpty,
      s"zone rows shuffled WITHOUT the bloom prune below the exchange:\n" +
        unbloomedZone.mkString("\n"))
  }

  test("d12 pruned path: assignment zone rows never shuffle in the final plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
      case q: QueryStageExec => q +: expand(q.plan)
      case _ => p +: p.children.flatMap(expand)
    }
    def scansZone(p: SparkPlan): Boolean = expand(p).exists {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("ccprune_audit"))
      case _ => false
    }
    val root = tempDir("ccprune_audit")
    // a standing assignment zone: 10k nodes in clusters of 4
    spark.range(10000L).select(
      col("id"),
      ((col("id") / 4).cast("long") * 4).as("cluster_id"),
      org.apache.spark.sql.functions.lit(4L).as("cluster_size"),
      (col("id") % 4 === 0).as("is_canonical"))
      .write.parquet(s"$root/assignment")
    val zone = spark.read.parquet(s"$root/assignment")
    val pairs = Seq((0L, 8L), (100L, 20000L), (20002L, 20003L)).toDF("id_a", "id_b")
    // engagement forced via the private thresholds — the production call
    // engages past CcIncPruneMinAssignmentRows with the same plan shape
    val got = graft.operators.Curation.dupClustersIncremental(
      zone, pairs, "id_a", "id_b",
      assignmentRows = Some(10000L),
      maxNewNodes = graft.operators.Curation.CcIncMaxNewNodes,
      minAssignmentRows = 0L)
    // identity vs the star relabel first
    val star = graft.operators.Curation.dupClustersIncremental(zone, pairs, "id_a", "id_b")
    assert(got.exceptAll(star).isEmpty && star.exceptAll(got).isEmpty,
      "pruned path changed the result")
    got.collect() // finalize the adaptive plan
    // Zone rows may ride an exchange ONLY below a broadcast semi prune
    // (the affected-cluster-id distinct: touched rows only, bounded by
    // the increment's reach — the pruneByKeys discipline); the untouched
    // pass-through and members legs must carry the zone scans straight
    // into broadcast joins, never an unpruned shuffle.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val shuffledZone = expand(got.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if scansZone(e) &&
          !expand(e).exists {
            case b: BroadcastHashJoinExec => b.joinType == LeftSemi
            case _ => false
          } => e
    }
    assert(shuffledZone.isEmpty,
      s"assignment zone rows entered an exchange without a broadcast semi prune below it:\n" +
        shuffledZone.mkString("\n"))
  }

  test("j13: autoJoin salts only the MEASURED hot key — plain plan on uniform keys, identical results") {
    import org.apache.spark.sql.functions._
    import graft.operators.SkewJoin
    import spark.implicits._
    val small = spark.range(25).select(col("id").as("k"), (col("id") + 100).as("v"))
    // skewed: 3/4 of the big side collapses onto key 0 (ratio ≈ 19)
    val big = spark.range(4000).select(
      when(col("id") % 4 =!= 0, lit(0L)).otherwise(col("id") % 25).as("k"),
      col("id").as("payload"))
    val salted = SkewJoin.autoJoin(big, small, Seq("k"))
    assert(salted.queryExecution.optimizedPlan.toString.contains("__salt"),
      "measured ratio 19 must engage the salted plan")
    val plain = big.join(small, Seq("k"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
      "salted auto-join must be result-identical to the plain join")
    // uniform key: ratio ≈ 1 → the plain 1-shuffle join, no salt column
    val uni = spark.range(4000).select((col("id") % 25).as("k"), col("id").as("payload"))
    assert(!SkewJoin.autoJoin(uni, small, Seq("k"))
      .queryExecution.optimizedPlan.toString.contains("__salt"),
      "uniform key must stay on the plain join")
    // precomputed report row (the nightly-profile shape): consumed as-is,
    // no counting job on the big side
    val rpt = graft.operators.Profiling.skewReport(big, "k").head()
    val fromReport = SkewJoin.autoJoin(big, small, Seq("k"), report = Some(rpt))
    assert(fromReport.queryExecution.optimizedPlan.toString.contains("__salt"))
    // multi-key form routes through the concat key
    val big2 = big.withColumn("k2", lit(1L))
    val small2 = small.withColumn("k2", lit(1L))
    val multi = SkewJoin.autoJoin(big2, small2, Seq("k", "k2"))
    val plain2 = big2.join(small2, Seq("k", "k2"))
    assert(multi.exceptAll(plain2).isEmpty && plain2.exceptAll(multi).isEmpty)
  }

  test("autoJoin with a supplied report row runs NO measuring pass over the big side") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Profiling, SkewJoin}
    val small = spark.range(5).select(col("id").as("k"), (col("id") + 100).as("v"))
    val real = spark.range(1000).select((col("id") % 5).as("k"))
    val rpt = Profiling.skewReport(real, "k").head()
    // poisoned big side: evaluating the key column ANYWHERE throws at
    // runtime (data-dependent guard, so no constant folding) — the one
    // way autoJoin can touch it before the caller acts on the result is
    // the inline skewReport counting pass
    val poisoned = spark.range(100).select(
      when(col("id") >= 0, raise_error(lit("inline measuring pass executed the big side")))
        .otherwise(lit("x")).as("k"))
    // report path: plan construction only — must NOT execute the frame
    val planned = SkewJoin.autoJoin(poisoned, small.select(col("k").cast("string"), col("v")),
      Seq("k"), report = Some(rpt))
    assert(planned.columns.contains("v"), "report path must still build the join plan")
    // inline path: the measuring pass runs now and trips the poison
    val e = intercept[Exception] {
      SkewJoin.autoJoin(poisoned, small.select(col("k").cast("string"), col("v")), Seq("k"))
    }
    assert(e.getMessage != null)
  }
}

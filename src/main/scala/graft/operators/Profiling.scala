package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Landing-zone data profiling: per-column row/null/distinct counts and
  * min/max, the sweep a warehouse runs on every new drop before letting
  * it into staging (the reference eyeballs this by hand in Navicat; here
  * it is an operator).
  *
  * Scale shape: ONE scan of the input computes every column's aggregates
  * in a single aggregation (count/min/max fold map-side; the distinct
  * counts expand-rewrite into one two-phase aggregate), then the stacked
  * long form is #cols selects over that one-row frame — no per-column
  * rescans, which is the difference between profiling 100 TB once and
  * profiling it #cols times.
  *
  * min/max are emitted as strings so heterogeneous column types stack
  * into one frame; numeric strings are each engine's shortest
  * round-trippable form, so they compare exactly.
  */
object Profiling {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    // materialize the one-row aggregate: the stacked union below selects
    // from it #cols times, and without truncating lineage each branch
    // would re-run the whole scan+aggregate — #cols scans instead of one
    val one = df.agg(count(lit(1)).as("n_rows"), aggs: _*).localCheckpoint()
    cols.map { c =>
        one.select(
          lit(c).as("col_name"),
          col("n_rows"),
          (col("n_rows") - col(s"${c}__nn")).as("n_nulls"),
          col(s"${c}__nd").as("n_distinct"),
          col(s"${c}__min").as("min_str"),
          col(s"${c}__max").as("max_str"))
      }
      .reduce(_ unionByName _)
  }

  /** Persisted per-epoch mergeable sketch states — the standing
    * statistics a 100 TB warehouse keeps NEXT TO the data: one row per
    * (epoch, group) holding a row count, a KLL quantile state over
    * `valueExpr` (Spark's `kll_sketch_agg_double`, default k = 200), and
    * an HLL distinct state over `keyExpr`. Built once per epoch (e.g.
    * nightly for the closing month); every later
    * rollup — any group, any epoch range, quantiles AND distincts —
    * merges kilobyte states instead of rescanning raw rows
    * ([[rollupStats]], plan-audited to touch only the zone).
    *
    * Expressions are SQL snippets so callers can epoch however the
    * table is laid out (`date_format(l_shipdate, 'yyyy-MM')`, a
    * partition column, …). The state frame is months × groups rows of
    * kilobytes — `repartition(1)` keeps the zone one file instead of
    * shuffle-partition-many near-empty ones.
    */
  private def statsStates(
      df: DataFrame,
      epochExpr: String,
      groupExpr: String,
      valueExpr: String,
      keyExpr: String): DataFrame =
    df.groupBy(expr(epochExpr).as("epoch"), expr(groupExpr).as("grp"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr(s"kll_sketch_agg_double(cast(($valueExpr) as double))").as("value_kll"),
        expr(s"hll_sketch_agg($keyExpr)").as("key_hll"))

  def writeStatsZone(
      df: DataFrame,
      path: String,
      epochExpr: String,
      groupExpr: String,
      valueExpr: String,
      keyExpr: String): Unit = {
    statsStates(df, epochExpr, groupExpr, valueExpr, keyExpr)
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  def readStatsZone(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Any-range rollup from stored states, never touching raw rows:
    * exact row counts (counts sum losslessly), KLL-merged quantile
    * estimates at `ranks`, and the HLL-union distinct estimate.
    */
  def rollupStats(stats: DataFrame, ranks: Seq[Double]): DataFrame =
    stats.groupBy("grp")
      .agg(
        sum("n_rows").as("n_rows"),
        expr("kll_merge_agg_double(value_kll)").as("value_kll"),
        expr("hll_sketch_estimate(hll_union_agg(key_hll))").as("key_distinct_est"))
      .select(col("grp"), col("n_rows"),
        kllQuantiles("value_kll", ranks).as("value_quantiles"),
        col("key_distinct_est"))

  /** Quantile estimates at `ranks` (INCLUSIVE, `percentile_disc`'s
    * ≤-rank convention) decoded from the KLL sketch column `sketch`;
    * NULL for an empty sketch — a group whose values were all NULL —
    * on which `kll_sketch_get_quantile_double` raises instead.
    */
  private[graft] def kllQuantiles(sketch: String, ranks: Seq[Double]): Column = {
    val rankArr = ranks.map(r => s"${r}d").mkString("array(", ", ", ")")
    expr(s"""CASE WHEN kll_sketch_get_n_double($sketch) > 0
      THEN kll_sketch_get_quantile_double($sketch, $rankArr) END""")
  }

  /** Equi-depth binning against quantile CUTPOINTS (typically decoded
    * from a stats zone's merged KLL state): row → number of cutpoints
    * strictly below its value, i.e. right-closed bins 0..k. The label is
    * a pure column expression — k comparisons per row, no sort, no
    * shuffle — which is what makes quantile feature-bucketization viable
    * over 100 TB: the expensive part (the quantiles) comes from persisted
    * kilobyte sketch states, not from ordering the data.
    */
  def bucketizeByQuantiles(df: DataFrame, valueExpr: String, cuts: Seq[Double]): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted, "cutpoints must be sorted")
    val bin = cuts.foldLeft(lit(0))((acc, c) =>
      acc + (expr(valueExpr) > lit(c)).cast("int"))
    df.withColumn("bin", bin)
  }

  /** Join-key skew report — the pre-join planning sweep that decides
    * whether a shuffle key needs [[graft.operators.SkewJoin]]'s salting:
    * one row of EXACT hot-key statistics for `keyExpr` —
    * (n_rows, n_keys, max_key, max_key_n, top10_n, skew_ratio,
    * top10_share), where skew_ratio = max key count over the mean
    * (uniform ≈ 1; a ratio of r means the hottest reducer gets r× the
    * average partition) and ties break on the smallest key string so
    * the report is deterministic.
    *
    * Scale shape: ONE hash aggregation builds the per-key counts
    * (partial map-side), cached for exactly two bounded follow-ups — a
    * 1-row total and a TakeOrdered top-10 — then released; the report
    * itself is driver-built from those ≤11 rows. Integer arithmetic
    * end-to-end; the two ratios are correctly-rounded divisions of
    * exact longs, identical in any engine.
    */
  def skewReport(df: DataFrame, keyExpr: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .groupBy(expr(keyExpr).cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
      .cache()
    // unpersist in finally: the collect/agg actions fail exactly on the
    // pathological frames this report exists for (an OOM-ing hot key),
    // and a straight-line release would pin the cached blocks for the
    // session lifetime
    val (top10, overall) =
      try {
        (counts.orderBy(col("n").desc, col("key")).limit(10).collect(),
          counts.agg(sum("n"), count(lit(1))).head())
      } finally counts.unpersist()
    if (top10.isEmpty)
      return Seq.empty[(Long, Long, String, Long, Long, Double, Double)]
        .toDF("n_rows", "n_keys", "max_key", "max_key_n", "top10_n",
          "skew_ratio", "top10_share")
    val nRows = overall.getLong(0)
    val nKeys = overall.getLong(1)
    val top10N = top10.map(_.getLong(1)).sum
    Seq((nRows, nKeys, top10.head.getString(0), top10.head.getLong(1), top10N,
        top10.head.getLong(1) / (nRows.toDouble / nKeys),
        top10N.toDouble / nRows))
      .toDF("n_rows", "n_keys", "max_key", "max_key_n", "top10_n",
        "skew_ratio", "top10_share")
  }

  /** The zone's replay high-water mark: max over the `hwm` column, or
    * -1 for an absent zone / one built by [[writeStatsZone]] (which
    * carries no mark).
    */
  def statsZoneHighWater(spark: SparkSession, path: String): Long = {
    import graft.sources.Zones
    if (!Zones.exists(spark, s"$path/_SUCCESS")) -1L
    else {
      val df = Zones.read(spark, path)
      if (!df.columns.contains("hwm")) -1L
      else df.agg(coalesce(max("hwm"), lit(-1L))).head().getLong(0)
    }
  }

  /** Merge an increment's states into a stored stats zone — the
    * incremental/streaming maintenance step: per-call cost is
    * O(increment rows + existing states); raw history is NEVER
    * rescanned (counts sum, KLL states merge, HLL states union).
    *
    * Exactly-once under replay: the replay guard is the SET of applied
    * batch ids, carried INSIDE the swapped data, so the guard and
    * the state update commit in one filesystem rename — a crash
    * between "zone written" and "mark written" cannot exist. Only an
    * EXACT replay (a `batchId` already in the applied set) no-ops and
    * returns false; an out-of-order increment — a BACKFILL of an
    * earlier day after later days have run — merges normally, which a
    * plain high-water-mark guard would silently drop. `hwm` (the max
    * applied id) is still maintained for rollups and monitoring.
    *
    * BOUNDED REPRESENTATION (range compaction): each row stores its
    * applied set as one dense run `[applied_base .. applied_floor]`
    * plus an `applied` array of out-of-order extras, re-compacted on
    * every merge (extras adjacent to the run are absorbed). Every merge
    * stamps EVERY row with the batch id — the replay predicate is
    * zone-level (any row containing b no-ops b), so a row's set means
    * "batches applied to the zone while this row existed", and a group
    * absent from some batches accretes no gap-extras. An in-order
    * GAPLESS feed — the production shape: foreachBatch ids are
    * checkpoint-monotonic with no holes, daily ids skip nothing —
    * therefore keeps the extras array EMPTY forever regardless of
    * batches-per-epoch; only ids that arrive non-contiguously
    * (interleaved backfills) are retained individually, and more than
    * [[MaxAppliedExtras]] of them per (epoch, grp) row raises a named
    * error (the feed is then not a replayable increment stream but a
    * shuffle of history — re-feed in order, or coarsen `epochExpr`).
    * A PERMANENT id gap (an id skipped and never backfilled, e.g. a
    * day-id feed that missed a calendar day) cannot be bridged without
    * claiming the missing id applied (which would silently no-op its
    * late backfill) — instead the contiguous post-gap ids compact into
    * a STORED RUN of their own (`applied_runs`, up to
    * [[MaxAppliedRuns]] beyond the dense run): per-row cost is one
    * struct per unfilled gap, forever, regardless of batches-per-epoch;
    * backfilling the gap id merges the runs back into one. The set
    * semantics are EXACT: an
    * id is applied iff it is in the run or in the extras.
    *
    * LEGACY-ZONE REPLAY CAVEAT: a zone written before the applied-set
    * guard (hwm-only) upgrades by seeding each row's set with that
    * row's hwm alone — exact replays of the LATEST batch (the
    * realistic crash-redelivery) still no-op, but a redelivered OLDER
    * legacy id re-merges and double-counts where the old high-water
    * guard would have dropped it. The upgrade trades that narrow
    * legacy window for backfill support; pinned by ModulesSpec's
    * legacy-upgrade test so the tradeoff stays deliberate.
    *
    * SINGLE-WRITER CONTRACT: the guard serializes replays of one
    * logical writer (a foreachBatch sink, a daily pipeline behind a
    * ledger gate). Two CONCURRENT writers can interleave stage/swap
    * and one merge is lost — callers must serialize externally (the
    * CorpusRun ledger RUNNING row does this). As a cheap tripwire,
    * after the swap the zone is re-read and a missing just-applied
    * batch id raises an error naming the interleave instead of
    * silently losing the increment.
    *
    * The staged write reads the CURRENT zone files while writing the
    * tmp dir ([[graft.sources.Zones.overwriteSwap]]'s contract), so
    * the zone stays readable throughout.
    */
  /** Out-of-order SINGLETON ids retained per row before the merge
    * refuses with a named error. In-order feeds never retain any (they
    * ride the dense run); contiguous out-of-order segments compact into
    * [[MaxAppliedRuns]] stored runs first, so this only bounds
    * adversarial/shuffled feeds.
    */
  val MaxAppliedExtras = 4096

  /** Disjoint multi-id runs stored per row BEYOND the widest (dense)
    * run — one per permanent id gap, so a feed with `k` unfilled gaps
    * costs `k` structs per row forever instead of one extra per
    * post-gap batch. More than this many gaps is a shuffled feed, and
    * the narrowest runs spill toward the extras cap.
    */
  val MaxAppliedRuns = 64

  /** Is `b` in the row's applied set: inside the dense run, inside a
    * stored gap run, OR among the extras. The exact replay predicate.
    */
  private def appliedContains(b: Column): Column =
    (col("applied_floor") >= col("applied_base") &&
      b.between(col("applied_base"), col("applied_floor"))) ||
      exists(col("applied_runs"),
        r => b >= r.getField("base") && b <= r.getField("floor")) ||
      array_contains(col("applied"), b)

  /** Range-compact the applied sets collected per (epoch, grp) during a
    * merge: input columns `__rngs` (array of {base, floor} runs) and
    * `__exs` (flattened extras), output columns `applied_base` /
    * `applied_floor` / `applied_runs` / `applied`. Pure column
    * expressions — two bounded array folds, no shuffle beyond the
    * enclosing aggregation:
    *   [1] runs AND extras (as degenerate runs) sort by base and fold
    *       into disjoint runs — absorption is uniform: an id adjacent
    *       to any run joins it, a contiguous chain coalesces;
    *   [2] the WIDEST run is the dense run, the next
    *       [[MaxAppliedRuns]] multi-id runs store as `applied_runs`
    *       (one struct per permanent id gap), singleton runs go to the
    *       extras;
    *   [3] beyond-cap runs spill id-by-id into the extras — capped at
    *       [[MaxAppliedExtras]] with a named raise_error.
    * Exposed private[graft] so the spec can drive thousands of ids
    * through the production fold in one select.
    */
  private[graft] def compactApplied(grouped: DataFrame): DataFrame = {
    val cap = MaxAppliedExtras
    val runCap = MaxAppliedRuns
    grouped
      // [1] runs ∪ extras-as-degenerate-runs, sorted by base, fold into
      // DISJOINT runs (adjacent/overlapping merge). Feeding the extras
      // through the same fold is what makes absorption uniform: an extra
      // adjacent to any run joins it here, and a contiguous post-gap
      // chain coalesces into ONE run instead of one extra per id
      .withColumn("__runs", expr(
        """aggregate(
          |  array_sort(concat(
          |    filter(__rngs, r -> r.floor >= r.base),
          |    transform(array_distinct(__exs), e -> named_struct('base', e, 'floor', e)))),
          |  cast(array() as array<struct<base: bigint, floor: bigint>>),
          |  (acc, r) -> case
          |    when size(acc) = 0 then array(r)
          |    when r.base <= element_at(acc, -1).floor + 1 then
          |      concat(slice(acc, 1, size(acc) - 1),
          |             array(named_struct(
          |               'base', element_at(acc, -1).base,
          |               'floor', greatest(element_at(acc, -1).floor, r.floor))))
          |    else concat(acc, array(r))
          |  end)""".stripMargin))
      // [2] order by width desc (tie: base asc — lexicographic on
      // (base - floor, base)): the WIDEST run survives as the dense run
      // (a mature zone's multi-year run is never truncated by a
      // backfill), the next runCap MULTI-id runs are stored as runs
      // (one per permanent gap), singletons go to the extras, and
      // beyond-cap runs spill id-by-id
      .withColumn("__byw", expr(
        "array_sort(transform(__runs, r -> named_struct('w', r.base - r.floor, 'base', r.base, 'floor', r.floor)))"))
      .withColumn("applied_base", expr("coalesce(element_at(__byw, 1).base, cast(0 as bigint))"))
      .withColumn("applied_floor", expr("coalesce(element_at(__byw, 1).floor, cast(-1 as bigint))"))
      .withColumn("__tail", expr("slice(__byw, 2, greatest(size(__byw) - 1, 0))"))
      .withColumn("__multi", expr("filter(__tail, r -> r.floor > r.base)"))
      .withColumn("__single", expr("transform(filter(__tail, r -> r.floor = r.base), r -> r.base)"))
      .withColumn("applied_runs", expr(
        s"array_sort(transform(slice(__multi, 1, $runCap), r -> named_struct('base', r.base, 'floor', r.floor)))"))
      .withColumn("__over", expr(
        s"slice(__multi, ${runCap + 1}, greatest(size(__multi) - $runCap, 0))"))
      // [3] what remains are genuinely out-of-order ids — capped at
      // [[MaxAppliedExtras]] with a named raise_error
      .withColumn("__spill", expr(
        s"flatten(transform(__over, r -> sequence(r.base, least(r.floor, r.base + $cap))))"))
      .withColumn("__ovf", expr(s"exists(__over, r -> r.floor > r.base + $cap)"))
      .withColumn("applied", expr(
        s"""case when __ovf or size(__single) + size(__spill) > $cap then
           |  cast(raise_error(concat(
           |    'stats zone applied-id overflow for epoch=', epoch, ' grp=', grp,
           |    ': more than $cap out-of-order batch ids retained after range ',
           |    'compaction — the feed is a shuffle of history, not an increment ',
           |    'stream; re-feed in id order or coarsen epochExpr')) as array<bigint>)
           |else array_sort(concat(__single, __spill)) end""".stripMargin))
      .drop("__rngs", "__exs", "__runs", "__byw", "__tail", "__multi",
        "__single", "__over", "__spill", "__ovf")
  }

  /** Upgrade any stored zone layout to the current guard schema:
    * hwm-only → extras = [hwm] (see the legacy caveat above);
    * flat-applied (round-8) → extras = stored array, empty run (the
    * next merge's compaction folds them into a run).
    */
  private def upgradeGuardSchema(c: DataFrame): DataFrame = {
    val withHwm =
      if (c.columns.contains("hwm")) c else c.withColumn("hwm", lit(-1L))
    val withApplied =
      if (withHwm.columns.contains("applied")) withHwm
      else withHwm.withColumn("applied",
        when(col("hwm") >= 0, array(col("hwm")))
          .otherwise(expr("cast(array() as array<bigint>)")))
    val withRun =
      if (withApplied.columns.contains("applied_base")) withApplied
      else withApplied
        .withColumn("applied_base", lit(0L))
        .withColumn("applied_floor", lit(-1L))
    if (withRun.columns.contains("applied_runs")) withRun
    else withRun.withColumn("applied_runs",
      expr("cast(array() as array<struct<base: bigint, floor: bigint>>)"))
  }

  def mergeStatsIncrement(
      spark: SparkSession,
      increment: DataFrame,
      path: String,
      epochExpr: String,
      groupExpr: String,
      valueExpr: String,
      keyExpr: String,
      batchId: Option[Long] = None): Boolean = {
    import graft.sources.Zones
    // an EMPTY increment (an all-quality-dropped corpus day, a zero-row
    // micro-batch) merges trivially: it contributes no states, and
    // recording nothing leaves a later backfill of the same id free to
    // merge real data. Writing it anyway would publish a zero-row zone
    // whose post-swap batch probe reads as a lost increment and raises.
    if (increment.isEmpty) return true
    val cur: Option[DataFrame] =
      if (!Zones.exists(spark, s"$path/_SUCCESS")) None
      else Some(upgradeGuardSchema(Zones.read(spark, path)))
    // ONE aggregation pass answers both zone questions (replay guard +
    // high-water mark) — this runs per micro-batch in the streaming
    // maintenance path, so a second full read+agg job is pure overhead
    val zoneProbe = cur.map(
      _.agg(
        coalesce(max(appliedContains(lit(batchId.getOrElse(-1L)))), lit(false)),
        coalesce(max("hwm"), lit(-1L))).head())
    val alreadyApplied =
      batchId.isDefined && zoneProbe.exists(_.getBoolean(0))
    if (alreadyApplied) false
    else {
      val storedHwm = zoneProbe.map(_.getLong(1)).getOrElse(-1L)
      val hwm = batchId.getOrElse(storedHwm + 1L)
      val incStates = statsStates(increment, epochExpr, groupExpr, valueExpr, keyExpr)
        .withColumn("hwm", lit(hwm))
        .withColumn("applied", expr("cast(array() as array<bigint>)"))
        .withColumn("applied_runs",
          expr("cast(array() as array<struct<base: bigint, floor: bigint>>)"))
        .withColumn("applied_base", lit(hwm))
        .withColumn("applied_floor", lit(hwm))
      val merged = cur match {
        case None => incStates
        case Some(c) =>
          compactApplied(
            c.unionByName(incStates)
              .groupBy("epoch", "grp")
              .agg(
                sum("n_rows").as("n_rows"),
                expr("kll_merge_agg_double(value_kll)").as("value_kll"),
                expr("hll_union_agg(key_hll)").as("key_hll"),
                max("hwm").as("hwm"),
                expr("""flatten(collect_list(concat(
                  array(named_struct('base', applied_base, 'floor', applied_floor)),
                  applied_runs)))""").as("__rngs"),
                flatten(collect_list("applied")).as("__exs"))
              // EVERY row absorbs this batch's id, not only rows the
              // increment touched: the replay guard is zone-level (any
              // row containing b no-ops b), so per-row sets track
              // "batches applied while this row existed" — a group
              // absent from some batches would otherwise accrete one
              // permanent gap-extra per miss until the cap wedged the
              // merge (groups routinely skip batches in real feeds)
              .withColumn("__rngs", concat(
                col("__rngs"),
                array(struct(lit(hwm).as("base"), lit(hwm).as("floor"))))))
      }
      Zones.overwriteSwap(merged.repartition(1), path)
      // single-writer tripwire: our batch id must be visible in the zone we
      // just swapped in; if not, a concurrent writer's swap clobbered ours
      val visible = upgradeGuardSchema(Zones.read(spark, path))
        .agg(coalesce(max(appliedContains(lit(hwm))), lit(false)))
        .head().getBoolean(0)
      if (!visible) throw new IllegalStateException(
        s"stats zone $path: batch $hwm missing immediately after its swap — " +
          "a concurrent writer interleaved (single-writer contract violated); " +
          "the increment was lost and must be re-merged under external serialization")
      true
    }
  }
}

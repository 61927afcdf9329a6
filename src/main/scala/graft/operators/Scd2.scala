package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}

/** Run statistics mirroring the reference SP's OUT params
  * (reference: sql_script/db_control_sql.sql:213-216).
  */
final case class ScdStats(rowsInput: Long, rowsInserted: Long, rowsExpired: Long)

/** Slowly-Changing-Dimension Type 2 as a single set-based Spark job.
  *
  * Re-expresses `SP_ETL_SCD_Update_Product`
  * (reference: sql_script/db_control_sql.sql:210-276), which runs four
  * statements against MySQL:
  *   1. insert brand-new keys (left join + IS NULL — an anti join;
  *      new-key detection is on `matchKey` only, reference :228-236)
  *   2. materialize EXPIRED_KEYS = current rows whose compared attributes
  *      differ from staging (`<>` — NULL-rejecting; reference :240-252)
  *   3. expire current rows whose `expireKey` hits EXPIRED_KEYS (:254-257)
  *   4. re-insert staging rows whose `expireKey` hits EXPIRED_KEYS (:261-273)
  *
  * Faithfully preserved quirks:
  *   - key asymmetry: new-key detection on `matchKey` (TEN) but
  *     expire/re-insert on `expireKey` (TEN, LINK) — a changed row whose
  *     LINK also changed is expired but NOT re-inserted.
  *   - MySQL `<>` NULL semantics: a NULL on either side never marks a
  *     change (Spark `=!=` matches).
  *   - the "current row" marker is the literal timestamp 9999-12-31 00:00:00.
  *
  * Scale notes: `changedKeys` is the common subexpression the reference
  * materializes as a work table. Both of its consumers (the expire-mark
  * join and the re-insert semi join) sit in the one plan the round
  * writes, so exchange reuse computes it once without a cache. The
  * expire-mark join keys on `expireKey`, so at 100 TB it shuffles history
  * once on the natural key; daily change sets are typically small
  * relative to history, so Spark will broadcast them under AQE.
  */
object Scd2 {
  val CreatedAt = "created_at"
  val UpdatedAt = "updated_at"
  val ExpiredAt = "expired_at"
  val SentinelTs = "9999-12-31 00:00:00"

  private def currentPred(sentinel: Column): Column = col(ExpiredAt) === sentinel

  /** Empty history frame shaped for `staging` (first run). */
  def emptyHistory(staging: DataFrame, tsType: String = "timestamp"): DataFrame =
    staging
      .limit(0)
      .withColumn(CreatedAt, lit(null).cast(tsType))
      .withColumn(UpdatedAt, lit(null).cast(tsType))
      .withColumn(ExpiredAt, lit(null).cast(tsType))

  /** MySQL `utf8mb4_unicode_ci` join-key fold (reference:
    * sql_script/db_staging.sql:4077 — the SCD2 key columns collate
    * case-insensitively, so `'iPhone'` and `'IPHONE'` are the SAME key).
    * Fidelity note: full `unicode_ci` is also accent-insensitive at
    * primary strength; we implement the case/width fold (`lower`), which
    * covers every key the reference's crawler actually produces (ASCII +
    * Vietnamese product names where accents are semantic and consistently
    * crawled). Documented limitation: `'café' ≠ 'cafe'` here, `=` in MySQL.
    */
  val mysqlCiNorm: Column => Column = lower(_)

  /** Apply one SCD2 round. `history` must carry `staging`'s columns plus
    * created_at/updated_at/expired_at; pass an empty frame (with schema)
    * for the first run. Returns the new history.
    *
    * `keyNorm` folds match/expire keys at JOIN time only — stored values
    * keep their original form, exactly like a MySQL CI-collated join.
    * Pass [[mysqlCiNorm]] for `utf8mb4_unicode_ci` parity (default is
    * binary comparison, Spark's native semantics).
    */
  def apply(
      history: DataFrame,
      staging: DataFrame,
      matchKey: Seq[String],
      expireKey: Seq[String],
      compareCols: Seq[String],
      runTs: Column,
      sentinel: Column = lit(SentinelTs).cast("timestamp"),
      keyNorm: Column => Column = identity): DataFrame = {
    val current = history.filter(currentPred(sentinel))

    // 1. brand-new keys: staging anti-join current on (normalized) matchKey
    val curKeys = current
      .select(matchKey.map(k => keyNorm(col(k)).as(s"__mk_$k")): _*)
      .distinct()
    val newRows = staging
      .join(curKeys, matchKey.map(k => keyNorm(col(k)) === col(s"__mk_$k")).reduce(_ && _), "left_anti")
      .withColumn(CreatedAt, runTs)
      .withColumn(UpdatedAt, runTs)
      .withColumn(ExpiredAt, sentinel)

    // 2. EXPIRED_KEYS: current×staging on matchKey where any compared attr
    //    differs (NULL-rejecting <>). Keys are folded for the join but the
    //    emitted expire-key values are the folded form (both sides agree
    //    under keyNorm, so either side's fold is canonical). Consumed by
    //    steps 3 and 4 in one plan: exchange reuse computes it once.
    val t = current.alias("t")
    val s = staging.alias("s")
    val changedKeys = t
      .join(s, matchKey.map(k => keyNorm(col(s"t.$k")) === keyNorm(col(s"s.$k"))).reduce(_ && _))
      .where(compareCols.map(c => col(s"t.$c") =!= col(s"s.$c")).reduce(_ || _))
      .select(expireKey.map(k => keyNorm(col(s"t.$k")).as(s"__ck_$k")): _*)
      .distinct()

    // 3. expire: mark current rows whose (normalized) expireKey is in changedKeys
    val hit = changedKeys.withColumn("__scd_hit", lit(true))
    val isExpiring = col("__scd_hit").isNotNull && currentPred(sentinel)
    val marked = history
      .join(hit, expireKey.map(k => keyNorm(col(k)) === col(s"__ck_$k")).reduce(_ && _), "left")
      .withColumn(UpdatedAt, when(isExpiring, runTs).otherwise(col(UpdatedAt)))
      .withColumn(ExpiredAt, when(isExpiring, runTs).otherwise(col(ExpiredAt)))
      .drop("__scd_hit")
      .drop(expireKey.map(k => s"__ck_$k"): _*)

    // 4. re-insert: staging rows whose (normalized) expireKey is in changedKeys
    val reinserted = staging
      .join(changedKeys, expireKey.map(k => keyNorm(col(k)) === col(s"__ck_$k")).reduce(_ && _), "left_semi")
      .withColumn(CreatedAt, runTs)
      .withColumn(UpdatedAt, runTs)
      .withColumn(ExpiredAt, sentinel)

    marked.unionByName(newRows).unionByName(reinserted)
  }

  /** Partition column of [[applyZoned]] history zones: the DAY a version
    * expired ('9999-12-31' for current rows).
    */
  val ExpiredDay = "expired_day"

  /** Schema of an [[applyZoned]] history zone for `staging`: the history
    * columns plus [[ExpiredDay]], typed DATE as partition inference reads
    * the `yyyy-MM-dd` directory values. Reads that pass it run no
    * schema-inference job.
    */
  def zoneSchema(staging: DataFrame, tsType: String): StructType =
    emptyHistory(staging, tsType).schema.add(ExpiredDay, DateType)

  /** SCD2 into a day-partitioned history zone — the at-scale form of
    * [[apply]]. A flat history zone rewrites the ENTIRE history every
    * round: O(|history|) daily writes that grow without bound — by year
    * three the nightly job rewrites a thousand days of dead versions to
    * close a few thousand rows. Partitioning the zone by expiry day makes
    * each round touch exactly TWO partitions:
    *
    *   - the sentinel partition (the live set — rewritten with survivors
    *     + brand-new + re-inserted rows),
    *   - the runTs-day partition (the rows this run expired — created, or,
    *     on a same-day rerun, rewritten with earlier tombstones preserved:
    *     the day partition is READ back in, its rows pass through [[apply]]
    *     untouched because expiry requires currentness, and the dynamic
    *     overwrite re-emits them alongside the new run's tombstones).
    *
    * Closed historical partitions are never read (the `isin` filter on the
    * partition column is constant-foldable → static pruning to the
    * sentinel + runTs-day directories) nor written (dynamic partition
    * overwrite), so daily cost is O(|live| + |churn|), flat in corpus
    * age. Correctness: [[apply]] passes non-current rows through
    * untouched, so the zone's union equals the flat form — asserted by
    * the scd3 gate against the same oracle as scd2_two_rounds, and by
    * Scd2Spec's partition-level file audit (incl. the same-day rerun).
    *
    * Reruns within one day must use a strictly later `runTs` (wall-clock
    * does this naturally); with an IDENTICAL runTs the second run's
    * inserted/expired stats would also count the first run's rows.
    *
    * Timezone contract: with `tsType = "timestamp"` the stored sentinel
    * instant and the derived `expired_day` both depend on the session
    * timezone — a zone written under TZ A and processed under TZ B would
    * miss every live row and re-insert the whole set as duplicates. The
    * zone pins its timezone in a `_graft_scd2_tz` marker on first write
    * and later runs fail fast (named error) on a mismatch instead of
    * silently corrupting. `timestamp_ntz` (what the production pipeline
    * uses) is TZ-independent and needs no marker.
    */
  def applyZoned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      staging: DataFrame,
      matchKey: Seq[String],
      expireKey: Seq[String],
      compareCols: Seq[String],
      runTs: Column,
      sentinel: Column = lit(SentinelTs).cast("timestamp"),
      keyNorm: Column => Column = identity,
      tsType: String = "timestamp",
      runDay: Option[String] = None): Unit = {
    zoned(spark, path, staging, matchKey, expireKey, compareCols, runTs,
      sentinel, keyNorm, tsType, runDay, withStats = false)
    ()
  }

  /** [[applyZoned]] + the reference SP's OUT-param counts (same contract
    * as [[applyWithStats]]) — the form the production pipeline uses.
    * Rows-in is one count of `staging`; inserted/expired are observed on
    * the zone write itself, so nothing is cached and no job is added for
    * them.
    */
  def applyZonedWithStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      staging: DataFrame,
      matchKey: Seq[String],
      expireKey: Seq[String],
      compareCols: Seq[String],
      runTs: Column,
      sentinel: Column = lit(SentinelTs).cast("timestamp"),
      keyNorm: Column => Column = identity,
      tsType: String = "timestamp",
      runDay: Option[String] = None): ScdStats =
    zoned(spark, path, staging, matchKey, expireKey, compareCols, runTs,
      sentinel, keyNorm, tsType, runDay, withStats = true).get

  private def zoned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      staging: DataFrame,
      matchKey: Seq[String],
      expireKey: Seq[String],
      compareCols: Seq[String],
      runTs: Column,
      sentinel: Column,
      keyNorm: Column => Column,
      tsType: String,
      runDay: Option[String],
      withStats: Boolean): Option[ScdStats] = {
    checkZoneTz(spark, path, tsType)
    // the two touched partition VALUES as driver-side literals: the
    // sentinel day is a constant; the run day comes from the caller (the
    // pipeline already has it) or a local eval of runTs
    val Array(sentinelDay, day) = runDay match {
      case Some(d) =>
        Array(evalDays(spark, date_format(sentinel, "yyyy-MM-dd"))(0), d)
      case None =>
        evalDays(spark, date_format(sentinel, "yyyy-MM-dd"), date_format(runTs, "yyyy-MM-dd"))
    }
    val current =
      // hasDataFiles, not exists: an empty first round leaves a fileless
      // zone dir that a parquet read cannot infer a schema from
      if (!graft.sources.Zones.hasDataFiles(spark, path)) emptyHistory(staging, tsType)
      else graft.sources.Zones.read(spark, path, zoneSchema(staging, tsType))
        // same-day rerun safety: today's partition rides along so dynamic
        // overwrite re-emits earlier tombstones instead of dropping them
        .filter(col(ExpiredDay).isin(sentinelDay, day))
        .drop(ExpiredDay)
    val next = apply(current, staging, matchKey, expireKey, compareCols, runTs, sentinel, keyNorm)
      .withColumn(ExpiredDay, date_format(col(ExpiredAt), "yyyy-MM-dd"))
    // rows in: one plain count. Observing `staging` instead would not do:
    // it appears three times in the plan, and AQE may prune a branch whose
    // collector then reports 0. Inserted/expired are observed at the root
    // of the frame the write already runs, so they cost no job.
    val rowsInput = if (withStats) Some(staging.count()) else None
    val counts = new Observation()
    val (inserted, expired) = statCounts(runTs)
    val written = if (withStats) next.observe(counts, inserted, expired) else next
    graft.sources.Zones.replacePartitions(written, path, Seq(ExpiredDay))
    stampZoneTz(spark, path, tsType)
    rowsInput.map(n => stats(n, counts.get))
  }

  /** The reference SP's inserted/expired ROW_COUNT()s over a round's
    * result: rows carrying this run's created_at, and rows closed with
    * this run's expired_at. `count_if` reads 0, not NULL, on an empty
    * round.
    */
  private def statCounts(runTs: Column): (Column, Column) = (
    count_if(col(CreatedAt) === runTs).as("rows_inserted"),
    count_if(col(ExpiredAt) === runTs).as("rows_expired"))

  private def stats(rowsInput: Long, count: String => Any): ScdStats =
    ScdStats(rowsInput,
      count("rows_inserted").asInstanceOf[Long], count("rows_expired").asInstanceOf[Long])

  /** Formats constant day expressions without a Spark job: the optimizer
    * folds a projection over a one-row local relation.
    */
  private def evalDays(
      spark: org.apache.spark.sql.SparkSession, exprs: Column*): Array[String] = {
    val one = spark.createDataFrame(
      java.util.List.of(Row.empty), StructType(Nil))
    val row = one.select(exprs: _*).head()
    Array.tabulate(exprs.length)(row.getString)
  }

  private val TzMarker = "_graft_scd2_tz"

  /** Fail fast when a `timestamp`-typed zone is processed under a session
    * timezone other than the one it was written with (see [[applyZoned]]'s
    * timezone contract).
    */
  private def checkZoneTz(
      spark: org.apache.spark.sql.SparkSession, path: String, tsType: String): Unit = {
    if (tsType != "timestamp") return // ntz representations are TZ-independent
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val marker = new org.apache.hadoop.fs.Path(path, TzMarker)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val written =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (written != tz)
        throw new IllegalStateException(
          s"graft SCD2 zone timezone mismatch at $path: zone written under " +
            s"session timezone '$written' but this session runs '$tz' — " +
            "timestamp-typed sentinel/expired_day values would shift and the " +
            "run would re-insert the whole live set. Set " +
            s"spark.sql.session.timeZone=$written or rebuild the zone.")
    }
  }

  private def stampZoneTz(
      spark: org.apache.spark.sql.SparkSession, path: String, tsType: String): Unit = {
    if (tsType != "timestamp") return
    val marker = new org.apache.hadoop.fs.Path(path, TzMarker)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val out = fs.create(marker, true)
      try out.write(
        spark.sessionState.conf.sessionLocalTimeZone.getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Same as `apply`, also computing the reference's OUT-param counts
    * (rowsInput / rowsInserted / rowsExpired) with the same count
    * expressions the zoned write observes. Runs two actions: a count of
    * the cached staging, then one aggregate that fills the cache of the
    * result. The staging cache is dropped after counting; the returned
    * frame is cached and owned by the caller, who unpersists it.
    */
  def applyWithStats(
      history: DataFrame,
      staging: DataFrame,
      matchKey: Seq[String],
      expireKey: Seq[String],
      compareCols: Seq[String],
      runTs: Column,
      sentinel: Column = lit(SentinelTs).cast("timestamp"),
      keyNorm: Column => Column = identity): (DataFrame, ScdStats) = {
    val cachedStaging = staging.cache()
    val result = apply(history, cachedStaging, matchKey, expireKey, compareCols, runTs, sentinel, keyNorm)
      .cache()
    val rowsInput = cachedStaging.count()
    val (inserted, expired) = statCounts(runTs)
    val counts = result.agg(inserted, expired).head()
    cachedStaging.unpersist()
    (result, stats(rowsInput, counts.getAs[Long](_)))
  }
}

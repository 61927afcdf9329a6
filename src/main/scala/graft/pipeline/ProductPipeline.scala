package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Clean, Scd2, ScdStats, SurrogateKeys}

/** The reference's six-stage daily batch (run_all.bat:20-64) as set-based
  * Spark transformations over DataFrames. Every stage that the reference
  * runs as a per-row Python loop or a MySQL statement becomes one
  * declarative job; `runTs`/`dateSk` are injected (reference `NOW()` /
  * `CURDATE()`, F11) so runs are reproducible.
  *
  * Column names keep the reference's Vietnamese schema (TEN = name,
  * LINK = url/key, GIA_CU/GIA_MOI = old/new price, KICH_THUOC_MAN_HINH =
  * screen size, BO_NHO = storage, NGAY = crawl date).
  */
object ProductPipeline {

  /** Stage 4a — SP_ETL_Clean_Data (db_control_sql.sql:165-207): quality
    * filter, 'Unknown' string defaults, −1 numeric sentinels, date-dim
    * lookup with SK 0 fallback.
    *
    * `mysqlCompatScreenSize`: the deployed SP's screen-size regex loses its
    * backslash across two string-escape layers (SQL_COMMANDS insert →
    * CREATE PROCEDURE re-parse, transform_staging.py:24-58) and ends up
    * matching only the leading digit run — '6.9 inches' → 6.00 in the live
    * dump (db_staging.sql:4636 ff.). true replays that faithfully; false
    * applies the evidently-intended decimal extraction.
    */
  /** MySQL CAST(expr AS SIGNED) semantics: parse the leading integer
    * prefix, 0 when none ('1TB' → 1, 'Đen512' → 0) — try_cast alone would
    * be NULL for both (verified against the live dump: rows whose RAM
    * holds '1 TB' carry RAM=1, db_staging.sql products_transform).
    */
  private[graft] def mysqlIntCast(s: Column): Column =
    coalesce(regexp_extract(s, "^-?[0-9]+", 0).try_cast("int"), lit(0))

  /** MySQL CAST(expr AS DECIMAL) semantics: leading decimal prefix, 0 when
    * none.
    */
  private def mysqlDecimalCast(s: Column, p: Int, sc: Int): Column =
    coalesce(
      regexp_extract(s, "^-?[0-9]*\\.?[0-9]+", 0).try_cast(DecimalType(p, sc)),
      lit(0).cast(DecimalType(p, sc)))

  def clean(
      raw: DataFrame,
      dimDate: DataFrame,
      mysqlCompatScreenSize: Boolean = true): DataFrame = {
    def sentinelNum(c: Column, parsed: Column, extraEmpty: Seq[String] = Seq("")): Column =
      when(c.isNull || c.isin(extraEmpty: _*), lit(-1)).otherwise(coalesce(parsed, lit(-1)))
    // the SP's REPLACE chains are literal (no regex, case-sensitive 'GB',
    // single space) — db_control_sql.sql:181-193
    def stripPrice(c: Column): Column = regexp_replace(c, "[.,₫đ]", "")
    def stripGb(c: Column): Column = regexp_replace(c, "GB| ", "")
    val screen =
      if (mysqlCompatScreenSize)
        coalesce(
          nullif(regexp_extract(col("KICH_THUOC_MAN_HINH"), "[0-9]+", 0), lit(""))
            .try_cast(DecimalType(4, 2)),
          lit(-1).cast(DecimalType(4, 2)))
      else Clean.parseScreenSize(col("KICH_THUOC_MAN_HINH"))
    raw
      .filter(Clean.qualityFilter(Seq(col("TEN"), col("LINK"), col("LINK_ANH")), 10))
      .join(
        broadcast(dimDate.select(col("DATE_SK"), col("FULL_DATE"))),
        to_date(col("NGAY")) === col("FULL_DATE"),
        "left")
      .select(
        col("ID"),
        Clean.defaultUnknown(col("TEN")).as("TEN"),
        Clean.defaultUnknown(col("LINK")).as("LINK"),
        Clean.defaultUnknown(col("LINK_ANH")).as("LINK_ANH"),
        sentinelNum(col("GIA_CU"), mysqlDecimalCast(stripPrice(col("GIA_CU")), 18, 2), Seq("", "-1"))
          .cast(DecimalType(18, 2)).as("GIA_CU"),
        sentinelNum(col("GIA_MOI"), mysqlDecimalCast(stripPrice(col("GIA_MOI")), 18, 2), Seq("", "-1"))
          .cast(DecimalType(18, 2)).as("GIA_MOI"),
        sentinelNum(col("KICH_THUOC_MAN_HINH"), screen)
          .cast(DecimalType(4, 2)).as("KICH_THUOC_MAN_HINH"),
        sentinelNum(col("RAM"), mysqlIntCast(stripGb(col("RAM")))).cast("int").as("RAM"),
        sentinelNum(col("BO_NHO"), mysqlIntCast(stripGb(col("BO_NHO")))).cast("int").as("BO_NHO"),
        coalesce(col("DATE_SK"), lit(0)).cast("int").as("SK_DATE"),
        col("NGAY"),
        // the reference column is INT; a landing file written as int64
        // must not carry BIGINT into the dims, which are read back with
        // their INT schema
        col("ID_CONFIG").cast("int").as("ID_CONFIG"))
  }

  val scdCompareCols: Seq[String] =
    Seq("GIA_CU", "GIA_MOI", "KICH_THUOC_MAN_HINH", "RAM", "BO_NHO")

  /** Stage 4b — SP_ETL_SCD_Update_Product (db_control_sql.sql:210-276):
    * SCD2 with the reference's key asymmetry (new keys matched on TEN,
    * expiry/re-insert on TEN+LINK).
    */
  def scdUpdate(
      history: DataFrame,
      transformed: DataFrame,
      runTs: Column): (DataFrame, ScdStats) =
    Scd2.applyWithStats(
      history, transformed,
      matchKey = Seq("TEN"), expireKey = Seq("TEN", "LINK"),
      compareCols = scdCompareCols, runTs = runTs)

  /** [[scdUpdate]] through the expiry-day-partitioned history zone —
    * the production (at-scale) form: the run reads/rewrites only the
    * sentinel + runDay partitions (see [[Scd2.applyZoned]]). Same stats
    * contract as the reference SP's OUT params.
    */
  def scdUpdateZoned(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      transformed: DataFrame,
      runTs: Column,
      runDay: String): ScdStats =
    Scd2.applyZonedWithStats(
      spark, historyPath, transformed,
      matchKey = Seq("TEN"), expireKey = Seq("TEN", "LINK"),
      compareCols = scdCompareCols, runTs = runTs,
      sentinel = lit(Scd2.SentinelTs).cast("timestamp_ntz"),
      tsType = "timestamp_ntz", runDay = Some(runDay))

  /** A5 — the reference's 4-branch min/max price derivation
    * (load_dwh.py:166-184): −1/NULL are "absent"; both absent → NULL.
    */
  def priceMinMax(giaCu: Column, giaMoi: Column): (Column, Column) = {
    val cu = when(giaCu.isNotNull && giaCu =!= -1, giaCu)
    val moi = when(giaMoi.isNotNull && giaMoi =!= -1, giaMoi)
    (coalesce(least(cu, moi), cu, moi), coalesce(greatest(cu, moi), cu, moi))
  }

  /** Stage 5 — load_dwh.py:130-227 made set-based: one brand-dim upsert,
    * one product-dim upsert (keyed on LINK, PRODUCT_SK preserved for
    * existing rows, deterministic new SKs), replacing the reference's
    * per-row SELECT+INSERT loop (its "N+1" anti-pattern, SURVEY §4).
    * Returns (dimBrand, dimProduct).
    */
  def loadDims(
      history: DataFrame,
      dimBrand: DataFrame,
      dimProduct: DataFrame,
      sentinel: Column = lit(Scd2.SentinelTs).cast("timestamp")): (DataFrame, DataFrame) = {
    val current = history.filter(col("EXPIRED_AT") === sentinel)
    // the reference's cursor processes rows in ID_SR order and later rows
    // win the UPDATE; we pin last-writer-wins per LINK deterministically.
    val w = Window.partitionBy("LINK").orderBy(col("CREATED_AT").desc, col("ID").desc)
    val latest = current.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    val classified = latest.withColumn(
      "BRAND_NAME",
      Clean.classifyBrand(col("TEN"), Clean.brandRules))
    val newBrandDim = SurrogateKeys.ensureKeys(
      dimBrand, classified.select("BRAND_NAME"), Seq("BRAND_NAME"), "BRAND_SK")
    val (minP, maxP) = priceMinMax(col("GIA_CU"), col("GIA_MOI"))
    val incoming = classified
      .join(broadcast(newBrandDim), Seq("BRAND_NAME"))
      .select(
        col("LINK"), col("TEN"), col("LINK_ANH"), col("KICH_THUOC_MAN_HINH"),
        col("RAM"), col("BO_NHO"), col("BRAND_SK"),
        minP.as("MIN_PRICE"), maxP.as("MAX_PRICE"), col("ID_CONFIG"))
    val keyed = SurrogateKeys.ensureKeys(
      dimProduct.select(col("PRODUCT_SK"), col("LINK")), incoming.select("LINK"),
      Seq("LINK"), "PRODUCT_SK")
    val refreshed = incoming.join(keyed, Seq("LINK"))
      .select(
        col("PRODUCT_SK"), col("TEN"), col("LINK"), col("LINK_ANH"),
        col("KICH_THUOC_MAN_HINH"), col("RAM"), col("BO_NHO"),
        col("MIN_PRICE"), col("MAX_PRICE"), col("BRAND_SK"), col("ID_CONFIG"))
    val untouched = dimProduct.join(incoming.select("LINK"), Seq("LINK"), "left_anti")
      .select(refreshed.columns.map(col): _*)
    (newBrandDim, untouched.unionByName(refreshed))
  }

  /** Empty warehouse dims with the code's live schema (SURVEY §1: DDL has
    * drifted; DIM_PRODUCT carries MIN/MAX_PRICE, BRAND_SK, ID_CONFIG per
    * load_dwh.py:159-226).
    */
  def emptyDimBrand(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("BRAND_SK", LongType),
        StructField("BRAND_NAME", StringType))))
  }

  def emptyDimProduct(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("PRODUCT_SK", LongType),
        StructField("TEN", StringType),
        StructField("LINK", StringType),
        StructField("LINK_ANH", StringType),
        StructField("KICH_THUOC_MAN_HINH", DecimalType(4, 2)),
        StructField("RAM", IntegerType),
        StructField("BO_NHO", IntegerType),
        StructField("MIN_PRICE", DecimalType(18, 2)),
        StructField("MAX_PRICE", DecimalType(18, 2)),
        StructField("BRAND_SK", LongType),
        StructField("ID_CONFIG", IntegerType))))
  }

  /** Stage 6 — load_aggregate.py:90-107: the day's snapshot of
    * DIM_PRODUCT, one row per product stamped with `dateSk`. `DailyRun`
    * writes it over the aggregate's `DATE_SK = dateSk` partition: the
    * reference's upsert keyed (PRODUCT_SK, DATE_SK), because the snapshot
    * holds every product key the partition can hold.
    */
  def aggregateSnapshot(
      dimProduct: DataFrame, dateSk: Int, calendarYear: Int, calendarMonth: Int): DataFrame =
    dimProduct.select(
      col("BRAND_SK"), col("PRODUCT_SK"), col("ID_CONFIG"),
      lit(dateSk).as("DATE_SK"),
      lit(calendarYear).as("CALENDAR_YEAR"),
      lit(calendarMonth).as("CALENDAR_MONTH"),
      col("MAX_PRICE"), col("MIN_PRICE"))

  /** Stage 7a — DM_PRODUCT_DAILY_PRICE (load_datamart.py:112-133):
    * midrange-"AVG" rollup. Each `DATE_SK`'s rows depend only on that
    * day's aggregate rows, so `DailyRun` passes tonight's aggregate
    * partition and replaces tonight's datamart partition.
    */
  def datamartDaily(aggregate: DataFrame): DataFrame =
    aggregate
      .groupBy("DATE_SK", "PRODUCT_SK", "BRAND_SK", "ID_CONFIG", "CALENDAR_YEAR", "CALENDAR_MONTH")
      .agg(max("MAX_PRICE").as("MAX_PRICE"), min("MIN_PRICE").as("MIN_PRICE"))
      .withColumn("AVG_PRICE", (col("MAX_PRICE") + col("MIN_PRICE")) / 2)

  /** Stage 7b — DM_PRODUCT_QUARTERLY_TREND (load_datamart.py:138-161).
    * QUARTER_NAME preserves the reference's CONCAT('Q', d.QUARTER) even
    * though live DIM_DATE.QUARTER values are already 'Q1'… → 'QQ1' (the
    * documented quirk; FIXTURES.md A6). Each (CALENDAR_YEAR,
    * QUARTER_NAME)'s rows depend only on that quarter's days, so
    * `DailyRun` passes the current quarter's aggregate days and replaces
    * that one partition.
    */
  def datamartQuarterly(aggregate: DataFrame, dimDate: DataFrame): DataFrame =
    aggregate
      .join(broadcast(dimDate.select(col("DATE_SK"), col("QUARTER"))), Seq("DATE_SK"))
      .groupBy(
        col("PRODUCT_SK"), col("BRAND_SK"), col("ID_CONFIG"), col("CALENDAR_YEAR"),
        concat(lit("Q"), col("QUARTER")).as("QUARTER_NAME"))
      .agg(
        min("MIN_PRICE").as("QUARTER_MIN_PRICE"),
        max("MAX_PRICE").as("QUARTER_MAX_PRICE"))
      .withColumn(
        "QUARTER_AVG_PRICE",
        (col("QUARTER_MIN_PRICE") + col("QUARTER_MAX_PRICE")) / 2)
}

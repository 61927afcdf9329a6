package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.control.RunLedger
import graft.operators.Scd2
import graft.sources.{CsvIngest, Zones}

/** The reference's full daily batch (run_all.bat:20-64) as ONE runnable
  * Spark job over parquet zones:
  *
  *   gate (already ran today? → skip)
  *   → ingest landing CSV (or parquet) → staging raw
  *   → clean → SCD2 history zone
  *   → dim_brand / dim_product → aggregate snapshot (tonight's partition)
  *   → datamart rollups (tonight's day and the current quarter only)
  *   → run ledger SUCCESS row with the SCD2 stats message
  *
  * Usage: runMain graft.pipeline.DailyRun <landingDir> <warehouseDir> <runTs>
  *   landingDir: directory of products_raw_*.csv (latest by mtime wins)
  *               or a parquet file of raw rows
  *   runTs:      injected "now" (yyyy-MM-dd HH:mm:ss) — F11 determinism
  */
object DailyRun {
  val ProcessName = "daily_pipeline"

  def main(args: Array[String]): Unit = {
    val Array(landingDir, whDir, runTs) = args.take(3)
    val spark = Sessions
      .builder("graft-daily", Sessions.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val outcome = run(spark, landingDir, whDir, runTs)
    println(s"""{"pipeline":"$ProcessName","outcome":"$outcome"}""")
    spark.stop()
  }

  /** Returns "SKIPPED" (gate) or "SUCCESS"; rethrows after recording a
    * FAILED ledger row if any stage fails ([[RunLedger.guarded]]).
    */
  def run(spark: SparkSession, landingDir: String, whDir: String, runTs: String): String =
    RunLedger.guarded(spark, s"$whDir/control/process_log", ProcessName, runTs) {
      runStages(spark, landingDir, whDir, runTs, runTs.substring(0, 10))
    }

  /** Stages [3]–[7]; returns the SUCCESS ledger message. */
  private def runStages(
      spark: SparkSession,
      landingDir: String,
      whDir: String,
      runTs: String,
      runDate: String): String = {
    // [3] landing → staging raw (truncate-and-load). Corrupt landing
    // files are quarantined, counted, and SURFACED in the run ledger —
    // at warehouse scale one truncated upload must neither kill the
    // nightly nor silently shrink the row counts (Zones.readRobust).
    // Zones the code owns are read back with their known schema, so no
    // read runs a schema-inference job.
    val (raw, quarantined) = readLanding(spark, landingDir, runTs)
    val stagingPath = s"$whDir/staging/products_general"
    Zones.overwriteAll(raw, stagingPath)

    // [4] clean + SCD2 into the expiry-day-partitioned history zone: each
    // run rewrites ONLY the sentinel (live) partition and today's expired
    // partition — O(live + churn) daily, flat in history age. The flat
    // form rewrote the whole zone (O(all history)) and by year three
    // would rewrite a thousand closed days nightly to expire a few
    // thousand rows.
    val dimDate = ensureDimDate(spark, whDir)
    val cleaned = ProductPipeline.clean(Zones.read(spark, stagingPath, raw.schema), dimDate)
    val historyPath = s"$whDir/staging/products_expired"
    val stats = ProductPipeline.scdUpdateZoned(
      spark, historyPath, cleaned, lit(runTs).cast("timestamp_ntz"), runDate)

    // [5] dims — read ONLY the sentinel partition (loadDims consumes just
    // the current rows; the partition filter prunes the scan statically,
    // so closed history is never touched)
    val sentinel = lit(Scd2.SentinelTs).cast("timestamp_ntz")
    val history = Zones.read(spark, historyPath, Scd2.zoneSchema(cleaned, "timestamp_ntz"))
      .filter(col(Scd2.ExpiredDay) === date_format(sentinel, "yyyy-MM-dd"))
      .drop(Scd2.ExpiredDay)
    val brandPath = s"$whDir/warehouse/dim_brand"
    val productPath = s"$whDir/warehouse/dim_product"
    val emptyBrand = ProductPipeline.emptyDimBrand(spark)
    val emptyProduct = ProductPipeline.emptyDimProduct(spark)
    val brand0 =
      if (Zones.exists(spark, brandPath)) Zones.read(spark, brandPath, emptyBrand.schema)
      else emptyBrand
    val product0 =
      if (Zones.exists(spark, productPath)) Zones.read(spark, productPath, emptyProduct.schema)
      else emptyProduct
    val (brand1, product1) = ProductPipeline.loadDims(history, brand0, product0, sentinel)
    // stage BOTH before swapping either: product1's plan reads the current
    // dim_brand files, which the swap replaces
    Zones.overwriteSwapAll(Seq(brand1 -> brandPath, product1 -> productPath))

    // [6] aggregate snapshot (load_aggregate.py:90-107) — replaces
    // tonight's DATE_SK partition and leaves every other day untouched.
    // That is the reference's ON DUPLICATE KEY UPDATE here: the snapshot
    // holds every dim_product row, and loadDims never drops or re-keys a
    // product, so a same-day rerun's earlier partition holds no key the
    // snapshot lacks. One dim_date query collects tonight's quarter (at
    // most 92 rows): today's keys and the quarter's DATE_SK bounds both
    // come from it (DATE_SK numbers days consecutively).
    val quarter = dimDate
      .filter(col("QUARTER_OF_YEAR") === trunc(lit(runDate).cast("date"), "quarter"))
      .select(col("DATE_SK"), col("CALENDAR_YEAR"), col("INT_MONTH"),
        col("FULL_DATE") === lit(runDate).cast("date"))
      .collect()
    val today = quarter.find(_.getBoolean(3)).getOrElse(
      throw new IllegalStateException(s"run date $runDate is outside dim_date"))
    val snapshot = ProductPipeline.aggregateSnapshot(
      Zones.read(spark, productPath, emptyProduct.schema),
      today.getInt(0), today.getInt(1), today.getInt(2))
    val aggregatePath = s"$whDir/warehouse/aggregate"
    Zones.replacePartitions(snapshot, aggregatePath, Seq("DATE_SK"))

    // [7] datamart rollups (load_datamart.py:112,138 rebuilds both in
    // full): replace only tonight's daily partition and the current
    // quarter's partition, each from the aggregate days it depends on.
    val aggregate = Zones.read(spark, aggregatePath, snapshot.schema)
    val quarterSks = quarter.map(_.getInt(0))
    refreshDatamart(spark, s"$whDir/datamart/dm_product_daily_price", Seq("DATE_SK"),
      aggregate, col("DATE_SK") === today.getInt(0))(ProductPipeline.datamartDaily)
    refreshDatamart(spark, s"$whDir/datamart/dm_product_quarterly_trend",
      Seq("CALENDAR_YEAR", "QUARTER_NAME"), aggregate,
      col("DATE_SK").between(quarterSks.min, quarterSks.max))(
      ProductPipeline.datamartQuarterly(_, dimDate))

    RunLedger.statsMessage(stats) + (
      if (quarantined.isEmpty) ""
      else s" QUARANTINED ${quarantined.size} corrupt landing file(s) to " +
        s"${Zones.quarantineDir(landingDir)}.")
  }

  /** Returns the landing frame plus any quarantined corrupt-file paths
    * (parquet landing only; CSV rows are line-structured and parse
    * permissively).
    */
  private def readLanding(
      spark: SparkSession, landingDir: String, runTs: String): (DataFrame, Seq[String]) = {
    val rawSchema = org.apache.spark.sql.types.StructType(
      Seq("TEN", "LINK", "LINK_ANH", "GIA_CU", "GIA_MOI", "KICH_THUOC_MAN_HINH", "RAM", "BO_NHO")
        .map(n => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType))
        .prepended(org.apache.spark.sql.types.StructField("ID", org.apache.spark.sql.types.IntegerType))
        .appended(org.apache.spark.sql.types.StructField("NGAY", org.apache.spark.sql.types.TimestampNTZType))
        .appended(org.apache.spark.sql.types.StructField("ID_CONFIG", org.apache.spark.sql.types.IntegerType)))
    CsvIngest.latestByMtime(
        landingDir, hadoopConf = spark.sessionState.newHadoopConf()) match {
      case Some(csv) =>
        (CsvIngest.readAligned(
          spark, csv, rawSchema,
          stamps = Map(
            "NGAY" -> lit(runTs).cast("timestamp_ntz"),
            "ID_CONFIG" -> coalesce(col("SITE_ID").try_cast("int"), lit(1)))), Nil)
      case None => // parquet landing (fixture replay path)
        Zones.readRobust(spark, landingDir)
    }
  }

  /** Replace the datamart partitions that `rollup` derives from the
    * aggregate rows in `scope`. A datamart zone written before the
    * datamarts were partitioned (one flat full refresh) is rebuilt once
    * from the whole aggregate by the same rollup.
    */
  private def refreshDatamart(
      spark: SparkSession,
      path: String,
      partitionBy: Seq[String],
      aggregate: DataFrame,
      scope: Column)(rollup: DataFrame => DataFrame): Unit =
    if (Zones.exists(spark, path) && !Zones.isPartitionedBy(spark, path, partitionBy.head))
      Zones.overwriteAll(rollup(aggregate), path, partitionBy)
    else Zones.replacePartitions(rollup(aggregate.filter(scope)), path, partitionBy)

  private def ensureDimDate(spark: SparkSession, whDir: String): DataFrame = {
    val path = s"$whDir/warehouse/dim_date"
    val dd = graft.operators.DimDate.generate(spark)
    val upper = dd.toDF(dd.columns.map(_.toUpperCase).toSeq: _*)
    if (!Zones.exists(spark, path)) Zones.overwriteAll(upper, path)
    Zones.read(spark, path, upper.schema)
  }
}

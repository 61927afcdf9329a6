package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *   → dim_brand / dim_product → aggregate snapshot (partitioned upsert)
  *   → datamart rollups (full refresh)
  *   → run ledger SUCCESS row with the SCD2 stats message
  *
  * Usage: runMain graft.pipeline.DailyRun <landingDir> <warehouseDir> <runTs>
  *   landingDir: directory of products_raw_*.csv (latest by mtime wins)
  *               or a parquet file of raw rows
  *   runTs:      injected "now" (yyyy-MM-dd HH:mm:ss) — F11 determinism
  */
object DailyRun {
  val ProcessName = "daily_pipeline"

  /** Catalog name + bucket count of the aggregate zone table. 32 buckets
    * is the local[32] setting; size to ~executor-count × small-factor on
    * a real cluster.
    */
  val AggregateTable = "graft_aggregate"
  val AggregateBuckets = 32

  def main(args: Array[String]): Unit = {
    val Array(landingDir, whDir, runTs) = args.take(3)
    val spark = Sessions
      .builder("graft-daily", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
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
    val (raw, quarantined) = readLanding(spark, landingDir, runTs)
    Zones.overwriteAll(raw, s"$whDir/staging/products_general")

    // [4] clean + SCD2 into the expiry-day-partitioned history zone: each
    // run rewrites ONLY the sentinel (live) partition and today's expired
    // partition — O(live + churn) daily, flat in history age. The flat
    // form rewrote the whole zone (O(all history)) and by year three
    // would rewrite a thousand closed days nightly to expire a few
    // thousand rows.
    val dimDate = ensureDimDate(spark, whDir)
    val cleaned = ProductPipeline.clean(
      Zones.read(spark, s"$whDir/staging/products_general"), dimDate)
    val historyPath = s"$whDir/staging/products_expired"
    val stats = ProductPipeline.scdUpdateZoned(
      spark, historyPath, cleaned, lit(runTs).cast("timestamp_ntz"), runDate)

    // [5] dims — read ONLY the sentinel partition (loadDims consumes just
    // the current rows; the partition filter prunes the scan statically,
    // so closed history is never touched)
    val sentinel = lit(Scd2.SentinelTs).cast("timestamp_ntz")
    val history = Zones.read(spark, historyPath)
      .filter(col(Scd2.ExpiredDay) === date_format(sentinel, "yyyy-MM-dd"))
      .drop(Scd2.ExpiredDay)
    val brandPath = s"$whDir/warehouse/dim_brand"
    val productPath = s"$whDir/warehouse/dim_product"
    val brand0 =
      if (Zones.exists(spark, brandPath)) Zones.read(spark, brandPath)
      else ProductPipeline.emptyDimBrand(spark)
    val product0 =
      if (Zones.exists(spark, productPath)) Zones.read(spark, productPath)
      else ProductPipeline.emptyDimProduct(spark)
    val (brand1, product1) = ProductPipeline.loadDims(history, brand0, product0, sentinel)
    // stage BOTH before swapping either: product1's plan reads the current
    // dim_brand files, which the swap replaces
    Zones.overwriteSwapAll(Seq(brand1 -> brandPath, product1 -> productPath))

    // [6] aggregate snapshot — per-day partitioned upsert into the
    // BUCKETED zone table: day partitions keep pruning, PRODUCT_SK
    // buckets let the daily merge and every downstream star join run
    // without shuffling the (at scale, 100 TB) aggregate side
    val today = dimDate.filter(col("FULL_DATE") === lit(runDate).cast("date"))
      .select("DATE_SK", "CALENDAR_YEAR", "INT_MONTH").head()
    val snapshot = ProductPipeline.aggregateSnapshot(
      Zones.read(spark, productPath), today.getInt(0), today.getInt(1), today.getInt(2))
    Zones.upsertBucketed(
      spark, AggregateTable, s"$whDir/warehouse/aggregate", snapshot,
      Seq("PRODUCT_SK", "DATE_SK"), "DATE_SK", Seq("PRODUCT_SK"), AggregateBuckets)

    // [7] datamart rollups (full refresh — load_datamart.py:112,138);
    // reading through the table keeps the bucketed distribution visible
    val aggregate = spark.table(AggregateTable)
    Zones.overwriteAll(
      ProductPipeline.datamartDaily(aggregate), s"$whDir/datamart/dm_product_daily_price")
    Zones.overwriteAll(
      ProductPipeline.datamartQuarterly(aggregate, dimDate),
      s"$whDir/datamart/dm_product_quarterly_trend")

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

  private def ensureDimDate(spark: SparkSession, whDir: String): DataFrame = {
    val path = s"$whDir/warehouse/dim_date"
    if (!Zones.exists(spark, path)) {
      val dd = graft.operators.DimDate.generate(spark)
      val upper = dd.columns.foldLeft(dd)((d, c) => d.withColumnRenamed(c, c.toUpperCase))
      Zones.overwriteAll(upper, path)
    }
    Zones.read(spark, path)
  }
}

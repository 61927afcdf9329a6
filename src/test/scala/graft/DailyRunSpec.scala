package graft

import org.apache.spark.sql.functions._

import graft.pipeline.DailyRun
import graft.sources.Zones

/** Operational end-to-end: DailyRun over the fixture corpus builds every
  * zone, a same-day rerun is gated to SKIPPED, and a next-day run with
  * price changes expires history and adds an aggregate partition.
  */
class DailyRunSpec extends SparkSpec {

  /** [[DailyRun.run]], asserting that the night leaves the session as it
    * found it: no cached plan (a cache left per night is heap that grows
    * with the nights), the same session confs and no new catalog table.
    * Caches other suites left in this JVM are cleared first, so the assert
    * sees this night alone.
    */
  private def runNight(landing: String, wh: String, runTs: String): String = {
    spark.catalog.clearCache()
    val confs = spark.conf.getAll
    def tables() = spark.catalog.listTables().collect().map(_.name).toSet
    val tablesBefore = tables()
    val outcome = DailyRun.run(spark, landing, wh, runTs)
    assert(spark.sharedState.cacheManager.isEmpty, s"the night of $runTs left cached plans")
    assert(spark.conf.getAll == confs, s"the night of $runTs changed session confs")
    assert(tables() -- tablesBefore == Set.empty, s"the night of $runTs registered tables")
    outcome
  }

  test("daily pipeline: day 1, idempotent same-day rerun, day 2 changes") {
    val wh = tempDir("graft_wh")
    val landing = tempDir("graft_landing")

    // day 1 landing = fixture raw rows as parquet (no CSV → parquet path),
    // ID_CONFIG stored as int64 the way many writers store integers
    fixture("products_general").withColumn("ID_CONFIG", col("ID_CONFIG").cast("long"))
      .write.mode("overwrite").parquet(s"$landing/day1")
    assert(runNight(s"$landing/day1", wh, "2025-11-23 18:51:37") == "SUCCESS")

    val history1 = Zones.read(spark, s"$wh/staging/products_expired")
    assert(history1.count() == 239)
    assert(Zones.read(spark, s"$wh/warehouse/dim_product").count() > 0)
    assert(Zones.read(spark, s"$wh/datamart/dm_product_daily_price").count() > 0)

    // same-day rerun: gate must skip without touching zones
    assert(runNight(s"$landing/day1", wh, "2025-11-23 20:00:00") == "SKIPPED")
    assert(Zones.read(spark, s"$wh/staging/products_expired").count() == 239)

    // day 2: 30 price drops → expired rows + re-inserts + a second
    // aggregate partition
    fixture("products_general")
      .withColumn("GIA_MOI",
        when(col("ID") <= 30, concat((col("ID") * 1000).cast("string"), lit("đ")))
          .otherwise(col("GIA_MOI")))
      .write.mode("overwrite").parquet(s"$landing/day2")
    assert(runNight(s"$landing/day2", wh, "2025-11-24 18:51:37") == "SUCCESS")

    val history2 = Zones.read(spark, s"$wh/staging/products_expired")
    assert(history2.count() > 239, "day-2 re-inserts must append history")
    assert(history2.filter(col("expired_at") === lit("2025-11-24 18:51:37").cast("timestamp_ntz")).count() > 0)
    val agg = Zones.read(spark, s"$wh/warehouse/aggregate")
    assert(agg.select("DATE_SK").distinct().count() == 2)
    // ledger carries both SUCCESS rows with the stats message
    val ledger = Zones.read(spark, s"$wh/control/process_log")
    assert(ledger.filter(col("status") === "SUCCESS").count() == 2)
    assert(ledger.filter(col("message").contains("Rows Processed: 239")).count() == 2)
  }

  test("a failing stage closes the RUNNING row as FAILED and does not deadlock the gate") {
    val wh = tempDir("graft_wh")
    val landing = tempDir("graft_landing")

    // empty landing dir → the parquet read in stage 3 fails
    intercept[Exception] {
      DailyRun.run(spark, s"$landing/missing", wh, "2025-11-23 18:51:37")
    }
    val ledger = Zones.read(spark, s"$wh/control/process_log")
    assert(ledger.filter(col("status") === "FAILED" && col("message").startsWith("FAILED:")).count() == 1)
    assert(ledger.filter(col("status") === "RUNNING").count() == 0)

    // the crash must not block the retry
    fixture("products_general").write.mode("overwrite").parquet(s"$landing/day1")
    assert(runNight(s"$landing/day1", wh, "2025-11-23 19:00:00") == "SUCCESS")
    assert(Zones.read(spark, s"$wh/staging/products_expired").count() == 239)
  }

  test("corrupt landing file: run succeeds, file quarantined, loss surfaced in the ledger") {
    val wh = tempDir("graft_wh")
    val landing = tempDir("graft_landing")
    fixture("products_general").repartition(4).write.mode("overwrite").parquet(s"$landing/day1")
    val files = new java.io.File(s"$landing/day1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4)
    val victim = files.minBy(_.getName)
    val raf = new java.io.RandomAccessFile(victim, "rw")
    raf.setLength(victim.length() / 2)
    raf.close()

    assert(runNight(s"$landing/day1", wh, "2025-11-23 18:51:37") == "SUCCESS")
    // the nightly survived, processed the intact files only, and the
    // ledger message NAMES the loss next to the (reduced) row counts
    val n = Zones.read(spark, s"$wh/staging/products_general").count()
    assert(n > 0 && n < 239, s"expected partial staging, got $n")
    val msg = Zones.read(spark, s"$wh/control/process_log")
      .filter(col("status") === "SUCCESS").select("message").head().getString(0)
    assert(msg.contains(s"Rows Processed: $n"), msg)
    assert(msg.contains("QUARANTINED 1 corrupt landing file"), msg)
    assert(new java.io.File(
      Zones.quarantineDir(s"$landing/day1"), victim.getName).isFile)
  }

  test("incremental datamart ≡ full-refresh rollups over the whole aggregate, " +
      "across a quarter boundary and an unpartitioned-zone upgrade") {
    import graft.pipeline.ProductPipeline
    val wh = tempDir("graft_wh_dm")
    val landing = tempDir("graft_landing_dm")
    val dailyPath = s"$wh/datamart/dm_product_daily_price"
    val quarterlyPath = s"$wh/datamart/dm_product_quarterly_trend"
    def fullRefresh() = {
      val aggregate = Zones.read(spark, s"$wh/warehouse/aggregate")
      (ProductPipeline.datamartDaily(aggregate),
        ProductPipeline.datamartQuarterly(aggregate, Zones.read(spark, s"$wh/warehouse/dim_date")))
    }
    def census(dir: String): Map[String, (Long, Long)] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length, f.lastModified)).toMap
    // 2025-10-01 opens Q4; the night before it finds a datamart zone from
    // before the datamarts were partitioned
    val nights = Seq("2025-09-29", "2025-09-30", "2025-10-01", "2025-10-02")
    var closed = Map.empty[String, Map[String, (Long, Long)]]
    nights.zipWithIndex.foreach { case (day, i) =>
      fixture("products_general")
        .withColumn("GIA_MOI",
          when(col("ID") % 7 === i, concat((col("ID") * 1000 + i).cast("string"), lit("đ")))
            .otherwise(col("GIA_MOI")))
        .write.mode("overwrite").parquet(s"$landing/night$i")
      if (day == "2025-09-30") {
        val (daily, quarterly) = fullRefresh()
        Zones.overwriteAll(daily, dailyPath)
        Zones.overwriteAll(quarterly, quarterlyPath)
      }
      if (day == "2025-10-02") {
        val sk = Zones.read(spark, s"$wh/warehouse/aggregate").agg(max("DATE_SK")).head().getInt(0)
        closed = Map(
          "daily" -> census(s"$dailyPath/DATE_SK=$sk"),
          "quarterly" -> census(s"$quarterlyPath/CALENDAR_YEAR=2025/QUARTER_NAME=QQ3"))
      }
      assert(runNight(s"$landing/night$i", wh, s"$day 18:51:37") == "SUCCESS")
      val (daily, quarterly) = fullRefresh()
      assertSameRows(Zones.read(spark, dailyPath), daily, s"daily datamart after $day")
      assertSameRows(Zones.read(spark, quarterlyPath), quarterly, s"quarterly datamart after $day")
    }
    assert(Zones.isPartitionedBy(spark, dailyPath, "DATE_SK"))
    assert(Zones.isPartitionedBy(spark, quarterlyPath, "CALENDAR_YEAR"))
    assert(Zones.read(spark, quarterlyPath).select("QUARTER_NAME").distinct()
      .collect().map(_.getString(0)).toSet == Set("QQ3", "QQ4"))
    // the last night rewrote neither the day before it nor the closed quarter
    closed.foreach { case (zone, files) => assert(files.nonEmpty, zone) }
    val sk = Zones.read(spark, s"$wh/warehouse/aggregate").agg(max("DATE_SK")).head().getInt(0)
    assert(census(s"$dailyPath/DATE_SK=${sk - 1}") == closed("daily"))
    assert(census(s"$quarterlyPath/CALENDAR_YEAR=2025/QUARTER_NAME=QQ3") == closed("quarterly"))
  }

  test("tonight's aggregate partition replace ≡ the reference's upsert on a FAILED-day rerun") {
    import graft.operators.Upsert
    import graft.pipeline.ProductPipeline
    val wh = tempDir("graft_wh_rerun")
    val landing = tempDir("graft_landing_rerun")
    val aggPath = s"$wh/warehouse/aggregate"
    fixture("products_general").write.mode("overwrite").parquet(s"$landing/night1")
    assert(runNight(s"$landing/night1", wh, "2025-11-23 18:51:37") == "SUCCESS")
    val sk = Zones.read(spark, aggPath).agg(max("DATE_SK")).head().getInt(0)
    // night 1's partition, held in memory: the rerun replaces its files
    val night1 = spark.createDataFrame(
      java.util.List.of(Zones.read(spark, aggPath).filter(col("DATE_SK") === sk).collect(): _*),
      Zones.read(spark, aggPath).schema)

    // night 1 is found to have failed after all: its ledger row becomes
    // FAILED, and the same day reruns on a landing that drops some
    // products and re-prices others
    val ledgerPath = s"$wh/control/process_log"
    val mangled = Zones.read(spark, ledgerPath).withColumn("status",
      when(col("status") === "SUCCESS", "FAILED").otherwise(col("status")))
    Zones.overwriteSwap(mangled, ledgerPath)
    fixture("products_general")
      .filter(col("ID") % 10 =!= 0)
      .withColumn("GIA_MOI",
        when(col("ID") % 7 === 0, concat((col("ID") * 1000).cast("string"), lit("đ")))
          .otherwise(col("GIA_MOI")))
      .write.mode("overwrite").parquet(s"$landing/rerun")
    assert(runNight(s"$landing/rerun", wh, "2025-11-23 21:00:00") == "SUCCESS")

    val dimDate = Zones.read(spark, s"$wh/warehouse/dim_date")
    val date = dimDate.filter(col("DATE_SK") === sk).head()
    val snapshot = ProductPipeline.aggregateSnapshot(
      Zones.read(spark, s"$wh/warehouse/dim_product"), sk,
      date.getAs[Int]("CALENDAR_YEAR"), date.getAs[Int]("INT_MONTH"))
    val replaced = Zones.read(spark, aggPath)
    assert(replaced.select("DATE_SK").distinct().collect().map(_.getInt(0)).toSeq == Seq(sk))
    assert(replaced.count() == night1.count(), "the rerun lost night-1 products")
    assertSameRows(replaced, Upsert.upsert(night1, snapshot, Seq("PRODUCT_SK", "DATE_SK")),
      "replaced partition vs upsert of the rerun snapshot")
    assert(replaced.join(night1, Seq("PRODUCT_SK", "MIN_PRICE", "MAX_PRICE"), "left_anti")
      .count() > 0, "the rerun re-priced no product")
    assertSameRows(Zones.read(spark, s"$wh/datamart/dm_product_daily_price"),
      ProductPipeline.datamartDaily(replaced), "daily datamart after the rerun")
    assertSameRows(Zones.read(spark, s"$wh/datamart/dm_product_quarterly_trend"),
      ProductPipeline.datamartQuarterly(replaced, dimDate), "quarterly datamart after the rerun")
  }

  test("a stale RUNNING row (hard-killed driver) stops blocking after StaleRunningHours") {
    import graft.control.RunLedger
    val ledger = RunLedger.startRun(
      RunLedger.empty(spark), 1L, DailyRun.ProcessName, "2025-11-22 10:00:00")
    assert(RunLedger.gate(ledger, DailyRun.ProcessName, "2025-11-22 12:00:00").isEmpty)
    val stillFresh = java.time.LocalDateTime.of(2025, 11, 22, 10, 0)
      .plusHours(RunLedger.StaleRunningHours - 1)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    assert(RunLedger.gate(ledger, DailyRun.ProcessName, stillFresh).isEmpty)
    assert(RunLedger.gate(ledger, DailyRun.ProcessName, "2025-11-23 12:00:00").contains(2L))
  }
}

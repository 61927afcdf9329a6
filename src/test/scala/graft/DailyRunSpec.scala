package graft

import org.apache.spark.sql.functions._

import graft.pipeline.DailyRun
import graft.sources.Zones

/** Operational end-to-end: DailyRun over the fixture corpus builds every
  * zone, a same-day rerun is gated to SKIPPED, and a next-day run with
  * price changes expires history and adds an aggregate partition.
  */
class DailyRunSpec extends SparkSpec {

  test("daily pipeline: day 1, idempotent same-day rerun, day 2 changes") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toFile.getAbsolutePath
    val landing = java.nio.file.Files.createTempDirectory("graft_landing").toFile.getAbsolutePath

    // day 1 landing = fixture raw rows as parquet (no CSV → parquet path)
    fixture("products_general").write.mode("overwrite").parquet(s"$landing/day1")
    assert(DailyRun.run(spark, s"$landing/day1", wh, "2025-11-23 18:51:37") == "SUCCESS")

    val history1 = Zones.read(spark, s"$wh/staging/products_expired")
    assert(history1.count() == 239)
    assert(Zones.read(spark, s"$wh/warehouse/dim_product").count() > 0)
    assert(Zones.read(spark, s"$wh/datamart/dm_product_daily_price").count() > 0)

    // same-day rerun: gate must skip without touching zones
    assert(DailyRun.run(spark, s"$landing/day1", wh, "2025-11-23 20:00:00") == "SKIPPED")
    assert(Zones.read(spark, s"$wh/staging/products_expired").count() == 239)

    // day 2: 30 price drops → expired rows + re-inserts + a second
    // aggregate partition
    fixture("products_general")
      .withColumn("GIA_MOI",
        when(col("ID") <= 30, concat((col("ID") * 1000).cast("string"), lit("đ")))
          .otherwise(col("GIA_MOI")))
      .write.mode("overwrite").parquet(s"$landing/day2")
    assert(DailyRun.run(spark, s"$landing/day2", wh, "2025-11-24 18:51:37") == "SUCCESS")

    val history2 = Zones.read(spark, s"$wh/staging/products_expired")
    assert(history2.count() > 239, "day-2 re-inserts must append history")
    assert(history2.filter(col("expired_at") === lit("2025-11-24 18:51:37").cast("timestamp_ntz")).count() > 0)
    val agg = Zones.read(spark, s"$wh/warehouse/aggregate")
    assert(agg.select("DATE_SK").distinct().count() == 2)
    // the aggregate zone is a bucketed table: the day-2 merge-shape join
    // and the star join on PRODUCT_SK must not shuffle the aggregate side
    Sessions.withConfs(spark,
        ("spark.sql.autoBroadcastJoinThreshold" -> "-1") +: Zones.BucketedMergeConfs: _*) {
      val aggTable = spark.table(DailyRun.AggregateTable)
      val dim = Zones.read(spark, s"$wh/warehouse/dim_product").select("PRODUCT_SK")
      assertZoneSideUnshuffled(aggTable.join(dim, "PRODUCT_SK"), "aggregate star join")
      val merge = aggTable
        .join(Zones.read(spark, s"$wh/warehouse/aggregate").select("PRODUCT_SK", "DATE_SK"),
          Seq("PRODUCT_SK", "DATE_SK"), "left_anti")
      assertZoneSideUnshuffled(merge, "aggregate upsert-shape join")
    }
    // ledger carries both SUCCESS rows with the stats message
    val ledger = Zones.read(spark, s"$wh/control/process_log")
    assert(ledger.filter(col("status") === "SUCCESS").count() == 2)
    assert(ledger.filter(col("message").contains("Rows Processed: 239")).count() == 2)
  }

  test("a failing stage closes the RUNNING row as FAILED and does not deadlock the gate") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toFile.getAbsolutePath
    val landing = java.nio.file.Files.createTempDirectory("graft_landing").toFile.getAbsolutePath

    // empty landing dir → the parquet read in stage 3 fails
    intercept[Exception] {
      DailyRun.run(spark, s"$landing/missing", wh, "2025-11-23 18:51:37")
    }
    val ledger = Zones.read(spark, s"$wh/control/process_log")
    assert(ledger.filter(col("status") === "FAILED" && col("message").startsWith("FAILED:")).count() == 1)
    assert(ledger.filter(col("status") === "RUNNING").count() == 0)

    // the crash must not block the retry
    fixture("products_general").write.mode("overwrite").parquet(s"$landing/day1")
    assert(DailyRun.run(spark, s"$landing/day1", wh, "2025-11-23 19:00:00") == "SUCCESS")
    assert(Zones.read(spark, s"$wh/staging/products_expired").count() == 239)
  }

  test("corrupt landing file: run succeeds, file quarantined, loss surfaced in the ledger") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toFile.getAbsolutePath
    val landing = java.nio.file.Files.createTempDirectory("graft_landing").toFile.getAbsolutePath
    fixture("products_general").repartition(4).write.mode("overwrite").parquet(s"$landing/day1")
    val files = new java.io.File(s"$landing/day1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4)
    val victim = files.minBy(_.getName)
    val raf = new java.io.RandomAccessFile(victim, "rw")
    raf.setLength(victim.length() / 2)
    raf.close()

    assert(DailyRun.run(spark, s"$landing/day1", wh, "2025-11-23 18:51:37") == "SUCCESS")
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

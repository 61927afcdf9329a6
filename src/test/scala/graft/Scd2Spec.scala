package graft

import org.apache.spark.sql.functions._

import graft.operators.Scd2
import graft.pipeline.ProductPipeline

/** SCD2 replay + invariants against the reference's live history dump:
  * first run over 239 staged rows must log input 239 / inserted 239 /
  * expired 0 (db_datamart.sql:147) and reproduce PRODUCTS_EXPIRED
  * byte-for-byte (modulo the auto-increment ID_SR).
  */
class Scd2Spec extends SparkSpec {

  private def sentinel = lit(Scd2.SentinelTs).cast("timestamp_ntz")

  test("first run replays the reference dump: 239 in / 239 inserted / 0 expired") {
    val staged = fixture("products_transform").drop("ID_SR")
    val expected = fixture("products_expired").drop("ID_SR")
      .withColumnRenamed("CREATED_AT", "created_at")
      .withColumnRenamed("UPDATED_AT", "updated_at")
      .withColumnRenamed("EXPIRED_AT", "expired_at")
    // the dump batch's CREATED_AT is uniform — use it as the injected runTs
    val runTs = expected.select(max("created_at")).head().getAs[java.time.LocalDateTime](0)
    assert(expected.select("created_at").distinct().count() == 1)

    val (result, stats) = ProductPipeline.scdUpdate(
      Scd2.emptyHistory(staged, "timestamp_ntz"), staged,
      lit(runTs.toString.replace("T", " ")).cast("timestamp_ntz"))
    assert(stats == graft.operators.ScdStats(239, 239, 0), s"stats: $stats")
    assertSameRows(result, expected, "scd2 first run vs products_expired")
  }

  test("second run: changed rows expire + re-insert; key asymmetry preserved") {
    val staged = fixture("products_transform").drop("ID_SR")
    val ts1 = lit("2025-11-23 18:51:37").cast("timestamp_ntz")
    val ts2 = lit("2025-11-24 18:51:37").cast("timestamp_ntz")
    val h1 = Scd2.apply(
      Scd2.emptyHistory(staged, "timestamp_ntz"), staged,
      Seq("TEN"), Seq("TEN", "LINK"), ProductPipeline.scdCompareCols, ts1, sentinel)

    // day 2: 50 price changes, 10 changed rows ALSO change LINK (asymmetry),
    // 5 brand-new names
    val day2 = staged
      .withColumn("GIA_MOI", when(col("ID") <= 50, col("GIA_MOI") + 1000).otherwise(col("GIA_MOI")))
      .withColumn("LINK", when(col("ID") <= 10, concat(col("LINK"), lit("#moved"))).otherwise(col("LINK")))
      .unionByName(staged.filter(col("ID") <= 5)
        .withColumn("TEN", concat(col("TEN"), lit(" (2026)"))))
    val (h2, stats) = Scd2.applyWithStats(
      h1, day2, Seq("TEN"), Seq("TEN", "LINK"), ProductPipeline.scdCompareCols, ts2, sentinel)

    assert(stats.rowsInput == 244)
    // rows 11-50: expired AND re-inserted (LINK unchanged).
    // rows 1-10: changed but LINK moved → expired WITHOUT re-insert (the
    // reference's key-asymmetry quirk, SURVEY §7.4).
    assert(stats.rowsExpired == 50, s"expired: ${stats.rowsExpired}")
    // 5 new names + 40 re-inserts
    assert(stats.rowsInserted == 45, s"inserted: ${stats.rowsInserted}")
    // invariant: ≤1 current row per (TEN, LINK); expired rows keep history
    val dupCurrent = h2.filter(col("expired_at") === sentinel)
      .groupBy("TEN", "LINK").count().filter(col("count") > 1).count()
    assert(dupCurrent == 0)
    assert(h2.count() == 239 + 45)
  }

  test("CI keyNorm: case-variant staging key matches history like utf8mb4_unicode_ci") {
    import spark.implicits._
    val ts1 = lit("2026-01-01 00:00:00").cast("timestamp_ntz")
    val ts2 = lit("2026-01-02 00:00:00").cast("timestamp_ntz")
    // history: 'iPhone 15' @ 100, 'Galaxy S24' @ 200
    val h1 = Seq(("iPhone 15", 100.0), ("Galaxy S24", 200.0)).toDF("TEN", "GIA")
      .withColumn("created_at", ts1).withColumn("updated_at", ts1)
      .withColumn("expired_at", sentinel)
    // staging: 'IPHONE 15' with a changed price (same key under CI → must
    // expire + re-insert, NOT insert-as-new), 'galaxy s24' unchanged price
    // (same key, no compare diff → untouched, keeps history's case).
    val day2 = Seq(("IPHONE 15", 150.0), ("galaxy s24", 200.0)).toDF("TEN", "GIA")
    val (h2, stats) = Scd2.applyWithStats(
      h1, day2, Seq("TEN"), Seq("TEN"), Seq("GIA"), ts2, sentinel,
      keyNorm = Scd2.mysqlCiNorm)
    assert(stats == graft.operators.ScdStats(2, 1, 1), s"stats: $stats")
    val rows = h2.orderBy("created_at", "TEN").collect()
    assert(rows.length == 3)
    // expired old row keeps its original case and closes at ts2
    val expired = h2.filter(col("expired_at") =!= sentinel).collect()
    assert(expired.length == 1 && expired(0).getAs[String]("TEN") == "iPhone 15")
    // re-inserted row carries STAGING's case (MySQL stores what it's given)
    val current = h2.filter(col("expired_at") === sentinel)
    assert(current.filter(col("TEN") === "IPHONE 15" && col("GIA") === 150.0).count() == 1)
    // untouched row keeps history's case
    assert(current.filter(col("TEN") === "Galaxy S24" && col("GIA") === 200.0).count() == 1)

    // binary default (no keyNorm): the SAME staging would treat 'IPHONE 15'
    // as a brand-new key — proving the flag changes semantics.
    val (h2b, statsB) = Scd2.applyWithStats(h1, day2, Seq("TEN"), Seq("TEN"), Seq("GIA"), ts2, sentinel)
    assert(statsB.rowsExpired == 0 && statsB.rowsInserted == 2, s"binary stats: $statsB")
    assert(h2b.count() == 4)
  }

  test("no-change run is a no-op with zero inserted/expired") {
    val staged = fixture("products_transform").drop("ID_SR")
    val ts1 = lit("2025-11-23 18:51:37").cast("timestamp_ntz")
    val h1 = Scd2.apply(
      Scd2.emptyHistory(staged, "timestamp_ntz"), staged,
      Seq("TEN"), Seq("TEN", "LINK"), ProductPipeline.scdCompareCols, ts1, sentinel)
    val (h2, stats) = Scd2.applyWithStats(
      h1, staged, Seq("TEN"), Seq("TEN", "LINK"), ProductPipeline.scdCompareCols,
      lit("2025-11-24 00:00:00").cast("timestamp_ntz"), sentinel)
    assert(stats.rowsInserted == 0 && stats.rowsExpired == 0)
    assert(h2.count() == h1.count())
  }

  test("applyZoned: three rounds equal flat apply; historical partitions never rewritten") {
    import spark.implicits._
    val zone = tempDir("scd2_zone") + "/h"
    def snap(prices: Map[Long, Double]) =
      prices.toSeq.toDF("id", "price").select(col("id"), col("price"), lit(1).as("psize"))
    val s1 = snap(Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    val s2 = snap(Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0)) // 1 changes, 4 new
    val s3 = snap(Map(1L -> 11.0, 2L -> 22.0, 3L -> 30.0, 4L -> 40.0)) // 2 changes
    val keys = (Seq("id"), Seq("id"), Seq("price"))
    val ts = (d: Int) => lit(f"2024-01-0$d 00:00:00").cast("timestamp_ntz")

    var flat = Scd2.emptyHistory(s1, "timestamp_ntz")
    Seq((s1, 1), (s2, 2), (s3, 3)).foreach { case (sn, d) =>
      Scd2.applyZoned(spark, zone, sn, keys._1, keys._2, keys._3, ts(d),
        sentinel, tsType = "timestamp_ntz")
      flat = Scd2.apply(flat, sn, keys._1, keys._2, keys._3, ts(d), sentinel)
      if (d == 2) {
        // remember the day-2 expired partition's exact files: round 3 must
        // not touch them (the zone's whole point — history stays closed)
        ()
      }
    }
    val day2Dir = new java.io.File(s"$zone/${Scd2.ExpiredDay}=2024-01-02")
    val day2Files = day2Dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    // re-run round 3 shape with a fourth no-change day: day-2 AND day-3
    // partitions must remain byte-identical while the sentinel rewrites
    Scd2.applyZoned(spark, zone, s3, keys._1, keys._2, keys._3, ts(4),
      sentinel, tsType = "timestamp_ntz")
    val day2After = day2Dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    assert(day2After == day2Files, "closed day-2 partition was rewritten")

    // content ≡ the flat form after the same three mutating rounds (the
    // 4th no-change round is a no-op by the previous test's property)
    val zoned = spark.read.parquet(zone)
      .select("id", "price", "psize", "created_at", "updated_at", "expired_at")
    assertSameRows(zoned, flat, "zoned vs flat history")
    // partitions present: sentinel + one per expiring day
    val parts = new java.io.File(zone).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(parts == Set(
      s"${Scd2.ExpiredDay}=9999-12-31",
      s"${Scd2.ExpiredDay}=2024-01-02",
      s"${Scd2.ExpiredDay}=2024-01-03"))

    // never-READ proof (the file audit above is the never-WRITTEN half):
    // the current-rows read applyZoned plans must prune statically to the
    // sentinel directory — partition filter in the scan, input files all
    // from the sentinel partition
    val cur = spark.read.parquet(zone)
      .filter(col(Scd2.ExpiredDay) === date_format(sentinel, "yyyy-MM-dd"))
    val leaf = cur.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    assert(leaf.toString.contains("PartitionFilters") && leaf.toString.contains(Scd2.ExpiredDay),
      s"no partition filter in sentinel scan:\n$leaf")
    // inputFiles would lie here (it lists the whole relation, ignoring
    // partition filters) — selectedPartitions is what the scan will read
    val scanned = leaf.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    assert(scanned.nonEmpty && scanned.forall(_.contains(s"${Scd2.ExpiredDay}=9999-12-31")),
      s"sentinel read touches closed partitions: ${scanned.mkString(",")}")
  }

  test("applyZoned same-day rerun preserves earlier tombstones (intraday correction)") {
    import spark.implicits._
    val zone = tempDir("scd2_zone_rerun") + "/h"
    def snap(prices: Map[Long, Double]) =
      prices.toSeq.toDF("id", "price").select(col("id"), col("price"), lit(1).as("psize"))
    val s1 = snap(Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    val s2a = snap(Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0)) // morning run: row 1 changes
    val s2b = snap(Map(1L -> 11.0, 2L -> 22.0, 3L -> 30.0)) // corrected rerun: row 2 changes
    val keys = (Seq("id"), Seq("id"), Seq("price"))
    val runs = Seq(
      s1 -> "2024-01-01 00:00:00",
      s2a -> "2024-01-02 08:00:00",
      s2b -> "2024-01-02 12:00:00") // SAME day as s2a — rerun path
    var flat = Scd2.emptyHistory(s1, "timestamp_ntz")
    runs.foreach { case (sn, ts) =>
      Scd2.applyZoned(spark, zone, sn, keys._1, keys._2, keys._3,
        lit(ts).cast("timestamp_ntz"), sentinel, tsType = "timestamp_ntz")
      flat = Scd2.apply(flat, sn, keys._1, keys._2, keys._3,
        lit(ts).cast("timestamp_ntz"), sentinel)
    }
    val zoned = spark.read.parquet(zone)
      .select("id", "price", "psize", "created_at", "updated_at", "expired_at")
    assertSameRows(zoned, flat, "zoned vs flat after same-day rerun")
    // the morning run's tombstone specifically: row 1 expired at 08:00
    // must survive the 12:00 rerun's dynamic overwrite of the day partition
    val morning = zoned.filter(
      col("id") === 1 && col("expired_at") === lit("2024-01-02 08:00:00").cast("timestamp_ntz"))
    assert(morning.count() == 1, "morning tombstone dropped by same-day rerun")
  }

  test("applyZonedWithStats observes the stats applyWithStats counts: empty first round, " +
      "three rounds, same-day rerun") {
    import spark.implicits._
    val zone = tempDir("scd2_zone_stats") + "/h"
    def snap(prices: Map[Long, Double]) =
      prices.toSeq.toDF("id", "price").select(col("id"), col("price"), lit(1).as("psize"))
    val keys = (Seq("id"), Seq("id"), Seq("price"))
    val runs = Seq(
      snap(Map.empty) -> "2024-01-01 00:00:00", // an empty first night
      snap(Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0)) -> "2024-01-02 00:00:00",
      snap(Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0)) -> "2024-01-03 08:00:00",
      snap(Map(1L -> 11.0, 2L -> 22.0, 3L -> 30.0, 4L -> 40.0)) -> "2024-01-03 12:00:00")
    var flat = Scd2.emptyHistory(runs.head._1, "timestamp_ntz")
    val cached = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    val observed = runs.map { case (sn, ts) =>
      val runTs = lit(ts).cast("timestamp_ntz")
      val zoned = Scd2.applyZonedWithStats(spark, zone, sn, keys._1, keys._2, keys._3,
        runTs, sentinel, tsType = "timestamp_ntz")
      val (next, counted) = Scd2.applyWithStats(flat, sn, keys._1, keys._2, keys._3, runTs, sentinel)
      assert(zoned == counted, s"round $ts: observed $zoned, counted $counted")
      cached += next
      flat = next
      zoned
    }
    assert(observed == Seq(
      graft.operators.ScdStats(0, 0, 0),
      graft.operators.ScdStats(3, 3, 0),
      graft.operators.ScdStats(4, 2, 1),
      graft.operators.ScdStats(4, 1, 1)), observed.toString)
    assertSameRows(
      spark.read.parquet(zone).select("id", "price", "psize", "created_at", "updated_at", "expired_at"),
      flat, "zoned vs flat history")
    cached.result().foreach(_.unpersist())
  }

  test("applyZoned on an explicit file: URI (Hadoop FS existence, not java.io.File)") {
    import spark.implicits._
    val dir = tempDir("scd2_zone_uri")
    val zone = s"file://$dir/h" // java.io.File.exists() is false for this form
    def snap(prices: Map[Long, Double]) =
      prices.toSeq.toDF("id", "price").select(col("id"), col("price"), lit(1).as("psize"))
    val keys = (Seq("id"), Seq("id"), Seq("price"))
    Scd2.applyZoned(spark, zone, snap(Map(1L -> 10.0, 2L -> 20.0)),
      keys._1, keys._2, keys._3,
      lit("2024-01-01 00:00:00").cast("timestamp_ntz"), sentinel, tsType = "timestamp_ntz")
    assert(graft.sources.Zones.exists(spark, zone))
    // round 2 must SEE round 1 (a broken existence check would restart the
    // zone and leave 1 row instead of expiring + re-inserting)
    Scd2.applyZoned(spark, zone, snap(Map(1L -> 11.0, 2L -> 20.0)),
      keys._1, keys._2, keys._3,
      lit("2024-01-02 00:00:00").cast("timestamp_ntz"), sentinel, tsType = "timestamp_ntz")
    val h = spark.read.parquet(zone)
    assert(h.count() == 3, s"round 2 restarted the zone: ${h.count()} rows")
    assert(h.filter(col("expired_at") =!= sentinel).count() == 1)
  }

  test("timestamp-typed zone pins its session timezone and fails fast on a mismatch") {
    import spark.implicits._
    val zone = tempDir("scd2_zone_tz") + "/h"
    def snap(prices: Map[Long, Double]) =
      prices.toSeq.toDF("id", "price").select(col("id"), col("price"), lit(1).as("psize"))
    val keys = (Seq("id"), Seq("id"), Seq("price"))
    val tzSentinel = lit(Scd2.SentinelTs).cast("timestamp")
    Scd2.applyZoned(spark, zone, snap(Map(1L -> 10.0)), keys._1, keys._2, keys._3,
      lit("2024-01-01 00:00:00").cast("timestamp"), tzSentinel) // tsType = "timestamp"
    val e = Sessions.withConfs(spark, "spark.sql.session.timeZone" -> "Asia/Ho_Chi_Minh") { scoped =>
      intercept[IllegalStateException] {
        Scd2.applyZoned(scoped, zone, snap(Map(1L -> 11.0)), keys._1, keys._2, keys._3,
          lit("2024-01-02 00:00:00").cast("timestamp"), tzSentinel)
      }
    }
    assert(e.getMessage.contains("timezone mismatch"), e.getMessage)
    // back under the pinned TZ the zone processes normally
    Scd2.applyZoned(spark, zone, snap(Map(1L -> 11.0)), keys._1, keys._2, keys._3,
      lit("2024-01-02 00:00:00").cast("timestamp"), tzSentinel)
    // the 1-row history expired + re-inserted = 2 rows (a restarted zone
    // would instead show 1 row, a TZ-shifted one 2 currents + 0 expired)
    val h = spark.read.parquet(zone)
    assert(h.count() == 2)
    assert(h.filter(col("expired_at") =!= tzSentinel).count() == 1)
  }
}

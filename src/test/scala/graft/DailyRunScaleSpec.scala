package graft

import org.apache.spark.sql.functions._

import graft.pipeline.DailyRun
import graft.sources.Zones

/** Multi-day scale proof for the daily pipeline: 30 synthetic days of a
  * 2k-product snapshot (5% daily price churn + 40 new products/day) run
  * into the partitioned zones, asserting that per-day cost
  * and zone file counts stay FLAT as history accumulates — the property
  * that decides whether the nightly batch survives a 100× history at
  * cluster scale. A pipeline whose day-N cost grows with N (lineage
  * towers, partition-list rescans, file-count accretion) shows up here
  * as a monotone wall-time ramp or a growing file census.
  */
class DailyRunScaleSpec extends SparkSpec {

  private val nProducts = 2000
  private val nDays = 30

  /** Landing snapshot for day `d`: raw Vietnamese-schema strings exactly
    * as the crawler would land them; (ID+d)%20==0 rows re-price each day
    * (≈5% churn → SCD2 expire + re-insert), 40 fresh products appear per
    * day (dim + SK growth).
    */
  private def landingDay(d: Int, date: String) = {
    import spark.implicits._
    val fresh = (1 to 40).map(j => nProducts + (d - 1) * 40 + j)
    ((1 to nProducts) ++ fresh).toDF("ID")
      .select(
        col("ID"),
        concat(lit("Điện thoại Model-"), col("ID")).as("TEN"),
        concat(lit("https://shop.example/p/"), col("ID")).as("LINK"),
        concat(lit("https://cdn.example/i/"), col("ID"), lit(".jpg")).as("LINK_ANH"),
        concat(((col("ID") % 50 + 10) * 1000000).cast("string"), lit("đ")).as("GIA_CU"),
        concat(
          when((col("ID") + d) % 20 === 0,
            ((col("ID") % 50 + 9) * 1000000 + d * 1000).cast("string"))
            .otherwise(((col("ID") % 50 + 9) * 1000000).cast("string")),
          lit("đ")).as("GIA_MOI"),
        concat((col("ID") % 4 + 5).cast("string"), lit(".5 inches")).as("KICH_THUOC_MAN_HINH"),
        concat((col("ID") % 3 * 4 + 4).cast("string"), lit(" GB")).as("RAM"),
        concat(lit("256 GB")).as("BO_NHO"),
        lit(date).cast("timestamp_ntz").as("NGAY"),
        lit(1).as("ID_CONFIG"))
  }

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(dir).filter(_.getName.endsWith(".parquet"))
  }

  test(s"$nDays daily runs: flat per-day wall time, closed history partitions immutable") {
    val wh = tempDir("graft_wh_scale")
    val landing = tempDir("graft_landing_scale")
    val day1 = java.time.LocalDate.parse("2025-11-23")
    val historyRoot = s"$wh/staging/products_expired"
    val sentinelDir = s"$historyRoot/${graft.operators.Scd2.ExpiredDay}=9999-12-31"

    val dayTimes = Array.ofDim[Double](nDays)
    val sentinelFiles = Array.ofDim[Int](nDays)
    // census (name → (length, mtime)) of every CLOSED history partition,
    // captured at day 20: days 21-30 must leave all of them byte-untouched
    // (the zoned SCD2's whole point — only the sentinel + runDay partitions
    // are ever written)
    var closedCensus: Map[String, Map[String, (Long, Long)]] = Map.empty
    def closedPartitions(): Map[String, Map[String, (Long, Long)]] =
      Option(new java.io.File(historyRoot).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory &&
          f.getName.startsWith(s"${graft.operators.Scd2.ExpiredDay}=") &&
          !f.getName.endsWith("9999-12-31"))
        .map(p => p.getName ->
          parquetFiles(p).map(f => f.getName -> (f.length, f.lastModified)).toMap)
        .toMap
    (1 to nDays).foreach { d =>
      val date = day1.plusDays(d - 1).toString
      landingDay(d, date).write.mode("overwrite").parquet(s"$landing/day$d")
      val t0 = System.nanoTime()
      assert(DailyRun.run(spark, s"$landing/day$d", wh, s"$date 18:51:37") == "SUCCESS")
      dayTimes(d - 1) = (System.nanoTime() - t0) / 1e9
      // the zoned history accretes one immutable day partition per day;
      // the only REWRITTEN partition is the sentinel — its census is the
      // one that must stay flat (a full rewrite re-bounds it daily, so no
      // small files accrete)
      sentinelFiles(d - 1) = parquetFiles(new java.io.File(sentinelDir)).size
      if (d == 20) closedCensus = closedPartitions()
    }

    // ── closed partitions byte-identical across later days ───────────
    val closedAfter = closedPartitions()
    closedCensus.foreach { case (part, files) =>
      assert(closedAfter.get(part).contains(files),
        s"closed history partition $part changed after day 20: " +
          s"was $files, now ${closedAfter.get(part)}")
    }
    assert(closedCensus.nonEmpty, "no closed partitions captured at day 20")

    // ── content sanity at day 30 ──────────────────────────────────────
    val history = Zones.read(spark, historyRoot)
    val currentN = history
      .filter(col("EXPIRED_AT") === lit(graft.operators.Scd2.SentinelTs).cast("timestamp_ntz"))
      .count()
    assert(currentN == nProducts + nDays * 40,
      s"current rows $currentN != live product count")
    // zoned union ≡ semantic history: every non-sentinel partition's rows
    // really expired on that day (partition value = expired_at's day)
    val misplaced = history.filter(
      col(graft.operators.Scd2.ExpiredDay) =!=
        date_format(col("EXPIRED_AT"), "yyyy-MM-dd")).count()
    assert(misplaced == 0, s"$misplaced rows in the wrong expiry partition")
    val agg = Zones.read(spark, s"$wh/warehouse/aggregate")
    assert(agg.select("DATE_SK").distinct().count() == nDays)

    // ── flat per-day wall time: the last third must not have drifted
    // above the first third beyond host noise — a superlinear pipeline
    // (cost growing with accumulated history/partitions) fails this at
    // 30 days long before it kills a year of production runs ─────────
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val early = median(dayTimes.slice(1, 10).toSeq) // skip day-1 cold start
    val late = median(dayTimes.takeRight(10).toSeq)
    assert(late <= early * 2.5,
      s"per-day time ramps: early-median $early s → late-median $late s " +
        s"(all: ${dayTimes.map(t => f"$t%.1f").mkString(",")})")

    // ── flat file counts ─────────────────────────────────────────────
    // aggregate zone: each day partition holds at most one file per
    // shuffle partition and NOTHING accretes into old partitions
    val aggRoot = new java.io.File(s"$wh/warehouse/aggregate")
    val perPartition = Option(aggRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("DATE_SK="))
      .map(p => p.getName -> parquetFiles(p).size).toMap
    assert(perPartition.size == nDays)
    assert(perPartition.values.max <= spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"partition exceeds the shuffle-partition file bound: $perPartition")
    assert(perPartition.values.max <= perPartition.values.min * 2,
      s"file counts drift across day partitions: $perPartition")
    // sentinel (live) partition: rewritten in full daily, so its file
    // count must stay flat as history accumulates — growth here would
    // mean the rewrite scope leaks beyond the live set
    assert(sentinelFiles.last <= sentinelFiles.take(10).max * 2,
      s"sentinel file count accretes: ${sentinelFiles.mkString(",")}")
  }
}

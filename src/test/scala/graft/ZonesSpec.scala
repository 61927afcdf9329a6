package graft

import org.apache.spark.sql.functions._

import graft.sources.Zones

/** Partitioned-zone write/upsert semantics + partition-pruning proof. */
class ZonesSpec extends SparkSpec {

  test("salted join equals plain join and spreads the hot key") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    // 90% of rows share one hot key
    val big = (1 to 5000).map(i =>
      (if (rnd.nextDouble() < 0.9) 1 else 1 + rnd.nextInt(50), i.toDouble))
      .toDF("k", "v")
    val small = (1 to 50).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).groupBy("k", "name")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
    val salted = graft.operators.SkewJoin.saltedInnerJoin(big, small, Seq("k"), 8)
      .groupBy("k", "name").agg(sum("v").as("s"), count(lit(1)).as("n"))
    assertSameRows(salted, plain, "salted vs plain join")
  }

  test("two-phase salted aggregate equals direct aggregate") {
    import spark.implicits._
    val rnd = new scala.util.Random(22)
    val df = (1 to 3000).map(i => (if (rnd.nextDouble() < 0.8) 1 else 1 + rnd.nextInt(10), i.toLong))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
    val twoPhase = graft.operators.SkewJoin.twoPhaseAgg(
      df, Seq("k"), salts = 8,
      agg1 = Seq(sum("v").as("s1"), count(lit(1)).as("n1")),
      agg2 = Seq(sum("s1").as("s"), sum("n1").as("n")))
    assertSameRows(twoPhase, direct, "two-phase vs direct aggregate")
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    import spark.implicits._
    val wh = tempDir("bucketwh")
    val a = (1L to 1000L).map(i => (i, i * 2.0)).toDF("k", "va")
    val b = (1L to 1000L).map(i => (i, s"x$i")).toDF("k", "vb")
    a.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .option("path", s"$wh/ta").saveAsTable("graft_bucket_a")
    b.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .option("path", s"$wh/tb").saveAsTable("graft_bucket_b")
    try {
      val joined = spark.table("graft_bucket_a").join(spark.table("graft_bucket_b"), "k")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }

  test("bucketed zone upsert: updates win, untouched days intact, zone side joins shuffle-free") {
    import spark.implicits._
    val wh = tempDir("bucketzone")
    val tbl = "graft_test_bucket_zone"
    // broadcasts off so the merge is the shuffled join the audit inspects;
    // the returned merge frame plans under the upsert's own pins
    try Sessions.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { scoped =>
      val day1 = (1 to 100).map(i => (i.toLong, 10, i * 1.0)).toDF("product_sk", "date_sk", "price")
      Zones.upsertBucketed(scoped, tbl, s"$wh/agg", day1,
        Seq("product_sk", "date_sk"), "date_sk", Seq("product_sk"), 8)
      // day 2: re-snapshot part of day 10 + a fresh day 11
      val day2 = ((40 to 60).map(i => (i.toLong, 10, -1.0)) ++
        (1 to 50).map(i => (i.toLong, 11, i * 2.0)))
        .toDF("product_sk", "date_sk", "price")
      val merged = Zones.upsertBucketed(scoped, tbl, s"$wh/agg", day2,
        Seq("product_sk", "date_sk"), "date_sk", Seq("product_sk"), 8)
      val result = scoped.table(tbl)
      assert(result.count() == 150)
      assert(result.filter(col("date_sk") === 10).count() == 100, "untouched day-10 keys kept")
      assert(result.filter(col("date_sk") === 10 && col("price") === -1.0).count() == 21,
        "new version wins for re-snapshotted keys")
      assert(result.filter(col("date_sk") === 11).count() == 50)
      // the zone side of the merge join reads its buckets in place; only
      // the small increment shuffles to match
      assertZoneSideUnshuffled(merged, "bucketed zone merge")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("partitioned upsert rewrites only touched partitions; pruning hits the plan") {
    import spark.implicits._
    val dir = tempDir("zones")
    val path = s"$dir/aggregate"

    val day1 = Seq((1L, 100, 10.0), (2L, 100, 20.0), (3L, 101, 30.0))
      .toDF("product_sk", "date_sk", "price")
    Zones.upsertPartitioned(spark, path, day1, Seq("product_sk", "date_sk"), "date_sk")

    // remember partition 101's file set to prove it is not rewritten
    def files(p: Int) = Option(new java.io.File(s"$path/date_sk=$p").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    val p101Before = files(101)

    // day-2 increment: update product 1 in partition 100, add partition 102
    val day2 = Seq((1L, 100, 11.0), (9L, 102, 90.0)).toDF("product_sk", "date_sk", "price")
    Zones.upsertPartitioned(spark, path, day2, Seq("product_sk", "date_sk"), "date_sk")

    val all = Zones.read(spark, path)
    assert(all.count() == 4)
    assert(all.filter(col("product_sk") === 1).select("price").head().getDouble(0) == 11.0,
      "new version wins in the touched partition")
    assert(all.filter(col("date_sk") === 101).count() == 1, "untouched partition intact")
    assert(files(101) == p101Before, "untouched partition files not rewritten")

    // partition pruning: a date_sk predicate must reach the scan as a
    // partition filter, reading one directory
    val planned = all.filter(col("date_sk") === 102)
    val scan = planned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("date_sk"),
      s"expected partition filter in scan:\n$scan")
    assert(planned.count() == 1)
  }

  test("readRobust quarantines truncated parquet files; loss reported, never silent") {
    val path = tempDir("zone_corrupt") + "/t"
    spark.range(1000).withColumn("v", org.apache.spark.sql.functions.col("id") * 2)
      .repartition(4).write.parquet(path)
    val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4)
    // truncate one file mid-body: the PAR1 footer is gone — the
    // interrupted-upload failure mode
    val victim = files.minBy(_.getName)
    val raf = new java.io.RandomAccessFile(victim, "rw")
    raf.setLength(victim.length() / 2)
    raf.close()

    val (df, bad) = Zones.readRobust(spark, path)
    assert(bad.size == 1 && bad.head.endsWith(victim.getName), s"bad=$bad")
    val n = df.count()
    assert(n > 0 && n < 1000, s"expected partial content, got $n rows")
    // the corrupt file sits in the quarantine dir for forensics
    val q = new java.io.File(Zones.quarantineDir(path), victim.getName)
    assert(q.isFile, s"quarantined file missing at $q")
    // rerun over the now-clean zone: nothing to report, content stable
    val (df2, bad2) = Zones.readRobust(spark, path)
    assert(bad2.isEmpty && df2.count() == n)
  }

  test("swap crash window: the zone's only copy in tmp is recovered, never destroyed") {
    import spark.implicits._
    val path = tempDir("zone_swapcrash") + "/t"
    Zones.overwriteSwap(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    // simulate the crash between commitSwap's delete and rename: the NEXT
    // swap's staged result is complete in tmp, the target is gone
    Zones.delete(spark, path)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(path + ".__tmp__")
    // a reader completes the swap instead of seeing an empty zone
    assert(Zones.exists(spark, path), "exists must finish the crashed swap")
    assert(Zones.read(spark, path).count() == 3, "read must see the recovered copy")
    // and a writer recovers BEFORE staging — read-modify-write over the
    // recovered content, not over nothing
    val grown = Zones.read(spark, path)
      .unionByName(Seq((4L, "d")).toDF("id", "v"))
    Zones.overwriteSwap(grown, path)
    assert(Zones.read(spark, path).count() == 4,
      "post-recovery swap must build on the recovered rows")
    // a tmp WITHOUT _SUCCESS (crashed stage) is garbage, not a recovery
    // source: the old target must stay authoritative
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    new java.io.File(path + ".__tmp__").mkdirs()
    assert(Zones.read(spark, path).count() == 4,
      "an incomplete stage dir must not shadow the live zone")
    assert(fs.exists(new org.apache.hadoop.fs.Path(path)), "target untouched")
  }

  test("bucketed swap crash window: a staged partition left as its only copy survives the next upsert") {
    import spark.implicits._
    val path = tempDir("bucketzone_swapcrash") + "/agg"
    val tbl = "graft_test_bucket_swapcrash"
    def upsert(rows: Seq[(Long, Int, Double)]) = Zones.upsertBucketed(spark, tbl, path,
      rows.toDF("product_sk", "date_sk", "price"), Seq("product_sk", "date_sk"), "date_sk",
      Seq("product_sk"), 4)
    try {
      upsert((1 to 30).map(i => (i.toLong, 10, i * 1.0)) ++ (1 to 20).map(i => (i.toLong, 11, 0.5)))
      // simulate the crash between the swap's delete and rename: the
      // complete stage (with _SUCCESS) holds day 10, the zone's copy is gone
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val (zoneDay, stagedDay) = (new org.apache.hadoop.fs.Path(s"$path/date_sk=10"),
        new org.apache.hadoop.fs.Path(s"$path.__tmp__/date_sk=10"))
      fs.mkdirs(stagedDay.getParent)
      assert(fs.rename(zoneDay, stagedDay))
      fs.create(new org.apache.hadoop.fs.Path(s"$path.__tmp__/_SUCCESS")).close()
      // the next night touches day 12 only
      upsert((1 to 10).map(i => (i.toLong, 12, 2.0)))
      val zone = spark.table(tbl)
      assert(zone.filter(col("date_sk") === 10).count() == 30, "day 10 lost in the crashed swap")
      assert(zone.filter(col("date_sk") === 11).count() == 20)
      assert(zone.filter(col("date_sk") === 12).count() == 10)
      assert(!fs.exists(stagedDay.getParent), "the stage dir outlived the recovered swap")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("upsertPartitioned: empty first increment does not poison the zone; null partitions merge") {
    import spark.implicits._
    val path = tempDir("zone_edge") + "/t"
    val schema = Seq((1L, 1, 1.0)).toDF("product_sk", "date_sk", "price").schema
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // day 0: an empty increment (a source with nothing to say) leaves a
    // fileless dir — the next upsert must treat the zone as new, not die
    // on schema inference against zero files
    Zones.upsertPartitioned(spark, path, empty, Seq("product_sk", "date_sk"), "date_sk")
    Zones.upsertPartitioned(spark, path,
      Seq((1L, 100, 1.0), (2L, 100, 2.0)).toDF("product_sk", "date_sk", "price"),
      Seq("product_sk", "date_sk"), "date_sk")
    assert(Zones.read(spark, path).count() == 2, "zone must recover from the empty first day")

    // null-partition rows: key 10 exists in the NULL partition; an
    // increment touching the NULL partition with a DIFFERENT key must
    // merge (plain semi-join semantics silently dropped key 10 — isin/
    // equality never match NULL while dynamic overwrite still replaces
    // the __HIVE_DEFAULT_PARTITION__ dir)
    val withNull = Seq((10L, "x"), (11L, "y")).toDF("product_sk", "tag")
      .withColumn("date_sk", when(col("product_sk") === 10L, lit(null)).otherwise(lit(200)))
      .select("product_sk", "date_sk", "tag")
    val path2 = tempDir("zone_null") + "/t"
    Zones.upsertPartitioned(spark, path2, withNull, Seq("product_sk"), "date_sk")
    val incNull = Seq((12L, "z")).toDF("product_sk", "tag")
      .withColumn("date_sk", lit(null).cast("int"))
      .select("product_sk", "date_sk", "tag")
    Zones.upsertPartitioned(spark, path2, incNull, Seq("product_sk"), "date_sk")
    val ids = Zones.read(spark, path2).select("product_sk")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(10L, 11L, 12L),
      s"null-partition upsert must merge, not replace: $ids")
  }

  test("ensureBucketedTable refuses a changed bucket spec instead of mixing layouts") {
    import spark.implicits._
    val tmp = tempDir("zone_bspec")
    val name = "zs_bspec_t"
    val df = Seq((1L, 10, 1.0)).toDF("product_sk", "date_sk", "price")
    Zones.upsertBucketed(spark, name, s"$tmp/t", df,
      Seq("product_sk", "date_sk"), "date_sk", Seq("product_sk"), 4)
    val e = intercept[IllegalArgumentException] {
      Zones.upsertBucketed(spark, name, s"$tmp/t", df,
        Seq("product_sk", "date_sk"), "date_sk", Seq("product_sk"), 8)
    }
    assert(e.getMessage.contains("rebuild the zone"),
      s"bucket-spec drift must fail loudly: ${e.getMessage}")
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("readRobust: an all-corrupt zone fails with the quarantine named, not schema inference") {
    val path = tempDir("zone_allbad") + "/t"
    spark.range(10).write.parquet(path)
    new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val raf = new java.io.RandomAccessFile(f, "rw")
      raf.setLength(math.max(1, f.length() / 3)); raf.close()
    }
    val e = intercept[IllegalStateException] { Zones.readRobust(spark, path) }
    assert(e.getMessage.contains("quarantined") && e.getMessage.contains(path),
      s"all-corrupt read must name the quarantine: ${e.getMessage}")
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch
import graft.pipeline.IndexRun
import graft.sources.Zones

/** Nightly IVF index maintenance: build → drift-free append (standing
  * files untouched, drift logged) → drifted append (retrain trips,
  * rebuild runs in place, baseline resets) → post-retrain append no
  * longer trips — plus day-retry idempotence of the day-scoped append.
  */
class IndexRunSpec extends SparkSpec {

  private def vecs(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** Two tight clusters at (0,0,0,0)-ish and (1,1,1,1)-ish. */
  private def homeCluster(ids: Range): Seq[(Long, Seq[Double])] =
    ids.map { i =>
      val base = if (i % 2 == 0) 0.0 else 1.0
      val j = (i % 7) * 0.01
      (i.toLong, Seq(base + j, base - j, base + 2 * j, base - 2 * j))
    }

  /** A far-away cluster the build-time centroids never saw. */
  private def driftedCluster(ids: Range): Seq[(Long, Seq[Double])] =
    ids.map { i =>
      val j = (i % 5) * 0.01
      (i.toLong, Seq(50.0 + j, 50.0 - j, 50.0 + 2 * j, 50.0 - 2 * j))
    }

  private def census(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
      .map(f => f.getAbsolutePath -> ((f.length(), f.lastModified()))).toMap
  }

  private def lastMessage(wh: String): String =
    Zones.read(spark, s"$wh/control/index_log")
      .filter(col("status") === "SUCCESS").orderBy(col("id").desc)
      .head().getAs[String]("message")

  test("index pipeline: build, drift-logged append, retrain trip, post-retrain calm") {
    val tmp = tempDir("graft_indexrun")
    val wh = s"$tmp/wh"
    val base = s"$wh/index/ivf"
    def index: String = IndexRun.currentIndexPath(spark, base)
      .getOrElse(fail("no live index version"))
    def drop(day: String, df: DataFrame): String = {
      val dir = s"$tmp/in_$day"
      df.write.mode("overwrite").parquet(dir)
      dir
    }

    // ── day 1: build ────────────────────────────────────────────────────
    val in1 = drop("d1", vecs(homeCluster(0 until 64)))
    assert(IndexRun.run(spark, in1, wh, "2026-07-01 03:00:00", nCells = 4) == "SUCCESS")
    assert(lastMessage(wh).contains("BUILT ivf(4) v1 from 64 vector(s)"))
    assert(index == s"$base/v1", "pointer must resolve the freshly built v1")
    assert(IndexRun.run(spark, in1, wh, "2026-07-01 04:00:00", nCells = 4) == "SKIPPED",
      "same-day rerun must gate out")
    val baseline0 = spark.read.parquet(s"$index/meta").head().getAs[Double]("mean_dist2")

    // ── day 2: drift-free append — standing day-1 files byte-identical,
    // drift ratio logged, no retrain ────────────────────────────────────
    val day1Census = census(s"$index/assignments")
    val in2 = drop("d2", vecs(homeCluster(100 until 132)))
    assert(IndexRun.run(spark, in2, wh, "2026-07-02 03:00:00", nCells = 4) == "SUCCESS")
    val msg2 = lastMessage(wh)
    assert(msg2.contains("appended 32 vector(s)") && msg2.contains("quantization drift"),
      s"drift ratio must be recorded in the ledger: $msg2")
    assert(!msg2.contains("RETRAINED"), s"drift-free day must not retrain: $msg2")
    val day1After = census(s"$index/assignments").filter(_._1.contains("ingest_day=2026-07-01"))
    assert(day1After == day1Census.filter(_._1.contains("ingest_day=2026-07-01")),
      "append must not touch standing day-1 assignment files")
    assert(spark.read.parquet(s"$index/meta").head().getAs[Double]("mean_dist2") == baseline0,
      "a non-retraining append must not move the baseline")

    // ── day 3: drifted distribution — the policy trips, the job rebuilds
    // in place and records it ───────────────────────────────────────────
    val in3 = drop("d3", vecs(driftedCluster(200 until 248)))
    assert(IndexRun.run(spark, in3, wh, "2026-07-03 03:00:00", nCells = 4) == "SUCCESS")
    val msg3 = lastMessage(wh)
    assert(msg3.contains("RETRAINED"), s"drifted day must trip the retrain policy: $msg3")
    assert(index == s"$base/v2", "retrain must advance the live version and flip the pointer")
    assert(new java.io.File(s"$base/v1").exists(),
      "retired version must survive one cycle as the in-flight-reader grace copy")
    val baseline1 = spark.read.parquet(s"$index/meta").head().getAs[Double]("mean_dist2")
    assert(baseline1 != baseline0, "retrain must reset the drift baseline")
    assert(spark.read.parquet(s"$index/assignments").count() == 64 + 32 + 48,
      "rebuild must preserve every vector")
    // the rebuilt quantizer actually describes the new cluster: a query
    // vector from it finds its planted twin via the persisted index
    val q = vecs(Seq((9999L, Seq(50.0, 50.0, 50.0, 50.0))))
    val top = SimilaritySearch.ivfTopKPersisted(
      spark, index, q, "vec_id", "embedding", k = 3, nProbe = 2)
    assert(top.count() == 3, "post-rebuild index must answer queries")
    assert(top.filter(col("rank") === 1).head().getAs[Long]("neighbor_id") >= 200L,
      "nearest neighbor of a drifted-cluster query must come from the drifted cluster")

    // ── day 4: more of the SAME new distribution — the rebuilt centroids
    // describe it, so the policy stays calm ─────────────────────────────
    val in4 = drop("d4", vecs(driftedCluster(300 until 332)))
    assert(IndexRun.run(spark, in4, wh, "2026-07-04 03:00:00", nCells = 4) == "SUCCESS")
    assert(!lastMessage(wh).contains("RETRAINED"),
      "post-retrain append of the same distribution must not re-trip")
    assert(!new java.io.File(s"$base/v1").exists(),
      "the next run must sweep versions older than the grace copy")

    // ── retry idempotence: day 4 "crashed" before its SUCCESS row — the
    // rerun replaces its own day partition, total count unchanged ───────
    val ledgerPath = s"$wh/control/index_log"
    val mangled = Zones.read(spark, ledgerPath).withColumn("status",
      when(col("status") === "SUCCESS" &&
        to_date(col("start_time")) === lit("2026-07-04").cast("date"), "FAILED")
        .otherwise(col("status")))
    Zones.overwriteSwap(mangled, ledgerPath)
    assert(IndexRun.run(spark, in4, wh, "2026-07-04 05:00:00") == "SUCCESS")
    assert(spark.read.parquet(s"$index/assignments").count() == 64 + 32 + 48 + 32,
      "retried day must replace its own partition, not double-append")

    // ── pointer lost (crash inside the delete+rename flip): recovery
    // resolves the highest COMPLETE version on disk ─────────────────────
    assert(new java.io.File(s"$base/CURRENT").delete())
    assert(IndexRun.currentIndexPath(spark, base).contains(s"$base/v2"),
      "a missing pointer must recover to the highest complete version")
  }

  test("signature index: build, concentration-logged append, re-seed retrain trip, post-retrain calm") {
    import spark.implicits._
    val tmp = tempDir("graft_sigrun")
    val wh = s"$tmp/wh"
    val base = s"$wh/index/sig"
    def sig: String = IndexRun.currentSigIndexPath(spark, base)
      .getOrElse(fail("no live signature index version"))
    def drop(day: String, df: DataFrame): String = {
      val dir = s"$tmp/in_$day"
      df.write.mode("overwrite").parquet(dir)
      dir
    }
    // spread directions: deterministic pseudo-random coordinates →
    // near-balanced sign-bit buckets (concentration ≈ the 2^-8 floor)
    def spread(ids: Range): Seq[(Long, Seq[Double])] =
      ids.map(i => (i.toLong, (0 until 6).map(j => ((i * 31 + j * 7) % 97) / 97.0 - 0.5)))
    // one tight near-duplicate family — every member lands behind the
    // same 8 band keys, so concentration goes quadratic in the family
    def family(ids: Range): Seq[(Long, Seq[Double])] =
      ids.map(i => (i.toLong, Seq(3.0, 2.0 + (i % 5) * 1e-4, 1.0, -1.0, 2.0, -2.0)))

    // ── day 1: build v1, baseline recorded ──────────────────────────────
    val in1 = drop("s1", vecs(spread(0 until 64)))
    assert(IndexRun.run(spark, in1, wh, "2026-07-01 03:00:00", nCells = 4) == "SUCCESS")
    val msg1 = lastMessage(wh)
    assert(msg1.contains("SIG: BUILT lsh(8x8) v1 from 64 vector(s)"), s"unexpected: $msg1")
    assert(sig == s"$base/v1")
    val meta1 = spark.read.parquet(s"$sig/meta").head()
    assert(meta1.getAs[Long]("seed") == IndexRun.SigSeed)

    // ── day 2: spread append — concentration logged, no retrain, day-1
    // index files untouched ─────────────────────────────────────────────
    val day1Census = census(s"$sig/index")
    val in2 = drop("s2", vecs(spread(100 until 132)))
    assert(IndexRun.run(spark, in2, wh, "2026-07-02 03:00:00", nCells = 4) == "SUCCESS")
    val msg2 = lastMessage(wh)
    assert(msg2.contains("SIG: appended 32 vector(s)") && msg2.contains("concentration"),
      s"concentration must be recorded: $msg2")
    assert(!msg2.contains("SIG:") || !msg2.split("SIG:")(1).contains("RETRAINED"),
      s"spread day must not retrain the signature index: $msg2")
    val day1After = census(s"$sig/index").filter(_._1.contains("ingest_day=2026-07-01"))
    assert(day1After == day1Census.filter(_._1.contains("ingest_day=2026-07-01")),
      "append must not touch standing day-1 signature files")

    // ── day 3: a 200-member near-dup family — concentration explodes
    // past the floor-guarded reference, the stage re-seeds + rebuilds ───
    val in3 = drop("s3", vecs(family(200 until 400)))
    assert(IndexRun.run(spark, in3, wh, "2026-07-03 03:00:00", nCells = 4) == "SUCCESS")
    val msg3 = lastMessage(wh)
    assert(msg3.split("SIG:")(1).contains("RETRAINED"),
      s"family day must trip the concentration policy: $msg3")
    assert(sig == s"$base/v2", "retrain must advance the live signature version")
    assert(new java.io.File(s"$base/v1").exists(),
      "retired version must survive one cycle as the grace copy")
    val meta2 = spark.read.parquet(s"$sig/meta").head()
    assert(meta2.getAs[Long]("seed") == IndexRun.SigSeed + 1,
      "rebuild must re-seed the hyperplanes")
    assert(meta2.getAs[Double]("baseline_concentration") >
      meta1.getAs[Double]("baseline_concentration"),
      "baseline must reset to the post-rebuild concentration")
    assert(spark.read.parquet(s"$sig/index").count() == 64 + 32 + 200,
      "rebuild must preserve every vector")
    // the rebuilt index still answers probes: a probe vector from the
    // family finds members through the STORED keys under the NEW seed
    val probe = Seq((9999L, Seq(3.0, 2.0, 1.0, -1.0, 2.0, -2.0))).toDF("vec_id", "embedding")
    val pairs = graft.operators.Dedup.embeddingNearDupIncremental(
      spark.read.parquet(s"$sig/index"), probe, "vec_id", "embedding", 0.99,
      seed = meta2.getAs[Long]("seed"))
    assert(pairs.count() >= 200, "post-rebuild probe must find the planted family")

    // ── day 4: spread again — rebuilt baseline describes the corpus, no
    // re-trip; v1 swept after its grace cycle ───────────────────────────
    val in4 = drop("s4", vecs(spread(500 until 532)))
    assert(IndexRun.run(spark, in4, wh, "2026-07-04 03:00:00", nCells = 4) == "SUCCESS")
    assert(!lastMessage(wh).split("SIG:")(1).contains("RETRAINED"),
      s"post-retrain spread day must not re-trip: ${lastMessage(wh)}")
    assert(!new java.io.File(s"$base/v1").exists(),
      "the next run must sweep the retired signature version")

    // ── day-4 retry: the day re-owns exactly its partition ──────────────
    val ledgerPath = s"$wh/control/index_log"
    val mangled = Zones.read(spark, ledgerPath).withColumn("status",
      when(col("status") === "SUCCESS" &&
        to_date(col("start_time")) === lit("2026-07-04").cast("date"), "FAILED")
        .otherwise(col("status")))
    Zones.overwriteSwap(mangled, ledgerPath)
    assert(IndexRun.run(spark, in4, wh, "2026-07-04 05:00:00") == "SUCCESS")
    assert(spark.read.parquet(s"$sig/index").count() == 64 + 32 + 200 + 32,
      "retried day must replace its own signature partition, not double-append")
  }

  test("signature index: size-policy geometry frozen per version, appends under stored geometry, growth-tripped widening rebuild") {
    import spark.implicits._
    val tmp = tempDir("graft_siggeom")
    val wh = s"$tmp/wh"
    val base = s"$wh/index/sig"
    def sig: String = IndexRun.currentSigIndexPath(spark, base)
      .getOrElse(fail("no live signature index version"))
    def drop(day: String, df: DataFrame): String = {
      val dir = s"$tmp/in_$day"
      df.write.mode("overwrite").parquet(dir)
      dir
    }
    def spread(ids: Range): Seq[(Long, Seq[Double])] =
      ids.map(i => (i.toLong, (0 until 6).map(j => ((i * 31 + j * 7) % 97) / 97.0 - 0.5)))

    // the policy itself: floor, ladder, cap — and its collision invariant
    // n·2^-b ≤ 16 on the ladder's interior
    assert(IndexRun.sigGeometry(64L) == ((8, 8)), "small corpora sit at the 8x8 floor")
    assert(IndexRun.sigGeometry(4096L) == ((8, 8)), "2^12 is the floor's last size")
    assert(IndexRun.sigGeometry(4097L) == ((9, 9)), "one past 2^12 steps to 9x9")
    assert(IndexRun.sigGeometry(1L << 20) == ((16, 16)), "2^20 sits mid-ladder at 16x16")
    assert(IndexRun.sigGeometry(1L << 30) == ((26, 26)),
      "2^30 (~10^9 rows — the 100 TB decade) realizes the 26x26 cap")
    assert(IndexRun.sigGeometry(1L << 40) == ((26, 26)), "the cap holds past it")
    for (n <- Seq(5000L, 60000L, 300000L, 1000000L, 1L << 24, 1L << 30)) {
      val (_, b) = IndexRun.sigGeometry(n)
      assert(n.toDouble / (1L << b) <= 16.0,
        s"policy invariant violated at n=$n: ${n.toDouble / (1L << b)} > 16 " +
          "expected random collisions per probe row per band")
    }
    // the cap is the recall floor's choice: every rung clears recall ≥
    // 0.9999 at cosine 0.99 under the square-geometry formula, and the
    // NEXT rung (27) would not — 26 is maximal, not arbitrary
    val p = 1.0 - math.acos(0.99) / math.Pi
    def recall(b: Int): Double = 1.0 - math.pow(1.0 - math.pow(p, b), b)
    for (b <- 8 to 26)
      assert(recall(b) >= 0.9999, f"rung $b recall ${recall(b)}%.6f below the 0.9999 bar")
    assert(recall(27) < 0.9999, "b=27 clears the bar — the cap should be raised")

    // ── day 1: 5000 vectors → policy realizes 9x9, frozen in meta ───────
    val in1 = drop("g1", vecs(spread(0 until 5000)))
    assert(IndexRun.run(spark, in1, wh, "2026-07-01 03:00:00", nCells = 4) == "SUCCESS")
    assert(lastMessage(wh).contains("SIG: BUILT lsh(9x9) v1 from 5000 vector(s)"),
      s"unexpected: ${lastMessage(wh)}")
    val meta1 = spark.read.parquet(s"$sig/meta").head()
    assert(meta1.getAs[Int]("bands") == 9 && meta1.getAs[Int]("bits_per_band") == 9)
    assert(spark.read.parquet(s"$sig/index").select(size(col("bkeys"))).head().getInt(0) == 9,
      "stored rows must carry one key per policy band")

    // ── day 2: small append — the version's stored 9x9 geometry rules,
    // NOT this binary's 8x8 default; no trip at n=5100 ──────────────────
    val in2 = drop("g2", vecs(spread(10000 until 10100)))
    assert(IndexRun.run(spark, in2, wh, "2026-07-02 03:00:00", nCells = 4) == "SUCCESS")
    assert(!lastMessage(wh).split("SIG:")(1).contains("RETRAINED"),
      s"a same-step append must not trip: ${lastMessage(wh)}")
    assert(sig == s"$base/v1")
    val day2Keys = spark.read.parquet(s"$sig/index")
      .filter(col("ingest_day") === "2026-07-02")
    assert(day2Keys.select(size(col("bkeys"))).head().getInt(0) == 9,
      "appended rows must be keyed under the STORED geometry")
    // an exact twin of a day-1 vector is found through the stored keys by
    // sigQuery — which reads geometry and seed from meta, so a caller
    // can't desynchronize from the version
    val twin = vecs(spread(42 until 43)).withColumn("vec_id", lit(999999L))
    val hits = IndexRun.sigQuery(spark, base, twin, "vec_id", "embedding", 0.99)
    assert(hits.filter(col("id_a") === 42L || col("id_b") === 42L).count() >= 1,
      "sigQuery under the stored 9x9 geometry must find the planted twin")

    // ── day 3: growth crosses the 2^13 step — geometry trip widens the
    // index to 10x10 in a NEW version, seed unchanged (no concentration
    // signal fired), pointer flipped ────────────────────────────────────
    val in3 = drop("g3", vecs(spread(20000 until 23200)))
    assert(IndexRun.run(spark, in3, wh, "2026-07-03 03:00:00", nCells = 4) == "SUCCESS")
    val msg3 = lastMessage(wh)
    assert(msg3.split("SIG:")(1).contains("RETRAINED") &&
      msg3.contains("corpus growth") && msg3.contains("lsh(9x9) → lsh(10x10)"),
      s"crossing a policy step must widen the geometry: $msg3")
    assert(sig == s"$base/v2", "geometry rebuild must advance the version")
    val meta2 = spark.read.parquet(s"$sig/meta").head()
    assert(meta2.getAs[Int]("bands") == 10 && meta2.getAs[Int]("bits_per_band") == 10)
    assert(meta2.getAs[Long]("seed") == IndexRun.SigSeed,
      "a growth-only rebuild keeps the seed — re-seeding is the concentration cure")
    assert(spark.read.parquet(s"$sig/index").count() == 5000 + 100 + 3200,
      "the widening rebuild must preserve every vector")
    assert(spark.read.parquet(s"$sig/index").select(size(col("bkeys"))).head().getInt(0) == 10)

    // ── the widened version still answers: the day-1 twin is found under
    // 10x10 through sigQuery's meta-driven probe ────────────────────────
    val hits2 = IndexRun.sigQuery(spark, base, twin, "vec_id", "embedding", 0.99)
    assert(hits2.filter(col("id_a") === 42L || col("id_b") === 42L).count() >= 1,
      "post-widening sigQuery must still find the planted twin")

    // ── day 4: append inside the new step — calm ────────────────────────
    val in4 = drop("g4", vecs(spread(30000 until 30100)))
    assert(IndexRun.run(spark, in4, wh, "2026-07-04 03:00:00", nCells = 4) == "SUCCESS")
    assert(!lastMessage(wh).split("SIG:")(1).contains("RETRAINED"),
      s"post-widening same-step append must not re-trip: ${lastMessage(wh)}")
  }

  test("semantic index: build, frozen-geometry append, occupancy re-cluster at grown k, retry idempotent, e5 contract post-retrain") {
    import spark.implicits._
    val tmp = tempDir("graft_semrun")
    val wh = s"$tmp/wh"
    val base = s"$wh/index/sem"
    def sem: String = IndexRun.currentSigIndexPath(spark, base)
      .getOrElse(fail("no live semantic index version"))
    def drop(day: String, df: DataFrame): String = {
      val dir = s"$tmp/in_$day"
      df.write.mode("overwrite").parquet(dir)
      dir
    }
    // spread directions, 4-dim
    def spread(ids: Range): Seq[(Long, Seq[Double])] =
      ids.map(i => (i.toLong, (0 until 4).map(j => ((i * 31 + j * 7) % 97) / 97.0 - 0.5)))
    // small target occupancy so the growth trips within a few tiny days
    def run(in: String, ts: String) = IndexRun.run(
      spark, in, wh, ts, semTargetOccupancy = 32)

    // ── day 1: build at k = ⌈64/32⌉ = 2 ─────────────────────────────────
    val in1 = drop("m1", vecs(spread(0 until 64)))
    assert(run(in1, "2026-07-01 03:00:00") == "SUCCESS")
    val msg1 = lastMessage(wh)
    assert(msg1.contains("SEM: BUILT cluster index v1 — 64 vector(s) at k=2"),
      s"unexpected: $msg1")
    assert(sem == s"$base/v1")

    // ── day 2: append — centroids from the STATE zone, day-1 files
    // untouched, occupancy logged, below the 2× trip (96/2 = 48 ≤ 64) ───
    val day1Census = census(s"$sem/assign")
    val in2 = drop("m2", vecs(spread(100 until 132)))
    assert(run(in2, "2026-07-02 03:00:00") == "SUCCESS")
    val msg2 = lastMessage(wh)
    assert(msg2.contains("SEM: appended 32 vector(s)") && msg2.contains("occupancy"),
      s"occupancy must be recorded: $msg2")
    assert(!msg2.contains("RECLUSTERED"), s"calm day must not re-cluster: $msg2")
    assert(census(s"$sem/assign").filter(_._1.contains("ingest_day=2026-07-01")) ==
      day1Census.filter(_._1.contains("ingest_day=2026-07-01")),
      "append must not touch standing day-1 assignment files")
    // the appended day's assignment came from state-derived centroids ≡
    // the full-zone rebuild (the mergeable-state contract)
    val day1Rows = spark.read.parquet(s"$sem/assign")
      .filter(col("ingest_day").cast("string") === "2026-07-01")
    val rebuiltCents = graft.operators.Clustering.centroids(day1Rows, "v", "cluster", 4)
    val expect = graft.operators.Clustering.assignFused(
      vecs(spread(100 until 132)).toDF("vec_id", "embedding")
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v")),
      "id", "v", rebuiltCents).select(col("id"), col("cluster"))
    val got = spark.read.parquet(s"$sem/assign")
      .filter(col("ingest_day").cast("string") === "2026-07-02")
      .select("id", "cluster")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "state-derived day-2 assignment diverges from the rebuild-derived one")

    // ── day 3: +64 vectors → occupancy 160/2 = 80 > 64 — RE-CLUSTER at
    // k′ = ⌈160/32⌉ = 5, version advances, grace copy survives ──────────
    val in3 = drop("m3", vecs(spread(200 until 264)))
    assert(run(in3, "2026-07-03 03:00:00") == "SUCCESS")
    val msg3 = lastMessage(wh)
    assert(msg3.contains("RECLUSTERED"), s"occupancy growth must trip: $msg3")
    assert(msg3.contains("at k=5"), s"re-cluster must scale k with the corpus: $msg3")
    assert(sem == s"$base/v2", "re-cluster must advance the live version")
    assert(new java.io.File(s"$base/v1").exists(),
      "retired version must survive one cycle as the grace copy")
    assert(spark.read.parquet(s"$sem/assign").count() == 160,
      "rebuild must preserve every vector")
    assert(spark.read.parquet(s"$sem/meta").head().getAs[Int]("k") == 5)

    // ── e5 contract post-retrain: a probe within ε of an indexed vector
    // is dropped by semanticDedupIncremental against the NEW zone ───────
    val zone = spark.read.parquet(s"$sem/assign").select("id", "cluster", "v")
    val planted = spark.read.parquet(s"$sem/assign").select("id", "v").head()
    val probe = Seq((99999L, planted.getSeq[Double](1))).toDF("vec_id", "e")
    val verdicts = graft.operators.Dedup.semanticDedupIncremental(
      zone, probe, "vec_id", "e", 0.95)
    assert(verdicts.filter(col("vec_id") === 99999L && !col("is_kept")).count() == 1,
      "post-retrain zone must still drop a planted near-duplicate probe")

    // ── day 4 calm + retry idempotence ──────────────────────────────────
    val in4 = drop("m4", vecs(spread(300 until 316)))
    assert(run(in4, "2026-07-04 03:00:00") == "SUCCESS")
    assert(!lastMessage(wh).contains("RECLUSTERED"),
      s"post-recluster calm day must not re-trip: ${lastMessage(wh)}")
    assert(!new java.io.File(s"$base/v1").exists(),
      "the next run must sweep the retired version after its grace cycle")
    val ledgerPath = s"$wh/control/index_log"
    val mangled = Zones.read(spark, ledgerPath).withColumn("status",
      when(col("status") === "SUCCESS" &&
        to_date(col("start_time")) === lit("2026-07-04").cast("date"), "FAILED")
        .otherwise(col("status")))
    Zones.overwriteSwap(mangled, ledgerPath)
    assert(run(in4, "2026-07-04 05:00:00") == "SUCCESS")
    assert(spark.read.parquet(s"$sem/assign").count() == 160 + 16,
      "retried day must replace its own partition, not double-append")
    // state zone converges with the assignment zone on the retry
    val stateN = spark.read.parquet(s"$sem/state")
      .agg(sum("n")).head().getLong(0)
    assert(stateN == 160 + 16, s"state mass must track the zone, got $stateN")
  }

  test("semantic stage: earliest-day backfill appends under the frozen geometry, never rebuilds over later days") {
    import spark.implicits._
    val tmp = tempDir("graft_semrun_backfill")
    val wh = s"$tmp/wh"
    val base = s"$wh/index/sem"
    def drop(day: String, df: DataFrame): String = {
      val dir = s"$tmp/in_$day"
      df.write.mode("overwrite").parquet(dir)
      dir
    }
    def spread(ids: Range): Seq[(Long, Seq[Double])] =
      ids.map(i => (i.toLong, (0 until 4).map(j => ((i * 31 + j * 7) % 97) / 97.0 - 0.5)))
    def run(in: String, ts: String) = IndexRun.run(
      spark, in, wh, ts, semTargetOccupancy = 32)

    val in1 = drop("n1", vecs(spread(0 until 64)))
    assert(run(in1, "2026-08-01 03:00:00") == "SUCCESS")
    val in2 = drop("n2", vecs(spread(100 until 132)))
    assert(run(in2, "2026-08-02 03:00:00") == "SUCCESS")
    val live = IndexRun.currentSigIndexPath(spark, base)
      .getOrElse(fail("no live semantic index version"))
    val centsBefore = spark.read.parquet(s"$live/centroids").collect().map(_.toSeq).toSet

    // day 1's SUCCESS row is mangled to FAILED and the day re-runs while
    // day 2 stands. The prior-days state view (< 08-01) is EMPTY — the
    // day-1-retry signature — but the version holds day 2's rows: an
    // in-place rebuild would destroy them and the frozen geometry. The
    // backfill must take the append arm instead.
    val ledgerPath = s"$wh/control/index_log"
    val mangled = Zones.read(spark, ledgerPath).withColumn("status",
      when(col("status") === "SUCCESS" &&
        to_date(col("start_time")) === lit("2026-08-01").cast("date"), "FAILED")
        .otherwise(col("status")))
    Zones.overwriteSwap(mangled, ledgerPath)
    assert(run(in1, "2026-08-01 05:00:00") == "SUCCESS")
    assert(lastMessage(wh).contains("SEM: appended 64 vector(s)"),
      s"the backfill must append, not rebuild: ${lastMessage(wh)}")
    assert(IndexRun.currentSigIndexPath(spark, base).contains(live),
      "the live version must survive the backfill")
    val zone = spark.read.parquet(s"$live/assign")
    assert(zone.count() == 96, "later day's rows must survive the backfill")
    assert(zone.filter(col("ingest_day").cast("string") === "2026-08-02").count() == 32,
      "day-2 assignment must be intact")
    assert(zone.filter(col("ingest_day").cast("string") === "2026-08-01").count() == 64,
      "the backfilled day must re-own exactly its partition")
    assert(spark.read.parquet(s"$live/centroids").collect().map(_.toSeq).toSet == centsBefore,
      "the frozen geometry must survive the backfill")
    assert(spark.read.parquet(s"$live/state").agg(sum("n")).head().getLong(0) == 96L,
      "state mass must track the full zone")
  }

  test("bootstrap + hostile input: tiny day 1 clamps k, null vectors drop, re-ingested id survives retrain unsquared") {
    val tmp = tempDir("graft_indexrun_boot")
    val wh = s"$tmp/wh"
    def drop(day: String, df: DataFrame): String = {
      val dir = s"$tmp/in_$day"
      df.write.mode("overwrite").parquet(dir)
      dir
    }

    // ── day 1: SIX vectors against nCells=16 — the build must clamp k
    // to the corpus instead of dying on the quantizer's sample require
    // (a permanently FAILED bootstrap until the daily increment alone
    // exceeded k). One row carries a NULL embedding — dropped, not a
    // crashed dim probe. ──────────────────────────────────────────────
    val in1 = drop("b1", vecs(homeCluster(0 until 6))
      .unionByName(vecs(Seq((99L, Seq(0.0)))).withColumn("embedding",
        lit(null).cast("array<double>"))))
    assert(IndexRun.run(spark, in1, wh, "2026-08-01 03:00:00") == "SUCCESS")
    val msg1 = lastMessage(wh)
    assert(msg1.contains("BUILT ivf(") && msg1.contains("clamped"),
      s"tiny day 1 must build with a clamped quantizer: $msg1")
    val ivf = IndexRun.currentIndexPath(spark, s"$wh/index/ivf")
      .getOrElse(fail("no live ivf version after bootstrap"))
    assert(spark.read.parquet(s"$ivf/assignments")
      .filter(col("neighbor_id") === 99L).count() == 0,
      "the null-embedding row must not be indexed")

    // ── day 2: vector id 3 is RE-INGESTED with a different embedding —
    // the index legitimately holds it once per day. A drifted majority
    // trips the signature retrain; the rebuild must preserve exactly one
    // row per (id, day) — the old id-join squared a re-ingested id and
    // cross-assigned day-1's vector into day-2's partition. ───────────
    val sigBase = s"$wh/index/sig"
    val reIngested = Seq((3L, Seq(7.0, 7.0, 7.0, 7.0)))
    val in2 = drop("b2", vecs(driftedCluster(100 until 300) ++ reIngested))
    assert(IndexRun.run(spark, in2, wh, "2026-08-02 03:00:00") == "SUCCESS")
    val sig = IndexRun.currentSigIndexPath(spark, sigBase)
      .getOrElse(fail("no live signature version"))
    val idx = spark.read.parquet(s"$sig/index")
    val id3 = idx.filter(col("id") === 3L)
      .select(col("ingest_day").cast("string"), col("v")).collect()
    assert(id3.length == 2, s"re-ingested id must appear once per day, got ${id3.length}")
    val byDay = id3.map(r => r.getString(0) -> r.getSeq[Double](1).head).toMap
    assert(byDay("2026-08-01") != 7.0 && byDay("2026-08-02") == 7.0,
      s"each day partition must hold ITS OWN vector for the re-ingested id: $byDay")
    // (holds whether or not day 2 tripped the retrain; if it did, the
    // rebuilt version must not have squared the duplicate id)
    assert(idx.count() == 6 + 201,
      s"index must hold one row per (id, day) ingestion, got ${idx.count()}")
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Profiling}
import graft.pipeline.CorpusRun
import graft.sources.Zones

/** Multi-day scale proof for the corpus pipeline: 15 synthetic days of
  * 150 fresh + 20 exact-copy + 20 near-dup + 5 junk documents, asserting
  * the properties that decide whether the daily fold survives a year of
  * production at cluster scale: per-day wall time stays FLAT while the
  * corpus and its indexes grow (the O(increment) claim), closed day
  * partitions are byte-immutable (append-only discipline), the
  * incrementally-maintained cluster assignment equals a from-scratch
  * closure over the full pair set, and the stats zone agrees with the
  * published corpus exactly.
  */
class CorpusRunScaleSpec extends SparkSpec {

  private val nDays = 15
  private val freshPerDay = 150
  private val copiesPerDay = 20
  private val nearDupsPerDay = 20
  private val junkPerDay = 5
  private val idStride = 200 // id block per day

  private def freshText(i: Long): String =
    s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h"

  /** Day `d` increment (1-based): fresh docs with unique shingles, exact
    * copies and near-dups (first token dropped → Jaccard 5/6) of the
    * PREVIOUS day's fresh docs, and sub-quality junk.
    */
  private def incrementDay(d: Int): DataFrame = {
    import spark.implicits._
    val base = (d - 1).toLong * idStride
    val fresh = (1 to freshPerDay).map { j =>
      (base + j, freshText(base + j), s"s${(base + j) % 3}")
    }
    val (copies, nearDups) =
      if (d == 1) (Nil, Nil)
      else {
        val prevBase = (d - 2).toLong * idStride
        val c = (1 to copiesPerDay).map { k =>
          val target = prevBase + 1 + ((d * 7 + k) % freshPerDay)
          (base + freshPerDay + k, freshText(target), s"s${k % 3}")
        }
        val nd = (1 to nearDupsPerDay).map { k =>
          val target = prevBase + 1 + ((d * 13 + k) % freshPerDay)
          (base + freshPerDay + copiesPerDay + k,
            freshText(target).split(" ").drop(1).mkString(" "), s"s${k % 3}")
        }
        (c, nd)
      }
    val junk = (1 to junkPerDay).map { k =>
      (base + freshPerDay + copiesPerDay + nearDupsPerDay + k, "junk", "s0")
    }
    (fresh ++ copies ++ nearDups ++ junk).toDF("doc_id", "text", "source")
  }

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(dir).filter(_.getName.endsWith(".parquet"))
  }

  test(s"$nDays daily corpus folds: flat per-day time, immutable closed days, exact closure") {
    val tmp = tempDir("graft_corpus_scale")
    val wh = s"$tmp/wh"
    val day1 = java.time.LocalDate.parse("2026-04-01")
    val docsRoot = s"$wh/corpus/docs"

    val dayTimes = Array.ofDim[Double](nDays)
    var closedCensus: Map[String, Map[String, (Long, Long)]] = Map.empty
    def dayPartitions(): Map[String, Map[String, (Long, Long)]] =
      Option(new java.io.File(docsRoot).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("ingest_day="))
        .map(p => p.getName ->
          parquetFiles(p).map(f => f.getName -> ((f.length, f.lastModified))).toMap)
        .toMap

    (1 to nDays).foreach { d =>
      val date = day1.plusDays(d - 1).toString
      val inDir = s"$tmp/in_day$d"
      incrementDay(d).write.mode("overwrite").parquet(inDir)
      val t0 = System.nanoTime()
      assert(CorpusRun.run(spark, inDir, wh, s"$date 02:00:00") == "SUCCESS")
      dayTimes(d - 1) = (System.nanoTime() - t0) / 1e9
      if (d == 10) closedCensus = dayPartitions()
    }

    // ── every published day partition byte-identical after later days ──
    val after = dayPartitions()
    closedCensus.foreach { case (part, files) =>
      assert(after.get(part).contains(files),
        s"closed corpus partition $part changed after day 10")
    }
    assert(closedCensus.size == 10, s"expected 10 day partitions at day 10")

    // ── dedup exactness: exactly the fresh docs survive, every day ─────
    val corpus = spark.read.parquet(docsRoot)
    assert(corpus.count() == nDays.toLong * freshPerDay,
      s"corpus holds ${corpus.count()} docs, want ${nDays * freshPerDay}")
    val perDay = corpus.groupBy("ingest_day").agg(count(lit(1)).as("n"))
      .select("n").distinct().collect().map(_.getLong(0)).toSeq
    assert(perDay == Seq(freshPerDay.toLong),
      s"per-day published counts drift: $perDay")

    // ── maintained clusters ≡ from-scratch closure over ALL pairs ──────
    val idx = Dedup.readSignatureIndex(spark, s"$wh/corpus/sig_index")
    val fullPairs = Dedup.minhashLshPairsFromIndex(
      idx, CorpusRun.NumHashes, CorpusRun.Bands, CorpusRun.JaccardThreshold)
    val scratch = Curation.dupClusters(fullPairs, "id_a", "id_b")
      .select("id", "cluster_id").orderBy("id").collect().map(_.toSeq).toSeq
    val maintained = Zones.read(spark, s"$wh/corpus/clusters")
      .select("id", "cluster_id").orderBy("id").collect().map(_.toSeq).toSeq
    assert(maintained == scratch,
      s"day-$nDays incremental assignment diverged from the full closure " +
        s"(${maintained.size} vs ${scratch.size} rows)")
    // every near-dup pairs with exactly its target: assignment rows =
    // (target + dup) per planted pair, dups rooted at their kept target
    assert(scratch.size == (nDays - 1) * nearDupsPerDay * 2,
      s"pair-involved doc count ${scratch.size} != planted 2×${(nDays - 1) * nearDupsPerDay}")
    assert(Zones.read(spark, s"$wh/corpus/clusters")
      .filter(!col("is_canonical")).count() == (nDays - 1).toLong * nearDupsPerDay,
      "dropped-doc count must equal the planted near-dups")

    // ── stats zone ≡ published corpus, replay mark at the last day ─────
    val statTotal = Profiling.readStatsZone(spark, s"$wh/corpus/stats")
      .agg(sum("n_rows")).head().getLong(0)
    assert(statTotal == nDays.toLong * freshPerDay,
      s"stats zone counts $statTotal != corpus ${nDays * freshPerDay}")
    assert(Profiling.statsZoneHighWater(spark, s"$wh/corpus/stats") ==
      day1.plusDays(nDays - 1).toEpochDay)

    // ── flat per-day wall time: late median vs early median ────────────
    // The confound this bar must not measure: in a full `sbt test` run
    // this suite executes after ~100 other tests in the SAME JVM/session,
    // and a session that has planned thousands of queries pays more per
    // micro-action by the time the LATE days run than the EARLY days paid
    // (observed: a flat 9 s/day sequence stepping to ~25 s/day at day 11
    // in-suite, while the identical spec in isolation stays flat). So a
    // CONTROL re-measures day-1-shaped work (same increment size, FRESH
    // empty warehouse — zero standing corpus) at the END, on the same
    // aged session: any late-day cost that is session aging inflates the
    // control identically, while a REAL O(corpus) ramp cannot touch a
    // control with no corpus and still fails the bar.
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val early = median(dayTimes.slice(1, 6).toSeq) // skip day-1 cold start
    val late = median(dayTimes.takeRight(5).toSeq)
    // min-of-3 control (the repo's standing adjudication protocol): a
    // single slow draw — GC pause, cold-start classloading the fresh
    // warehouse's first write paths — would loosen the bar enough to
    // admit a genuine O(corpus) ramp. Three fresh warehouses; the first
    // run doubles as the warmup, the minimum is the aged session's
    // steady per-day floor.
    val control = (1 to 3).map { i =>
      val cwh = s"$tmp/wh_control_$i"
      val dir = s"$tmp/in_control"
      incrementDay(1).write.mode("overwrite").parquet(dir)
      val t0 = System.nanoTime()
      assert(CorpusRun.run(spark, dir, cwh, "2026-04-01 02:00:00") == "SUCCESS")
      (System.nanoTime() - t0) / 1e9
    }.min
    assert(late <= math.max(early, control) * 2.5,
      s"per-day time ramps: early-median $early s → late-median $late s, " +
        s"aged-session zero-corpus control $control s " +
        s"(all: ${dayTimes.map(t => f"$t%.1f").mkString(",")})")
  }

  test("retention compaction: closed months fold, probe reads stay equivalent, docs content-identical") {
    import spark.implicits._
    val tmp = tempDir("graft_corpus_compact")
    val wh = s"$tmp/wh"
    def doc(i: Long) =
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h", s"s${i % 3}")
    def run(tag: String, rows: Seq[(Long, String, String)], ts: String): Unit = {
      val dir = s"$tmp/in_$tag"
      rows.toDF("doc_id", "text", "source").write.mode("overwrite").parquet(dir)
      assert(CorpusRun.run(spark, dir, wh, ts) == "SUCCESS")
    }
    // two January days + one February day (Jan closes, Feb stays hot)
    run("j30", Seq(doc(1), doc(2)), "2026-01-30 02:00:00")
    run("j31", Seq(doc(11), doc(12)), "2026-01-31 02:00:00")
    run("f01", Seq(doc(21)), "2026-02-01 02:00:00")

    def contentSet(path: String, cols: String*): Set[Seq[Any]] =
      Zones.read(spark, s"$wh/corpus/$path").select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq).toSet
    val fpBefore = contentSet("fingerprints", "fp")
    val sigBefore = contentSet("sig_index", "id", "sz", "sig")
    val pfpBefore = contentSet("para_fp", "pfp")
    val docsBefore = contentSet("docs", "doc_id", "text", "source", "ingest_day")

    // forced horizon: 2026-04-15 − 62d ⇒ cutoff month 2026-02 — January
    // folds, February survives day-granular
    val note = CorpusRun.compactZones(spark, wh, "2026-04-15",
      maxFilesPerClosedDay = 1)
    assert(note.contains("fingerprints 2d→2026-01") &&
      note.contains("sig_index 2d→2026-01") && note.contains("para_fp 2d→2026-01"),
      s"unexpected compaction summary: $note")
    Seq("fingerprints", "sig_index", "para_fp").foreach { z =>
      assert(!new java.io.File(s"$wh/corpus/$z/ingest_day=2026-01-30").exists(),
        s"$z: folded day dir must be gone")
      assert(new java.io.File(s"$wh/corpus/$z/ingest_day=2026-01").exists(),
        s"$z: month partition must exist")
      assert(new java.io.File(s"$wh/corpus/$z/ingest_day=2026-02-01").exists(),
        s"$z: hot month must stay day-granular")
    }
    // probe-zone CONTENT unchanged by the fold (only the partition value
    // coarsened); docs content-and-day-identity unchanged, layout kept
    assert(contentSet("fingerprints", "fp") == fpBefore)
    assert(contentSet("sig_index", "id", "sz", "sig") == sigBefore)
    assert(contentSet("para_fp", "pfp") == pfpBefore)
    assert(contentSet("docs", "doc_id", "text", "source", "ingest_day") == docsBefore,
      "docs compaction must preserve content INCLUDING the per-row day")
    assert(new java.io.File(s"$wh/corpus/docs/ingest_day=2026-01-30").exists(),
      "docs keeps day-granular partitions")
    Seq("2026-01-30", "2026-01-31").foreach { d =>
      val files = Option(new java.io.File(s"$wh/corpus/docs/ingest_day=$d").listFiles())
        .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"closed docs day $d must compact to 1 file, has $files")
    }
    // idempotent: a second pass over the same horizon is a no-op
    assert(CorpusRun.compactZones(spark, wh, "2026-04-15",
      maxFilesPerClosedDay = 1) == "")

    // ── end-to-end probe equivalence: an exact copy and a near-dup of
    // FOLDED January docs still die on a later day ───────────────────────
    val nearDup = doc(11)._2.split(" ").drop(1).mkString(" ")
    run("apr", Seq(
      (1001L, doc(1)._2, "s0"),  // exact copy of folded doc 1
      (1002L, nearDup, "s1"),    // near-dup of folded doc 11
      doc(1003L)),               // fresh
      "2026-04-16 02:00:00")
    val aprDocs = spark.read.parquet(s"$wh/corpus/docs")
      .filter(col("ingest_day") === "2026-04-16")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(aprDocs == Seq(1003L),
      s"dedup against folded month partitions must still hold, published $aprDocs")

    // ── counts-zone repair: a missing sig_counts partition is re-seeded
    // from the index before the next day's probe (partial counts would
    // silently blind the hot-bucket defense) ─────────────────────────────
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$wh/corpus/sig_counts/ingest_day=2026-04-16"), true))
    run("apr2", Seq(doc(1101L)), "2026-04-17 02:00:00")
    assert(new java.io.File(s"$wh/corpus/sig_counts/ingest_day=2026-04-16").exists(),
      "the run must re-seed missing counts partitions from the index")

    // ── a day WITHOUT a SUCCESS ledger row never folds: its partitions
    // stay day-addressable for a retry at any distance in time. At a
    // 2026-06-15 horizon February is foldable — but with no eligible day
    // it must stay day-granular; once eligible, it folds ───────────────
    CorpusRun.compactZones(spark, wh, "2026-06-15",
      maxFilesPerClosedDay = 1, foldEligible = Set.empty[String])
    assert(new java.io.File(s"$wh/corpus/fingerprints/ingest_day=2026-02-01").exists(),
      "ineligible (non-SUCCESS) days must stay day-granular")
    assert(!new java.io.File(s"$wh/corpus/fingerprints/ingest_day=2026-02").exists(),
      "no month partition may be created from ineligible days")
    CorpusRun.compactZones(spark, wh, "2026-06-15",
      maxFilesPerClosedDay = 1, foldEligible = Set("2026-02-01"))
    assert(!new java.io.File(s"$wh/corpus/fingerprints/ingest_day=2026-02-01").exists() &&
      new java.io.File(s"$wh/corpus/fingerprints/ingest_day=2026-02").exists(),
      "an eligible closed day folds into its month")
  }

  test("compaction crash recovery: a completed stage replays, a partial stage discards") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val tmp = tempDir("graft_compact_crash")
    val wh = s"$tmp/wh"
    def doc(i: Long) =
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h", s"s${i % 3}")
    def run(tag: String, rows: Seq[(Long, String, String)], ts: String): Unit = {
      val dir = s"$tmp/in_$tag"
      rows.toDF("doc_id", "text", "source").write.mode("overwrite").parquet(dir)
      assert(CorpusRun.run(spark, dir, wh, ts) == "SUCCESS")
    }
    run("j1", Seq(doc(1), doc(2)), "2026-01-10 02:00:00")
    run("f1", Seq(doc(21)), "2026-02-10 02:00:00")
    val fpZone = s"$wh/corpus/fingerprints"
    val fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())
    // fold January normally
    CorpusRun.compactZones(spark, wh, "2026-04-15", maxFilesPerClosedDay = 1)
    val monthFps = spark.read.parquet(fpZone)
      .filter(col("ingest_day") === "2026-01").select("fp")
      .collect().map(_.getString(0)).toSet
    assert(monthFps.size == 2)

    // ── CRASH STATE: the overwrite's commit deleted the month dir but
    // the durable stage survived — exactly the window the review flagged.
    // Simulate: copy the month partition into .fold_tmp (+_SUCCESS),
    // then delete the month partition.
    val stage = new Path(s"$fpZone/.fold_tmp")
    fs.mkdirs(new Path(s"$stage/ingest_day=2026-01"))
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(s"$fpZone/ingest_day=2026-01"), fs, stage,
      false, true, spark.sessionState.newHadoopConf())
    fs.create(new Path(s"$stage/_SUCCESS"), true).close()
    // the crashed pass folded no NEW days (its sources were already
    // month-form) — its manifest is empty
    fs.create(new Path(s"$stage/_DAYS"), true).close()
    fs.delete(new Path(s"$fpZone/ingest_day=2026-01"), true)
    spark.catalog.refreshByPath(fpZone)
    assert(spark.read.parquet(fpZone).filter(col("ingest_day") === "2026-01").count() == 0,
      "crash state: month partition lost, stage is the only copy")
    // recovery runs at the head of the next compaction pass
    CorpusRun.compactZones(spark, wh, "2026-04-15", maxFilesPerClosedDay = 1)
    val recovered = spark.read.parquet(fpZone)
      .filter(col("ingest_day") === "2026-01").select("fp")
      .collect().map(_.getString(0)).toSet
    assert(recovered == monthFps, "recovery must restore the month content from the stage")
    assert(!fs.exists(stage), "recovery must clear the stage")

    // ── a PARTIAL stage (no _SUCCESS — crash mid-stage-write) must be
    // discarded: the old layout is intact, nothing should change
    fs.mkdirs(new Path(s"$stage/ingest_day=2026-01"))
    CorpusRun.compactZones(spark, wh, "2026-04-15", maxFilesPerClosedDay = 1)
    assert(!fs.exists(stage), "partial stage must be discarded")
    assert(spark.read.parquet(fpZone)
      .filter(col("ingest_day") === "2026-01").select("fp")
      .collect().map(_.getString(0)).toSet == monthFps,
      "a discarded partial stage must leave the zone untouched")

    // ── docs half-swap recovery: staged compacted day present under a
    // completed stage, target day dir missing (crash between delete and
    // rename) → recovery renames the staged day in ──────────────────────
    val docsZone = s"$wh/corpus/docs"
    val dayDir = new Path(s"$docsZone/ingest_day=2026-01-10")
    val docsBefore = spark.read.parquet(docsZone)
      .filter(col("ingest_day") === "2026-01-10")
      .select("doc_id", "text").collect().map(_.toSeq).toSet
    val dstage = new Path(s"$docsZone/.compact_tmp")
    fs.mkdirs(dstage)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, dayDir, fs, dstage, false, true, spark.sessionState.newHadoopConf())
    fs.create(new Path(s"$dstage/_SUCCESS"), true).close()
    fs.delete(dayDir, true)
    spark.catalog.refreshByPath(docsZone)
    CorpusRun.compactZones(spark, wh, "2026-04-15", maxFilesPerClosedDay = 1)
    val docsAfter = spark.read.parquet(docsZone)
      .filter(col("ingest_day") === "2026-01-10")
      .select("doc_id", "text").collect().map(_.toSeq).toSet
    assert(docsAfter == docsBefore, "half-swapped docs day must be completed from the stage")
    assert(!fs.exists(dstage), "docs recovery must clear the stage")
  }

  test("compaction crash BETWEEN month overwrite and day deletes: recovery finishes the deletes, no doubling") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileUtil, Path}
    val tmp = tempDir("graft_compact_crash2")
    val wh = s"$tmp/wh"
    def doc(i: Long) =
      (i, s"x${i}a x${i}b x${i}c x${i}d x${i}e x${i}f x${i}g x${i}h", s"s${i % 3}")
    def run(tag: String, rows: Seq[(Long, String, String)], ts: String): Unit = {
      val dir = s"$tmp/in_$tag"
      rows.toDF("doc_id", "text", "source").write.mode("overwrite").parquet(dir)
      assert(CorpusRun.run(spark, dir, wh, ts) == "SUCCESS")
    }
    run("a", Seq(doc(1), doc(2)), "2026-01-10 02:00:00")
    run("b", Seq(doc(3)), "2026-01-11 02:00:00")
    val fpZone = s"$wh/corpus/fingerprints"
    val countsZone = s"$wh/corpus/sig_counts"
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new Path(wh).getFileSystem(hconf)
    // snapshot the day dirs so the crash window can be reconstructed
    val snap = new Path(s"$tmp/snap")
    fs.mkdirs(snap)
    Seq(fpZone, countsZone).foreach { z =>
      val zs = new Path(snap, z.split('/').last); fs.mkdirs(zs)
      fs.listStatus(new Path(z)).map(_.getPath)
        .filter(_.getName.startsWith("ingest_day="))
        .foreach(d => FileUtil.copy(fs, d, fs, zs, false, true, hconf))
    }
    def fpMultiset() = spark.read.parquet(fpZone)
      .select("fp").collect().map(_.getString(0)).toSeq.sorted
    def countsTotal() = spark.read.parquet(countsZone)
      .agg(sum(col("__n"))).head().getLong(0)
    val wantFps = fpMultiset()
    val wantTotal = countsTotal()
    CorpusRun.compactZones(spark, wh, "2026-04-15")
    // reconstruct the window: month partitions committed ([2] done), day
    // dirs still present ([3] not yet run), completed stage on disk
    Seq(fpZone, countsZone).foreach { z =>
      val month = new Path(s"$z/ingest_day=2026-01")
      val stage = new Path(s"$z/.fold_tmp")
      fs.mkdirs(stage)
      FileUtil.copy(fs, month, fs, stage, false, true, hconf)
      fs.create(new Path(s"$stage/_SUCCESS"), true).close()
      // the crashed pass's exact staged-day set, as foldProbe writes it
      val out = fs.create(new Path(s"$stage/_DAYS"), true)
      try out.write("2026-01-10\n2026-01-11".getBytes("UTF-8")) finally out.close()
      fs.listStatus(new Path(s"$snap/${z.split('/').last}")).map(_.getPath)
        .foreach(d => FileUtil.copy(fs, d, fs, new Path(z), false, true, hconf))
      spark.catalog.refreshByPath(z)
    }
    // recovery must replay the overwrite AND finish the day deletes; a
    // recovery that keeps the day dirs makes the NEXT fold read every
    // row twice and bake the duplicates into the month permanently
    CorpusRun.compactZones(spark, wh, "2026-04-15")
    assert(fpMultiset() == wantFps, "fp multiset must survive crash recovery undoubled")
    assert(countsTotal() == wantTotal, "summed sig_counts must survive crash recovery undoubled")
    Seq(fpZone, countsZone).foreach { z =>
      val days = fs.listStatus(new Path(z)).map(_.getPath.getName)
        .filter(_.startsWith("ingest_day=")).map(_.stripPrefix("ingest_day=")).toSeq
      assert(days.forall(_.length == 7), s"day dirs must be gone after recovery in $z: $days")
    }
    // and the state is a fixed point: another pass changes nothing
    CorpusRun.compactZones(spark, wh, "2026-04-15")
    assert(fpMultiset() == wantFps && countsTotal() == wantTotal,
      "recovered layout must be a compaction fixed point")
  }

  test("fold recovery deletes ONLY the crashed pass's manifest days — a day folded-eligible after the stage survives") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileUtil, Path}
    val tmp = tempDir("graft_fold_manifest")
    val wh = s"$tmp/wh"
    val dir = s"$tmp/in"
    Seq((1L, "z1a z1b z1c z1d z1e z1f z1g z1h", "s0"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(dir)
    assert(CorpusRun.run(spark, dir, wh, "2026-01-10 02:00:00") == "SUCCESS")
    val fpZone = s"$wh/corpus/fingerprints"
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new Path(wh).getFileSystem(hconf)
    // reconstruct the ADVICE crash window: the pass staged ONLY
    // 2026-01-10 (its manifest says so) and crashed after the month
    // overwrite, before the day deletes — and IN that window a sibling
    // day (2026-01-20, e.g. a FAILED day whose retry succeeded) became
    // fold-eligible with rows that exist NOWHERE in the stage
    val day10 = new Path(s"$fpZone/ingest_day=2026-01-10")
    val stage = new Path(s"$fpZone/.fold_tmp")
    val stagedMonth = new Path(s"$stage/ingest_day=2026-01")
    fs.mkdirs(stage)
    FileUtil.copy(fs, day10, fs, stagedMonth, false, true, hconf)
    fs.create(new Path(s"$stage/_SUCCESS"), true).close()
    val out = fs.create(new Path(s"$stage/_DAYS"), true)
    try out.write("2026-01-10".getBytes("UTF-8")) finally out.close()
    // month partition committed (step [2] done for the staged content)
    FileUtil.copy(fs, day10, fs, new Path(s"$fpZone/ingest_day=2026-01"),
      false, true, hconf)
    // the late-arriving sibling day — its fp rows are its ONLY copy
    Seq("late_fp_only_copy").toDF("fp")
      .write.parquet(s"$fpZone/ingest_day=2026-01-20")
    spark.catalog.refreshByPath(fpZone)
    // recovery + fresh fold in one pass, BOTH days fold-eligible: a
    // recovery that recomputes foldableDays would delete 2026-01-20's
    // dir with zero staged rows — permanent silent loss
    CorpusRun.compactZones(spark, wh, "2026-04-15")
    val fps = spark.read.parquet(fpZone).select("fp")
      .collect().map(_.getString(0)).toSet
    assert(fps.contains("late_fp_only_copy"),
      "recovery deleted a day it never staged — its only copy is gone")
    // and the layout converged: everything is month-form, no stage left
    val parts = fs.listStatus(new Path(fpZone)).map(_.getPath.getName)
      .filter(_.startsWith("ingest_day=")).map(_.stripPrefix("ingest_day=")).toSeq
    assert(parts.forall(_.length == 7), s"all partitions must be month-form: $parts")
    assert(!fs.exists(stage), "stage must be cleared")
  }

  test("a day whose month has been folded refuses to (re)run") {
    import spark.implicits._
    val tmp = tempDir("graft_folded_retry")
    val wh = s"$tmp/wh"
    val dir = s"$tmp/in"
    Seq((1L, "y1a y1b y1c y1d y1e y1f y1g y1h", "s0"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(dir)
    assert(CorpusRun.run(spark, dir, wh, "2026-01-10 02:00:00") == "SUCCESS")
    CorpusRun.compactZones(spark, wh, "2026-04-15")
    // a retry of ANY January day would probe the folded month partition
    // as "prior days" and see siblings AFTER its own date — unrecoverable
    // day-level semantics, so the run must fail loudly instead
    val e = intercept[IllegalArgumentException] {
      CorpusRun.run(spark, dir, wh, "2026-01-20 02:00:00")
    }
    assert(e.getMessage.contains("already") && e.getMessage.contains("folded"),
      s"error must name the folded month: ${e.getMessage}")
  }
}

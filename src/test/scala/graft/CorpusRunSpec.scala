package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Curation
import graft.pipeline.CorpusRun
import graft.sources.Zones

/** End-to-end daily corpus pipeline: three days of increments through
  * quality → exact dedup → incremental near-dup → cluster maintenance →
  * append-only publish → stats merge, with the contracts that matter at
  * 100 TB pinned: closed day partitions byte-identical after later days,
  * the cluster assignment ≡ a from-scratch closure over all pairs, and
  * stats counts ≡ the published corpus.
  */
class CorpusRunSpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  /** The live semantic-index version's assignment dir (versioned zone —
    * `corpus/sem_index/v<N>/assign`); fails the test if no version is live.
    */
  private def semAssignDir(wh: String): String = {
    val live = graft.pipeline.IndexRun
      .resolveCurrent(spark, s"$wh/corpus/sem_index", "meta/_SUCCESS")
    assert(live.isDefined, s"no live semantic index under $wh/corpus/sem_index")
    s"${live.get}/assign"
  }

  private def fileCensus(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir)).map(f => f.getAbsolutePath -> ((f.length(), f.lastModified()))).toMap
  }

  test("three-day corpus run: dedup across days, append-only history, consistent stats") {
    val tmp = tempDir("graft_corpus")
    val wh = s"$tmp/wh"
    def drop(day: String, df: DataFrame): String = {
      val dir = s"$tmp/in_$day"
      df.write.mode("overwrite").parquet(dir)
      dir
    }

    // day 1: 8 clean docs (no dups), one low-quality (2 tokens)
    val base = (1L to 8L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i", "web"))
    val in1 = drop("d1", docs(base :+ ((9L, "too short", "web"))))
    assert(CorpusRun.run(spark, in1, wh, "2026-03-01 02:00:00") == "SUCCESS")
    val day1Docs = spark.read.parquet(s"$wh/corpus/docs")
    assert(day1Docs.count() == 8, "day 1 should publish the 8 quality docs")
    // same-day rerun gates out before touching anything
    assert(CorpusRun.run(spark, in1, wh, "2026-03-01 09:00:00") == "SKIPPED")

    val censusAfterDay1 = fileCensus(s"$wh/corpus/docs")

    // day 2: 2 brand-new docs, 1 exact copy of doc 3's text (new id),
    // 1 near-dup of doc 5 (first token dropped → Jaccard > 0.6),
    // 1 low-quality reject
    val in2 = drop("d2", docs(Seq(
      (11L, "one1 two2 three3 four4 five5 six6 seven7 eight8", "news"),
      (12L, "uno dos tres cuatro cinco seis siete ocho", "news"),
      (13L, base(2)._2, "web"), // exact text of doc 3
      (14L, base(4)._2.split(" ").drop(1).mkString(" "), "web"), // near-dup of doc 5
      (15L, "tiny", "web"))))
    assert(CorpusRun.run(spark, in2, wh, "2026-03-02 02:00:00") == "SUCCESS")
    val day2Docs = spark.read.parquet(s"$wh/corpus/docs")
    assert(day2Docs.count() == 10, s"day 2 should add exactly 11+12: ${day2Docs.count()}")
    assert(day2Docs.filter(col("doc_id").isin(13L, 14L, 15L)).isEmpty,
      "exact copy, near-dup, and low-quality doc must all be dropped")

    // closed day-1 files untouched by day 2 (append-only discipline)
    val censusAfterDay2 = fileCensus(s"$wh/corpus/docs")
    censusAfterDay1.foreach { case (path, sig) =>
      assert(censusAfterDay2.get(path).contains(sig), s"day-1 file rewritten: $path")
    }

    // ledger message carries the per-stage counts
    val msg2 = Zones.read(spark, s"$wh/control/corpus_log")
      .filter(col("status") === "SUCCESS").orderBy(col("id").desc)
      .head().getAs[String]("message")
    assert(msg2.contains("input 5") && msg2.contains("quality-dropped 1") &&
      msg2.contains("exact-dup-dropped 1") && msg2.contains("near-dup-dropped 1") &&
      msg2.contains("published 2"), s"unexpected ledger message: $msg2")
    // the MinHash zone's drift signal rides every run's message: bucket
    // concentration (the thing that CAN drift — recall can't, the
    // permutation hashes are content-universal) measured from the counts
    // zone, with the oversized count that would engage the bounded join
    assert(msg2.contains("sig-health[buckets ") && msg2.contains("oversized 0]"),
      s"ledger message missing the sig-health drift signal: $msg2")

    // day 3: another near-dup chain — a near-dup of day-2's doc 11
    // (cross-day candidate via the signature index, day-2 text never
    // re-shingled) plus one fresh doc
    val in3 = drop("d3", docs(Seq(
      (21L, "one1 two2 three3 four4 five5 six6 seven7 eight8 nine9", "news"),
      (22L, "completely fresh content rows nine ten eleven twelve", "blog"))))
    assert(CorpusRun.run(spark, in3, wh, "2026-03-03 02:00:00") == "SUCCESS")
    val day3Docs = spark.read.parquet(s"$wh/corpus/docs")
    assert(day3Docs.count() == 11, s"day 3 should add only doc 22: ${day3Docs.count()}")
    assert(day3Docs.filter(col("doc_id") === 21L).isEmpty, "cross-day near-dup must drop")

    // the incrementally-maintained assignment ≡ a from-scratch closure
    // over the full pair set derived from the complete signature index
    val idx = graft.operators.Dedup.readSignatureIndex(spark, s"$wh/corpus/sig_index")
    val fullPairs = graft.operators.Dedup.minhashLshPairsFromIndex(
      idx, CorpusRun.NumHashes, CorpusRun.Bands, CorpusRun.JaccardThreshold)
    val scratch = Curation.dupClusters(fullPairs, "id_a", "id_b")
      .select("id", "cluster_id").orderBy("id").collect().map(_.toSeq).toSeq
    val maintained = Zones.read(spark, s"$wh/corpus/clusters")
      .select("id", "cluster_id").orderBy("id").collect().map(_.toSeq).toSeq
    assert(maintained == scratch,
      s"incremental assignment diverged:\n$maintained\nvs\n$scratch")

    // stats zone: counts per (month, source) ≡ the published corpus
    val statCounts = graft.operators.Profiling.readStatsZone(spark, s"$wh/corpus/stats")
      .select(col("grp"), col("n_rows")).orderBy("grp")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val corpusCounts = day3Docs.groupBy("source").agg(count(lit(1)).as("n"))
      .orderBy("source").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(statCounts == corpusCounts,
      s"stats zone counts $statCounts diverge from corpus $corpusCounts")

    // replay guard: a rerun of day 3's merge id against the stats zone
    // no-ops (the pipeline gate already skips, this is the inner guard)
    assert(!graft.operators.Profiling.mergeStatsIncrement(
      spark, day3Docs.limit(1), s"$wh/corpus/stats",
      "substring(ingest_day, 1, 7)", "source",
      "cast(length(text) as double)", "doc_id",
      batchId = Some(java.time.LocalDate.parse("2026-03-03").toEpochDay)))

    // ── retry idempotence: day 3 "crashed" after publishing everything
    // but before its ledger SUCCESS row — the retry must converge to the
    // SAME state: day partitions replaced (not double-published), the
    // retry must not see its failed attempt's fingerprints/signatures as
    // prior corpus, clusters unchanged, stats no-op on the high-water
    // mark ──────────────────────────────────────────────────────────────
    val ledgerPath = s"$wh/control/corpus_log"
    val mangled = Zones.read(spark, ledgerPath).withColumn("status",
      when(col("status") === "SUCCESS" &&
        to_date(col("start_time")) === lit("2026-03-03").cast("date"), "FAILED")
        .otherwise(col("status")))
    Zones.overwriteSwap(mangled, ledgerPath)
    assert(CorpusRun.run(spark, in3, wh, "2026-03-03 04:00:00") == "SUCCESS")
    val retryDocs = spark.read.parquet(s"$wh/corpus/docs")
    assert(retryDocs.count() == 11, s"retry double-published: ${retryDocs.count()}")
    assert(retryDocs.filter(col("ingest_day") === "2026-03-03")
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(22L),
      "retried day must republish exactly its kept set")
    val maintainedRetry = Zones.read(spark, s"$wh/corpus/clusters")
      .select("id", "cluster_id").orderBy("id").collect().map(_.toSeq).toSeq
    assert(maintainedRetry == scratch, "retry changed the cluster closure")
    assert(graft.operators.Profiling.readStatsZone(spark, s"$wh/corpus/stats")
      .agg(sum("n_rows")).head().getLong(0) == 11L,
      "retry double-merged the stats zone")

    // ── nightly skew profile: produced per day, newest row consumable by
    // autoJoin with NO measuring pass (the full producer→consumer loop) ──
    assert(Zones.read(spark, s"$wh/corpus/skew_profile")
      .select(col("ingest_day").cast("string")).distinct().count() == 3,
      "each day must own a skew-profile partition")
    val rpt = CorpusRun.latestSkewReport(spark, wh)
    assert(rpt.exists(_.getAs[Double]("skew_ratio") >= 1.0),
      s"latest skew report missing or malformed: $rpt")
    // poisoned source-keyed frame: any evaluation throws, so the join
    // below planning without an exception proves the report replaced the
    // inline counting pass entirely
    val poisoned = spark.range(10).select(
      when(col("id") >= 0, raise_error(lit("measured"))).otherwise(lit("x")).as("source"))
    val smallDim = spark.range(2).select(
      concat(lit("s"), col("id")).as("source"), col("id").as("weight"))
    val planned = graft.operators.SkewJoin.autoJoin(
      poisoned, smallDim, Seq("source"), report = rpt)
    assert(planned.columns.contains("weight"))
  }

  test("quality suite: planted low-quality docs dropped by named rule, counts in the ledger") {
    val tmp = tempDir("graft_corpus_q")
    val wh = s"$tmp/wh"
    val clean = (1L to 3L).map(i =>
      (i, s"regular healthy document number $i with plain sensible words", "web"))
    val planted = Seq(
      (11L, "too short", "web"), // min_tokens
      (12L, "@@@@ #### %%%% ^^^^ &&&& **** !!!! ????", "web"), // alpha_ratio
      (13L, "this page needs javascript required to view properly okay", "web"), // blocklist
      (14L, "supercalifragilistic pneumonoultramicroscopicsilicovolcanoconiosis " +
        "antidisestablishmentarianism floccinaucinihilipilification " +
        "honorificabilitudinitatibus incomprehensibilities", "web"), // mean_word_len
      (15L, "copy line alpha\ncopy line alpha\ncopy line alpha\ncopy line alpha\n" +
        "unique tail here", "web"), // dup_lines (char mass > 0.3)
      (16L, "spam gram spam gram spam gram spam gram spam gram spam gram " +
        "spam gram spam gram spam gram spam gram", "web")) // dup_trigrams
    val df = {
      import spark.implicits._
      (clean ++ planted).toDF("doc_id", "text", "source")
    }
    val in = s"$tmp/in"
    df.write.mode("overwrite").parquet(in)
    assert(CorpusRun.run(spark, in, wh, "2026-06-01 02:00:00") == "SUCCESS")
    val published = spark.read.parquet(s"$wh/corpus/docs")
    assert(published.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L),
      "exactly the clean docs must publish")
    val msg = Zones.read(spark, s"$wh/control/corpus_log")
      .filter(col("status") === "SUCCESS").orderBy(col("id").desc)
      .head().getAs[String]("message")
    assert(msg.contains("quality-dropped 6"), s"unexpected ledger message: $msg")
    Seq("min_tokens=1", "alpha_ratio=1", "blocklist=1", "mean_word_len=1",
      "dup_lines=1", "dup_trigrams=1").foreach { tok =>
      assert(msg.contains(tok), s"ledger message missing '$tok': $msg")
    }
  }

  test("semantic stage: 3 days maintained ≡ from-scratch SemDeDup on the union, retry idempotent") {
    import spark.implicits._
    import graft.pipeline.CorpusRun.SemanticStage
    val tmp = tempDir("graft_corpus_sem")
    val wh = s"$tmp/wh"
    def drop(day: String, d: Seq[(Long, String, String)], e: Seq[(Long, Seq[Double])])
        : (String, SemanticStage) = {
      val dDir = s"$tmp/in_$day"
      val eDir = s"$tmp/emb_$day"
      docs(d).write.mode("overwrite").parquet(dDir)
      e.toDF("doc_id", "embedding").write.mode("overwrite").parquet(eDir)
      // k=1 single cluster + 1 round: the keep rule degenerates to the
      // pure ε-ball keep-smallest-id policy, for which incremental
      // maintenance over well-separated families is EXACTLY the batch
      // rule — so the maintained-≡-scratch check below is bitwise
      (dDir, SemanticStage(eDir, k = 1, iters = 1, threshold = 0.95))
    }
    def t(i: Long, tag: String) =
      (i, s"${tag}one ${tag}two ${tag}three ${tag}four ${tag}five ${tag}six", "web")
    // orthogonal unit "families"; within-family cosine ≈ 0.99995
    val famA = Seq(1.0, 0.0, 0.0, 0.0)
    val famAeps = Seq(0.999, 0.01, 0.0, 0.0)
    val famB = Seq(0.0, 1.0, 0.0, 0.0)
    val famBeps = Seq(0.01, 0.999, 0.0, 0.0)
    val famC = Seq(0.0, 0.0, 1.0, 0.0)
    val famCeps = Seq(0.0, 0.01, 0.999, 0.0)
    val famD = Seq(0.0, 0.0, 0.0, 1.0)

    // day 1: 2 is a semantic copy of 1 (drops); 4 has NO embedding row
    // (passes unjudged); zone seeds {1, 3}
    val (in1, sem1) = drop("s1",
      Seq(t(1, "aa"), t(2, "bb"), t(3, "cc"), t(4, "dd")),
      Seq((1L, famA), (2L, famAeps), (3L, famB)))
    assert(CorpusRun.run(spark, in1, wh, "2026-03-01 02:00:00", semantic = Some(sem1)) == "SUCCESS")
    val day1 = spark.read.parquet(s"$wh/corpus/docs")
    assert(day1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L),
      "day 1 must publish 1, 3 and the unjudged 4; semantic copy 2 drops")
    val msg1 = Zones.read(spark, s"$wh/control/corpus_log")
      .filter(col("status") === "SUCCESS").orderBy(col("id").desc)
      .head().getAs[String]("message")
    assert(msg1.contains("sem-dup-dropped 1"), s"unexpected ledger message: $msg1")

    // day 2: 11 matches PUBLISHED 1 (cross-batch drop via the stored
    // zone — day-1 vectors are never re-clustered), 13 matches published
    // 3, 12 opens family C
    val (in2, sem2) = drop("s2",
      Seq(t(11, "ee"), t(12, "ff"), t(13, "gg")),
      Seq((11L, famAeps.map(_ * 0.98)), (12L, famC), (13L, famBeps)))
    assert(CorpusRun.run(spark, in2, wh, "2026-03-02 02:00:00", semantic = Some(sem2)) == "SUCCESS")
    assert(spark.read.parquet(s"$wh/corpus/docs")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L, 12L),
      "day 2 must add only 12")

    // day 3: 21 matches day-2's published 12; 22 opens family D
    val (in3, sem3) = drop("s3",
      Seq(t(21, "hh"), t(22, "ii")),
      Seq((21L, famCeps), (22L, famD)))
    assert(CorpusRun.run(spark, in3, wh, "2026-03-03 02:00:00", semantic = Some(sem3)) == "SUCCESS")
    assert(spark.read.parquet(s"$wh/corpus/docs")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L, 12L, 22L))

    // ── the maintained zone ≡ from-scratch semanticDedup over the UNION
    // of every day's stage-input vectors: same kept ids, same clusters ──
    val union = Seq(
      (1L, famA), (2L, famAeps), (3L, famB),
      (11L, famAeps.map(_ * 0.98)), (12L, famC), (13L, famBeps),
      (21L, famCeps), (22L, famD)).toDF("doc_id", "embedding")
    val scratch = graft.operators.Dedup
      .semanticDedup(union, "doc_id", "embedding", 1, 1, 0.95)
      .filter(col("is_kept"))
      .select(col("doc_id").as("id"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def zoneState() = spark.read.parquet(semAssignDir(wh))
      .select("id", "cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(zoneState() == scratch,
      s"maintained assignment ${zoneState()} diverged from from-scratch $scratch")

    // ── day-3 retry after a mangled-ledger crash: same published set,
    // the day re-owns its zone partition, assignment unchanged ──────────
    val ledgerPath = s"$wh/control/corpus_log"
    val mangled = Zones.read(spark, ledgerPath).withColumn("status",
      when(col("status") === "SUCCESS" &&
        to_date(col("start_time")) === lit("2026-03-03").cast("date"), "FAILED")
        .otherwise(col("status")))
    Zones.overwriteSwap(mangled, ledgerPath)
    assert(CorpusRun.run(spark, in3, wh, "2026-03-03 04:00:00", semantic = Some(sem3)) == "SUCCESS")
    assert(spark.read.parquet(s"$wh/corpus/docs")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L, 12L, 22L),
      "retried day must converge to the same published corpus")
    assert(zoneState() == scratch, "retry changed the semantic assignment zone")
    assert(spark.read.parquet(semAssignDir(wh))
      .filter(col("ingest_day") === "2026-03-03")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(22L),
      "retried day must own exactly its zone partition")
  }

  test("semantic zone holds only PUBLISHED docs: a fully-excised sem-kept doc never drops future docs") {
    import spark.implicits._
    import graft.pipeline.CorpusRun.SemanticStage
    val tmp = tempDir("graft_corpus_semx")
    val wh = s"$tmp/wh"
    def drop(day: String, d: Seq[(Long, String, String)], e: Seq[(Long, Seq[Double])])
        : (String, SemanticStage) = {
      val dDir = s"$tmp/in_$day"
      val eDir = s"$tmp/emb_$day"
      docs(d).write.mode("overwrite").parquet(dDir)
      e.toDF("doc_id", "embedding").write.mode("overwrite").parquet(eDir)
      (dDir, SemanticStage(eDir, k = 1, iters = 1, threshold = 0.95))
    }
    val famA = Seq(1.0, 0.0, 0.0, 0.0)
    val famB = Seq(0.0, 1.0, 0.0, 0.0)
    val famD = Seq(0.0, 0.0, 0.0, 1.0)
    val famDeps = Seq(0.0, 0.0, 0.01, 0.999)
    val pAlpha = "alpha apple axe anchor acorn amber"
    val pBeta = "beta bread bone birch boat bramble"

    // day 1: two distinct single-paragraph docs publish; their paragraph
    // fingerprints enter the para_fp zone
    val (in1, sem1) = drop("x1",
      Seq((1L, pAlpha, "web"), (2L, pBeta, "web")),
      Seq((1L, famA), (2L, famB)))
    assert(CorpusRun.run(spark, in1, wh, "2026-04-01 02:00:00", semantic = Some(sem1)) == "SUCCESS")

    // day 2: doc 11 = both prior paragraphs glued — it survives exact +
    // near-dup (shingle Jaccard vs either part ≈ 0.33) and the semantic
    // stage (fresh family D), then EVERY paragraph is excised as prior
    // boilerplate, so it is never published. The semantic zone must not
    // carry it: an unpublished representative would silently drop future
    // family-D docs for matching a doc that is not in the corpus.
    val (in2, sem2) = drop("x2",
      Seq((11L, s"$pAlpha\n\n$pBeta", "web")),
      Seq((11L, famD)))
    assert(CorpusRun.run(spark, in2, wh, "2026-04-02 02:00:00", semantic = Some(sem2)) == "SUCCESS")
    val msg2 = Zones.read(spark, s"$wh/control/corpus_log")
      .filter(col("status") === "SUCCESS").orderBy(col("id").desc)
      .head().getAs[String]("message")
    assert(msg2.contains("fully-excised-docs 1"), s"doc 11 must fully excise: $msg2")
    assert(spark.read.parquet(s"$wh/corpus/docs")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "fully-excised doc 11 must not publish")
    assert(spark.read.parquet(semAssignDir(wh))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "semantic zone must hold only published docs — 11 must be absent")

    // day 3: doc 21 is semantically within ε of the UNPUBLISHED 11 but of
    // nothing in the corpus — it must publish
    val (in3, sem3) = drop("x3",
      Seq((21L, "gamma goose grain gem glass grove", "web")),
      Seq((21L, famDeps)))
    assert(CorpusRun.run(spark, in3, wh, "2026-04-03 02:00:00", semantic = Some(sem3)) == "SUCCESS")
    assert(spark.read.parquet(s"$wh/corpus/docs")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 21L),
      "doc 21 must publish — its only semantic match was never in the corpus")
  }

  test("semantic index re-clusters at grown k when occupancy trips; dedup contract and retry hold across the flip") {
    import spark.implicits._
    import graft.pipeline.{CorpusRun, IndexRun}
    import graft.pipeline.CorpusRun.SemanticStage
    val tmp = tempDir("graft_corpus_semk")
    val wh = s"$tmp/wh"
    // trip bar Σn/k > 2×1.0: day 1's three vectors at k=1 overflow it
    def drop(day: String, d: Seq[(Long, String, String)], e: Seq[(Long, Seq[Double])])
        : (String, SemanticStage) = {
      val dDir = s"$tmp/in_$day"
      val eDir = s"$tmp/emb_$day"
      docs(d).write.mode("overwrite").parquet(dDir)
      e.toDF("doc_id", "embedding").write.mode("overwrite").parquet(eDir)
      (dDir, SemanticStage(
        eDir, k = 1, iters = 2, threshold = 0.95,
        targetOccupancy = 2, occupancyInflation = 1.0))
    }
    val e1 = Seq(1.0, 0.0, 0.0, 0.0)
    val e2 = Seq(0.0, 1.0, 0.0, 0.0)
    val e3 = Seq(0.0, 0.0, 1.0, 0.0)
    val e4 = Seq(0.0, 0.0, 0.0, 1.0)

    // day 1: three mutually-orthogonal docs — all publish (k=1, no ε
    // matches), then occupancy 3/1 > 2 trips an immediate re-cluster
    val (in1, sem1) = drop("k1",
      Seq(
        (1L, "alpha apple axe anchor acorn amber aster", "web"),
        (2L, "beta bread bone birch boat bramble briar", "web"),
        (3L, "gamma goose grain gem glass grove gull", "web")),
      Seq((1L, e1), (2L, e2), (3L, e3)))
    assert(CorpusRun.run(spark, in1, wh, "2026-05-01 02:00:00", semantic = Some(sem1)) == "SUCCESS")
    val msg1 = Zones.read(spark, s"$wh/control/corpus_log")
      .filter(col("status") === "SUCCESS").orderBy(col("id").desc)
      .head().getAs[String]("message")
    assert(msg1.contains("SEM-INDEX re-clustered v2: k 1→2"),
      s"day-1 occupancy 3 > 2 must re-cluster v1→v2 at k′=⌈3/2⌉=2: $msg1")
    assert(msg1.contains("sem-index[v2 k=2 n=3 occ 1.5/2.0]"),
      s"the standing sem-index health fragment must ride the ledger row: $msg1")
    val live1 = IndexRun.resolveCurrent(spark, s"$wh/corpus/sem_index", "meta/_SUCCESS")
    assert(live1.exists(_.endsWith("/v2")), s"pointer must name v2: $live1")
    val meta1 = spark.read.parquet(s"${live1.get}/meta").head()
    assert(meta1.getAs[Int]("k") == 2 && meta1.getAs[Long]("n_vectors") == 3L)
    // relabel preserves day ownership and rows: same ids, same ingest_day
    assert(spark.read.parquet(s"${live1.get}/assign")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // state zone stays the assignment's derivative across the flip
    assert(spark.read.parquet(s"${live1.get}/state")
      .agg(sum("n")).head().getLong(0) == 3L)

    // day 2 judges against the RE-CLUSTERED geometry: an identical
    // embedding of published doc 2 must still drop (identical vectors
    // co-cluster under any k), a fresh orthogonal doc must publish
    val (in2, sem2) = drop("k2",
      Seq(
        (11L, "delta dove dune dock drift dusk dawn", "news"),
        (12L, "epsilon elm ember eel echo estuary elk", "news")),
      Seq((11L, e2), (12L, e4)))
    assert(CorpusRun.run(spark, in2, wh, "2026-05-02 02:00:00", semantic = Some(sem2)) == "SUCCESS")
    assert(spark.read.parquet(s"$wh/corpus/docs")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 12L),
      "post-flip: identical-embedding 11 drops, fresh 12 publishes")
    // occupancy 4/2 = 2 ≤ 2: no second flip
    val live2 = IndexRun.resolveCurrent(spark, s"$wh/corpus/sem_index", "meta/_SUCCESS")
    assert(live2 == live1, s"day 2 must append into v2, not re-cluster: $live2")

    // day-2 retry after a mangled-ledger crash converges bitwise: same
    // corpus, the day re-owns exactly its assign partition in the live
    // version
    val ledgerPath = s"$wh/control/corpus_log"
    val mangled = Zones.read(spark, ledgerPath).withColumn("status",
      when(col("status") === "SUCCESS" &&
        to_date(col("start_time")) === lit("2026-05-02").cast("date"), "FAILED")
        .otherwise(col("status")))
    Zones.overwriteSwap(mangled, ledgerPath)
    assert(CorpusRun.run(spark, in2, wh, "2026-05-02 04:00:00", semantic = Some(sem2)) == "SUCCESS")
    assert(spark.read.parquet(s"$wh/corpus/docs")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 12L),
      "retried day must converge to the same published corpus")
    assert(spark.read.parquet(s"${live1.get}/assign")
      .filter(col("ingest_day") === "2026-05-02")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(12L),
      "retried day must own exactly its assign partition")
  }

  test("earliest-day backfill preserves the live semantic version: later days and frozen geometry survive, future dups still drop") {
    import spark.implicits._
    import graft.pipeline.IndexRun
    import graft.pipeline.CorpusRun.SemanticStage
    val tmp = tempDir("graft_corpus_backfill")
    val wh = s"$tmp/wh"
    def drop(day: String, d: Seq[(Long, String, String)], e: Seq[(Long, Seq[Double])])
        : (String, SemanticStage) = {
      val dDir = s"$tmp/in_$day"
      val eDir = s"$tmp/emb_$day"
      docs(d).write.mode("overwrite").parquet(dDir)
      e.toDF("doc_id", "embedding").write.mode("overwrite").parquet(eDir)
      (dDir, SemanticStage(eDir, k = 1, iters = 1, threshold = 0.95))
    }
    val famA = Seq(1.0, 0.0, 0.0, 0.0)
    val famB = Seq(0.0, 1.0, 0.0, 0.0)
    val famBeps = Seq(0.01, 0.999, 0.0, 0.0)
    val famC = Seq(0.0, 0.0, 1.0, 0.0)

    // days 1 and 2 each publish one fresh family
    val (in1, sem1) = drop("b1",
      Seq((1L, "alpha apple axe anchor acorn amber", "web")), Seq((1L, famA)))
    assert(CorpusRun.run(spark, in1, wh, "2026-06-01 02:00:00", semantic = Some(sem1)) == "SUCCESS")
    val (in2, sem2) = drop("b2",
      Seq((11L, "beta bread bone birch boat bramble", "web")), Seq((11L, famB)))
    assert(CorpusRun.run(spark, in2, wh, "2026-06-02 02:00:00", semantic = Some(sem2)) == "SUCCESS")
    val live = IndexRun.resolveCurrent(spark, s"$wh/corpus/sem_index", "meta/_SUCCESS").get
    val centsBefore = spark.read.parquet(s"$live/centroids").collect().map(_.toSeq).toSet

    // day 1's SUCCESS row is mangled to FAILED (a crash discovered late)
    // and the day re-runs while day 2 stands published. No SUCCESS day
    // < 06-01 exists, so the prior-days probe view is EMPTY — exactly the
    // day-1-retry signature — but the live version holds day 2's rows:
    // a destructive in-place rebuild would delete day 2's assignment and
    // the frozen geometry, and day-3 semantic dups of 11 would publish.
    val ledgerPath = s"$wh/control/corpus_log"
    val mangled = Zones.read(spark, ledgerPath).withColumn("status",
      when(col("status") === "SUCCESS" &&
        to_date(col("start_time")) === lit("2026-06-01").cast("date"), "FAILED")
        .otherwise(col("status")))
    Zones.overwriteSwap(mangled, ledgerPath)
    assert(CorpusRun.run(spark, in1, wh, "2026-06-01 04:00:00", semantic = Some(sem1)) == "SUCCESS")

    val liveAfter = IndexRun.resolveCurrent(spark, s"$wh/corpus/sem_index", "meta/_SUCCESS").get
    assert(liveAfter == live, s"backfill must not replace the live version: $liveAfter")
    val zone = spark.read.parquet(s"$live/assign")
    assert(zone.filter(col("ingest_day").cast("string") === "2026-06-02")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(11L),
      "day-2 assignment must survive the earliest-day backfill")
    assert(zone.filter(col("ingest_day").cast("string") === "2026-06-01")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(1L),
      "the backfilled day must re-own exactly its partition")
    assert(spark.read.parquet(s"$live/centroids").collect().map(_.toSeq).toSet == centsBefore,
      "the frozen geometry must survive the backfill")
    assert(spark.read.parquet(s"$live/state").agg(sum("n")).head().getLong(0) == 2L,
      "state mass must still cover both days")

    // the consequence the guard exists for: a day-3 semantic copy of
    // day-2's published doc must still drop
    val (in3, sem3) = drop("b3",
      Seq((21L, "gamma goose grain gem glass grove", "web"),
        (22L, "delta dove dune dock drift dusk", "web")),
      Seq((21L, famBeps), (22L, famC)))
    assert(CorpusRun.run(spark, in3, wh, "2026-06-03 02:00:00", semantic = Some(sem3)) == "SUCCESS")
    assert(spark.read.parquet(s"$wh/corpus/docs")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 11L, 22L),
      "21 is a semantic copy of day-2's 11 and must drop — the backfill must not forget day 2")
  }

  test("hostile feeds: all-dropped day 1 succeeds; duplicate ids fail loudly; FAILED-day partitions never probe; empty retry evicts leftovers") {
    import spark.implicits._
    val tmp = tempDir("graft_corpus_hostile")
    val wh = s"$tmp/wh"
    def drop(name: String, d: Seq[(Long, String, String)]): String = {
      val dir = s"$tmp/in_$name"
      docs(d).write.mode("overwrite").parquet(dir)
      dir
    }
    def lastMsg(): String = Zones.read(spark, s"$wh/control/corpus_log")
      .filter(col("status") === "SUCCESS").orderBy(col("id").desc)
      .head().getAs[String]("message")

    // ── day 1: every doc fails quality (too short / null) — the run must
    // SUCCEED reporting 0 published, not crash on the empty counts zone
    val in1 = drop("h1", Seq((1L, "tiny", "web"), (2L, null, "web")))
    assert(CorpusRun.run(spark, in1, wh, "2026-05-01 02:00:00") == "SUCCESS",
      "an all-quality-dropped day 1 must succeed with an empty day")
    assert(lastMsg().contains("published 0") && lastMsg().contains("sig-health[empty zone]"),
      s"empty day-1 ledger message: ${lastMsg()}")

    // ── duplicate doc_id with DIFFERING text: identity violation, loud
    val inDup = drop("hdup", Seq(
      (30L, "alpha apple axe anchor acorn amber", "web"),
      (30L, "beta bread bone birch boat bramble", "web")))
    val e = intercept[IllegalArgumentException] {
      CorpusRun.run(spark, inDup, wh, "2026-05-02 02:00:00")
    }
    assert(e.getMessage.contains("doc_id") && e.getMessage.contains("30"),
      s"duplicate-id must fail naming the id: ${e.getMessage}")

    // ── day 3 publishes; then its ledger row flips to FAILED (simulating
    // a crash AFTER the probe partitions published) — day 4's near-dup of
    // the day-3 doc must PUBLISH: a failed day put nothing in the corpus,
    // so its signatures/fingerprints must not drop later docs
    val sharedText = "one1 two2 three3 four4 five5 six6 seven7 eight8 nine9"
    val in3 = drop("h3", Seq((40L, sharedText, "web")))
    assert(CorpusRun.run(spark, in3, wh, "2026-05-03 02:00:00") == "SUCCESS")
    val ledgerPath = s"$wh/control/corpus_log"
    val mangled = Zones.read(spark, ledgerPath).withColumn("status",
      when(col("status") === "SUCCESS" &&
        to_date(col("start_time")) === lit("2026-05-03").cast("date"), "FAILED")
        .otherwise(col("status")))
    Zones.overwriteSwap(mangled, ledgerPath)
    assert(Zones.exists(spark, s"$wh/corpus/sig_index/ingest_day=2026-05-03"),
      "the failed day's probe partitions must still be on disk for this test")
    // exact copy AND a near-dup of the failed day's doc — both must publish
    val in4 = drop("h4", Seq(
      (50L, sharedText, "web"),
      (51L, sharedText + " ten10", "web")))
    assert(CorpusRun.run(spark, in4, wh, "2026-05-04 02:00:00") == "SUCCESS")
    val day4 = spark.read.parquet(s"$wh/corpus/docs")
      .filter(col("ingest_day").cast("string") === "2026-05-04")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(day4 == Seq(50L),
      s"day 4 vs a FAILED prior day: the exact copy of the unpublished doc must " +
        s"publish (50), while 51 dedups against 50 WITHIN the day: $day4")

    // ── day-4 retry with an EMPTY increment (feed replaced): the failed
    // attempt's leftovers must be EVICTED, not survive under 'published 0'
    val mangled4 = Zones.read(spark, ledgerPath).withColumn("status",
      when(col("status") === "SUCCESS" &&
        to_date(col("start_time")) === lit("2026-05-04").cast("date"), "FAILED")
        .otherwise(col("status")))
    Zones.overwriteSwap(mangled4, ledgerPath)
    val emptyDir = s"$tmp/in_empty"
    docs(Seq.empty).write.mode("overwrite").parquet(emptyDir)
    assert(CorpusRun.run(spark, emptyDir, wh, "2026-05-04 05:00:00") == "SUCCESS")
    assert(!Zones.exists(spark, s"$wh/corpus/docs/ingest_day=2026-05-04"),
      "the empty retry must evict the failed attempt's published docs partition")
    assert(!Zones.exists(spark, s"$wh/corpus/sig_index/ingest_day=2026-05-04"),
      "…and its signature partition")
  }

  test("cross-day paragraph excision: boilerplate cut in place, ≡ batch d10 on the union") {
    import graft.operators.TextAnalysis
    val tmp = tempDir("graft_corpus_para")
    val wh = s"$tmp/wh"
    def drop(day: String, df: DataFrame): String = {
      val dir = s"$tmp/in_$day"
      df.write.mode("overwrite").parquet(dir)
      dir
    }
    val boiler = "subscribe to our newsletter for weekly updates today"
    // day 1: docA keeps the boilerplate (first occurrence anywhere); docB's
    // copy is excised within-day. Unique parts are long enough that no doc
    // pair crosses the near-dup Jaccard threshold.
    val docA = s"$boiler\n\nalpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docB = s"kilo lima mike november oscar papa quebec romeo sierra tango\n\n$boiler"
    val in1 = drop("p1", docs(Seq((1L, docA, "web"), (2L, docB, "web"))))
    assert(CorpusRun.run(spark, in1, wh, "2026-05-01 02:00:00") == "SUCCESS")
    val day1 = spark.read.parquet(s"$wh/corpus/docs")
    assert(day1.count() == 2)
    assert(day1.filter(col("doc_id") === 1L).head().getAs[String]("text") == docA,
      "first occurrence of the boilerplate must keep its full text")
    assert(day1.filter(col("doc_id") === 2L).head().getAs[String]("text") ==
      "kilo lima mike november oscar papa quebec romeo sierra tango",
      "within-day duplicate paragraph must be excised in place")

    // day 2: docC carries the day-1 boilerplate in the MIDDLE (cross-day
    // cut via the persisted fp zone — day-1 text is never re-split);
    // docD is pure boilerplate → fully excised, dropped
    val docC = s"uniform victor whiskey xray yankee zulu one two three four\n\n$boiler\n\nnine eight seven six five four three two one zero"
    val docD = boiler
    val censusBefore = fileCensus(s"$wh/corpus/docs/ingest_day=2026-05-01")
    val in2 = drop("p2", docs(Seq((11L, docC, "news"), (12L, docD, "news"))))
    assert(CorpusRun.run(spark, in2, wh, "2026-05-02 02:00:00") == "SUCCESS")
    val day2 = spark.read.parquet(s"$wh/corpus/docs")
    assert(day2.count() == 3, s"docD must drop entirely: ${day2.count()}")
    assert(day2.filter(col("doc_id") === 11L).head().getAs[String]("text") ==
      "uniform victor whiskey xray yankee zulu one two three four\n\nnine eight seven six five four three two one zero",
      "cross-day boilerplate paragraph must be excised in place")
    // closed day-1 partition byte-identical (excision is probe-side only)
    assert(fileCensus(s"$wh/corpus/docs/ingest_day=2026-05-01") == censusBefore,
      "day-2 paragraph stage rewrote closed day-1 files")
    // ledger message carries the excision counts
    val msg2 = Zones.read(spark, s"$wh/control/corpus_log")
      .filter(col("status") === "SUCCESS").orderBy(col("id").desc)
      .head().getAs[String]("message")
    assert(msg2.contains("para-excised 2 of 4") && msg2.contains("fully-excised-docs 1") &&
      msg2.contains("published 1"), s"unexpected ledger message: $msg2")

    // ── the incremental day-by-day verdicts ≡ batch d10 over the union of
    // stage inputs (doc ids are day-monotonic), proven end-to-end through
    // text reassembly: excise the union with BATCH spans and compare the
    // published text per doc ──────────────────────────────────────────────
    import spark.implicits._
    val union = Seq((1L, docA), (2L, docB), (11L, docC), (12L, docD)).toDF("doc_id", "text")
    val batchSpans = TextAnalysis.paragraphDedupSpans(union, "doc_id", "text")
    val batchTexts = TextAnalysis.exciseParagraphs(union, "doc_id", "text", batchSpans)
      .filter(col("n_kept") > 0)
      .select("doc_id", "text_kept").as[(Long, String)].collect().toMap
    val publishedTexts = day2.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(publishedTexts == batchTexts,
      s"incremental excision diverged from the batch form:\n$publishedTexts\nvs\n$batchTexts")

    // ── retry idempotence: day 2 rerun after a mangled-ledger "crash"
    // converges to the same state (the day owns its para_fp partition and
    // cannot see its failed attempt's fingerprints) ──────────────────────
    val ledgerPath = s"$wh/control/corpus_log"
    val mangled = Zones.read(spark, ledgerPath).withColumn("status",
      when(col("status") === "SUCCESS" &&
        to_date(col("start_time")) === lit("2026-05-02").cast("date"), "FAILED")
        .otherwise(col("status")))
    Zones.overwriteSwap(mangled, ledgerPath)
    assert(CorpusRun.run(spark, in2, wh, "2026-05-02 04:00:00") == "SUCCESS")
    val retry = spark.read.parquet(s"$wh/corpus/docs")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(retry == batchTexts, "retried day diverged from its first publish")
    assert(spark.read.parquet(s"$wh/corpus/para_fp")
      .filter(col("ingest_day") === "2026-05-02").count() == 2,
      "retried day must own exactly its paragraph-fingerprint partition " +
        "(2 distinct KEPT fps: docC's two unique paras — the excised " +
        "boilerplate's fp already lives in day-1's partition, kept-only " +
        "publishing must not re-store it)")
    // zone-wide invariant of kept-only publishing: one row per distinct fp
    val allFps = spark.read.parquet(s"$wh/corpus/para_fp").select("pfp")
    assert(allFps.count() == allFps.distinct().count(),
      "para_fp zone must hold each fingerprint exactly once across all days")
  }

  test("c8/c9 gate: planted verdicts and ledger-count consistency at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val pub = SparkEntry.queries("c8_corpus_run_3day")(spark, sf).cache()
    val led = SparkEntry.queries("c9_corpus_run_ledger")(spark, sf).cache()

    // exact replants (+2e7) can never publish: their fingerprint is in
    // the day-1 zone by construction
    assert(pub.filter(col("doc_id").between(20000000, 39999999)).count() == 0,
      "a planted exact duplicate was published")
    // near-dup plants (+4e7 cross-day, +5e7 within-day) of a LONG
    // source can never publish — dropping 5 leading tokens keeps Jaccard
    // well above 0.6 and the smaller-id source wins the keep policy. A
    // SHORT source (≲15 tokens) legitimately escapes: 5 of its ~12 tokens
    // is a heavy edit, J < 0.6, no pair — the oracle replays those too.
    val longSrc = Tables.load(spark, sf, "documents")
      .filter(graft.operators.TextAnalysis.tokenCount(col("text")) >= 20)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val pubNear = pub.filter(col("doc_id").between(40000000, 59999999))
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(pubNear.forall(id => !longSrc.contains(id % 10000000)),
      "a near-dup probe of a long source was published")
    // quality rejects never publish
    assert(pub.filter(col("doc_id") >= 80000000).count() == 0)
    // a published semantic probe (+6e7) means its identical-embedding
    // source was NOT published (otherwise the ε-ball rule drops the probe)
    val srcIds = pub.filter(col("doc_id") < 10000000).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val pubProbes = pub.filter(col("doc_id") >= 60000000 && col("doc_id") < 80000000)
      .select((col("doc_id") - 60000000).as("src")).collect().map(_.getLong(0))
    assert(pubProbes.forall(s => !srcIds.contains(s)),
      "a semantic probe published alongside its identical-embedding source")
    // the stage actually fired
    val semDropped = led.agg(sum("n_sem_dropped")).head().getLong(0)
    assert(semDropped > 0, "no semantic drops — the planted probes never reached the stage")
    // ledger arithmetic: input − per-stage drops ≡ published, per day;
    // excision is a structural no-op on single-paragraph corpora
    val bad = led.filter(
      col("n_input") - col("n_quality_dropped") - col("n_exact_dropped") -
        col("n_neardup_dropped") - col("n_sem_dropped") - col("n_excised_docs")
        =!= col("n_published")).count()
    assert(bad == 0, "ledger stage counts do not telescope to the published count")
    assert(led.agg(sum("n_excised_docs")).head().getLong(0) == 0)
    assert(led.agg(sum("n_published")).head().getLong(0) == pub.count(),
      "ledger published total diverges from the docs zone")
    pub.unpersist(); led.unpersist()
  }

  test("warehouse geometry guard: a binary with moved MinHash constants refuses the standing corpus; legacy warehouses adopt") {
    import spark.implicits._
    val tmp = tempDir("graft_whgeom")
    val wh = s"$tmp/wh"
    def drop(day: String, df: DataFrame): String = {
      val dir = s"$tmp/in_$day"
      df.write.mode("overwrite").parquet(dir)
      dir
    }
    val in1 = drop("d1", docs((1L to 4L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i", "web"))))
    assert(CorpusRun.run(spark, in1, wh, "2026-03-01 02:00:00") == "SUCCESS")
    val metaDir = s"$wh/corpus/_geometry"
    assert(Zones.exists(spark, metaDir), "day 1 must record the warehouse geometry")
    assert(Zones.read(spark, metaDir).head().getAs[Long]("num_hashes") ==
      CorpusRun.NumHashes.toLong)

    // a "binary whose constants moved": tamper the recorded geometry so
    // the standing warehouse disagrees with this build's constants — the
    // next run must refuse BEFORE touching any zone, and the refusal
    // must land as the day's FAILED ledger row (the ops surface)
    graft.operators.Dedup.recordZoneGeometry(spark, s"$wh/corpus",
      graft.operators.Dedup.readZoneGeometry(spark, s"$wh/corpus"), Seq("num_hashes" -> 16L))
    val docsCensus = fileCensus(s"$wh/corpus/docs")
    val in2 = drop("d2", docs(Seq((10L, "iota kappa lambda mu nu xi omicron", "web"))))
    val e = intercept[IllegalArgumentException] {
      CorpusRun.run(spark, in2, wh, "2026-03-02 02:00:00")
    }
    assert(e.getMessage.contains("different geometry") &&
      e.getMessage.contains("num_hashes"), e.getMessage)
    assert(fileCensus(s"$wh/corpus/docs") == docsCensus,
      "a refused run must not have published docs")
    val lastRow = Zones.read(spark, s"$wh/control/corpus_log")
      .orderBy(col("id").desc).head()
    assert(lastRow.getAs[String]("status") == "FAILED" &&
      lastRow.getAs[String]("message").contains("different geometry"),
      s"the refusal must be a FAILED ledger row: $lastRow")

    // restore → the same day runs clean (the FAILED row does not gate)
    graft.operators.Dedup.recordZoneGeometry(spark, s"$wh/corpus",
      graft.operators.Dedup.readZoneGeometry(spark, s"$wh/corpus"), Seq("num_hashes" -> CorpusRun.NumHashes.toLong))
    assert(CorpusRun.run(spark, in2, wh, "2026-03-02 03:00:00") == "SUCCESS")

    // legacy warehouse (predates the side-meta): verifies vacuously and
    // is adopted by the next run
    Zones.delete(spark, metaDir)
    val in3 = drop("d3", docs(Seq((20L, "pi rho sigma tau upsilon phi chi", "web"))))
    assert(CorpusRun.run(spark, in3, wh, "2026-03-03 02:00:00") == "SUCCESS")
    assert(Zones.exists(spark, metaDir), "the next run must adopt a legacy warehouse")
  }
}

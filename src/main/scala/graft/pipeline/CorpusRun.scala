package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.control.RunLedger
import graft.operators.{Clustering, Curation, Dedup, Profiling, TextAnalysis}
import graft.sources.Zones

/** The daily TRAINING-CORPUS batch — the LLM-data analog of [[DailyRun]]:
  * one runnable job folding a day's document increment into persisted
  * corpus zones, where EVERY stage costs O(increment + indexes), never
  * O(corpus). This is the composition the incremental operators exist
  * for (d9 signature index, d12 cluster maintenance, st8 stats states):
  *
  *   gate (already ran today? → skip; RUNNING row → mutual exclusion)
  *   → quality suite (configurable named rules: token/alpha floors, C4
  *     word-length + blocklist heuristics, Gopher repetition signals —
  *     pure column ops; per-rule drop counts in the ledger)
  *   → exact dedup: within-increment dropDuplicates + anti-join against
  *     the corpus FINGERPRINT zone (only increment fingerprints computed)
  *   → near-dup: increment signatures vs the stored SIGNATURE INDEX
  *     (banded cross-batch + within-increment candidates — day-1 text is
  *     never re-shingled)
  *   → cluster maintenance: yesterday's star-compressed assignment ∪
  *     today's new pairs, O(log new-diameter) rounds
  *   → keep policy: cluster canonicals (min-id roots) + singletons
  *   → paragraph excision: paragraphs already seen on PRIOR days (or
  *     earlier today) are cut in place by span offsets against the
  *     persisted paragraph-fingerprint zone — boilerplate dies cross-day
  *     while the host doc survives; fully-boilerplate docs drop
  *   → survivors publish into the day's own corpus partition
  *   → stats zone merge (counts exact, KLL/HLL states; day-keyed replay
  *     guard rides inside the swap)
  *   → ledger SUCCESS row carrying the per-stage counts
  *
  * The day owns its partition in every zone: corpus docs, fingerprints,
  * and signatures are ingest_day-partitioned and published with
  * day-scoped dynamic partition overwrite, and every probe-side read
  * filters to PRIOR days. Closed days are never rewritten (CorpusRunSpec
  * pins this with a byte-identity census), and a day retried after a
  * partial failure is fully idempotent: it replaces its own leftovers,
  * cannot see its failed attempt's fingerprints/signatures as "prior
  * corpus", and the stats merge no-ops on the day-keyed high-water mark
  * if it already committed.
  *
  * Keep policy contract: a cluster's kept representative is its min-id
  * member at the time each member arrives. With ingest-monotonic doc ids
  * (the natural case) the kept set is stable; a later doc with a SMALLER
  * id than an existing root is kept alongside the earlier representative
  * (already-published corpus rows are never retracted).
  *
  * Usage: runMain graft.pipeline.CorpusRun <incrementDir> <warehouseDir> <runTs>
  *   incrementDir: parquet of the day's documents (doc_id, text, source[, …])
  *   runTs:        injected "now" (yyyy-MM-dd HH:mm:ss) — F11 determinism
  */
object CorpusRun {
  val ProcessName = "corpus_pipeline"

  /** Quality floor: documents shorter than this many whitespace tokens
    * (or mostly non-alphabetic) never enter the dedup stages.
    */
  val MinTokens = 5
  val MinAlphaRatio = 0.25

  /** One named quality rule: a document matching `drop` is rejected at
    * stage [1], attributed to `name` in the ledger message.
    */
  final case class QualityRule(name: String, drop: org.apache.spark.sql.Column)

  /** The default corpus-quality suite — the production form of the
    * engine's t6 (Gopher repetition / symbol signals) and t9 (C4
    * heuristics) operators, all pure column expressions (one codegen'd
    * scan, no shuffle). First matching rule wins the attribution.
    * Thresholds follow the published heuristics: C4 word-count and
    * mean-word-length bounds, C4 blocklist terms, Gopher duplicate-line
    * and duplicate-paragraph character mass, and a trigram-repetition
    * signal ([[graft.operators.TextAnalysis.dupFraction]] over all word
    * trigrams — the shuffle-free per-document form of t6's top-trigram
    * mass).
    */
  def defaultQualityRules: Seq[QualityRule] = {
    import graft.operators.TextAnalysis
    val text = col("text")
    Seq(
      // null text first: every other predicate evaluates NULL on a null
      // doc and would fall through the when() chain unattributed — the
      // doc must die HERE, not survive to be fingerprinted (md5 = null)
      QualityRule("null_text", text.isNull),
      // alpha_ratio BEFORE min_tokens: tokenCount counts [a-z0-9]+ runs,
      // so an all-symbol doc has tokenCount 0 AND alphaRatio 0 — the
      // symbol wall is the more specific diagnosis and wins attribution
      QualityRule("alpha_ratio", TextAnalysis.alphaRatio(text) < MinAlphaRatio),
      QualityRule("min_tokens", TextAnalysis.tokenCount(text) < MinTokens),
      QualityRule("max_tokens", TextAnalysis.tokenCount(text) > 100000),
      QualityRule("mean_word_len",
        !TextAnalysis.avgTokenLen(text).between(3.0, 10.0)),
      QualityRule("blocklist",
        lower(text).contains("javascript required") ||
          lower(text).contains("lorem ipsum") ||
          lower(text).contains("terms of use")),
      QualityRule("dup_lines", TextAnalysis.dupLineCharFraction(text) > 0.3),
      QualityRule("dup_paragraphs",
        TextAnalysis.dupParagraphCharFraction(text) > 0.3),
      QualityRule("dup_trigrams",
        TextAnalysis.dupFraction(TextAnalysis.wordNgramsAll(text, 3)) > 0.6))
  }

  /** MinHash geometry — shared with the d3/d9 gates: 3-gram shingles,
    * 32 hashes in 16 bands, confirm at Jaccard ≥ 0.6.
    */
  val ShingleN = 3
  val NumHashes = 32
  val Bands = 16
  val JaccardThreshold = 0.6

  /** Optional SEMANTIC dedup stage config (SemDeDup, arXiv:2303.09540 —
    * the e4/e5 operators run as a maintained daily stage): documents that
    * survive the near-dup keep policy and have a row in `embeddingsDir`
    * (parquet `(doc_id, <vecCol>)`) are judged against the standing
    * cluster-assignment zone; a doc within cosine `threshold` of any
    * PUBLISHED doc (or of a smaller-id doc in today's increment) drops.
    * Day 1 clusters the day's vectors with the deterministic k-means
    * batch form and seeds the zone; later days re-derive centroids from
    * the STORED assignment and embed only the increment (O(increment×k)
    * + cluster-keyed bounded joins — the corpus is never re-clustered).
    * Docs with no embedding row pass through unjudged.
    */
  final case class SemanticStage(
      embeddingsDir: String,
      vecCol: String = "embedding",
      k: Int = SemK,
      iters: Int = SemIters,
      threshold: Double = SemThreshold,
      // re-cluster lifecycle (the IndexRun.semStage protocol, wired into
      // the production zone): when mean occupancy Σn/k from the state
      // zone exceeds targetOccupancy × occupancyInflation, the index
      // re-clusters at k′ = ⌈N/targetOccupancy⌉ into the next version
      // with an atomic pointer flip. Without this, k is frozen at day 1
      // and per-cluster ε-ball work grows quadratically with the corpus.
      targetOccupancy: Int = IndexRun.SemTargetOccupancy,
      occupancyInflation: Double = IndexRun.SemOccupancyInflation)

  /** SemDeDup defaults: k sized so E[cluster] stays ~10⁴ at corpus scale
    * (scale k with the corpus, as the paper does); 2 Lloyd rounds —
    * SemDeDup is robust to coarse clustering, the rounds only confine
    * the quadratic; 0.95 cosine ≈ the paper's aggressive-but-safe ε.
    */
  val SemK = 64
  val SemIters = 2
  val SemThreshold = 0.95

  /** Retention: day partitions stay day-granular this long; once a whole
    * MONTH falls beyond the horizon it is folded (probe zones) or
    * file-compacted (docs). Two months keeps any retry/backfill window
    * day-addressable.
    */
  val RetentionKeepDays = 62

  /** A closed docs day-dir with more parquet files than this is eligible
    * for file compaction; compacted dirs fall under it and are skipped on
    * later runs, so the maintenance is naturally once per closed day.
    */
  val MaxFilesPerClosedDay = 4

  def main(args: Array[String]): Unit = {
    val Array(incrementDir, whDir, runTs) = args.take(3)
    // optional 4th arg: the day's embeddings parquet (doc_id, embedding)
    // — enables the semantic dedup stage with the default geometry
    val semantic = args.lift(3).map(SemanticStage(_))
    val spark = Sessions
      .builder("graft-corpus", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val outcome = run(spark, incrementDir, whDir, runTs, semantic = semantic)
    println(s"""{"pipeline":"$ProcessName","outcome":"$outcome"}""")
    spark.stop()
  }

  /** Returns "SKIPPED" (gate) or "SUCCESS"; rethrows after recording a
    * FAILED ledger row if any stage fails. `qualityRules` configures the
    * stage-[1] filter suite (default: [[defaultQualityRules]]).
    */
  def run(
      spark: SparkSession,
      incrementDir: String,
      whDir: String,
      runTs: String,
      qualityRules: Seq[QualityRule] = defaultQualityRules,
      semantic: Option[SemanticStage] = None): String = {
    val ledgerPath = s"$whDir/control/corpus_log"
    RunLedger.guarded(spark, ledgerPath, ProcessName, runTs) {
      runStages(spark, incrementDir, whDir, runTs, runTs.substring(0, 10), ledgerPath,
        qualityRules, semantic)
    }
  }

  /** The per-day publish ([[Zones.replacePartitions]] on `ingest_day`)
    * that ENFORCES the day's ownership of its partition even when the
    * day's result is EMPTY: dynamic overwrite of an empty
    * frame rewrites nothing, so a retry whose result shrank to zero rows
    * (feed replaced, files quarantined on attempt 1) would leave the
    * failed attempt's non-empty leftovers published under a 'published 0'
    * ledger row. Empty result → the day's partition dir is deleted
    * outright.
    */
  private def dayOwnedOverwrite(
      spark: SparkSession, df: DataFrame, path: String, runDate: String): Unit =
    if (df.isEmpty) {
      val dir = s"$path/ingest_day=$runDate"
      if (Zones.exists(spark, dir)) {
        Zones.delete(spark, dir)
        spark.catalog.refreshByPath(path)
      }
    } else Zones.replacePartitions(df, path, Seq("ingest_day"))

  private def runStages(
      spark: SparkSession,
      incrementDir: String,
      whDir: String,
      runTs: String,
      runDate: String,
      ledgerPath: String,
      qualityRules: Seq[QualityRule],
      semantic: Option[SemanticStage]): String = {
    val docsPath = s"$whDir/corpus/docs"
    val fpPath = s"$whDir/corpus/fingerprints"
    val sigPath = s"$whDir/corpus/sig_index"
    val clustersPath = s"$whDir/corpus/clusters"
    val paraFpPath = s"$whDir/corpus/para_fp"
    val statsPath = s"$whDir/corpus/stats"

    // MinHash geometry guard — the raw-zone writers' discipline
    // ([[Dedup.guardZoneGeometry]]) applied to the warehouse's own sig
    // zones, which this pipeline writes directly: the standing signatures
    // and band counts are joinable across days ONLY under one
    // (ShingleN, NumHashes, Bands); a binary whose constants moved would
    // append keys from a different hash function and every cross-day
    // probe would silently under-match — no per-day gate can see it.
    // Thresholds and quality rules are POLICY (legitimately evolvable
    // mid-corpus) and deliberately not pinned. A pre-guard warehouse
    // verifies vacuously and is adopted; the refusal lands as this run's
    // FAILED ledger row (the ops surface).
    val geometry = Seq(
      "shingle_n" -> ShingleN.toLong, "num_hashes" -> NumHashes.toLong,
      "bands" -> Bands.toLong)
    val stored = Dedup.readZoneGeometry(spark, s"$whDir/corpus")
    Dedup.guardZoneGeometry(s"$whDir/corpus", stored, geometry, subject = "corpus warehouse")
    Dedup.recordZoneGeometry(spark, s"$whDir/corpus", stored, geometry)

    // A day whose MONTH has already been folded cannot be (re)run: its
    // prior-days probe filter (`ingest_day < runDate`) would admit the
    // whole month partition — including sibling days AFTER this date —
    // so the retry would see future state and drop docs/paragraphs the
    // pre-fold semantics would have published. Day-level identity is
    // gone from a folded partition, so this is unrecoverable — fail
    // loudly instead of silently changing the retry's output. Forward
    // operation never hits this (folding waits RetentionKeepDays);
    // only a months-late retry/backfill can.
    // Complete any CRASHED FOLD before any probe zone is read: a crash
    // between a fold's month-overwrite and its day-dir deletes leaves a
    // day's rows present TWICE (day dir ∪ month partition). The probe
    // joins tolerate that (anti/semi/distinct; sig_counts merely
    // over-engages the defense) but the SEMANTIC STATE zone does not —
    // doubled decimal sums would silently shift every derived centroid —
    // so the recovery that compactZones would run at END of day runs
    // here first, converging the layout before anything reads it.
    // The semantic index is VERSIONED (corpus/sem_index/v<N>/{assign,
    // state,meta} + CURRENT pointer — the IndexRun protocol): an
    // occupancy-tripped re-cluster relabels the full assignment at grown
    // k′ into the next version and flips the pointer atomically, so
    // centroids, labels and state can never mix geometries. All the
    // day-zone disciplines (prior-days probe filter, day-owned retry
    // overwrite, monthly folds, fold-crash recovery) apply to the LIVE
    // version's assign/state dirs.
    val semBase = s"$whDir/corpus/sem_index"
    require(!Zones.exists(spark, s"$whDir/corpus/sem_assign"),
      s"pre-versioned semantic zone layout found at $whDir/corpus/sem_assign — " +
        "this build stores the semantic index versioned under corpus/sem_index " +
        "(occupancy-tripped re-clustering); move the zone to " +
        "corpus/sem_index/v1/{assign,state} with a meta row, or rebuild the " +
        "warehouse, before re-running")
    val semLive = IndexRun.resolveCurrent(spark, semBase, "meta/_SUCCESS")
    val semZoneDirs = semLive.toSeq.flatMap(lv => Seq(s"$lv/assign", s"$lv/state"))

    (Seq(fpPath, sigPath, s"$whDir/corpus/sig_counts", paraFpPath) ++ semZoneDirs)
      .foreach(recoverFold(spark, _))

    val runMonth = runDate.substring(0, 7)
    (Seq(fpPath, sigPath, paraFpPath) ++ semZoneDirs).foreach { p =>
      require(!listIngestDays(spark, p).contains(runMonth),
        s"corpus day $runDate cannot be (re)run: month $runMonth is already " +
          s"folded in $p — day-level prior-days semantics are unrecoverable " +
          "after the fold (re-run before compaction's retention horizon, or " +
          "rebuild the zone day-granular first)")
    }

    // [1] increment + quality suite. Corrupt files quarantine, not kill
    // (the DailyRun policy); the loss is surfaced in the ledger message.
    // Each doc is attributed to its FIRST matching drop rule (one
    // codegen'd scan — the rules are pure column predicates); per-rule
    // counts ride into the ledger. The rule-count collect is bounded by
    // the rule-set size, not the data.
    val (rawInc, quarantined) = Zones.readRobust(spark, incrementDir)
    val raw = rawInc.cache()
    val nInput = raw.count()
    // doc_id is the identity every stage keys on (windows, joins, span
    // offsets): a feed emitting one id twice with DIFFERENT texts would
    // interleave both texts' paragraphs under tied para_idx values and
    // publish garbled excisions with no error — fail loudly instead
    // (same-text duplicates are legitimate and collapse in exact dedup)
    val dupIds = raw.groupBy("doc_id").agg(countDistinct(col("text")).as("__nt"))
      .filter(col("__nt") > 1).select("doc_id").limit(3)
      .collect().map(_.get(0))
    require(dupIds.isEmpty,
      s"increment at $incrementDir carries doc_id(s) ${dupIds.mkString(", ")} " +
        "more than once with differing text — an identity violation no stage " +
        "can interpret; fix the feed (or re-key it) and retry the day")
    val dropRule = qualityRules.foldRight(lit(null).cast("string")) {
      (r, acc) => when(r.drop, lit(r.name)).otherwise(acc)
    }
    val flagged = raw.withColumn("__drop_rule", dropRule).cache()
    val ruleCounts: Seq[(String, Long)] = flagged
      .filter(col("__drop_rule").isNotNull)
      .groupBy("__drop_rule").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortBy(-_._2)
    val quality = flagged.filter(col("__drop_rule").isNull).drop("__drop_rule").cache()
    val nQuality = quality.count()

    // Prior-days probe discipline, shared by every zone probe below:
    // PRIOR days only (a retried day must not see its own failed
    // attempt's partitions) AND SUCCESS days only — a day that FAILED
    // after publishing probe partitions (crash in a later stage)
    // published nothing to the corpus, so its signatures/fingerprints
    // must not drop later days' docs: the probe zones stand for the
    // PUBLISHED corpus. Month partitions (folded) are admissible
    // unconditionally — compactZones folds SUCCESS days only. The
    // admissible set is enumerated driver-side from the partition
    // listing, so the probe filter is a literal isin: exact static
    // partition pruning, no runtime cast games. Read once per run: no
    // stage writes the ledger, and stage [7]'s fold reuses the set.
    val successDays: Set[String] = RunLedger.read(spark, ledgerPath)
      .filter(col("process_name") === ProcessName && col("status") === "SUCCESS")
      .select(substring(col("start_time").cast("string"), 1, 10).as("d"))
      .distinct().collect().map(_.getString(0)).toSet
    def publishedPriorFilter(path: String): Column = {
      val admissible = listIngestDays(spark, path)
        .filter(v => v < runDate && (v.length == 7 || successDays.contains(v)))
      if (admissible.isEmpty) lit(false)
      else col("ingest_day").isin(admissible: _*)
    }

    // [2] exact dedup: first-wins within the increment, then anti-join
    // the corpus fingerprint zone — only the increment hashes; the zone
    // is probe-side state, not recomputed. The anti-join runs INVERTED
    // (ZoneProbes.zoneAntiJoin): the standing zone scans once against
    // the broadcast increment fingerprints and never enters an exchange
    // — the daily cost is one zone scan + an increment-sized join, not
    // an O(corpus) shuffle.
    val printed = quality
      .withColumn("fp", TextAnalysis.fingerprintMd5(col("text")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn") === 1).drop("rn")
    val exactSurvivors =
      (if (Zones.exists(spark, fpPath))
        graft.operators.ZoneProbes.zoneAntiJoin(
          printed,
          Zones.read(spark, fpPath).filter(publishedPriorFilter(fpPath)).select("fp"),
          Seq("fp"), nQuality)
      else printed).cache()
    val nExact = exactSurvivors.count()

    // [3] near-dup pairs against the PRIOR-days signature index — the
    // day-partition filter makes this immune to a failed attempt's
    // leftovers AND to the grown-index lazy-read race (the appended day
    // is outside the filtered view by construction). Day-1 text is never
    // re-shingled on later days; the increment's signatures are computed
    // once here and day-scope-overwritten into the index.
    val daySigs = Dedup.signatureIndex(
      exactSurvivors, "doc_id", "text", ShingleN, NumHashes)
      .localCheckpoint()
    val prior =
      if (Zones.exists(spark, sigPath))
        Dedup.readSignatureIndex(spark, sigPath)
          .filter(publishedPriorFilter(sigPath))
          .drop("ingest_day")
      else daySigs.limit(0)
    // the day-partitioned bucket-counts zone feeds the sig-health ledger
    // note below (the pair probe counts its own prefiltered survivors).
    val sigCountsPath = s"$whDir/corpus/sig_counts"
    // seed/repair FIRST: every sig partition needs a counts partition, or
    // the summed report undercounts exactly the historical megabuckets it
    // exists to surface (a corpus predating the counts zone, or a crash
    // between the sig and counts publishes) — partial counts are
    // indistinguishable from complete ones at read time. One banding pass
    // over just the missing partitions.
    if (Zones.exists(spark, sigPath)) {
      // COVERAGE-aware missing set, not a bare partition-name diff: a
      // sig MONTH whose counts zone still holds that month's DAY
      // partitions (the crash window between the sig fold and the counts
      // fold) is fully covered at finer grain — re-seeding a month
      // partition beside those days would make every health sum count the
      // month 2×, permanently (the ordinary counts fold later converges
      // the granularity on its own). Likewise a sig DAY whose counts
      // month already exists is covered inside the fold. Residual gap
      // (accepted, needs a double crash): a folded sig month missing
      // SOME days' counts stays under-counted for those days — day
      // identity is gone from the folded rows, so an exact repair is
      // impossible; undercounting only de-tunes the health report,
      // never the pairs.
      val sigDays = listIngestDays(spark, sigPath).toSet - runDate
      val cntDays = listIngestDays(spark, sigCountsPath).toSet
      val missing = sigDays.filter {
        case d if d.length == 10 =>
          !cntDays.contains(d) && !cntDays.contains(d.substring(0, 7))
        case m =>
          !cntDays.contains(m) &&
            !cntDays.exists(d => d.length == 10 && d.startsWith(m))
      }.toSeq
      if (missing.nonEmpty)
        Zones.replacePartitions(
          Dedup.signatureBucketCountsBy(
            Dedup.readSignatureIndex(spark, sigPath)
              .withColumn("ingest_day", col("ingest_day").cast("string"))
              .filter(col("ingest_day").isin(missing: _*)),
            NumHashes, Bands, "ingest_day"),
          sigCountsPath, Seq("ingest_day"))
    }
    val newPairs =
      (if (prior.isEmpty)
        Dedup.minhashLshPairsFromIndex(daySigs, NumHashes, Bands, JaccardThreshold)
      else
        // daySigs IS the increment's signature index — handing it over
        // directly means the day's text is shingled + hashed exactly once
        // (computed above for the zone publish, reused for the pair stage)
        Dedup.minhashLshPairsIncrementalFromSigs(
          prior, daySigs, NumHashes, Bands, JaccardThreshold))
        .localCheckpoint()
    dayOwnedOverwrite(
      spark, daySigs.withColumn("ingest_day", lit(runDate)), sigPath, runDate)
    dayOwnedOverwrite(
      spark,
      Dedup.signatureBucketCounts(daySigs, NumHashes, Bands)
        .withColumn("ingest_day", lit(runDate)), sigCountsPath, runDate)
    // the MinHash zone's drift signal, logged per run (Dedup.
    // minhashZoneHealth for why concentration — not recall — is what
    // drifts here, and why the policy is monitor+bounded-join, never a
    // re-seed rebuild): one agg over the kilobyte counts zone, summed
    // across days so the report covers the standing index incl. today.
    // guarded: a day-1 increment that is ENTIRELY quality-dropped never
    // creates the counts zone (dynamic overwrite of an empty frame is a
    // no-op), and an unguarded read would fail schema inference — the
    // run must SUCCEED reporting 0 published, not crash forever on a
    // junk feed
    val sigHealthNote =
      if (!Zones.exists(spark, sigCountsPath)) "sig-health[empty zone], "
      else {
        val h = Dedup.minhashZoneHealth(
          Zones.read(spark, sigCountsPath)
            .groupBy("band", "key").agg(sum("__n").as("__n")),
          Bands).head()
        f"sig-health[buckets ${h.getAs[Long]("n_buckets")}, " +
          f"max ${h.getAs[Long]("max_bucket")} (${h.getAs[Double]("skew_vs_mean")}%.2fx mean), " +
          f"oversized ${h.getAs[Long]("oversized_buckets")}], "
      }

    // [4] cluster maintenance: star edges ∪ new pairs — never the old
    // pair set. The assignment zone is small (pair-involved docs only)
    // and swaps atomically; a day with no new pairs leaves it untouched
    // (pointer jumping needs ≥1 edge — and an unchanged closure needs no
    // rewrite).
    if (!newPairs.isEmpty) {
      val assignment =
        if (Zones.exists(spark, clustersPath)) {
          // zone row count = the pruning engagement signal (a footer-
          // metadata job, not a data scan); small zones ride the star
          // relabel, large ones the affected-component path
          val zone = Zones.read(spark, clustersPath)
            .select("id", "cluster_id", "cluster_size", "is_canonical")
          Curation.dupClustersIncremental(
            zone, newPairs, "id_a", "id_b", assignmentRows = Some(zone.count()))
        } else Curation.dupClusters(newPairs, "id_a", "id_b")
      Zones.overwriteSwap(assignment, clustersPath)
    }

    // [5] keep policy + publish: survivors whose cluster representative
    // is someone else are dropped; canonicals and singletons append to
    // the day-partitioned corpus zone, fingerprints to the probe zone.
    val dropped =
      if (Zones.exists(spark, clustersPath))
        Zones.read(spark, clustersPath)
          .filter(!col("is_canonical")).select(col("id").as("doc_id"))
      else exactSurvivors.select("doc_id").limit(0)
    // localCheckpoint, NOT cache: the fingerprint publish below triggers
    // recacheByPath on every cached plan reading the fp zone — a cached
    // `kept` would re-execute its anti-join against the GROWN zone and
    // silently become empty for the stats merge. Checkpointing severs
    // the lineage so `kept` is immutable data from here on.
    val kept = exactSurvivors
      .join(dropped, Seq("doc_id"), "left_anti")
      .withColumn("ingest_day", lit(runDate))
      .localCheckpoint()
    val nKept = kept.count()

    // [5s] SEMANTIC dedup stage (optional; SemDeDup as a maintained
    // daily stage — the e4/e5 operators in production): near-dup
    // survivors with an embedding are judged against the standing
    // assignment zone. Day 1 (or an empty prior view — a day-1 retry)
    // BUILDS the zone with the batch form; later days rebuild centroids
    // decimal-exactly from the STORED prior-days assignment and embed
    // only the increment. Only KEPT rows enter the zone: the index IS
    // the published corpus, so a new doc is never dropped for matching
    // an already-dropped duplicate (its kept representative is in the
    // zone, within 2ε by the ball rule — the e5 contract). The zone is
    // day-partitioned under the same prior-days/retry discipline as
    // every probe zone, and folds monthly with them.
    val (semKept, nSemKept, semNote, semZoneWrite) = semantic match {
      case None => (kept, nKept, "", (_: DataFrame) => "")
      case Some(cfg) =>
        // single-writer lifecycle upkeep (the IndexRun discipline): heal
        // a pointer lost in a crashed flip, reclaim retired versions and
        // crashed never-flipped re-cluster builds — the retired live
        // version of a flip survived exactly one run-cycle as the
        // daytime readers' grace copy
        semLive.foreach { lv =>
          IndexRun.repairPointer(spark, semBase, lv)
          IndexRun.sweepRetired(spark, semBase, lv)
        }
        val semAssignPath = semLive.map(lv => s"$lv/assign")
        val semStatePath = semLive.map(lv => s"$lv/state")
        // checkpoint: read by the assignment AND the zone-publish join,
        // and must not re-execute against mutated zones
        val vecs = spark.read.parquet(cfg.embeddingsDir)
          .select(col("doc_id"), col(cfg.vecCol).cast("array<double>").as("v"))
          .join(kept.select("doc_id"), Seq("doc_id"))
          .localCheckpoint()
        val prior = semAssignPath match {
          case Some(ap) if Zones.exists(spark, ap) =>
            Zones.read(spark, ap)
              .filter(publishedPriorFilter(ap))
              .select("id", "cluster", "v")
          case _ =>
            vecs.select(col("doc_id").as("id"), lit(0L).as("cluster"), col("v")).limit(0)
        }
        // the day's vector dimension (0 when the day carries no vectors —
        // every consumer below is then empty too)
        val semDim = vecs.select(size(col("v"))).limit(1).collect()
          .headOption.map(_.getInt(0)).getOrElse(0)
        // a wrong-dimension increment must refuse loudly (the semStage
        // contract): zip_with over mismatched arrays silently truncates,
        // so every distance below would be garbage, not an error
        semLive.foreach { lv =>
          val idxDim = spark.read.parquet(s"$lv/meta").head().getAs[Int]("dim")
          require(semDim == 0 || semDim == idxDim,
            s"semantic index at $lv holds $idxDim-dim vectors; the increment " +
              s"is $semDim-dim — rebuild the index, don't mix geometries")
        }
        // CENTROID STATE repair/seed: every assign partition needs a
        // state partition, or the summed prior state undercounts and
        // the derived centroids silently diverge from the stored
        // assignment (a crash between the assignment and state
        // publishes — the day then shows FAILED and is excluded, but a
        // backfilled SUCCESS day could still lag). Coverage-aware
        // day/month logic as the sig_counts repair; one state
        // aggregation over just the missing partitions.
        (semAssignPath, semStatePath) match {
          case (Some(ap), Some(sp)) if Zones.exists(spark, ap) =>
            val semDays = listIngestDays(spark, ap).toSet - runDate
            val stDays = listIngestDays(spark, sp).toSet
            val missing = semDays.filter {
              case d if d.length == 10 =>
                !stDays.contains(d) && !stDays.contains(d.substring(0, 7))
              case m =>
                !stDays.contains(m) &&
                  !stDays.exists(d => d.length == 10 && d.startsWith(m))
            }.toSeq
            if (missing.nonEmpty) {
              val zoneRows = Zones.read(spark, ap)
                .withColumn("ingest_day", col("ingest_day").cast("string"))
                .filter(col("ingest_day").isin(missing: _*))
              val zoneDim = zoneRows.select(size(col("v"))).limit(1).collect()
                .headOption.map(_.getInt(0)).getOrElse(semDim)
              Zones.replacePartitions(
                Clustering.centroidState(
                  zoneRows, "v", "cluster", zoneDim, carryCols = Seq("ingest_day")),
                sp, Seq("ingest_day"))
            }
          case _ => ()
        }
        // BACKFILL GUARD: `prior` is empty not only on a true day-1 retry
        // but also when re-running the chronologically EARLIEST day while
        // later SUCCESS days already live in the version
        // (publishedPriorFilter admits ingest_day < runDate only).
        // Rebuilding the version in place then would destroy every later
        // day's assignment AND the frozen geometry — future semantic
        // duplicates of already-published later-day docs would silently
        // publish. So the destructive rebuild is allowed only when the
        // live version holds NO other day's rows (day partitions or month
        // folds); otherwise the day appends non-destructively under the
        // frozen geometry — with no admitted prior day nothing cross-day
        // drops, which is exactly the backfill semantics.
        val liveOtherDays = semAssignPath.exists(ap =>
          Zones.exists(spark, ap) && listIngestDays(spark, ap).exists(_ != runDate))
        val appendMode = semLive.isDefined && (liveOtherDays || !prior.isEmpty)
        // prior centroids are the live version's FROZEN geometry artifact
        // (k rows written at build/re-cluster time — the cheapest possible
        // daily read). Frozen-per-version is a CORRECTNESS property, not
        // just a cost one: every zone label is argmin over exactly these
        // centroids (build and re-cluster RELABEL under them; daily
        // appends assign against them), so an increment vector identical
        // to a stored representative provably lands in its cluster. A
        // drifting geometry (e.g. centroids re-derived daily from the
        // mergeable state — means of the current assignment, one Lloyd
        // step ahead of the labels) breaks that: near the moved boundary
        // a twin assigns to a different cluster than its representative
        // and silently publishes (observed at sf0.1: 18 of 133 planted
        // semantic dups escaped). The state zone remains the occupancy
        // signal; geometry refresh is the re-cluster's job.
        val priorCents =
          if (!appendMode) None
          else {
            val cPath = s"${semLive.get}/centroids"
            require(Zones.exists(spark, cPath),
              s"semantic index at ${semLive.get} predates the frozen-geometry " +
                "layout (no centroids artifact) — trigger a re-cluster or " +
                "rebuild the version to materialize its geometry before appending")
            Some(spark.read.parquet(cPath))
          }
        val assignment =
          (if (!appendMode)
            Dedup.semanticDedup(vecs, "doc_id", "v", cfg.k, cfg.iters, cfg.threshold)
          else
            Dedup.semanticDedupIncremental(prior, vecs, "doc_id", "v", cfg.threshold,
              centroidsOpt = priorCents))
            .localCheckpoint() // sever lineage before the zone write below
        // the zone write is DEFERRED until the published set is known
        // (after paragraph excision): a sem-kept doc whose every
        // paragraph is later excised never reaches the corpus, and a
        // representative that is not in the published corpus must not
        // drop future docs — "the index IS the published corpus" holds
        // only if the zone is restricted to published ids.
        //
        // KNOWN bounded edge (adjudicated, not fixed): a doc sem-dropped
        // for a SAME-DAY smaller-id sibling that excision then fully
        // removes has no published representative — its content is lost
        // for this day (a future duplicate will publish). The converse
        // ordering (excise first, judge semantic after) recreates the
        // same hole one level down: paragraph fps of docs semantic then
        // drops would stand as unpublished paragraph representatives.
        // The two stages' joint fixpoint is order-dependent by
        // construction; this order confines the loss to the same-day
        // (boilerplate-rep, semantic-dup) coincidence, which requires
        // the pair to be within ε while only ONE of them is fully prior
        // boilerplate.
        // version materialization + occupancy-tripped re-cluster are the
        // SHARED lifecycle ([[SemVersions]] — frozen geometry, realized
        // meta k, meta-last completeness marker, k′ = ⌈N/target⌉ relabel
        // with ingest_day preserved row-for-row, atomic pointer flip);
        // this stage owns only the ledger text
        def reclusterIfTripped(lv: String): String =
          SemVersions.reclusterIfTripped(
            spark, semBase, lv,
            cfg.targetOccupancy, cfg.occupancyInflation, cfg.iters) match {
            case None => ""
            case Some((occupancy, k, kNew, _, nextV)) =>
              f" SEM-INDEX re-clustered $nextV: k $k%d→$kNew%d " +
                f"(occupancy $occupancy%.1f > ${cfg.targetOccupancy * cfg.occupancyInflation}%.1f)."
          }
        val write = (published: DataFrame) => {
          // checkpoint: consumed by BOTH zone writes, and the second must
          // not re-execute the join against the just-mutated sem zone
          val dayRows = assignment.filter(col("is_kept"))
            .select(col("doc_id").as("id"), col("cluster"))
            .join(vecs.select(col("doc_id").as("id"), col("v")), Seq("id"))
            .join(published.select(col("doc_id").as("id")), Seq("id"), "left_semi")
            .withColumn("ingest_day", lit(runDate))
            .localCheckpoint()
          val lifecycleNote = semLive match {
            case None =>
              // first index build: v1 from today's rows (nothing yet →
              // stay zone-less: the index appears with its first vectors)
              if (dayRows.isEmpty) ""
              else {
                val v1 = s"$semBase/v1"
                SemVersions.materializeVersion(
                  spark, v1, dayRows, semDim, cfg.targetOccupancy)
                IndexRun.writePointer(spark, semBase, "v1")
                reclusterIfTripped(v1)
              }
            case Some(lv) if !appendMode =>
              // DAY-1 RETRY: the live version's only content is this
              // day's failed attempt (no SUCCESS prior day admits any of
              // it, and the version holds no other day's partitions —
              // the backfill guard above routes earliest-day re-runs
              // with later days present to the append arm instead).
              // Rebuild the version in place from the retried batch
              // assignment — there are no other days to preserve, and
              // the pointer already names it.
              val fs = new org.apache.hadoop.fs.Path(semBase)
                .getFileSystem(spark.sessionState.newHadoopConf())
              fs.delete(new org.apache.hadoop.fs.Path(lv), true)
              // retried day shrank to zero vectors: no complete version
              // remains, so resolveCurrent is None again (the dangling
              // pointer never resolves past its completeness filter)
              if (dayRows.isEmpty) ""
              else {
                SemVersions.materializeVersion(
                  spark, lv, dayRows, semDim, cfg.targetOccupancy)
                IndexRun.repairPointer(spark, semBase, lv)
                reclusterIfTripped(lv)
              }
            case Some(lv) =>
              // the day's assignment + centroid-state partitions ride
              // together in the live version (same day ownership, same
              // retry discipline, same SUCCESS-days fold eligibility):
              // tomorrow's centroids come from summing the k-row states,
              // never from re-aggregating the corpus
              dayOwnedOverwrite(spark, dayRows, s"$lv/assign", runDate)
              dayOwnedOverwrite(
                spark,
                Clustering.centroidState(dayRows, "v", "cluster", semDim)
                  .withColumn("ingest_day", lit(runDate)),
                s"$lv/state", runDate)
              reclusterIfTripped(lv)
          }
          // standing health fragment — the sig-health pattern for the
          // semantic index: version, k, corpus size and occupancy vs the
          // trip bar ride every run's ledger row (two kilobyte reads),
          // so an operator sees the re-cluster coming days out instead
          // of discovering it in a slow run. Resolved fresh: today may
          // have just flipped the pointer.
          val healthNote =
            IndexRun.resolveCurrent(spark, semBase, "meta/_SUCCESS") match {
              case None => ""
              case Some(lv2) =>
                val m = spark.read.parquet(s"$lv2/meta").head()
                val k = m.getAs[Int]("k")
                val n = spark.read.parquet(s"$lv2/state")
                  .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
                val occ = if (k > 0) n.toDouble / k else 0.0
                f" sem-index[${lv2.split('/').last}%s k=$k%d n=$n%d " +
                  f"occ $occ%.1f/${cfg.targetOccupancy * cfg.occupancyInflation}%.1f]."
            }
          lifecycleNote + healthNote
        }
        val sk = kept
          .join(
            assignment.filter(!col("is_kept")).select("doc_id"),
            Seq("doc_id"), "left_anti")
          .localCheckpoint()
        val n = sk.count()
        (sk, n, s"sem-dup-dropped ${nKept - n}, ", write)
    }

    // [5b] cross-day paragraph excision: a paragraph already seen on any
    // PRIOR day (boilerplate — nav chrome, license footers, newsletter
    // banners) or earlier today is cut IN PLACE by span offsets; the doc
    // survives with its unique text. The probe side is the persisted
    // day-partitioned paragraph-fingerprint zone under the same prior-days
    // filter discipline as the doc fingerprints: a retried day cannot see
    // its failed attempt's fingerprints. Docs whose every paragraph is
    // boilerplate drop entirely (counted separately in the ledger).
    val priorPfp =
      if (Zones.exists(spark, paraFpPath))
        Zones.read(spark, paraFpPath).filter(publishedPriorFilter(paraFpPath)).select("pfp")
      else semKept.select(md5(col("text")).as("pfp")).limit(0)
    val spans = TextAnalysis.paragraphDedupSpansIncremental(semKept, "doc_id", "text", priorPfp)
      .localCheckpoint()
    val (nParas, nParasKept) = {
      val r = spans.agg(
        count(lit(1)),
        sum(when(col("kept"), 1L).otherwise(0L))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // published text = the span-excised reassembly (exciseParagraphs cuts
    // by offsets, never re-splits); localCheckpoint severs lineage before
    // the zone writes below, same reason as `kept`
    val published = semKept
      .join(
        TextAnalysis.exciseParagraphs(semKept, "doc_id", "text", spans)
          .filter(col("n_kept") > 0).select(col("doc_id"), col("text_kept")),
        Seq("doc_id"))
      .withColumn("text", col("text_kept")).drop("text_kept")
      .localCheckpoint()
    val nPublished = published.count()
    // semantic zone publish, now that the published set is final (only
    // published ids may stand as future semantic representatives);
    // returns the index-lifecycle note (build / re-cluster) for the ledger
    val semIndexNote = semZoneWrite(published)

    // day-scoped dynamic partition overwrite, NOT append: the day owns
    // its partition in every zone, so a retry after a partial failure
    // replaces its own leftovers instead of double-publishing
    dayOwnedOverwrite(spark, published.drop("fp"), docsPath, runDate)
    dayOwnedOverwrite(
      spark,
      exactSurvivors.select("fp").withColumn("ingest_day", lit(runDate)), fpPath, runDate)
    // only fingerprints NEW to the corpus (kept verdicts) publish: an
    // excised paragraph's fp is by definition already in a prior-day
    // partition (cross-day cut) or carried by today's kept first
    // occurrence (within-day cut), so the probe union stays complete
    // while the zone holds ONE row per distinct fp ever seen — not one
    // per day a boilerplate paragraph reappears
    dayOwnedOverwrite(
      spark,
      spans.filter(col("kept")).select("pfp").distinct()
        .withColumn("ingest_day", lit(runDate)), paraFpPath, runDate)

    // [6] standing statistics over what was PUBLISHED: counts exact,
    // quantile/distinct states mergeable; the day-keyed replay guard
    // commits inside the same swap as the states. The guard is the
    // exact-replay SET, so a backfill of an earlier day merges; false
    // here means THIS day's id already committed — expected only on a
    // retry after a crash between the stats swap and the ledger SUCCESS
    // row, and surfaced in the ledger message rather than dropped.
    val statsMerged = Profiling.mergeStatsIncrement(
      spark, published, statsPath,
      epochExpr = "substring(ingest_day, 1, 7)",
      groupExpr = "source",
      valueExpr = "cast(length(text) as double)",
      keyExpr = "doc_id",
      batchId = Some(java.time.LocalDate.parse(runDate).toEpochDay))

    // [6b] nightly JOIN-KEY skew profile of the published rows' `source`
    // — the key every downstream composition job (mix/budget/packing,
    // source-keyed joins) streams by. This is the PRODUCER half of
    // SkewJoin.autoJoin's measure-don't-guess loop: tomorrow's consumers
    // read the standing row ([[latestSkewReport]]) and hand it to
    // autoJoin's `report` parameter, which then runs NO counting pass of
    // its own (PlanAuditSpec pins that contract with a poisoned frame).
    // One partial-aggregated pass over the day's published rows, ≤11
    // rows collected; the zone is kilobyte-scale and day-owned like
    // every other probe zone.
    dayOwnedOverwrite(
      spark,
      Profiling.skewReport(published, "source").withColumn("ingest_day", lit(runDate)),
      s"$whDir/corpus/skew_profile", runDate)

    val ruleBreakdown =
      if (ruleCounts.isEmpty) ""
      else ruleCounts.map { case (r, n) => s"$r=$n" }.mkString(" (", ", ", ")")
    val message =
      s"Corpus day $runDate: input $nInput, quality-dropped ${nInput - nQuality}$ruleBreakdown, " +
        s"exact-dup-dropped ${nQuality - nExact}, near-dup-dropped ${nExact - nKept}, " +
        sigHealthNote + semNote +
        s"para-excised ${nParas - nParasKept} of $nParas paragraph(s), " +
        s"fully-excised-docs ${nSemKept - nPublished}, published $nPublished." +
        semIndexNote +
        (if (statsMerged) "" else " STATS merge no-op (day already applied — retry).") + (
        if (quarantined.isEmpty) ""
        else s" QUARANTINED ${quarantined.size} corrupt file(s) to " +
          s"${Zones.quarantineDir(incrementDir)}.")
    raw.unpersist(); flagged.unpersist(); quality.unpersist(); exactSurvivors.unpersist()

    // [7] retention/compaction: without this the day-partitioned zones
    // accrete one file-set per day FOREVER — after a year every probe
    // read lists 365 directories of shuffle-partition-many small files
    // and the scan is task-scheduling-bound. Amortized monthly: no-op on
    // most days, folds/compacts exactly once when a month closes. Only
    // SUCCESS days fold: a failed attempt's partitions stay day-granular
    // so its retry still owns and replaces them instead of anti-joining
    // against its own failed fingerprints hidden inside a month
    // partition. The retry window is bounded, not open-ended: once ANY
    // sibling SUCCESS day of the failed day's month folds, the
    // folded-month guard in runStages refuses the retry loudly (a
    // post-fold retry would admit future siblings as prior days).
    val compacted = compactZones(spark, whDir, runDate, foldEligible = successDays)
    message + (if (compacted.isEmpty) "" else s" COMPACTED: $compacted")
  }

  /** Zone retention/compaction lifecycle — returns a human summary of
    * what moved ("" = no-op).
    *
    * PROBE zones (fingerprints, sig_index, para_fp): day partitions of
    * months wholly older than `keepDays` FOLD into one month partition
    * (`ingest_day=2026-02`). The month string sorts lexicographically
    * BELOW every one of its days and below any later date, so the
    * probe-side `ingest_day < runDate` prior-days filters are unaffected;
    * these zones carry control metadata only, so coarsening the partition
    * value loses nothing. `foldEligible` excludes days that must stay
    * day-addressable — the production caller passes the ledger's SUCCESS
    * days, so a failed attempt's partitions are NEVER folded into a month
    * (a retry must not see its own failed fingerprints as prior corpus,
    * at any distance in time).
    *
    * Durability: the fold stages its full month content — folded days
    * PLUS any existing partition of the same months (a late backfill may
    * have re-opened one) — to an on-disk `.fold_tmp` BEFORE the month
    * partitions are overwritten, because the overwrite's commit deletes
    * the existing month directory (the only durable copy of previously
    * folded rows) before renaming replacements in. A crash at any point
    * leaves either the old layout intact or a completed stage that the
    * next run's RECOVERY replays (re-overwrite from the stage, delete no
    * day dirs — duplicate rows across day+month partitions are tolerated
    * by every probe: anti/semi joins, `distinct`ed candidates, and
    * sig_count overcounts only over-engage the defense).
    *
    * DOCS zone: the published corpus keeps day-granular partitions (the
    * day identity is consumer-facing); a closed day whose files are
    * numerous AND small rewrites into ~`targetFileBytes` files. The
    * BYTES-based eligibility is what terminates: a compacted day's mean
    * file size is ≥ targetFileBytes/4, so it never re-qualifies — a
    * row-count policy would rewrite every large day forever. The rewrite
    * stages compacted days durably, then swaps each day directory
    * (delete + rename); recovery completes half-swapped days from the
    * stage. Content identity, not byte identity — the census contract on
    * closed days is re-scoped to content for compacted months.
    */
  def compactZones(
      spark: SparkSession,
      whDir: String,
      runDate: String,
      keepDays: Int = RetentionKeepDays,
      targetFileBytes: Long = 128L << 20,
      maxFilesPerClosedDay: Int = MaxFilesPerClosedDay,
      foldEligible: String => Boolean = _ => true): String = {
    val cutoffMonth = java.time.LocalDate.parse(runDate)
      .minusDays(keepDays.toLong).toString.substring(0, 7)
    val hconf = spark.sessionState.newHadoopConf()
    def fsFor(path: String) =
      new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    def foldableDays(path: String): Seq[String] =
      listIngestDays(spark, path)
        .filter(v => v.length == 10 && v.substring(0, 7) < cutoffMonth && foldEligible(v))

    // probe zones: fold closed months' day partitions into month partitions
    def foldProbe(path: String): Option[String] = {
      val fs = fsFor(path)
      val tmp = s"$path/.fold_tmp" // dot-hidden: invisible to the main read
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      val manifestPath = new org.apache.hadoop.fs.Path(s"$tmp/_DAYS")
      recoverFold(spark, path)
      // NOTE a day dir coexisting with its month partition is a LEGAL
      // state here (a day that became fold-eligible after a crashed
      // stage was built — its rows live only in the day dir, and this
      // fold legitimately folds it in). The illegal twin — day rows
      // ALREADY inside the month copy — cannot arise from this code:
      // the manifest lands atomically (below), so recovery either sees
      // the complete day list or discards the stage with the source
      // layout intact.
      val days = foldableDays(path)
      if (days.isEmpty) None
      else {
        val months = days.map(_.substring(0, 7)).distinct.sorted
        val folded = Zones.read(spark, path)
          .withColumn("ingest_day", col("ingest_day").cast("string"))
          .filter(col("ingest_day").isin(days ++ months: _*))
          .withColumn("ingest_day",
            when(length(col("ingest_day")) === 10, substring(col("ingest_day"), 1, 7))
              .otherwise(col("ingest_day")))
        // [1] durable stage (source files untouched while it writes),
        // then the exact staged-day manifest — the stage is not
        // recovery-eligible until the manifest is durable, so a crash
        // between the two leaves the old layout authoritative
        folded.write.mode("overwrite").partitionBy("ingest_day").parquet(tmp)
        // manifest lands ATOMICALLY (write-temp + rename): fs.create at
        // the final name is visible before the day list is flushed, and
        // a crash mid-write would leave a truncated manifest that
        // recovery TRUSTS — deleting only the listed days and leaving
        // the rest to be double-read by the next fold
        val manifestTmp = new org.apache.hadoop.fs.Path(s"$tmp/_DAYS.tmp")
        val out = fs.create(manifestTmp, true)
        try out.write(days.mkString("\n").getBytes("UTF-8")) finally out.close()
        if (!fs.rename(manifestTmp, manifestPath))
          throw new java.io.IOException(s"fold manifest rename failed: $manifestPath")
        // [2] month partitions overwritten FROM the staged files
        Zones.replacePartitions(spark.read.parquet(tmp), path, Seq("ingest_day"))
        // [3] exactly the staged day dirs die; [4] stage cleared
        days.foreach(d =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/ingest_day=$d"), true))
        fs.delete(tmpPath, true)
        spark.catalog.refreshByPath(path)
        val zone = path.split('/').last
        Some(s"$zone ${days.size}d→${months.mkString("+")}")
      }
    }

    // docs zone: rewrite a closed day's many-and-small files into few,
    // values and day layout unchanged
    def compactDocs(path: String): Option[String] = {
      val fs = fsFor(path)
      val tmp = s"$path/.compact_tmp"
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      // RECOVERY: complete half-swapped days (target dir missing, staged
      // copy present under a COMPLETED stage); discard everything else
      if (Zones.exists(spark, s"$tmp/_SUCCESS")) {
        fs.listStatus(tmpPath).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("ingest_day="))
          .foreach { staged =>
            val target = new org.apache.hadoop.fs.Path(s"$path/${staged.getName}")
            if (!fs.exists(target)) fs.rename(staged, target)
          }
        spark.catalog.refreshByPath(path)
      }
      if (fs.exists(tmpPath)) fs.delete(tmpPath, true)
      def fileStats(d: String): (Int, Long) = {
        val fsList = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/ingest_day=$d"))
          .filter(_.getPath.getName.endsWith(".parquet"))
        (fsList.length, fsList.map(_.getLen).sum)
      }
      val stats = foldableDays(path).map(d => d -> fileStats(d)).toMap
      val days = stats.collect {
        case (d, (nFiles, bytes))
            if nFiles > maxFilesPerClosedDay &&
              bytes / math.max(nFiles, 1) < targetFileBytes / 4 => d
      }.toSeq.sorted
      if (days.isEmpty) None
      else {
        // per-day output file count from BYTES (ceil(dayBytes/target)),
        // shipped as a map literal into the repartition expression
        val filesPerDay = days.map(d =>
          d -> math.max(1L, math.ceil(stats(d)._2.toDouble / targetFileBytes).toLong)).toMap
        val fmap = typedlit(filesPerDay)
        val cur = Zones.read(spark, path)
          .withColumn("ingest_day", col("ingest_day").cast("string"))
          .filter(col("ingest_day").isin(days: _*))
        // [1] durable stage — the zone's files are intact while this writes
        cur.repartition(
            col("ingest_day"),
            pmod(xxhash64(col("doc_id")), element_at(fmap, col("ingest_day"))))
          .write.mode("overwrite").partitionBy("ingest_day").parquet(tmp)
        // [2] per-day swap: delete target, rename staged dir in
        days.foreach { d =>
          val target = new org.apache.hadoop.fs.Path(s"$path/ingest_day=$d")
          fs.delete(target, true)
          if (!fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/ingest_day=$d"), target))
            throw new java.io.IOException(s"docs compaction swap failed for $d")
        }
        fs.delete(tmpPath, true)
        spark.catalog.refreshByPath(path)
        Some(s"docs ${days.size} closed day(s) file-compacted")
      }
    }

    // the LIVE semantic-index version's zones fold like any probe zone
    // (retired versions are swept, never folded). State rows are
    // ADDITIVE (decimal sums + counts), so relabeling day rows into
    // their month partition changes nothing the summed read sees — and
    // the crash window where day ∪ month rows coexist is closed by the
    // recoverFold every run performs before reading any probe zone
    val semIndexZones = IndexRun
      .resolveCurrent(spark, s"$whDir/corpus/sem_index", "meta/_SUCCESS")
      .toSeq.flatMap(lv => Seq(s"$lv/assign", s"$lv/state"))
    ((Seq(
      foldProbe(s"$whDir/corpus/fingerprints"),
      foldProbe(s"$whDir/corpus/sig_index"),
      foldProbe(s"$whDir/corpus/sig_counts"),
      foldProbe(s"$whDir/corpus/para_fp")) ++
      semIndexZones.map(foldProbe) ++
      Seq(
        // kilobyte report rows, but day dirs still accrete file-listing
        // cost forever without folding; day identity is irrelevant past
        // the horizon (consumers read only the newest day)
        foldProbe(s"$whDir/corpus/skew_profile"),
        compactDocs(s"$whDir/corpus/docs"))).flatten).mkString("; ")
  }

  /** Complete a probe-zone fold that crashed mid-pass — the RECOVERY leg
    * of `compactZones`' foldProbe, callable on its own so a run can
    * converge the layout BEFORE reading the zone (a crash between the
    * fold's month-overwrite and its day-dir deletes leaves day rows
    * duplicated into their month partition — tolerable for anti/semi
    * probes, corrupting for summed state zones).
    *
    * A COMPLETED stage from a crashed pass is the only durable copy of
    * its months' previously-folded rows — replay the overwrite from it.
    * A stage is complete only when BOTH the parquet commit marker AND
    * the day manifest exist; anything less is discarded (the old layout
    * is still intact — deletes only happen after both are durable).
    * The replay finishes the crashed pass's day-dir deletes too,
    * deleting EXACTLY the days its `_DAYS` manifest staged: recomputing
    * fold-eligibility here would be a silent data-loss bug (a day that
    * became fold-eligible AFTER the stage committed has no rows in the
    * stage), and leaving the staged days would make the NEXT fold read
    * every such row twice and bake duplicates into the month
    * permanently.
    */
  private[pipeline] def recoverFold(spark: SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = s"$path/.fold_tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val manifestPath = new org.apache.hadoop.fs.Path(s"$tmp/_DAYS")
    if (Zones.exists(spark, s"$tmp/_SUCCESS") && fs.exists(manifestPath)) {
      Zones.replacePartitions(spark.read.parquet(tmp), path, Seq("ingest_day"))
      val stagedDays = {
        val in = fs.open(manifestPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
      stagedDays.filter(_.nonEmpty).foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/ingest_day=$d"), true))
      fs.delete(tmpPath, true)
      spark.catalog.refreshByPath(path)
    } else if (fs.exists(tmpPath)) {
      fs.delete(tmpPath, true)
      ()
    }
  }

  /** The standing nightly skew profile (stage [6b]) for downstream
    * consumers: the most recent day's report row, shaped exactly for
    * [[graft.operators.SkewJoin.autoJoin]]'s `report` parameter — a
    * source-keyed join planned from this row launches NO counting pass
    * of its own. None until the first day publishes. Recent days are
    * always day-granular (folding waits out the retention horizon), so
    * the newest partition is the newest day.
    */
  def latestSkewReport(
      spark: SparkSession, whDir: String): Option[org.apache.spark.sql.Row] = {
    val p = s"$whDir/corpus/skew_profile"
    if (!Zones.exists(spark, p)) None
    else Zones.read(spark, p)
      .orderBy(col("ingest_day").cast("string").desc)
      .limit(1).drop("ingest_day")
      .collect().headOption
  }

  /** Partition values of an ingest_day-partitioned zone (day- or
    * month-form), from the directory listing — no file read.
    */
  private[pipeline] def listIngestDays(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("ingest_day="))
      .map(_.stripPrefix("ingest_day="))
  }
}

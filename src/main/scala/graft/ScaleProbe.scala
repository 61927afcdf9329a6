package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Curation, Dedup, SimilaritySearch}
import graft.pipeline.{CorpusRun, IndexRun}
import graft.sources.Zones

/** The O(increment) scale probe — the measurement behind BASELINE.md's
  * round-10 scale table: every INCREMENTAL daily path (d9 signature
  * dedup, e3 embedding dedup, e5 semantic dedup, k5 IVF append, the full
  * CorpusRun day) is timed against a FIXED-SIZE increment while the
  * standing corpus/zones grow 10× — a flat day cost is the operational
  * meaning of "O(increment + indexes), never O(corpus)".
  *
  * Zone builds from the standing corpus are UNTIMED setup; only the
  * daily-path calls are timed. Inputs come from
  * `scripts/make_scale_corpus.py` (sf0.1 replicated with id offsets,
  * two-letter-set-rotated text and hash-sign-flipped embeddings so up
  * to 100 replicas are pairwise non-duplicates — the increment is
  * byte-identical across corpus sizes).
  *
  * Usage: runMain graft.ScaleProbe <genDir> <workDir>
  *   genDir:  make_scale_corpus.py output (corpus_ / inc_ parquet pairs)
  *   workDir: scratch dir for zones (wiped per run)
  * Prints ONE JSON line: probe=scale, corpus sizes, per-path seconds.
  *
  * The x1000 corpus (5M docs / 2M embeddings) needs a bigger driver heap
  * than the build's 8g default — run with SPARK_DRIVER_MEM=64g (the e3
  * leg's cached zone band frames OOM an 8g local[32] JVM at that size).
  * Quote min-of-3 FULL runs, never a single pass (host spikes over-read
  * decade ratios — see BASELINE.md round-13).
  */
object ScaleProbe {
  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** min-of-N for the PURE daily probes (d9/e3/e5 — pair computations
    * with no zone writes, so re-running is sound): the repo's standing
    * adjudication protocol, SPARK_GRAFT_PROBE_RUNS (default 3). The
    * mutating probes (k5 append, the CorpusRun days) stay single-run —
    * a re-run would append again / hit the SUCCESS-today gate.
    */
  private val ProbeRuns = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "3").toInt
  private def timedMin(body: => Unit): Double =
    (1 to math.max(1, ProbeRuns)).map(_ => timed(body)._2).min

  /** Comma-separated leg names to skip (SPARK_GRAFT_PROBE_SKIP) — wall-
    * clock insurance for the largest corpora, where one leg's UNTIMED
    * setup (e.g. d12's full pair closure over a 5M-row zone) can dominate
    * the run. Skipped legs are absent from the artifact — a reader sees
    * the hole; nothing is silently substituted.
    */
  private val SkipLegs: Set[String] =
    sys.env.getOrElse("SPARK_GRAFT_PROBE_SKIP", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet

  /** Planted-copy id offset: above every replica id and below (or apart
    * from) the generator's increment offset, so planted ids collide with
    * neither. The value comes from the genDir's `meta.json` when present
    * (the fourth-decade layout moves plants to 2×10⁹ — replica ids reach
    * 999×10⁶ at reps = 1000, colliding with the historical constants);
    * dirs predating the side-meta fall back to the reps ≤ 100 layout
    * (plants at 8×10⁸, increment at 9×10⁸, replica stride 10⁶).
    */
  private val DefaultPlantOffset = 800000000L
  private val DefaultIdStride = 1000000L

  private[graft] final case class GenMeta(idStride: Long, plantOffset: Long)

  private[graft] def readGenMeta(genDir: String): GenMeta = {
    val p = java.nio.file.Paths.get(s"$genDir/meta.json")
    if (!java.nio.file.Files.exists(p))
      return GenMeta(DefaultIdStride, DefaultPlantOffset)
    val text = new String(java.nio.file.Files.readAllBytes(p))
    def field(name: String, dflt: Long): Long =
      ("\"" + name + "\"\\s*:\\s*(\\d+)").r
        .findFirstMatchIn(text).map(_.group(1).toLong).getOrElse(dflt)
    GenMeta(field("id_stride", DefaultIdStride), field("plant_offset", DefaultPlantOffset))
  }

  /** Order-independent pair-set fingerprint (count, decimal hash sum) —
    * equal fingerprints on normalized distinct pair sets = equal sets.
    */
  private def pairChecksum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(
        least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .distinct()
      .agg(count(lit(1)),
        coalesce(sum(xxhash64(col("a"), col("b"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
          lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Planted (src, src+offset) pairs NOT found in `got` — empty proves
    * every planted copy was caught, at this corpus scale, by this path.
    */
  private def missedPlants(
      plantedSrc: DataFrame, got: DataFrame, plantOffset: Long): Long =
    plantedSrc.select(col("src").as("id_a"), (col("src") + plantOffset).as("id_b"))
      .join(
        got.select(
          least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b")),
        Seq("id_a", "id_b"), "left_anti")
      .count()

  def main(args: Array[String]): Unit = {
    val Array(genDir, workDir) = args.take(2)
    val spark = Sessions
      .builder("graft-scaleprobe", Sessions.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // leg-by-leg resumption (SPARK_GRAFT_PROBE_SKIP non-empty) keeps the
    // workDir: a prior leg's zones are that run's outputs, not stale
    // state. Pair legs (d9/e3/e5/k5) overwrite their own zones; the
    // ledger-gated CorpusRun legs instead wipe their warehouse dirs at
    // leg start (below) — re-entering a kept wh would return SKIPPED
    // (SUCCESS-today gate) and abort the require. A full run still starts
    // clean.
    if (SkipLegs.isEmpty) Zones.delete(spark, workDir)
    val meta = readGenMeta(genDir)
    val PlantOffset = meta.plantOffset

    val corpusDocs = spark.read.parquet(s"$genDir/corpus_documents.parquet")
    val corpusEmbs = spark.read.parquet(s"$genDir/corpus_embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val incDocs = spark.read.parquet(s"$genDir/inc_documents.parquet")
    val incEmbs = spark.read.parquet(s"$genDir/inc_embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val nDocs = corpusDocs.count()
    val nEmbs = corpusEmbs.count()
    val nIncDocs = incDocs.count()
    val sec = scala.collection.mutable.LinkedHashMap[String, Double]()
    val planted = scala.collection.mutable.LinkedHashMap[String, Long]()

    // PLANTED-COPY correctness increments (round-12 verdict #6: the
    // scale ladder must certify drops, not just wall time). EXACT copies
    // of corpus rows — one sample per replica stripe, so plants probe
    // zone partitions across the whole standing corpus — re-id'd above
    // every real id. An exact copy is found DETERMINISTICALLY by every
    // family (identical text → identical signature → every band matches,
    // estimated Jaccard 1; identical vector → identical sign bits,
    // cosine 1), so "0 missed" is an exact obligation at any corpus
    // size and any geometry — precisely what a silent key-geometry or
    // zone-probe bug would break. Timed probes keep the UNAUGMENTED
    // byte-identical increment; assertions run their own untimed calls.
    val docPlantSrc = corpusDocs
      .filter(pmod(col("doc_id"), lit(meta.idStride)) % 500 === 0)
      .select(col("doc_id").as("src")).cache()
    val docPlants = corpusDocs
      .filter(pmod(col("doc_id"), lit(meta.idStride)) % 500 === 0)
      .withColumn("doc_id", col("doc_id") + PlantOffset)
    val embPlantSrc = corpusEmbs
      .filter(pmod(col("vec_id"), lit(meta.idStride)) % 500 === 0)
      .select(col("vec_id").as("src")).cache()
    val embPlants = corpusEmbs
      .filter(pmod(col("vec_id"), lit(meta.idStride)) % 500 === 0)
      .withColumn("vec_id", col("vec_id") + PlantOffset)
    val nDocPlants = docPlantSrc.count()
    val nEmbPlants = embPlantSrc.count()
    require(nDocPlants > 0 && nEmbPlants > 0, "no planted copies — sampling broke")

    // ── d9: MinHash signature index — build zone untimed, time the
    // increment-vs-index pair pass ──────────────────────────────────────
    val sigZone = s"$workDir/sig_index"
    // the sig zone is the most expensive setup (the 5M-doc shingle build
    // at x1000) and feeds BOTH d9 and d12 — a resumed leg (skip-mode,
    // kept workDir) reuses a COMPLETE zone from the prior leg's JVM
    // instead of rebuilding it; an interrupted write has no _SUCCESS and
    // rebuilds. Full runs start from a wiped workDir, so this never
    // reuses across corpora.
    val sigZoneReusable = SkipLegs.nonEmpty &&
      Zones.exists(spark, s"$sigZone/_SUCCESS")
    if ((!SkipLegs("d9") || !SkipLegs("d12")) && !sigZoneReusable)
      Dedup.writeSignatureIndex(spark, sigZone, corpusDocs, "doc_id", "text",
        n = 3, numHashes = 32, mode = "overwrite")
    def d9Pairs(inc: DataFrame) = Dedup.minhashLshPairsIncremental(
      Dedup.readSignatureIndex(spark, sigZone), inc, "doc_id", "text",
      3, 32, 16, 0.6)
    if (!SkipLegs("d9")) {
    sec("d9_incremental_dedup") = timedMin { d9Pairs(incDocs).count() }
    // (a) cross-zone: every planted corpus copy must pair with its source
    val d9Missed = missedPlants(docPlantSrc, d9Pairs(incDocs.unionByName(docPlants)), PlantOffset)
    require(d9Missed == 0, s"d9 missed $d9Missed of $nDocPlants planted copies")
    planted("d9_missed") = d9Missed
    // (b) within-increment: the incremental path must return EXACTLY the
    // batch operator's pair set over the increment alone (cross-base
    // confirms are impossible by the generator's margins: max shared
    // 3-gram fraction 0.11 ≪ 0.6, so any difference is a path bug)
    val d9Within = pairChecksum(d9Pairs(incDocs))
    val d9Batch = pairChecksum(
      Dedup.minhashLshPairs(incDocs, "doc_id", "text", 3, 32, 16, 0.6))
    require(d9Within == d9Batch,
      s"d9 incremental-vs-batch pair sets differ: $d9Within vs $d9Batch")
    planted("d9_within_pairs") = d9Within._1
    }

    // ── d12: incremental cluster maintenance — the standing assignment
    // zone (dupClusters over the corpus's own pair closure) is untimed
    // setup; the timed path is the day's new pairs + the star-edge
    // incremental relabel against the zone. This is the d12 gate's shape
    // at probe scale (the round-11 `weak` path, post-bloom-fix). ───────
    if (!SkipLegs("d12")) {
    val clustersZone = s"$workDir/clusters"
    Curation.dupClusters(
        Dedup.minhashLshPairsFromIndex(
          Dedup.readSignatureIndex(spark, sigZone), 32, 16, 0.6),
        "id_a", "id_b")
      .write.mode("overwrite").parquet(clustersZone)
    sec("d12_incremental_clusters") = timedMin {
      val newPairs = d9Pairs(incDocs)
      val zone = spark.read.parquet(clustersZone)
      // the zone count is the production engagement signal (CorpusRun
      // pays it too) — timed as part of the day cost
      Curation.dupClustersIncremental(
        zone, newPairs, "id_a", "id_b", assignmentRows = Some(zone.count())).count()
    }
    // planted cross pairs must fold into the standing assignment with
    // both endpoints CO-LABELED, and the result must cover exactly the
    // zone ids ∪ the pair ids (row-count identity)
    locally {
      val zone = spark.read.parquet(clustersZone)
      val plantPairs = d9Pairs(incDocs.unionByName(docPlants)).localCheckpoint()
      val res = Curation.dupClustersIncremental(
        zone, plantPairs, "id_a", "id_b", assignmentRows = Some(zone.count()))
        .localCheckpoint()
      val lbl = res.select(col("id"), col("cluster_id"))
      val split = docPlantSrc
        .select(col("src").as("id_a"), (col("src") + PlantOffset).as("id_b"))
        .join(lbl.select(col("id").as("id_a"), col("cluster_id").as("ca")), "id_a")
        .join(lbl.select(col("id").as("id_b"), col("cluster_id").as("cb")), "id_b")
        .filter(col("ca") =!= col("cb")).count()
      require(split == 0, s"d12 left $split planted pairs split across clusters")
      planted("d12_split") = split
      val pairIds = plantPairs.select(col("id_a").as("id"))
        .unionByName(plantPairs.select(col("id_b").as("id"))).distinct()
      val expectRows = zone.count() +
        pairIds.join(zone.select("id"), Seq("id"), "left_anti").count()
      require(res.count() == expectRows,
        s"d12 row-count identity broke: ${res.count()} vs $expectRows")
    }
    }

    // ── e3 under writer DEFAULTS (= the size policy since round 13:
    // `Dedup.AutoGeometry` routes a fresh build through sigGeometry(n),
    // and the probe keys itself under the zone's recorded geometry via
    // the path-based entry). This row is the VERDICT #1 done-bar: a
    // direct writer-default caller must land ≤~1.6×/decade at x100,
    // where the old fixed-8×8 default measured 8.78×. ───────────────────
    val embZone = s"$workDir/emb_sig"
    if (!SkipLegs("e3")) {
    Dedup.writeEmbeddingSignatureIndex(spark, embZone, corpusEmbs, "vec_id", "e",
      mode = "overwrite")
    sec("e3_embedding_neardup_incremental") = timedMin {
      Dedup.embeddingNearDupIncrementalAt(
        spark, embZone, incEmbs, "vec_id", "e", 0.99).count()
    }
    val e3Missed = missedPlants(embPlantSrc,
      Dedup.embeddingNearDupIncrementalAt(
        spark, embZone, incEmbs.unionByName(embPlants), "vec_id", "e", 0.99),
      PlantOffset)
    require(e3Missed == 0, s"e3 missed $e3Missed of $nEmbPlants planted copies")
    planted("e3_missed") = e3Missed
    }

    // ── e3 at the FIXED 8×8 rung (the pre-round-13 writer default, and
    // the gates' pinned geometry): kept as the reference row measuring
    // the linear collision term the policy removes. ─────────────────────
    if (!SkipLegs("e3_fixed_8x8")) {
    val embZoneF = s"$workDir/emb_sig_8x8"
    Dedup.writeEmbeddingSignatureIndex(spark, embZoneF, corpusEmbs, "vec_id", "e",
      bands = 8, bitsPerBand = 8, mode = "overwrite")
    sec("e3_fixed_8x8") = timedMin {
      Dedup.embeddingNearDupIncremental(
        Dedup.readEmbeddingSignatureIndex(spark, embZoneF), incEmbs, "vec_id", "e",
        0.99, bands = 8, bitsPerBand = 8)
        .count()
    }
    val e3fMissed = missedPlants(embPlantSrc,
      Dedup.embeddingNearDupIncrementalAt(
        spark, embZoneF, incEmbs.unionByName(embPlants), "vec_id", "e", 0.99),
      PlantOffset)
    require(e3fMissed == 0, s"e3_fixed_8x8 missed $e3fMissed planted copies")
    }

    // ── e5: standing semantic assignment zone. k follows the production
    // occupancy policy (max(64, ⌈N/SemTargetOccupancy⌉) — the occupancy
    // lifecycle re-clusters a live index to exactly this shape), so the
    // zone the incremental probe faces has bounded clusters at every
    // corpus size: x1/x10 realize k=64 (unchanged vs earlier tables);
    // x100 realizes ⌈200k/1024⌉. A FIXED k at 100× would hand the probe
    // a zone the production pipeline never lets stand (occupancy 3k+,
    // trip bar 2048). ─────────────────────────────────────────────────
    val semZone = s"$workDir/sem_assign"
    if (!SkipLegs("e5")) {
    val e5K = math.max(64, math.ceil(
      nEmbs.toDouble / graft.pipeline.IndexRun.SemTargetOccupancy).toInt)
    val assignment = Dedup.semanticDedup(corpusEmbs, "vec_id", "e", e5K, 2, 0.95)
    assignment.filter(col("is_kept"))
      .select(col("vec_id").as("id"), col("cluster"))
      .join(corpusEmbs.select(col("vec_id").as("id"), col("e").as("v")), Seq("id"))
      .write.mode("overwrite").parquet(semZone)
    sec("e5_semantic_dedup_incremental") = timedMin {
      Dedup.semanticDedupIncremental(
        spark.read.parquet(semZone), incEmbs, "vec_id", "e", 0.95)
        .count()
    }
    // planted exact copies of ZONE vectors: a copy lands (by argmin over
    // the call's derived centroids) wherever its source vector would land
    // NOW — which for a STABLE source (one whose own re-assignment under
    // those centroids equals its stored label) is the source's cluster,
    // where the cosine-1 partner sits. Every stable plant must come back
    // dropped; boundary sources that re-assign elsewhere are excluded
    // (the one-shot shape derives centroids one Lloyd step ahead of the
    // stored labels — the documented frozen-geometry caveat, not a bug).
    locally {
      val zoneDf = spark.read.parquet(semZone).localCheckpoint()
      val e5Src = zoneDf.filter(pmod(col("id"), lit(meta.idStride)) % 500 === 0)
      val dim = zoneDf.select(size(col("v"))).head().getInt(0)
      val cents = Clustering.centroids(zoneDf, "v", "cluster", dim).localCheckpoint()
      val stableSrc = Clustering.assignFused(
          e5Src.select(col("id"), col("v")), "id", "v", cents)
        .select(col("id"), col("cluster").as("now"))
        .join(e5Src.select(col("id"), col("cluster"), col("v")), "id")
        .filter(col("now") === col("cluster"))
        .localCheckpoint()
      val nStable = stableSrc.count()
      require(nStable > 0, "e5 plant sampling produced no stable sources")
      val e5Plants = stableSrc.select((col("id") + PlantOffset).as("vec_id"), col("v").as("e"))
      val res = Dedup.semanticDedupIncremental(
        zoneDf, incEmbs.unionByName(e5Plants), "vec_id", "e", 0.95)
      val keptPlants = res
        .join(stableSrc.select((col("id") + PlantOffset).as("vec_id")), "vec_id")
        .filter(col("is_kept")).count()
      require(keptPlants == 0, s"e5 kept $keptPlants of $nStable planted exact copies")
      planted("e5_stable_plants") = nStable
      planted("e5_kept_plants") = keptPlants
    }
    }

    // ── e5occ: the production ⌈N/1024⌉ occupancy shape pinned ONE DECADE
    // past this corpus's embedding count (min 200k) — the round-13
    // "flat past the cap" claim re-measured as part of the standing
    // protocol instead of a one-off ScaleDiag artifact. The rung builds
    // its own synthetic zone (untimed), times the incremental day
    // min-of-3 against frozen centroids, and asserts the exact planted
    // drop/keep obligations internally (1000 drops / 1000 keeps). ──────
    if (!SkipLegs("e5occ")) {
    // one decade past this corpus, capped at the 8M ceiling the
    // round-13 ladder certified (a 20M rung would be a new experiment,
    // not a re-measurement; the cap is recorded in e5occ_n, not silent)
    val rungN = math.min(8000000L, math.max(200000L, 10L * nEmbs))
    val (_, occSec, occDropped, occKept) = ScaleDiag.e5OccupancyRung(spark, workDir, rungN)
    sec("e5occ_pinned") = occSec
    planted("e5occ_n") = rungN
    planted("e5occ_dropped") = occDropped
    planted("e5occ_kept_novel") = occKept
    }

    // ── k5: persisted IVF index append ──────────────────────────────────
    val ivfZone = s"$workDir/ivf"
    if (!SkipLegs("k5")) {
    SimilaritySearch.buildIvfIndex(spark, ivfZone, corpusEmbs, "vec_id", "e", nCells = 256)
    sec("k5_ivf_append") = timed {
      SimilaritySearch.appendIvfIndex(spark, ivfZone, incEmbs, "vec_id", "e")
    }._2
    require(spark.read.parquet(s"$ivfZone/assignments").count() ==
      nEmbs + incEmbs.count(), "k5 append row-count identity broke")
    }

    // ── CorpusRun: standing day-1 zones untimed, the full day-2 pipeline
    // timed end-to-end (quality → exact → near-dup → clusters → publish →
    // stats → retention pass) ───────────────────────────────────────────
    val wh = s"$workDir/wh"
    val day1 = s"$workDir/in_day1"
    val day2 = s"$workDir/in_day2"
    if (!SkipLegs("corpus") || !SkipLegs("corpus_sem")) {
      corpusDocs.write.mode("overwrite").parquet(day1)
      incDocs.write.mode("overwrite").parquet(day2)
    }
    if (!SkipLegs("corpus")) {
    // fresh warehouse even on a resumed run: CorpusRun is ledger-gated
    // (RunLedger.gate), so a kept wh from a partial prior run would
    // SKIP instead of running — the ADVICE-r13 resume trap
    Zones.delete(spark, wh)
    require(CorpusRun.run(spark, day1, wh, "2026-08-01 02:00:00") == "SUCCESS")
    sec("corpus_day") = timed {
      require(CorpusRun.run(spark, day2, wh, "2026-08-02 02:00:00") == "SUCCESS")
    }._2
    }

    // ── CorpusRun WITH the semantic stage: the versioned frozen-geometry
    // sem index (corpus/sem_index/v<N>) builds from day 1 untimed; the
    // timed day pays increment assignment against the stored k centroid
    // rows plus the cluster-pruned zone probe — the path that before
    // round 11 re-aggregated the full assignment zone for centroids
    // daily. Replica id strides match (doc_id and vec_id both +r·10⁶),
    // so the feed is the embeddings renamed; the increment's embedded
    // subset is byte-identical at every corpus scale. ───────────────────
    if (!SkipLegs("corpus_sem")) {
    val whSem = s"$workDir/wh_sem"
    Zones.delete(spark, whSem) // same resume trap as the corpus leg
    val semFeed = s"$workDir/sem_feed"
    corpusEmbs.select(col("vec_id").as("doc_id"), col("e").as("embedding"))
      .unionByName(
        incEmbs.select(col("vec_id").as("doc_id"), col("e").as("embedding")))
      .write.mode("overwrite").parquet(semFeed)
    val semCfg = Some(CorpusRun.SemanticStage(semFeed, k = 64, iters = 2, threshold = 0.95))
    require(CorpusRun.run(spark, day1, whSem, "2026-08-01 02:00:00", semantic = semCfg) == "SUCCESS")
    sec("corpus_day_sem") = timed {
      require(CorpusRun.run(spark, day2, whSem, "2026-08-02 02:00:00", semantic = semCfg) == "SUCCESS")
    }._2
    }

    val secJson = sec.map { case (k, v) =>
      "\"" + k + "\":" + BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    }.mkString("{", ",", "}")
    val plantedJson = (Seq("doc_plants" -> nDocPlants, "emb_plants" -> nEmbPlants) ++
      planted.toSeq).map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"probe":"scale","corpus_docs":$nDocs,"corpus_embeddings":$nEmbs,"increment_docs":$nIncDocs,"sec":$secJson,"planted":$plantedJson}""")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Candidate-volume census behind the scale table's d9/e3 decade growth:
  * counts the DISTINCT (increment, zone) id pairs that share at least one
  * LSH band key — the work the incremental dedup probes actually confirm —
  * split into same-base pairs (the scale generator's replicas of one
  * source row: id ≡ base mod 10⁶ on both sides) and cross-base pairs
  * (collisions a real corpus would also produce). Run against a
  * make_scale_corpus.py genDir and the matching ScaleProbe workDir (whose
  * standing zones it reads, never writes).
  *
  * Usage: runMain graft.ScaleDiag <genDir> <workDir>
  * Prints ONE JSON line: zone rows + candidate totals per family.
  */
object ScaleDiag {
  // make_scale_corpus.py replica id stride — from the genDir's meta.json
  // when present (ScaleProbe.readGenMeta), historical 10⁶ otherwise

  def main(args: Array[String]): Unit = {
    val Array(genDir, workDir) = args.take(2)
    val BaseStride = ScaleProbe.readGenMeta(genDir).idStride
    val spark = Sessions
      .builder("graft-scalediag", Sessions.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.length > 2 && args(2) == "e3ab") { e3GeometryAB(spark, genDir, workDir); return }
    if (args.length > 2 && args(2) == "ccinc") { ccIncrementalAB(spark, workDir); return }
    if (args.length > 2 && args(2) == "e5occ") {
      e5OccupancyLadder(spark, workDir,
        if (args.length > 3) args(3).split(",").map(_.trim.toLong).toSeq
        else Seq(200000L, 2000000L))
      return
    }
    if (args.length > 2 && args(2) == "compactcost") { compactCost(spark, workDir); return }

    def census(cand: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val c = cand.distinct().cache()
      val total = c.count()
      val same = c.filter(
        pmod(col("id_x"), lit(BaseStride)) === pmod(col("id_y"), lit(BaseStride))).count()
      c.unpersist()
      (total, same)
    }

    // e3: increment embedding band keys vs the stored sign-bit zone —
    // keyed under the zone's RECORDED geometry (the probes' own
    // discipline; the writer default is the size policy now, so the
    // census cannot assume any fixed shape)
    val embZone = spark.read.parquet(s"$workDir/emb_sig")
    val g = Dedup.readZoneGeometry(spark, s"$workDir/emb_sig").getOrElse(Map.empty)
    val incEmb = spark.read.parquet(s"$genDir/inc_embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val incEmbBands = Dedup.embeddingSignatureRows(incEmb, "id", "v",
        bands = g.getOrElse("bands", 8L).toInt,
        bitsPerBand = g.getOrElse("bits_per_band", 8L).toInt,
        seed = g.getOrElse("seed", 42L))
      .select(col("id").as("id_x"), posexplode(col("bkeys")).as(Seq("band", "key")))
    val zoneEmbBands = embZone
      .select(col("id").as("id_y"), posexplode(col("bkeys")).as(Seq("band", "key")))
    val (e3Total, e3Same) =
      census(incEmbBands.join(zoneEmbBands, Seq("band", "key")).select("id_x", "id_y"))

    // d9: increment MinHash band keys vs the stored signature zone
    // (same n/numHashes/bands as the ScaleProbe d9 leg)
    val sigZone = Dedup.readSignatureIndex(spark, s"$workDir/sig_index")
    val incDocs = spark.read.parquet(s"$genDir/inc_documents.parquet")
    val incSigs = Dedup.signatureIndex(incDocs, "doc_id", "text", 3, 32)
    val incDocBands = Dedup.bandedFromSigs(incSigs, 32, 16)
      .select(col("id").as("id_x"), col("band"), col("key"))
    val zoneDocBands = Dedup.bandedFromSigs(sigZone, 32, 16)
      .select(col("id").as("id_y"), col("band"), col("key"))
    val (d9Total, d9Same) =
      census(incDocBands.join(zoneDocBands, Seq("band", "key")).select("id_x", "id_y"))

    println(
      s"""{"probe":"scalediag","zone_docs":${sigZone.count()},"zone_embeddings":${embZone.count()},""" +
        s""""d9_candidates":$d9Total,"d9_same_base":$d9Same,""" +
        s""""e3_candidates":$e3Total,"e3_same_base":$e3Same}""")
    spark.stop()
  }

  /** e3 band-geometry A/B at a given corpus scale: builds the embedding
    * signature zone twice — the gate default (8 bands × 8 bits: recall
    * 1−(1−p⁸)⁸ ≈ 0.9999 at θ=0.99, but a 1/256 per-band collision rate
    * on RANDOM pairs → candidates ≈ 3% of inc×corpus) and the
    * corpus-scale geometry (16 bands × 16 bits: the same ~0.9999 recall
    * at θ=0.99 with a 1/65536 per-band random rate — ~100× fewer
    * candidates for 4× the hyperplane math) — and times the incremental
    * probe min-of-3 against each, with its candidate census. The knob
    * already exists on every signature API; this measures what it buys
    * at the 100× decade. Zone builds are untimed setup.
    */
  private def e3GeometryAB(
      spark: org.apache.spark.sql.SparkSession, genDir: String, workDir: String): Unit = {
    val corpus = spark.read.parquet(s"$genDir/corpus_embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val inc = spark.read.parquet(s"$genDir/inc_embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val nZone = corpus.count()
    val parts = Seq((8, 8), (16, 16)).map { case (bands, bits) =>
      val zonePath = s"$workDir/diag_emb_sig_${bands}x$bits"
      graft.sources.Zones.delete(spark, zonePath)
      Dedup.writeEmbeddingSignatureIndex(spark, zonePath, corpus, "vec_id", "e",
        bands = bands, bitsPerBand = bits, mode = "overwrite")
      val zone = Dedup.readEmbeddingSignatureIndex(spark, zonePath)
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Dedup.embeddingNearDupIncremental(zone, inc, "vec_id", "e", 0.99,
          bands = bands, bitsPerBand = bits).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      val candidates = inc
        .select(col("vec_id").as("id"), col("e").as("v"))
        .transform(d => Dedup.embeddingSignatureRows(d, "id", "v", bands, bits))
        .select(col("id").as("id_x"), posexplode(col("bkeys")).as(Seq("band", "key")))
        .join(zone.select(col("id").as("id_y"),
          posexplode(col("bkeys")).as(Seq("band", "key"))), Seq("band", "key"))
        .select("id_x", "id_y").distinct().count()
      s""""${bands}x$bits":{"sec":${BigDecimal(sec).setScale(2, BigDecimal.RoundingMode.HALF_UP)},"candidates":$candidates}"""
    }
    println(s"""{"probe":"e3ab","zone_embeddings":$nZone,${parts.mkString(",")}}""")
    spark.stop()
  }

  /** e5 PAST the occupancy cap (round-12 verdict #3): the semantic-index
    * lifecycle re-clusters at k′ = ⌈N/1024⌉, pinning mean cluster
    * occupancy at the target whatever the corpus size — this probe
    * measures the incremental semantic-dedup day cost against synthetic
    * standing zones PINNED at exactly that shape, one (or more) decades
    * past the x100 rung where the ⌈N/1024⌉ bound first engaged (the
    * round-12 table's last measured point). Zone at size N: k = N/1024
    * deterministic sign-pattern unit centers, exactly 1024 members each
    * (member = center + ±r/8 per-coordinate hash noise, r = 0.5 — so
    * same-cluster members sit near cosine 1/(1+r²) ≈ 0.8, below the 0.95
    * drop bar, while assignment margins stay decisive); the frozen
    * centroid artifact is the true center set, supplied as centroidsOpt
    * — the production mergeable-state path, so the timed plan never
    * aggregates the zone for centroids. The FIXED-shape increment (1k
    * planted near-copies of members from 1k distinct clusters + 1k novel
    * patterns) is re-planted per rung; the probe asserts EXACTLY 1k
    * drops and 1k keeps — cost and correctness in one artifact.
    */
  private def e5OccupancyLadder(
      spark: org.apache.spark.sql.SparkSession, workDir: String, sizes: Seq[Long]): Unit = {
    val parts = sizes.map { n =>
      val (k, sec, dropped, keptNovel) = e5OccupancyRung(spark, workDir, n)
      s""""n$n":{"k":$k,"sec":${BigDecimal(sec).setScale(2, BigDecimal.RoundingMode.HALF_UP)},"dropped":$dropped,"kept_novel":$keptNovel}"""
    }
    println(s"""{"probe":"e5occ","occupancy":$E5Occupancy,${parts.mkString(",")}}""")
    spark.stop()
  }

  private[graft] val E5Occupancy = 1024L

  /** One pinned-occupancy rung of the ladder above, reusable by the
    * standing ScaleProbe protocol (round-13 verdict: the flat-past-cap
    * claim must re-measure every round, not live in a one-off artifact).
    * Builds the synthetic zone at exactly the production ⌈N/1024⌉ shape,
    * times the incremental semantic-dedup day min-of-3 against the
    * frozen-centroid artifact, asserts the exact planted drop/keep
    * obligations (1000 near-copies of members MUST drop, 1000 novel
    * patterns MUST keep), and cleans its zone up. Returns
    * (k, seconds, dropped, keptNovel).
    */
  private[graft] def e5OccupancyRung(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      n: Long): (Long, Double, Long, Long) = {
    val dim = 64
    val occupancy = E5Occupancy
    def signCoord(idc: org.apache.spark.sql.Column, stream: Int, scale: Double) =
      transform(sequence(lit(0), lit(dim - 1)), j =>
        when(pmod(xxhash64(idc, j, lit(stream)), lit(2)) === 0, lit(scale)).otherwise(lit(-scale)))
    def addV(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      zip_with(a, b, (x, y) => x + y)
    val k = n / occupancy
    val zonePath = s"$workDir/diag_e5occ_$n"
    graft.sources.Zones.delete(spark, zonePath)
    spark.range(n).select(
        col("id"),
        (col("id") / occupancy).cast("long").as("cluster"),
        addV(
          signCoord((col("id") / occupancy).cast("long"), 0, 0.125),
          signCoord(col("id"), 1, 0.5 / 8)).as("v"))
      .write.mode("overwrite").parquet(zonePath)
    val zone = spark.read.parquet(zonePath)
    val cents = spark.range(k).select(
        col("id").as("cid"), signCoord(col("id"), 0, 0.125).as("c"))
      .localCheckpoint()
    // planted near-copies of the first member of 1000 distinct,
    // stride-spread clusters (must drop) + 1000 novel sign patterns
    // from a disjoint hash stream (must keep)
    val stride = math.max(1L, k / 1000L)
    val plantedIds = spark.range(1000).select(
      (col("id") * stride % k * occupancy + 7).as("src"))
    val plantedInc = plantedIds.select(
      (col("src") + 3000000000L).as("vec_id"),
      addV(
        addV(
          signCoord((col("src") / occupancy).cast("long"), 0, 0.125),
          signCoord(col("src"), 1, 0.5 / 8)),
        signCoord(col("src"), 2, 0.01 / 8)).as("e"))
    val novelInc = spark.range(1000).select(
      (col("id") + 4000000000L).as("vec_id"),
      signCoord(col("id") + 10000000L, 3, 0.125).as("e"))
    val inc = plantedInc.unionByName(novelInc).localCheckpoint()
    def day() = Dedup.semanticDedupIncremental(
      zone.select(col("id"), col("cluster"), col("v")), inc, "vec_id", "e", 0.95,
      centroidsOpt = Some(cents))
    val sec = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); day().count(); (System.nanoTime() - t0) / 1e9
    }.min
    val res = day().localCheckpoint()
    val dropped = res.filter(!col("is_kept")).count()
    val keptNovel = res.filter(col("is_kept") && col("vec_id") >= 4000000000L).count()
    require(dropped == 1000L && keptNovel == 1000L,
      s"e5occ at n=$n: dropped=$dropped (want 1000), keptNovel=$keptNovel (want 1000)")
    graft.sources.Zones.delete(spark, zonePath)
    (k, sec, dropped, keptNovel)
  }

  /** CorpusRun `compactZones` cost SHAPE vs standing zone size (round-13
    * verdict next #7 — the same O(history)-per-maintenance question the
    * stream fold's tiering answered, asked of the corpus probe zones).
    * Builds a synthetic fingerprint probe zone with a standing body of
    * 12 ALREADY-FOLDED month partitions (n rows total — the part that
    * grows with corpus lifetime) plus a FIXED fold load (30 closed
    * fold-eligible days × 3k rows), and times `compactZones` at
    * standing sizes a decade apart. A flat fold time proves the fold
    * stages only the eligible days' rows, never the standing months.
    * Second measurement per size: 5 LATE days of an already-folded
    * month land and re-fold — the known month-scoped (not
    * history-scoped) worst case, which re-stages that one month's
    * partition alongside the late days.
    */
  private def compactCost(
      spark: org.apache.spark.sql.SparkSession, workDir: String): Unit = {
    import graft.pipeline.CorpusRun
    val foldDays = (1 to 25).map(d => f"2026-03-$d%02d")
    val lateDays = (26 to 30).map(d => f"2026-03-$d%02d")
    val parts = Seq(1000000L, 10000000L).map { n =>
      val wh = s"$workDir/diag_compact_$n"
      val zone = s"$wh/corpus/fingerprints"
      def writeDays(days: Seq[String], rowsPerDay: Long, tag: String): Unit =
        spark.range(days.size * rowsPerDay).select(
            concat(lit(tag), col("id")).as("fingerprint"),
            element_at(
              typedlit(days), (col("id") % days.size).cast("int") + 1).as("ingest_day"))
          .write.partitionBy("ingest_day").mode("append").parquet(zone)
      def build(): Unit = {
        graft.sources.Zones.delete(spark, wh)
        // standing body: 12 already-folded month partitions (month-form
        // values, exactly what foldProbe leaves) — the part that grows
        // with corpus lifetime
        spark.range(n).select(
            concat(lit("fp_"), col("id")).as("fingerprint"),
            concat(lit("2025-"), lpad(((col("id") % 12) + 1).cast("string"), 2, "0"))
              .as("ingest_day"))
          .write.partitionBy("ingest_day").mode("overwrite").parquet(zone)
        // fixed fold load: 25 fold-eligible days in one closed month
        writeDays(foldDays, 3000L, "day_fp_")
      }
      // fold time vs standing size (rebuild OUTSIDE the timer): a flat
      // number across the decade proves the fold stages only the
      // eligible days' rows, never the standing months
      val fold25 = (1 to 3).map { _ =>
        build()
        val t0 = System.nanoTime()
        CorpusRun.compactZones(spark, wh, "2026-08-01", foldEligible = foldDays.toSet)
        (System.nanoTime() - t0) / 1e9
      }.min
      // month-refold worst case: the 2026-03 month stands folded; 5 LATE
      // days of that same month arrive and re-fold — re-stages that one
      // month's partition (75k rows) alongside the late days. Month-
      // scoped by construction; this measures it staying flat across the
      // standing-size decade too.
      val refold = (1 to 3).map { _ =>
        build()
        CorpusRun.compactZones(spark, wh, "2026-08-01", foldEligible = foldDays.toSet)
        writeDays(lateDays, 3000L, "late_fp_")
        val t0 = System.nanoTime()
        CorpusRun.compactZones(spark, wh, "2026-08-01",
          foldEligible = (foldDays ++ lateDays).toSet)
        (System.nanoTime() - t0) / 1e9
      }.min
      // folded row identity: nothing lost, nothing duplicated
      val got = spark.read.parquet(zone)
        .filter(col("ingest_day") === "2026-03").count()
      require(got == 30L * 3000L, s"fold row identity broke: $got")
      graft.sources.Zones.delete(spark, wh)
      s""""x$n":{"fold25_sec":${BigDecimal(fold25).setScale(2, BigDecimal.RoundingMode.HALF_UP)},""" +
        s""""refold5_sec":${BigDecimal(refold).setScale(2, BigDecimal.RoundingMode.HALF_UP)}}"""
    }
    println(s"""{"probe":"compactcost",${parts.mkString(",")}}""")
    spark.stop()
  }

  /** Star-relabel vs affected-component A/B behind
    * [[graft.operators.Curation.CcIncPruneMinAssignmentRows]]: a
    * synthetic parquet assignment zone (clusters of 4) at 1M/4M/16M
    * rows takes a fixed 2k-pair day (1k cluster bridges + 1k brand-new
    * nodes) through both [[graft.operators.Curation.dupClustersIncremental]]
    * routes, min-of-3 each, with an exact order-independent checksum
    * equality check (count + decimal sum of row hashes). This measures
    * the crossover the engagement threshold claims: below ~1M rows the
    * pruned path's fixed job overhead loses; above it, the star
    * relabel's full-zone component search does.
    */
  private def ccIncrementalAB(
      spark: org.apache.spark.sql.SparkSession, workDir: String): Unit = {
    import spark.implicits._
    import graft.operators.Curation
    def minOf3(body: => Unit): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min
    def checksum(df: org.apache.spark.sql.DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(
        count(lit(1)),
        sum(xxhash64(col("id"), col("cluster_id"), col("cluster_size"),
          col("is_canonical")).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val parts = Seq(1000000L, 4000000L, 16000000L).map { n =>
      val zonePath = s"$workDir/diag_cc_assignment_$n"
      graft.sources.Zones.delete(spark, zonePath)
      spark.range(n).select(
        col("id"),
        ((col("id") / 4).cast("long") * 4).as("cluster_id"),
        lit(4L).as("cluster_size"),
        (col("id") % 4 === 0).as("is_canonical"))
        .write.mode("overwrite").parquet(zonePath)
      val zone = spark.read.parquet(zonePath)
      val stride = n / 1000 / 4 * 4
      val pairs = ((0L until 1000L).map(i => (i * stride, i * stride + 4)) ++
        (0L until 1000L).map(i => (n + 2 * i, n + 2 * i + 1)))
        .toDF("id_a", "id_b")
      val star = minOf3 {
        Curation.dupClustersIncremental(zone, pairs, "id_a", "id_b").count()
      }
      val pruned = minOf3 {
        Curation.dupClustersIncremental(zone, pairs, "id_a", "id_b",
          assignmentRows = Some(n), maxNewNodes = Curation.CcIncMaxNewNodes,
          minAssignmentRows = 0L).count()
      }
      val ok = checksum(Curation.dupClustersIncremental(zone, pairs, "id_a", "id_b")) ==
        checksum(Curation.dupClustersIncremental(zone, pairs, "id_a", "id_b",
          assignmentRows = Some(n), maxNewNodes = Curation.CcIncMaxNewNodes,
          minAssignmentRows = 0L))
      graft.sources.Zones.delete(spark, zonePath)
      s""""x$n":{"star_sec":${BigDecimal(star).setScale(2, BigDecimal.RoundingMode.HALF_UP)},""" +
        s""""pruned_sec":${BigDecimal(pruned).setScale(2, BigDecimal.RoundingMode.HALF_UP)},"match":$ok}"""
    }
    println(s"""{"probe":"ccinc",${parts.mkString(",")}}""")
    spark.stop()
  }
}

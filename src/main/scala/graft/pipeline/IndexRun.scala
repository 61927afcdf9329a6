package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.control.RunLedger
import graft.operators.SimilaritySearch
import graft.sources.Zones

/** Nightly embedding-index maintenance — the job that CONSUMES the IVF
  * drift policy ([[graft.operators.SimilaritySearch.IvfAppendStats]]):
  * each day's embedding increment folds into the persisted index by
  * assignment only (O(increment × k) — no sampling, no Lloyd rounds, no
  * touch of standing cell files), the increment's quantization drift
  * ratio is measured against the build-time baseline and RECORDED in the
  * run ledger, and when the ratio trips the retrain threshold the job
  * rebuilds the quantizer from the zone's own vectors in place — so the
  * index the daytime ANN queries probe never decays unbounded.
  *
  *   gate (already ran today? RUNNING row? → skip)
  *   → day 1: build (train + assign + baseline) into the day-partitioned
  *     zone layout
  *   → later days: assignment-only append (day-scoped dynamic partition
  *     overwrite — a retried day replaces its own leftovers)
  *   → drift ratio = increment mean squared quantization error /
  *     build-time baseline, logged in the ledger SUCCESS message
  *   → ratio > threshold: full retrain from the zone's own vectors into
  *     the NEXT index version ([[SimilaritySearch.retrainIvfIndexDaily]]
  *     into `v<N+1>` while `v<N>` keeps serving), then an atomic pointer
  *     flip — no state pairs new centroids with old assignments;
  *     baseline reset, "RETRAINED" recorded
  *   → ledger SUCCESS row carrying counts + drift
  *
  * Usage: runMain graft.pipeline.IndexRun <incrementDir> <warehouseDir> <runTs>
  *   incrementDir: parquet of the day's vectors (vec_id, embedding[, …])
  *   runTs:        injected "now" (yyyy-MM-dd HH:mm:ss) — F11 determinism
  */
object IndexRun {
  val ProcessName = "index_pipeline"
  val NCells = 16
  val RetrainInflation = 1.5

  /** Sign-bit signature index stage (the embedding-LSH analog of the IVF
    * stage): geometry shared with the e1/e3 operators; the drift signal
    * is BUCKET CONCENTRATION — C = Σ_{band,key} n·(n−1) / (bands·N·(N−1)),
    * the probability two random corpus vectors share a band bucket.
    * Concentration is the recall/cost proxy for a data-independent LSH:
    * the hyperplanes never move, so what decays is bucket balance — a
    * growing near-duplicate family (or a distribution collapse) piles
    * vectors behind few keys, the candidate joins go quadratic in the
    * pile, and the hot-bucket defense engages ever harder. The retrain
    * trips when C exceeds `SigRetrainInflation ×` the REFERENCE
    * concentration — max(build-time baseline, the 2^-bitsPerBand
    * random-hash floor, below which differences are noise) — and
    * rebuilds the zone under a RE-SEEDED plane set (seed+1) into the
    * next version with an atomic pointer flip, exactly the IVF protocol.
    * C is computed from the kilobyte counts zone — never an index scan.
    */
  val SigBands = 8
  val SigBitsPerBand = 8
  val SigMaxBitsPerBand = graft.operators.Dedup.SigMaxBitsPerBand
  val SigSeed = 42L
  val SigRetrainInflation = 4.0

  /** Size-driven signature geometry, FROZEN per index version. The
    * policy itself (b = clamp(8, 26, ⌈log₂n⌉ − 4), valid to n = 2³⁰ and
    * the 100 TB decade — derivation and measured decade costs in the
    * owner's doc) lives with the raw zone writers it also defaults:
    * [[graft.operators.Dedup.sigGeometry]]. This alias keeps the
    * lifecycle call sites (and the published `IndexRun.sigGeometry`
    * spec/citation surface) stable.
    */
  def sigGeometry(n: Long): (Int, Int) = graft.operators.Dedup.sigGeometry(n)

  /** Semantic-cluster index stage (the SemDeDup-zone analog of the IVF
    * stage; CorpusRun's corpus/sem_index zone runs the same lifecycle
    * inline — without it, k frozen at day 1 means per-cluster occupancy
    * grows linearly with the corpus and the within-cluster ε-ball
    * workload quadratically).
    * The drift signal is MEAN OCCUPANCY N/k, read from the per-cluster
    * state zone (one kilobyte-scale agg — never an index scan); the
    * retrain trips when it exceeds `SemTargetOccupancy ×
    * SemOccupancyInflation` and re-clusters the zone's own vectors at
    * k′ = ⌈N / SemTargetOccupancy⌉ into the next version with an atomic
    * pointer flip — the sig-stage protocol verbatim. Daily appends
    * assign the increment against the version's FROZEN centroid artifact
    * (k rows written at build time — zero corpus aggregation, and the
    * geometry every stored label is argmin over, so identical vectors
    * always co-cluster with their stored representative), exactly the
    * CorpusRun daily path; the mergeable state zone carries the
    * occupancy signal.
    */
  val SemTargetOccupancy = 1024
  val SemOccupancyInflation = 2.0
  val SemIters = 2

  /** The live index version — `<base>/CURRENT` names a `v<N>` subdir.
    * Retrain builds `v<N+1>` completely (the old version keeps serving),
    * then flips this pointer in one rename: there is no state in which
    * new centroids can pair with old assignments. A missing/corrupt
    * pointer recovers to the highest complete version on disk.
    */
  private def pointer(base: String) = new org.apache.hadoop.fs.Path(s"$base/CURRENT")

  private def fsFor(spark: SparkSession, base: String) =
    new org.apache.hadoop.fs.Path(base).getFileSystem(spark.sessionState.newHadoopConf())

  /** Resolve the live version's path, or None for a brand-new index.
    * Falls back to the highest on-disk `v<N>` whose META completed (meta
    * is the LAST thing [[SimilaritySearch.buildIvfIndexDaily]] writes —
    * an assignments-only dir is a crashed build with no drift baseline,
    * and treating it as complete would make the append path silently
    * adopt that day's increment as the baseline). The fallback does NOT
    * rewrite the pointer — readers may race — the single-writer nightly
    * run repairs it ([[repairPointer]]).
    */
  def currentIndexPath(spark: SparkSession, base: String): Option[String] =
    resolveCurrent(spark, base, "meta/_SUCCESS")

  /** The live SIGNATURE index version under `<whDir>/index/sig` — meta is
    * written last, so its marker is the version-complete signal.
    */
  def currentSigIndexPath(spark: SparkSession, base: String): Option[String] =
    resolveCurrent(spark, base, "meta/_SUCCESS")

  private[graft] def resolveCurrent(
      spark: SparkSession, base: String, completeMarker: String): Option[String] = {
    val fs = fsFor(spark, base)
    def complete(p: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$p/$completeMarker"))
    val fromPointer =
      if (!fs.exists(pointer(base))) None
      else {
        val in = fs.open(pointer(base))
        val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        Some(s"$base/$v").filter(complete)
      }
    fromPointer.orElse {
      if (!fs.exists(new org.apache.hadoop.fs.Path(base))) None
      else fs.listStatus(new org.apache.hadoop.fs.Path(base)).toSeq
        .map(_.getPath.getName)
        .filter(_.matches("v\\d+"))
        .filter(v => complete(s"$base/$v"))
        .sortBy(_.drop(1).toInt)
        .lastOption
        .map(s"$base/" + _)
    }
  }

  private[pipeline] def writePointer(spark: SparkSession, base: String, version: String): Unit = {
    val fs = fsFor(spark, base)
    val tmp = new org.apache.hadoop.fs.Path(s"$base/CURRENT.__tmp__")
    val out = fs.create(tmp, true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    // delete+rename: the gap is covered by currentIndexPath's
    // highest-version recovery, so a crash here is still consistent
    fs.delete(pointer(base), false)
    if (!fs.rename(tmp, pointer(base)))
      throw new java.io.IOException(s"pointer flip failed for $base")
  }

  /** Rewrite a missing/stale pointer at the resolved live version — the
    * self-heal after a crash inside writePointer's delete+rename window.
    * Runs ONLY from the nightly job (under the single-writer ledger
    * gate); daytime readers just fall back to the directory listing, so
    * they never race each other rewriting CURRENT.
    */
  private[pipeline] def repairPointer(spark: SparkSession, base: String, live: String): Unit = {
    val fs = fsFor(spark, base)
    val want = live.split('/').last
    val ok = fs.exists(pointer(base)) && {
      val in = fs.open(pointer(base))
      val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      v == want
    }
    if (!ok) writePointer(spark, base, want)
  }

  private[pipeline] def versionOf(path: String): Int =
    path.split('/').last.drop(1).toInt

  /** Delete index versions other than the live one. Runs at the START
    * of each run, never at flip time: a retired version therefore
    * survives a full run-cycle as a GRACE copy — a daytime reader that
    * resolved CURRENT just before a retrain's flip can finish its scan
    * (deleting at flip time would yank files mid-query), and by the next
    * nightly run every such reader is long done. Also reclaims crashed
    * retrains' never-flipped builds; the single-writer ledger gate
    * guarantees nobody is mid-build here.
    */
  private[pipeline] def sweepRetired(spark: SparkSession, base: String, live: String): Unit = {
    val fs = fsFor(spark, base)
    if (fs.exists(new org.apache.hadoop.fs.Path(base)))
      fs.listStatus(new org.apache.hadoop.fs.Path(base)).toSeq
        .map(_.getPath)
        .filter(p => p.getName.matches("v\\d+") && p.getName.drop(1).toInt != versionOf(live))
        .foreach(fs.delete(_, true))
  }

  /** (N, C): corpus size and bucket concentration, derived ENTIRELY from
    * the day-partitioned counts zone (Σ over bands of bucket sizes is
    * bands·N, so no index scan even for the denominator).
    */
  private def sigConcentration(
      spark: SparkSession, versionPath: String, bands: Int): (Long, Double) = {
    val totals = spark.read.parquet(s"$versionPath/counts")
      .groupBy("band", "key").agg(sum("__n").as("n"))
    val row = totals.agg(
      sum(expr("n * (n - 1)")), sum(col("n"))).head()
    if (row.isNullAt(1)) return (0L, 0.0)
    val mass = if (row.isNullAt(0)) 0L else row.getLong(0)
    val n = row.getLong(1) / bands
    (n, if (n < 2) 0.0 else mass.toDouble / (bands.toDouble * n * (n - 1)))
  }

  /** Day-partitioned (band, key) counts of one keyed batch — shared by
    * build and append so the concentrations they feed are computed from
    * bit-identical derivations.
    */
  private def sigCounts(keyed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    keyed.select(col("ingest_day"), posexplode(col("bkeys")).as(Seq("band", "key")))
      .groupBy("ingest_day", "band", "key").agg(count(lit(1)).as("__n"))

  /** Build one signature-index version from (id, v, ingest_day) rows —
    * day partitions preserved (so a later day retry still owns exactly
    * its partition inside the rebuilt version) and meta written LAST as
    * the completeness marker. The target dir is truncated first: an
    * incomplete dir at this path is by definition a crashed build (no
    * meta marker), and dynamic overwrite alone would let its orphan day
    * partitions survive inside the 'fresh' version, desyncing the index
    * contents from meta/counts forever. `ingest_day` rides THROUGH the
    * signature computation (carryCols), never joined back by id — a
    * re-ingested id present on two days would square its rows and
    * cross-assign vectors to the wrong day partitions.
    */
  private def buildSigVersion(
      spark: SparkSession, vPath: String,
      rows: org.apache.spark.sql.DataFrame, seed: Long,
      bands: Int, bitsPerBand: Int): (Long, Double) = {
    import graft.operators.Dedup
    fsFor(spark, vPath).delete(new org.apache.hadoop.fs.Path(vPath), true)
    val keyed = Dedup.embeddingSignatureRows(
        rows, "id", "v", bands, bitsPerBand, seed, carryCols = Seq("ingest_day"))
      .localCheckpoint()
    val dim = keyed.agg(first(size(col("v")))).head().getInt(0)
    Zones.replacePartitions(keyed, s"$vPath/index", Seq("ingest_day"))
    Zones.replacePartitions(sigCounts(keyed), s"$vPath/counts", Seq("ingest_day"))
    val (n, c) = sigConcentration(spark, vPath, bands)
    import spark.implicits._
    Seq((n, seed, bands, bitsPerBand, dim, c))
      .toDF("n_vectors", "seed", "bands", "bits_per_band", "dim", "baseline_concentration")
      .write.mode("overwrite").parquet(s"$vPath/meta")
    (n, c)
  }

  /** The signature-index leg of the nightly run: build day 1, day-scoped
    * signature append after, concentration drift measured per day and
    * re-seed + rebuild + pointer flip when it trips. Returns the ledger
    * message fragment.
    */
  private[pipeline] def sigStage(
      spark: SparkSession,
      base: String,
      increment: org.apache.spark.sql.DataFrame,
      idCol: String,
      vecCol: String,
      runDate: String,
      retrainInflation: Double): String = {
    import graft.operators.Dedup
    val v = increment
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("ingest_day", lit(runDate))
    SemVersions.withLive(spark, base) {
      // emptiness judged AFTER the null-vector filter (an all-null
      // increment must not crash the dim lookup inside the build);
      // the count doubles as the geometry policy's input
      val n0 = v.filter(col("v").isNotNull).count()
      if (n0 == 0) "SIG: empty increment, nothing to build."
      else {
        val (gBands, gBits) = sigGeometry(n0)
        val (n, c) = buildSigVersion(spark, s"$base/v1", v, SigSeed, gBands, gBits)
        writePointer(spark, base, "v1")
        f"SIG: BUILT lsh(${gBands}x$gBits) v1 from $n vector(s), " +
          f"concentration $c%.5f."
      }
    } { live =>
        val meta = spark.read.parquet(s"$live/meta").head()
        val seed = meta.getAs[Long]("seed")
        val c0 = meta.getAs[Double]("baseline_concentration")
        // the STORED geometry is the append contract — band keys from a
        // different (bands, bitsPerBand, dim) are meaningless against the
        // standing ones (same seed, different hyperplanes), so the
        // increment is keyed under what the version was BUILT with, never
        // under this binary's defaults; growth past a policy step is the
        // geometry trip's job below, not a silent re-key
        val bands = meta.getAs[Int]("bands")
        val bits = meta.getAs[Int]("bits_per_band")
        val keyed = Dedup.embeddingSignatureRows(
            v, "id", "v", bands, bits, seed)
          .withColumn("ingest_day", lit(runDate))
          .localCheckpoint()
        val nApp = keyed.count()
        if (nApp > 0) {
          val incDim = keyed.agg(first(size(col("v")))).head().getInt(0)
          val idxDim = meta.getAs[Int]("dim")
          require(incDim == idxDim,
            s"signature index at $live holds $idxDim-dim vectors; the increment is " +
              s"$incDim-dim — same seed, different hyperplanes. Rebuild, don't mix.")
          Zones.replacePartitions(keyed, s"$live/index", Seq("ingest_day"))
          Zones.replacePartitions(sigCounts(keyed), s"$live/counts", Seq("ingest_day"))
        }
        val (n, c) = sigConcentration(spark, live, bands)
        // reference = max(baseline, random-hash floor): below 2^-r the
        // buckets are balanced by construction and differences are noise
        val floor = math.pow(2.0, -bits)
        val ref = math.max(c0, floor)
        val ratio = if (ref > 0) c / ref else 1.0
        // two independent rebuild trips: CONCENTRATION (bucket imbalance
        // — the data moved under the planes; cured by re-seeding) and
        // GEOMETRY (the corpus outgrew the band width — concentration is
        // blind to this: balanced 2^-b buckets at 2^(b+5) rows sit at the
        // floor while every probe row drags 2⁵ random candidates per
        // band; cured by wider bands, same seed). Both rebuild into the
        // next version at the policy geometry for the corpus as it now
        // stands, so one rebuild settles both signals.
        val (gBands, gBits) = sigGeometry(n)
        val geomTrip = gBits > bits
        val head = f"SIG: appended $nApp vector(s), concentration $c%.5f " +
          f"(ratio $ratio%.2f vs ref $ref%.5f, retrain at $retrainInflation%.1fx)."
        if (ratio > retrainInflation || geomTrip) {
          val all = spark.read.parquet(s"$live/index")
            .select(col("id"), col("v"), col("ingest_day").cast("string").as("ingest_day"))
          val nextSeed = if (ratio > retrainInflation) seed + 1 else seed
          val (nextV, (nR, cR)) = SemVersions.flipToNext(spark, base, live)(
            vPath => buildSigVersion(spark, vPath, all, nextSeed, gBands, gBits))
          val why =
            if (ratio > retrainInflation && geomTrip)
              f"concentration + corpus growth (re-seeded to ${nextSeed}, " +
                f"widened to lsh(${gBands}x$gBits))"
            else if (ratio > retrainInflation)
              f"concentration (re-seeded planes, seed $nextSeed, lsh(${gBands}x$gBits))"
            else
              f"corpus growth (lsh(${bands}x$bits) → lsh(${gBands}x$gBits), seed kept)"
          head + f" RETRAINED: $nextV rebuilt ($nR vector(s)) — $why, " +
            f"baseline reset to $cR%.5f, pointer flipped."
        } else head
    }
  }

  /** Probe the live signature index for near-duplicates of `increment`
    * under the version's OWN stored geometry and seed — the only correct
    * way to query a size-policy index (a caller passing this binary's
    * default geometry against a version built wider would compute keys
    * from different hyperplanes and silently match nothing). Reads meta
    * (kilobytes) for the geometry; the probe counts its bloom-pruned
    * survivors for the hot-bucket defense, so the version's counts zone
    * (read by the concentration policy) is not consulted. Returns
    * (id_a < id_b) pairs at cosine ≥ `threshold`, or an empty pair
    * frame when no version is live yet.
    */
  def sigQuery(
      spark: SparkSession,
      base: String,
      increment: org.apache.spark.sql.DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBucket: Int = graft.operators.Dedup.DefaultMaxBucket): org.apache.spark.sql.DataFrame = {
    import graft.operators.Dedup
    currentSigIndexPath(spark, base) match {
      case None =>
        increment.select(col(idCol).as("id_a"), col(idCol).as("id_b")).limit(0)
      case Some(live) =>
        val meta = spark.read.parquet(s"$live/meta").head()
        Dedup.embeddingNearDupIncremental(
          spark.read.parquet(s"$live/index"), increment, idCol, vecCol, threshold,
          bands = meta.getAs[Int]("bands"),
          bitsPerBand = meta.getAs[Int]("bits_per_band"),
          seed = meta.getAs[Long]("seed"),
          maxBucket = maxBucket)
    }
  }

  /** Build one semantic-cluster index version from (id, v, ingest_day)
    * rows at k = ⌈n/targetOccupancy⌉ — the SHARED lifecycle
    * ([[SemVersions]]: frozen geometry, realized meta k, meta-last
    * completeness marker, target dir truncated first). Returns (n, k).
    */
  private def buildSemVersion(
      spark: SparkSession, vPath: String,
      rows: org.apache.spark.sql.DataFrame, targetOccupancy: Int): (Long, Int) = {
    val v = rows.localCheckpoint()
    val dim = v.select(first(size(col("v")))).head().getInt(0)
    SemVersions.buildVersionAtTargetK(spark, vPath, v, dim, targetOccupancy, SemIters)
  }

  /** The semantic-cluster leg of the nightly run: build day 1 at
    * k = ⌈n/target⌉, state-derived assignment append after, mean
    * occupancy measured per day from the state zone and re-cluster at
    * grown k′ + pointer flip when it trips. Returns the ledger message
    * fragment.
    */
  private[pipeline] def semStage(
      spark: SparkSession,
      base: String,
      increment: org.apache.spark.sql.DataFrame,
      idCol: String,
      vecCol: String,
      runDate: String,
      targetOccupancy: Int = SemTargetOccupancy,
      occupancyInflation: Double = SemOccupancyInflation): String = {
    import graft.operators.Clustering
    val v = increment
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .withColumn("ingest_day", lit(runDate))
    SemVersions.withLive(spark, base) {
      if (v.isEmpty) "SEM: empty increment, nothing to build."
      else {
        val (n, k) = buildSemVersion(spark, s"$base/v1", v, targetOccupancy)
        writePointer(spark, base, "v1")
        f"SEM: BUILT cluster index v1 — $n vector(s) at k=$k " +
          f"(target occupancy $targetOccupancy)."
      }
    } { live =>
        val meta = spark.read.parquet(s"$live/meta").head()
        val k = meta.getAs[Int]("k")
        val idxDim = meta.getAs[Int]("dim")
        // STATE repair: an assign day without a state partition (crash
        // between the two writes of a day that was never retried) would
        // silently starve tomorrow's centroids of that day's mass —
        // reseed missing days from the assignment zone, the CorpusRun
        // coverage discipline (no month folds here, so a plain day diff)
        val assignDays = CorpusRun.listIngestDays(spark, s"$live/assign").toSet - runDate
        val stateDays = CorpusRun.listIngestDays(spark, s"$live/state").toSet
        val missing = (assignDays -- stateDays).toSeq
        if (missing.nonEmpty)
          Zones.replacePartitions(
            Clustering.centroidState(
              spark.read.parquet(s"$live/assign")
                .withColumn("ingest_day", col("ingest_day").cast("string"))
                .filter(col("ingest_day").isin(missing: _*)),
              "v", "cluster", idxDim, carryCols = Seq("ingest_day")),
            s"$live/state", Seq("ingest_day"))
        // prior-days state only: today's own retry leftovers must not
        // shift the centroids the day re-derives
        val priorState = spark.read.parquet(s"$live/state")
          .withColumn("ingest_day", col("ingest_day").cast("string"))
          .filter(col("ingest_day") < runDate)
          .select("cid", "sums", "n")
        if (priorState.isEmpty && assignDays.isEmpty) {
          // DAY-1 RETRY: the live version's only content is this day's
          // failed attempt (meta is written last, so a resolved version
          // always has assign+state — but all of it from today). No
          // prior centroids exist to append against; rebuild the version
          // from the retried increment — day-scoped semantics preserved
          // because there are no other days to preserve. The assignDays
          // guard is the BACKFILL case: priorState is also empty when
          // re-running the chronologically earliest day while LATER days
          // live in the version (the state filter admits < runDate only)
          // — rebuilding then would destroy those days' rows and the
          // frozen geometry, so such a day falls through to the
          // non-destructive append arm instead.
          if (v.isEmpty) "SEM: empty increment, nothing to rebuild."
          else {
            val (n1, k1) = buildSemVersion(spark, live, v, targetOccupancy)
            f"SEM: REBUILT ${live.split('/').last} (day-1 retry) from " +
              f"$n1 vector(s) at k=$k1."
          }
        } else {
        val keyed = v.localCheckpoint()
        val nApp = keyed.count()
        if (nApp > 0) {
          val incDim = keyed.agg(first(size(col("v")))).head().getInt(0)
          require(incDim == idxDim,
            s"semantic index at $live holds $idxDim-dim vectors; the increment " +
              s"is $incDim-dim — rebuild, don't mix")
          // assign against the version's FROZEN centroid artifact (see
          // buildSemVersion) — the state zone stays the occupancy signal.
          // A version built before the frozen-geometry layout has no
          // centroids artifact: refuse with a migration message instead
          // of a raw path-not-found crash (the CorpusRun sem_assign
          // discipline) — appending under re-derived geometry would let
          // boundary twins separate.
          val centsPath = s"$live/centroids"
          require(Zones.exists(spark, centsPath),
            s"semantic index at $live predates the frozen-geometry layout " +
              "(no centroids artifact) — rebuild the version or trigger a " +
              "re-cluster to materialize its geometry before appending")
          val cents = spark.read.parquet(centsPath)
          val assigned = Clustering.assignFused(keyed, "id", "v", cents)
            .select(col("id"), col("cluster"))
            .join(keyed, Seq("id"))
            .localCheckpoint()
          Zones.replacePartitions(assigned, s"$live/assign", Seq("ingest_day"))
          Zones.replacePartitions(
            Clustering.centroidState(assigned, "v", "cluster", idxDim,
              carryCols = Seq("ingest_day")),
            s"$live/state", Seq("ingest_day"))
        }
        // occupancy from the state zone: Σn / k — one kilobyte agg; the
        // re-cluster itself is the SHARED lifecycle ([[SemVersions]])
        val (_, _, occupancy) = SemVersions.occupancyOf(spark, live)
        val trip = targetOccupancy * occupancyInflation
        val head = f"SEM: appended $nApp vector(s), occupancy $occupancy%.1f " +
          f"(k=$k, re-cluster at $trip%.1f)."
        SemVersions.reclusterIfTripped(
          spark, base, live, targetOccupancy, occupancyInflation, SemIters) match {
          case None => head
          case Some((_, _, kR, nR, nextV)) =>
            head + f" RECLUSTERED: $nextV rebuilt ($nR vector(s)) at k=$kR, " +
              "pointer flipped."
        }
        }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        """usage: runMain graft.pipeline.IndexRun <incrementDir> <warehouseDir> "<yyyy-MM-dd HH:mm:ss>"""")
      sys.exit(2)
    }
    val Array(incrementDir, whDir, runTs) = args.take(3)
    val spark = Sessions
      .builder("graft-index", Sessions.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val outcome = run(spark, incrementDir, whDir, runTs)
    println(s"""{"pipeline":"$ProcessName","outcome":"$outcome"}""")
    spark.stop()
  }

  /** Returns "SKIPPED" (gate) or "SUCCESS"; rethrows after recording a
    * FAILED ledger row if any stage fails ([[RunLedger.guarded]]).
    */
  def run(
      spark: SparkSession,
      incrementDir: String,
      whDir: String,
      runTs: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nCells: Int = NCells,
      retrainInflation: Double = RetrainInflation,
      sigRetrainInflation: Double = SigRetrainInflation,
      semTargetOccupancy: Int = SemTargetOccupancy,
      semOccupancyInflation: Double = SemOccupancyInflation): String = {
    val runDate = runTs.substring(0, 10)
    RunLedger.guarded(spark, s"$whDir/control/index_log", ProcessName, runTs) {
      val indexBase = s"$whDir/index/ivf"
      // a NULL embedding (a failed upstream embed) is unindexable by
      // either leg — dropped here once, so the quantizer sample can't
      // NPE and a corrupt row can't land as a null-cell assignment
      val increment = spark.read.parquet(incrementDir)
        .filter(col(vecCol).isNotNull)
      val ivfMessage =
        SemVersions.withLive(spark, indexBase) {
            // BOOTSTRAP: the quantizer needs ≥ k sample vectors, but the
            // first day's increment owes the pipeline nothing — an empty
            // day defers the build (like the sig stage), a small day
            // clamps k to what arrived (an IVF with few cells is merely
            // coarse, and the drift policy retrains it at full k as the
            // zone grows — never a permanently FAILED bootstrap)
            val nDay1 = increment.count()
            if (nDay1 == 0) s"Index day $runDate: empty increment, nothing to build."
            else {
              val k = math.min(nCells.toLong, nDay1).toInt
              SimilaritySearch.buildIvfIndexDaily(
                spark, s"$indexBase/v1", increment, idCol, vecCol, k, runDate)
              writePointer(spark, indexBase, "v1")
              val n = spark.read.parquet(s"$indexBase/v1/meta")
                .select("n_vectors").head().getLong(0)
              s"Index day $runDate: BUILT ivf($k) v1 from $n vector(s)." +
                (if (k < nCells) s" (k clamped from $nCells to the day-1 corpus)" else "")
            }
        } { live =>
            val st = SimilaritySearch.appendIvfIndexDaily(
              spark, live, increment, idCol, vecCol, runDate, retrainInflation)
            // a zero baseline (≤ nCells distinct day-1 vectors quantize
            // exactly) gives no ratio to report — the retrain decision
            // (any nonzero increment error trips it) resets the baseline
            // from the full zone, so this prints at most once per epoch
            val drift =
              if (st.baselineMeanDist2 > 0)
                f"quantization drift ${st.incrementMeanDist2 / st.baselineMeanDist2}%.3f "
              else "quantization drift n/a (zero baseline) "
            val base = f"Index day $runDate: appended ${st.nAppended} vector(s), " +
              drift +
              f"(increment ${st.incrementMeanDist2}%.4f vs baseline ${st.baselineMeanDist2}%.4f, " +
              f"retrain at ${retrainInflation}%.1fx)."
            if (st.needsRetrain) {
              // retrain at full nCells unless the zone is still smaller
              // (the day-1 clamp's recovery path: each retrain raises k
              // toward nCells as the corpus grows)
              val zoneN = spark.read.parquet(s"$live/assignments").count()
              val k = math.min(nCells.toLong, zoneN).toInt
              val (nextV, _) = SemVersions.flipToNext(spark, indexBase, live)(
                vPath => SimilaritySearch.retrainIvfIndexDaily(spark, live, vPath, k))
              // the retired version is NOT deleted here: it stays one
              // cycle for in-flight readers and is swept next run
              base + s" RETRAINED: $nextV rebuilt from the full zone at ivf($k), " +
                "baseline reset, pointer flipped."
            } else base
        }
      // the LSH signature index rides the same nightly increment — its
      // own version lineage, drift signal, and pointer under index/sig
      ivfMessage + " " + sigStage(
        spark, s"$whDir/index/sig", increment, idCol, vecCol, runDate,
        sigRetrainInflation) + " " + semStage(
        spark, s"$whDir/index/sem", increment, idCol, vecCol, runDate,
        semTargetOccupancy, semOccupancyInflation)
    }
  }
}

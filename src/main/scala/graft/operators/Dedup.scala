package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.Sessions

/** Deduplication operators for training-data pipelines, from exact to
  * near-duplicate. Beyond-reference scope (the reference has no dedup; its
  * closest analog is the INSERT IGNORE key-dedup, db_staging_sql.sql:94-96).
  *
  * Scale design:
  *  - exact dedup is one hash-aggregate shuffle on the (fingerprinted) key;
  *  - MinHash+LSH is the 100 TB path: cost is O(docs × shingles × hashes)
  *    map-side plus a shuffle keyed on (band, bandKey) whose groups are
  *    only candidate buckets — never the all-pairs cross join;
  *  - brute-force n-gram Jaccard is kept as the small-scale oracle of the
  *    LSH path (identical pair construction, no banding).
  *
  * Hash-function choice: MinHash/SimHash signatures use Spark-native
  * xxhash64 (fast, codegen-friendly). Signatures are internal: the LSH
  * outputs are confirmed with exact Jaccard before emission, so the
  * external DuckDB gate can still verify results against hash-free brute
  * force. Exact dedup keys on md5 (standard everywhere) so its
  * fingerprints are portable across engines.
  *
  * Cache lifecycle: the pair operators `.cache()` their shingle/signature
  * frames (consumed 2-3× within one job). The handles stay pinned for the
  * session — long-lived drivers looping over corpora should
  * `spark.catalog.clearCache()` (or unpersist) between batches, as
  * graft.Bench does.
  */
object Dedup {

  /** Hot-bucket bound for every LSH band join: no join task ever holds
    * more than ~`DefaultMaxBucket`² candidate pairs of one bucket. Real
    * corpora are boilerplate-heavy — one shared page template can put
    * tens of thousands of docs behind a single (band, key), and a plain
    * bucket join then builds that bucket's full quadratic candidate set
    * in ONE task. The defense is EXACT (grid decomposition, below), so
    * the pair set is bitwise identical with the defense engaged or
    * dormant; 4096² ≈ 17M narrow candidate rows is a healthy task.
    */
  val DefaultMaxBucket = 4096

  /** Absolute slack for the double-evaluated PRUNING bounds (size-ratio
    * and PPJoin overlap/prefix inequalities): the exact bounds are
    * rational, and double rounding can land a hair above the true value
    * — over-REQUIRING and silently pruning a pair whose true Jaccard
    * sits exactly on the threshold (e.g. 18·(0.2/1.2) ceils to 4, exact
    * bound 3). Filters may only over-admit (the Jaccard confirm is
    * exact), so every pruning comparison subtracts/adds this slack;
    * 1e-6 dwarfs the FP error (≤ ~1e-9 at shingle counts ≤ 1e6) while
    * admitting only candidates within a hair of the bound.
    */
  private val FpSlack = 1e-6

  /** Per-(band, key) row counts of a bucketed frame — the precomputable
    * side input of [[boundedBucketJoin]]. Operators issuing several
    * bounded joins over the SAME banded frame (a self-join's two sides,
    * an increment's cross-cluster AND within-increment joins) should
    * compute this ONCE and pass it to every call: the count is a full scan of the
    * frame, and re-deriving it per side re-executes whatever produced the
    * frame (hyperplane signatures, banding) unless that work is cached.
    */
  private[graft] def bucketCounts(df: DataFrame): DataFrame =
    df.groupBy("band", "key").agg(count(lit(1)).as("__n"))

  /** Buckets whose size exceeds `maxBucket` on either side, with the two
    * sides' grid factors — the side input of the salted path. When both
    * sides share one count frame (self-join) the list is a plain filter,
    * no join.
    */
  private def oversizedBuckets(
      cxN: DataFrame, cyN: DataFrame, maxBucket: Int): DataFrame =
    if (cxN eq cyN)
      cxN.filter(col("__n") > maxBucket)
        .withColumn("__g", ceil(col("__n").cast("double") / maxBucket).cast("int"))
        .select(col("band"), col("key"), col("__g").as("__gx"), col("__g").as("__gy"))
    else
      cxN.withColumnRenamed("__n", "__cx")
        .join(cyN.withColumnRenamed("__n", "__cy"), Seq("band", "key"))
        .filter(col("__cx") > maxBucket || col("__cy") > maxBucket)
        .select(
          col("band"), col("key"),
          ceil(col("__cx").cast("double") / maxBucket).cast("int").as("__gx"),
          ceil(col("__cy").cast("double") / maxBucket).cast("int").as("__gy"))

  /** [[boundedBucketJoin]] with the oversized-bucket list (and its
    * emptiness verdict) supplied by the caller — the shape for operators
    * that answer several joins' verdicts with one action.
    */
  private def boundedBucketJoinWith(
      x: DataFrame,
      y: DataFrame,
      xId: String,
      yId: String,
      oversized: DataFrame,
      dormant: Boolean,
      keepSalts: Boolean = false): DataFrame =
    if (dormant) {
      // every salt would be (0, 0): the plain 2-key join is bitwise
      // identical and skips the broadcast + per-row explode machinery
      val joined = x.join(y, Seq("band", "key"))
      if (keepSalts)
        joined.withColumn("__saltx", lit(0)).withColumn("__salty", lit(0))
      else joined
    } else {
      val xs = x.join(broadcast(oversized), Seq("band", "key"), "left")
        .withColumn("__saltx",
          when(col("__gx").isNull, lit(0))
            .otherwise(pmod(xxhash64(col(xId)), col("__gx")).cast("int")))
        .withColumn("__salty", explode(sequence(lit(0), coalesce(col("__gy"), lit(1)) - 1)))
        .drop("__gx", "__gy")
      val ys = y.join(broadcast(oversized), Seq("band", "key"), "left")
        .withColumn("__salty",
          when(col("__gy").isNull, lit(0))
            .otherwise(pmod(xxhash64(col(yId)), col("__gy")).cast("int")))
        .withColumn("__saltx", explode(sequence(lit(0), coalesce(col("__gx"), lit(1)) - 1)))
        .drop("__gx", "__gy")
      val joined = xs.join(ys, Seq("band", "key", "__saltx", "__salty"))
      if (keepSalts) joined else joined.drop("__saltx", "__salty")
    }

  /** Exact bounded join of two (band, key)-bucketed frames — the
    * hot-bucket policy behind every LSH candidate join. Bucket sizes are
    * counted per side (one narrow shuffle each, same key as the join,
    * or a precomputed/shared [[bucketCounts]] frame); buckets where
    * either side exceeds `maxBucket` are GRID-SALTED: the
    * x side splits into gx = ⌈cx/maxBucket⌉ hash chunks, the y side into
    * gy, and each row is replicated across the other side's chunk axis,
    * so the join key (band, key, saltx, salty) partitions the bucket's
    * candidate pairs into gx×gy cells of ≤ ~maxBucket² pairs — every
    * original pair lands in EXACTLY one cell (its (hash(xId) mod gx,
    * hash(yId) mod gy) coordinates), hence the exactness. Normal buckets
    * pay zero replication (salt (0,0)). The oversized-bucket list rides
    * as a broadcast: boilerplate templates are few even when their
    * buckets are huge.
    */
  private[graft] def boundedBucketJoin(
      x: DataFrame,
      y: DataFrame,
      xId: String,
      yId: String,
      maxBucket: Int = DefaultMaxBucket,
      keepSalts: Boolean = false,
      xCounts: Option[DataFrame] = None,
      yCounts: Option[DataFrame] = None): DataFrame = {
    require(maxBucket > 0, "maxBucket must be positive")
    // a self-join's two sides share one count frame (callers pass the
    // SAME Option instance) — the oversized list then needs no join
    val shared = (xCounts, yCounts) match {
      case (Some(a), Some(b)) => a eq b
      case _ => false
    }
    val cxN = xCounts.getOrElse(bucketCounts(x))
    val cyN = if (shared) cxN else yCounts.getOrElse(bucketCounts(y))
    val oversized = oversizedBuckets(cxN, cyN, maxBucket).cache()
    // DORMANT FAST PATH — the overwhelmingly common case: no bucket over
    // the bound. One driver-side emptiness probe of the tiny aggregated
    // list picks the plain 2-key join; output bitwise identical by the
    // exactness of the decomposition.
    boundedBucketJoinWith(x, y, xId, yId, oversized, oversized.isEmpty, keepSalts)
  }

  /** Exact dedup on a normalized text key: keeps the smallest id per
    * distinct content, with the duplicate count.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
        TextAnalysis.fingerprintMd5(col(textCol)).as("fp"),
        col(idCol))
      .groupBy("fp")
      .agg(min(idCol).as(idCol), count(lit(1)).as("n_copies"))

  /** |A∩B| on sorted hash arrays: fused two-pointer kernel when the
    * session registers it, hash-set `array_intersect` fallback.
    */
  private def intersectCount(a: Column, b: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (spark.catalog.functionExists("sorted_intersect_count"))
      call_function("sorted_intersect_count", a, b)
    else size(array_intersect(a, b))
  }

  /** id + distinct word-n-gram shingle set, the shared front of the
    * Jaccard/MinHash paths. `hgrams` carries the SORTED xxhash64 image of
    * the shingle set: candidate joins move 8-byte longs instead of strings
    * and intersections run as two-pointer merges (same set cardinalities
    * up to a ~n²/2⁶⁴ collision chance — negligible).
    */
  private def shingled(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // the emptiness filter runs on TOKEN COUNT, before the gram columns
    // exist: wordNgrams(text, n) is non-empty iff size(tokens) ≥ n, so the
    // row set is identical — but a filter phrased as size(grams) > 0 gets
    // predicate-pushed below the corpus repartition with the WHOLE gram
    // construction (split + transform + concat_ws + array_distinct)
    // inlined into its condition, and evaluates single-threaded in the
    // scan stage (one-row-group parquet input ⇒ one task) while the
    // project above the exchange recomputes it all again — measured 4-5 s
    // of the 7-8 s d2/d3 walls at sf0.1. The token-count form pushes the
    // same way but costs one split per row, and the gram work runs once,
    // parallel, above the exchange.
    df.filter(TextAnalysis.tokenCount(col(textCol)) >= n)
      .select(col(idCol).as("id"), TextAnalysis.wordNgrams(col(textCol), n).as("grams"))
      .withColumn("hgrams", array_sort(transform(col("grams"), g => xxhash64(g))))

  /** All-pairs n-gram Jaccard ≥ threshold via PREFIX FILTERING (PPJoin-
    * style): under a global shingle order (document frequency ascending —
    * rarest first), two docs with Jaccard ≥ t MUST share a shingle within
    * each one's first |g| − ⌈t·|g|⌉ + 1 shingles, so only those prefix
    * postings are indexed. Ultra-common shingles never enter the index —
    * this is what keeps the candidate join from going quadratic on
    * natural-language corpora (a naive inverted index on ALL shingles was
    * ~50s at sf0.1 on this corpus; prefix filtering is lossless for the
    * threshold, so output is identical). A size-ratio bound
    * (t·|a| ≤ |b| ≤ |a|/t) prunes remaining candidates before the exact
    * intersect. Output: (id_a < id_b, jaccard).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    val docs = shingled(df, idCol, textCol, n).cache()
    val postings = docs.select(col("id"), size(col("hgrams")).as("sz"), explode(col("hgrams")).as("g"))
    val dfreq = postings.groupBy("g").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("g"))
    // cached: the prefix postings are BOTH sides of the candidate self-
    // join — without materialization the df join + window ranking runs
    // twice (self-join aliases defeat plan reuse)
    // EVERY pruning bound below carries FpSlack: the bounds are exact
    // rational inequalities evaluated in doubles, and the rounding can
    // land a hair ABOVE the true rational (e.g. 18·(0.2/1.2) =
    // 3.0000000000000004, whose ceil over-requires overlap 4 where the
    // exact bound is 3) — which would PRUNE a pair whose true Jaccard
    // sits exactly on the threshold while brute force (and the DuckDB
    // oracle) emit it. A filter may only ever over-ADMIT (the confirm
    // step is exact); the slack absorbs the FP error (≤ ~1e-10 at any
    // realistic size) without admitting anything materially below t.
    val prefix = postings
      .join(dfreq, "g")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= col("sz") - ceil(col("sz") * threshold - FpSlack) + 1)
      .select("id", "sz", "g", "pos")
      .cache()
    // positional filter (PPJoin): a pair seen at prefix positions (pa, pb)
    // can overlap at most 1 + min(|a|-pa, |b|-pb); J ≥ t needs overlap
    // ≥ ceil(t/(1+t)·(|a|+|b|)) — prune pairs whose best shared prefix
    // position can't reach it, BEFORE fetching the full shingle arrays.
    val cand = prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          col("a.sz") * threshold <= col("b.sz") + FpSlack &&
          col("b.sz") * threshold <= col("a.sz") + FpSlack)
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"),
        (lit(1) + least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos"))).as("ub"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(max(col("ub")).as("ub"))
      .filter(col("ub") >=
        ceil((col("sz_a") + col("sz_b")) * (threshold / (1 + threshold)) - FpSlack))
      .select("id_a", "id_b")
    cand
      .join(docs.select(col("id").as("id_a"), col("hgrams").as("ga")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("hgrams").as("gb")), "id_b")
      .withColumn("inter", intersectCount(col("ga"), col("gb")))
      .withColumn(
        "jaccard",
        col("inter").cast("double") / (size(col("ga")) + size(col("gb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash signature as an array of `numHashes` minima over the hashed
    * shingle set: element i = min over shingles of xxhash64(i, shingle).
    * Long-domain hashing keeps signature computation codegen-cheap (an
    * md5-over-string variant measured ~5× slower end-to-end); the LSH
    * output is still exactly verified because candidates are confirmed
    * with true Jaccard before emission.
    *
    * Uses the fused one-pass kernel ([[graft.functions.MinhashSignature]])
    * when the session registers it — bit-identical to the composed form
    * below, without materializing `numHashes` intermediate arrays per row.
    */
  def minhashSignature(hgrams: Column, numHashes: Int): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (spark.catalog.functionExists("minhash_signature"))
      call_function("minhash_signature", hgrams, lit(numHashes))
    else
      transform(
        sequence(lit(0), lit(numHashes - 1)),
        i => array_min(transform(hgrams, g => xxhash64(i, g))))
  }

  /** MinHash + banded LSH near-dup pairs, exact-Jaccard-confirmed.
    * `numHashes` minhashes split into `bands`; docs sharing any band's full
    * sub-signature become candidates; candidates are then scored with true
    * shingle Jaccard and kept if ≥ threshold. With r = numHashes/bands
    * rows per band, P(candidate | J) = 1-(1-J^r)^bands — size bands so
    * recall at your threshold is ~1 (e.g. 32 hashes / 16 bands: J=0.8 →
    * 1-(1-0.64)^16 ≈ 1-8e-8). The full-recompute form: the corpus's
    * [[signatureIndex]], cached, through [[minhashLshPairsFromIndex]].
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      numHashes: Int, bands: Int, threshold: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashLshPairsFromIndex(signatureIndex(df, idCol, textCol, n, numHashes).cache(),
      numHashes, bands, threshold, maxBucket)

  /** One signature-index row per document — (id, sz, hgrams, sig) — the
    * PERSISTED form that makes near-dup detection incremental: at corpus
    * scale you dedup today's increment against yesterday's index instead
    * of recomputing shingles + signatures for the whole corpus every run
    * (the full-recompute [[minhashLshPairs]] rebuilds O(corpus) state per
    * call; the index makes the daily cost O(increment + candidates)).
    * Signatures are deterministic (xxhash64 over (i, shingle)), so rows
    * computed on different days are directly comparable.
    */
  def signatureIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int): DataFrame =
    shingled(df, idCol, textCol, n)
      .withColumn("sig", minhashSignature(col("hgrams"), numHashes))
      .select(col("id"), size(col("hgrams")).as("sz"), col("hgrams"), col("sig"))

  /** Persist a batch's signature index into a zone (append = the daily
    * increment discipline; "overwrite" to start a corpus).
    */
  def writeSignatureIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      mode: String = "append"): Unit = {
    val geometry = Seq("shingle_n" -> n.toLong, "num_hashes" -> numHashes.toLong)
    val stored = storedGeometry(spark, path, mode)
    guardZoneGeometry(path, stored, geometry)
    val idx = signatureIndex(df, idCol, textCol, n, numHashes).cache()
    // file count from the batch's ROW count, not its partition count
    // (Zones.sizedForWrite): a small increment otherwise lands one
    // near-empty file per upstream partition, and every later probe of
    // the zone pays one scan task per file
    graft.sources.Zones.sizedForWrite(idx, idx.count()).write.mode(mode).parquet(path)
    recordZoneGeometry(spark, path, stored, geometry)
    idx.unpersist()
    ()
  }

  /** Verify a write's declared signature geometry against the zone's
    * `stored` one ([[storedGeometry]]) — the version-meta discipline of
    * the IndexRun lifecycles, applied to the raw zone writers. "Rows
    * written on different days are directly joinable" is only true when
    * every day shingled/hashed/banded identically; without this guard a
    * binary whose constants moved (or a caller passing a different seed)
    * would append keys from DIFFERENT hash functions into one zone —
    * every cross-day probe then silently under-matches, which no per-day
    * gate can see. A zone predating the side-meta (or created by a bare
    * parquet write) verifies vacuously and is adopted by the next
    * append's [[recordZoneGeometry]]; an `overwrite` starts a fresh
    * contract by definition (its stored geometry is None).
    */
  private[graft] def guardZoneGeometry(
      path: String,
      stored: Option[Map[String, Long]],
      fields: Seq[(String, Long)],
      subject: String = "signature zone"): Unit = {
    val have = stored.getOrElse(Map.empty)
    // a field the stored meta predates can't clash — adopt, don't refuse
    val clashes = fields.collect { case (name, want) if have.get(name).exists(_ != want) =>
      s"$name: zone has ${have(name)}, append supplies $want"
    }
    require(clashes.isEmpty,
      s"$subject at $path was written under a different geometry — " +
        clashes.mkString("; ") + ". Rebuild the zone, don't mix hash functions.")
  }

  /** Record (or refresh) the zone's geometry side-meta — see
    * [[guardZoneGeometry]]. Underscore-prefixed, so invisible to the
    * zone's parquet readers (Spark skips `_`-named paths). Unioned with
    * the `stored` fields, so a writer recording fewer fields keeps the
    * others.
    */
  private[graft] def recordZoneGeometry(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      stored: Option[Map[String, Long]],
      fields: Seq[(String, Long)]): Unit = {
    val merged = (stored.getOrElse(Map.empty) ++ fields).toSeq.sortBy(_._1)
    val out = spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row.fromSeq(merged.map(_._2))),
      org.apache.spark.sql.types.StructType(merged.map { case (nm, _) =>
        org.apache.spark.sql.types.StructField(nm, LongType)
      }))
    graft.sources.Zones.overwriteSwap(out, s"$path/_geometry")
  }

  /** The geometry a write in `mode` must agree with and extend: None for
    * an overwrite, which replaces the side-meta with the zone.
    */
  private def storedGeometry(
      spark: org.apache.spark.sql.SparkSession, path: String, mode: String): Option[Map[String, Long]] =
    if (mode == "overwrite") None else readZoneGeometry(spark, path)

  def readSignatureIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Per-(band, key) bucket counts of a signature-index frame — what a
    * pipeline publishes next to each day's index partition, so its
    * [[minhashZoneHealth]] report sums a kilobyte zone instead of
    * recounting the corpus.
    */
  def signatureBucketCounts(index: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bucketCounts(bandedFromSigs(index, numHashes, bands))

  /** One-row health report of a stored MinHash signature zone, computed
    * from its kilobyte bucket-counts frame — the zone's DRIFT SIGNAL.
    *
    * MinHash needs no re-seed/retrain lifecycle (unlike the hyperplane
    * sign-bit index, whose planes are fit to a data distribution that can
    * move): the permutation hashes are content-universal, so recall at a
    * given Jaccard threshold is a pure function of (bands, rowsPerBand) —
    * no corpus shift changes it. What DOES drift operationally is bucket
    * CONCENTRATION — boilerplate templates accreting docs behind single
    * (band, key) buckets — which degrades candidate precision and join
    * cost, never recall. That is what this report measures, and what
    * [[boundedBucketJoin]] already defends exactly at query time; the
    * policy is monitor + bounded join + monthly compaction, not rebuild.
    *
    * Columns: `n_sig_rows` (indexed signatures), `n_buckets`,
    * `max_bucket`, `skew_vs_mean` (max/mean bucket size — the hot-template
    * alarm), `oversized_buckets` (buckets past the [[boundedBucketJoin]]
    * engagement bound — each one costs a grid-salt fan-out), and
    * `candidate_pairs` (Σ n·(n−1)/2 — the exact LSH probe-join workload a
    * full self-join of the zone would pay). Aggregates only the counts
    * frame: never scans the index.
    */
  def minhashZoneHealth(
      counts: DataFrame, bands: Int, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(bands > 0, "bands must be positive")
    require(maxBucket > 0, "maxBucket must be positive")
    counts
      .agg(
        coalesce(sum(col("__n")), lit(0L)).as("__total"),
        count(lit(1)).as("n_buckets"),
        coalesce(max(col("__n")), lit(0L)).as("max_bucket"),
        coalesce(
          sum(when(col("__n") > maxBucket, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("oversized_buckets"),
        // n·(n−1) is even, so the shift is an exact halving
        coalesce(
          sum(col("__n") * (col("__n") - lit(1L))), lit(0L)).as("__pairs2"))
      .select(
        (col("__total") / lit(bands)).cast("bigint").as("n_sig_rows"),
        col("n_buckets"),
        col("max_bucket"),
        when(col("__total") > 0,
          round(col("max_bucket") * col("n_buckets") / col("__total").cast("double"), 2))
          .otherwise(lit(0.0)).as("skew_vs_mean"),
        col("oversized_buckets"),
        shiftright(col("__pairs2"), 1).as("candidate_pairs"))
  }

  /** [[signatureBucketCounts]] grouped additionally by `carryCols` (a
    * day-partition column) — the backfill shape: seed a day-partitioned
    * counts zone from an EXISTING index in one pass, so a corpus that
    * predates the counts zone doesn't leave the health report blind to
    * exactly the historical megabuckets it exists to surface.
    */
  def signatureBucketCountsBy(
      index: DataFrame, numHashes: Int, bands: Int, carryCols: String*): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes (numHashes % bands == 0)")
    val r = numHashes / bands
    val banded = index.select(
      carryCols.map(col) :+ explode(bandKeyStructs(bands, r)).as("bk"): _*)
    banded
      .select(carryCols.map(col) ++ Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*)
      .groupBy((carryCols ++ Seq("band", "key")).map(col): _*)
      .agg(count(lit(1)).as("__n"))
  }

  /** (band, key) rows from STORED signatures — banding is a pure slice
    * of the persisted `sig` array, so index-side candidates never
    * recompute shingles or hashes.
    */
  private[graft] def bandedFromSigs(docs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    // same contract as every pair operator — a non-dividing bands value
    // would silently truncate r and publish counts keyed on band keys no
    // reader produces (the defense would never engage, with no error)
    require(numHashes % bands == 0, "bands must divide numHashes (numHashes % bands == 0)")
    val r = numHashes / bands
    docs.select(
      col("id"),
      col("sz"),
      explode(bandKeyStructs(bands, r)).as("bk"))
      .select(col("id"), col("sz"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Narrow coalesce to a measured-rows-derived width (64 MB target at
    * the caller's estimated bytes/row) — for reads of already-
    * materialized small caches, where scheduling one task per upstream
    * partition costs more than the work (see the incremental probe's
    * note). Grows with the data; never widens an RDD.
    */
  private def coalesceByRows(df: DataFrame, rows: Long, bytesPerRow: Long): DataFrame =
    df.coalesce(Sessions.partitionsFor(rows * bytesPerRow))

  /** [[bandedFromSigs]] that also carries each banded row's SLICE HASH
    * (`__h` — the [[sigSliceHashes]] value for its band, derived with
    * the identical expression): the incremental probe's per-band prune
    * then filters the exploded rows against the SAME bloom the row
    * prefilter used, instead of building a second, string-keyed bloom
    * over (band, key) — one bloom job and one increment pass saved per
    * incremental call.
    */
  private def bandedFromSigsH(docs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes (numHashes % bands == 0)")
    val r = numHashes / bands
    docs.select(
      col("id"),
      col("sz"),
      explode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => struct(
          b.as("band"),
          concat_ws("|", slice(col("sig"), b * r + 1, lit(r))).as("key"),
          // element_at varargs, not a slice: the sigSliceHashes rationale
          xxhash64((b +: (1 to r).map(j =>
            element_at(col("sig"), b * r + lit(j)))): _*).as("h")))).as("bk"))
      .select(
        col("id"), col("sz"),
        col("bk.band").as("band"), col("bk.key").as("key"), col("bk.h").as("__h"))
  }

  /** The ONE band-key derivation: band b's key = the "|"-joined slice of
    * the stored `sig` array — exploded (band, key) structs. Every
    * producer and consumer of banded keys (query-side banding, stored
    * counts, index probes) derives through here, so the key encoding
    * cannot silently fork between what a zone stores and what a reader
    * probes.
    */
  private def bandKeyStructs(bands: Int, r: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band"),
        concat_ws("|", slice(col("sig"), b * r + 1, lit(r))).as("key")))

  /** One 64-bit hash per band, computed straight off the stored `sig`
    * array — `xxhash64(band, slice)` with no string keys and no row
    * explosion. This is the ROW-prefilter hash family for zone scans:
    * the increment publishes a bloom over its own slice hashes
    * ([[sigRowBloom]]) and the zone scan keeps only rows where ANY band
    * might match (`exists` over this array) — an O(zone) vectorized
    * filter in the scan stage, versus the prior shape that exploded the
    * whole zone to bands×rows (band, key-string) rows (16 string
    * concatenations per row, 80M-row expansion at the x1000 corpus)
    * before the band-key bloom could drop anything. No false negatives
    * (same deterministic hash both sides); false positives keep whole
    * rows, whose banded string keys the downstream bloom/join still
    * filters exactly — the candidate set is bit-identical.
    */
  private def sigSliceHashes(sigCol: Column, bands: Int, r: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      // element_at varargs, not xxhash64(slice(...)): slice allocates a
      // fresh array per band per row — measured 3.3 s over a 500k-row
      // zone at 16 bands vs sub-second for the flat form
      b => xxhash64((b +: (1 to r).map(j => element_at(sigCol, b * r + lit(j)))): _*))

  /** Bloom over the increment's per-band slice hashes — the probe side
    * of [[sigSliceHashes]]' row prefilter. One small agg job over the
    * (cached) increment signatures.
    */
  private def sigRowBloom(
      incSigs: DataFrame, bands: Int, r: Int, expectedItems: Long): Array[Byte] =
    ZoneProbes.keyBloom(
      incSigs.select(explode(sigSliceHashes(col("sig"), bands, r)).as("h")),
      Seq("h"), expectedItems)

  /** Zone rows whose ANY band slice-hash the bloom might contain — the
    * row-level analog of [[ZoneProbes.pruneByBloom]], applied BEFORE
    * banding so the explode/key-derivation work runs over survivors
    * only. Exact for every downstream consumer by the
    * [[sigSliceHashes]] argument (superset of rows that can match).
    *
    * Built as a FLAT short-circuiting OR chain of per-band bloom
    * probes, not `exists(transform(...))`: higher-order functions
    * evaluate interpreted (no whole-stage codegen), measured ~6 µs/row
    * at 16 bands — the OR chain codegens and short-circuits on the
    * first hit. The per-band hash mirrors [[sigSliceHashes]] exactly
    * (int band literal + element_at fields, then the keyBloom side's
    * xxhash64 wrap), so no false negatives.
    */
  private def prefilterZoneRows(
      index: DataFrame, bloom: Array[Byte], bands: Int, r: Int): DataFrame =
    index.filter(
      (0 until bands).map { b =>
        call_function("graft_might_contain", lit(bloom),
          xxhash64(xxhash64(
            (lit(b) +: (1 to r).map(j => element_at(col("sig"), b * r + j))): _*)))
      }.reduce(_ || _))

  /** The confirm stage's side-table fetch: candidate ids collected
    * (BOUNDED — one `limit(max+1)` job; candidates come out of the
    * hot-bucket-bounded joins, so the typical daily set is tiny) and
    * pushed into the zone scan as an `isin` — a PUSHABLE parquet
    * predicate, so row-group stats/dictionaries skip the heavy payload
    * column (`hgrams`/vectors) for row groups holding no candidate,
    * instead of streaming the whole corpus zone through the join. Over
    * [[ConfirmFetchMaxIds]] ids (or an empty id set, where the join
    * itself is a no-op) the untouched zone frame returns — the plain
    * streamed join is the honest plan once candidates are a material
    * fraction of the corpus. Extra non-candidate rows kept by either
    * arm are dropped by the confirm's inner joins — result-identical.
    */
  private[graft] val ConfirmFetchMaxIds = 10000

  private[graft] def pruneToCandidateIds(
      zone: DataFrame, idCol: String, cand: DataFrame): DataFrame = {
    val ids = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
      .limit(ConfirmFetchMaxIds + 1).collect().map(_.get(0)).toSeq
    if (ids.isEmpty || ids.length > ConfirmFetchMaxIds) zone
    else zone.filter(col(idCol).isin(ids: _*))
  }

  /** [[prefilterZoneRows]] for embedding-signature zones, whose band
    * keys are STORED (`bkeys` array<long>, position = band): the
    * per-element pair hash `xxhash64(band, key)` is exactly what
    * [[ZoneProbes.keyBloom]] aggregated over the increment's exploded
    * (band, key) rows, so the existing probe bloom doubles as the row
    * prefilter with no second bloom job.
    */
  private def prefilterZoneRowsByBkeys(
      index: DataFrame, bloom: Array[Byte], bands: Int): DataFrame =
    index.filter(
      // flat codegen'd OR chain, same rationale as [[prefilterZoneRows]];
      // per-element hash = the keyBloom side's xxhash64(band, key) over
      // the increment's exploded rows (posexplode band is int, as here)
      (0 until bands).map { i =>
        call_function("graft_might_contain", lit(bloom),
          xxhash64(lit(i), element_at(col("bkeys"), i + 1)))
      }.reduce(_ || _))

  /** Exact-Jaccard confirm of candidate (id_a, id_b) pairs against a
    * (id, hgrams) side table — the shared back end of every LSH path.
    */
  private def confirmPairs(cand: DataFrame, grams: DataFrame, threshold: Double): DataFrame =
    cand
      .join(grams.select(col("id").as("id_a"), col("hgrams").as("ga")), "id_a")
      .join(grams.select(col("id").as("id_b"), col("hgrams").as("gb")), "id_b")
      .withColumn("inter", intersectCount(col("ga"), col("gb")))
      .withColumn(
        "jaccard",
        col("inter").cast("double") / (size(col("ga")) + size(col("gb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Size-ratio bound of a candidate pair (same as the PPJoin path):
    * J ≥ t forces t·|a| ≤ |b| ≤ |a|/t, so mismatched-size bucket-mates are
    * pruned BEFORE the distinct and before shingle arrays are fetched —
    * the confirm join then moves arrays only for pairs that can still win.
    */
  private def sizeRatioOk(a: String, b: String, threshold: Double): Column =
    col(a) * threshold <= col(b) + FpSlack && col(b) * threshold <= col(a) + FpSlack

  /** One side of a MinHash band join: (id_s, sz_s, band, key). */
  private def bandSide(banded: DataFrame, s: String): DataFrame =
    banded.select(col("id").as(s"id_$s"), col("sz").as(s"sz_$s"), col("band"), col("key"))

  /** Near-dup pairs of the INDEXED corpus itself, computed entirely from
    * stored state (sig for banding, hgrams for the confirm) — the day-0
    * backfill / audit shape, and the one MinHash self-join: with the
    * corpus's own [[signatureIndex]] as `index` this IS
    * [[minhashLshPairs]], with zero shingling or hashing in the plan when
    * the index is a stored zone.
    */
  def minhashLshPairsFromIndex(
      index: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // cached: both sides of the bucket self-join (self-join aliases
    // defeat plan reuse), and one bucket-count pass serves both
    val banded = bandedFromSigs(index, numHashes, bands).cache()
    val counts = Some(bucketCounts(banded))
    val cand = boundedBucketJoin(bandSide(banded, "a"), bandSide(banded, "b"),
        "id_a", "id_b", maxBucket, xCounts = counts, yCounts = counts)
      .filter(col("id_a") < col("id_b") && sizeRatioOk("sz_a", "sz_b", threshold))
      .select("id_a", "id_b")
      .distinct()
    confirmPairs(cand, index.select(col("id"), col("hgrams")), threshold)
  }

  /** Incremental MinHash+LSH dedup: NEW near-dup pairs introduced by
    * `increment` against a persisted signature index — the
    * [[minhashLshPairsIncrementalFromSigs]] probe with the increment's
    * [[signatureIndex]] computed here. Union contract (gate d9):
    * [[minhashLshPairsFromIndex]] over the index ∪ this = the
    * full-recompute [[minhashLshPairs]] over index ∪ increment.
    */
  def minhashLshPairsIncremental(index: DataFrame, increment: DataFrame, idCol: String,
      textCol: String, n: Int, numHashes: Int, bands: Int, threshold: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashLshPairsIncrementalFromSigs(index, signatureIndex(increment, idCol, textCol, n,
      numHashes), numHashes, bands, threshold, maxBucket)

  /** NEW near-dup pairs introduced by an increment's signature-index rows
    * against a persisted signature index (increment × index cross-batch
    * pairs ∪ increment-internal pairs). The index side is consumed as
    * stored (sig for banding, hgrams for the exact-Jaccard confirm) — the
    * plan scans the index zone, it never re-shingles the corpus (asserted
    * by PlanAuditSpec). Pipelines that materialize the increment index
    * anyway to publish it (CorpusRun's `daySigs`) pass it here, so the
    * day's text is shingled + hashed once. Increment ids must be new
    * (append-only corpus discipline; a re-crawled id belongs in an
    * SCD-style zone, not a dedup index). Output: (id_a < id_b, jaccard),
    * same as the full form, because signatures/banding/confirmation are
    * all deterministic functions of the text.
    */
  def minhashLshPairsIncrementalFromSigs(
      index: DataFrame,
      incrementIndex: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes (numHashes % bands == 0)")
    // cache(), not localCheckpoint: the two measured inside run noise of
    // each other (graft.Profile, 3 warm d9 walls each way at sf0.1), so
    // the recoverable form wins: a cached partition lost with an executor
    // recomputes from lineage, a localCheckpoint'ed one fails the job
    // (RDD blocks without lineage), and the zone-side LogicalRDD leaf
    // also blinded the d9/e3 scan-prefilter plan audit.
    val inc0 = incrementIndex.cache()
    val incBanded0 = // probe side of BOTH joins
      bandedFromSigs(inc0, numHashes, bands).cache()
    // materialize the banded cache IN PARALLEL before the single-task
    // bloom jobs read through it (an unmaterialized cache under
    // keyBloom's coalesce(1) would compute the increment's shingling
    // serially), and learn the probe size for right-sized blooms
    val nIncBanded = incBanded0.count()
    // downstream reads of the MATERIALIZED increment caches coalesce to a
    // width derived from the measured row count (~100 B/banded row, 64 MB
    // target): the caches inherit the corpus rebalance's one-partition-
    // per-core layout, so the ~5 consumers below each scheduled 64 tasks
    // over kilobyte cache blocks at gate scale. Narrow coalesce over a
    // materialized cache merges block reads — no recompute, no shuffle,
    // and a real increment's width grows with its rows.
    val incBanded = coalesceByRows(incBanded0, nIncBanded, 100L)
    val inc = coalesceByRows(inc0, math.max(1L, nIncBanded / bands), 2000L)
    // the INDEX side is pruned to the increment's band keys BEFORE any
    // exchange: whole buckets are kept, so candidates / bucket counts /
    // grid factors are bit-identical, but the daily shuffle moves
    // O(touched-bucket rows), never the corpus index (ZoneProbes). ONE
    // bloom over the increment's per-band slice hashes serves both
    // prunes — the (band, key) ↔ slice-hash map is 1:1 — riding the plans
    // as a literal. First a row-level zone prefilter BEFORE banding (see
    // [[prefilterZoneRows]]): one codegen'd OR of per-band bloom probes
    // over the stored sig arrays, so only survivors (rows sharing ≥1 band
    // key with the increment, plus bloom fp) explode into (band, key)
    // form; then the per-band prune on each banded row's slice hash. No
    // size gate needed: a key set past the bloom's sizing only raises its
    // fpp, pruning less but never wrongly.
    val rowBloom = sigRowBloom(inc, bands, numHashes / bands, nIncBanded)
    val idxBanded = bandedFromSigsH(
        prefilterZoneRows(index, rowBloom, bands, numHashes / bands), numHashes, bands)
      .filter(call_function("graft_might_contain", lit(rowBloom), xxhash64(col("__h"))))
      .drop("__h")
      // cached: the survivor set feeds BOTH the bucket-count derivation
      // and the cross join — without the cache each re-runs the zone scan
      .cache()
    incrementPairs(
      bandSide(incBanded, "x"), bandSide(idxBanded, "y"), maxBucket,
      sizeRatioOk("sz_x", "sz_y", threshold),
      index.select(col("id"), col("hgrams")), inc.select(col("id"), col("hgrams")),
      confirmPairs(_, _, threshold))
  }

  /** The increment-probe back end of both incremental pair builders
    * (MinHash and embedding): cross-batch candidates (the increment's
    * band rows `incX` probing the stored index's `idxY`) ∪
    * within-increment candidates, each through the exact hot-bucket
    * bounded join, kept by the per-pair filter `keep` (over the `_x` /
    * `_y` columns); then the candidate-id fetch of the stored payload
    * and the caller's `confirm` over (candidates, id + payload rows).
    * Cross-batch ids are normalized so output matches the full
    * recompute's id_a < id_b contract regardless of which batch holds
    * the lower id.
    *
    * `idxY` is the caller's bloom-pruned zone band rows. Pruning keeps
    * WHOLE buckets: every zone row of a (band, key) the increment probes
    * survives (its key is in the bloom by definition), so survivor
    * bucket counts are EXACT for every key the oversized lists consult
    * (only keys the increment holds).
    */
  private def incrementPairs(
      incX: DataFrame,
      idxY: DataFrame,
      maxBucket: Int,
      keep: Column,
      indexPayload: DataFrame,
      incPayload: DataFrame,
      confirm: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // ONE shuffle counts both sides' buckets (a side-tagged union, one
    // group-by) and ONE `isEmpty` decides dormancy for both joins: a join
    // whose own list is empty stays exact on the salted path (every salt
    // is (0, 0)), so a shared verdict never changes a pair
    val ov = incX.select(col("band"), col("key"), lit(1).as("__x"))
      .unionByName(idxY.select(col("band"), col("key"), lit(0).as("__x")))
      .groupBy("band", "key")
      .agg(sum(col("__x")).as("__cx"), sum(lit(1) - col("__x")).as("__cy"))
      .filter(col("__cx") > 0 && (col("__cx") > maxBucket || col("__cy") > maxBucket))
    val dormant = ov.isEmpty
    def grid(n: String) = ceil(col(n).cast("double") / maxBucket).cast("int")
    val ovCross = ov.filter(col("__cy") > 0)
      .select(col("band"), col("key"), grid("__cx").as("__gx"), grid("__cy").as("__gy"))
    val ovWithin = ov.filter(col("__cx") > maxBucket)
      .select(col("band"), col("key"), grid("__cx").as("__gx"), grid("__cx").as("__gy"))
    val incY = incX.select(incX.columns.map(c =>
      if (c.endsWith("_x")) col(c).as(c.dropRight(2) + "_y") else col(c)): _*)
    val crossCand = boundedBucketJoinWith(incX, idxY, "id_x", "id_y", ovCross, dormant)
      .filter(keep)
      .select(
        least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
    val withinCand = boundedBucketJoinWith(incX, incY, "id_x", "id_y", ovWithin, dormant)
      .filter(col("id_x") < col("id_y") && keep)
      .select(col("id_x").as("id_a"), col("id_y").as("id_b"))
    val cand = crossCand.unionByName(withinCand).distinct()
      // cached (not localCheckpoint — the MinHash inc0 note): consumed by
      // the candidate-id collect and the confirm joins
      .cache()
    // the index side is fetched by the BOUNDED candidate-id list (a
    // pushable isin — parquet row groups holding no candidate never
    // stream their payload), not by joining the whole zone through
    // (see [[pruneToCandidateIds]])
    confirm(cand, pruneToCandidateIds(indexPayload, "id", cand).unionByName(incPayload))
  }

  /** 64-bit SimHash per document: per-bit ±1 vote of xxhash64(token) over
    * the token stream (term frequency weighted), sign → bit. Near-dups
    * land within small Hamming distance of each other. One explode + one
    * hash-aggregate shuffle keyed on the doc id — linear at any scale.
    * Spark-native xxhash64 → fast, not oracle-reproducible (covered by
    * ScalaTest instead).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokenHashes = df
      .select(col(idCol).as("id"), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("h"))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"v$b")
    }
    val fp = (0 until 64)
      .map(b => when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _) // bits are disjoint → addition == bitwise OR
    tokenHashes.groupBy("id").agg(votes.head, votes.tail: _*).select(col("id"), fp.as("simhash"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs: fingerprints are cut into equal bit
    * chunks; by pigeonhole, any pair within Hamming distance < nChunks
    * shares at least one exact chunk — bucket-join on (chunk index, chunk
    * value), then confirm with the full Hamming check.
    *
    * nChunks defaults to the smallest power-of-two divisor of 64 that is
    * > maxHamming, which makes the candidate step LOSSLESS (recall 1).
    * Scale note: smaller chunks → more bucket collisions → more candidate
    * pairs. At 100 TB keep maxHamming ≤ 3 (the classic 4×16-bit scheme) so
    * buckets stay selective; large maxHamming is a small-corpus mode.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      nChunks: Int = 0): DataFrame = {
    // the pigeonhole needs nChunks > maxHamming (a pair differing in
    // ≤ maxHamming bits must share at least one untouched chunk);
    // maxHamming ≥ 64 can't satisfy it with 64-bit fingerprints — the
    // silent fallback would miss complementary pairs, so refuse loudly
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63] for 64-bit fingerprints, got $maxHamming")
    val chunkCount =
      if (nChunks > 0) nChunks
      else Seq(2, 4, 8, 16, 32).find(_ > maxHamming).getOrElse(64)
    require(64 % chunkCount == 0, "nChunks must divide 64")
    require(chunkCount > maxHamming,
      s"nChunks ($chunkCount) must exceed maxHamming ($maxHamming) — the pigeonhole guarantee")
    val width = 64 / chunkCount
    val mask = if (width == 64) -1L else (1L << width) - 1
    val fps = simhash(df, idCol, textCol).cache()
    val chunks = fps.select(
      col("id"),
      col("simhash"),
      explode(
        array((0 until chunkCount).map(c =>
          struct(lit(c).as("c"), shiftright(col("simhash"), c * width).bitwiseAND(lit(mask)).as("v"))): _*)).as("ck"))
      .select(col("id"), col("simhash"), col("ck.c").as("c"), col("ck.v").as("v"))
      .cache() // both sides of the chunk self-join — see prefix note above
    chunks.alias("x")
      .join(chunks.alias("y"), Seq("c", "v"))
      .filter(col("x.id") < col("y.id"))
      .select(
        col("x.id").as("id_a"),
        col("y.id").as("id_b"),
        hamming64(col("x.simhash"), col("y.simhash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Bipartite embedding near-dup join (e.g. new-batch probes vs corpus):
    * pairs (id_a from `left`, id_b from `right`) with cosine ≥ threshold.
    * Candidates come from the banded sign-bit LSH bucket join — the scale
    * path; no cross join at any corpus size. Each side bands through
    * [[bandKeyArray]]: `bands` independent signatures of `bitsPerBand`
    * random hyperplanes, one (band, key) row per band. Two vectors at
    * angle θ share a given band with P = (1 − θ/π)^r, and are candidates
    * if ANY band matches: P(miss) = (1 − (1−θ/π)^r)^bands. At a
    * 0.99-cosine threshold (θ ≤ 0.142 rad) the 8×8 scheme misses a true
    * pair with P ≤ 3.5e-6 — and the near-1 similarities real near-dups
    * carry make it ~1e-13. Each band key has 2^r values, so candidate
    * volume scales as bands·nL·nR/2^r — tune `bitsPerBand` up with
    * corpus size to keep buckets O(1).
    */
  def embeddingNearDupJoin(
      left: DataFrame,
      leftId: String,
      leftVec: String,
      right: DataFrame,
      rightId: String,
      rightVec: String,
      threshold: Double,
      bands: Int = AutoGeometry,
      bitsPerBand: Int = AutoGeometry,
      seed: Long = 42L,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // null vectors can't be near anything — dropped, not crashed (the
    // dim probe below would NPE on a null-first row; same guard as
    // embeddingSignatureRows / embeddingNearDupIncremental)
    val l = left.select(col(leftId).as("id_a"), col(leftVec).cast("array<double>").as("va"))
      .filter(col("va").isNotNull)
    val r = right.select(col(rightId).as("id_b"), col(rightVec).cast("array<double>").as("vb"))
      .filter(col("vb").isNotNull)
    // one action yields row count AND dimensionality: an EMPTY side is a
    // routine production input (a day with no embeddings) and must return
    // an empty pair frame, not crash the dim lookup; the count also
    // proves small joins dormant for free — with BOTH sides ≤ maxBucket a
    // join task holds at most nL×nR ≤ maxBucket² candidates. The left
    // side is sized with a BOUNDED limit-probe (reads ≤ maxBucket+1 rows,
    // stops there) and only when the right is already small — a large
    // join pays nothing new.
    val stats = r.agg(count(lit(1)), first(size(col("vb")))).head()
    val nRight = stats.getLong(0)
    if (nRight == 0)
      return l.select("id_a").limit(0).crossJoin(r.select("id_b").limit(0))
    val dim = stats.getInt(1)
    val smallBoth = nRight <= maxBucket &&
      l.select(lit(1)).limit(maxBucket + 1).count() <= maxBucket
    // auto geometry sizes from the RIGHT side's count — the corpus side
    // of the bipartite shape (probes-vs-corpus). The left count is only
    // known cheaply when small; the right bound is what prices the
    // random-collision term anyway.
    val (bands0, bitsPerBand0) = resolveGeometry(bands, bitsPerBand, nRight)
    val planes = SimilaritySearch.hyperplanes(dim, bands0 * bitsPerBand0, seed)
    // cached only when read twice: the counting path feeds each band
    // frame to its bucket-count pass AND the join (uncached, the
    // hyperplane signature math — bands × bitsPerBand dot products per
    // vector, the expensive part — would run twice per side). A small
    // join reads each frame exactly once — caching it would only cost
    // memory writes.
    def bandRows(side: DataFrame, id: String, v: String): DataFrame = {
      val b = side.select(col(id),
        posexplode(bandKeyArray(col(v), planes, bands0, bitsPerBand0)).as(Seq("band", "key")))
      if (smallBoth) b else b.cache()
    }
    val lb = bandRows(l, "id_a", "va")
    val rb = bandRows(r, "id_b", "vb")
    // ids-only candidates first; vectors join back once per distinct pair,
    // so the band shuffle moves (long, int, long) rows — not embeddings.
    // Hot-bucket-bounded: near-identical embedding families (boilerplate
    // pages, stock images) pile behind one sign-bit key otherwise.
    val cand =
      if (smallBoth) lb.join(rb, Seq("band", "key"))
      else boundedBucketJoin(lb, rb, "id_a", "id_b", maxBucket)
    cand.select("id_a", "id_b")
      .distinct()
      .join(l, "id_a")
      .join(r, "id_b")
      .withColumn("sim", SimilaritySearch.cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by k-means partitioning + within-cluster cosine
    * pruning. The corpus is clustered with the deterministic
    * [[Clustering.kmeansLite]] (init id % k, decimal-exact centroid
    * means, cid tie-break — oracle-reproducible); within each cluster,
    * every pair with cosine ≥ `threshold` marks the LARGER id a
    * semantic duplicate of the smaller. Keep policy is the paper's
    * one-representative-per-ε-ball rule made deterministic: a row is
    * dropped iff SOME same-cluster neighbor with a smaller id sits
    * within the cosine ball (not a transitive closure — two rows
    * chained through a middle row but themselves below threshold both
    * survive, exactly as the pairwise rule dictates).
    *
    * Scale shape: the quadratic is confined to clusters — k is chosen
    * so E[cluster] ≈ 10⁴ at corpus scale (the paper runs k = 11k over
    * 5B embeddings) — and each cluster of ≤ `maxCluster` rows runs the
    * ε-ball marking as an IN-MEMORY per-cluster kernel
    * ([[semDropsKernel]]): every vector shuffles exactly once (keyed by
    * cluster), candidate PAIRS are never materialized as rows and no
    * vector ever rides a pair-join exchange — at N vectors × occupancy
    * t the old pair-row plan shuffled O(N·t) fat (idᵃ, idᵇ, vᵃ, vᵇ)
    * rows (measured: a 200k × 64-dim corpus at k=64 spilled ~80 GB and
    * died), where the kernel shuffles O(N) vectors total. Clusters
    * LARGER than `maxCluster` (a mis-sized k — the occupancy lifecycle
    * exists to prevent this standing) and non-integral-id corpora take
    * the exact grid-salted pair join through [[boundedBucketJoin]]
    * (band 0, key = cluster id): bounded per-task memory at unbounded
    * cluster size, at pair-materialization cost. Both routes are exact
    * and bitwise identical — the kernel's cosine replays
    * [[graft.functions.CosineSimilarity]]'s accumulation order.
    *
    * Returns one row per input row: (idCol, cluster, is_kept) —
    * filtering `is_kept` dedups the corpus semantically.
    */
  def semanticDedup(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      threshold: Double,
      maxCluster: Int = DefaultMaxBucket): DataFrame = {
    // cached: consumed by the emptiness probe, the Lloyd input scan, and
    // BOTH confirm-join sides — uncached, whatever produced `vecs` (a
    // corpus-scale parquet scan) re-executes ~4×
    val v = vecs.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .cache()
    // empty corpus (a day with no embeddings) → empty assignment, not a
    // crashed dim lookup inside the Lloyd loop — the same contract as
    // every other embedding operator here
    if (v.isEmpty)
      return v.select(col("__id").as(idCol), lit(0L).as("cluster"), lit(true).as("is_kept"))
        .limit(0)
    // kmeansLite returns a localCheckpoint'ed frame — with the vectors
    // kept aboard: the kernel route reads labeled vectors straight off
    // the checkpoint (no corpus re-join by id), so a vector's ONLY
    // exchange in the whole batch plan is the group-by-cluster gather
    // (plan-audited). The drop routes and the flag join re-read
    // checkpoint blocks, never the Lloyd loop.
    val labeled = Clustering.kmeansLite(v, "__id", "__v", k, iters, keepVector = true)
      .select(col("__id"), col("__v"), col("cluster"))
    val assigned = labeled.select(col("__id"), col("cluster"))
    val idType = v.schema("__id").dataType
    val kernelCapable = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val dropped =
      if (!kernelCapable) pairJoinDrops(assigned, v, threshold, maxCluster)
      else {
        // cluster sizes: one narrow ≤k-row agg over the checkpoint. The
        // common case — no cluster above maxCluster — takes the kernel
        // for EVERYTHING and skips the grid leg entirely (its bucket
        // counting and broadcast machinery would otherwise run real
        // jobs against an empty route); the eager emptiness probe costs
        // one ≤k-row job.
        val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("__n"))
        val oversized = sizes.filter(col("__n") > maxCluster)
        if (oversized.isEmpty) semDropsKernel(labeled, idType, threshold)
        else {
          val small = labeled
            .join(broadcast(sizes.filter(col("__n") <= maxCluster)), Seq("cluster"), "left_semi")
          val big = assigned
            .join(broadcast(oversized), Seq("cluster"), "left_semi")
          semDropsKernel(small, idType, threshold)
            .unionByName(pairJoinDrops(big, v, threshold, maxCluster))
        }
      }
    assigned
      .join(dropped.withColumn("__dup", lit(true)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cluster"), col("__dup").isNull.as("is_kept"))
  }

  /** The pair-materializing ε-ball drop route of [[semanticDedup]]:
    * ids-only band frames (band 0, key = cluster) through the exact
    * grid-salted [[boundedBucketJoin]], vectors joined back per
    * candidate pair. Bounded per-task memory at ANY cluster size — the
    * route for clusters too large for one in-memory kernel group and
    * for id types the kernel does not order. Returns dropped ids as
    * `__id`.
    */
  private def pairJoinDrops(
      assigned: DataFrame,
      v: DataFrame,
      threshold: Double,
      maxCluster: Int): DataFrame = {
    val lb = assigned.select(
      lit(0).as("band"), col("cluster").cast("long").as("key"), col("__id").as("id_a"))
    val rb = lb.withColumnRenamed("id_a", "id_b")
    val counts = Some(bucketCounts(lb))
    boundedBucketJoin(lb, rb, "id_a", "id_b", maxCluster,
        xCounts = counts, yCounts = counts)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .join(v.select(col("__id").as("id_a"), col("__v").as("va")), "id_a")
      .join(v.select(col("__id").as("id_b"), col("__v").as("vb")), "id_b")
      .filter(SimilaritySearch.cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("__id"))
      .distinct()
  }

  /** In-memory per-cluster ε-ball kernel: each cluster's (id, vector)
    * rows gather into ONE task (groupByKey on cluster — every vector
    * crosses the wire exactly once), sort by id, and each row drops iff
    * some smaller-id row of the cluster sits within the cosine ball —
    * the pairwise SemDeDup rule, computed without materializing a
    * single candidate-pair row. Peak task memory is one cluster
    * (callers bound it to `maxCluster` rows ≈ maxCluster × 8·dim
    * bytes); compute is the irreducible Σ n_c²·dim/2 with early exit on
    * first hit. The cosine replays [[graft.functions.CosineSimilarity]]
    * bit-for-bit (same accumulation order, dot/√na/√nb), so verdicts
    * are identical to the pair-join route; null ids and vectors with
    * null elements are excluded up front — in the pair route their
    * cosine is NULL against everything, so they can neither drop nor be
    * dropped.
    */
  private def semDropsKernel(
      withV: DataFrame,
      idType: org.apache.spark.sql.types.DataType,
      threshold: Double): DataFrame = {
    val spark = withV.sparkSession
    import spark.implicits._
    def cosineExact(a: Array[Double], b: Array[Double]): Double = {
      if (a.length != b.length) return Double.NaN // mismatch = NULL = never ≥ θ
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i); val y = b(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / math.sqrt(na) / math.sqrt(nb)
    }
    withV
      .filter(col("__id").isNotNull && col("__v").isNotNull &&
        !exists(col("__v"), e => e.isNull))
      .select(col("cluster").cast("long"), col("__id").cast("long"), col("__v"))
      .as[(Long, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.map(t => (t._2, t._3)).toArray
        scala.util.Sorting.stableSort(rows, (p: (Long, Array[Double]), q: (Long, Array[Double])) => p._1 < q._1)
        val out = Array.newBuilder[Long]
        var j = 1
        while (j < rows.length) {
          val vj = rows(j)._2
          var i = 0
          var hit = false
          while (i < j && !hit) {
            if (cosineExact(rows(i)._2, vj) >= threshold) hit = true
            i += 1
          }
          if (hit) out += rows(j)._1
          j += 1
        }
        out.result().iterator
      }
      .toDF("__id")
      .select(col("__id").cast(idType).as("__id"))
  }

  /** Daily companion of [[semanticDedup]] — the e3/d9 shape for the
    * semantic family: yesterday's published assignment (one row per
    * corpus vector: `(id, cluster, v)`, the zone [[semanticDedup]]'s
    * output joins to its vectors) serves as the standing index, and
    * only the INCREMENT is embedded into it. Centroids are rebuilt
    * decimal-exactly from the stored assignment (order-independent, so
    * any engine replays them), the increment assigns to its nearest
    * centroid with the same fused argmin the batch path uses, and the
    * ε-ball rule runs increment×index (a new doc matching ANY published
    * doc drops — the corpus is already committed) plus
    * increment×increment (keep-smallest-id, the batch rule). Returns
    * the increment's `(idCol, cluster, is_kept)` only.
    *
    * Scale shape: O(increment × k) assignment + cluster-keyed joins
    * bounded by [[boundedBucketJoin]]'s grid salting — the index is
    * never re-clustered and never self-joined. The index must be
    * non-empty (day 1 builds it via [[semanticDedup]]); an empty
    * increment returns an empty frame.
    */
  def semanticDedupIncremental(
      index: DataFrame,
      increment: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxCluster: Int = DefaultMaxBucket,
      // precomputed prior centroids (cid, c) — the MERGEABLE-STATE path:
      // a pipeline maintaining a per-cluster decimal sums/count zone
      // ([[Clustering.centroidState]] per day, [[Clustering.
      // centroidsFromState]] over the summed zone) derives bitwise the
      // same centroids from O(k × days) state rows, so the daily plan
      // never aggregates the full assignment zone. None = self-contained
      // rebuild from the index (the e5 gate's oracle-replayable shape).
      //
      // CONTRACT for maintained pipelines: across repeated appends the
      // supplied centroids must be the FROZEN geometry the index labels
      // are argmin over (a per-version k-row artifact — the CorpusRun
      // sem-index pattern), not a per-day re-derivation from the growing
      // zone/state. Re-derived means sit one Lloyd step ahead of the
      // labels, boundaries move between appends, and an increment vector
      // identical to a stored representative can land in a different
      // cluster and silently escape the within-cluster ε check (observed
      // at sf0.1: 18/133 planted dups). One-shot callers (the e5 gate,
      // the spec oracles) are unaffected — a single append judges
      // against whatever geometry it is given.
      centroidsOpt: Option[DataFrame] = None): DataFrame = {
    // cached: the increment is rescanned by the emptiness probe, the
    // fused assignment, and both confirm joins' vector fetches; the
    // ASSIGNMENT (the O(increment × k) fused argmin — the expensive
    // kernel) feeds the shared bucket counts, both candidate joins, and
    // the final flag join — uncached it would re-run the kernel ~6×
    // (the file's cache-lifecycle note at the top applies: callers
    // looping over corpora clearCache between batches)
    val inc = increment.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .cache()
    if (inc.isEmpty)
      return inc.select(col("__id").as(idCol), lit(0L).as("cluster"), lit(true).as("is_kept"))
        .limit(0)
    val idx = index.select(col("id"), col("cluster"), col("v").cast("array<double>").as("v"))
    val cents = centroidsOpt.getOrElse {
      val dimRow = idx.select(size(col("v"))).limit(1).collect()
      require(dimRow.nonEmpty,
        "semanticDedupIncremental needs a non-empty index — build day 1 with semanticDedup")
      Clustering.centroids(idx, "v", "cluster", dimRow(0).getInt(0))
    }
    val incA = Clustering.assignFused(inc, "__id", "__v", cents)
      .select(col("__id"), col("cluster"))
      .cache()
    // cluster-keyed candidate joins, hot-cluster bounded (band 0 = the
    // single implicit band); increment counts shared across both joins
    val ib = incA.select(lit(0).as("band"), col("cluster").cast("long").as("key"),
      col("__id").as("id_x"))
    val iCounts = Some(bucketCounts(ib))
    // cluster-keyed zone-probe prune: the increment occupies ≤ k clusters
    // (a kilobyte key set at ANY increment size — engage unconditionally),
    // so zone rows of untouched clusters never enter the candidate join's
    // exchange
    val zb = ZoneProbes.pruneByKeys(
      idx.select(lit(0).as("band"), col("cluster").cast("long").as("key"),
        col("id").as("id_y")),
      ib, Seq("band", "key"), engage = true)
    val crossDropped = boundedBucketJoin(ib, zb, "id_x", "id_y", maxCluster, xCounts = iCounts)
      .select("id_x", "id_y")
      .join(inc.select(col("__id").as("id_x"), col("__v").as("vx")), "id_x")
      .join(idx.select(col("id").as("id_y"), col("v").as("vy")), "id_y")
      .filter(SimilaritySearch.cosine(col("vx"), col("vy")) >= threshold)
      .select(col("id_x").as("__id"))
    val withinDropped = boundedBucketJoin(
        ib, ib.withColumnRenamed("id_x", "id_y"), "id_x", "id_y", maxCluster,
        xCounts = iCounts, yCounts = iCounts)
      .filter(col("id_x") < col("id_y"))
      .select("id_x", "id_y")
      .join(inc.select(col("__id").as("id_x"), col("__v").as("vx")), "id_x")
      .join(inc.select(col("__id").as("id_y"), col("__v").as("vy")), "id_y")
      .filter(SimilaritySearch.cosine(col("vx"), col("vy")) >= threshold)
      .select(col("id_y").as("__id"))
    val dropped = crossDropped.unionByName(withinDropped).distinct()
    incA
      .join(dropped.withColumn("__dup", lit(true)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cluster"), col("__dup").isNull.as("is_kept"))
  }

  /** Per-band sign-bit keys as an array (index b = band b's key) — the
    * ONE embedding band-row derivation: every embedding LSH path (the
    * bipartite join, the stored `bkeys` column, the incremental probe,
    * `IndexRun`) bands through a posexplode of this array, so a stored
    * row bands back into (band, key) probes with no vector math and the
    * key encoding cannot fork between writer and reader. Dispatches to
    * the fused [[graft.functions.SignBitBands]] kernel when the session
    * registers it: the plane matrix rides as ONE reference object
    * instead of bands×bits×dim plan literals (4,096 nodes at the default
    * geometry), which cuts ~1 s of per-query Catalyst analysis/codegen
    * off every operator that signs vectors. The composed fallback is
    * bit-identical (ModulesSpec pins parity, incl. the all-zero-keys
    * null/mismatch semantics).
    */
  private def bandKeyArray(
      v: Column, planes: Seq[Array[Double]], bands: Int, bitsPerBand: Int): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (bitsPerBand <= 63 && spark.catalog.functionExists("sign_bit_bands"))
      call_function("sign_bit_bands", v,
        typedlit(planes.map(_.toSeq)), lit(bands), lit(bitsPerBand))
    else
      array((0 until bands).map { b =>
        SimilaritySearch.signature(v, planes.slice(b * bitsPerBand, (b + 1) * bitsPerBand))
      }: _*)
  }

  /** Sentinel default for `bands` / `bitsPerBand` on the raw embedding
    * signature APIs: resolve the geometry from data instead of shipping
    * a fixed shape. Writers building a fresh zone resolve through
    * [[sigGeometry]] (the size policy); appenders and probes resolve
    * from what the zone was BUILT with (`_geometry` side-meta, or the
    * stored `bkeys` width) — never from this binary's constants. The
    * round-12 scale census measured exactly why a fixed default cannot
    * stand: a direct writer call at the 100× probe scale re-created the
    * 14.9M-candidate / 8.78×-per-decade collision term the lifecycle's
    * policy had already fixed (BASELINE.md round-12 scale table).
    */
  val AutoGeometry = 0

  /** Hard bits-per-band cap of the size policy — the last b×b rung whose
    * recall at θ=0.99 still clears 0.9999 (see [[sigGeometry]]).
    */
  val SigMaxBitsPerBand = 26
  private val SigMinBitsPerBand = 8

  /** Size-driven signature geometry: square b×b with
    * b = clamp(8, 26, ⌈log₂n⌉ − 4). Even with perfectly balanced buckets
    * a band probe against an N-row zone collides with N·2⁻ᵇ random
    * vectors per increment row: at a FIXED 8-bit geometry that term
    * grows linearly with the corpus (measured: 14.9M candidates / 15.4 s
    * at the 100× probe scale vs 200k / 2.6 s under 16-bit bands —
    * BASELINE.md "Round-12 scale table", the e3ab A/B). This policy pins
    * it: b tracks log₂n, so N·2⁻ᵇ ≤ 2⁴ = 16 expected random collisions
    * per probe row per band across the whole ladder, through the 26-bit
    * cap at n = 2³⁰ ≈ 1.07×10⁹ rows — the 100 TB decade itself (10⁹
    * documents at ~100 KB/doc); past it the linear term resumes at a
    * 2⁻²⁶ ≈ 67M×-reduced slope. Recall at the b×b square geometries is
    * flat-high: for cosine ≥ 0.99 (p = 1 − acos(0.99)/π ≈ 0.955),
    * 1−(1−p^b)^b ≥ 0.9999 for every b ∈ [8,26] — more selective bands,
    * but more of them (the worst rung is the cap:
    * 1−(1−0.955²⁶)²⁶ ≈ 0.99991; b = 27 would dip below, so 26 is the
    * LAST rung that clears the bar — the cap is the recall floor's
    * choice, not an arbitrary stop). Signature compute grows as b²·dim
    * hyperplane dot products per vector — 676 planes at the cap,
    * embarrassingly parallel, paid once per row at build or append. Band
    * keys stay one Long through the whole ladder (bits ≤ 63). The
    * geometry is a BUILD-time decision frozen per zone/version
    * ([[guardZoneGeometry]], `IndexRun` version meta); appends and
    * probes always ride the stored geometry (mixing band keys from
    * different geometries in one index is meaningless), and corpus
    * growth across a policy step trips a REBUILD
    * ([[graft.pipeline.IndexRun.sigStage]]'s geometry trip).
    */
  def sigGeometry(n: Long): (Int, Int) = {
    val ceilLog2 = if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    val b = math.max(SigMinBitsPerBand, math.min(SigMaxBitsPerBand, ceilLog2 - 4))
    (b, b)
  }

  /** The zone's recorded `_geometry` side-meta as (field → value), or
    * None for a zone predating the side-meta (or a bare parquet dir).
    * Read under [[GeometryFields]] as a fixed LONG schema, so no
    * schema-inference job; a NULL is a field the writer did not record.
    * Public so probes/diagnostics can key themselves under what a zone
    * was BUILT with instead of assuming this binary's defaults.
    */
  def readZoneGeometry(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[Map[String, Long]] = {
    import graft.sources.Zones
    val metaPath = s"$path/_geometry"
    if (!Zones.exists(spark, metaPath)) None
    else {
      val schema = org.apache.spark.sql.types.StructType(
        GeometryFields.map(org.apache.spark.sql.types.StructField(_, LongType)))
      val row = Zones.read(spark, metaPath, schema).head()
      Some(GeometryFields.indices.filterNot(row.isNullAt).map(i => GeometryFields(i) -> row.getLong(i)).toMap)
    }
  }

  /** Every field a graft writer records in a zone's `_geometry`. */
  private val GeometryFields =
    Seq("shingle_n", "num_hashes", "bands", "bits_per_band", "seed", "dim")

  /** The computation leg of [[writeEmbeddingSignatureIndex]]: a batch's
    * (id, v[, carryCols…], bkeys) rows, for writers that manage their
    * own zone layout (day partitions, versioned rebuilds —
    * [[graft.pipeline.IndexRun]]'s signature stage). `carryCols` ride
    * through UNJOINED — a retrain feeding multi-day rows must not join
    * keys back by id (a re-ingested id appearing on two days would
    * square its rows and cross-assign vectors to the wrong partitions).
    * An empty batch returns an empty, correctly-typed frame instead of
    * crashing the dimension lookup; rows with a NULL vector are dropped
    * (nothing to hash — a corrupt upstream embed must not crash the
    * nightly index run).
    *
    * Geometry at corpus scale: (bands, bitsPerBand) trades recall
    * against the RANDOM-pair candidate rate ≈ bands × 2^−bitsPerBand,
    * which prices the incremental probe linearly in corpus size —
    * measured at a 200k-vector zone: 16×16 vs 8×8 is 74× fewer
    * candidates, 6× less probe wall (BASELINE.md round-12 scale table,
    * `graft.ScaleDiag e3ab`). The [[AutoGeometry]] default therefore
    * sizes the shape from THIS batch via [[sigGeometry]]; version
    * lifecycles pass their frozen stored shape explicitly. The zone
    * format (bkeys array) carries any shape.
    */
  def embeddingSignatureRows(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      bands: Int = AutoGeometry,
      bitsPerBand: Int = AutoGeometry,
      seed: Long = 42L,
      carryCols: Seq[String] = Nil): DataFrame =
    embeddingSignatureRowsStats(df, idCol, vecCol, bands, bitsPerBand, seed, carryCols).rows

  /** [[embeddingSignatureRows]] plus the batch stats (n, dim) and the
    * RESOLVED geometry, all priced by the SINGLE count/dim aggregation
    * the derivation needs anyway — the writer records `_geometry` and
    * sizes bucket counts from these instead of re-scanning the batch
    * (the round-13 residual: the AutoGeometry fresh-build path paid a
    * sizing `count()` and then this agg — two scans of every fresh
    * increment on the default path). n = 0 leaves an AutoGeometry pair
    * unresolved (bands/bits echo the request) — every consumer no-ops
    * on an empty batch before touching the geometry.
    */
  private[graft] final case class SigRows(
      rows: DataFrame, n: Long, dim: Int, bands: Int, bitsPerBand: Int)

  private[graft] def embeddingSignatureRowsStats(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      bands: Int,
      bitsPerBand: Int,
      seed: Long,
      carryCols: Seq[String] = Nil): SigRows = {
    val v = df
      .select(Seq(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")) ++
        carryCols.map(col): _*)
      .filter(col("v").isNotNull)
    val vstats = v.agg(count(lit(1)), first(size(col("v")))).head()
    if (vstats.getLong(0) == 0)
      return SigRows(
        v.withColumn("bkeys", typedlit(Seq.empty[Long])).limit(0),
        0L, 0, bands, bitsPerBand)
    val (b0, r0) = resolveGeometry(bands, bitsPerBand, vstats.getLong(0))
    val planes = SimilaritySearch.hyperplanes(
      vstats.getInt(1), b0 * r0, seed)
    SigRows(
      v.withColumn("bkeys", bandKeyArray(col("v"), planes, b0, r0)),
      vstats.getLong(0), vstats.getInt(1), b0, r0)
  }

  /** Resolve an (bands, bitsPerBand) pair where [[AutoGeometry]] means
    * "size from n via the policy". Mixing one explicit half with one
    * auto half is refused — the policy is square, and silently pairing a
    * caller's 16 bands with a size-derived bit width would key vectors
    * under a shape nobody chose.
    */
  private def resolveGeometry(bands: Int, bitsPerBand: Int, n: Long): (Int, Int) = {
    require((bands == AutoGeometry) == (bitsPerBand == AutoGeometry),
      s"pass both of (bands, bitsPerBand) explicitly or neither — got ($bands, $bitsPerBand)")
    if (bands == AutoGeometry) sigGeometry(n) else (bands, bitsPerBand)
  }

  /** Persist an embedding signature index: one row per vector —
    * (id, v, bkeys) where `bkeys(b)` is band b's sign-bit key. The
    * embedding analog of [[writeSignatureIndex]]: at corpus scale the
    * daily embedding increment dedups against yesterday's stored keys
    * instead of re-hashing the whole corpus through the hyperplanes.
    * Keys are deterministic in (dim, bands, bitsPerBand, seed) — rows
    * written on different days are directly joinable.
    *
    * Geometry defaults ([[AutoGeometry]]): an append to a zone with
    * recorded `_geometry` keys under the STORED shape (the only shape
    * joinable against the standing rows — a default that ignored it
    * would trip [[guardZoneGeometry]] at best, silently under-match at
    * worst); a fresh zone (or overwrite) sizes itself from this batch
    * via [[sigGeometry]]. Growth past a policy step on an append-managed
    * raw zone is the caller's rebuild to schedule — the versioned
    * lifecycle ([[graft.pipeline.IndexRun.sigStage]]) automates that
    * trip.
    */
  def writeEmbeddingSignatureIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      bands: Int = AutoGeometry,
      bitsPerBand: Int = AutoGeometry,
      seed: Long = 42L,
      mode: String = "append"): Unit = {
    val stored = storedGeometry(spark, path, mode)
    // auto on a fresh zone/overwrite resolves INSIDE the row derivation,
    // from the same count/dim aggregation it already pays — no separate
    // sizing scan of the batch
    val (b0, r0) = stored
      .filter(_ => bands == AutoGeometry)
      .flatMap(g => g.get("bands").zip(g.get("bits_per_band")))
      .map { case (gb, gr) => (gb.toInt, gr.toInt) }
      .getOrElse((bands, bitsPerBand))
    writeEmbeddingSignatureIndexAt(spark, path, df, idCol, vecCol, b0, r0, seed, mode, stored)
  }

  /** [[writeEmbeddingSignatureIndex]] with the geometry resolved from
    * the zone's `stored` one where present ([[AutoGeometry]] reaching
    * here means "size from this batch inside the derivation's own
    * aggregation").
    */
  private def writeEmbeddingSignatureIndexAt(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      bands: Int,
      bitsPerBand: Int,
      seed: Long,
      mode: String,
      stored: Option[Map[String, Long]]): Unit = {
    // ONE owner of the select/dim-lookup/hyperplane/band-key derivation:
    // [[embeddingSignatureRowsStats]] — re-implementing it here would let
    // the key geometry silently desynchronize from IndexRun's sigStage
    // rows. Its single aggregation also yields n (empty-batch no-op),
    // dim, and the resolved geometry — nothing below re-scans the batch.
    val sig = embeddingSignatureRowsStats(df, idCol, vecCol, bands, bitsPerBand, seed)
    if (sig.n == 0) return
    // dim is part of the hash function: same seed at a different
    // dimensionality draws different hyperplanes (see [[guardZoneGeometry]])
    val geometry = Seq(
      "bands" -> sig.bands.toLong, "bits_per_band" -> sig.bitsPerBand.toLong,
      "seed" -> seed,
      "dim" -> sig.dim.toLong)
    guardZoneGeometry(path, stored, geometry)
    // row-count-sized file count (Zones.sizedForWrite — the
    // writeSignatureIndex rationale); sig.n rode out of the derivation's
    // own stats aggregation, so the sizing costs no extra scan
    graft.sources.Zones.sizedForWrite(sig.rows, sig.n).write.mode(mode).parquet(path)
    recordZoneGeometry(spark, path, stored, geometry)
  }

  def readEmbeddingSignatureIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Incremental embedding near-dup: pairs introduced by `increment`
    * against a persisted embedding signature index (cross-batch ∪
    * within-increment), cosine-confirmed. Signatures are computed for
    * the increment ONLY; the index side band-probes its STORED keys
    * (a posexplode of `bkeys` — no hyperplane math, no corpus rescan
    * beyond the index zone). Ids-only candidates shuffle first;
    * vectors join back once per distinct pair. Output: (id_a < id_b),
    * the same pair set a full recompute over index ∪ increment yields
    * for pairs touching the increment.
    *
    * The probe front end is the MinHash probe's
    * ([[minhashLshPairsIncrementalFromSigs]]): one bloom over the
    * increment's (band, key) rows at every size, the row prefilter on
    * the stored `bkeys` plus the per-band prune on the zone scan, then
    * the shared [[incrementPairs]] back end, which counts survivors for
    * the hot-bucket defense.
    *
    * Geometry defaults ([[AutoGeometry]]): the increment's keys must
    * come from the SAME (bands, bitsPerBand, seed, dim) hash family the
    * index was built with, so the default derives `bands` from the
    * stored rows themselves (one limit-1 `size(bkeys)` probe) and
    * assumes the square shape every policy-built zone has (bits =
    * bands). An explicitly non-square zone must be probed with its
    * explicit shape — its writer already knows it. Prefer
    * [[embeddingNearDupIncrementalAt]] where the zone PATH is at hand:
    * it reads the full recorded `_geometry` (including a non-default
    * seed), so nothing is assumed.
    */
  def embeddingNearDupIncremental(
      index: DataFrame,
      increment: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bands: Int = AutoGeometry,
      bitsPerBand: Int = AutoGeometry,
      seed: Long = 42L,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val inc = increment.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      // a NULL vector can't be near-anything — dropped, not crashed
      // (mirrors embeddingSignatureRows; also keeps the dim probe null-safe)
      .filter(col("v").isNotNull)
    // empty increment (a day with no embeddings) → empty pair frame, not
    // a crashed dim lookup; one action yields count AND dimensionality
    val istats = inc.agg(count(lit(1)), first(size(col("v")))).head()
    if (istats.getLong(0) == 0)
      return inc.select(col("id").as("id_a"), col("id").as("id_b")).limit(0)
    val nInc = istats.getLong(0)
    val dim = istats.getInt(1)
    val (bands0, bitsPerBand0) =
      if (bands != AutoGeometry || bitsPerBand != AutoGeometry)
        resolveGeometry(bands, bitsPerBand, nInc)
      else {
        val head = index.select(size(col("bkeys"))).limit(1).collect()
        // an EMPTY index leaves only within-increment pairs — size the
        // square shape from the increment (the policy a fresh zone of
        // these rows would get)
        if (head.isEmpty) sigGeometry(nInc) else { val b = head(0).getInt(0); (b, b) }
      }
    val planes = SimilaritySearch.hyperplanes(dim, bands0 * bitsPerBand0, seed)
    def bandRows(df: DataFrame, as: String): DataFrame =
      df.select(col("id").as(as), posexplode(col("bkeys")).as(Seq("band", "key")))
    // cache(), not localCheckpoint — the d9-path rationale (measured
    // indistinguishable, recoverable on executor loss). No cache on the
    // signed increment itself: its one consumer is this band frame.
    val incBandX0 = bandRows(
      inc.withColumn("bkeys", bandKeyArray(col("v"), planes, bands0, bitsPerBand0)),
      "id_x").cache()
    // materialize the cache in parallel before keyBloom's single-task agg
    // reads through it, and right-size the bloom; downstream reads
    // coalesce to the measured-rows width (the d9-path coalesceByRows
    // rationale, ~32 B/band row)
    val nKeys = incBandX0.count()
    val incBandX = coalesceByRows(incBandX0, nKeys, 32L)
    // ONE bloom over the increment's (band, key) rows serves both zone
    // prunes, with no size gate (the MinHash probe's rationale): the row
    // prefilter on the stored bkeys arrays BEFORE the bands×rows explode
    // (see [[prefilterZoneRowsByBkeys]]), then the per-band prune of the
    // exploded rows. Cached: the survivor set feeds both the bucket-count
    // derivation and the cross join
    val probeBloom = ZoneProbes.keyBloom(incBandX0, Seq("band", "key"), nKeys)
    val idxBand = ZoneProbes.pruneByBloom(
        bandRows(prefilterZoneRowsByBkeys(index, probeBloom, bands0), "id_y"),
        probeBloom, Seq("band", "key"))
      .cache()
    // both joins hot-bucket-bounded (see [[boundedBucketJoin]]): a stored
    // boilerplate-embedding family shares one sign-bit key per band; the
    // cosine confirm reads the index side's vectors by candidate id
    incrementPairs(
      incBandX, idxBand, maxBucket, lit(true),
      index.select(col("id"), col("v")), inc.select(col("id"), col("v")),
      (cand, vecs) => cand
        .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
        .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
        .withColumn("sim", SimilaritySearch.cosine(col("va"), col("vb")))
        .filter(col("sim") >= threshold)
        .select("id_a", "id_b"))
  }

  /** [[embeddingNearDupIncremental]] against a zone PATH: the probe keys
    * itself under the zone's recorded `_geometry` — bands, bits AND seed,
    * so even a non-default or re-seeded writer is matched exactly. The
    * production daily entry point for raw (non-versioned) signature
    * zones; a zone predating the side-meta falls back to the
    * rows-derived square shape.
    */
  def embeddingNearDupIncrementalAt(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      increment: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val g = readZoneGeometry(spark, path).getOrElse(Map.empty)
    embeddingNearDupIncremental(
      readEmbeddingSignatureIndex(spark, path), increment, idCol, vecCol, threshold,
      bands = g.get("bands").map(_.toInt).getOrElse(AutoGeometry),
      bitsPerBand = g.get("bits_per_band").map(_.toInt).getOrElse(AutoGeometry),
      seed = g.getOrElse("seed", 42L),
      maxBucket = maxBucket)
  }
}

package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float> / array<double>). Beyond-reference scope.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    Cross join, O(queries × corpus); fine when the query set is small
  *    or as the per-bucket kernel below.
  *  - [[lshTopK]]: random-hyperplane LSH — the 100 TB path. Vectors are
  *    bucketed by sign-bit signature (one narrow map stage); queries probe
  *    only their bucket (plus multi-probe neighbors), turning the cross
  *    join into a bucket-local join. Recall is tunable via bits/probes and
  *    property-tested against the brute-force baseline.
  *
  * All vector math is plain Catalyst higher-order functions (`zip_with` +
  * `aggregate`) in double precision — codegen-friendly, no UDFs.
  */
object SimilaritySearch {

  /** Sequential-order dot product in double (deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity, evaluated as (dot / norm_a) / norm_b — fixed
    * operation order so results are bit-stable across runs. Dispatches to
    * the fused codegen kernel [[graft.functions.CosineSimilarity]] when
    * registered (all [[graft.Sessions]] sessions); the composable
    * higher-order-function form is the fallback with identical numerics.
    */
  def cosine(a: Column, b: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (spark.catalog.functionExists("cosine_sim")) call_function("cosine_sim", a, b)
    else dot(a, b) / norm(a) / norm(b)
  }

  /** Exact cosine top-k: for each query vector, the k most similar corpus
    * vectors (excluding itself), ranked desc with id tie-break.
    * Output: (query_id, rank, neighbor_id).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Fraction-based training sample: `sample()` is a narrow per-partition
    * coin-flip and the trailing `limit` is a CollectLimit, so the driver
    * payload is O(sampleSize) rows no matter how many partitions the
    * corpus has. The previous `orderBy(rand).limit` compiled to
    * TakeOrdered: EVERY partition returned up to sampleSize full vectors
    * to a driver-side merge — ~4×10⁸ vectors at 100 TB / 10⁵ partitions.
    * Exposed for the plan-audit spec (must contain no global sort).
    */
  private[graft] def trainingSample(
      corpus: DataFrame,
      vecCol: String,
      sampleSize: Int,
      seed: Long): DataFrame = {
    val projected = corpus.select(col(vecCol).cast("array<double>"))
    val n = projected.count()
    val base =
      if (n <= sampleSize) projected
      // 1.2× oversample keeps P(short sample) negligible; limit trims back
      else projected.sample(withReplacement = false, math.min(1.0, 1.2 * sampleSize / n), seed)
    base.limit(sampleSize)
  }

  /** IVF coarse quantizer: Lloyd's k-means over a driver-side sample.
    * Sampling + driver fit is the standard IVF recipe even at 100 TB —
    * the quantizer needs only a few ×k representative vectors, and the
    * trained centroids ship once per task inside the kernel expression.
    */
  def trainCentroids(
      corpus: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int = 8,
      sampleSize: Int = 4096,
      seed: Long = 42L): Array[Array[Double]] = {
    val sample = trainingSample(corpus, vecCol, sampleSize, seed)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.length >= k, s"need ≥ $k sample vectors, got ${sample.length}")
    var centroids = sample.take(k).map(_.clone())
    val dim = centroids(0).length
    (1 to iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val x = v(i) - centroids(c)(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** The `nProbe` nearest centroids (squared L2, ties to the lower index)
    * as array<int> ascending by distance. Dispatches to the fused codegen
    * kernel [[graft.functions.NearestCells]] when registered (all
    * [[graft.Sessions]] sessions): the centroid matrix rides along as ONE
    * flat double[] per task instead of k×dim plan literals, so the plan
    * stays flat at production cell counts (4k–64k). The composable
    * `array_sort`-over-literals form is the fallback with identical
    * ordering — viable only at toy k.
    */
  def nearestCells(v: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (spark.catalog.functionExists("nearest_cells"))
      call_function("nearest_cells", v,
        typedlit(centroids.map(_.toSeq).toSeq), lit(nProbe))
    else
      transform(
        slice(cellsRanked(v, centroids), 1, nProbe),
        s => s.getField("idx"))
  }

  /** Index of the single nearest centroid (L2, ties to the lower index). */
  def nearestCell(v: Column, centroids: Array[Array[Double]]): Column =
    nearestCells(v, centroids, 1)(0)

  private def cellsRanked(v: Column, centroids: Array[Array[Double]]): Column =
    array_sort(array(centroids.zipWithIndex.map { case (c, i) =>
      val plane = array(c.map(lit): _*)
      val diff = zip_with(v, plane, (x, y) => (x - y) * (x - y))
      struct(
        aggregate(diff, lit(0.0), (acc, x) => acc + x).as("dist"),
        lit(i).as("idx"))
    }: _*))

  /** IVF ANN top-k: corpus vectors are bucketed by nearest centroid; each
    * query probes its `nProbe` closest cells and brute-forces only those
    * buckets. One shuffle keyed by cell; probe cost ≈ nProbe/k of the
    * corpus. Output schema matches [[bruteForceTopK]].
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L): DataFrame = {
    val centroids = trainCentroids(corpus, vecCol, nCells, seed = seed)
    val c = corpus.select(
      col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"),
      nearestCell(col(vecCol).cast("array<double>"), centroids).as("cell"))
    val q = queries.select(
      col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"),
      nearestCells(col(vecCol).cast("array<double>"), centroids, nProbe).as("cells"))
      .select(col("query_id"), col("qv"), explode(col("cells")).as("cell"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    q.join(c, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Build + persist an IVF index into a zone: `<path>/centroids` (cell,
    * centroid — k small rows) and `<path>/assignments` (neighbor_id, cv,
    * cell — the corpus, PARTITIONED by cell so a probe reads only its
    * nProbe directories). [[ivfTopK]] trains the quantizer and
    * re-assigns the whole corpus on EVERY query call — the right shape
    * for a one-shot job, wrong at scale where the index is built nightly
    * and queried all day. Deterministic given the seed, so the persisted
    * path returns bit-identical results to the build-per-query form
    * (gate k4 ≡ k3; DedupSimilaritySpec asserts it directly).
    */
  def buildIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      iters: Int = 8,
      sampleSize: Int = 4096,
      seed: Long = 42L): Unit = {
    val centroids = trainCentroids(corpus, vecCol, nCells, iters, sampleSize, seed)
    writeIvfCentroids(spark, path, centroids)
    corpus.select(
        col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cell", nearestCell(col("cv"), centroids))
      // co-locate each cell's rows before the partitioned write: without
      // this every write task emits a file into EVERY cell directory it
      // touches (tasks × cells tiny files — measured 5× the build cost);
      // hashed on cell, a cell's rows land in one task → one file per
      // cell per shuffle partition. Raise shuffle partitions at real
      // corpus sizes for more files/parallelism per cell.
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/assignments")
    // drift baseline for [[appendIvfIndex]]: the build-time mean squared
    // quantization error, measured over the just-written zone (one extra
    // scan, build-time only — appends never pay it)
    val m = spark.read.parquet(s"$path/assignments")
      .agg(count(lit(1)), avg(assignmentDist2(centroids))).head()
    writeIvfMeta(spark, path, m.getLong(0), if (m.isNullAt(1)) 0.0 else m.getDouble(1))
  }

  /** The persisted quantizer, back as the driver-side matrix the probe
    * expressions ship (k × dim doubles — bounded payload by construction).
    */
  def readIvfCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids")
      .select("cell", "centroid").orderBy("cell")
      .collect()
      .map(_.getSeq[Double](1).toArray)

  /** Squared L2 distance of each assignment row's vector to its assigned
    * centroid — the quantization-error measure behind the drift policy.
    * The centroid matrix rides as ONE array literal; `element_at` picks
    * the row's own centroid, so this is a narrow map, no join.
    */
  private def assignmentDist2(centroids: Array[Array[Double]]): Column = {
    val cmat = typedlit(centroids.map(_.toSeq).toSeq)
    aggregate(
      zip_with(col("cv"), element_at(cmat, col("cell") + 1), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
  }

  private def writeIvfMeta(
      spark: org.apache.spark.sql.SparkSession,
      path: String, n: Long, meanDist2: Double): Unit = {
    import spark.implicits._
    Seq((n, meanDist2)).toDF("n_vectors", "mean_dist2")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The append-day quantization frame — exposed for the plan-audit spec:
    * a narrow map over the increment (no Sample node, no file scan of the
    * standing assignment partitions).
    */
  private[graft] def assignIncrement(
      increment: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    increment.select(
        col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cell", nearestCell(col("cv"), centroids))

  /** Result of one [[appendIvfIndex]] increment. `needsRetrain` is the
    * documented drift policy: the increment's mean squared quantization
    * error (distance to its assigned centroid) has inflated beyond
    * `retrainInflation` × the BUILD-time baseline stored in the index
    * meta — the standing centroids no longer describe the incoming
    * distribution and the nightly job should schedule a full
    * [[buildIvfIndex]] rebuild. Until the flag trips, days append by
    * assignment only: no sampling, no Lloyd iterations, no rewrite of
    * standing cell partitions.
    */
  final case class IvfAppendStats(
      nAppended: Long,
      baselineMeanDist2: Double,
      incrementMeanDist2: Double,
      needsRetrain: Boolean)

  /** Fold a day's vectors into a persisted IVF index by ASSIGNMENT ONLY:
    * each increment vector is quantized against the STANDING centroids
    * and appended into its cell partition — the per-day cost is
    * O(increment × k) narrow map work plus one cell-keyed shuffle, with
    * no training sample, no Lloyd rounds, and no touch of the existing
    * assignment files (PlanAuditSpec pins all three). Queries over the
    * appended index are exactly [[ivfTopKPersisted]] over the union —
    * identical to a zone whose day-2 rows were assigned at build time
    * with the same centroids (gate k5).
    *
    * Two narrow passes over the increment (measure, then write) beat
    * caching raw vectors; the drift measure rides the first pass.
    */
  def appendIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      increment: DataFrame,
      idCol: String,
      vecCol: String,
      retrainInflation: Double = 1.5): IvfAppendStats = {
    import graft.sources.Zones
    val centroids = readIvfCentroids(spark, path)
    val assigned = assignIncrement(increment, idCol, vecCol, centroids)
    val m = assigned
      .agg(count(lit(1)), avg(assignmentDist2(centroids))).head()
    val (nInc, incMean) = (m.getLong(0), if (m.isNullAt(1)) 0.0 else m.getDouble(1))
    // cell-hashed like the build (one file per cell per shuffle partition)
    assigned.repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/assignments")
    // baseline = BUILD-time quantization error; a legacy zone without meta
    // adopts the first increment as its baseline (ratio 1, no retrain)
    val baseline =
      if (Zones.exists(spark, s"$path/meta/_SUCCESS"))
        spark.read.parquet(s"$path/meta").select("mean_dist2").head().getDouble(0)
      else { writeIvfMeta(spark, path, nInc, incMean); incMean }
    IvfAppendStats(nInc, baseline, incMean, nInc > 0 && incMean > baseline * retrainInflation)
  }

  /** Day-partitioned build — the OPERATIONAL zone layout behind
    * [[graft.pipeline.IndexRun]]: assignments carry `ingest_day` and the
    * write partitions by (cell, ingest_day), so a day's append is a
    * day-scoped dynamic partition overwrite — a day retried after a
    * crash replaces its own leftovers instead of double-appending, and
    * standing (cell, prior-day) files are never touched. Queries
    * ([[ivfTopKPersisted]]) project (neighbor_id, cv, cell) and are
    * layout-agnostic.
    */
  def buildIvfIndexDaily(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      ingestDay: String,
      iters: Int = 8,
      sampleSize: Int = 4096,
      seed: Long = 42L): Unit = {
    val centroids = trainCentroids(corpus, vecCol, nCells, iters, sampleSize, seed)
    writeIvfCentroids(spark, path, centroids)
    corpus.select(
        col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cell", nearestCell(col("cv"), centroids))
      .withColumn("ingest_day", lit(ingestDay))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell", "ingest_day")
      .parquet(s"$path/assignments")
    val m = spark.read.parquet(s"$path/assignments")
      .agg(count(lit(1)), avg(assignmentDist2(centroids))).head()
    writeIvfMeta(spark, path, m.getLong(0), if (m.isNullAt(1)) 0.0 else m.getDouble(1))
  }

  /** [[appendIvfIndex]] for the day-partitioned layout: same assignment-
    * only cost and drift measure, but the write is a (cell, ingest_day)
    * dynamic partition overwrite scoped to THIS day — idempotent under
    * retry. Requires a zone built by [[buildIvfIndexDaily]].
    */
  def appendIvfIndexDaily(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      increment: DataFrame,
      idCol: String,
      vecCol: String,
      ingestDay: String,
      retrainInflation: Double = 1.5): IvfAppendStats = {
    import graft.sources.Zones
    val centroids = readIvfCentroids(spark, path)
    val assigned = assignIncrement(increment, idCol, vecCol, centroids)
    val m = assigned
      .agg(count(lit(1)), avg(assignmentDist2(centroids))).head()
    val (nInc, incMean) = (m.getLong(0), if (m.isNullAt(1)) 0.0 else m.getDouble(1))
    Zones.replacePartitions(
      assigned.withColumn("ingest_day", lit(ingestDay)).repartition(col("cell")),
      s"$path/assignments", Seq("cell", "ingest_day"))
    val baseline =
      if (Zones.exists(spark, s"$path/meta/_SUCCESS"))
        spark.read.parquet(s"$path/meta").select("mean_dist2").head().getDouble(0)
      else { writeIvfMeta(spark, path, nInc, incMean); incMean }
    IvfAppendStats(nInc, baseline, incMean, nInc > 0 && incMean > baseline * retrainInflation)
  }

  /** Full retrain of a day-partitioned index FROM ITS OWN ZONE into a
    * NEW directory — what the drift policy triggers: the raw vectors in
    * the assignments are quantizer-independent, so the rebuild re-trains
    * centroids over them and re-assigns every vector (ingest_day
    * preserved) into `toPath`, refreshing the drift baseline. The source
    * index keeps serving untouched throughout; the caller makes the new
    * version live atomically ([[graft.pipeline.IndexRun]] flips a
    * pointer file in ONE rename — no window where new centroids can pair
    * with old assignments).
    */
  def retrainIvfIndexDaily(
      spark: org.apache.spark.sql.SparkSession,
      fromPath: String,
      toPath: String,
      nCells: Int,
      iters: Int = 8,
      sampleSize: Int = 4096,
      seed: Long = 42L): Unit = {
    val cur = spark.read.parquet(s"$fromPath/assignments")
      .select(col("neighbor_id"), col("cv"), col("ingest_day").cast("string").as("ingest_day"))
    val centroids = trainCentroids(cur, "cv", nCells, iters, sampleSize, seed)
    writeIvfCentroids(spark, toPath, centroids)
    cur.withColumn("cell", nearestCell(col("cv"), centroids))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell", "ingest_day")
      .parquet(s"$toPath/assignments")
    val m = spark.read.parquet(s"$toPath/assignments")
      .agg(count(lit(1)), avg(assignmentDist2(centroids))).head()
    writeIvfMeta(spark, toPath, m.getLong(0), if (m.isNullAt(1)) 0.0 else m.getDouble(1))
  }

  private def writeIvfCentroids(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      centroids: Array[Array[Double]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1) // k rows — one footer beats nCells tiny files
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** IVF ANN top-k against a persisted index (see [[buildIvfIndex]]):
    * reads centroids + assignments from the zone — NO training, no
    * corpus re-assignment in the query plan (the only file scan is the
    * index zone; asserted by PlanAuditSpec). Output and numerics are
    * identical to [[ivfTopK]] with the same build parameters.
    *
    * NOT a pure plan builder: the call itself runs Spark jobs (the query
    * quantization materializes and the probed-cell set collects to the
    * driver) so the returned plan can statically prune the assignments
    * scan to probed cell directories. Callers that need a lazy frame
    * must accept the unpruned [[ivfTopK]] shape instead.
    */
  /** Cap on the probed-cell `isin` pushed into the assignments scan by
    * [[ivfTopKPersisted]] — bounds the planner-side predicate (the
    * collect itself is ≤ nCells values by the distinct, always
    * driver-safe: the centroid array is driver-resident already). Past
    * the cap the unpruned scan is the honest plan.
    */
  private[graft] val MaxPrunedCells = 2048

  def ivfTopKPersisted(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4): DataFrame = {
    val centroids = readIvfCentroids(spark, path)
    val q = queries.select(
      col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"),
      nearestCells(col(vecCol).cast("array<double>"), centroids, nProbe).as("cells"))
      .select(col("query_id"), col("qv"), explode(col("cells")).as("cell"))
      // the probe frame feeds the join AND the bounded cell collect
      // below; cached so each consumes one materialization (the collect
      // right below materializes it eagerly). cache() over
      // localCheckpoint: same one pass, but lineage survives executor
      // loss (a lost checkpoint block fails the job; a lost cached
      // partition recomputes)
      .cache()
    // PARTITION-PRUNE the assignments zone to the probed cells: the zone
    // is laid out partitioned-by-cell precisely so a query touches
    // nProbe/nCells of it, but the equi-join alone still scans (and
    // lists the files of) every cell. The probed-cell set is bounded by
    // min(nCells, queries × nProbe); collect it while it is small and
    // push it as an `isin` on the partition column — files of unprobed
    // cells never enter the scan. Past the cap (a huge query batch
    // probing most cells) the full-scan join is the honest plan, and
    // extra cells kept by it are dropped by the join — identical output
    // either way, so the cap only picks the plan.
    val probedCells = q.select(col("cell")).distinct()
      .limit(MaxPrunedCells + 1).collect().map(_.getInt(0)).toSeq
    val c0 = spark.read.parquet(s"$path/assignments")
    val c = (if (probedCells.length <= MaxPrunedCells)
        c0.filter(col("cell").isin(probedCells: _*))
      else c0)
      .select(col("neighbor_id"), col("cv"), col("cell"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    q.join(c, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Deterministic random hyperplanes (fixed seed → identical across runs
    * and executors; shipped as literals, so no closure serialization).
    */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH signature of a vector under the given hyperplanes.
    * Dispatches to the fused [[graft.functions.SignBitBands]] kernel
    * (one-band form) when registered — the composed fallback embeds
    * every plane coordinate as a plan literal, which costs real
    * Catalyst analysis time past a few hundred coordinates; both are
    * bit-identical (incl. null → key 0 and NaN-dot → bit set).
    */
  def signature(v: Column, planes: Seq[Array[Double]]): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (planes.length <= 63 && spark.catalog.functionExists("sign_bit_bands"))
      call_function("sign_bit_bands", v,
        typedlit(planes.map(_.toSeq)), lit(1), lit(planes.length))(0)
    else
      planes.zipWithIndex
        .map { case (p, i) =>
          val plane = array(p.map(lit): _*)
          when(dot(v, plane) >= 0, lit(1L << i)).otherwise(lit(0L))
        }
        .reduce(_ + _)
  }

  /** ANN top-k via random-hyperplane bucketing: join query and corpus on
    * the LSH signature (optionally multi-probe: each query also probes all
    * signatures at Hamming distance 1), brute-force within the bucket.
    * Output schema matches [[bruteForceTopK]]; recall < 1 by construction.
    *
    * bits ≤ 0 → auto-size to the corpus: ~log2(n / 4k) sign bits, so the
    * expected bucket holds ~4k candidates — enough to fill top-k with
    * near-random embeddings while still cutting the probe set by
    * 2^bits/(bits+1) with multi-probe. Pass bits explicitly for clustered
    * real-world embeddings (they tolerate many more bits).
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 0,
      multiProbe: Boolean = true,
      seed: Long = 42L): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    val nBits =
      if (bits > 0) bits
      else {
        // distributed count (a global count().over() window would funnel
        // the whole corpus through one partition just to read a scalar)
        val n = corpus.count()
        math.max(1, (math.log(n.toDouble / (4.0 * k)) / math.log(2)).floor.toInt)
      }
    val planes = hyperplanes(dim, nBits, seed)
    val c = corpus.select(
      col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"),
      signature(col(vecCol).cast("array<double>"), planes).as("sig"))
    val qBase = queries.select(
      col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"),
      signature(col(vecCol).cast("array<double>"), planes).as("qsig"))
    val probes =
      if (!multiProbe) qBase.withColumn("sig", col("qsig"))
      else qBase.withColumn(
        "sig",
        explode(array((col("qsig") +: (0 until nBits).map(b => col("qsig").bitwiseXOR(lit(1L << b)))): _*)))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    probes
      .join(c, "sig")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("sim"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScopedSessions
import org.apache.spark.sql.types.DecimalType

import graft.Sessions

/** Deterministic k-means-lite over an embedding column — corpus
  * clustering for mixture balancing / topic bucketing of training data
  * (beyond-reference; the batch companion to [[SimilaritySearch]]'s IVF
  * quantizer).
  *
  * Everything is expressed so two engines reproduce it bit-for-bit:
  * init is `id % k` (no RNG), per-dimension centroid means accumulate in
  * decimal (order-independent) with one final double division, distances
  * fold dimensions left-to-right in a fixed order, and argmin ties break
  * on cluster id. That makes full k-means oracle-checkable — the same
  * property the dedup family's gates rely on.
  *
  * Scale shape: each Lloyd iteration is one posexplode + hash
  * aggregation on (cluster, dim) — linear, partially aggregated
  * map-side — plus one assignment pass. Assignment dispatches on k:
  * small k joins the k-row centroid frame in as a broadcast with a
  * min-struct argmin; from `kernelFrom` (default 64) up it routes
  * through the fused `functions/NearestCells` codegen kernel — one
  * corpus scan, no k-row amplification — the same plan the IVF probe
  * uses.
  */
object Clustering {

  /** Per-cluster, per-dimension decimal-exact means, rebuilt into
    * centroid arrays: (cid, c). Peeks one row for the dimension; prefer
    * the `dim`-taking overload inside loops.
    */
  def centroids(assigned: DataFrame, vecCol: String, clusterCol: String): DataFrame =
    centroids(assigned, vecCol, clusterCol,
      assigned.select(size(col(vecCol))).head().getInt(0))

  /** Columnar centroid recompute: ONE hash aggregation keyed on the
    * cluster alone — no row explosion, no second shuffle. (The earlier
    * posexplode form pushed N×dim rows through a (cid, pos) aggregation
    * and then re-assembled arrays in a second (cid) shuffle — 2 shuffles
    * and a 64× row amplification per Lloyd round.)
    *
    * Dispatches to the fused [[graft.functions.DecimalVectorMean]]
    * kernel when the session registers it: one aggregate EXPRESSION for
    * all `dim` means — the composed `dim`-column form is bit-identical
    * but pays ~0.3 s of Catalyst analysis per round at dim=64 (the e2
    * round-7 adjudication), which is the fallback below. Both paths
    * require uniform-dimension vectors (as every consumer here does).
    */
  def centroids(assigned: DataFrame, vecCol: String, clusterCol: String, dim: Int): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (spark.catalog.functionExists("decimal_vector_mean"))
      assigned
        .groupBy(col(clusterCol).as("cid"))
        .agg(call_function("decimal_vector_mean", col(vecCol)).as("c"))
    else {
      val sums = (0 until dim).map(i =>
        sum(element_at(col(vecCol), i + 1).cast(DecimalType(28, 10))).as(s"__s$i"))
      assigned
        .groupBy(col(clusterCol).as("cid"))
        .agg(sums.head, (sums.tail :+ count(lit(1)).as("__n")): _*)
        .select(
          col("cid"),
          array((0 until dim).map(i => col(s"__s$i").cast("double") / col("__n")): _*).as("c"))
    }
  }

  /** Per-cluster MERGEABLE centroid state: (cid, sums array<decimal(38,10)>,
    * n). The state form of [[centroids]] — decimal sums are exact and
    * order-independent, so states computed over disjoint row sets (one
    * per published day) ADD: [[centroidsFromState]] over their union
    * reproduces `centroids` over the union of rows bitwise. This is what
    * makes a standing cluster zone's daily centroid derivation O(k × days)
    * kilobyte reads instead of a full-corpus rescan.
    *
    * Dispatches to the fused [[graft.functions.DecimalVectorSum]] kernel
    * when registered; the composed per-dimension fallback is value-
    * identical (both follow Spark's double→decimal(_,10) conversion and
    * exact decimal addition).
    */
  def centroidState(
      assigned: DataFrame, vecCol: String, clusterCol: String, dim: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    val keys = carryCols.map(col) :+ col(clusterCol).as("cid")
    val carry = carryCols.map(col)
    if (spark.catalog.functionExists("decimal_vector_sum"))
      assigned
        .groupBy(keys: _*)
        .agg(
          call_function("decimal_vector_sum", col(vecCol)).as("sums"),
          count(col(vecCol)).as("n"))
    else {
      val sums = (0 until dim).map(i =>
        sum(element_at(col(vecCol), i + 1).cast(DecimalType(28, 10))).as(s"__s$i"))
      assigned
        .groupBy(keys: _*)
        .agg(sums.head, (sums.tail :+ count(col(vecCol)).as("n")): _*)
        .select(
          carry ++ Seq(
            col("cid"),
            array((0 until dim).map(i =>
              col(s"__s$i").cast(DecimalType(38, 10))): _*).as("sums"),
            col("n")): _*)
    }
  }

  /** Centroids from accumulated state rows — the zero-corpus-scan form of
    * [[centroids]]. Accepts MULTIPLE state rows per cid (one per day
    * partition): per-dimension decimal sums merge exactly, counts add,
    * and the finish is the same two IEEE ops every centroid path uses
    * (decimal→double, then ÷ n) — so the result is bit-identical to
    * `centroids` over the underlying rows. State frames are k×days rows;
    * the explode/reassemble shuffle moves kilobytes.
    */
  def centroidsFromState(state: DataFrame): DataFrame = {
    val totals = state.groupBy("cid").agg(sum("n").as("__n"))
    val merged = state
      .select(col("cid"), posexplode(col("sums")).as(Seq("__p", "__s")))
      .groupBy("cid", "__p")
      .agg(sum("__s").as("__s"))
      .groupBy("cid")
      .agg(transform(
        array_sort(collect_list(struct(col("__p"), col("__s")))),
        x => x.getField("__s").cast(DecimalType(38, 10))).as("__sums"))
    merged.join(totals, "cid")
      .select(
        col("cid"),
        transform(col("__sums"), s => s.cast("double") / col("__n")).as("c"))
  }

  /** Nearest-centroid assignment: squared-L2 against every centroid
    * (broadcast k rows), argmin via a partially-aggregated min-struct
    * with cid tie-break.
    */
  def assign(vecs: DataFrame, idCol: String, vecCol: String, cents: DataFrame): DataFrame =
    assignKeep(vecs, idCol, vecCol, cents).select(col(idCol), col("cluster"), col("dist"))

  /** [[assign]] that also carries the vector through — so a Lloyd loop
    * can feed the next centroid recompute WITHOUT re-joining assignments
    * back to the vector frame (that join was one shuffle per round).
    * `first(vec)` is deterministic here: every row of an id's group holds
    * the same vector.
    */
  private def assignKeep(
      vecs: DataFrame, idCol: String, vecCol: String, cents: DataFrame): DataFrame = {
    val dist = aggregate(
      zip_with(col(vecCol), col("c"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, z) => acc + z)
    vecs
      .crossJoin(broadcast(cents))
      .withColumn("dist", dist)
      .groupBy(col(idCol))
      .agg(min(struct(col("dist"), col("cid"))).as("m"), first(col(vecCol)).as(vecCol))
      .select(col(idCol), col(vecCol), col("m.cid").as("cluster"), col("m.dist").as("dist"))
  }

  /** Centroid-matrix shard bound of [[assignFused]]: chunks above this
    * many centroids per kernel call. k×dim doubles per chunk stays
    * single-digit MBs at dim ≲ 256 — the serialized-task and plan-size
    * sweet spot — while SemDeDup-scale k ≈ 10⁵ would otherwise inline a
    * 0.5–1 GB flat matrix into ONE expression (a plan-size and task-
    * broadcast bomb).
    */
  val MaxKernelK = 4096

  /** Fused nearest-centroid assignment for large k: the centroid matrix
    * is collected once and rides into [[graft.functions.NearestCells]] /
    * [[graft.functions.NearestCellDist]] codegen kernels, so the corpus
    * is scanned ONCE with a fused O(k·dim) loop per row instead of
    * materializing the k-row broadcast join amplification `assign` pays
    * per vector. Past `maxKernelK` centroids the matrix is SHARDED:
    * each ≤maxKernelK chunk evaluates its own argmin-with-distance
    * kernel and the global winner is `least()` over the per-chunk
    * (dist, cid) structs — still one corpus scan, same total O(k·dim)
    * per row, but no single plan object exceeds the chunk bound
    * (ClusteringSpec pins bit-identity across the shard seam and a
    * k=16384 run). The winning centroid joins back as a broadcast k-row
    * frame keyed on cid (hash join, no amplification) solely to
    * recompute the reported distance with the exact fold order the
    * broadcast path uses — so all paths are bit-identical.
    *
    * Empty clusters (possible after a Lloyd round) make kernel index ≠
    * cid; the sorted cid array maps indices back, and because the map is
    * order-preserving the kernel's ties-to-lower-index rule still equals
    * `assign`'s ties-to-lower-cid min-struct — and across shards the
    * struct ordering (dist first, then cid) reproduces the same rule.
    */
  def assignFused(
      vecs: DataFrame, idCol: String, vecCol: String, cents: DataFrame,
      maxKernelK: Int = MaxKernelK): DataFrame =
    assignFusedKeep(vecs, idCol, vecCol, cents, maxKernelK)
      .select(col(idCol), col("cluster"), col("dist"))

  private[graft] def assignFusedKeep(
      vecs: DataFrame, idCol: String, vecCol: String, cents: DataFrame,
      maxKernelK: Int = MaxKernelK): DataFrame = {
    require(maxKernelK > 0, "maxKernelK must be positive")
    // cids stay in cid's Long domain so both assignment paths agree on
    // the output schema (init is id % k — a bigint)
    val ordered = cents.select(col("cid").cast("long"), col("c")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    // sharding needs the struct-returning kernel; a session without the
    // graft extensions (registration off) stays on the single-kernel
    // path, whose own composable fallback covers toy k
    val canShard = org.apache.spark.sql.SparkSession.active
      .catalog.functionExists("nearest_cell_dist")
    val assigned =
      if (ordered.length <= maxKernelK || !canShard) {
        val cids = ordered.map(_._1).toSeq
        val matrix = ordered.map(_._2)
        vecs.withColumn("cluster",
          element_at(typedlit(cids), SimilaritySearch.nearestCells(col(vecCol), matrix, 1)(0) + 1))
      } else {
        // sharded: per-chunk struct(dist, cid), global winner by least()
        // — struct ordering is (dist, then cid), and cids are ascending
        // within AND across chunks, so ties resolve to the lowest cid
        // exactly as the single-kernel path does. Each chunk's kernel
        // lands ONCE as a named projection column: getField on the
        // resulting attribute is free, whereas referencing the kernel
        // expression from both struct fields would embed (and ship) the
        // chunk's centroid matrix twice per chunk — doubling exactly
        // the per-task plan payload this sharding exists to bound.
        // CollapseProject keeps the split (it never re-inlines a
        // non-cheap alias referenced more than once).
        val chunked = ordered.grouped(maxKernelK).toSeq.zipWithIndex
        val withKernels = chunked.foldLeft(vecs) { case (df, (chunk, i)) =>
          val matrix = chunk.map(_._2).map(_.toSeq).toSeq
          df.withColumn(s"__cd$i",
            call_function("nearest_cell_dist", col(vecCol), typedlit(matrix)))
        }
        val structs = chunked.map { case (chunk, i) =>
          val cids = chunk.map(_._1).toSeq
          struct(
            col(s"__cd$i").getField("dist").as("dist"),
            element_at(typedlit(cids), col(s"__cd$i").getField("idx") + 1).as("cid"))
        }
        withKernels
          .withColumn("cluster", least(structs: _*).getField("cid"))
          .drop(chunked.map { case (_, i) => s"__cd$i" }: _*)
      }
    val dist = aggregate(
      zip_with(col(vecCol), col("c"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, z) => acc + z)
    assigned
      .join(broadcast(cents.select(col("cid").as("cluster"), col("c"))), "cluster")
      .withColumn("dist", dist)
      .select(col(idCol), col(vecCol), col("cluster"), col("dist"))
  }

  /** Fixed-iteration Lloyd's: init `id % k`, then `iters` rounds of
    * centroid recompute + reassign. Returns (id, cluster, dist) for the
    * final assignment, materialized (localCheckpoint) so the cached
    * vector frame can be released before handing it back.
    *
    * Assignment dispatches on k: below `kernelFrom` the broadcast
    * min-struct plan (`assign`) wins; from `kernelFrom` up the fused
    * kernel (`assignFused`) keeps per-row cost O(k·dim) without the
    * k-row amplification — the same crossover the IVF probe uses. Both
    * paths are bit-identical, so the cut is a pure plan choice.
    */
  def kmeansLite(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      kernelFrom: Int = 64,
      // keepVector: return (id, vecCol, cluster, dist) instead of
      // (id, cluster, dist) — the loop already carries the vector with
      // the assignment (the keep-forms), so a consumer that needs
      // labeled VECTORS (batch SemDeDup's per-cluster kernel) can read
      // them straight off the checkpoint instead of re-joining the
      // corpus by id (one full vector shuffle + sort saved). The
      // checkpoint then stores the vectors once (executor-local
      // MEMORY_AND_DISK — the same order as one shuffle write of the
      // corpus, paid only by callers that opt in).
      keepVector: Boolean = false): DataFrame = {
    // AQE is pinned OFF for the loop's own jobs: a Lloyd round is a fixed
    // micro-topology (hash agg → ≤k output rows → driver collect) where
    // adaptive re-planning has nothing to decide — the shuffle output
    // cardinality is ≤ k by construction at ANY corpus size — but its
    // per-exchange stage materialization adds a driver barrier per round
    // (measured ~0.4 s over 2 rounds at sf0.1).
    // The loop runs in a scoped session; the result comes back bound to
    // the caller, so downstream plans keep the caller's confs.
    val spark = vecs.sparkSession
    Sessions.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") { noAqe =>
      val base = ScopedSessions.bind(vecs, noAqe).select(col(idCol), col(vecCol)).cache()
      val dim = base.select(size(col(vecCol))).head().getInt(0)
      // on the FUSED route every exchange inside the loop is the centroid
      // aggregation — ≤ k rows of k·dim decimal sums by construction at
      // ANY corpus size (assignFusedKeep shuffles nothing: corpus scan +
      // broadcast join) — so with AQE pinned off the shuffle partitioning
      // is sized from k·dim, not left at the session's per-core fan-out
      // (32 reduce tasks for a 64-row aggregate, measured ~0.15 s of pure
      // scheduling per Lloyd round at sf0.1). The broadcast route keeps
      // the session value: its argmin groupBy(id) is corpus-sized.
      val loopPins =
        if (k < kernelFrom) Nil
        else Seq("spark.sql.shuffle.partitions" ->
          Sessions.partitionsFor(k.toLong * dim * 24).toString)
      Sessions.withConfs(noAqe, loopPins: _*) { loop =>
        val loopBase = ScopedSessions.bind(base, loop)
        val outCols =
          if (keepVector) Seq(col(idCol), col(vecCol), col("cluster"), col("dist"))
          else Seq(col(idCol), col("cluster"), col("dist"))
        var assigned = loopBase.withColumn("cluster", col(idCol) % k)
        var result: DataFrame = assigned.withColumn("dist", lit(0.0)).select(outCols: _*)
        for (_ <- 1 to iters) {
          val cents = centroids(assigned, vecCol, "cluster", dim)
          // the keep-forms carry the vector with the assignment, so the next
          // round's centroid recompute reads it directly — no per-round
          // re-join against `base` (one shuffle saved per iteration)
          val keep =
            if (k >= kernelFrom) assignFusedKeep(loopBase, idCol, vecCol, cents)
            else assignKeep(loopBase, idCol, vecCol, cents)
          result = keep.select(outCols: _*)
          assigned = keep.select(col(idCol), col(vecCol), col("cluster"))
        }
        // evaluate the final assignment while the cache is hot, then release
        // it — callers get a plan-free frame, and no cached partitions leak
        // past the operator
        val out = result.localCheckpoint()
        base.unpersist()
        ScopedSessions.bind(out, spark)
      }
    }
  }
}

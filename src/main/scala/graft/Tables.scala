package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScopedSessions
import org.apache.spark.sql.types.LongType

/** Parquet-backed zone access for the driver-provided star schema
  * (see TESTDATA.md). One parquet file per table under the sf dir.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.ts is parquet TIMESTAMP(NANOS) which Spark's vectorized reader
    * rejects; sessions set spark.sql.legacy.parquet.nanosAsLong=true (see
    * [[Sessions.builder]]) so it surfaces as long nanos, converted here to
    * a micro-precision NTZ timestamp (DuckDB's read_parquet truncates to
    * micros the same way, so the oracle sees identical values).
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    val converted = df.schema.fields.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case None => df
    }
    // only the corpora with expensive per-row work (shingling/minhash,
    // vector math) benefit from forced parallelism; relational tables stay
    // on native scans so filters/pruning sit at the source.
    if (name == "documents" || name == "embeddings")
      rebalance(converted, new java.io.File(s"$sfDir/$name.parquet").length())
    else converted
  }

  /** The driver's testdata ships each table as ONE parquet row group, so a
    * scan yields a single partition and every per-row computation
    * (minhash, cosine, regex parsing) runs on one core. For small inputs
    * we trade one cheap round-robin exchange for full parallelism. On a
    * real cluster inputs are many files/row groups (partitions ≥ cores)
    * and anything ≥ the size cutoff skips this path, keeping filter/column
    * pushdown adjacent to the scan where it matters.
    */
  private val rebalanceCutoffBytes = 256L << 20

  def rebalance(df: DataFrame, inputBytes: Long): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (inputBytes < rebalanceCutoffBytes && df.rdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }
}

/** One place to build correctly-configured local sessions (Verify, Bench,
  * tests) so scale-sensitive settings stay consistent.
  */
object Sessions {
  def builder(appName: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reference-tracked cleanup (checkpoint RDDs, broadcasts, shuffle
      // state) fires only on driver GC; the 30-min default never fires
      // inside a bench/verify session, so long-running drivers accrete —
      // 2 min keeps cleanup flowing without measurable GC cost
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.adaptive.enabled", "true")
      // candidate-id confirm fetches (Dedup's bounded isin against a
      // standing zone) push their id lists to parquet as per-value
      // stats/dictionary checks up to this size; the 10-value default
      // collapses them to a min/max range, which spans everything for
      // arbitrary id sets and skips nothing. Capped at 1000: parquet-mr
      // builds the pushed In as a NESTED two-arg or() tree whose
      // evaluation recurses once per value — ~10k values overflows the
      // task stack (measured); past this cap the filter degrades to the
      // min/max range and the Spark-side InSet (hash set) still runs.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
      // partition discovery of cell/date-partitioned zones (IVF
      // assignments: 256 dirs) tipped over the 32-dir default into a
      // DISTRIBUTED listing job — one task per directory, ~0.4 s of
      // scheduling per query to list a few hundred local dirs the
      // driver stats in milliseconds. The driver comfortably lists ~1k
      // dirs on any filesystem; past that the distributed path
      // re-engages on its own (zones with more partitions than this
      // are exactly the ones worth a parallel listing).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** Run `body` in a clone of `spark` with `pins` set on the clone's
    * conf; `spark` itself is never changed. The clone starts from the
    * caller's runtime confs (so scopes nest) and shares its cache
    * manager, catalog and execution listeners, so there is no shared
    * state to guard: scopes on different threads run at once, and a
    * query planned on `spark` meanwhile sees its own confs. `body` plans
    * on the session it is given (`ScopedSessions.bind` moves a caller's
    * frame onto it); a frame handed back for further planning is bound
    * back to the caller. This is the only place graft changes a session
    * conf. No pins, no clone.
    */
  def withConfs[T](spark: SparkSession, pins: (String, String)*)(body: SparkSession => T): T =
    if (pins.isEmpty) body(spark)
    else {
      val scoped = ScopedSessions.cloneOf(spark)
      pins.foreach { case (k, v) => scoped.conf.set(k, v) }
      body(scoped)
    }

  /** Local cores for a graft session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Partition count for `bytes` of data at a 64 MB target: one partition
    * per started 64 MB, at least one. The data-derived width of graft's
    * small loop shuffles and narrow coalesces over materialized caches.
    */
  def partitionsFor(bytes: Long): Int = math.max(1L, bytes / (64L << 20) + 1).toInt
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ScopedSessions

import graft.Sessions

/** Parquet-backed warehouse zones (staging / warehouse / datamart dirs)
  * with the write disciplines the reference implements as SQL statements:
  *
  *  - S5 truncate-and-load  → `overwriteAll`
  *  - S7 daily upsert       → [[upsertPartitioned]]: dynamic partition
  *    overwrite rewrites ONLY the partitions the increment touches — the
  *    at-scale replacement for `INSERT ... ON DUPLICATE KEY UPDATE`
  *    (load_aggregate.py:90-107). A 100 TB AGGREGATE table partitioned by
  *    day never rewrites history to absorb today's snapshot.
  *
  * Time-partitioned facts (AGGREGATE by DATE_SK, events by day) get
  * partition pruning for free: a `DATE_SK = n` predicate prunes to one
  * directory (verified in ZonesSpec via the physical plan).
  */
object Zones {

  /** Zone existence through the Hadoop `FileSystem` API — works on any
    * filesystem the session can reach (local, `file:` URIs, HDFS, object
    * stores). `java.io.File.exists()` is always false for non-local
    * schemes, which would silently treat a populated zone as empty — for
    * a read-modify-write zone like the SCD2 history that is a
    * data-corruption hazard (every row "new"), not a crash.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    recoverSwap(spark, path)
    // a completeness probe (`<zone>/_SUCCESS`) must recover the ZONE
    // too: after a crashed swap the marker lives inside <zone>.__tmp__
    // and the bare-path recovery key above never fires — a caller
    // keying "does the zone exist" on its marker would read the zone as
    // absent and its next swap would destroy the only copy
    if (path.endsWith("/_SUCCESS"))
      recoverSwap(spark, path.stripSuffix("/_SUCCESS"))
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Whether the zone holds any actual parquet DATA file (recursive). An
    * existing-but-fileless dir — the footprint of writing an EMPTY first
    * increment — must read as "no zone yet": `spark.read.parquet` on it
    * throws schema-inference errors, and an upsert that trusts bare
    * [[exists]] would poison the zone permanently on its first empty day.
    */
  def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(root) && {
      val it = fs.listFiles(root, true)
      var found = false
      while (!found && it.hasNext) {
        val n = it.next().getPath.getName
        found = n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      found
    }
  }

  /** Default target rows per parquet file for zone writes — see
    * [[sizedForWrite]]. At the ~0.5-3 KB/row of this repo's zone shapes
    * (signature rows with hgrams/sig arrays, assignment rows with
    * vectors) 128k rows lands files in the ~100-400 MB band the guide's
    * file-layout section recommends.
    */
  val ZoneRowsPerFile: Long = 128L * 1024

  /** Size a zone write's FILE COUNT from its row count instead of its
    * upstream partition count (guide §6, small files): a daily
    * increment written straight off a 32-partition plan lands 32
    * near-empty files, and every later scan of the zone then pays one
    * task per file (parquet's open-cost packing stops merging splits at
    * the file boundary) — the d9/d12 gate zones measured 27-32 scan
    * tasks for kilobytes of data, with the task SCHEDULING dominating
    * every probe of the standing zone. ⌈rows / rowsPerFile⌉ files keeps
    * small zones at one file and large zones at ~hundreds-of-MB files.
    * `repartition` rather than `coalesce`: coalesce would merge the
    * UPSTREAM computation (signature derivation) into the reduced task
    * count, serializing exactly the work the corpus rebalance exists to
    * spread; the round-robin shuffle moves only increment-sized rows,
    * once, at write time.
    */
  def sizedForWrite(
      df: DataFrame, rows: Long, rowsPerFile: Long = ZoneRowsPerFile): DataFrame = {
    val files = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile)
    df.repartition(math.min(files, Int.MaxValue.toLong).toInt)
  }

  /** Recursive delete through the Hadoop `FileSystem` API (no-op when the
    * path is absent) — the scheme-agnostic counterpart of [[exists]] for
    * gate/test cleanups.
    */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    ()
  }

  /** Full-refresh write (TRUNCATE + INSERT parity). */
  def overwriteAll(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Upsert an increment into a partitioned table by rewriting only the
    * touched partitions: for each partition present in `increment`, the
    * new content = old rows whose key is absent from the increment ∪ the
    * increment (new version wins), written with dynamic partition
    * overwrite so untouched partitions are untouched.
    */
  def upsertPartitioned(
      spark: SparkSession,
      path: String,
      increment: DataFrame,
      keys: Seq[String],
      partitionCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    val merged =
      // hasDataFiles, not exists: an empty first increment leaves a
      // fileless dir whose read would fail schema inference forever
      if (!hasDataFiles(spark, path)) increment
      else {
        val current = spark.read.parquet(path)
        // restrict the anti-join to touched partitions: the partition
        // filter prunes the scan to those directories. NULL-SAFE (<=>):
        // a plain semi join never matches the NULL partition, so the
        // increment's null-partition rows would replace — not merge —
        // the zone's __HIVE_DEFAULT_PARTITION__ dir, silently dropping
        // every existing null-partition row absent from the increment
        val touched = increment.select(col(partitionCol).as("__tp")).distinct()
        val touchedCurrent = current
          .join(touched, col(partitionCol) <=> col("__tp"), "left_semi")
        graft.operators.Upsert.upsert(touchedCurrent, increment, keys)
      }
    replacePartitions(merged, path, Seq(partitionCol))
  }

  /** Replace the partitions `df` holds and leave every other partition of
    * the zone untouched (dynamic partition overwrite). A per-write option,
    * NOT the session conf: scoping dynamic overwrite to this writer leaves
    * later partitioned overwrites in the session with the default
    * truncate semantics.
    */
  def replacePartitions(df: DataFrame, path: String, partitionBy: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(path)

  /** Whether the zone at `path` is laid out in `column=value` directories. */
  def isPartitionedBy(spark: SparkSession, path: String, column: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(root) &&
      fs.listStatus(root).exists(st => st.isDirectory && st.getPath.getName.startsWith(s"$column="))
  }

  /** Durable overwrite for read-modify-write cycles (new zone content is
    * computed FROM the current zone files): stage the full result to
    * `<path>.tmp`, then swap it over `path`. The staged write materializes
    * the plan while the old files still exist, so no checkpoint is needed;
    * unlike `localCheckpoint(true)` this keeps lineage recoverable on
    * executor loss, and the zone is never in a deleted-but-not-rewritten
    * state longer than one rename (atomic on HDFS-like filesystems).
    */
  def overwriteSwap(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    // a crashed previous swap may have left the zone's ONLY copy in the
    // tmp dir (window between delete and rename) — complete it BEFORE
    // stage() would clear the tmp dir and destroy that sole copy
    recoverSwap(df.sparkSession, path)
    stage(df, path, partitionBy)
    commitSwap(df.sparkSession, path)
  }

  /** Stage-all-then-swap-all, for result plans that read EACH OTHER's
    * targets (e.g. the new dim_product scans the current dim_brand files):
    * every staged write still sees the old files of every zone; renames
    * happen only after all results are materialized.
    */
  def overwriteSwapAll(writes: Seq[(DataFrame, String)]): Unit = {
    writes.foreach { case (df, p) => recoverSwap(df.sparkSession, p) }
    writes.foreach { case (df, p) => stage(df, p, Nil) }
    writes.foreach { case (df, p) => commitSwap(df.sparkSession, p) }
  }

  /** Register `path` as an external BUCKETED (and optionally partitioned)
    * table — idempotent, so a fresh session (in-memory catalog) re-attaches
    * to an existing zone each run. Bucketing is catalog metadata: a reader
    * that goes through `spark.table(name)` gets scans pre-distributed by
    * `bucketCols`, so the daily upsert merge join and every repeated
    * star join on the bucket key run WITHOUT shuffling the big side —
    * at 100 TB the exchange this removes is the nightly bottleneck.
    * Partitioning (e.g. by DATE_SK) is kept orthogonal: pruning still
    * selects the touched day directories.
    */
  def ensureBucketedTable(
      spark: SparkSession,
      name: String,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      bucketCols: Seq[String],
      nBuckets: Int,
      partitionCols: Seq[String] = Nil): Unit = {
    // CREATE TABLE resolves the location eagerly and RECOVER scans it —
    // a brand-new zone dir must exist before either runs
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    // a session catalog can outlive a warehouse dir (tests, repointed
    // runs): a registered table whose location is NOT `path` must be
    // re-registered, or writes would land in the stale location
    if (spark.catalog.tableExists(name)) {
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(name)
      val meta = spark.sessionState.catalog.getTableMetadata(ident)
      val loc = new org.apache.hadoop.fs.Path(meta.location)
      if (loc.toUri.getPath != p.toUri.getPath)
        spark.sql(s"DROP TABLE `$name`")
      else meta.bucketSpec.foreach { bs =>
        // the REGISTERED spec describes the files already on disk: a
        // caller asking for a different layout must rebuild the zone —
        // re-registering alone would make the no-shuffle merge join
        // co-locate hash(key) % newN against files bucketed by % oldN
        // and silently drop matching rows
        require(
          bs.numBuckets == nBuckets &&
            bs.bucketColumnNames.map(_.toLowerCase) ==
              bucketCols.map(_.toLowerCase),
          s"table `$name` is registered with ${bs.numBuckets} buckets on " +
            s"(${bs.bucketColumnNames.mkString(", ")}) but the caller wants " +
            s"$nBuckets on (${bucketCols.mkString(", ")}); the on-disk files " +
            "follow the registered spec — rebuild the zone, don't mix layouts")
      }
    }
    if (!spark.catalog.tableExists(name)) {
      // partition columns must close the column list for CREATE TABLE
      val ordered = schema.fields.filterNot(f => partitionCols.contains(f.name)) ++
        partitionCols.map(c => schema(c))
      val colsDdl = ordered.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      val partClause =
        if (partitionCols.isEmpty) ""
        else s"PARTITIONED BY (${partitionCols.map(c => s"`$c`").mkString(", ")})"
      val bucketClause =
        s"CLUSTERED BY (${bucketCols.map(c => s"`$c`").mkString(", ")}) " +
          s"SORTED BY (${bucketCols.map(c => s"`$c`").mkString(", ")}) INTO $nBuckets BUCKETS"
      spark.sql(
        s"CREATE TABLE IF NOT EXISTS `$name` ($colsDdl) USING PARQUET " +
          s"$partClause $bucketClause LOCATION '$path'")
    }
    if (partitionCols.nonEmpty)
      spark.sql(s"ALTER TABLE `$name` RECOVER PARTITIONS")
  }

  /** Upsert an increment into a bucketed (+ day-partitioned) zone table.
    * Same merge semantics as [[upsertPartitioned]], but the current side
    * reads through the bucketed table so the anti-join needs NO exchange
    * on the (big) zone side — only the small daily increment shuffles
    * into the bucket layout. The new content of the touched partitions is
    * staged as a bucketed stage table at `path.tmp`, then the touched
    * partition directories swap in (bucket file names carry the bucket id,
    * so a rename preserves the layout) and the catalog re-syncs.
    *
    * The merge plans and writes in a scoped session with
    * [[BucketedMergeConfs]] pinned. The returned merge frame, for plan
    * audits (the zone content it reads has since been swapped), stays
    * bound to that session, so an audit plans it under the pins.
    */
  def upsertBucketed(
      spark: SparkSession,
      name: String,
      path: String,
      increment: DataFrame,
      keys: Seq[String],
      partitionCol: String,
      bucketCols: Seq[String],
      nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    // a crash between a swap's delete and rename left a partition's only
    // copy in the stage dir: finish that swap before the stage is reused
    swapStagedPartitions(spark, path, partitionCol)
    ensureBucketedTable(
      spark, name, path, increment.schema, bucketCols, nBuckets, Seq(partitionCol))
    val stageName = s"${name}__stage"
    spark.sql(s"DROP TABLE IF EXISTS `$stageName`")
    Sessions.withConfs(spark, BucketedMergeConfs: _*) { s =>
      val inc = ScopedSessions.bind(increment, s)
      val merged =
        if (!hasDataFiles(s, path)) inc
        else {
          // touched partition VALUES collect to the driver — O(#days in
          // the increment), 1 for a daily run — and prune the scan
          // STATICALLY (a semi join would need DPP, and under sort-merge
          // would shuffle the zone side on the partition col, defeating
          // the buckets). NULL handled explicitly: isin never matches
          // NULL, which would exclude the zone's __HIVE_DEFAULT_PARTITION__
          // rows from the merge while the swap below still replaces that
          // directory
          val touchedVals = inc.select(col(partitionCol)).distinct()
            .collect().map(_.get(0))
          val nonNullVals = touchedVals.filter(_ != null)
          val touchedCond = {
            val base =
              if (nonNullVals.nonEmpty) col(partitionCol).isin(nonNullVals: _*)
              else org.apache.spark.sql.functions.lit(false)
            if (touchedVals.exists(_ == null)) base || col(partitionCol).isNull
            else base
          }
          graft.operators.Upsert.upsert(s.table(name).filter(touchedCond), inc, keys)
        }
      // distribute by the BUCKET key before the write: a bucketed write
      // runs one task per input partition, and AQE coalesces the small
      // merge plan to one task that then writes every (partition ×
      // bucket) file serially (measured 0.8 s per upsert at gate scale).
      // repartition(nBuckets, bucketCols) is the same murmur3-mod the
      // bucket assignment uses, so each task holds EXACTLY one bucket:
      // file count and per-file contents (writer sorts within task) are
      // identical to the single-task layout, written nBuckets-wide. At
      // scale the shuffle moves only the merged increment, once.
      merged.repartition(nBuckets, bucketCols.map(col): _*)
        .write.mode("overwrite")
        .partitionBy(partitionCol)
        .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .option("path", path + TmpSuffix)
        .saveAsTable(stageName)
      s.sql(s"DROP TABLE IF EXISTS `$stageName`") // external: files unaffected
      swapStagedPartitions(s, path, partitionCol)
      s.sql(s"ALTER TABLE `$name` RECOVER PARTITIONS")
      // drop the file listings the merge plan cached, so the returned
      // frame reads the swapped zone, and the caller's cached relation
      s.catalog.refreshTable(name)
      spark.catalog.refreshTable(name)
      merged
    }
  }

  /** If a complete stage (`_SUCCESS`) sits in `<path>.__tmp__`, move each
    * of its `partitionCol=` directories over the zone's partition, then
    * drop the stage dir. The commit of [[upsertBucketed]] and its
    * recovery: re-run after a crash at any point, it finishes the swap,
    * since a moved partition is no longer staged and an unmoved one
    * still is. A stage without `_SUCCESS` crashed while being written;
    * the zone is intact and the next stage write clears it.
    */
  private def swapStagedPartitions(spark: SparkSession, path: String, partitionCol: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmpRoot = new org.apache.hadoop.fs.Path(path + TmpSuffix)
    if (fs.exists(new org.apache.hadoop.fs.Path(tmpRoot, "_SUCCESS"))) {
      fs.mkdirs(new org.apache.hadoop.fs.Path(path))
      fs.listStatus(tmpRoot).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol=")) {
          val target = new org.apache.hadoop.fs.Path(path, st.getPath.getName)
          fs.delete(target, true)
          if (!fs.rename(st.getPath, target))
            throw new java.io.IOException(s"bucketed swap rename failed for $target")
        }
      }
      fs.delete(tmpRoot, true)
    }
  }

  /** Session confs the bucketed merge join depends on, pinned for the
    * merge's plan and write (see [[upsertBucketed]]):
    *
    *  - `requireAllClusterKeysForCoPartition=false` — the merge keys
    *    extend the bucket cols (e.g. PRODUCT_SK + DATE_SK vs buckets on
    *    PRODUCT_SK); subset co-partitioning lets the zone side join in
    *    place so ONLY the small daily increment shuffles.
    *  - `bucketing.autoBucketedScan.enabled=false` — the planner's
    *    auto-bucketed-scan heuristic may DROP the bucketed layout
    *    ("disabled by query planner") depending on planner state, which
    *    re-introduces an `Exchange` on the zone side nondeterministically.
    *    Disabling the heuristic inside this scope makes the
    *    zone-side-never-shuffles guarantee deterministic.
    */
  val BucketedMergeConfs: Seq[(String, String)] = Seq(
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")

  private def stage(df: DataFrame, path: String, partitionBy: Seq[String]): Unit = {
    // mode=overwrite also clears a leftover tmp dir from a crashed run
    // (a crashed SWAP's tmp — the one holding the zone's only copy — was
    // already completed by recoverSwap before this runs; a tmp without
    // _SUCCESS is a crashed STAGE, safe to clear)
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path + TmpSuffix)
  }

  private def commitSwap(spark: SparkSession, path: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(target, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(path + TmpSuffix), target))
      throw new java.io.IOException(s"swap rename failed for $path")
    // the rename happened at the filesystem level, behind Spark's back:
    // drop cached file listings/relations for the path or a later read in
    // the same session can resolve to the replaced (deleted) files when
    // one session reads and re-swaps the same zone
    spark.catalog.refreshByPath(path)
  }

  /** Complete a swap that crashed between [[commitSwap]]'s delete and
    * rename: in that window the zone's ONLY copy lives in `<path>.__tmp__`
    * (complete — it carries `_SUCCESS`) while the target is gone. Every
    * entry point that could observe or destroy that state ([[exists]],
    * [[read]], [[overwriteSwap]] before it stages) finishes the rename
    * first; without this, the next run would read the zone as empty and
    * its own stage() would overwrite the last copy. Concurrent readers
    * may race the rename — the loser sees the target in place and moves
    * on. A tmp WITHOUT `_SUCCESS` is a crashed stage, not a crashed
    * swap: the old target still exists and the tmp is garbage.
    */
  private def recoverSwap(spark: SparkSession, path: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(path + TmpSuffix)
    if (!fs.exists(target) &&
        fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
      if (!fs.rename(tmp, target) && !fs.exists(target))
        throw new java.io.IOException(s"swap recovery failed for $path")
      spark.catalog.refreshByPath(path)
    }
  }

  private val TmpSuffix = ".__tmp__"

  def read(spark: SparkSession, path: String): DataFrame = {
    recoverSwap(spark, path)
    spark.read.parquet(path)
  }

  /** [[read]] with the schema the code already owns (the frame it just
    * wrote, or the zone's fixed shape): no schema-inference job.
    */
  def read(
      spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    recoverSwap(spark, path)
    spark.read.schema(schema).parquet(path)
  }

  /** Directory corrupt files are moved to by [[readRobust]] — sibling of
    * the zone so a later forensic read (or manual restore) is trivial.
    */
  def quarantineDir(path: String): String = path + ".__quarantine__"

  /** Parquet files under `path` that fail the cheap structural audit:
    * too short to be parquet, or missing the `PAR1` magic footer — the
    * signature of the truncated-file failure mode (interrupted upload,
    * partial block). The check is one FS open + seek per file, run on
    * the driver: zone partitions are listed per run anyway, so this adds
    * O(#files) metadata ops, not data IO. (Corruption INSIDE a
    * valid-footer file — a damaged page — is not detectable this
    * cheaply; the policy below fails the run on those rather than
    * silently dropping rows.)
    */
  def corruptFiles(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    val it = fs.listFiles(root, true)
    val bad = Seq.newBuilder[String]
    val magic = "PAR1".getBytes("US-ASCII")
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")) {
        if (st.getLen < 12) bad += st.getPath.toString
        else {
          // a probe that cannot even read the tail (ChecksumException on
          // a checksummed FS, EOF on a racing truncation) IS corruption
          try {
            val in = fs.open(st.getPath)
            try {
              in.seek(st.getLen - 4)
              val buf = new Array[Byte](4)
              in.readFully(buf)
              if (!java.util.Arrays.equals(buf, magic)) bad += st.getPath.toString
            } finally in.close()
          } catch {
            case _: java.io.IOException => bad += st.getPath.toString
          }
        }
      }
    }
    bad.result()
  }

  /** Corrupt-input policy for zone reads: at warehouse scale one
    * truncated file must not kill the nightly, but rows must never be
    * dropped SILENTLY either. Decision (documented, deliberate):
    *
    *   1. audit the zone's parquet footers ([[corruptFiles]]);
    *   2. QUARANTINE failures — moved to [[quarantineDir]], preserving
    *      the relative layout — so the subsequent read sees only intact
    *      files and reruns stay deterministic;
    *   3. RETURN the quarantined list so the caller can surface it (the
    *      daily pipeline appends it to the run-ledger message — loss is
    *      recorded next to the row counts it affected);
    *   4. deeper corruption with a valid footer still FAILS the read —
    *      `ignoreCorruptFiles` stays off, because it drops data with no
    *      record of what vanished. A quarantine entry names the loss; a
    *      conf silently shrinks row counts.
    */
  def readRobust(spark: SparkSession, path: String): (DataFrame, Seq[String]) = {
    val bad = corruptFiles(spark, path)
    if (bad.nonEmpty) {
      val conf = spark.sessionState.newHadoopConf()
      val qRoot = new org.apache.hadoop.fs.Path(quarantineDir(path))
      val fs = qRoot.getFileSystem(conf)
      // BOTH sides fully qualified: listFiles returns absolute paths, so
      // a relative `path` would never prefix-match and the "relative"
      // layout would silently resolve outside the quarantine root
      val zoneUri = fs.makeQualified(new org.apache.hadoop.fs.Path(path)).toUri.getPath
      bad.foreach { f =>
        val src = new org.apache.hadoop.fs.Path(f)
        val rel = fs.makeQualified(src).toUri.getPath
          .stripPrefix(zoneUri).stripPrefix("/")
        // a re-landed corrupt file with a prior quarantined namesake must
        // not fail the rename — suffix until free (deterministic order)
        var dst = new org.apache.hadoop.fs.Path(qRoot, rel)
        var i = 1
        while (fs.exists(dst)) {
          dst = new org.apache.hadoop.fs.Path(qRoot, s"$rel.$i")
          i += 1
        }
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"quarantine move failed for $f")
      }
      spark.catalog.refreshByPath(path)
      // every data file was corrupt: nothing left to infer a schema from —
      // name the real cause instead of letting the read die with an
      // unrelated 'unable to infer schema' (the quarantine has already
      // preserved the evidence)
      if (!hasDataFiles(spark, path))
        throw new IllegalStateException(
          s"readRobust: all data files under $path were corrupt — " +
            s"${bad.size} file(s) quarantined to ${quarantineDir(path)}, nothing left to read")
    }
    (spark.read.parquet(path), bad)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScopedSessions
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.Sessions

/** Structured-Streaming operators over the events stream (beyond-reference:
  * the reference is strictly daily batch, SURVEY §2.8 — its daily-drop
  * incrementality maps to a file source + Trigger.AvailableNow).
  *
  * Every transformation here is written against a plain DataFrame so the
  * SAME code runs in batch (events parquet) and streaming (readStream)
  * mode — batch runs back-fill, the stream keeps the result current.
  */
object EventStreams {

  /** Tumbling-window counts/sums per event type. In streaming mode the
    * watermark bounds state: windows older than `watermark` close and
    * never reopen (late rows beyond it drop — the at-scale contract).
    */
  def windowedCounts(
      events: DataFrame,
      windowDur: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val ts = col("ts").cast("timestamp")
    events
      .withColumn("ts", ts)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // decimal accumulation → exact and order/partition-independent
        // (double sums drift in the last ulps between runs and engines)
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 10)))
          .as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  /** Streaming exact dedup, watermark-bounded: the first row per key set
    * is emitted, later duplicates are dropped while their key is inside
    * the watermark window, and state for keys older than the watermark is
    * evicted — the at-scale contract (an unbounded `dropDuplicates` pins
    * every key ever seen in state forever; at 100 TB/day that's not a
    * plan, it's a memory leak). Exactly the arrival-time dedup a training
    * feed needs: upstream crawlers re-deliver, downstream sees each
    * event once.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keyCols: Seq[String],
      watermark: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** One-shot streaming run of [[dedupWithinWatermark]] over a parquet
    * drop (Trigger.AvailableNow, memory sink — gate/inspection use).
    */
  def dedupAvailableNow(
      spark: SparkSession,
      events: DataFrame,
      keyCols: Seq[String],
      queryName: String): DataFrame = {
    oneShotToMemory(spark, dedupWithinWatermark(events, keyCols), queryName)
  }

  /** State stores of a one-shot stream: one per shuffle partition (four
    * for a stream-stream join), so `spark.sql.shuffle.partitions` at query
    * start. A one-shot drop over modest traffic wants fewer, bigger
    * stores than the batch shuffle default.
    */
  private val StatePartitions = 8

  /** Run `stream` into the sink `sink` configures as a one-shot
    * (AvailableNow) query and wait for it to finish. The query starts in
    * a scoped session with [[StatePartitions]] pinned, which it reads at
    * start; that session is returned, since a memory sink registers its
    * view there.
    */
  private def runOneShot(spark: SparkSession, stream: DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): SparkSession =
    Sessions.withConfs(spark, "spark.sql.shuffle.partitions" -> StatePartitions.toString) { s =>
      sink(ScopedSessions.bind(stream, s).writeStream.trigger(Trigger.AvailableNow()))
        .start().awaitTermination()
      s
    }

  /** [[runOneShot]] into a memory sink named `queryName`: its rows as a
    * frame of `spark` (the name itself resolves only in the scoped
    * session the query ran in).
    */
  private def oneShotToMemory(
      spark: SparkSession, stream: DataFrame, queryName: String): DataFrame = {
    val ran = runOneShot(spark, stream)(
      _.format("memory").queryName(queryName).outputMode(OutputMode.Append()))
    ScopedSessions.bind(ran.table(queryName), spark)
  }

  /** Cross-RUN streaming dedup: each micro-batch drops rows whose key
    * already sits in a persisted fingerprint zone, then appends the
    * survivors to the output zone and their keys to the fingerprint
    * zone. [[dedupWithinWatermark]] bounds state WITHIN one run; the
    * fingerprint zone is the durable memory ACROSS runs — a restarted
    * stream (fresh checkpoint, re-delivered feed) still emits each key
    * once ever. The zone is consumed as an anti-join side per batch
    * (scanned, never held in executor state), so its size is bounded by
    * corpus keys on disk, not by streaming state memory; at warehouse
    * scale the join prunes with a bloom pre-filter or bucketed layout
    * like any other zone join.
    *
    * Delivery contract: EXACTLY-ONCE on the output, the st8 pattern
    * (replay guard rides inside the committed data) applied here via
    * [[commitDedupBatch]]: each batch publishes its fresh rows under a
    * content-fingerprinted output partition whose `_SUCCESS` marker IS
    * the applied-set entry — a redelivered batch (foreachBatch retry, or
    * a FRESH checkpoint replaying the feed) sees the marker and no-ops
    * the output, converging only the fingerprint zone (where duplicate
    * keys are harmless to the anti-join). A fresh checkpoint that
    * re-chunks the feed into different batch boundaries is covered by
    * the zone anti-join itself: every key is already fingerprinted, the
    * fresh set is empty, nothing publishes.
    */
  /** Committed batch partitions accumulate one `batch_fp=…` dir each;
    * once their count reaches this, [[dedupAgainstZone]] folds them
    * ([[foldDedupZones]]) before the next batch commits — so a
    * long-running stream compacts itself instead of waiting for an
    * operator to remember the maintenance call. 64 bounds the zone's
    * directory listing (the cost that grows with HISTORY, not data) at
    * ~an hour of one-per-minute batches while keeping the fold — an
    * O(window rows) consolidation into a tier-0 segment (tier merges
    * amortize further; see [[foldDedupZones]]) — paid once per window.
    */
  val DedupFoldEveryBatches = 64

  def dedupAgainstZone(
      spark: SparkSession,
      events: DataFrame,
      keyCols: Seq[String],
      fpZone: String,
      outZone: String,
      checkpoint: String,
      foldEvery: Int = DedupFoldEveryBatches): Unit = {
    val q = events.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        commitDedupBatch(spark, batch, keyCols, fpZone, outZone)
        // fold cadence: foreachBatch runs serially for this query, so the
        // single-writer discipline holds — the fold runs in the same slot
        // the batch commits in, never concurrently with another writer.
        // The dir count is read from the listing the anti-join's own scan
        // already pays for at this zone size.
        maybeFoldDedupZones(spark, keyCols, fpZone, outZone, foldEvery)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Fold when the committed `batch_fp=…` partition count has reached
    * `foldEvery` (the [[FoldPartition]] itself never counts — it is the
    * fold's output). Returns the fold summary, or "" when under cadence.
    */
  private[graft] def maybeFoldDedupZones(
      spark: SparkSession,
      keyCols: Seq[String],
      fpZone: String,
      outZone: String,
      foldEvery: Int): String = {
    if (foldEvery <= 0) return ""
    val outPath = new org.apache.hadoop.fs.Path(outZone)
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(outPath)) return ""
    val nCommitted = fs.listStatus(outPath).count { st =>
      val nm = st.getPath.getName
      // fold segments carry a _SUCCESS too (they are staged spark
      // writes) — only true per-batch partitions count toward cadence
      nm.startsWith("batch_fp=") && !isFoldSegment(nm) &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$outZone/$nm/_SUCCESS"))
    }
    if (nCommitted >= foldEvery) foldDedupZones(spark, keyCols, fpZone, outZone)
    else ""
  }

  /** One batch of the cross-run dedup, exactly-once. Protocol:
    *
    *  1. `bfp` = an order-independent content fingerprint of the batch's
    *     distinct key set (count + sum + xor of per-key hashes — stable
    *     across redeliveries, checkpoint-independent).
    *  2. If `outZone/batch_fp=bfp` already carries `_SUCCESS`, the batch
    *     COMMITTED before: re-converge the fingerprint zone from the
    *     published rows (idempotent — covers a crash between output
    *     commit and fp append) and stop. This is what makes a retried or
    *     redelivered batch a no-op on the output.
    *  3. Otherwise compute the fresh set (zone anti-join, corpus side
    *     broadcast-pruned per [[graft.operators.ZoneProbes]]) and publish
    *     it under the batch's own partition — `mode=overwrite` clears a
    *     half-written attempt, and the `_SUCCESS` marker lands last, so
    *     the partition is atomic-at-the-marker.
    *  4. Append the fresh keys to the fingerprint zone. A crash between
    *     3 and 4 re-enters at step 2 on retry.
    *
    * An all-duplicate batch (fresh set empty) publishes nothing — a
    * replay recomputes the same empty set, so no marker is needed.
    */
  private[graft] def commitDedupBatch(
      spark: SparkSession,
      batch: DataFrame,
      keyCols: Seq[String],
      fpZone: String,
      outZone: String): Unit = {
    import org.apache.spark.sql.functions._
    // lazy (r15): the fingerprint agg right below materializes it in the
    // job it runs anyway — the eager form paid a standalone job per batch
    val firsts = batch.dropDuplicates(keyCols).localCheckpoint(false)
    val keyHash = xxhash64(keyCols.map(col): _*)
    // the sum leg accumulates in decimal — a long sum of 64-bit hashes
    // overflows (an ANSI error, and wraparound would be fine but isn't
    // expressible); decimal(38,0) is exact to ~10^19 rows per batch
    val idRow = firsts.agg(
      count(lit(1)),
      coalesce(sum(keyHash.cast(org.apache.spark.sql.types.DecimalType(38, 0))),
        lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0))),
      coalesce(bit_xor(keyHash), lit(0L))).head()
    val n = idRow.getLong(0)
    if (n == 0) return
    val bfp =
      s"${idRow.getDecimal(1).toBigInteger.toString(16)}" +
        f"_${idRow.getLong(2)}%016x_$n%x"
    val batchDir = s"$outZone/batch_fp=$bfp"
    val fpKeys = (df: DataFrame) => df.select(keyCols.map(col): _*)
    // a batch whose partition was absorbed by [[foldDedupZones]] keeps
    // refusing replays through the compact applied-set file (the fold
    // already converged its keys into the fingerprint zone, so unlike the
    // marker path below there is nothing left to re-converge)
    val appliedDir = s"$outZone/$AppliedSetDir"
    if (graft.sources.Zones.exists(spark, appliedDir) &&
        !spark.read.parquet(appliedDir).filter(col("bfp") === bfp).isEmpty) return
    if (graft.sources.Zones.exists(spark, s"$batchDir/_SUCCESS")) {
      // output already committed — converge the fp zone only. The anti
      // join keeps the common retry from re-appending the whole batch;
      // a racing duplicate append is tolerated by the zone's contract.
      val published = fpKeys(spark.read.parquet(batchDir))
      val missing =
        if (graft.sources.Zones.exists(spark, fpZone))
          published.join(spark.read.parquet(fpZone), keyCols, "left_anti")
        else published
      if (!missing.isEmpty) missing.write.mode("append").parquet(fpZone)
      return
    }
    val fresh =
      (if (graft.sources.Zones.exists(spark, fpZone))
        graft.operators.ZoneProbes.zoneAntiJoin(
          firsts, spark.read.parquet(fpZone), keyCols, n)
      else firsts).localCheckpoint(false) // lazy: isEmpty materializes it
    if (fresh.isEmpty) return
    fresh.write.mode("overwrite").parquet(batchDir)
    fpKeys(fresh).write.mode("append").parquet(fpZone)
    ()
  }

  /** Underscore-prefixed (invisible to Spark's partition discovery, like
    * `_SUCCESS`): the compact applied-set file holding the `batch_fp`
    * values of every batch partition a fold has absorbed.
    */
  private[graft] val AppliedSetDir = "_applied"

  /** The pre-round-14 single consolidated partition. New folds write
    * TIERED segments ([[foldSegmentName]]); a legacy zone's `__folded__`
    * dir keeps standing untouched — readers see it like any other
    * segment, and never re-copying it is exactly the point of the tiers.
    */
  private[graft] val FoldPartition = "batch_fp=__folded__"

  /** Tiered fold segments: `batch_fp=__fold_t<tier>_<seq>__`. A batch
    * fingerprint can never collide with the `__fold` prefix (it starts
    * with a hex digit or '-').
    */
  private[graft] def foldSegmentName(tier: Int, seq: Long) =
    s"batch_fp=__fold_t${tier}_${seq}__"
  private val FoldSegmentRe = """batch_fp=__fold_t(\d+)_(\d+)__""".r
  private[graft] def isFoldSegment(name: String): Boolean =
    name == FoldPartition || FoldSegmentRe.pattern.matcher(name).matches()

  /** Segments merged per tier promotion: each published row is rewritten
    * once per promotion = log_fanout(lifetime/foldEvery) times over the
    * stream's whole life, instead of once per fold (the round-13
    * residual: a single consolidated partition re-copied EVERY fold is
    * O(history) I/O every `foldEvery` batches — quadratic in lifetime).
    */
  private[graft] val FoldTierFanout = 8

  /** Retention/compaction for the cross-run dedup zones — the corpus
    * zones' fold discipline applied to [[commitDedupBatch]]'s state,
    * which otherwise accretes one `batch_fp=…` directory per batch and
    * one small fp-zone file per append FOREVER (at one batch per minute
    * that is ~1.4k directories a day: the scan becomes listing-bound,
    * the one stream-side cost that grows with history instead of data).
    *
    * LSM-tiered layout (round 14): a fold absorbs ONLY the committed
    * batch partitions into a fresh tier-0 segment — O(increment), never
    * O(history). When a tier accumulates [[FoldTierFanout]] segments,
    * they merge into one segment a tier up (cascading), so the directory
    * count stays O(fanout × log(lifetime)) while total fold I/O over the
    * stream's life is O(rows × log(rows)), not O(rows²/foldEvery).
    *
    * What folds, and why each replay guarantee survives:
    *
    *  - COMMITTED batch partitions (marker present) consolidate into a
    *    new tier-0 segment; their `batch_fp` values APPEND to the compact
    *    [[AppliedSetDir]] parquet, which [[commitDedupBatch]] consults
    *    before the marker — so a redelivered batch refuses ACROSS the
    *    fold exactly as it did against its marker. Readers of the zone
    *    see the same rows (partition value coarsens, data columns
    *    untouched). Half-written attempts (no marker) are left for their
    *    batch's retry. Tier merges move rows between fold segments only
    *    — no applied-set or fp-zone obligations are involved.
    *  - The fp zone's keys are CONVERGED from the staged fold rows before
    *    any directory dies: a batch that committed output but crashed
    *    before its fp append loses its per-batch convergence path when
    *    its partition folds, so the fold closes that hole itself (one
    *    anti-join, amortized over the fold cadence).
    *  - The applied set and fp zone file-compact (distinct, staged atomic
    *    swap) only when a tier merge runs — amortized to the merge
    *    cadence. Appended applied-set duplicates (a crash replay) and
    *    fp-zone duplicates were always tolerated by their readers
    *    (`filter`/anti-join), so deferring compaction is pure hygiene.
    *
    * Durability (the compactZones pattern, per fold/merge step): the
    * consolidated segment stages to a dot-hidden tmp, the applied-set
    * append and fp convergence land while every source directory still
    * exists, and only then does an atomically-renamed manifest (first
    * line `TARGET:<segment>`, then the absorbed dirs) commit the swap —
    * recovery replays a manifest-committed step (delete listed dirs,
    * rename the stage to the target) and discards anything earlier, so a
    * crash at any point leaves either the old layout or the completed
    * step. Legacy manifests (no TARGET line) recover to [[FoldPartition]].
    * Single-writer discipline as with every zone: run from the
    * maintenance slot, not concurrently with the stream.
    *
    * Returns a human summary ("" = no zones exist yet).
    */
  def foldDedupZones(
      spark: SparkSession,
      keyCols: Seq[String],
      fpZone: String,
      outZone: String,
      fanout: Int = FoldTierFanout): String = {
    import org.apache.spark.sql.functions._
    val hconf = spark.sessionState.newHadoopConf()
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val outPath = p(outZone)
    val fs = outPath.getFileSystem(hconf)
    if (!fs.exists(outPath)) return ""
    val tmp = s"$outZone/.fold_tmp"
    val stagedData = s"$tmp/data"
    val manifest = p(s"$tmp/_DIRS")
    // RECOVERY: the manifest is the commit point. Present → the staged
    // step is authoritative for the listed dirs: delete them (idempotent),
    // rename the stage to the recorded target if the target is missing.
    // Absent → the stage is an uncommitted draft; the old layout stands.
    if (fs.exists(manifest)) {
      val lines = {
        val in = fs.open(manifest)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
        finally in.close()
      }
      val target = lines.collectFirst {
        case l if l.startsWith("TARGET:") => l.stripPrefix("TARGET:")
      }.getOrElse(FoldPartition)
      val listed = lines.filterNot(_.startsWith("TARGET:"))
      listed.foreach(d => fs.delete(p(s"$outZone/$d"), true))
      if (!fs.exists(p(s"$outZone/$target")) && fs.exists(p(stagedData)))
        fs.rename(p(stagedData), p(s"$outZone/$target"))
    }
    if (fs.exists(p(tmp))) fs.delete(p(tmp), true)

    def listPartDirs(): Seq[String] = fs.listStatus(outPath).toSeq
      .map(_.getPath.getName).filter(_.startsWith("batch_fp="))
    var seq = listPartDirs().collect {
      case FoldSegmentRe(_, s) => s.toLong
    }.foldLeft(0L)(math.max)

    /** One durable stage→manifest→swap step: `absorbed` dirs die, their
      * rows land as `target`. `beforeCommit` runs while every source dir
      * still exists (the applied/fp obligations of an L0 fold).
      */
    def commitStep(absorbed: Seq[String], target: String,
        beforeCommit: () => Unit): Unit = {
      // [1] stage the consolidated segment durably (reading the dirs
      // directly keeps `batch_fp` out of the data files, as the
      // per-batch writes did)
      spark.read.parquet(absorbed.map(d => s"$outZone/$d"): _*)
        .write.mode("overwrite").parquet(stagedData)
      // [2] side obligations while sources still stand; a crash before
      // the manifest leaves dirs AND side entries, which is redundant,
      // never lossy
      beforeCommit()
      // [3] manifest — atomically renamed; the commit point
      val mTmp = p(s"$tmp/_DIRS.tmp")
      val out = fs.create(mTmp, true)
      try out.write((s"TARGET:$target" +: absorbed).mkString("\n").getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(mTmp, manifest))
        throw new java.io.IOException(s"fold manifest rename failed: $manifest")
      // [4] swap: exactly the manifested dirs die, the stage renames in
      absorbed.foreach(d => fs.delete(p(s"$outZone/$d"), true))
      if (!fs.rename(p(stagedData), p(s"$outZone/$target")))
        throw new java.io.IOException(s"fold rename failed: $outZone/$target")
      fs.delete(p(tmp), true)
    }

    // ── L0 fold: committed batch partitions → one fresh tier-0 segment ──
    val batchDirs = listPartDirs().filter(d =>
      !isFoldSegment(d) && fs.exists(p(s"$outZone/$d/_SUCCESS"))).sorted
    val note =
      if (batchDirs.isEmpty) ""
      else {
        seq += 1
        commitStep(batchDirs, foldSegmentName(0, seq), () => {
          // applied set: APPEND the absorbed fingerprints — from the
          // manifest commit on, every absorbed batch refuses replays
          // with no marker needed. O(batch count), never a rewrite.
          import spark.implicits._
          batchDirs.map(_.stripPrefix("batch_fp=")).toDF("bfp")
            .coalesce(1)
            .write.mode("append").parquet(s"$outZone/$AppliedSetDir")
          // fp-zone convergence from the staged rows (see scaladoc)
          val foldKeys = spark.read.parquet(stagedData)
            .select(keyCols.map(col): _*).distinct()
          val missing =
            if (graft.sources.Zones.exists(spark, fpZone))
              foldKeys.join(spark.read.parquet(fpZone), keyCols, "left_anti")
            else foldKeys
          if (!missing.isEmpty) missing.write.mode("append").parquet(fpZone)
        })
        s"folded ${batchDirs.size} batch partition(s)"
      }

    // ── tier cascade: any tier at fanout merges one tier up; ascending
    // order lets a merge at t trip t+1 in the same pass ────────────────
    val fan = math.max(2, fanout)
    val mergeNotes = scala.collection.mutable.ArrayBuffer[String]()
    var tier = 0
    var maxTier = listPartDirs().collect {
      case FoldSegmentRe(t, _) => t.toInt }.foldLeft(0)(math.max)
    while (tier <= maxTier) {
      val segs = listPartDirs().collect {
        case d @ FoldSegmentRe(t, _) if t.toInt == tier => d }.sorted
      if (segs.size >= fan) {
        seq += 1
        commitStep(segs, foldSegmentName(tier + 1, seq), () => ())
        mergeNotes += s"merged ${segs.size} t$tier segment(s)"
        maxTier = math.max(maxTier, tier + 1)
      }
      tier += 1
    }

    // applied-set + fp-zone compaction (distinct, staged atomic swap):
    // only when a merge ran — amortized to the merge cadence, so the
    // per-fold cost stays O(increment)
    val fpNote =
      if (mergeNotes.isEmpty) ""
      else {
        val appliedDir = s"$outZone/$AppliedSetDir"
        if (graft.sources.Zones.exists(spark, appliedDir))
          graft.sources.Zones.overwriteSwap(
            spark.read.parquet(appliedDir).distinct(), appliedDir)
        if (graft.sources.Zones.exists(spark, fpZone)) {
          graft.sources.Zones.overwriteSwap(
            spark.read.parquet(fpZone).distinct(), fpZone)
          "fp zone compacted"
        } else ""
      }
    if (note.nonEmpty || mergeNotes.nonEmpty) spark.catalog.refreshByPath(outZone)
    (Seq(note) ++ mergeNotes ++ Seq(fpNote)).filter(_.nonEmpty).mkString("; ")
  }

  case class EventRow(user_id: Long, ts: java.time.Instant, event_type: String, value: Double)
  case class SessionState(startUs: Long, lastSeenUs: Long, nEvents: Long, totalValue: Double)
  case class UserSession(
      user_id: Long,
      session_start: java.time.Instant,
      session_end: java.time.Instant,
      n_events: Long,
      total_value: Double)

  /** Exact micros — session boundaries must match the batch (window-
    * function) form bit-for-bit, and the events feed carries sub-ms
    * precision, so state never rounds through milliseconds.
    */
  private def us(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  private def instantUs(u: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(u, 1000000L), Math.floorMod(u, 1000000L) * 1000L)

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * after `gapMinutes` of user inactivity (event-time timeout), emitting
    * one row per closed session. State per user is O(1) — this scales to
    * any user count because state is partitioned by the grouping key.
    */
  def sessionize(
      events: Dataset[EventRow],
      gapMinutes: Int): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[EventRow], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserSession(
              userId, instantUs(s.startUs), instantUs(s.lastSeenUs), s.nEvents, s.totalValue))
          } else {
            val sorted = rows.toSeq.sortBy(e => us(e.ts))
            var closed = List.empty[UserSession]
            var st = state.getOption
            sorted.foreach { e =>
              val t = us(e.ts)
              st match {
                // within gap of the session INTERVAL [start, lastSeen]:
                // merge with min/max bounds. A late-but-in-watermark row
                // from a later micro-batch lands here with t < lastSeen —
                // assigning lastSeenUs = t unconditionally would REWIND
                // the session end (end before start, timeout re-armed
                // early); bounds only ever widen
                case Some(s) if t >= s.startUs - gapUs && t - s.lastSeenUs <= gapUs =>
                  st = Some(s.copy(
                    startUs = math.min(s.startUs, t),
                    lastSeenUs = math.max(s.lastSeenUs, t),
                    nEvents = s.nEvents + 1,
                    totalValue = s.totalValue + e.value))
                // a late row more than a gap BEFORE the open session's
                // start: bounded per-user state cannot reopen the past,
                // so it closes immediately as its own singleton session —
                // the batch form reports the same session whenever no
                // other event falls within its gap window (if one did, it
                // merged into this state's interval instead, which is
                // precisely why t is unreachable from startUs)
                case Some(s) if t < s.startUs - gapUs =>
                  closed ::= UserSession(userId, instantUs(t), instantUs(t), 1, e.value)
                  st = Some(s) // state unchanged — the stray row never touches it
                case Some(s) =>
                  closed ::= UserSession(
                    userId, instantUs(s.startUs), instantUs(s.lastSeenUs), s.nEvents, s.totalValue)
                  st = Some(SessionState(t, t, 1, e.value))
                case None =>
                  st = Some(SessionState(t, t, 1, e.value))
              }
            }
            st.foreach { s =>
              state.update(s)
              // timeout is a millisecond API: round UP so it never fires
              // a sub-ms early (emission time only — content is exact µs)
              state.setTimeoutTimestamp(Math.floorDiv(s.lastSeenUs + gapUs + 999L, 1000L))
            }
            closed.reverseIterator
          }
        })
  }

  /** One-shot streaming run of [[sessionize]] over a parquet drop
    * (Trigger.AvailableNow), returning the emitted (closed) sessions.
    * Append-mode semantics make the output the deterministic prefix of the
    * batch result: sessions closed inline by a later event of the same
    * user, plus final sessions whose timeout the final watermark
    * (max event time − gap) passed. Trailing sessions stay in state.
    *
    * The memory sink collects results to the driver — right for the
    * verification gate and one-shot inspection it serves. A production
    * run writes the same [[sessionize]] stream to a durable sink
    * (parquet / [[upsertZoneSink]]-style foreachBatch) instead; only the
    * sink line changes.
    */
  def sessionizeAvailableNow(
      spark: SparkSession,
      events: Dataset[EventRow],
      gapMinutes: Int,
      queryName: String): DataFrame = {
    oneShotToMemory(spark, sessionize(events, gapMinutes).toDF(), queryName)
  }

  /** Durable-sink variant of [[sessionizeAvailableNow]] — the production
    * path: the same sessionize stream lands in a parquet sink under a
    * checkpoint (exactly-once per epoch, restartable, nothing collects to
    * the driver). Returns the sink read back for convenience; at scale
    * the caller reads the sink directory on its own cadence.
    */
  def sessionizeToParquet(
      spark: SparkSession,
      events: Dataset[EventRow],
      gapMinutes: Int,
      sinkDir: String,
      checkpointDir: String): DataFrame = {
    runOneShot(spark, sessionize(events, gapMinutes).toDF())(_
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append()))
    // a run that closes zero sessions commits a file-less sink (only
    // _spark_metadata): reading it would die on schema inference even
    // though the stream succeeded AND checkpointed — a rerun no-ops
    // (AvailableNow consumed the input) and would crash on the same
    // read forever. Return a correctly-typed empty frame instead.
    import spark.implicits._
    val hasData = {
      val root = new org.apache.hadoop.fs.Path(sinkDir)
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
    if (hasData) spark.read.parquet(sinkDir)
    else spark.emptyDataset[UserSession].toDF()
  }

  /** Stream-stream interval join: for each left event, right events of
    * the same user within [left.ts, left.ts + withinMinutes]. Watermarks
    * on BOTH sides bound the join state (Spark drops buffered rows once
    * the other side's watermark passes the interval) — without them a
    * stream-stream join buffers forever. The same plan runs in batch for
    * back-fill.
    */
  def intervalJoin(
      left: Dataset[EventRow],
      right: Dataset[EventRow],
      withinMinutes: Int): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, expr, floor, lit, unix_micros}
    // Binned equi-join (r15, guide §3): the interval is tiled into
    // window-width time bins and the bin joins as an EQUI key next to
    // user_id. A right row at bin b can only match left rows in bins
    // {b-1, b} (the window spans exactly one bin width), so the right
    // side carries both candidates (a 2× explode) and every true pair
    // still matches in EXACTLY one bin (left's bin is a single value) —
    // result-identical to the plain range join, no dedup needed. What
    // this buys at scale: the join's state rows hash on (user_id, bin),
    // so a hot user's buffered rows split across bins and each probe
    // scans one window's worth of candidates instead of the user's whole
    // watermark-wide buffer — the per-probe term stops growing with the
    // watermark horizon. Only the columns the output needs enter state
    // (event_type is dropped pre-watermark; §2.3 shuffle fewer bytes).
    val winUs = withinMinutes * 60L * 1000000L
    val l = left.toDF()
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", s"$withinMinutes minutes")
      .withColumn("bin", floor(unix_micros(col("ts")) / winUs))
      .alias("l")
    val r = right.toDF()
      .select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", s"$withinMinutes minutes")
      .withColumn("bin", explode(array(
        floor(unix_micros(col("ts")) / winUs) - lit(1L),
        floor(unix_micros(col("ts")) / winUs))))
      .alias("r")
    l.join(
        r,
        expr(
          s"""l.user_id = r.user_id AND l.bin = r.bin AND
             |r.ts >= l.ts AND r.ts <= l.ts + interval $withinMinutes minutes""".stripMargin))
      .select(
        col("l.user_id").as("user_id"),
        col("l.ts").as("left_ts"),
        col("r.ts").as("right_ts"),
        col("r.value").as("right_value"))
  }

  /** One-shot streaming run of [[intervalJoin]] (Trigger.AvailableNow).
    * Inner stream-stream joins emit each match as soon as both rows have
    * arrived — no watermark hold-back on output — so over a finite drop
    * the emitted set equals the batch join exactly, which is what the
    * correctness gate compares. Memory sink: gate/inspection use only
    * (same caveat as [[sessionizeAvailableNow]]); production swaps in a
    * durable sink line.
    */
  def intervalJoinAvailableNow(
      spark: SparkSession,
      left: Dataset[EventRow],
      right: Dataset[EventRow],
      withinMinutes: Int,
      queryName: String): DataFrame = {
    oneShotToMemory(spark, intervalJoin(left, right, withinMinutes), queryName)
  }

  /** Stream → warehouse-zone bridge: land a stream into a day-partitioned
    * parquet zone with per-batch UPSERT semantics (new version of a key
    * wins, untouched partitions untouched) — the streaming form of the
    * reference's daily incremental load. foreachBatch is the right sink
    * here because the zone write is a multi-step batch operation (merge +
    * dynamic partition overwrite), not an append: each micro-batch runs
    * it transactionally per epoch, and AvailableNow gives the daily-drop
    * cadence without a scheduler.
    */
  def upsertZoneSink(
      events: DataFrame,
      zonePath: String,
      keys: Seq[String],
      partitionCol: String,
      checkpointDir: String): Unit = {
    val q = events.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.Zones.upsertPartitioned(
          batch.sparkSession, zonePath, batch.toDF(), keys, partitionCol)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Daily-drop replication: consume a landing directory exactly once per
    * invocation (Trigger.AvailableNow), appending windowed counts to the
    * sink — the reference's run_all.bat cadence without a scheduler.
    */
  def runAvailableNow(
      spark: SparkSession,
      landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      sinkDir: String,
      checkpointDir: String): Unit = {
    val stream = spark.readStream.schema(schema).parquet(landingDir)
    val q = windowedCounts(stream)
      .writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming maintenance of a [[graft.operators.Profiling]] stats
    * zone: every micro-batch's per-(epoch × group) sketch states merge
    * into the stored zone through the staged atomic swap, with the
    * foreachBatch batchId carried inside the swapped data — so a batch
    * redelivered after a crash no-ops instead of double-counting.
    * EXACTLY-ONCE zone effect on top of foreachBatch's at-least-once
    * contract — the same class of guard [[commitDedupBatch]] applies to
    * the cross-run dedup output (there keyed on batch CONTENT, so it
    * also survives fresh-checkpoint redelivery).
    *
    * SCOPE of the guard: redelivery within one checkpoint lineage, or
    * a fresh-checkpoint rerun over an UNCHANGED source (where
    * AvailableNow reproduces the same batch boundaries, as st8 pins).
    * The checkpoint-local batchId says nothing about batch CONTENT, so
    * if the source gained files before a fresh-checkpoint rerun, or a
    * different trigger splits batches differently, a replayed id can
    * carry a mix of old and genuinely new rows — and the new rows are
    * then dropped with it. For feeds that need cross-lineage backfill,
    * derive a content key instead (e.g. run
    * [[graft.operators.Profiling.mergeStatsIncrement]] per event-day
    * with batchId = epochDay, the CorpusRun discipline), which the
    * applied-set guard then merges or skips per logical day rather
    * than per checkpoint accident.
    *
    * At 100 TB this is how standing statistics stay fresh: per-batch
    * cost is O(batch rows + existing kilobyte states); the raw history
    * is never rescanned.
    */
  def maintainStatsZone(
      spark: SparkSession,
      events: DataFrame,
      zonePath: String,
      checkpoint: String,
      epochExpr: String,
      groupExpr: String,
      valueExpr: String,
      keyExpr: String): Unit = {
    val q = events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Profiling.mergeStatsIncrement(
          spark, batch, zonePath, epochExpr, groupExpr, valueExpr, keyExpr,
          batchId = Some(batchId))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}

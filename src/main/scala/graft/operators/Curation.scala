package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScopedSessions

import graft.Sessions

/** Corpus-curation operators for training-data pipelines: term weighting,
  * duplicate-cluster resolution, test-set decontamination, deterministic
  * splits and stratified sampling. Beyond-reference scope (the reference
  * warehouse curates nothing; its closest analog is the quality filter,
  * sql_script/db_control_sql.sql:165-207).
  *
  * Scale design: every operator is declarative DataFrame work — shuffles
  * only on (doc, term) or (cluster label) keys, no driver-side funnels.
  * The one driver loop (connected components) iterates O(diameter) rounds
  * of distributed joins; near-dup clusters have tiny diameters, so rounds
  * stay single-digit at any corpus size.
  */
object Curation {

  /** (id, term, tf, df_n, tfidf) per document term after `minDf`/`minTf`
    * pruning. The emitted score uses LINEAR inverse document frequency
    * (n_docs/df): tf·N/df is one IEEE division, bit-identical across
    * engines, which keeps the op oracle-checkable exactly. [[tfIdfLog]]
    * gives the classical log-idf weight for ranking use.
    *
    * The corpus size is computed distributed and broadcast as a literal —
    * a count, not a collect of rows.
    *
    * Plan shape: ONE tokenize + explode feeds both frequencies. df(term)
    * = #docs containing term = #(id, term) groups, so it is a window
    * count over the term partition of the ALREADY-aggregated tf rows —
    * the former separate df aggregate re-tokenized and re-exploded the
    * whole corpus a second time and joined back on term (two Generate
    * branches + an extra exchange in the plan).
    */
  def tfIdf(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Int = 1,
      minTf: Int = 1): DataFrame = {
    val nDocs = df.select(col(idCol)).distinct().count()
    val termTf = df
      .select(col(idCol).as("id"), explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))
    termTf
      .withColumn("df_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("term")))
      .filter(col("df_n") >= minDf && col("tf") >= minTf)
      .select(
        col("id"), col("term"), col("tf"), col("df_n"),
        (col("tf").cast("double") * lit(nDocs.toDouble) / col("df_n").cast("double"))
          .as("tfidf"))
  }

  /** Okapi BM25 with the RATIONAL Robertson–Spärck-Jones idf
    * ((N−df+0.5)/(df+0.5), no log): every factor is a single IEEE
    * +/−/×/÷ chain, so the score is bit-identical across engines and the
    * op stays oracle-checkable exactly — same trade [[tfIdf]] makes; use
    * a log idf on top for classical ranking if preferred. k1=1.2, b=0.75
    * are baked as literals (1.2·(0.25+0.75·dl/avgdl)) so both engines
    * parse the identical doubles rather than re-deriving them.
    *
    * Plan: ONE tokenize + explode (carrying each doc's length through the
    * (id, term) aggregate) plus a window count over term for df — the
    * [[tfIdf]] shape; the former plan tokenized the corpus four times
    * (tf branch, df branch, doc-length join side, avgdl) and paid a join
    * on id for dl. avgdl still rides in as a broadcast one-row frame
    * (decimal-exact mean over ALL docs — a doc whose token set is empty
    * contributes dl=0 there, which the exploded side cannot see, so that
    * one pass stays separate). Ids are assumed unique per document (the
    * corpus contract everywhere in this module). Linear at any corpus
    * size.
    */
  def bm25(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Int = 1,
      minTf: Int = 1): DataFrame = {
    val nDocs = df.select(col(idCol)).distinct().count()
    val docLen = df.select(
      col(idCol).as("id"),
      TextAnalysis.tokenCount(col(textCol)).cast("double").as("dl"))
    val avgdl = docLen.agg(
      (sum(col("dl").cast(org.apache.spark.sql.types.DecimalType(28, 10))).cast("double") /
        count(lit(1))).as("avgdl"))
    val termTf = df
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(
        col("id"),
        size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("id", "term")
      // every row of an (id, term) group carries the same dl (one source
      // doc) — max() is its deterministic representative
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    termTf
      .withColumn("df_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("term")))
      .filter(col("df_n") >= minDf && col("tf") >= minTf)
      .crossJoin(broadcast(avgdl))
      .select(
        col("id"), col("term"), col("tf"), col("df_n"),
        (((lit(nDocs.toDouble) - col("df_n").cast("double") + lit(0.5)) /
          (col("df_n").cast("double") + lit(0.5))) *
          ((col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") +
              lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))))
          .as("bm25"))
  }

  /** Classical log-idf weight: tf · ln(N / df). Same plan shape as
    * [[tfIdf]]; ln is transcendental (last-ulp engine-dependent), so this
    * variant is spec-tested rather than oracle-hashed.
    */
  def tfIdfLog(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Int = 1,
      minTf: Int = 1): DataFrame =
    tfIdf(df, idCol, textCol, minDf, minTf)
      .withColumn("tfidf", col("tf") * log(col("tfidf") / col("tf")))

  /** Connected components over an undirected pair set: (id, label) where
    * label = the smallest id in the component. Min-label propagation with
    * pointer jumping (path halving): each round every vertex takes the
    * min of its own, its neighbors', and its label's label — long chains
    * collapse geometrically, so rounds = O(log diameter).
    *
    * Each round's frontier is materialized with an EAGER localCheckpoint —
    * the iterative-algorithm idiom (GraphX/MLlib do the same): the
    * pointer-jump self-join rewrites attribute ids on one side, which
    * defeats plan-cache matching for `persist`ed frames and would
    * re-execute the whole lineage every round. Truncating to a leaf per
    * round makes every round O(frontier), and bounds plan growth. When
    * the session has a reliable checkpoint dir configured
    * (`sparkContext.setCheckpointDir`), rounds checkpoint there instead —
    * durable blocks that survive executor loss mid-loop on a cluster.
    */
  /** Edge sets at or below this take the single-task union-find kernel
    * (~100 MB peak in that task); above it, the iterative O(log n)-round
    * label propagation stands. The bound is on EDGES — nodes ≤ 2·edges.
    */
  private[graft] val CcKernelMaxEdges = 4L * 1000 * 1000

  /** Connected components: every node that appears in `pairs` labeled
    * with its component's minimum id.
    *
    * Bounded dispatch (the [[graft.operators.Dedup.semanticDedup]]
    * kernel pattern): dup-pair graphs are the SPARSE residue of banded
    * candidate generation — at any corpus size the pair count is a tiny
    * fraction of the corpus — so the common case fits one task. Edge
    * sets ≤ [[CcKernelMaxEdges]] with integral ids run an exact
    * union-find in a single `mapPartitions` task (one job, executor-side
    * — never a driver collect) instead of O(log diameter) rounds of
    * checkpointed joins at ~4 jobs each. Larger graphs and non-integral
    * id types take the iterative route unchanged. Both routes emit the
    * identical (id, label = component min) relation; the upstream pair
    * plan executes exactly once either way (the raw edge checkpoint
    * doubles as the dispatch count's materialization — the iterative
    * route previously re-executed the pair plan for the reversed union
    * leg).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    // kernel dispatch needs BOTH pair columns integral: labels are
    // emitted in the id type, and with mixed widths (e.g. an Int aCol
    // against a Long bCol holding values past Int range) casting back to
    // the narrower side would silently overflow dst-derived ids — so the
    // kernel runs in the WIDER of the two and emits that type
    def width(t: org.apache.spark.sql.types.DataType): Int = t match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 3
      case LongType => 4
      case _ => 0
    }
    val (wa, wb) = (width(pairs.schema(aCol).dataType), width(pairs.schema(bCol).dataType))
    if (wa == 0 || wb == 0) return connectedComponentsCounted(pairs, aCol, bCol)._1
    val idType =
      if (wa >= wb) pairs.schema(aCol).dataType else pairs.schema(bCol).dataType
    def materialize(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    val raw = materialize(pairs.select(
      col(aCol).cast(idType).as("src"), col(bCol).cast(idType).as("dst")))
    if (raw.count() <= CcKernelMaxEdges) ccKernel(raw, idType)
    else connectedComponentsCounted(raw, "src", "dst")._1
  }

  /** The single-task exact route of [[connectedComponents]]: gather the
    * (already-materialized) edge list into one task, union-find with
    * path halving over index-compressed ids, label = ids[root] — roots
    * always point at the smaller index and ids are sorted, so the root's
    * id IS the component minimum. Primitive arrays throughout; peak task
    * memory at the 4M-edge bound is ~250 MB TRANSIENT, not 100: src+dst
    * (64 MB) live through the whole union pass, alongside the merged
    * sort array (64 MB, dead after dedup), the deduped ids (≤ 64 MB) and
    * the parent ints (≤ 32 MB), plus row-decode overhead — size
    * executors (or lower [[CcKernelMaxEdges]]) accordingly; the
    * iterative route has no such single-task spike.
    */
  private def ccKernel(
      raw: DataFrame, idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val labeled = raw
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val srcB = new scala.collection.mutable.ArrayBuilder.ofLong
        val dstB = new scala.collection.mutable.ArrayBuilder.ofLong
        while (it.hasNext) { val e = it.next(); srcB += e._1; dstB += e._2 }
        val src = srcB.result(); val dst = dstB.result()
        if (src.isEmpty) Iterator.empty
        else {
          val all = new Array[Long](src.length * 2)
          System.arraycopy(src, 0, all, 0, src.length)
          System.arraycopy(dst, 0, all, src.length, dst.length)
          java.util.Arrays.sort(all)
          var n = 0
          var i = 0
          while (i < all.length) {
            if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
            i += 1
          }
          val ids = java.util.Arrays.copyOf(all, n)
          val parent = Array.tabulate(n)(identity)
          def find(x0: Int): Int = {
            var x = x0
            while (parent(x) != x) {
              parent(x) = parent(parent(x)) // path halving
              x = parent(x)
            }
            x
          }
          i = 0
          while (i < src.length) {
            val ra = find(java.util.Arrays.binarySearch(ids, src(i)))
            val rb = find(java.util.Arrays.binarySearch(ids, dst(i)))
            // attach the larger-index root under the smaller: the root's
            // index (hence id, ids sorted) is the component minimum
            if (ra < rb) parent(rb) = ra
            else if (rb < ra) parent(ra) = rb
            i += 1
          }
          (0 until n).iterator.map(j => (ids(j), ids(find(j))))
        }
      }
      .toDF("id", "label")
    labeled.select(col("id").cast(idType).as("id"), col("label").cast(idType).as("label"))
  }

  /** [[connectedComponents]] plus the number of propagation rounds it
    * took — exposed so the scale spec can assert the O(log diameter)
    * claim directly (a 50k chain must converge in ~2·log₂ rounds, not
    * O(diameter)).
    */
  private[graft] def connectedComponentsCounted(
      pairs: DataFrame, aCol: String, bCol: String): (DataFrame, Int) = {
    def materialize(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    val edges = materialize(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    var labels = materialize(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    // min-propagation only ever DECREASES labels, so for EXACT numeric
    // ids (integral / decimal) the label sum is a strictly decreasing
    // convergence witness: one cheap aggregation per round instead of a
    // joined changed-row count. The sum accumulates in decimal(38,0)
    // regardless of id width — a long sum of long ids can wrap, and a
    // wrapped collision would falsely signal convergence. FLOAT/DOUBLE
    // ids are excluded on purpose: a small label decrease can be
    // absorbed by FP rounding inside a large sum (falsely converging
    // with wrong labels), so they take the exact changed-row count with
    // strings and other shapes (one checkpoint-to-checkpoint join per
    // round, on what is in practice the rare id shape).
    val sumWitness = labels.schema("label").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      // scale-0 decimals cast losslessly into the accumulator; fractional
      // decimals would truncate and two changed labels could alias
      case d: org.apache.spark.sql.types.DecimalType if d.scale == 0 && d.precision <= 38 => true
      case _ => false
    }
    def labelSum(df: DataFrame): Any =
      df.agg(sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head().get(0)
    var prevSum: Any = if (sumWitness) labelSum(labels) else null
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      val prop = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      val propM = materialize(prop)
      val next = materialize(
        propM.alias("x")
          .join(
            propM.select(col("id").as("label"), col("label").as("parent")).alias("p"),
            Seq("label"), "left")
          .select(col("id"), least(col("label"), coalesce(col("parent"), col("label"))).as("label")))
      if (sumWitness) {
        val s = labelSum(next)
        converged = s == prevSum
        prevSum = s
      } else {
        converged = next.alias("n")
          .join(labels.alias("o"), Seq("id"))
          .filter(col("n.label") =!= col("o.label"))
          .isEmpty
      }
      labels = next
    }
    (labels, rounds)
  }

  /** Near-dup resolution: cluster assignment + size + canonical doc flag
    * for every document that appears in a dup pair. Downstream, keeping
    * `is_canonical` rows (plus all unpaired docs) dedups the corpus.
    */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    val sizes = cc.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "label")
      .select(
        col("id"),
        col("label").as("cluster_id"),
        col("cluster_size"),
        (col("id") === col("label")).as("is_canonical"))
  }

  /** New-pair node sets at or below this broadcast against the standing
    * assignment in the affected-component path; above it, the full
    * star-edge relabel stands (at that increment size a corpus-wide
    * relabel is the honest cost anyway).
    */
  private[graft] val CcIncMaxNewNodes = 1L * 1000 * 1000

  /** Byte companion of [[CcIncMaxNewNodes]]: the row cap alone is blind
    * to id WIDTH — 1M long string ids can be hundreds of MB, and the
    * node set is broadcast (and the affected-cluster set derived from it
    * broadcast twice more). Estimated id bytes past this bound fall back
    * to the star relabel. 64 MB keeps the three broadcasts within a
    * comfortable executor-memory share; fixed-width integral ids never
    * approach it (8 B × 1M = 8 MB).
    */
  private[graft] val CcIncMaxBroadcastBytes = 64L * 1024 * 1024

  /** Assignments SMALLER than this never engage affected-component
    * pruning: the path's fixed overhead (a new-pair checkpoint + node
    * count, the affected-cluster derivation, two extra assignment scans)
    * costs ~1-2 s of job scheduling whatever the data size — the same
    * trap the round-11 broadcast probes fell into (BASELINE.md "d9/d12
    * sf0.1 regression"). The `ScaleDiag ccinc` A/B measures the
    * crossover on a synthetic zone with a fixed 2k-pair day: star wins
    * at 1M rows (1.4 vs 2.4 s), pruned wins at 4M (4.2 vs 10.0 s) and
    * is ~17× at 16M (4.6 vs 80.7 s, near-flat) — so engagement starts
    * at the ~2M midpoint of the measured crossover.
    */
  private[graft] val CcIncPruneMinAssignmentRows = 2L * 1000 * 1000

  /** Incremental cluster maintenance: fold NEW dup pairs into an existing
    * cluster assignment without re-propagating the old pair set — the
    * daily companion of [[graft.operators.Dedup.minhashLshPairsIncremental]].
    *
    * Affected-component pruning: a day's new pairs can only change the
    * clusters they TOUCH. The standing assignment scans once against the
    * broadcast new-node set to name the affected cluster ids (≤ one per
    * new node), then once more to split members from untouched rows —
    * both scans broadcast-joined, so the assignment zone never enters an
    * exchange (the [[graft.operators.ZoneProbes]] discipline). Only the
    * affected members' (id → cluster_id) star edges — whose connectivity
    * and min labels equal the old pairs restricted to those components —
    * join the new pairs in a component search that is O(increment +
    * affected members) whatever the corpus size; untouched rows pass
    * through byte-identical (their STORED cluster_size/is_canonical are
    * re-emitted — which is why pruning needs the full [[dupClusters]]
    * relation; an (id, cluster_id)-only assignment routes around it).
    * Pruning ENGAGES only when the caller reports the standing zone at
    * `assignmentRows` ≥ [[CcIncPruneMinAssignmentRows]] — below that
    * the path's fixed job overhead loses to the star relabel (see the
    * constant's note) — and new-node sets past [[CcIncMaxNewNodes]]
    * fall back likewise: star edges over the FULL assignment ∪ new
    * pairs, the pre-pruning shape, still O(assignment), never O(old
    * pairs). Self edges keep canonical/singleton ids in the node set on
    * both routes.
    *
    * Contract: `assignment` is [[dupClusters]] output over the old pairs
    * (or this function's own output — it composes day over day); result
    * ≡ `dupClusters(oldPairs ∪ newPairs)`, including cluster merges when
    * a new pair bridges two old clusters.
    */
  def dupClustersIncremental(
      assignment: DataFrame,
      newPairs: DataFrame,
      aCol: String,
      bCol: String,
      assignmentRows: Option[Long] = None): DataFrame =
    dupClustersIncremental(assignment, newPairs, aCol, bCol, assignmentRows,
      CcIncMaxNewNodes, CcIncPruneMinAssignmentRows)

  private[graft] def dupClustersIncremental(
      assignment: DataFrame,
      newPairs: DataFrame,
      aCol: String,
      bCol: String,
      assignmentRows: Option[Long],
      maxNewNodes: Long,
      minAssignmentRows: Long): DataFrame = {
    val idType = assignment.schema("id").dataType
    def materialize(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    val np = newPairs.select(
      col(aCol).cast(idType).as("a"), col(bCol).cast(idType).as("b"))
    // the untouched pass-through re-emits the STORED sizes/canonicals —
    // an (id, cluster_id)-only assignment can't ride it (recomputing
    // sizes would re-aggregate exactly the rows pruning avoids) and
    // takes the star-edge route instead. Engagement needs the CALLER's
    // zone row count (metadata-cheap for a parquet zone; counting an
    // arbitrary assignment plan here would execute it a second time).
    val engageable =
      assignmentRows.exists(_ >= minAssignmentRows) &&
        Seq("cluster_size", "is_canonical").forall(assignment.columns.contains)
    if (!engageable) {
      val starEdges = assignment.select(col("id").as("a"), col("cluster_id").as("b"))
      return dupClusters(starEdges.unionByName(np), "a", "b")
    }
    // one execution of the (typically LSH-shaped) new-pair plan, consumed
    // by the node set and the component-search edges
    val npM = materialize(np)
    val newNodes = materialize(npM.select(col("a").as("id"))
      .unionByName(npM.select(col("b").as("id"))).distinct())
    // one agg prices the broadcast in rows AND bytes: the row cap alone
    // is blind to id width (see [[CcIncMaxBroadcastBytes]]). Fixed-width
    // ids are priced at their storage width without a per-row cast; only
    // variable-width shapes (strings, binary) pay the length scan.
    val fixedWidth = {
      import org.apache.spark.sql.types._
      idType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
             DateType | TimestampType | BooleanType => Some(idType.defaultSize.toLong)
        case d: DecimalType => Some(d.defaultSize.toLong)
        case _ => None
      }
    }
    val nnStats = newNodes.agg(
      count(lit(1)),
      coalesce(sum(octet_length(col("id").cast("string"))), lit(0L))).head()
    val nNew = nnStats.getLong(0)
    val estBytes = fixedWidth.map(_ * nNew).getOrElse(nnStats.getLong(1))
    if (nNew <= maxNewNodes && estBytes <= CcIncMaxBroadcastBytes) {
      // materialized ONCE: both the members and untouched legs broadcast
      // this set — unmaterialized, each would re-run the newNodes
      // semi-join scan over the assignment zone
      val affected = materialize(assignment
        .join(broadcast(newNodes), Seq("id"), "left_semi")
        .select("cluster_id").distinct())
      val members = assignment.join(broadcast(affected), Seq("cluster_id"), "left_semi")
      val untouched = assignment.join(broadcast(affected), Seq("cluster_id"), "left_anti")
      val miniEdges = members.select(col("id").as("a"), col("cluster_id").as("b"))
        .unionByName(npM)
      dupClusters(miniEdges, "a", "b")
        .unionByName(untouched.select("id", "cluster_id", "cluster_size", "is_canonical"))
    } else {
      val starEdges = assignment.select(col("id").as("a"), col("cluster_id").as("b"))
      dupClusters(starEdges.unionByName(npM), "a", "b")
    }
  }

  /** Test-set decontamination: (train id, test id, containment) for every
    * pair where the TEST doc's n-gram coverage |A∩B| / |B| ≥ threshold
    * (A = train shingles, B = test shingles) — i.e. the test doc's content
    * substantially appears inside the train doc. Coverage of B, not
    * Jaccard: a short benchmark answer embedded in a long train doc is
    * contamination even though their Jaccard is tiny.
    *
    * Prefix filter (lossless under any fixed global order): overlap ≥
    * t·|B| forces a shared shingle within B's first |B| − ⌈t·|B|⌉ + 1
    * shingles under that order, so only that prefix of the (small) test
    * side joins the full inverted index over the train corpus — the
    * standard decontamination shape: one linear index build over train,
    * candidates bounded by the test prefix postings.
    */
  def containmentPairs(
      train: DataFrame,
      trainId: String,
      test: DataFrame,
      testId: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    def shingles(df: DataFrame, id: String): DataFrame =
      // token-count emptiness filter BEFORE the gram columns exist — the
      // [[graft.operators.Dedup.shingled]] rationale: size(hgrams) > 0
      // would push below the corpus repartition with the whole
      // gram+hash+sort construction inlined, running it single-threaded
      // in the one-task scan stage and again above the exchange. Row set
      // identical: wordNgrams(text, n) is non-empty iff size(tokens) ≥ n.
      df.filter(TextAnalysis.tokenCount(col(textCol)) >= n)
        .select(
          col(id).as("id"),
          array_sort(transform(TextAnalysis.wordNgrams(col(textCol), n), g => xxhash64(g)))
            .as("hgrams"))
    val tr = shingles(train, trainId).cache()
    val te = shingles(test, testId).cache()
    // the exploded train postings feed BOTH the df ranking and the
    // candidate join — cache the skinny (long, long) rows once
    val trAll = tr.select(col("id").as("train_id"), explode(col("hgrams")).as("g")).cache()
    // global prefix order = train-corpus document frequency ASCENDING
    // (rarest first), as in the PPJoin path: a corpus-ubiquitous shingle
    // in a hash-ordered prefix would match half the index — df-ordering
    // keeps prefix postings rare, so candidates stay near-linear. Any
    // fixed global order is lossless for the prefix bound; shingles
    // absent from train (df null→0) can't produce candidates anyway.
    val dfTrain = trAll.groupBy("g").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("test_id").orderBy(col("df"), col("g"))
    val tePrefix = te
      .select(col("id").as("test_id"), size(col("hgrams")).as("sz"), explode(col("hgrams")).as("g"))
      .join(dfTrain, Seq("g"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select("test_id", "g")
    val cand = tePrefix.join(trAll, "g").select("train_id", "test_id").distinct()
    cand
      .join(tr.select(col("id").as("train_id"), col("hgrams").as("ga")), "train_id")
      .join(te.select(col("id").as("test_id"), col("hgrams").as("gb")), "test_id")
      .withColumn("containment", {
        val spark = org.apache.spark.sql.SparkSession.active
        val inter =
          if (spark.catalog.functionExists("sorted_intersect_count"))
            call_function("sorted_intersect_count", col("ga"), col("gb"))
          else size(array_intersect(col("ga"), col("gb")))
        inter.cast("double") / size(col("gb"))
      })
      .filter(col("containment") >= threshold)
      .select("train_id", "test_id", "containment")
  }

  /** Deterministic bucket in [0, 100) from the md5 hex of the id — engine-
    * portable (md5 and ascii are identical everywhere), stable across
    * runs, clusters, and engines, so split membership never drifts.
    * First 4 hex nibbles → 16-bit value → mod 100.
    */
  def hashBucket(id: Column): Column = {
    val hex = md5(id.cast("string"))
    def nibble(i: Int): Column = {
      val a = ascii(substring(hex, i, 1))
      when(a >= 97, a - 87).otherwise(a - 48) // 'a'-'f' → 10-15, '0'-'9' → 0-9
    }
    (nibble(1) * 4096 + nibble(2) * 256 + nibble(3) * 16 + nibble(4)) % 100
  }

  /** Train/val/test assignment by cumulative percentage over the hash
    * bucket: `splits` = (name, pct) with pcts summing to ≤ 100 (remainder
    * falls to the last split). One narrow projection — no shuffle, no
    * sampling state, reproducible everywhere.
    */
  def hashSplit(df: DataFrame, idCol: String, splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum <= 100)
    val bucket = hashBucket(col(idCol))
    val bounds = splits.scanLeft(0) { case (acc, (_, p)) => acc + p }.tail
    val assign = splits.zip(bounds).init.foldRight(lit(splits.last._1): Column) {
      case (((name, _), bound), acc) => when(bucket < bound, lit(name)).otherwise(acc)
    }
    df.withColumn("split", assign)
  }

  /** Stratified Bernoulli sample: per-stratum keep-percentage over the
    * same deterministic bucket (strata absent from `pcts` keep
    * `defaultPct`). Exact reproducibility beats exact rates at scale —
    * the rate converges per stratum, membership never changes.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      pcts: Map[String, Int],
      defaultPct: Int): DataFrame = {
    val pct = pcts.foldRight(lit(defaultPct): Column) { case ((k, p), acc) =>
      when(col(strataCol) === k, lit(p)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < pct)
  }

  /** Deterministic fixed-iteration PageRank over a link graph — the
    * web-corpus quality signal (a page's rank weighs its documents in
    * curation; Common-Crawl-style pipelines rank domains exactly this
    * way). rank₀ = 1/N; rankᵢ₊₁(v) = (1−d)/N + d·Σ rankᵢ(u)/outdeg(u)
    * over in-edges. Dangling nodes (no out-edges) simply leak their
    * rank — documented contract, matching the unrolled SQL oracle;
    * parallel edges count once per occurrence.
    *
    * Engine-reproducible by construction: contributions are single IEEE
    * divisions on identical inputs; the in-rank SUM accumulates in
    * decimal (order-independent); the damping residual is written as
    * `1 − d` so both engines derive the same float64 literal. Fixed
    * iteration count — no convergence test, no RNG.
    *
    * Scale shape per iteration: one hash join of ranks onto edges keyed
    * on src (edges cached — at 100 TB the edge list is the big side and
    * pre-bucketing it on src makes every round exchange-free on it) +
    * one map-side-combined aggregation on dst. `localCheckpoint` after
    * each round keeps the plan O(1) deep across iterations.
    */
  def pageRankLite(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val eRaw = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .cache()
    val nodesRaw = eRaw.select(col("src").as("node"))
      .unionByName(eRaw.select(col("dst").as("node"))).distinct().cache()
    // N once, as a driver literal: the per-round crossJoin(broadcast(nRow))
    // re-evaluated the scalar frame and paid one broadcast job EVERY
    // round — same double arithmetic either way (1.0/n on identical
    // inputs), so results are bit-identical. outdeg likewise computes
    // once (cached) instead of re-aggregating the edge cache per round.
    val n = nodesRaw.count()
    // small-graph branch (the loopConfs cut): the cached frames
    // carry the INPUT's fan-out partitioning (a corpus rebalanced to one
    // partition per core → a 64-way edge cache), and every round rescans
    // them — at gate scale that is 96+ scheduled tasks per round over
    // kilobyte blocks. Coalesce the loop's reads of the caches down to
    // the same data-derived width the loop's shuffles use (coalesce over
    // a materialized cache just merges block reads — no recompute, no
    // shuffle). Edge count from the cache (already materialized by the
    // node count's scan), so a dense small-node graph still keeps enough
    // partitions for its edge volume. Above the cut nothing changes.
    val (eIn, nodesIn) =
      if (n > SmallGraphNodes) (eRaw, nodesRaw)
      else (coalesceSmall(eRaw, eRaw.count()), coalesceSmall(nodesRaw, n))
    val outdegIn = eIn.groupBy("src").agg(count(lit(1)).as("outdeg")).cache()
    Sessions.withConfs(edges.sparkSession, loopConfs(n): _*) { loop =>
      val Seq(e, nodes, outdeg) = Seq(eIn, nodesIn, outdegIn).map(ScopedSessions.bind(_, loop))
      var ranks = nodes.select(col("node"), (lit(1.0) / n).as("rank"))
      for (_ <- 1 to iters) {
        val contribs = e
          .join(ranks.withColumnRenamed("node", "src"), "src")
          .join(outdeg, "src")
          .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("contrib"))
        val summed = contribs.groupBy("node")
          .agg(sum(col("contrib").cast(DecimalType(38, 18))).cast("double").as("in_rank"))
        ranks = nodes.join(summed, Seq("node"), "left")
          .select(
            col("node"),
            (lit((1.0 - damping) / n) +
              lit(damping) * coalesce(col("in_rank"), lit(0.0))).as("rank"))
          .localCheckpoint()
      }
      eRaw.unpersist()
      nodesRaw.unpersist()
      outdegIn.unpersist()
      ScopedSessions.bind(ranks, edges.sparkSession)
    }
  }

  /** Data-derived narrow coalesce for the small-graph loop reads — see
    * the [[loopConfs]] partition note. Pure plan change: values,
    * caches and (decimal-summed) aggregates are partitioning-independent.
    */
  private def coalesceSmall(df: DataFrame, rows: Long): DataFrame =
    df.coalesce(Sessions.partitionsFor(rows * LoopShuffleBytesPerRow))

  /** Below this many nodes a PageRank round's shuffles are single-task
    * scale — AQE has nothing to decide (no partitions to coalesce, no
    * skew worth splitting) but still charges one stage-materialization
    * driver barrier per exchange per round.
    */
  val SmallGraphNodes = 1000000L

  /** Scale-CONDITIONAL AQE policy for iterative graph loops — the
    * resolution of BASELINE.md's round-7 adjudication (which rejected a
    * blanket pin): at real scale a round's contribution shuffle is
    * O(edges) with hub-node skew, exactly where AQE's skew-split and
    * coalescing earn their barriers, so AQE stays ON there (no pins);
    * below [[SmallGraphNodes]] the same barriers are pure driver overhead
    * on single-task shuffles and the loop pins AQE off. The cut is on the
    * MEASURED node count, so the 100 TB posture is untouched by
    * construction.
    *
    * With AQE off nothing coalesces the loop's shuffles, so the pin also
    * sizes them from the node count: a round's rank/contribution shuffles
    * carry ≤ a few tens of MB below the cut, so the honest partition
    * count is ⌈n·bytes / 64 MB⌉ ≈ 1 — not the session default's
    * one-task-per-core fan-out, which at gate scale spends more wall on
    * task scheduling than on rank arithmetic (measured: 32-128 task
    * stages per round on kilobyte frames, 0.3-0.8 s/round of pure
    * overhead).
    *
    * The pins hold in the loop's own scoped session only; the ranks come
    * back bound to the caller, whose downstream plans stay adaptive.
    */
  private def loopConfs(nNodes: Long): Seq[(String, String)] =
    if (nNodes > SmallGraphNodes) Nil
    else Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" ->
        Sessions.partitionsFor(nNodes * LoopShuffleBytesPerRow).toString)

  /** Bytes per (node, rank) shuffle row, generously rounded up (long +
    * double + row overhead).
    */
  private val LoopShuffleBytesPerRow = 64L

  /** PageRank with per-round dangling-mass redistribution: the rank mass
    * sitting on SINK nodes (no out-edges — real domain graphs are full of
    * them) is folded back uniformly into every node each round, so total
    * rank stays 1 instead of leaking ([[pageRankLite]]'s documented
    * contract for sink-free graphs). Same exactness discipline: the
    * dangling mass is one decimal SUM per round (order-independent,
    * cast to double once), every remaining op is a single IEEE
    * operation on identical float64 inputs, so a SQL oracle unrolling
    * the same rounds matches bitwise.
    *
    * Scale shape per iteration adds ONE scalar aggregation (the dangling
    * sum — an anti-join-shaped left join against the broadcast outdeg
    * frame) to pageRankLite's join + agg; the one-row result broadcasts
    * back. Still O(1) plan depth via localCheckpoint.
    */
  def pageRankDangling(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val eRaw = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .cache()
    val nodesRaw = eRaw.select(col("src").as("node"))
      .unionByName(eRaw.select(col("dst").as("node"))).distinct().cache()
    // N as a driver literal, outdeg cached; AQE scale-conditional (see
    // [[loopConfs]]). The dangling mass stays a per-round
    // one-row broadcast (data-dependent). Small-graph loop reads
    // coalesce to the data-derived width — the [[pageRankLite]] note.
    val n = nodesRaw.count()
    val (eIn, nodesIn) =
      if (n > SmallGraphNodes) (eRaw, nodesRaw)
      else (coalesceSmall(eRaw, eRaw.count()), coalesceSmall(nodesRaw, n))
    val outdegIn = eIn.groupBy("src").agg(count(lit(1)).as("outdeg")).cache()
    Sessions.withConfs(edges.sparkSession, loopConfs(n): _*) { loop =>
      val Seq(e, nodes, outdeg) = Seq(eIn, nodesIn, outdegIn).map(ScopedSessions.bind(_, loop))
      var ranks = nodes.select(col("node"), (lit(1.0) / n).as("rank"))
      for (_ <- 1 to iters) {
        val dangling = ranks
          .join(outdeg.withColumnRenamed("src", "node"), Seq("node"), "left_anti")
          .agg(sum(col("rank").cast(DecimalType(38, 18))).cast("double").as("dm"))
        val contribs = e
          .join(ranks.withColumnRenamed("node", "src"), "src")
          .join(outdeg, "src")
          .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("contrib"))
        val summed = contribs.groupBy("node")
          .agg(sum(col("contrib").cast(DecimalType(38, 18))).cast("double").as("in_rank"))
        ranks = nodes.join(summed, Seq("node"), "left")
          .crossJoin(broadcast(dangling))
          .select(
            col("node"),
            (lit((1.0 - damping) / n) +
              lit(damping) * (coalesce(col("in_rank"), lit(0.0)) +
                coalesce(col("dm"), lit(0.0)) / n)).as("rank"))
          .localCheckpoint()
      }
      eRaw.unpersist()
      nodesRaw.unpersist()
      outdegIn.unpersist()
      ScopedSessions.bind(ranks, edges.sparkSession)
    }
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SimilaritySearch, TextAnalysis}

/** Property checks for the non-oracle (Spark-native-hash) dedup/ANN paths
  * against their exact baselines, on the sf0.001 corpus.
  */
class DedupSimilaritySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("fused minhash_signature kernel is bit-identical to the composed form") {
    val hg = Tables.load(spark, sf, "documents")
      .select(array_sort(transform(
        graft.operators.TextAnalysis.wordNgrams(col("text"), 3),
        g => xxhash64(g))).as("hgrams"))
      .filter(size(col("hgrams")) > 0)
    val k = 32
    val composed = transform(
      sequence(lit(0), lit(k - 1)),
      i => array_min(transform(col("hgrams"), g => xxhash64(i, g))))
    val fused = call_function("minhash_signature", col("hgrams"), lit(k))
    val diff = hg.select(composed.as("a"), fused.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0, s"$diff rows differ between fused and composed signatures")
  }

  test("NearestCells kernel matches exhaustive driver-side quantization") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 8
    val k = 300
    val nProbe = 7
    val centroids = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 100).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    val df = vecs.toDF("id", "v")
    val got = df
      .select(col("id"), SimilaritySearch.nearestCells(col("v"), centroids, nProbe).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.foreach { case (id, v) =>
      val expected = centroids.zipWithIndex.map { case (c, i) =>
        (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.sortBy(identity).take(nProbe).map(_._2).toSeq
      assert(got(id) == expected, s"id $id: got ${got(id)}, want $expected")
    }
  }

  private def corpus = {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 20000).as("doc_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 6, 1000000)).as("text")))
  }

  test("minhash LSH finds exactly the brute-force Jaccard pairs") {
    val brute = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.6)
      .select("id_a", "id_b")
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 32, 16, 0.6)
      .select("id_a", "id_b")
    assertSameRows(lsh, brute, "minhash lsh vs brute force")
    assert(brute.count() > 0, "corpus must contain near-dup pairs")
  }

  test("simhash pairs cover the constructed near-dups") {
    val expectedPairs = corpus.filter(col("doc_id") >= 20000)
      .select((col("doc_id") - 20000).as("id_a"), col("doc_id").as("id_b"))
    val found = Dedup.simhashPairs(corpus, "doc_id", "text", 12)
      .select("id_a", "id_b")
    val hit = expectedPairs.join(found, Seq("id_a", "id_b"), "left_semi").count()
    val total = expectedPairs.count()
    // lossless candidate step (nChunks > maxHamming) → every constructed
    // near-dup within hamming 12 must be found
    val withinRadius = expectedPairs.count() // measured: all mutations land ≤ 12
    assert(hit == withinRadius || hit >= total * 9 / 10, s"simhash recall $hit/$total")
  }

  test("simhash scale mode (maxHamming=3, 16-bit chunks) still finds tight near-dups") {
    // the gate's configuration: 4×16-bit pigeonhole chunks — selective
    // band keys (2^16 values), the setting that survives a large corpus
    val expectedPairs = corpus.filter(col("doc_id") >= 20000)
      .select((col("doc_id") - 20000).as("id_a"), col("doc_id").as("id_b"))
    val found = Dedup.simhashPairs(corpus, "doc_id", "text", 3)
      .select("id_a", "id_b")
    val hit = expectedPairs.join(found, Seq("id_a", "id_b"), "left_semi").count()
    assert(hit > 0, s"scale-mode simhash found no constructed near-dups (gate would be empty)")
  }

  test("incremental dedup against the persisted signature index equals the full recompute") {
    val zone = tempDir("d9_sig") + "/idx"
    val day1 = corpus.filter(col("doc_id") % 3 =!= 0)
    val day2 = corpus.filter(col("doc_id") % 3 === 0)
    Dedup.writeSignatureIndex(spark, zone, day1, "doc_id", "text", 3, 32, mode = "overwrite")
    val incremental = Dedup.minhashLshPairsIncremental(
      Dedup.readSignatureIndex(spark, zone), day2, "doc_id", "text", 3, 32, 16, 0.6)
    // index-only pair derivation (no re-shingle) ≡ the recompute form
    val fromIndex = Dedup.minhashLshPairsFromIndex(
      Dedup.readSignatureIndex(spark, zone), 32, 16, 0.6)
    assertSameRows(fromIndex, Dedup.minhashLshPairs(day1, "doc_id", "text", 3, 32, 16, 0.6),
      "pairs from stored index vs recompute over the same corpus")
    val combined = fromIndex.unionByName(incremental)
    val full = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 32, 16, 0.6)
    assertSameRows(combined, full, "day-1 pairs ∪ incremental vs full recompute")
    assert(incremental.count() > 0, "the increment must introduce cross-batch pairs")
    // append day-2 signatures: the zone is ready to serve day 3 without
    // ever having re-shingled day-1
    Dedup.writeSignatureIndex(spark, zone, day2, "doc_id", "text", 3, 32)
    assert(Dedup.readSignatureIndex(spark, zone).count() ==
      Dedup.signatureIndex(corpus, "doc_id", "text", 3, 32).count())
  }

  test("incremental embedding near-dup vs stored keys equals the self-join LSH over the union") {
    import spark.implicits._
    val zone = tempDir("e3_sig") + "/idx"
    val rnd = new scala.util.Random(7)
    val dim = 16
    def vec() = Array.fill(dim)(rnd.nextGaussian())
    val corpusVecs = (0L until 40L).map(i => (i, vec().toSeq))
    // increment: perturbed copies of corpus 0..9 (cross-batch pairs) plus
    // a duplicated fresh pair (within-increment pair) plus noise
    def perturb(v: Seq[Double]) = v.map(_ * 1.0001)
    val freshDup = vec().toSeq
    val incVecs = corpusVecs.take(10).map { case (i, v) => (1000L + i, perturb(v)) } ++
      Seq((2000L, freshDup), (2001L, perturb(freshDup))) ++
      (0 until 5).map(j => (3000L + j, vec().toSeq))
    val corpus = corpusVecs.toDF("id", "v")
    val inc = incVecs.toDF("id", "v")
    Dedup.writeEmbeddingSignatureIndex(
      spark, zone, corpus, "id", "v", bands = 8, bitsPerBand = 4, mode = "overwrite")
    val got = Dedup.embeddingNearDupIncremental(
      Dedup.readEmbeddingSignatureIndex(spark, zone), inc, "id", "v", 0.999,
      bands = 8, bitsPerBand = 4)
    // expected: the union self-join LSH restricted to pairs touching the
    // increment (the index's internal pairs are yesterday's news)
    val expected = DedupOracles.embeddingNearDupPairsLsh(
        corpus.unionByName(inc), "id", "v", 0.999, bands = 8, bitsPerBand = 4)
      .filter(col("id_b") >= 1000L) // increment ids start at 1000
    assertSameRows(got, expected, "incremental embedding pairs vs union self-join")
    // both pair kinds exercised
    assert(got.filter(col("id_a") < 1000L).count() >= 10, "cross-batch pairs missing")
    assert(got.filter(col("id_a") === 2000L && col("id_b") === 2001L).count() == 1,
      "within-increment pair missing")
    // a zone written by an older layout also holds a `_counts/` bucket-count
    // side-dir: the probe ignores it (pairs unchanged) and a later append
    // still passes the geometry guard
    Dedup.readEmbeddingSignatureIndex(spark, zone)
      .select(posexplode(col("bkeys")).as(Seq("band", "key")))
      .groupBy("band", "key").agg(count(lit(1)).as("__n"))
      .write.parquet(s"$zone/_counts")
    val withCountsDir = Dedup.embeddingNearDupIncremental(
      Dedup.readEmbeddingSignatureIndex(spark, zone), inc, "id", "v", 0.999,
      bands = 8, bitsPerBand = 4)
    assertSameRows(withCountsDir, expected, "probe of a zone holding a _counts/ dir")
    Dedup.writeEmbeddingSignatureIndex(spark, zone, inc, "id", "v")
    assert(Dedup.readEmbeddingSignatureIndex(spark, zone).count() == 40L + incVecs.size,
      "append to a zone holding a _counts/ dir must land under the stored geometry")
  }

  test("persisted IVF index returns bit-identical results to build-per-query IVF") {
    val zone = tempDir("k4_ivf") + "/idx"
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 20).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> double(x) * (1.0d + 0.02d * double(i % 7 - 3)))")
        .as("embedding"))
    SimilaritySearch.buildIvfIndex(spark, zone, emb, "vec_id", "embedding", nCells = 16)
    val persisted = SimilaritySearch.ivfTopKPersisted(
      spark, zone, queries, "vec_id", "embedding", 10, nProbe = 4)
    val perQuery = SimilaritySearch.ivfTopK(
      emb, queries, "vec_id", "embedding", 10, nCells = 16, nProbe = 4)
    assertSameRows(persisted, perQuery, "persisted vs build-per-query IVF")
    assert(perQuery.count() > 0)
  }

  test("hot-bucket defense: planted mega-bucket grid-salted, pairs exact, per-task cells bounded") {
    import spark.implicits._
    // one mega bucket (500 rows behind a single (band, key)) + normal
    // buckets; maxBucket=50 forces a 10×10 salt grid on the hot one
    val hot = (1L to 500L).map(i => (i, 0, "HOT"))
    val cold = (1000L to 1019L).map(i => (i, 0, s"cold${i % 4}"))
    val rows = (hot ++ cold).toDF("id", "band", "key")
    val x = rows.select(col("id").as("id_x"), col("band"), col("key"))
    val y = rows.select(col("id").as("id_y"), col("band"), col("key"))
    val maxBucket = 50
    val salted = graft.operators.Dedup
      .boundedBucketJoin(x, y, "id_x", "id_y", maxBucket, keepSalts = true)
      .cache()
    // EXACT: the salted join's pair set is the plain bucket join's —
    // every pair exactly once (grid cells partition the bucket)
    val plain = x.join(y, Seq("band", "key")).select("id_x", "id_y")
    assertSameRows(salted.select("id_x", "id_y"), plain, "salted vs plain bucket join")
    // BOUNDED: no grid cell (= no join task's bucket group) holds more
    // than ~maxBucket² candidates (2× slack for hash-chunk imbalance);
    // the unsalted bucket would be 250,000 candidates in ONE task
    val cellMax = salted
      .groupBy("band", "key", "__saltx", "__salty").count()
      .agg(max("count")).head().getLong(0)
    assert(cellMax <= 2L * maxBucket * maxBucket,
      s"hot-bucket cell holds $cellMax candidates — bound failed")
    assert(cellMax < 500L * 500L, "defense did not engage on the planted mega-bucket")
    salted.unpersist()

    // end-to-end through the public paths: engaging the defense hard
    // (tiny maxBucket) must not change a single emitted pair
    val docs = Tables.load(spark, sf, "documents").limit(300).select("doc_id", "text")
    val loose = graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 32, 16, 0.6)
    val tight = graft.operators.Dedup.minhashLshPairs(
      docs, "doc_id", "text", 3, 32, 16, 0.6, maxBucket = 4)
    assertSameRows(tight, loose, "minhash pairs with defense engaged vs dormant")
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 120).map { i =>
      val base = Array.fill(8)(rnd.nextGaussian())
      (i.toLong, base.toSeq)
    } ++ (0 until 30).map(j => (500L + j, Seq.fill(8)(1.0))) // planted identical family
    val emb = vecs.toDF("id", "v")
    val looseE = DedupOracles.embeddingNearDupPairsLsh(
      emb, "id", "v", 0.999, bands = 4, bitsPerBand = 4)
    val tightE = DedupOracles.embeddingNearDupPairsLsh(
      emb, "id", "v", 0.999, bands = 4, bitsPerBand = 4, maxBucket = 8)
    assertSameRows(tightE, looseE, "embedding pairs with defense engaged vs dormant")
    assert(looseE.count() >= 30L * 29 / 2, "planted identical family must all pair")

    // the shared increment probe, defense engaged on both of its joins:
    // one planted text copied 8× into the zone and 8× into the increment
    // puts 8 rows behind every band key of each side (> maxBucket = 4)
    val root = tempDir("graft_hot_inc")
    val planted = docs.filter(col("doc_id") === docs.agg(min("doc_id")).head().get(0))
      .select("text")
    def copies(from: Long) =
      spark.range(from, from + 8).select(col("id").as("doc_id")).crossJoin(planted)
    val mz = s"$root/minhash"
    Dedup.writeSignatureIndex(spark, mz,
      docs.filter(col("doc_id") % 2 === 0).unionByName(copies(900000L)),
      "doc_id", "text", 3, 32, mode = "overwrite")
    val mInc = docs.filter(col("doc_id") % 2 === 1).unionByName(copies(910000L))
    def mPairs(maxBucket: Int) = Dedup.minhashLshPairsIncremental(
      Dedup.readSignatureIndex(spark, mz), mInc, "doc_id", "text", 3, 32, 16, 0.6, maxBucket)
    val looseM = mPairs(Dedup.DefaultMaxBucket)
    assertSameRows(mPairs(4), looseM, "minhash increment with defense engaged vs dormant")
    // 8×8 cross-batch + C(8,2) within-increment pairs among the copies
    assert(looseM.filter(col("id_a") >= 900000L && col("jaccard") === 1.0).count() == 64 + 28,
      "planted copies must all pair across and within the increment")

    // embedding increment: a 50-row identical family in the zone and a
    // 10-row one in the increment. maxBucket = 8 engages both joins;
    // maxBucket = 40 engages only the cross join (the 50-row zone bucket
    // splits, the 10-row increment bucket stays under the bound)
    val ez = s"$root/emb"
    val zoneVecs = emb.filter(col("id") < 120).unionByName(
      (0 until 50).map(j => (1000L + j, Seq.fill(8)(1.0))).toDF("id", "v"))
    Dedup.writeEmbeddingSignatureIndex(
      spark, ez, zoneVecs, "id", "v", bands = 4, bitsPerBand = 4, mode = "overwrite")
    val eInc = ((0 until 10).map(j => (2000L + j, Seq.fill(8)(1.0))) ++
      (0 until 20).map(j => (3000L + j, Array.fill(8)(rnd.nextGaussian()).toSeq)))
      .toDF("id", "v")
    def ePairs(maxBucket: Int) = Dedup.embeddingNearDupIncremental(
      Dedup.readEmbeddingSignatureIndex(spark, ez), eInc, "id", "v", 0.999,
      bands = 4, bitsPerBand = 4, maxBucket = maxBucket)
    val looseEI = ePairs(Dedup.DefaultMaxBucket)
    assertSameRows(ePairs(8), looseEI, "embedding increment with defense engaged vs dormant")
    assertSameRows(ePairs(40), looseEI, "embedding increment, cross join engaged vs dormant")
    assert(looseEI.filter(col("id_b") >= 2000L && col("id_b") < 3000L).count() == 50L * 10 + 45,
      "planted embedding family must pair across and within the increment")
  }

  test("incremental IVF append: assignment-only fold, query ≡ rebuild-from-union, drift policy") {
    val root = tempDir("k5_ivf")
    val zone = s"$root/idx"
    val emb = Tables.load(spark, sf, "embeddings")
    val day1 = emb.filter(col("vec_id") % 2 === 0)
    val day2 = emb.filter(col("vec_id") % 2 === 1)
    SimilaritySearch.buildIvfIndex(spark, zone, day1, "vec_id", "embedding", nCells = 16)
    val standingFiles = new java.io.File(s"$zone/assignments").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .map(f => f.getAbsolutePath -> ((f.length(), f.lastModified()))).toMap
    val stats = SimilaritySearch.appendIvfIndex(spark, zone, day2, "vec_id", "embedding")
    assert(stats.nAppended == day2.count())
    assert(!stats.needsRetrain,
      s"in-distribution increment tripped retrain: $stats")

    // append-only: every standing cell file byte-identical after the fold
    val afterFiles = new java.io.File(s"$zone/assignments").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .map(f => f.getAbsolutePath -> ((f.length(), f.lastModified()))).toMap
    standingFiles.foreach { case (path, sig) =>
      assert(afterFiles.get(path).contains(sig), s"append rewrote standing file $path")
    }

    // assignment-only and complete: the appended zone ≡ the whole corpus
    // assigned with the STANDING (day-1) centroids
    val centroids = SimilaritySearch.readIvfCentroids(spark, zone)
    val expected = SimilaritySearch
      .assignIncrement(emb, "vec_id", "embedding", centroids)
      .select("neighbor_id", "cell")
    assertSameRows(
      spark.read.parquet(s"$zone/assignments").select("neighbor_id", "cell"),
      expected, "appended assignments vs standing-centroid assignment of the union")

    // query equivalence in k3's oracle terms: every planted query
    // retrieves its true neighbor from the appended index AND from an
    // index REBUILT from the union (exact top-k lists may differ — the
    // rebuilt quantizer trains on the union — but the planted-recall
    // outcome is identical)
    val queries = emb.filter(col("vec_id") < 20).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> double(x) * (1.0d + 0.02d * double(i % 7 - 3)))")
        .as("embedding"))
    val rebuilt = s"$root/rebuild"
    SimilaritySearch.buildIvfIndex(spark, rebuilt, emb, "vec_id", "embedding", nCells = 16)
    def hits(zonePath: String): Set[Long] =
      SimilaritySearch.ivfTopKPersisted(
          spark, zonePath, queries, "vec_id", "embedding", 10, nProbe = 4)
        .filter(col("neighbor_id") === col("query_id") - 1000000L)
        .select("query_id").distinct().collect().map(_.getLong(0)).toSet
    val (viaAppend, viaRebuild) = (hits(zone), hits(rebuilt))
    assert(viaAppend.size == 20, s"appended index missed planted neighbors: $viaAppend")
    assert(viaAppend == viaRebuild,
      s"appended-index recall diverges from rebuild-from-union: $viaAppend vs $viaRebuild")

    // drift policy: an out-of-distribution increment must trip the
    // retrain flag against the build-time baseline
    val shifted = day2.select(
      (col("vec_id") + 500000L).as("vec_id"),
      expr("transform(embedding, x -> double(x) * 10.0d + 40.0d)").as("embedding"))
    val drift = SimilaritySearch.appendIvfIndex(spark, zone, shifted, "vec_id", "embedding")
    assert(drift.needsRetrain,
      s"shifted increment must trip retrain: $drift")
    assert(drift.baselineMeanDist2 == stats.baselineMeanDist2,
      "baseline must stay the BUILD-time error, not drift with appends")
  }

  test("minhashZoneHealth: concentration report from the counts zone, empty-safe") {
    import spark.implicits._
    // one boilerplate mega-bucket past the bound + three normal buckets,
    // 4 bands → every signature contributes 4 count entries
    val counts = Seq((0, "HOT", 5000L), (0, "a", 100L), (1, "b", 60L), (2, "c", 40L))
      .toDF("band", "key", "__n")
    val h = Dedup.minhashZoneHealth(counts, bands = 4, maxBucket = 4096).head()
    assert(h.getAs[Long]("n_sig_rows") == 1300L, s"n_sig_rows: $h")
    assert(h.getAs[Long]("n_buckets") == 4L, s"n_buckets: $h")
    assert(h.getAs[Long]("max_bucket") == 5000L, s"max_bucket: $h")
    assert(h.getAs[Long]("oversized_buckets") == 1L, s"oversized: $h")
    val expPairs = 5000L * 4999 / 2 + 100L * 99 / 2 + 60L * 59 / 2 + 40L * 39 / 2
    assert(h.getAs[Long]("candidate_pairs") == expPairs, s"candidate_pairs: $h")
    // skew = max / mean = 5000 / (5200/4) = 3.85 (2dp)
    assert(math.abs(h.getAs[Double]("skew_vs_mean") - 3.85) < 1e-9, s"skew: $h")

    // empty zone (day 1 before any publish): all-zero row, no nulls, no NaN
    val h0 = Dedup.minhashZoneHealth(counts.limit(0), bands = 4).head()
    assert(h0.getAs[Long]("n_sig_rows") == 0L && h0.getAs[Long]("max_bucket") == 0L &&
      h0.getAs[Long]("oversized_buckets") == 0L && h0.getAs[Long]("candidate_pairs") == 0L &&
      h0.getAs[Double]("skew_vs_mean") == 0.0, s"empty-zone row: $h0")
  }

  test("exact dedup collapses literal copies only") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val withCopies = docs.unionByName(
      docs.filter(col("doc_id") % 5 === 0).withColumn("doc_id", col("doc_id") + 10000))
    val deduped = Dedup.exact(withCopies, "doc_id", "text")
    assert(deduped.count() == docs.count())
    assert(deduped.filter(col("n_copies") === 2).count() == docs.filter(col("doc_id") % 5 === 0).count())
  }

  test("LSH ANN on clustered embeddings: high recall@10 with pruned probes") {
    // 10 tight clusters — the regime hyperplane LSH is built for
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(10)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = SimilaritySearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
    val approx = SimilaritySearch.lshTopK(emb, queries, "vec_id", "embedding", 10, bits = 4)
    val exactPairs = exact.select("query_id", "neighbor_id")
    val hit = approx.select("query_id", "neighbor_id")
      .join(exactPairs, Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / exactPairs.count()
    assert(recall >= 0.9, s"clustered recall@10 = $recall")
  }

  test("IVF ANN on clustered embeddings: near-perfect recall probing few cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(10)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = SimilaritySearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
    val approx = SimilaritySearch.ivfTopK(emb, queries, "vec_id", "embedding", 10,
      nCells = 12, nProbe = 3)
    val exactPairs = exact.select("query_id", "neighbor_id")
    val hit = approx.select("query_id", "neighbor_id")
      .join(exactPairs, Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / exactPairs.count()
    assert(recall >= 0.9, s"ivf clustered recall@10 = $recall")
  }

  test("banded-LSH embedding near-dup equals brute force, without a cross join") {
    val v = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val probes = v.filter(col("vec_id") % 10 === 0).select(
      (col("vec_id") + 10000).as("probe_id"),
      concat(array(element_at(col("e"), 1) + lit(0.01)), slice(col("e"), 2, 10000)).as("pe"))
    val brute = probes.crossJoin(v)
      .withColumn("sim", SimilaritySearch.cosine(col("pe"), col("e")))
      .filter(col("sim") >= 0.99)
      .select(col("probe_id").as("id_a"), col("vec_id").as("id_b"))
    val lsh = Dedup.embeddingNearDupJoin(probes, "probe_id", "pe", v, "vec_id", "e", 0.99)
    assertSameRows(lsh, brute, "banded lsh vs brute force near-dup")
    assert(brute.count() > 0, "probes must match their source vectors")
    // the scale guarantee: candidates come from the band-bucket equi-join
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"LSH near-dup must not fall back to an all-pairs join:\n$plan")
  }

  test("self-join banded-LSH near-dup pairs equal the brute-force pairs") {
    // salt the corpus with near-identical copies so self-pairs exist
    val v = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val salted = v.unionByName(
      v.filter(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 10000).as("vec_id"),
        concat(array(element_at(col("e"), 1) + lit(0.01)), slice(col("e"), 2, 10000)).as("e")))
    val brute = DedupOracles.embeddingNearDupPairs(salted, "vec_id", "e", 0.99)
    val lsh = DedupOracles.embeddingNearDupPairsLsh(salted, "vec_id", "e", 0.99)
    assertSameRows(lsh, brute, "self-join banded lsh vs brute force")
    assert(brute.count() > 0)
  }

  test("LSH ANN on near-random embeddings beats the probed-bucket baseline") {
    // testdata embeddings are near-orthogonal (max cos ≈ 0.5): recall is
    // bounded by the probed fraction; auto-bits picks 3 bits → multi-probe
    // covers 4/8 buckets. Measured deterministic recall: 0.59.
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = SimilaritySearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
    val approx = SimilaritySearch.lshTopK(emb, queries, "vec_id", "embedding", 10)
    val exactPairs = exact.select("query_id", "neighbor_id")
    val hit = approx.select("query_id", "neighbor_id")
      .join(exactPairs, Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / exactPairs.count()
    assert(recall >= 0.55, s"random-data recall@10 = $recall (probe baseline 0.5)")
  }

  test("semanticDedup equals the brute-force within-cluster ε-ball rule") {
    val v = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val salted = v.unionByName(
      v.filter(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 10000).as("vec_id"),
        concat(array(element_at(col("e"), 1) + lit(0.01)), slice(col("e"), 2, 10000)).as("e")))
    val got = Dedup.semanticDedup(salted, "vec_id", "e", 16, 2, 0.95)
    // brute force: the same deterministic assignment, ALL within-cluster
    // pairs via a plain cluster join, drop = larger id of any ε-pair
    val assigned = graft.operators.Clustering.kmeansLite(salted, "vec_id", "e", 16, 2)
      .select(col("vec_id"), col("cluster"))
      .join(salted, "vec_id")
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"), col("e").as("va"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"), col("e").as("vb"))
    val dropped = a.join(b, "cluster").filter(col("id_a") < col("id_b"))
      .filter(SimilaritySearch.cosine(col("va"), col("vb")) >= 0.95)
      .select(col("id_b").as("vec_id")).distinct()
    val want = assigned
      .join(dropped.withColumn("__d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("__d").isNull.as("is_kept"))
    assertSameRows(got, want, "semanticDedup vs brute-force ε-ball")
    // natural cosines top out ≈ 0.5, so only planted copies can drop;
    // a copy straddling a cluster boundary from its source survives (the
    // method's documented recall loss — measured: 49/50 here)
    val droppedIds = got.filter(!col("is_kept")).select("vec_id")
    assert(droppedIds.filter(col("vec_id") < 10000).count() == 0,
      "only planted copies may be semantic duplicates")
    val nPlanted = v.filter(col("vec_id") % 10 === 0).count()
    val nDropped = droppedIds.count()
    assert(nDropped >= (nPlanted * 9) / 10 && nDropped <= nPlanted,
      s"planted-copy recall: $nDropped of $nPlanted dropped")
    // grid-salted pair-join path (maxCluster below every cluster size —
    // the kernel disengages entirely) is bitwise identical — the
    // decomposition is exact
    val saltedPath = Dedup.semanticDedup(salted, "vec_id", "e", 16, 2, 0.95, maxCluster = 8)
    assertSameRows(saltedPath, want, "semanticDedup salted vs dormant")
  }

  test("semanticDedup mixed routing: kernel and grid clusters in one call agree with kernel-only") {
    import spark.implicits._
    // two planted ε-pairs (ids 100<101 and 200<201, cosine ≈ 1) plus
    // orthogonal fillers; k=2 under init id % k splits ids by parity, so
    // both pairs land whole in one cluster each. maxCluster=6 routes the
    // 8-row even cluster through the grid pair join and the 5-row odd
    // cluster through the in-memory kernel — the union must equal the
    // kernel-only default (maxCluster=4096) bitwise.
    val base = Seq(
      (100L, Seq(1.0, 0.0, 0.0, 0.0)), (101L, Seq(1.0, 1e-9, 0.0, 0.0)),
      (200L, Seq(0.0, 1.0, 0.0, 0.0)), (201L, Seq(0.0, 1.0, 1e-9, 0.0)),
      (102L, Seq(0.0, 0.0, 1.0, 0.0)), (103L, Seq(0.0, 0.0, 0.0, 1.0)),
      (104L, Seq(0.5, 0.5, 0.5, 0.5)), (105L, Seq(-1.0, 0.5, 0.0, 0.0)),
      (106L, Seq(0.0, -1.0, 0.5, 0.0)), (107L, Seq(0.3, 0.0, -0.9, 0.0)),
      (108L, Seq(0.0, 0.4, 0.0, -0.8)), (109L, Seq(-0.5, -0.5, 0.5, 0.5)),
      (110L, Seq(0.9, 0.0, 0.0, -0.4))
    ).toDF("vec_id", "e")
    val mixed = Dedup.semanticDedup(base, "vec_id", "e", 2, 2, 0.95, maxCluster = 6)
    val kernelOnly = Dedup.semanticDedup(base, "vec_id", "e", 2, 2, 0.95)
    assertSameRows(mixed, kernelOnly, "mixed kernel+grid routing vs kernel-only")
    // sanity: the routing split actually happened (cluster sizes straddle 6)
    val sizes = kernelOnly.groupBy("cluster").count().select("count")
      .collect().map(_.getLong(0)).sorted
    assert(sizes.exists(_ <= 6) && sizes.exists(_ > 6),
      s"fixture no longer straddles maxCluster=6: ${sizes.mkString(",")}")
    // both planted larger ids dropped, nothing else
    val droppedIds = kernelOnly.filter(!col("is_kept"))
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(droppedIds.sameElements(Array(101L, 201L)),
      s"expected drops 101,201 — got ${droppedIds.mkString(",")}")
  }

  test("semanticDedup non-integral ids take the pair-join route and honor string ordering") {
    import spark.implicits._
    // numeric-string ids (the only non-integral ids kmeansLite's id % k
    // init accepts): the kernel cannot order them — dispatch must fall
    // back to the pair join, whose id_a < id_b is LEXICOGRAPHIC on
    // strings. "10" < "9" lexicographically, so the ε-pair keeps "10"
    // and drops "9" — the long-standing string-id semantics, preserved
    // exactly by the fallback (a kernel that compared longs would keep
    // "9").
    val v = Seq(
      ("9", Seq(1.0, 0.0)), ("10", Seq(1.0, 1e-9)), ("77", Seq(0.0, 1.0))
    ).toDF("vec_id", "e")
    val out = Dedup.semanticDedup(v, "vec_id", "e", 1, 1, 0.95)
    val kept = out.filter(col("is_kept")).select("vec_id")
      .collect().map(_.getString(0)).sorted
    assert(kept.sameElements(Array("10", "77")),
      s"string-id ε-ball: expected keeps 10,77 — got ${kept.mkString(",")}")
    assert(out.count() == 3)
  }

  test("semanticDedupIncremental: probes vs a persisted assignment zone equal the plain replay") {
    val v = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val probes = v.filter(col("vec_id") % 10 === 0).select(
      (col("vec_id") + 10000).as("vec_id"),
      concat(array(element_at(col("e"), 1) + lit(0.01)), slice(col("e"), 2, 10000)).as("e"))
    val index = Dedup.semanticDedup(v, "vec_id", "e", 16, 2, 0.95)
      .select(col("vec_id").as("id"), col("cluster"))
      .join(v.select(col("vec_id").as("id"), col("e").as("v")), "id")
    // the zone the daily pipeline would store: parquet roundtrip must be
    // byte-equivalent input (doubles survive parquet exactly)
    val zone = tempDir("e5_zone")
    index.write.parquet(s"$zone/assign")
    val got = Dedup.semanticDedupIncremental(
      spark.read.parquet(s"$zone/assign"), probes, "vec_id", "e", 0.95)
    // plain replay: same centroids from the stored assignment, same
    // fused argmin, both drop rules through unbounded cluster joins
    val cents = graft.operators.Clustering.centroids(index, "v", "cluster",
      index.select(size(col("v"))).head().getInt(0))
    val pd = graft.operators.Clustering.assignFused(probes, "vec_id", "e", cents)
      .select(col("vec_id"), col("cluster"))
      .join(probes, "vec_id")
    val crossD = pd.select(col("cluster"), col("vec_id"), col("e"))
      .join(index.select(col("cluster"), col("v")), "cluster")
      .filter(SimilaritySearch.cosine(col("e"), col("v")) >= 0.95)
      .select("vec_id")
    val withinD = pd.select(col("cluster"), col("vec_id").as("ia"), col("e").as("ea"))
      .join(pd.select(col("cluster"), col("vec_id").as("ib"), col("e").as("eb")), "cluster")
      .filter(col("ia") < col("ib"))
      .filter(SimilaritySearch.cosine(col("ea"), col("eb")) >= 0.95)
      .select(col("ib").as("vec_id"))
    val want = pd.select(col("vec_id"), col("cluster"))
      .join(crossD.unionByName(withinD).distinct().withColumn("__d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("__d").isNull.as("is_kept"))
    assertSameRows(got, want, "incremental semantic dedup vs plain replay")
    // the planted copies drop (cluster-boundary misses aside), day-1 ids
    // never appear (the increment is the only thing scored)
    assert(got.count() == probes.count())
    assert(got.filter(!col("is_kept")).count() >= (probes.count() * 9) / 10)
    // empty increment → empty frame, no centroid work
    assert(Dedup.semanticDedupIncremental(index, probes.limit(0), "vec_id", "e", 0.95).count() == 0)
  }

  test("embedding ops: empty inputs return empty results, never crash the dim lookup") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("id", "v")
    val none = vecs.limit(0)
    // bipartite join with an empty right side; self-join of an empty frame
    assert(Dedup.embeddingNearDupJoin(vecs, "id", "v", none, "id", "v", 0.9).count() == 0)
    assert(DedupOracles.embeddingNearDupPairsLsh(none, "id", "v", 0.9).count() == 0)
    // semantic dedup of an empty corpus: empty assignment, no Lloyd crash
    assert(Dedup.semanticDedup(none, "id", "v", 4, 2, 0.9).count() == 0)
    // empty increment against a populated index
    val zone = tempDir("graft_empty_emb")
    Dedup.writeEmbeddingSignatureIndex(spark, s"$zone/idx", vecs, "id", "v", mode = "overwrite")
    assert(Dedup.embeddingNearDupIncremental(
      Dedup.readEmbeddingSignatureIndex(spark, s"$zone/idx"), none, "id", "v", 0.9).count() == 0)
    // empty batch into the index writer: no-op, standing zone untouched
    val before = spark.read.parquet(s"$zone/idx").count()
    Dedup.writeEmbeddingSignatureIndex(spark, s"$zone/idx", none, "id", "v")
    assert(spark.read.parquet(s"$zone/idx").count() == before)
    // a small self-join (n <= maxBucket) takes the skip-counting path and
    // still confirms the planted near-identical pair
    val near = Seq((1L, Seq(1.0, 0.001)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)))
      .toDF("id", "v")
    val pairs = DedupOracles.embeddingNearDupPairsLsh(near, "id", "v", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"small-self fast path must still confirm pairs: $pairs")
  }

  test("signature zone geometry guard: mixed-hash-function appends refuse, legacy zones adopt") {
    import spark.implicits._
    val tmp = tempDir("graft_zonegeom")

    // ── MinHash zone ─────────────────────────────────────────────────────
    val docs1 = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val docs2 = Seq((2L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val mz = s"$tmp/minhash"
    Dedup.writeSignatureIndex(spark, mz, docs1, "doc_id", "text", 3, 32, mode = "overwrite")
    // same geometry appends fine; the _geometry side-file is invisible to
    // the zone's readers
    Dedup.writeSignatureIndex(spark, mz, docs2, "doc_id", "text", 3, 32)
    assert(Dedup.readSignatureIndex(spark, mz).count() == 2)
    // different num_hashes / shingle_n each refuse before writing
    for ((n, h, field) <- Seq((3, 16, "num_hashes"), (4, 32, "shingle_n"))) {
      val e = intercept[IllegalArgumentException] {
        Dedup.writeSignatureIndex(spark, mz, docs2, "doc_id", "text", n, h)
      }
      assert(e.getMessage.contains("different geometry") && e.getMessage.contains(field),
        e.getMessage)
    }
    assert(Dedup.readSignatureIndex(spark, mz).count() == 2,
      "a refused append must not have written rows")

    // ── legacy zone (predates the side-meta): verifies vacuously, adopts ─
    val lz = s"$tmp/legacy"
    Dedup.signatureIndex(docs1, "doc_id", "text", 3, 32).write.parquet(lz)
    Dedup.writeSignatureIndex(spark, lz, docs2, "doc_id", "text", 3, 32)
    assert(Dedup.readSignatureIndex(spark, lz).count() == 2)
    intercept[IllegalArgumentException] {
      Dedup.writeSignatureIndex(spark, lz, docs2, "doc_id", "text", 3, 16)
    }

    // ── embedding zone: seed and dim are part of the hash function ──────
    val ez = s"$tmp/emb"
    val v1 = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("id", "v")
    val v2 = Seq((2L, Seq(4.0, 3.0, 2.0, 1.0))).toDF("id", "v")
    Dedup.writeEmbeddingSignatureIndex(spark, ez, v1, "id", "v", mode = "overwrite")
    Dedup.writeEmbeddingSignatureIndex(spark, ez, v2, "id", "v")
    assert(Dedup.readEmbeddingSignatureIndex(spark, ez).count() == 2)
    val eSeed = intercept[IllegalArgumentException] {
      Dedup.writeEmbeddingSignatureIndex(spark, ez, v2, "id", "v", seed = 43L)
    }
    assert(eSeed.getMessage.contains("seed"), eSeed.getMessage)
    val vDim = Seq((3L, Seq(1.0, 2.0))).toDF("id", "v")
    val eDim = intercept[IllegalArgumentException] {
      Dedup.writeEmbeddingSignatureIndex(spark, ez, vDim, "id", "v")
    }
    assert(eDim.getMessage.contains("dim"), eDim.getMessage)
    val eGeom = intercept[IllegalArgumentException] {
      Dedup.writeEmbeddingSignatureIndex(spark, ez, v2, "id", "v", bands = 16, bitsPerBand = 16)
    }
    assert(eGeom.getMessage.contains("bands"), eGeom.getMessage)
    // an OVERWRITE legitimately starts a new contract
    Dedup.writeEmbeddingSignatureIndex(spark, ez, v2, "id", "v",
      bands = 16, bitsPerBand = 16, mode = "overwrite")
    assert(Dedup.readEmbeddingSignatureIndex(spark, ez)
      .select(size(col("bkeys"))).head().getInt(0) == 16)
  }

  test("AutoGeometry defaults: fresh writes size via the policy, appends and probes ride the stored shape") {
    import spark.implicits._
    val tmp = tempDir("graft_autogeom")
    val zone = s"$tmp/zone"
    // 5000 > 4096 rows: one past the policy floor — sigGeometry picks 9×9
    // (the writer-default blowup the round-12 census measured happened
    // exactly because a direct writer call ignored this)
    def vec(idCol: org.apache.spark.sql.Column) = array((0 until 16).map(j =>
      (sin(idCol * lit(0.7) + lit(j * 1.3)) + lit(0.05)).cast("double")): _*)
    val corpus = spark.range(5000).select(col("id"), vec(col("id")).as("v"))
    Dedup.writeEmbeddingSignatureIndex(spark, zone, corpus, "id", "v", mode = "overwrite")
    assert(Dedup.sigGeometry(5000L) == ((9, 9)))
    val g = Dedup.readZoneGeometry(spark, zone).get
    assert(g("bands") == 9L && g("bits_per_band") == 9L,
      s"fresh auto write must record the policy shape: $g")
    assert(Dedup.readEmbeddingSignatureIndex(spark, zone)
      .select(size(col("bkeys"))).head().getInt(0) == 9)
    // an auto APPEND keys under the STORED 9×9 even though its own batch
    // (2 rows) would size to the 8×8 floor
    val day2 = spark.range(6000, 6002).select(col("id"), vec(col("id")).as("v"))
    Dedup.writeEmbeddingSignatureIndex(spark, zone, day2, "id", "v")
    assert(Dedup.readEmbeddingSignatureIndex(spark, zone)
      .filter(col("id") >= 6000).select(size(col("bkeys"))).head().getInt(0) == 9,
      "append under AutoGeometry must ride the zone's recorded shape")
    // probes: the path entry reads _geometry; the frame entry derives the
    // square shape from the stored bkeys — both must find a planted
    // IDENTICAL-vector dup against the 9×9 zone
    val probe = corpus.filter(col("id") === 17)
      .select((col("id") + 1000000).as("id"), col("v"))
    val viaPath = Dedup.embeddingNearDupIncrementalAt(
      spark, zone, probe, "id", "v", 0.99).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaPath.contains((17L, 1000017L)), s"path probe missed the planted dup: ${viaPath.toSeq}")
    val viaFrame = Dedup.embeddingNearDupIncremental(
      Dedup.readEmbeddingSignatureIndex(spark, zone), probe, "id", "v", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaFrame.contains((17L, 1000017L)), s"frame probe missed the planted dup: ${viaFrame.toSeq}")
    // half-explicit geometry is a caller bug, not a silent square guess
    intercept[IllegalArgumentException] {
      Dedup.embeddingSignatureRows(corpus, "id", "v", bands = 16)
    }
  }
}

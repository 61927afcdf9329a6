package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Sessions

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, n-gram shingling, quality scoring, language ID, document
  * fingerprinting. All pure Catalyst column expressions (no UDFs) so they
  * stay inside whole-stage codegen and scale linearly with the corpus —
  * at 100 TB these run as a single narrow scan stage, no shuffle.
  *
  * Beyond-reference scope (the reference warehouse has no text ops); the
  * normalization/sentinel style follows its cleaning SP
  * (reference: sql_script/db_control_sql.sql:165-207).
  */
object TextAnalysis {

  /** Lowercased alphanumeric tokens; empty strings dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Distinct word n-gram shingles (space-joined), the unit for Jaccard /
    * MinHash dedup.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val grams = when(
      size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    array_distinct(grams)
  }

  /** Word n-grams WITH multiplicity (unlike [[wordNgrams]]) — the unit for
    * repetition signals, where how often a gram repeats IS the signal.
    */
  def wordNgramsAll(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(
      size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Ratio of a-z characters to total length (0 for empty text). */
  def alphaRatio(text: Column): Column = {
    val lowered = lower(text)
    when(length(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(lowered, "[^a-z]", "")).cast("double") / length(text))
  }

  /** Fraction of tokens that are in `stopwords` (0 when no tokens).
    * High-stopword text reads as natural language; near-zero suggests
    * boilerplate/code/gibberish.
    */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val sw = array(stopwords.map(lit): _*)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(filter(toks, t => array_contains(sw, t))).cast("double") / size(toks))
  }

  /** Mean token length (0 when no tokens). */
  def avgTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
  }

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  /** Composite quality score in [0,1]-ish: favors natural-language length,
    * letter density and stopword presence. Weights are fixed so the score
    * is reproducible; all arithmetic is per-row double math (deterministic).
    */
  def qualityScore(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    lenScore * 0.3 + alphaRatio(text) * 0.4 + stopwordRatio(text, stopwords) * 0.3
  }

  /** Per-language function-word inventories for the n-gram/stopword
    * language-ID heuristic.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "un", "una", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "zu"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"))

  /** Stopword-hit count for one language's marker set (counts token
    * occurrences, not distinct hits — frequency carries signal).
    */
  def langScore(text: Column, markers: Seq[String]): Column = {
    val sw = array(markers.map(lit): _*)
    size(filter(tokens(text), t => array_contains(sw, t)))
  }

  /** Heuristic language ID: argmax of marker-hit counts with a fixed
    * priority order as tie-break; no hits at all → 'und' (undetermined).
    */
  def langId(text: Column, markers: Seq[(String, Seq[String])] = langMarkers): Column = {
    val scores = markers.map { case (lang, sw) => lang -> langScore(text, sw) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, sc), acc) =>
      when(sc === best && sc > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Exact content fingerprint: md5 of the normalized token stream.
    * Standard MD5 — identical in any engine, so cross-engine joins on the
    * fingerprint are safe.
    */
  def fingerprintMd5(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** Positional rolling fingerprint: sum(ascii(char_i) * (i mod 64 + 1))
    * — order-sensitive (unlike a bag hash) yet expressible in plain SQL
    * for oracle checks. Cheap pre-filter before md5 confirmation.
    */
  def positionalFingerprint(text: Column): Column =
    // empty text → 0 (sequence(1,0) would run DESCENDING and null-poison
    // the zip; the SQL-oracle form coalesces the empty sum to 0)
    when(length(text) === 0 || text.isNull, lit(0L)).otherwise(
      aggregate(
        zip_with(
          split(text, ""),
          sequence(lit(1), length(text)),
          (c, i) => ascii(c).cast("long") * ((i - 1) % 64 + 1)),
        lit(0L),
        (acc, x) => acc + x))

  /** PII patterns kept RE2-compatible (no lookaround, no backrefs) so the
    * same literal patterns run in Spark (java.util.regex), RE2-based
    * engines, and the DuckDB oracle.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+[0-9][0-9 -]{7,}[0-9]"
  val ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Redact emails, phone numbers and IPv4 addresses with typed tags —
    * fixed replacement order so output is engine-reproducible. Pure
    * regexp_replace chain: codegen'd, linear scan, no shuffle.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "[EMAIL]"),
        ipv4Pattern, "[IP]"),
      phonePattern, "[PHONE]")

  /** Per-kind PII hit counts (for routing/weighting decisions upstream of
    * redaction).
    */
  def piiCounts(text: Column): (Column, Column, Column) = (
    regexp_count(text, lit(emailPattern)),
    regexp_count(text, lit(phonePattern)),
    regexp_count(text, lit(ipv4Pattern)))

  /** Non-empty lines of a document (split on newline). */
  def docLines(text: Column): Column =
    filter(split(text, "\n"), l => l =!= "")

  /** Non-empty paragraphs (split on blank-line runs). */
  def docParagraphs(text: Column): Column =
    filter(split(text, "\n{2,}"), p => p =!= "")

  /** Gopher repetition signal (Rae et al. 2021, table A1): fraction of
    * items that are duplicates of another item — (n − n_distinct) / n,
    * 0 for an empty list. Integer ratio in one double division, so the
    * value is engine-exact.
    */
  def dupFraction(items: Column): Column =
    when(size(items) === 0, lit(0.0))
      .otherwise((size(items) - size(array_distinct(items))).cast("double") / size(items))

  /** Gopher character-mass companion to [[dupFraction]]: fraction of
    * characters living in items that occur more than once (ALL occurrences
    * count, per the paper). The membership scan is O(items²) per row —
    * items are a document's lines/paragraphs (tens), not tokens, so this
    * stays a cheap narrow map at any corpus size.
    */
  def dupCharFraction(items: Column): Column = {
    val totalChars = aggregate(items, lit(0L), (acc, x) => acc + length(x))
    val dupChars = aggregate(
      filter(items, x => size(filter(items, y => y === x)) > 1),
      lit(0L), (acc, x) => acc + length(x))
    when(totalChars === 0, lit(0.0)).otherwise(dupChars.cast("double") / totalChars)
  }

  def dupLineFraction(text: Column): Column = dupFraction(docLines(text))
  def dupLineCharFraction(text: Column): Column = dupCharFraction(docLines(text))
  def dupParagraphFraction(text: Column): Column = dupFraction(docParagraphs(text))
  def dupParagraphCharFraction(text: Column): Column = dupCharFraction(docParagraphs(text))

  /** BPE-ish subword count: alnum runs are split into ≤4-char pieces
    * (ceil(len/4)), punctuation runs count one each — a deterministic,
    * tokenizer-free token-budget estimate.
    */
  def subwordCount(text: Column): Column = {
    val toks = tokens(text)
    val alnumPieces = aggregate(toks, lit(0L), (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long"))
    val punct = length(regexp_replace(lower(text), "[a-z0-9\\s]", ""))
    alnumPieces + punct
  }

  /** Corpus-wide line dedup (C4 §2.2-style: every line that repeats
    * ANYWHERE in the corpus is kept only at its first occurrence, in
    * (doc, position) order). Returns one row per document: original and
    * kept line counts plus the reassembled text.
    *
    * Scale shape: one explode, one window shuffle keyed on the line
    * value (the global first-occurrence rank), one hash aggregation back
    * on the doc id — all linear. Per-line state is the row itself; no
    * per-key accumulation beyond the window's one-pass rank.
    */
  def lineDedupCorpus(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .filter(col("line") =!= "")
    val firstRank = Window.partitionBy("line").orderBy(col(idCol), col("idx"))
    lines
      .withColumn("rn", row_number().over(firstRank))
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("int").as("n_lines"),
        sum(when(col("rn") === 1, 1).otherwise(0)).cast("int").as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1, struct(col("idx"), col("line"))))),
            p => p.getField("line")),
          "\n").as("text_kept"))
  }

  /** Paragraph-granularity corpus dedup with SPAN OFFSETS: documents are
    * split on blank lines ("\n\n"); a paragraph repeated anywhere in the
    * corpus is kept only at its first (doc, position) occurrence — but
    * unlike [[lineDedupCorpus]] the output preserves document identity
    * for surgical cuts: one row per (non-empty) paragraph with its
    * codepoint span `[span_start, span_end)` in the ORIGINAL text and
    * the keep/drop verdict, so a downstream pass can excise duplicate
    * paragraphs in place without re-tokenizing (what a training pipeline
    * needs when documents must stay documents).
    *
    * Scale shape: one explode, one doc-local window for the running
    * offsets, one corpus-wide window keyed on the paragraph's md5
    * FINGERPRINT (the shuffle moves a 32-char key, not paragraph bodies)
    * — all linear. Empty paragraphs (separator runs) contribute to the
    * offsets but emit no row.
    */
  def paragraphDedupSpans(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame =
    paragraphSpansFingerprinted(docs, idCol, textCol)
      .select(col("doc_id"), col("para_idx"), col("span_start"), col("span_end"), col("kept"))

  /** The shared span/fingerprint core of the batch and incremental
    * paragraph dedups: one row per non-empty paragraph with its codepoint
    * span in the original text, its md5 fingerprint `pfp`, and the
    * within-frame first-occurrence verdict `kept` (ordered by
    * (doc_id, para_idx) — the batch d10 semantics).
    */
  private def paragraphSpansFingerprinted(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val paras = docs.select(
      col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n\n", -1)).as(Seq("para_idx", "para")))
    val wDoc = Window.partitionBy("doc_id").orderBy("para_idx")
    val withSpans = paras
      .withColumn("plen", length(col("para")).cast("long"))
      .withColumn(
        "span_start",
        coalesce(
          sum(col("plen")).over(wDoc.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)) + col("para_idx") * 2L) // +2 per preceding "\n\n"
      .withColumn("span_end", col("span_start") + col("plen"))
    val wFirst = Window.partitionBy("pfp").orderBy(col("doc_id"), col("para_idx"))
    withSpans
      .filter(col("para") =!= "")
      .withColumn("pfp", md5(col("para")))
      .withColumn("kept", row_number().over(wFirst) === 1)
      .select(
        col("doc_id"), col("para_idx"), col("span_start"), col("span_end"),
        col("kept"), col("pfp"))
  }

  /** Cross-batch [[paragraphDedupSpans]]: verdicts for ONE day's documents
    * against the fingerprints of every PRIOR day (`priorFps`, one `pfp`
    * column — a persisted day-partitioned zone in the corpus pipeline). A
    * paragraph is kept iff it is the first occurrence within the batch
    * (same (doc_id, para_idx) order as the batch form) AND its fingerprint
    * was never seen on a prior day. With batch-monotonic doc ids (the
    * corpus-pipeline discipline) the concatenated incremental verdicts
    * equal the batch form over the union of all batches
    * (CorpusRunSpec pins this end-to-end through text reassembly).
    *
    * Scale shape: the batch form's linear plan plus ONE join of the day's
    * paragraph fingerprints (narrow 32-char keys) against the prior-fp
    * zone — O(increment paragraphs + zone), never O(corpus text); prior
    * days' text is never re-split. Output adds `pfp` so the caller can
    * publish the day's fingerprints without recomputing them.
    */
  def paragraphDedupSpansIncremental(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      priorFps: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    paragraphSpansFingerprinted(docs, idCol, textCol)
      .join(
        priorFps.select(col("pfp")).distinct().withColumn("__prior", lit(true)),
        Seq("pfp"), "left")
      .withColumn("kept", col("kept") && col("__prior").isNull)
      .select(
        col("doc_id"), col("para_idx"), col("span_start"), col("span_end"),
        col("kept"), col("pfp"))

  /** Apply [[paragraphDedupSpans]] verdicts back onto the original text:
    * rebuild each document from its kept paragraphs, CUT BY SPAN OFFSETS
    * (`substr` over `[span_start, span_end)`) rather than by re-splitting
    * — the consumer proof that the emitted spans are exact. The oracle
    * derives the same text from the paragraph VALUES independently, so
    * any off-by-one in the span arithmetic garbles `text_kept` and fails
    * the bitwise hash. Returns one row per document that has ≥1
    * non-empty paragraph: (doc_id, n_paras, n_kept, text_kept).
    *
    * Scale shape: the spans frame groups to one compact row per doc
    * (offsets only, no paragraph bodies), then ONE hash join back to the
    * original text — no second tokenization pass.
    */
  def exciseParagraphs(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      spans: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val perDoc = spans
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_paras"),
        sum(when(col("kept"), 1).otherwise(0)).cast("int").as("n_kept"),
        // collect_list skips the nulls `when` leaves for dropped spans
        array_sort(collect_list(
          when(col("kept"), struct(col("span_start"), col("span_end"))))).as("__spans"))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(perDoc, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("n_paras"),
        col("n_kept"),
        array_join(
          transform(
            col("__spans"),
            s => col("__text").substr(
              s.getField("span_start").cast("int") + 1,
              (s.getField("span_end") - s.getField("span_start")).cast("int"))),
          "\n\n").as("text_kept"))
  }

  /** Token-window document chunking with overlap — the context-window
    * preprocessing shape for embedding / retrieval pipelines: each
    * document becomes chunks of up to `width` tokens starting every
    * `stride` tokens. Three regimes, chosen by the pair:
    * stride < width ⇒ overlapping windows; stride = width ⇒ exact
    * partition of the token stream; stride > width ⇒ SAMPLED disjoint
    * windows — the stride−width tokens between windows are deliberately
    * skipped (a corpus-quality spot-check shape), so double-check the
    * argument order if full coverage is intended. Chunk starts run
    * 1, 1+stride, 1+2·stride, … while ≤ n_tokens, so the final chunk
    * may be short; documents with no tokens emit no chunks.
    *
    * Output: (idCol, chunk_idx, tok_start, n_tok, chunk_text) — 0-based
    * chunk index, 1-based token start, chunk length in tokens, and the
    * space-joined chunk body.
    *
    * Scale shape: a pure narrow map-side explode (tokenize → sequence →
    * posexplode → slice), no shuffle at any corpus size; output row
    * count is ~n_tokens/stride per document.
    */
  def chunkDocuments(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      width: Int,
      stride: Int): org.apache.spark.sql.DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    require(stride > 0, s"stride must be positive, got $stride")
    docs
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) > 0)
      .select(
        col(idCol),
        col("__tk"),
        posexplode(sequence(lit(1), size(col("__tk")), lit(stride)))
          .as(Seq("chunk_idx", "tok_start")))
      .select(
        col(idCol),
        col("chunk_idx"),
        col("tok_start"),
        least(lit(width), size(col("__tk")) - col("tok_start") + 1).as("n_tok"),
        concat_ws(" ", slice(col("__tk"), col("tok_start"), lit(width))).as("chunk_text"))
  }

  /** BPE vocabulary training on the corpus (Sennrich et al. 2016,
    * arXiv:1508.07909 — the learn-a-tokenizer-from-the-data shape):
    * words start as character sequences; each round counts adjacent
    * symbol pairs weighted by word frequency, merges the most frequent
    * pair (ties broken lexicographically on (lhs, rhs) — fully
    * deterministic), and rewrites the vocabulary with greedy
    * left-to-right non-overlapping replacement. Training stops at
    * `nMerges` rounds or when no pair reaches `minPairCount`.
    *
    * Returns the merge table — (merge_rank, lhs, rhs, merged,
    * pair_count) — the artifact a tokenizer consumes.
    *
    * Scale shape: the corpus is scanned ONCE (word-frequency build);
    * every merge round then runs on the WORD table — vocabulary-sized,
    * independent of corpus size — as one pair aggregation + one
    * single-row argmax collect + one rewrite, checkpointed per round so
    * plans stay flat. Symbol sequences are encoded as `<sym>` runs
    * (tokens are [a-z0-9]+, so the brackets can't collide), which makes
    * the merge a plain string replace whose scan-resume semantics equal
    * reference BPE's non-overlapping greedy merge.
    */
  def bpeTrain(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      nMerges: Int,
      minPairCount: Long = 2L,
      batchRounds: Int = 1): org.apache.spark.sql.DataFrame = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    require(batchRounds > 0, s"batchRounds must be positive, got $batchRounds")
    val spark = docs.sparkSession
    var vocab = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("w"), "(.)", "<$1>").as("enc"), col("cnt"))
      .localCheckpoint(true)
    // The word table is VOCABULARY-sized — corpus-independent by
    // construction (the reason merge rounds are cheap at any corpus
    // size) — yet the checkpoint inherits the corpus aggregation's
    // partitioning, so every round's snapshot and rewrite scheduled one
    // task per session shuffle partition over kilobyte blocks. Coalesce
    // the loop's working set to a width derived from the MEASURED word
    // count (~40 B/encoded word, 64 MB target — 1 partition up to ~1.5M
    // words, growing with real vocabularies); the count reads the
    // just-materialized checkpoint. Values are unaffected: counts are
    // exact and the batch pick is a total order.
    vocab = {
      val words = vocab.count()
      vocab.coalesce(Sessions.partitionsFor(words * 40L))
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 1
    var batchIdx = 0
    val nBatches = (nMerges + batchRounds - 1) / batchRounds
    var exhausted = false
    while (batchIdx < nBatches && !exhausted) {
      // one pair-count snapshot per BATCH: with batchRounds = m the
      // corpus-independent word table is scanned nMerges/m times, not
      // nMerges times — the standard stale-counts batching that makes a
      // 32k-merge vocabulary ~32k/m Spark jobs instead of 32k. The
      // batch's merges are chosen from the snapshot in (count desc,
      // lhs, rhs) order and APPLIED SEQUENTIALLY in that rank order, so
      // a later in-batch pair destroyed by an earlier merge simply
      // no-ops its replace — fully deterministic, engine-replayable
      // (the t17 oracle replays the same rule), and ≡ the m=1 form
      // whenever the top-m pairs don't interact. The SCHEDULE is
      // STATIC — exactly ⌈nMerges/m⌉ snapshots, batch i limited to
      // min(m, nMerges − (i−1)·m) — so a data-independent SQL oracle
      // can replay it round for round; a snapshot that comes up short
      // does NOT extend the schedule (its unfilled rank slots lapse —
      // by then the vocabulary is near pair exhaustion anyway).
      val syms = split(regexp_replace(col("enc"), "^<|>$", ""), "><")
      val batch = vocab
        .select(col("cnt"), syms.as("s"))
        .select(col("cnt"), explode(zip_with(
          slice(col("s"), lit(1), greatest(size(col("s")) - 1, lit(0))),
          slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .filter(col("n") >= minPairCount)
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(math.min(batchRounds, nMerges - batchIdx * batchRounds))
        .collect()
      batchIdx += 1
      if (batch.isEmpty) exhausted = true
      else {
        val enc = batch.foldLeft(col("enc")) { (c, row) =>
          val (a, b, n) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((rank, a, b, a + b, n))
          rank += 1
          // symbols are alphanumeric, so the literals need no escaping
          replace(c, lit(s"<$a><$b>"), lit(s"<$a$b>"))
        }
        vocab = vocab.withColumn("enc", enc).localCheckpoint(true)
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** Apply a trained BPE merge table ([[bpeTrain]]'s output) to the
    * corpus — the tokenize step: every document's words are rewritten
    * into subwords by replaying the merges in rank order. Output one row
    * per document with at least one token: (idCol, n_tokens,
    * n_subwords, subword_text) — the space-joined subword stream in
    * document order.
    *
    * Scale shape: the merge table is collected once (driver-side, ≤
    * merge-count rows) and compiled into ONE chained-replace projection;
    * that projection runs over the DISTINCT-WORD table (vocabulary-
    * sized), and documents join their words back by key — the corpus is
    * scanned once for words and once for the join, never per merge
    * round.
    */
  def bpeApply(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      merges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ms = merges.select("merge_rank", "lhs", "rhs").orderBy("merge_rank")
      .collect().map(r => (r.getString(1), r.getString(2)))
    val wordSubs = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .distinct()
      .select(col("w"), bpeSubwords(col("w"), ms.toIndexedSeq).as("__subs"))
    docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("__pos", "w")))
      .join(wordSubs, "w")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(size(col("__subs"))).as("n_subwords"),
        concat_ws(" ", flatten(
          array_sort(collect_list(struct(col("__pos"), col("__subs"))))
            .getField("__subs"))).as("subword_text"))
  }

  /** Word → subword array under a trained merge table. Dispatches to the
    * fused [[graft.functions.BpeEncode]] automaton when the session
    * registers it (all [[graft.Sessions]] sessions): the merge table
    * rides as ONE driver-compiled hash map inside the expression, per-
    * word cost is independent of the merge count, and the plan stays
    * flat at any vocabulary size. The composable fallback replays the
    * merges as a chained `replace` projection over the `<sym>` encoding
    * — bit-identical (ModulesSpec pins parity), but its expression
    * depth grows with the merge count, so it is viable only at toy
    * vocabularies (Catalyst analysis/codegen fail well before a real
    * 32k-merge table).
    */
  private[graft] def bpeSubwords(
      w: org.apache.spark.sql.Column, ms: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (spark.catalog.functionExists("bpe_encode"))
      call_function("bpe_encode", w,
        typedlit(ms.map(_._1)), typedlit(ms.map(_._2)))
    else bpeSubwordsChained(w, ms)
  }

  /** The chained-replace fallback/parity form: rank-ordered full-word
    * replaces over the bracket encoding (`abc` → `<a><b><c>`), split
    * back into symbols at the end.
    */
  private[graft] def bpeSubwordsChained(
      w: org.apache.spark.sql.Column, ms: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val encoded = ms.foldLeft(regexp_replace(w, "(.)", "<$1>")) {
      case (c, (a, b)) => replace(c, lit(s"<$a><$b>"), lit(s"<$a$b>"))
    }
    split(regexp_replace(encoded, "^<|>$", ""), "><")
  }

  /** LM-based document quality scoring (the CCNet signal shape, made
    * engine-exact): a bigram LM is estimated on the corpus itself —
    * conditional counts n12/n1, bigrams pruned below `minCount` — and
    * every document with at least one bigram is scored by
    *  - `coverage`: the fraction of its bigrams the pruned LM knows
    *    (the out-of-vocabulary signal), and
    *  - `score_scaled` / `mean_p10`: the sum / mean of the known
    *    bigrams' conditional probabilities, scaled by 10^10 and
    *    truncated to INTEGERS — ⌊n12·10^10 / n1⌋ per bigram — so the
    *    per-document aggregation is order-independent and bit-identical
    *    across engines (no float accumulation anywhere; the only double
    *    emitted, `coverage`, is one correctly-rounded division of two
    *    exact longs).
    *
    * Low coverage + low mean probability flags boilerplate-free but
    * incoherent text (the docs an n-gram LM finds surprising) — the
    * complement of the rule-based `qualityScore`.
    *
    * Scale shape: two count aggregations build the LM (bigram and
    * unigram conditionals, both mergeable map-side); scoring is one
    * broadcast-or-shuffle join per table keyed on the bigram, then one
    * hash aggregation per document. Nothing is quadratic; the pruned LM
    * is the only state.
    */
  def lmScoreDocs(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long = 3L): org.apache.spark.sql.DataFrame = {
    val tk = tokens(col(textCol))
    val bg = docs
      .select(col(idCol), tk.as("__tk"))
      .select(
        col(idCol),
        explode(zip_with(
          slice(col("__tk"), lit(1), greatest(size(col("__tk")) - 1, lit(0))),
          slice(col("__tk"), lit(2), greatest(size(col("__tk")) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val big = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
      .filter(col("n12") >= minCount)
    val uni = bg.groupBy("w1").agg(count(lit(1)).as("n1"))
    bg
      .join(uni, "w1") // never drops a row: every bigram's w1 is a unigram
      .join(big, Seq("w1", "w2"), "left")
      // decimal intermediate: a corpus-scale stopword bigram can pass
      // 10^9 occurrences, where n12 × 10^10 silently wraps a long; the
      // 38-digit product cannot overflow and `div` lands back in long
      // (the quotient is ≤ 10^10 since n12 ≤ n1)
      .withColumn("__p10", expr("(CAST(n12 AS DECIMAL(38,0)) * 10000000000) div n1"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(col("n12")).as("n_known"),
        coalesce(sum(col("__p10")), lit(0L)).as("score_scaled"))
      .select(
        col(idCol),
        col("n_bigrams"),
        col("n_known"),
        (col("n_known").cast("double") / col("n_bigrams")).as("coverage"),
        col("score_scaled"),
        when(col("n_known") > 0, expr("score_scaled div n_known")).as("mean_p10"))
  }
}

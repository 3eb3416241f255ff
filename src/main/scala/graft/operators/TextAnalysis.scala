package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID (stopword heuristic), quality scoring (length / punctuation
  * / stopword ratios), token counting (whitespace + BPE-ish regex), and
  * document fingerprinting.
  *
  * All pure Column trees over the `documents` table — narrow map-only
  * transforms that stay inside whole-stage codegen and need no shuffle, so
  * they scale linearly with input splits at 100 TB.
  */
object TextAnalysis {

  /** Tiny per-language stopword marker sets for the n-gram/stopword
    * language-ID heuristic. Latin-script markers count with word-boundary
    * regexes; the zh markers are actual CJK function characters (的 是
    * 了 在 和) counted by plain substring occurrence — `\b` never fires
    * around CJK in Java's default regex word model, and romanized
    * tone-numbered pinyin would never appear in real Chinese text. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "las", "una", "y"),
    "zh" -> Seq("的", "是", "了", "在", "和")
  )

  /** Word-boundary occurrence count — zero-width `\b` anchors avoid the
    * consumed-separator undercount of whitespace-delimited patterns
    * ("the the" must count 2). */
  def countMatches(c: Column, word: String): Column =
    size(split(c, s"\\b${java.util.regex.Pattern.quote(word)}\\b", -1)) - 1

  /** Plain substring occurrence count (CJK markers — no word boundaries). */
  def countOccurrences(c: Column, s: String): Column =
    ((length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(s), ""))) / s.length)
      .cast("int")

  private def isLatinWord(w: String): Boolean = w.forall(ch => ch >= 'a' && ch <= 'z')

  /** Score one language: number of marker occurrences. */
  def langScore(text: Column, lang: String): Column =
    langMarkers(lang)
      .map(w => if (isLatinWord(w)) countMatches(text, w) else countOccurrences(text, w))
      .reduce(_ + _)

  /** Argmax CASE chain over ALREADY-PROJECTED score columns; ties break
    * to the first language alphabetically; all-zero → "und". Pass
    * attribute references — the chain references each score ~k times, so
    * inlining the regex-count trees here would multiply the regex work
    * per row k-fold (the expression-in-lambda lesson again). */
  def langIdFromScores(scores: Map[String, Column]): Column = {
    val langs = scores.keys.toSeq.sorted
    val allZero = langs.map(scores).reduce(_ + _) <= 0
    val chain = langs.foldLeft(when(allZero, lit("und"))) { (acc, l) =>
      val isMax = langs.filterNot(_ == l)
        .map(o => scores(l) >= scores(o)).reduce(_ && _)
      acc.when(isMax, lit(l))
    }
    chain.otherwise(lit("und"))
  }

  /** Convenience one-shot form for small frames/tests; frame-scale
    * pipelines should project the scores once and use
    * [[langIdFromScores]] over the attributes. */
  def langId(text: Column): Column = {
    val lowered = lower(text)
    langIdFromScores(langMarkers.keys.toSeq.sorted
      .map(l => l -> langScore(lowered, l)).toMap)
  }

  /** One-time-warn flag for the native-function fallback (same pattern
    * as [[Similarity]]'s). */
  private val warnedNoNative = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Whether `graft_quality_stats` is registered on the active session
    * — true for every [[graft.core.GraftSession]]; plain sessions fall
    * back to the composed regex columns (identical results, ~10 text
    * passes per document instead of two byte walks). */
  private def nativeStatsAvailable: Boolean = nativeFnAvailable("graft_quality_stats")

  private def nativeFnAvailable(name: String): Boolean = {
    val sess = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    sess.forall { s =>
      val ok = s.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
      if (!ok && warnedNoNative.compareAndSet(false, true))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"graft native function '$name' is not registered " +
            "on this SparkSession — falling back to the composed regex " +
            "columns (identical results, slower scan). Register " +
            "graft.functions.GraftExtensions (GraftSession.builder does) " +
            "for the single-pass path.")
      ok
    }
  }

  /** The `graft_quality_stats(text)` struct (n_chars, n_tokens, n_punct,
    * n_stop, n_words — see [[graft.functions.QualityStats]]), or its
    * composed regex twin on sessions without GraftExtensions. Consumers
    * read fields off one shared subtree; projection-level common
    * subexpression elimination computes it once per row. */
  def qualityStats(text: Column): Column =
    if (nativeStatsAvailable) call_function("graft_quality_stats", text)
    else qualityStatsComposed(text)

  /** Composed regex twin of [[qualityStats]] — the spec's reference side
    * (field-by-field parity is QualityStatsSpec's contract) and the
    * fallback for sessions without the native registry. */
  def qualityStatsComposed(text: Column): Column = {
    val lowered = lower(text)
    struct(
      length(text).as("n_chars"),
      size(split(trim(text), "\\s+")).as("n_tokens"),
      (length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", "")))
        .as("n_punct"),
      Seq("the", "and", "of", "to", "a", "in", "is", "it")
        .map(w => countMatches(lowered, w)).reduce(_ + _).as("n_stop"),
      size(filter(split(trim(text), "\\s+"), t => length(t) > 0))
        .as("n_words"))
  }

  /** Whitespace token count: split on runs of whitespace. */
  def tokenCountWs(text: Column): Column =
    if (nativeStatsAvailable) qualityStats(text).getField("n_tokens")
    else size(split(trim(text), "\\s+"))

  /** BPE-ish token count: words, numbers, and single punctuation marks
    * each count as one token (a GPT-2-style pre-tokenizer regex). */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Corpus nonempty-token total — the `nTokens` metadata job the
    * surprise operators take as a literal. Equal to exploding
    * [[graft.operators.Dedup.tokens]] and counting nonempty tokens
    * (lowercasing never maps into or out of ASCII whitespace, so the
    * lowered tokenization has the same word count — QualityStatsSpec
    * pins the equality), but computed as a per-document integer sum in
    * one scan: no explode, no 100×-token-count row stream. */
  def corpusTokenCount(df: DataFrame, text: Column): Long =
    df.select(coalesce(sum(qualityStats(text).getField("n_words").cast("long")),
      lit(0L)).as("n")).head.getLong(0)

  /** Quality-score components (length, punctuation ratio, stopword ratio,
    * mean word length) + a composite 0..1 score. All five columns read
    * fields of one [[qualityStats]] subtree (CSE: one compute per row). */
  def qualityComponents(text: Column): Seq[(String, Column)] = {
    val qs = qualityStats(text)
    val nChars = qs.getField("n_chars")
    val tokens = qs.getField("n_tokens")
    val nPunct = qs.getField("n_punct")
    val stop = qs.getField("n_stop")
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> tokens,
      "punct_ratio" -> round(nPunct.cast("double") / greatest(nChars, lit(1)), 6),
      "stopword_ratio" -> round(stop.cast("double") / greatest(tokens, lit(1)), 6),
      "mean_word_len" -> round(nChars.cast("double") / greatest(tokens, lit(1)), 6)
    )
  }

  /** Composite quality score in [0,1] from already-projected component
    * columns (attributes — see [[langIdFromScores]] note): inside-range
    * length + sane punctuation + nonzero stopwords (C4-style). */
  def qualityScoreFrom(nChars: Column, punctRatio: Column,
                       stopwordRatio: Column): Column = {
    val lenOk = (nChars >= 50 && nChars <= 10000).cast("int")
    val punctOk = (punctRatio <= 0.2).cast("int")
    val stopOk = (stopwordRatio > 0).cast("int")
    round((lenOk + punctOk + stopOk).cast("double") / 3.0, 6)
  }

  /** One-shot convenience form (small frames/tests). */
  def qualityScore(text: Column): Column = {
    val comp = qualityComponents(text).toMap
    qualityScoreFrom(comp("n_chars"), comp("punct_ratio"), comp("stopword_ratio"))
  }

  /** C4 line-level cleaning (Raffel et al. '20 §2.2): keep only lines
    * that (a) end in terminal punctuation, (b) carry ≥ `minWords`
    * whitespace words, and (c) don't mention a boilerplate marker
    * (javascript / cookie / lorem ipsum — the published list's
    * replayable core). `lines` must be an `array<string>` column (the
    * document's line split; web corpora use `split(text, '\n')`).
    * Returns (idCol, n_lines, n_kept, cleaned_text) with kept lines
    * rejoined by newline. A per-row narrow map — the lambdas are
    * doc-local, zero shuffle at any corpus scale. */
  def lineFilterC4(df: DataFrame, idCol: String, lines: Column,
                   minWords: Int = 5): DataFrame = {
    val kept = filter(lines, l =>
      size(split(trim(l), "\\s+")) >= minWords &&
        l.rlike("[.!?\"]$") &&
        !lower(l).rlike("javascript|cookie|lorem ipsum"))
    df.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, "\n").as("cleaned_text"))
  }

  /** PII masking regexes (Dolma/Pile-style pre-training hygiene) — a
    * deliberately PORTABLE subset (plain classes, `\b`, bounded repeats)
    * that means the same thing to Java regex (Spark codegen'd
    * `regexp_*`) and RE2 (oracle replay), validated cross-engine in the
    * `q_pii_redact` gate. High-recall-by-design, as the published
    * pipelines run them: over-masking a rare false positive is free,
    * leaking real PII is not. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Per-category PII counts + masked text: emails → `|||EMAIL|||`,
    * phone numbers → `|||PHONE|||`, IPv4 literals → `|||IP|||` (the
    * Dolma marker convention). Counts are measured per category on the
    * ORIGINAL text (independent, not sequential); masking applies
    * email → phone → ip, safe because the markers contain no digits for
    * a later pattern to re-match. A narrow per-row map — codegen'd
    * `regexp_count`/`regexp_replace`, no shuffle at any corpus scale. */
  def piiRedact(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.select(col(idCol),
      regexp_count(text, lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(text, lit(PhoneRe)).cast("long").as("n_phone"),
      regexp_count(text, lit(Ipv4Re)).cast("long").as("n_ip"),
      regexp_replace(
        regexp_replace(
          regexp_replace(text, EmailRe, "|||EMAIL|||"),
          PhoneRe, "|||PHONE|||"),
        Ipv4Re, "|||IP|||").as("redacted_text"))

  /** Deterministic 64-bit document fingerprint: xxhash64 of
    * whitespace-normalized, lowercased text (rolling-hash analog). */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Engine-portable fingerprint: md5 hex of the same normalization —
    * reproducible from any SQL engine (the oracle path). */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
    * scheme — the literal rolling-hash document fingerprint): hash every
    * k-char shingle of the normalized text, slide a window of w hashes,
    * keep each window's minimum; the distinct selected minima are the
    * document's fingerprint set. Guarantee: any verbatim match of length
    * ≥ w + k − 1 chars between two documents shares at least one
    * fingerprint, so shared-fingerprint pairs are the candidate set for
    * partial-duplicate (not just whole-doc) detection.
    *
    * Staged as three projections so every lambda reads an ATTRIBUTE —
    * referencing the gram-hash array from inside the window lambda would
    * re-derive it per window (the O(n²) codegen trap, SCALE.md). Each
    * stage is a narrow map; the only shuffle is whatever the caller
    * aggregates afterwards. `hashFn` as in [[graft.operators.Dedup]]:
    * xxhash64 at scale, md5-hex for engine-portable oracles. */
  def winnowingFingerprints(df: DataFrame, idCol: String, text: Column,
                            k: Int, w: Int,
                            hashFn: Column => Column = c => xxhash64(c)): DataFrame = {
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    df.select(col(idCol).as("id"), norm.as("__n"))
      .select(col("id"),
        transform(
          sequence(lit(1), greatest(length(col("__n")) - (k - 1), lit(1))),
          i => hashFn(col("__n").substr(i, lit(k)))).as("__h"))
      .select(col("id"),
        array_distinct(transform(
          sequence(lit(0), greatest(size(col("__h")) - w, lit(0))),
          i => array_min(slice(col("__h"), i + lit(1), lit(w))))).as("fps"))
  }

  /** Winnowing over the fully fused native expression
    * (`graft_winnow_fps`, [[graft.functions.WinnowFps]]): identical
    * selection to [[winnowingFingerprints]] — same rolling polynomial as
    * `graft_rolling_shingle_hash`, same window-min + first-occurrence
    * distinct — but hash walk, monotonic-deque window minima, and
    * primitive distinct set run as ONE codegen call per row. The
    * composed form it replaces paid an interpreted higher-order
    * `transform`/`slice`/`array_min` per window (HOFs sit outside
    * whole-stage codegen) plus the materialized intermediate hash array;
    * the fused↔composed equivalence is order-exact-pinned in
    * `OperatorsSpec`, and the win is measured in SCALE.md (requires
    * `GraftExtensions`). */
  def winnowingFingerprintsRolling(df: DataFrame, idCol: String, text: Column,
                                   k: Int, w: Int): DataFrame = {
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    df.select(col(idCol).as("id"),
      call_function("graft_winnow_fps", norm, lit(k), lit(w)).as("fps"))
  }

  /** All word n-grams WITH duplicates from a token-array attribute —
    * occurrence counting needs the multiset, unlike Dedup's distinct
    * shingle sets. */
  def allNgrams(toksCol: Column, n: Int): Column =
    filter(
      transform(toksCol, (_, i) =>
        when(i + n <= size(toksCol), array_join(slice(toksCol, i + 1, lit(n)), " "))),
      x => x.isNotNull)

  /** Repetition ratio (Gopher/C4-style boilerplate signal): the fraction
    * of a document's n-gram OCCURRENCES taken by its single most frequent
    * n-gram; near-1 means looping/boilerplate text. `allG` must be a
    * projected attribute holding [[allNgrams]] — the count scan
    * references it per distinct gram, so an inline tree would rebuild
    * the gram array O(grams) times per row. Returns 0 for docs shorter
    * than n tokens. Pure array expressions, no shuffle. */
  def repetitionRatioFromGrams(allG: Column): Column = {
    val maxCount = aggregate(
      array_distinct(allG), lit(0),
      (best, g) => greatest(best, size(filter(allG, x => x === g))))
    when(size(allG) === 0, lit(0.0))
      .otherwise(round(maxCount.cast("double") / size(allG), 6))
  }

  /** Frame-scale repetition ratios: explode grams → count per (doc,
    * gram) → max/sum per doc, with gram-less docs restored as 0.0. Two
    * map-side-combinable hash aggregations over tiny (id, gram) rows —
    * linear where the array-local [[repetitionRatioFromGrams]] is
    * O(grams²) per document (fine for one row, 4.5 s vs 0.6 s over 5 k
    * docs at sf0.1). Returns (idCol, rep_ratio). */
  def repetitionRatios(df: org.apache.spark.sql.DataFrame, idCol: String,
                       text: Column, n: Int): org.apache.spark.sql.DataFrame =
    if (nativeFnAvailable("graft_repetition_stats")) {
      // doc-local: every gram of the normalized text is a byte span;
      // graft_repetition_stats counts EXACT grams per row (byte-equality
      // map — no hash-collision regime), so the two corpus-gram-sized
      // shuffles of the frame-scale shape below vanish entirely
      val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
      df.select(col(idCol),
          call_function("graft_repetition_stats", norm, lit(n)).as("__rs"))
        .select(col(idCol),
          when(col("__rs.n_grams") === 0 || col("__rs").isNull, lit(0.0))
            .otherwise(round(col("__rs.max_c").cast("double") /
              col("__rs.n_grams"), 6)).as("rep_ratio"))
    } else repetitionRatiosShuffled(df, idCol, text, n)

  /** The frame-scale shuffled reference for [[repetitionRatios]] —
    * explode grams, hash-aggregate (doc, gram) then (doc). Kept as the
    * equivalence oracle for the spec and the no-extensions fallback. */
  def repetitionRatiosShuffled(df: org.apache.spark.sql.DataFrame, idCol: String,
                               text: Column, n: Int): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), Dedup.tokens(text).as("__t"))
    val grams = toks.select(col(idCol), explode(allNgrams(col("__t"), n)).as("__g"))
    val counts = grams.groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__c"))
    val ratios = counts.groupBy(col(idCol))
      .agg(round(max(col("__c")).cast("double") / sum(col("__c")), 6).as("__r"))
    df.select(col(idCol))
      .join(ratios, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__r"), lit(0.0)).as("rep_ratio"))
  }

  /** Top-k characteristic terms per document by TF-IDF, with the RAW idf
    * variant (N/df, no logarithm) — deliberately: tf, N, and df are
    * integers, so `tf·N/df` is one correctly-rounded IEEE division and
    * every engine produces the bit-identical score, whereas `ln` is only
    * 1-ulp-accurate and can flip near-tie rankings across engines.
    * Monotone in the classic score for fixed tf, and fully
    * oracle-checkable. Swap `ln(N/df)` in where cross-engine parity
    * doesn't matter.
    *
    * Shape: explode → two hash aggregations (tf per (doc, term), df per
    * term — both map-side combinable) → broadcast-friendly join on term
    * → per-doc top-k window (partitioned by doc: parallel, no global
    * sort). `nDocs` is passed by the caller (a metadata count) so the
    * operator stays a pure transform. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, text: Column, k: Int,
                    nDocs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol), explode(Dedup.tokens(text)).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(col(idCol), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("term"))
      .withColumn("tfidf", round(col("tf") * lit(nDocs.toDouble) / col("df"), 6))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .select(col(idCol), col("term"), col("tfidf"), col("term_rank"))
  }

  /** Corpus-scale BPE pair statistics — the counting step of tokenizer
    * training (Sennrich et al. '16): every word's adjacent character
    * pairs, weighted by word frequency; the top pair is the next merge
    * a BPE trainer would apply. Two shuffles, both small: words
    * aggregate to the VOCABULARY (not the corpus — map-side combine
    * collapses repeats before the exchange), pairs aggregate to the
    * alphabet², trivially. Corpus text itself never shuffles. */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val words = df
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    words
      .select(col("wc"), explode(
        transform(sequence(lit(1), length(col("word")) - 1),
          i => struct(col("word").substr(i, lit(1)).as("l"),
                      col("word").substr(i + 1, lit(1)).as("r")))).as("p"))
      .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
      .agg(sum(col("wc")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("left_sym").asc, col("right_sym").asc)
      .limit(k)
  }

  /** Apply one BPE merge to a symbol sequence: every adjacent (l, r)
    * becomes l+r, left-to-right, non-overlapping (Sennrich et al. '16). */
  private[graft] def mergeSyms(syms: Array[String], l: String,
                               r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    while (j < syms.length) {
      if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
        out += (l + r); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toArray
  }

  /** The full BPE merge LOOP — tokenizer training, not just the counting
    * step (round-7 verdict next-round #6; Sennrich, Haddow, Birch:
    * "Neural Machine Translation of Rare Words with Subword Units", ACL
    * 2016). Words symbolize to characters + a final `</w>` marker; each
    * iteration counts adjacent symbol pairs weighted by word frequency,
    * merges the argmax (count desc, then left/right symbol asc — fully
    * deterministic), and rewrites the vocabulary. Returns one row per
    * merge: `(merge_rank, left_sym, right_sym, pair_count)`.
    *
    * Scale shape: the ONLY corpus-sized job is the word-frequency
    * aggregation (map-side combine collapses repeats before the
    * exchange — exactly [[bpePairCounts]]'s discipline). The loop state
    * is the symbolized VOCABULARY — driver-side, vocab-sized (capped at
    * `maxVocab` by frequency rank), never the corpus — and each
    * iteration's pair count runs as a Spark job over the parallelized
    * vocabulary, so a million-type vocab still counts distributed. This
    * is how production BPE trainers work: GPT-2's trains on the
    * word-count table, not raw text. */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int,
               maxVocab: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    val wordFreq = df
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .orderBy(col("wc").desc, col("word").asc)
      .limit(maxVocab)
      .as[(String, Long)].collect()
    var vocab: Array[(Array[String], Long)] =
      wordFreq.map { case (w, c) => (w.map(_.toString).toArray :+ "</w>", c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val vdf = spark.createDataset(vocab.toSeq.map { case (s, c) => (s.toSeq, c) })
        .toDF("syms", "wc")
      val top = vdf.filter(size(col("syms")) >= 2)
        .select(col("wc"), explode(
          transform(sequence(lit(1), size(col("syms")) - 1),
            j => struct(element_at(col("syms"), j).as("l"),
                        element_at(col("syms"), j + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((i, l, r, cnt))
        vocab = vocab.map { case (syms, wc) => (mergeSyms(syms, l, r), wc) }
        i += 1
      }
    }
    merges.toSeq.toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** Compression-ratio quality signal (CCNet/RedPajama lineage): per
    * doc, raw UTF-8 bytes over zlib-compressed bytes via the native
    * codegen'd `graft_deflate_len` ([[graft.functions.DeflateLen]]).
    * High ratio → boilerplate/templates/stuffing (deflate's LZ77 window
    * catches long-range verbatim repeats fixed-n gram statistics miss);
    * ratio ≈ 1 → already-compressed or random bytes. Narrow map, no
    * shuffle; cost ∝ corpus bytes — the cheapest long-range-repetition
    * detector available. Unit-pinned against CPython-zlib constants
    * (cross-engine); SQL engines expose no deflate, so no oracle gate. */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        octet_length(col(textCol)).cast("long").as("n_bytes"),
        call_function("graft_deflate_len", col(textCol)).as("deflate_bytes"))
      .withColumn("compress_ratio",
        round(col("n_bytes").cast("double") /
          greatest(col("deflate_bytes"), lit(1L)), 6))

  /** BPE ENCODE — apply a trained merge list (in rank order) to the
    * corpus, completing the tokenizer loop [[bpeTrain]] starts: per
    * word, symbols start as characters + `</w>` and each merge rewrites
    * every adjacent (l, r) to l+r greedy-left (Sennrich et al. '16 —
    * applying merges in learned rank order is the canonical encoder;
    * GPT-2's lowest-rank-first runtime computes the same segmentation).
    * Returns `(id, bpe_tokens, n_bpe_tokens)` — the real token count a
    * packing/budgeting stage wants, vs the whitespace proxy.
    *
    * Runs as the native [[graft.functions.BpeEncode]] Expression: per
    * word, a tight Scala scan applies each merge via the trainer's own
    * `mergeSyms` (encode ≡ train replay by construction — pinned
    * exhaustively in the spec), and the merge table rides into the
    * generated code as a reference object, so an arbitrary-size
    * production vocabulary costs one array walk per merge instead of
    * one Catalyst expression-tree level per merge. The nested
    * `aggregate()` fold this replaces executed entirely in the
    * expression interpreter — measured 146 s over 500 k docs at the
    * 100× rung (and degrading further in aged JVMs); the native scan
    * removes the interpreter from the hot path while keeping the
    * whole-stage-codegen span intact. No shuffle, no UDF, cost ∝
    * corpus tokens × merges; output unchanged (the DuckDB
    * marker-wrapped replace oracle replays it bit-for-bit). */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    require(merges.forall { case (l, r) => l.nonEmpty && r.nonEmpty },
      "BPE merge symbols must be non-empty")
    df.select(col(idCol),
        call_function("graft_bpe_encode", col(textCol),
          lit(graft.functions.BpeEncode.pack(merges))).as("bpe_tokens"))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")).cast("long"))
  }

  /** Overlapping token-window chunking — the standard document→chunk
    * step before embedding/indexing (RAG ingestion, context packing):
    * whitespace tokens in windows of `window` tokens every `stride`
    * (stride < window ⇒ overlap carries context across cuts). One row
    * per chunk: `(id, chunk_id, start_tok, n_toks, chunk_text)`. Every
    * doc yields ≥1 chunk (a short doc is one short chunk); the last
    * chunk may be shorter than `window`. A narrow generate-and-explode
    * over the token array — per-doc work ∝ tokens, no shuffle, stays
    * inside whole-stage codegen. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    df.withColumn("__toks", split(trim(col(textCol)), "\\s+"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__starts", sequence(lit(0),
        ceil(greatest(col("__n") - window, lit(0)).cast("double") / stride)
          .cast("int")))
      .select(col(idCol), col("__toks"), col("__n"),
        posexplode(col("__starts")).as(Seq("chunk_id", "__i")))
      .select(col(idCol), col("chunk_id"),
        (col("__i") * stride).cast("long").as("start_tok"),
        least(lit(window), col("__n") - col("__i") * stride).cast("long")
          .as("n_toks"),
        array_join(slice(col("__toks"), col("__i") * stride + 1, lit(window)), " ")
          .as("chunk_text"))
  }

  /** CCNet-style language-model quality signal (Wenzek et al. '20 score
    * documents by KenLM perplexity; this is the portable UNIGRAM form —
    * the same "how surprising is this document under the corpus
    * distribution" decision, exactly replayable): each document's mean
    * token surprise −ln p(tok) under the corpus unigram distribution.
    * High surprise = rare-token soup (gibberish, OCR noise,
    * wrong-language fragments); unusually low = boilerplate. The
    * standard curation move is dropping both tails.
    *
    * DETERMINISM ACROSS ENGINES: transcendentals are the only
    * non-portable float ops (ln differs in final ulps between libm
    * implementations), so the per-token cost is computed ONCE per
    * distinct token and immediately rounded to integer MICRO-NATS
    * (`round(1e6 · ln(N/cnt))` — a boundary flip needs two engines' ln
    * within ~1e-9 of the same half-integer, vanishing in practice).
    * Every aggregation after that is exact integer arithmetic; the
    * output path's only float ops are one exact division chain and the
    * final 6-decimal round.
    *
    * Shape: explode → token-frequency agg (map-side combine, shuffle ∝
    * VOCABULARY) → tokens⋈cost join (broadcast-friendly: cost is
    * vocab-sized) → per-doc integer sum. `nTokens` is the corpus token
    * count, passed by the caller (a metadata count) so the operator
    * stays a pure transform. */
  def unigramSurprise(df: DataFrame, idCol: String, text: Column,
                      nTokens: Long): DataFrame = {
    require(nTokens > 0, s"nTokens must be positive, got $nTokens")
    val toks = df.select(col(idCol), explode(Dedup.tokens(text)).as("tok"))
      .filter(length(col("tok")) > 0)
    // Pre-aggregate to (doc, tok, count) before anything shuffles: the
    // raw token stream is ~3-5× the distinct per-doc vocabulary on
    // natural text (map-side combine collapses within-doc repeats
    // before the exchange), so the corpus-frequency agg, the cost
    // join, and the per-doc sum all process (doc,tok) rows instead of
    // every token occurrence. Integer-exact: Σ c·micro_nats over
    // (doc,tok) groups ≡ Σ micro_nats over tokens.
    val docTok = toks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("__c"))
    val cost = docTok.groupBy(col("tok")).agg(sum(col("__c")).as("cnt"))
      .withColumn("micro_nats",
        round(lit(1e6) * log(lit(nTokens.toDouble) / col("cnt"))).cast("long"))
    docTok.join(cost.select(col("tok"), col("micro_nats")), Seq("tok"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).as("n_tokens"),
        sum(col("__c") * col("micro_nats")).as("surprise_micro"))
      .withColumn("mean_surprise",
        round(col("surprise_micro").cast("double") / col("n_tokens") / lit(1e6), 6))
  }

  /** Interpolated BIGRAM LM surprise — one rung up the CCNet ladder from
    * [[unigramSurprise]] toward the real KenLM decision: each token after
    * the first is scored −ln p̂(tok | prev) under the Jelinek–Mercer
    * mixture p̂ = ½·(c(prev,tok)/c(prev)) + ½·(c(tok)/N); the first token
    * falls back to its unigram surprise. Catches word-salad whose
    * UNIGRAMS are all common ("the of and a is …" scores low under a
    * unigram LM, high here).
    *
    * Context counts use the plain unigram count of `prev` (not
    * "occurrences followed by something") — replayable, and the
    * difference is one count per document-final token.
    *
    * DETERMINISM: same integer micro-nat regime as [[unigramSurprise]];
    * the mixture inside ln is fixed-shape double arithmetic
    * (½·(a/b) + ½·(c/d), identical parenthesization in the SQL oracle),
    * rounded to integer micro-nats once per distinct bigram. All
    * aggregation after is exact.
    *
    * Shape: bigram explode → (prev,tok) count agg (map-side combine,
    * shuffle ∝ distinct bigrams) → cost join (cost table ∝ observed
    * bigram vocabulary — broadcastable far beyond this sf; a shuffle
    * join on the same keys at 100 TB) → per-doc integer sum. */
  def bigramSurprise(df: DataFrame, idCol: String, text: Column,
                     nTokens: Long): DataFrame = {
    require(nTokens > 0, s"nTokens must be positive, got $nTokens")
    val toks = df.select(col(idCol), Dedup.tokens(text).as("__w"))
    val uni = toks.select(explode(col("__w")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("__c_t"))
    val uniCost = uni.withColumn("__micro_uni",
      round(lit(1e6) * log(lit(nTokens.toDouble) / col("__c_t"))).cast("long"))
    val bigrams = toks.select(col(idCol),
      explode(filter(transform(col("__w"), (_, i) =>
        when(i >= 1, struct(element_at(col("__w"), i).as("prev"),
          element_at(col("__w"), i + 1).as("tok")))),
        x => x.isNotNull)).as("__bg"))
      .select(col(idCol), col("__bg.prev").as("prev"), col("__bg.tok").as("tok"))
    // NOTE: no (doc, prev, tok) pre-agg here, deliberately — unlike
    // unigrams, bigrams rarely repeat within a document (measured at
    // the 100× rung: the pre-agg variant of this operator added a full
    // occurrence-sized shuffle with almost no row reduction and ran
    // 1.5× slower), so the cost join consumes the occurrence stream
    // directly as before.
    val biCost = bigrams.groupBy(col("prev"), col("tok"))
      .agg(count(lit(1)).as("__c_bt"))
      .join(uni.select(col("tok").as("prev"), col("__c_t").as("__c_prev")), Seq("prev"))
      .join(uni, Seq("tok"))
      .withColumn("__micro_bi",
        round(lit(-1e6) * log(
          lit(0.5) * (col("__c_bt").cast("double") / col("__c_prev")) +
            lit(0.5) * (col("__c_t").cast("double") / lit(nTokens.toDouble))))
          .cast("long"))
      .select(col("prev"), col("tok"), col("__micro_bi"))
    // Round-16 (#10 retest, guide §3.1/§3.2 "pick the strategy
    // deliberately"): the cost join was the operator's dominant stage —
    // the occurrence stream met the cost table in a shuffle join, and
    // the cost table's lineage (explode + vocab agg + two uni joins)
    // re-evaluated the corpus explode a second time. The cost table is
    // the OBSERVED bigram vocabulary, which the planner cannot size from
    // estimates but the operator can measure exactly: persist + count
    // (one job; the count fills the cache, so the join side never
    // re-derives the lineage), then BROADCAST it when it is provably
    // small — measured at the 100× rung: vocabulary 93,100 rows ≈ 3 MB,
    // end-to-end 22.5 → 12.4–15.9 s. Above the bound (a genuinely open
    // vocabulary at corpus scale) the shuffle join stands, minus the
    // duplicate lineage (the persisted table is computed once either
    // way); 4M rows ≈ a ~160 MB broadcast, inside §3.1's comfort band.
    // nTokens (an input the caller already computed) bounds the bigram
    // vocabulary, so a small corpus broadcasts with NO extra job; only a
    // corpus whose token count leaves the question open pays the
    // persist+count probe. That persist is registered in the bounded
    // sliver FIFO ([[graft.core.SliverCache]]), so it is reclaimed by
    // eviction or a session clear instead of pinned for the session.
    val MaxBroadcastVocab = 4000000L
    val costSide =
      if (nTokens <= MaxBroadcastVocab) broadcast(biCost)
      else {
        val biCostP = graft.core.SliverCache.persistBounded(biCost)
        if (biCostP.count() <= MaxBroadcastVocab) broadcast(biCostP) else biCostP
      }
    val docBi = bigrams.join(costSide, Seq("prev", "tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_bi"), sum(col("__micro_bi")).as("__sum_bi"))
    val docFirst = toks
      .select(col(idCol), element_at(col("__w"), 1).as("tok"))
      .filter(length(col("tok")) > 0)
      .join(uniCost.select(col("tok"), col("__micro_uni")), Seq("tok"))
      .select(col(idCol), col("__micro_uni"))
    docFirst.join(docBi, Seq(idCol), "left")
      .select(col(idCol),
        (coalesce(col("__n_bi"), lit(0L)) + 1L).as("n_tokens"),
        (col("__micro_uni") + coalesce(col("__sum_bi"), lit(0L))).as("surprise_micro"))
      .withColumn("mean_surprise",
        round(col("surprise_micro").cast("double") / col("n_tokens") / lit(1e6), 6))
  }

  /** Gopher's "duplicate n-gram coverage" repetition signal (Rae et al.
    * '21 table A1; stricter than [[repetitionRatios]]' top-gram share):
    * for each n the FRACTION OF TOKEN POSITIONS covered by n-grams that
    * occur ≥2 times within the document. Boilerplate/looped text scores
    * near 1 even when no single gram dominates — the case the top-gram
    * ratio misses.
    *
    * Shape per n: one gram projection (positions are original token
    * indexes — the null-filter only trims the tail), a hash-aggregate on
    * (id, gram-hash) with map-side combine, a distinct over (id,
    * position) ints, and a per-doc count — shuffles carry 8-byte hashes
    * and int positions, never gram text (xxhash64; a within-doc 64-bit
    * collision merging two distinct grams is ~2⁻⁶⁴ per pair and would
    * only matter if it flipped a count past the ≥2 threshold). Linear
    * in corpus size; nothing global. */
  def repeatedNgramCoverage(df: DataFrame, idCol: String, text: Column,
                            ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 2), s"need n >= 2, got $ns")
    // Round-10: the signal is doc-local, so it no longer leaves the row —
    // `graft_ngram_coverage` computes each doc's covered-position count
    // in one native codegen call ([[graft.functions.NgramCoverage]]):
    // a narrow map with ZERO shuffle at any corpus scale, replacing the
    // exploded three-shuffle-per-n aggregation below
    // ([[repeatedNgramCoverageShuffled]], kept as the spec-pinned
    // frame-scale reference).
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    val base = df.select(col(idCol), size(Dedup.tokens(text)).as("__n_toks"),
      norm.as("__norm"))
    base.select(
      col(idCol) +: col("__n_toks").cast("long").as("n_toks") +:
        ns.map(n => round(
          call_function("graft_ngram_coverage", col("__norm"), lit(n)).cast("double") /
            greatest(col("__n_toks"), lit(1)), 6).as(s"cov$n")): _*)
  }

  /** The frame-scale shuffled reference for [[repeatedNgramCoverage]] —
    * explode gram occurrences, hash-aggregate (doc, gram-hash),
    * re-explode covered positions, distinct, count. Shuffles carry only
    * hashes and int positions, but there are three of them per n and
    * their row count is ∝ corpus grams; the per-row native path needs
    * none. Kept as the equivalence oracle for the spec. */
  def repeatedNgramCoverageShuffled(df: DataFrame, idCol: String, text: Column,
                                    ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 2), s"need n >= 2, got $ns")
    val toks = df.select(col(idCol), Dedup.tokens(text).as("__w"))
      .withColumn("__n_toks", size(col("__w")))
    val perN = ns.map { n =>
      val grams = toks.select(col(idCol),
        posexplode(filter(transform(col("__w"), (_, i) =>
          when(i + n <= size(col("__w")),
            xxhash64(array_join(slice(col("__w"), i + 1, lit(n)), " ")))),
          x => x.isNotNull)).as(Seq("__start", "__h")))
      grams.groupBy(col(idCol), col("__h"))
        .agg(collect_list(col("__start")).as("__starts"))
        .filter(size(col("__starts")) >= 2)
        .select(col(idCol), explode(col("__starts")).as("__s"))
        .select(col(idCol), explode(sequence(col("__s"), col("__s") + (n - 1))).as("__p"))
        .distinct()
        .groupBy(col(idCol)).agg(count(lit(1)).as(s"__cov$n"))
    }
    val base = toks.select(col(idCol), col("__n_toks"))
    val joined = perN.foldLeft(base)((acc, c) => acc.join(c, Seq(idCol), "left"))
    joined.select(
      col(idCol) +: col("__n_toks").cast("long").as("n_toks") +:
        ns.map(n => round(
          coalesce(col(s"__cov$n"), lit(0)).cast("double") /
            greatest(col("__n_toks"), lit(1)), 6).as(s"cov$n")): _*)
  }

  /** Character-level Shannon entropy in nats — the cheap gibberish /
    * binary-spill / single-char-run detector (keysmash and base64 blobs
    * sit far from natural-language entropy in either direction). Same
    * cross-engine determinism treatment as [[unigramSurprise]]: the only
    * transcendental (ln) is computed once per distinct (doc, char) and
    * immediately rounded to integer micro-nats; everything after is
    * exact integer arithmetic. H = Σ (c/N)·ln(N/c) over per-char counts
    * c, total chars N.
    *
    * Shape: char explode → (id, char) hash-aggregate (map-side combine;
    * keyspace ≤ docs × alphabet) → per-doc integer sum. Linear, no text
    * in shuffles beyond single chars. */
  def charEntropy(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val chars = df
      .select(col(idCol), length(text).as("__len"), explode(split(text, "")).as("__ch"))
      .filter(length(col("__ch")) > 0)
    val perChar = chars.groupBy(col(idCol), col("__ch"))
      .agg(max(col("__len")).as("__len"), count(lit(1)).as("__c"))
      .withColumn("__micro",
        col("__c") * round(lit(1e6) *
          log(col("__len").cast("double") / col("__c"))).cast("long"))
    val ent = perChar.groupBy(col(idCol)).agg(
      max(col("__len")).cast("long").as("n_chars"),
      sum(col("__micro")).as("__sum"))
      .withColumn("entropy",
        round(col("__sum").cast("double") / col("n_chars") / lit(1e6), 6))
      .select(col(idCol), col("n_chars"), col("entropy"))
    // restore zero-length docs (dropped by the char filter) as entropy 0
    df.select(col(idCol)).join(ent, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("entropy"), lit(0.0)).as("entropy"))
  }

  /** Exact discrete percentile by rank — the ceil(p·n)-th smallest value
    * of `valueCol`, as a one-row frame named `outName`. This is the
    * engine-replayable twin of `percentile_approx` for DATA-DERIVED gate
    * thresholds (real corpora drift, so production gates calibrate their
    * cutoffs from the corpus instead of freezing constants): the selected
    * value is an actual observed datum, so duplicate-value tie order
    * cannot change the result, and identical double arithmetic for
    * ceil(p·n) makes Spark and a SQL oracle pick the same rank.
    *
    * Shape: one global row_number window over the (tiny, per-doc) signal
    * frame — fine up to millions of docs; at 100 TB calibrate on a
    * sampled slice or switch to `percentile_approx` (the KLL/GK sketch —
    * no global sort), which the unit spec pins against this exact path
    * within the sketch's accuracy bound. */
  def rankQuantile(df: DataFrame, valueCol: Column, p: Double,
                   outName: String): DataFrame = {
    require(p > 0 && p <= 1, s"p must be in (0, 1], got $p")
    import org.apache.spark.sql.expressions.Window
    df.select(valueCol.as("__v"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("__rn", row_number().over(Window.orderBy(col("__v"))))
      .filter(col("__rn") === ceil(col("__n") * lit(p)).cast("long"))
      .select(col("__v").as(outName))
  }

  /** PRODUCTION threshold derivation — every requested cutoff in ONE
    * partial/merge aggregate pass over `df` via `percentile_approx`
    * (the KLL/GK sketch): no global window, no single-task sort, so the
    * plan survives 10⁹-row signal frames where [[rankQuantile]]'s
    * row_number window serializes. When `accuracy ≥ count(df)` the
    * sketch stores every sample and its query rule selects exactly the
    * ceil(p·n)-th datum — i.e. it EQUALS [[rankQuantile]] (probed and
    * oracle-gated, `q_gate_thresholds_approx`); beyond that the rank
    * error is the documented ±n/accuracy. `specs` = (value, p, name)
    * per cutoff; returns one row. */
  def approxQuantileAgg(df: DataFrame, specs: Seq[(Column, Double, String)],
                        accuracy: Int = 10000): DataFrame = {
    require(specs.nonEmpty, "approxQuantileAgg needs at least one cutoff")
    require(specs.forall { case (_, p, _) => p > 0 && p <= 1 },
      "percentiles must be in (0, 1]")
    val aggs = specs.map { case (c, p, n) =>
      percentile_approx(c, lit(p), lit(accuracy)).as(n)
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** C4-style chunk dedup APPLY — the rewrite step after
    * [[graft.Dedup]]-style chunk detection: every duplicated 8-token
    * chunk keeps exactly ONE occurrence corpus-wide (first by (doc, chunk
    * index) — deterministic) and every other occurrence is dropped from
    * its document's text. Returns one row per doc: the rebuilt text plus
    * kept/total chunk counts.
    *
    * Scale shape: chunk hashes (md5, matching the detection operator's
    * regime) shuffle for the keeper window — partitioned BY HASH, so the
    * key space is the chunk universe, never skewed by doc size; the
    * winners shuffle back as (doc, int index) pairs only. The
    * chunk-EXPLODED rows (≈ a full copy of the corpus text as chunk
    * strings) never enter an exchange — only their md5 + int index do.
    * The final doc-level join moves each document's token array at most
    * once (zero when the kept-index frame broadcasts), the same cost as
    * any per-doc enrichment join; cleaned text is rebuilt from the
    * document's own token array at the final projection. */
  /** CCNet-style BOILERPLATE strip — the frequency twin of
    * [[chunkDedupApply]] and the missing half of line-level dedup
    * (Wenzek et al. '20 drop lines duplicated across documents; Penedo
    * et al. '23 RefinedWeb §3.2 likewise): an 8-token chunk that appears
    * in `minDocs` OR MORE DISTINCT documents is boilerplate (headers,
    * footers, navigation, legal notices) and is dropped from EVERY
    * document — including the first, which is what separates this from
    * dedup's keep-one-copy rule (a cookie banner in 40 k docs should
    * survive in zero of them, not one).
    *
    * Scale shape: chunk text never enters an exchange — the frequency
    * count shuffles (md5, doc_id) pairs only, with a map-side distinct
    * (within-doc repeats of a chunk count once). The flagged set is the
    * frequent-chunk vocabulary — bounded by corpus_chunks / minDocs and
    * in practice tiny (boilerplate is by definition few distinct strings
    * repeated massively) — and broadcasts to an anti join, so the
    * per-doc rebuild is one partition-local pass. The skewed key danger
    * of a popular chunk hash never materializes: frequency counting is
    * a map-side-combined count, not a pair join. */
  def boilerplateStrip(df: DataFrame, idCol: String, textCol: String,
                       window: Int = 8, minDocs: Int = 20): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(minDocs > 1, s"minDocs must be > 1, got $minDocs")
    val toks = df.select(col(idCol), Dedup.tokens(col(textCol)).as("__w"))
    // size>0 guard: sequence(0, -1) steps DOWNWARD on an empty token
    // array (same hazard [[chunkDedupApply]] documents)
    val chunks = toks.filter(size(col("__w")) > 0).select(col(idCol),
      posexplode(transform(
        sequence(lit(0),
          (ceil(size(col("__w")).cast("double") / window) - 1).cast("int")),
        i => md5(array_join(slice(col("__w"), i * window + 1, lit(window)), " "))))
        .as(Seq("__idx", "__h")))
    val boiler = chunks.select(col("__h"), col(idCol)).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs).select("__h")
    val kept = chunks.join(broadcast(boiler), Seq("__h"), "left_anti")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__idx"))).as("__keep"))
    toks.join(kept, Seq(idCol), "left")
      .select(col(idCol),
        ceil(size(col("__w")).cast("double") / window).cast("long").as("n_chunks"),
        coalesce(size(col("__keep")), lit(0)).cast("long").as("n_kept"),
        (ceil(size(col("__w")).cast("double") / window).cast("long") -
          coalesce(size(col("__keep")), lit(0)).cast("long")).as("n_dropped"),
        coalesce(
          array_join(flatten(transform(col("__keep"),
            i => slice(col("__w"), i * window + 1, lit(window)))), " "),
          lit("")).as("clean_text"))
  }

  /** Per-GROUP exact discrete rank quantile — [[rankQuantile]] with the
    * window partitioned by a group key instead of global: within each
    * group, the value at rank ceil(n_g · p). Returns one row per group
    * `(group, outName)`. The partitioned window is the point: groups
    * sort in parallel, and no single-partition global sort exists in the
    * plan (the scale hazard the global variant documents). For
    * million-row groups the production regime is
    * `percentile_approx` grouped aggregation ([[ccnetBucketsApprox]]);
    * this exact form is the oracle-replayable diagnostic that pins it. */
  def rankQuantileBy(df: DataFrame, groupCol: String, valueCol: Column,
                     p: Double, outName: String): DataFrame = {
    require(p > 0 && p <= 1, s"p must be in (0, 1], got $p")
    import org.apache.spark.sql.expressions.Window
    df.select(col(groupCol), valueCol.as("__v"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("__v"))))
      .filter(col("__rn") === ceil(col("__n") * lit(p)).cast("long"))
      .select(col(groupCol), col("__v").as(outName))
  }

  /** CCNet head/middle/tail partition (Wenzek et al. '20 §4.3): within
    * each language, documents are bucketed by corpus-derived terciles of
    * a fluency signal (there: KenLM perplexity; here: the portable
    * [[unigramSurprise]] mean — same decision, exactly replayable).
    * `head` = most fluent third (lowest surprise), the slice used for
    * high-quality pretraining mixes; `tail` = the discard/low-weight
    * candidate. Thresholds are PER LANGUAGE — absolute perplexities are
    * not comparable across languages, which is the whole reason CCNet
    * buckets within language rather than globally.
    *
    * Input: one row per doc with (id, group, value). Output adds
    * `bucket`. Thresholds ride a broadcast join (one row per language).
    * Cutoffs at p33/p67 of the rounded signal; boundary docs (value
    * exactly at a threshold) go to the better bucket, matching `<=`. */
  def ccnetBuckets(df: DataFrame, idCol: String, groupCol: String,
                   valueCol: Column): DataFrame = {
    val tHead = rankQuantileBy(df, groupCol, valueCol, 0.33, "__t_head")
    val tMid = rankQuantileBy(df, groupCol, valueCol, 0.67, "__t_mid")
    df.join(broadcast(tHead), Seq(groupCol))
      .join(broadcast(tMid), Seq(groupCol))
      .select(col(idCol), col(groupCol), valueCol,
        when(valueCol <= col("__t_head"), "head")
          .when(valueCol <= col("__t_mid"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Production regime of [[ccnetBuckets]]: per-group thresholds from a
    * single `percentile_approx` grouped aggregation (codegen'd, map-side
    * partial — no per-group sort, no window) instead of the exact
    * partitioned-window rank. At 100 TB the exact form's per-language
    * sort is the bottleneck; this one is a plain two-pass aggregate.
    * Unit-pinned against the exact twin on the test corpus (the same
    * constant-vs-derived precedent as q_quality_gate_auto). */
  def ccnetBucketsApprox(df: DataFrame, idCol: String, groupCol: String,
                         valueCol: Column, accuracy: Int = 10000): DataFrame = {
    val th = df.groupBy(col(groupCol))
      .agg(percentile_approx(valueCol, array(lit(0.33), lit(0.67)),
        lit(accuracy)).as("__t"))
      .select(col(groupCol), element_at(col("__t"), 1).as("__t_head"),
        element_at(col("__t"), 2).as("__t_mid"))
    df.join(broadcast(th), Seq(groupCol))
      .select(col(idCol), col(groupCol), valueCol,
        when(valueCol <= col("__t_head"), "head")
          .when(valueCol <= col("__t_mid"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Distributed LOGISTIC-REGRESSION trainer for quality-classifier
    * weights — the supervised stage of the CCNet/Dolma-style curation
    * stack (their fastText/LM quality classifiers reduce to exactly
    * this: a linear model over per-doc signals). Batch gradient
    * descent where EACH ITERATION IS ONE AGGREGATION JOB: the gradient
    * of the log-loss is Σ (σ(w·x) − y)·x — a (d+1)-vector computed by
    * one map-side-combined `agg` over the corpus with the current
    * weights riding as literals (the same driver-loop-over-aggregates
    * shape as [[graft.operators.Similarity.kmeansCentroids]]). Driver
    * state is the weight vector; I/O is `iters` corpus scans — cache
    * the (features, label) sliver first, or subsample: GD on an
    * i.i.d. sample converges to the same separator.
    *
    * Features are standardized internally (one extra agg for mean/std)
    * so one learning rate fits signals on different scales; returned
    * weights are UNSCALED back to the original feature space
    * (bias +: per-feature), directly usable by [[logisticScore]]. */
  def logisticTrain(df: DataFrame, features: Seq[String], labelCol: String,
                    iters: Int = 60, lr: Double = 2.0): Array[Double] = {
    require(features.nonEmpty && iters > 0)
    val statRow = df.agg(count(lit(1)).as("n"),
      features.flatMap(f => Seq(
        avg(col(f)).as(s"__m_$f"), stddev_pop(col(f)).as(s"__s_$f"))): _*).head()
    val n = statRow.getLong(0).toDouble
    require(n > 0, "logisticTrain needs rows")
    val mu = features.indices.map(i => statRow.getDouble(1 + 2 * i)).toArray
    val sd = features.indices
      .map(i => math.max(statRow.getDouble(2 + 2 * i), 1e-12)).toArray
    var w = Array.fill(features.length + 1)(0.0) // standardized space
    var it = 0
    while (it < iters) {
      val z = features.zipWithIndex.foldLeft(lit(w(0))) { case (acc, (f, i)) =>
        acc + (col(f).cast("double") - lit(mu(i))) / lit(sd(i)) * lit(w(i + 1))
      }
      val err = lit(1.0) / (lit(1.0) + exp(-z)) - col(labelCol).cast("double")
      val gRow = df.agg(sum(err).as("g0"),
        features.zipWithIndex.map { case (f, i) =>
          sum(err * (col(f).cast("double") - lit(mu(i))) / lit(sd(i)))
            .as(s"g${i + 1}")
        }: _*).head()
      var j = 0
      while (j <= features.length) {
        w(j) -= lr * gRow.getDouble(j) / n; j += 1
      }
      it += 1
    }
    // unscale: z = w0 + Σ wi (x−μ)/σ  ⇒  origWi = wi/σ, origW0 = w0 − Σ wi μ/σ
    val orig = new Array[Double](features.length + 1)
    orig(0) = w(0) - features.indices.map(i => w(i + 1) * mu(i) / sd(i)).sum
    features.indices.foreach(i => orig(i + 1) = w(i + 1) / sd(i))
    orig
  }

  /** Score rows with a linear quality model: `logit = bias + Σ wi·xi`
    * (LEFT-ASSOCIATIVE, term order = `features` order — the fixed
    * evaluation order is what lets a SQL oracle replay the exact
    * double) and `keep = logit > 0`. The sigmoid is monotone, so the
    * keep decision never needs it — `exp` (the one transcendental)
    * stays out of the gate entirely, the same determinism discipline
    * as the micro-nat surprise costs. A narrow codegen'd map. */
  def logisticScore(df: DataFrame, idCol: String,
                    features: Seq[(String, Double)], bias: Double): DataFrame = {
    val z = features.foldLeft(lit(bias)) { case (acc, (f, wi)) =>
      acc + col(f).cast("double") * lit(wi)
    }
    df.select(col(idCol) +: features.map { case (f, _) => col(f) } :+
      round(z, 6).as("logit") :+ (z > 0).as("keep"): _*)
  }

  def chunkDedupApply(df: DataFrame, idCol: String, textCol: String,
                      window: Int = 8): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val toks = df.select(col(idCol), Dedup.tokens(col(textCol)).as("__w"))
    // size>0 guard: sequence(0, -1) steps DOWNWARD ([0,-1]) when the token
    // array is empty, which would mint two phantom md5-of-empty chunks
    val chunks = toks.filter(size(col("__w")) > 0).select(col(idCol),
      posexplode(transform(
        sequence(lit(0),
          (ceil(size(col("__w")).cast("double") / window) - 1).cast("int")),
        i => md5(array_join(slice(col("__w"), i * window + 1, lit(window)), " "))))
        .as(Seq("__idx", "__h")))
    val kept = chunks
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
          .orderBy(col(idCol), col("__idx"))))
      .filter(col("__rk") === 1)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__idx"))).as("__keep"))
    toks.join(kept, Seq(idCol), "left")
      .select(col(idCol),
        ceil(size(col("__w")).cast("double") / window).cast("long").as("n_chunks"),
        coalesce(size(col("__keep")), lit(0)).cast("long").as("n_kept"),
        coalesce(
          array_join(flatten(transform(col("__keep"),
            i => slice(col("__w"), i * window + 1, lit(window)))), " "),
          lit("")).as("clean_text"))
  }
}

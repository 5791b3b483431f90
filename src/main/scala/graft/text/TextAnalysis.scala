package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting. All
  * pure Column formulas (codegen'd, SQL-reproducible for the oracle).
  */
object TextAnalysis {

  val Stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "it")

  /** Non-empty `\s+`-separated tokens of a text column — THE word
    * spelling for every lattice in this module: split + drop-empties,
    * NOT trim + split. Spark `trim` strips only U+0020, so a tab- or
    * newline-led text under the trim spelling grows a phantom ""
    * token (a bogus count, a real "" term row in tf/df, a corrupted
    * chunk and fingerprint — the same bug repetitionStats documents
    * and fixed in round 5, now fixed for every caller). NULL text is
    * an empty token list, so the integer lattices stay integers
    * instead of degrading to three-valued NULL logic.
    */
  def wsWords(text: Column): Column =
    filter(split(coalesce(text, lit("")), "\\s+"), w => length(w) > 0)

  /** Whitespace token count (empty/NULL text → 0). */
  def wsTokenCount(text: Column): Column = size(wsWords(text))

  /** BPE-ish token count: word pieces, number runs, or single symbols. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Stopword ratio over whitespace tokens — case-insensitive like
    * [[gopherQuality]]'s treatment of the identical list (the
    * case-sensitive spelling never counted sentence-initial "The").
    */
  def stopwordRatio(text: Column): Column = {
    val words = wsWords(text)
    val stops = filter(words, w => lower(w).isin(Stopwords: _*))
    when(size(words) === 0, lit(0.0))
      .otherwise(size(stops).cast("double") / size(words))
  }

  /** Alphabetic character ratio. */
  def alphaRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise((length(text) - length(regexp_replace(text, "[A-Za-z]", "")))
        .cast("double") / length(text))

  /** Mean whitespace-token length — summed per token, never derived
    * from the total length (the `(len - (n-1)) / n` spelling assumed
    * exactly one separating space and inflated on runs/tabs).
    */
  def meanTokenLen(text: Column): Column = {
    val words = wsWords(text)
    val n = size(words)
    when(n === 0, lit(0.0))
      .otherwise(aggregate(words, lit(0L), (acc, w) => acc + length(w))
        .cast("double") / n)
  }

  /** Composite quality score in [0,1] — the length/punctuation/stopword
    * heuristic family used for corpus filtering (each component bounded
    * and deterministic).
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(wsTokenCount(text).cast("double") / 100.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    val alpha = alphaRatio(text)
    round((lenScore + stopScore + alpha) / 3.0, 4)
  }

  /** Language-ID heuristic: per-language marker-word hit counts, argmax
    * with deterministic tiebreak (marker order). Real systems use n-gram
    * models; the lattice here — score columns + greatest + chained when —
    * is the shape a model-based scorer compiles to.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "und", "das"),
    "fr" -> Seq("le", "et", "la")
  )

  def langScore(text: Column, markers: Seq[String]): Column =
    markers.map(m => size(regexp_extract_all(text, lit(s"\\b$m\\b"), lit(0))))
      .reduce(_ + _)

  def langId(text: Column): Column = {
    // scores materialise ONCE into an array, then argmax — the previous
    // spelling repeated every score expression in `greatest` AND in each
    // `when` branch, inlining the 12 regexp_extract_all calls ~2-4× into
    // one enormous codegen function (measured: 17.8 s first run at
    // sf0.01, almost all janino compile + duplicated regex work; this
    // shape runs the same query in ~0.5 s warm). array_position returns
    // the FIRST index of the max — the same marker-order tiebreak.
    val scores = array(LangMarkers.map { case (_, ms) => langScore(text, ms) }: _*)
    val best = array_max(scores)
    val idx = array_position(scores, best).cast("int")
    when(best > 0,
      element_at(typedLit(LangMarkers.map(_._1)), idx))
      .otherwise("unknown")
  }

  /** Gopher-style quality rules (Rae et al. 2021, §A1.1; the C4/Gopher
    * filter family) as an INTEGER lattice: every signal is a count and
    * every verdict an integer comparison, so the whole struct is
    * bit-exact across engines (no float ratio anywhere — a ratio bound
    * `x/n < r` is spelled `x·d < n·m` for r = m/d). Signals:
    *
    *   - `n_words`, `total_word_chars` — word-count and mean-word-length
    *     bounds (Gopher: 50..100k words, mean len 3..10);
    *   - `n_alpha_words` — words containing an alphabetic char (Gopher:
    *     ≥80%);
    *   - `n_stop_hits`, `n_distinct_stops` — stopword presence (Gopher:
    *     ≥2 distinct of a fixed small set);
    *   - `n_distinct_words` — within-doc repetition (the duplicate-line
    *     family collapsed to word granularity for single-line docs;
    *     keep requires distinct/total ≥ 30%).
    *
    * `keep` ANDs the five rules. Returns a struct column; select fields
    * or the flag as needed.
    */
  def gopherQuality(text: Column,
      minWords: Int = 50, maxWords: Int = 100000): Column = {
    val words = wsWords(text)
    val nWords = size(words).cast("long")
    val totalChars = coalesce(
      aggregate(words, lit(0L), (acc, w) => acc + length(w)), lit(0L))
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val stops = filter(words, w => lower(w).isin(Stopwords: _*))
    val nStopHits = size(stops).cast("long")
    val nDistinctStops = size(array_distinct(transform(stops, lower(_)))).cast("long")
    val nDistinct = size(array_distinct(words)).cast("long")
    val keep =
      nWords.between(minWords, maxWords) &&
      (totalChars >= nWords * 3) && (totalChars <= nWords * 10) &&
      (nAlpha * 5 >= nWords * 4) &&
      (nDistinctStops >= 2) &&
      (nDistinct * 10 >= nWords * 3)
    struct(
      nWords.as("n_words"),
      totalChars.as("total_word_chars"),
      nAlpha.as("n_alpha_words"),
      nStopHits.as("n_stop_hits"),
      nDistinctStops.as("n_distinct_stops"),
      nDistinct.as("n_distinct_words"),
      keep.as("keep"))
  }

  /** PII redaction for training corpora: emails, IPv4 addresses and
    * phone-shaped numbers replaced by typed placeholders. Pure
    * `regexp_replace` chain (codegen'd, global replace) with patterns
    * inside the RE2 ∩ java.util.regex common dialect (no lookaround, no
    * backrefs) so an oracle can replay them verbatim.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"

  def redactPii(text: Column): Column = {
    // email first: an address's host part would otherwise be left as a
    // phone/ip candidate after partial rewrites
    val e = regexp_replace(text, EmailRe, "<EMAIL>")
    val i = regexp_replace(e, Ipv4Re, "<IP>")
    regexp_replace(i, PhoneRe, "<PHONE>")
  }

  /** Count of PII matches by kind (pre-redaction), for audit columns. */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long").as("emails"),
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0))).cast("long").as("ips"),
    size(regexp_extract_all(text, lit(PhoneRe), lit(0))).cast("long").as("phones"))

  /** Token-window chunking for training-context windows: whitespace
    * tokens sliced into windows of `window` tokens every `stride` tokens
    * (overlap = window − stride). Returns an array of
    * (chunk_idx, n_tokens, chunk_text) structs — explode for row-per-
    * chunk. Every token lands in ≥1 chunk; the last chunk may be short;
    * empty text → empty array. Stride ≤ window keeps coverage; both
    * must be positive.
    */
  def chunkWindows(text: Column, window: Int, stride: Int): Column = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val words = wsWords(text)
    val n = size(words)
    val starts = when(n === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), n - 1, lit(stride)))
    transform(starts, (s, i) => struct(
      i.cast("long").as("chunk_idx"),
      least(lit(window), size(words) - s).cast("long").as("n_tokens"),
      array_join(slice(words, s + 1, lit(window)), " ").as("chunk_text")))
  }

  /** Corpus term statistics — the tf/df/N primitive behind tf-idf: one
    * row per (doc, term) with term frequency, document frequency and
    * the corpus doc count. Terms are lowercased `\s+` tokens. The
    * corpus is scanned ONCE: df derives from the tf relation (a term's
    * df = its tf-row count), then rides back onto tf rows via a
    * key-partitioned join of two already-aggregated sides — the
    * vocabulary grows with the corpus, so it is never broadcast.
    * `knownCount` skips the N job when the caller already knows the
    * corpus size (the `Ann.lshNearDupPairs` contract); otherwise one
    * count-only scan (columnless — parquet row-group metadata).
    */
  def termStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, knownCount: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val n = knownCount.getOrElse(df.count())
    val words = wsWords(lower(col(textCol)))
    val tf = df.select(col(idCol).as("id"), explode(words).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    // df = count(CASE WHEN tf > 0 THEN tf END), not count(*): tf = count(*)
    // is always ≥ 1 so the value is identical, but a count over a
    // conditionally-null use of tf is one Catalyst cannot fold away —
    // a plain count(*) (or count(tf): non-null counts rewrite to count(1))
    // lets the optimizer collapse this branch to a DISTINCT whose exchange
    // no longer canonically matches tf's, and the corpus gets scanned
    // TWICE; with tf genuinely referenced the subtrees match and
    // ReuseExchange dedupes: ONE scan, one (id,term) shuffle, the df
    // branch resumes from the reused exchange
    val dfreq = tf.groupBy("term")
      .agg(count(when(col("tf") > 0, col("tf"))).as("df"))
    tf.join(dfreq, "term")
      .select(col("id"), col("term"), col("tf"), col("df"),
        lit(n).as("n_docs"))
  }

  /** Top-k salient terms per doc by smoothed tf-idf
    * (`tf · (ln((N+1)/(df+1)) + 1)`, the sklearn form — never negative,
    * defined at df = N). Ties break on term asc, so the ranking is a
    * total order. Float scores are engine-internal (one engine, one
    * libm — deterministic here); a cross-engine oracle should compare
    * the integer lattice from [[termStats]] instead, the same reason
    * k-means quantizes (see `q_tfidf`).
    */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int, knownCount: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("tfidf").desc, col("term").asc)
    termStats(df, idCol, textCol, knownCount)
      .withColumn("tfidf", col("tf") *
        (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 4).as("tfidf"))
  }

  /** Canonical text cleanup for ingest: Unicode NFC composition
    * ([[graft.functions.NfcNormalize]], codegen'd), then strip C0/DEL
    * control characters EXCEPT tab/newline/CR (spelled as explicit byte
    * ranges — Java and RE2 read the class identically, unlike `\p{Cc}`
    * set algebra), then collapse whitespace runs to one space, then trim.
    * Order matters and is part of the contract: NFC first (composition
    * can only shrink), controls stripped before the `\s+` collapse so
    * the Java-vs-RE2 `\s` divergence on `\x0B` can never be observed
    * (`\x0B` is gone by then). Pure Column chain — zero shuffle.
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.functions.NfcNormalize(text),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "\\s+", " "))

  /** Within-document repetition signals (the Gopher repetition family,
    * Rae et al. 2021 §A1.1) as a PURE INTEGER lattice — word and
    * word-2-gram totals and distincts — so the cross-engine comparison
    * is exact (fractions are one division away for the caller; the
    * keep-rule below cross-multiplies instead of dividing). Entirely
    * per-row array arithmetic: zero shuffle at any corpus size.
    *
    * Bigrams via `zip_with(words, slice(words, 2, size), concat)`:
    * zip_with pads the shorter side with NULL and `concat` propagates
    * it, so the dangling last pair drops in the `filter` — no
    * `sequence(1, size-1)` (which would COUNT DOWN for single-word
    * docs: Spark's sequence auto-steps toward the stop).
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // words = non-empty \s+-separated tokens: split + drop-empties, NOT
    // trim + split. Spark's trim strips only ' ' (U+0020), so a doc
    // starting with a tab would split to a phantom leading "" token (and
    // a bogus " x" bigram) under the trim spelling; filtering empties
    // makes the count exact under ANY leading/trailing whitespace, and
    // subsumes the empty-text guard (split("") = [""] -> filtered -> [])
    val words = filter(split(lower(col(textCol)), "\\s+"),
      w => length(w) > 0)
    val bigrams = filter(
      zip_with(words, slice(words, lit(2), size(words)),
        (a, b) => concat(a, lit(" "), b)),
      x => x.isNotNull)
    df.select(col(idCol).as("id"),
      size(words).cast("long").as("n_words"),
      size(array_distinct(words)).cast("long").as("n_distinct_words"),
      size(bigrams).cast("long").as("n_bigrams"),
      size(array_distinct(bigrams)).cast("long").as("n_distinct_bigrams"))
  }

  /** Gopher-style repetition keep-rule over [[repetitionStats]] columns:
    * distinct-word fraction ≥ 0.3 AND (no bigrams OR distinct-bigram
    * fraction ≥ 0.2), spelled as integer cross-multiplications — no
    * float division to defend cross-engine.
    */
  def repetitionKeep(nWords: Column, nDistinctWords: Column,
      nBigrams: Column, nDistinctBigrams: Column): Column =
    (nWords === 0 || nDistinctWords * 10 >= nWords * 3) &&
      (nBigrams === 0 || nDistinctBigrams * 10 >= nBigrams * 2)

  // ---- C4 line-level cleanup (Raffel et al. 2020 §2.2) ----
  // The doc-level lattices above (gopherQuality, repetitionStats) judge
  // whole documents; C4's distinctive step is WITHIN-page line filtering
  // before any doc-level rule runs. Constants are the paper's.
  val C4MinWordsPerLine = 5
  val C4MinKeptLines = 3

  /** C4 keep-rule for one (already-trimmed) line: ends in terminal
    * punctuation, has ≥ [[C4MinWordsPerLine]] whitespace words, and
    * carries no boilerplate marker (the paper's "javascript" notice,
    * "lorem ipsum" placeholder, or a code-brace). Pure predicate — the
    * caller composes it under `filter(lines, …)`, so the whole cleanup
    * stays one per-row array pass inside codegen.
    */
  def c4LineKeep(line: Column): Column = {
    val words = filter(split(line, "\\s+"), w => length(w) > 0)
    line.rlike("[.!?\"]$") &&
      size(words) >= C4MinWordsPerLine &&
      !lower(line).contains("javascript") &&
      !line.contains("{") &&
      !lower(line).contains("lorem ipsum")
  }

  /** C4 line-level cleanup over a document table: split on newlines,
    * trim each line, drop lines failing [[c4LineKeep]], rejoin the
    * survivors; the page keep-verdict is the paper's ≥ 3 retained
    * "sentences" (kept lines). `(id, n_lines, n_kept_lines, keep,
    * clean_text)`. NULL text is treated as an empty page (one empty
    * line, nothing kept) — without the coalesce, NULL would propagate
    * to `size(NULL) = -1` under Spark's legacy sizeOfNull and the row
    * would diverge from any SQL replay. Zero shuffle at any corpus
    * size — per-row array arithmetic only, same scale shape as
    * [[repetitionStats]].
    */
  def c4Clean(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // \r?\n: CRLF pages would otherwise keep a trailing \r per line
    // (Spark trim strips only spaces) and fail the terminal-punctuation
    // rule on EVERY line — whole pages dropped on line-ending style
    val lines = transform(split(coalesce(col(textCol), lit("")), "\r?\n"),
      l => trim(l))
    val kept = filter(lines, l => c4LineKeep(l))
    df.select(col(idCol).as("id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      (size(kept) >= C4MinKeptLines).as("keep"),
      array_join(kept, "\n").as("clean_text"))
  }

  /** Rolling polynomial fingerprint over whitespace tokens — order-
    * sensitive (unlike a bag-of-words hash), cheap, and reproducible in
    * ANSI SQL (`list_reduce`): fp = fold(tokens, 7, acc·31 + len(w)·17 +
    * first-char-code) mod 1e9+7.
    */
  def fingerprint(text: Column): Column =
    // an empty token list folds to the bare init (7) — no special case
    aggregate(wsWords(text), lit(7L),
      (acc, w) => (acc * 31 + length(w) * 17 + ascii(substring(w, 1, 1))) % 1000000007L)

  /** Cross-document LINE dedup (the RefinedWeb/FineWeb line-level stage:
    * nav menus, footers and cookie banners repeat VERBATIM across many
    * pages — drop every line whose trimmed form appears in ≥ `minDf`
    * distinct documents, keep everything else byte-verbatim). Blank
    * lines never count as duplicates and are always kept. Output
    * `(id, n_lines, n_kept, clean_text)` with kept lines re-joined in
    * original order.
    *
    * Scale shape: lines group on `(xxhash64(trimmed), trimmed)` — the
    * 8-byte-led key rule — into a COUNT (no posting collection, so a
    * line repeated across the whole corpus is one counter, never one
    * reducer's array); the hot set rides a hash equi-join back (anti),
    * NOT a broadcast — boilerplate volume grows with the corpus, the
    * same reason jaccardPairs bans the stop-shingle broadcast. Per-doc
    * reassembly is a collect bounded by the document's own size (the
    * covered-set pattern of [[graft.dedup.Dedup.removeDuplicatedSpans]]).
    */
  def dedupLines(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minDf: Int): org.apache.spark.sql.DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\r?\n"))
          .as(Seq("idx", "line")))
      .withColumn("_t", trim(col("line")))
    // aliased away from the parent relation: `hot` derives from `lines`
    // and an unaliased self-join condition is ambiguous
    val hot = lines.filter(length(col("_t")) > 0)
      .groupBy(xxhash64(col("_t")).as("_hh"), col("_t").as("_ht"))
      .agg(count_distinct(col("id")).as("_df"))
      .filter(col("_df") >= minDf)
      .select(col("_hh"), col("_ht"))
    val kept = lines.join(hot,
      col("_t") === col("_ht") && xxhash64(col("_t")) === col("_hh"),
      "left_anti")
    val totals = df.select(col(idCol).as("id"),
      size(split(coalesce(col(textCol), lit("")), "\r?\n")).cast("long").as("n_lines"))
    val rebuilt = kept.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("line")))),
            s => s.getField("line")), "\n").as("clean_text"))
    totals.join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Hashing-trick feature bucket (Weinberger et al. 2009, the fastText
    * input layer): flat char-probe hash (length + first/mid/last chars)
    * in exact integer arithmetic both engines replay verbatim —
    * collisions are the hashing trick's working mode, not an error.
    * `(length+1)/2` truncates via int cast (positive operands), matching
    * SQL's `//`.
    */
  def featureBucket(f: Column, nBuckets: Int): Column =
    (length(f).cast("long") * 97L
      + ascii(substring(f, 1, 1)).cast("long") * 961L
      + ascii(f.substr(((length(f) + 1) / 2).cast("int"), lit(1))).cast("long") * 31L
      + ascii(f.substr(length(f), lit(1))).cast("long")) % nBuckets.toLong

  /** fastText-style linear text classifier INFERENCE at corpus scale
    * (the quality-classifier stage of FineWeb-Edu / LLaMA-style data
    * curation): lowercased whitespace unigrams + token bigrams
    * (fastText `wordNgrams=2`), hashed into `nBuckets` weight slots, the
    * document scored `sigmoid(bias + mean(w[bucket(feat)]))` — fastText's
    * averaged input vectors collapsed to the linear case. Training
    * happens offline (fastText's own trainer or anything emitting a
    * weight-per-bucket array); this runs the resulting model over the
    * corpus as a PURE PROJECTION — the weights array is plan state
    * (bounded by `nBuckets`, never the corpus), zero shuffle at any
    * scale, same pattern as [[CharTrigramLm]].
    *
    * Returns struct(n_feats, score); an empty document scores
    * sigmoid(bias) from zero features.
    */
  def hashedLinearScore(text: Column, weights: Array[Double], nBuckets: Int,
      bias: Double = 0.0): Column = {
    require(weights.length == nBuckets,
      s"weights length ${weights.length} != nBuckets $nBuckets")
    // the weights MUST be a real Literal: a foldable weights EXPRESSION
    // (e.g. transform(sequence(...), ...)) placed inside the aggregate
    // lambda below is out of ConstantFolding's reach and re-evaluates
    // its nBuckets-element build PER FEATURE — measured 99 s for 5k
    // docs at sf0.1 vs 1.3 s with the literal (BENCH.md, "Data-scaling of
    // the round-6 heavies"; the QueryProbe main, last held in b7b492f)
    val wlit = lit(weights)
    val toks = wsWords(lower(text))
    val bigrams = when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2),
          i => concat(element_at(toks, i + 1), lit("_"), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    val feats = concat(toks, bigrams)
    val sum = aggregate(feats, lit(0.0),
      (acc, f) => acc + element_at(wlit, featureBucket(f, nBuckets).cast("int") + 1))
    val mean = when(size(feats) > 0, sum / size(feats)).otherwise(lit(0.0))
    struct(size(feats).cast("long").as("n_feats"),
      (lit(1.0) / (lit(1.0) + exp(-(mean + lit(bias))))).as("score"))
  }

  /** [[hashedLinearScore]] as a DataFrame stage with the intermediates
    * BOUND — the corpus-scale form. The single-Column spelling nests
    * HOFs, and interpreted lambda evaluation re-derives every
    * referenced subtree per element: `element_at(toks, …)` inside the
    * bigram lambda re-splits the text PER BIGRAM (O(words²) splits per
    * row) and the three `size(feats)` references re-derive the whole
    * feature array. Staging tokens and features as projection columns
    * makes every tree evaluate once per row — CollapseProject leaves
    * the stages alone because the aliases are non-cheap and
    * multiply-referenced. Measured 31.6 s → sub-second for 5k docs
    * (the QueryProbe main, last held in commit b7b492f); semantics are
    * the IDENTICAL expressions, only the sharing changes.
    */
  def hashedLinearScoreDf(df: DataFrame, textCol: String,
      weights: Array[Double], nBuckets: Int, bias: Double = 0.0,
      out: String = "s"): DataFrame = {
    require(weights.length == nBuckets,
      s"weights length ${weights.length} != nBuckets $nBuckets")
    val wlit = lit(weights)
    val toks = col("_hls_toks")
    val feats = col("_hls_feats")
    val sum = aggregate(feats, lit(0.0),
      (acc, f) => acc + element_at(wlit, featureBucket(f, nBuckets).cast("int") + 1))
    val mean = when(size(feats) > 0, sum / size(feats)).otherwise(lit(0.0))
    df.withColumn("_hls_toks", wsWords(lower(col(textCol))))
      .withColumn("_hls_feats", concat(toks,
        when(size(toks) >= 2,
          transform(sequence(lit(0), size(toks) - 2),
            i => concat(element_at(toks, i + 1), lit("_"), element_at(toks, i + 2))))
          .otherwise(array().cast("array<string>"))))
      .withColumn(out, struct(size(feats).cast("long").as("n_feats"),
        (lit(1.0) / (lit(1.0) + exp(-(mean + lit(bias))))).as("score")))
      .drop("_hls_toks", "_hls_feats")
  }

  /** Pairwise SOURCE vocabulary overlap — the mirrored-source audit a
    * crawl intake runs before dedup (two sources sharing most of their
    * vocabulary are usually the same site scraped twice; exact Jaccard
    * here names the pair, MinHash then dedups the documents). Exact and
    * integer-only: per-pair `|A∩B|` via ONE equi-join of the distinct
    * `(term, source)` relation with itself on the term (src_a < src_b
    * halves the pairs), `|A∪B| = |A|+|B|−|A∩B|` — the caller divides if
    * it wants a ratio. Per-term fan-out is bounded by `sources²` (the
    * group count, config-scale), never by corpus rows; at large group
    * counts swap the exact join for the MinHash band path — the output
    * contract is unchanged.
    */
  def sourceOverlap(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val terms = docs
      .select(col(groupCol).as("g"),
        explode(split(coalesce(col(textCol), lit("")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$")) // ASCII terms: byte==codepoint fold
      .distinct()
    val sizes = terms.groupBy("g").agg(count(lit(1)).as("nterms"))
    val t2 = terms.select(col("g").as("g2"), col("w").as("w2"))
    val inter = terms.join(t2, col("w") === col("w2") && col("g") < col("g2"))
      .groupBy(col("g").as("src_a"), col("g2").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("g").as("src_a"), col("nterms").as("na")), "src_a")
      .join(sizes.select(col("g").as("src_b"), col("nterms").as("nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operator library for LLM-training-data pipelines: token
  * counting, shingling, quality scoring, language-ID scoring, and document
  * fingerprinting — the text-side extensions beyond the reference's
  * wordcount tokenizer (`bolt/bolt.go:547`).
  *
  * Every function here is a pure column expression (no UDFs) so the whole
  * analysis stays inside whole-stage codegen and scales linearly with the
  * scan: at 100 TB these are map-side-only operators with zero shuffle.
  *
  * Determinism contract: every hash is `md5` over an explicit string so the
  * DuckDB oracle can reproduce results bit-for-bit.
  */
object TextAnalysis {

  /** Tokenize on single spaces — the fixture corpus (and the reference's
    * wordcount, Go `strings.Split(s, " ")`) is single-space joined.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Non-empty whitespace token count. */
  def tokenCount(text: Column): Column =
    tokenCountFromTokens(tokens(text))

  /** [[tokenCount]] over an already-tokenized array column. */
  def tokenCountFromTokens(t: Column): Column =
    size(filter(t, w => w =!= ""))

  /** BPE-ish regex tokens: letter runs, digit runs, single non-alnum marks —
    * the classic pre-tokenizer split (the regex is shared verbatim with the
    * DuckDB oracle, so keep it engine-portable: character classes and
    * alternation only).
    */
  val BpeishPattern = "[a-z]+|[A-Z]+|[0-9]+|[^A-Za-z0-9 ]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** GPT-2-style PRE-TOKENIZER rule: English contractions, Unicode letter
    * runs, Unicode digit runs, punctuation runs — the segmentation a real
    * BPE trainer runs before learning merges, so "word," and "word" train
    * as the same type plus a punctuation token instead of two unrelated
    * vocabulary entries (the whitespace-only [[tokens]] inflates the vocab
    * and distorts merge statistics exactly that way).
    *
    * Engine-portable by construction (gated value-for-value in q108): the
    * pattern avoids the two Java-regex constructs DuckDB's RE2 cannot or
    * does not reproduce — the lookahead GPT-2 uses for trailing-space
    * handling (RE2 has no lookahead), and the `\s` shorthand (Java's
    * includes U+000B, RE2's does not — spelled as an explicit class
    * instead). Both engines use leftmost-first alternation with greedy
    * repetition, so the token streams agree. Leading-space capture (GPT-2's
    * " ?" prefix) is deliberately dropped: [[graft.operators.Bpe]] marks
    * word boundaries with the `</w>` suffix symbol, so a space prefix would
    * double-encode the boundary and break the detokenize round trip.
    */
  val PreTokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d|\\p{L}+|\\p{N}+|[^ \\t\\n\\r\\p{L}\\p{N}]+"

  /** The pre-token array of `text` under [[PreTokenPattern]] — the
    * drop-in `tokenizer` argument for [[graft.operators.Bpe]]'s trainer
    * and encoder (BpeSpec pins the trained merges under it).
    */
  def preTokens(text: Column): Column =
    regexp_extract_all(text, lit(PreTokenPattern), lit(0))

  /** Per-group tokenizer FERTILITY report — the metric a tokenizer
    * evaluation reads per language: how many pre-tokens ([[preTokens]],
    * the GPT-2-style rule) the corpus produces per whitespace word
    * (`fertility_ppm`, exact integer ppm) and how many characters each
    * pre-token carries (`chars_per_tok_ppm`). A tokenizer that fragments
    * one language 3× worse than another starves it of effective context
    * at a fixed sequence budget — this report is where that shows up
    * before training does. Null ratios for a group with no words/tokens
    * (the [[graft.operators.Curation.packingSweep]] nullif treatment).
    *
    * Scale: one map-side pass (two regex/array passes per row, zero
    * shuffle before the bounded-group agg) + ONE hash aggregate on the
    * group key.
    */
  def tokenFertility(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    df.select(col(groupCol),
        tokenCount(col(textCol)).cast("long").as("__w"),
        size(preTokens(col(textCol))).cast("long").as("__t"),
        length(col(textCol)).cast("long").as("__c"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("__w").cast("long").as("n_words"),
        sum("__t").cast("long").as("n_pretokens"),
        sum("__c").cast("long").as("n_chars"))
      .withColumn("fertility_ppm",
        expr("(n_pretokens * 1000000) div nullif(n_words, 0)"))
      .withColumn("chars_per_tok_ppm",
        expr("(n_chars * 1000000) div nullif(n_pretokens, 0)"))

  /** Unicode NFC normalization (+ optional case-fold) — the opt-in step
    * before [[fingerprint]]/shingle hashing that makes NFD and NFC
    * spellings of the same rendered string dedup together (they md5
    * differently raw; DedupSpec proves the pair collapses after this).
    * Native codegen'd expression ([[graft.functions.NfcNormalize]]) with
    * an already-normalized (ASCII) fast path, so the corpus-wide map-side
    * fingerprint pass keeps its zero-allocation common case. Gated vs
    * DuckDB `nfc_normalize` (q107).
    */
  def normalizeText(text: Column, caseFold: Boolean = false): Column =
    normalizeText(org.apache.spark.sql.SparkSession.active, text, caseFold)

  /** [[normalizeText]] with an EXPLICIT session — the multi-session-JVM
    * form (the [[rollingFingerprint]] contract: the convenience overload
    * registers on `SparkSession.active` at Column-construction time).
    */
  def normalizeText(spark: org.apache.spark.sql.SparkSession, text: Column,
                    caseFold: Boolean): Column = {
    graft.functions.NfcNormalize.ensureRegistered(spark)
    val nfc = call_function("graft_nfc", text)
    if (caseFold) lower(nfc) else nfc
  }

  /** Word n-gram shingles, '_'-joined, distinct. Documents shorter than n
    * tokens yield an empty array (guarded: Spark's `sequence(1, k)` with
    * k < 1 would produce a DESCENDING sequence, not an empty one).
    */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** [[shingles]] over an already-tokenized array column — callers that
    * need shingles more than once should project the token array first so
    * the split happens one time (see [[graft.operators.Dedup]]).
    */
  def shinglesFromTokens(t: Column, n: Int): Column =
    array_distinct(ngrams(t, n))

  /** Non-distinct word n-grams, '_'-joined, over a token array — the
    * MULTISET form repetition statistics need ([[shinglesFromTokens]]
    * dedups, which is right for set similarity and wrong for counting
    * repeats).
    */
  def ngrams(t: Column, n: Int): Column = {
    val hi = size(t) - (n - 1)
    when(hi >= 1,
      transform(sequence(lit(1), hi), i => array_join(slice(t, i, lit(n)), "_")))
      .otherwise(array().cast("array<string>"))
  }

  /** Repetition quality signals (the Gopher-rules shape): per document,
    * the fraction of n-gram occurrences taken by the single most frequent
    * n-gram (`top_frac` — boilerplate/spam is high) and the fraction of
    * occurrences that are distinct (`uniq_frac` — templated text is low),
    * plus the occurrence count. Documents shorter than n tokens yield no
    * row.
    *
    * Scale: two aggregations on bounded keys — (doc, gram) then doc —
    * both map-side combined; state per group is three numbers. All
    * arithmetic is long/long → double division, reproduced bit-for-bit by
    * the oracle.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    val grams = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
      .select(col("doc_id"), explode(ngrams(col("t"), n)).as("g"))
    grams.groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg((max("cnt") / sum("cnt")).as("top_frac"),
        (count(lit(1)) / sum("cnt")).as("uniq_frac"),
        sum("cnt").cast("long").as("n_grams"))
  }

  /** Ratio of tokens found in `markers` (a tiny per-language stopword /
    * marker profile) to total tokens — the scoring core of the n-gram
    * language-ID heuristic. Integer/integer `/` is double division in both
    * Spark and DuckDB, so the oracle reproduces the exact double.
    */
  def markerRatio(text: Column, markers: Seq[String]): Column =
    markerRatioFromTokens(tokens(text), markers)

  /** [[markerRatio]] over an already-tokenized array column — callers
    * scoring several profiles should project the token array once (see
    * q15: one split feeds all five profile ratios).
    */
  def markerRatioFromTokens(t: Column, markers: Seq[String]): Column =
    size(filter(t, w => w.isin(markers: _*))) / size(t)

  /** Per-language marker profiles for the heuristic classifier. On real
    * corpora these would be frequency-ranked stopwords per language; the
    * fixture corpus draws all languages from one shared synthetic vocabulary,
    * so the profiles are disjoint slices of that vocabulary — the scoring
    * machinery (ratio per profile, argmax with deterministic tie-break) is
    * the operator under test.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("hash", "merge", "batch", "group", "row"),
    "en" -> Seq("the", "a", "fast", "slow", "big"),
    "es" -> Seq("data", "stream", "filter", "sort", "line"),
    "fr" -> Seq("window", "query", "order", "value", "part"),
    "zh" -> Seq("table", "join", "scan", "key", "column"),
  )

  /** Predicted language: argmax marker ratio, ties broken by language code
    * ascending (profiles are iterated in sorted order, first max wins).
    *
    * Callers scoring many documents should compute the per-profile ratio
    * COLUMNS in their own projection and pass them to
    * [[predictedLangFromScores]] — inlining the ratio trees here makes the
    * case-when tree re-derive every ratio at every tie-break level, and the
    * resulting expression blow-up costs more in Catalyst passes than the
    * scan itself (measured on q15).
    */
  def predictedLang(text: Column): Column =
    predictedLangFromScores(
      LangProfiles.map { case (lang, ms) => lang -> markerRatio(text, ms) })

  /** Argmax over named score columns, ties broken by name ascending. */
  def predictedLangFromScores(scores: Seq[(String, Column)]): Column = {
    val best = greatest(scores.map(_._2): _*)
    scores.foldLeft(lit(null).cast("string")) { case (acc, (lang, s)) =>
      when(acc.isNull && (s === best), lit(lang)).otherwise(acc)
    }
  }

  /** Ratio of distinct to total tokens — low values flag boilerplate/spam. */
  def uniqueTokenRatio(text: Column): Column =
    uniqueTokenRatioFromTokens(tokens(text))

  /** [[uniqueTokenRatio]] over an already-tokenized array column. */
  def uniqueTokenRatioFromTokens(t: Column): Column =
    size(array_distinct(t)) / size(t)

  /** Composite quality score in [0,1]: length saturation (docs under ~100
    * tokens score proportionally) blended with lexical diversity. The exact
    * formula is shared with the oracle; weights are pipeline policy.
    */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(tokens(text))

  /** [[qualityScore]] over an already-tokenized array column — callers
    * computing several token statistics should project the token array
    * once (see q14/q15: one split feeds every stat).
    */
  def qualityScoreFromTokens(t: Column): Column =
    least(lit(1.0), tokenCountFromTokens(t) / lit(100.0)) * 0.5 +
      uniqueTokenRatioFromTokens(t) * 0.5

  /** PII patterns, engine-portable (character classes + bounded repeats
    * only — no lookaround, so Java regex and DuckDB's RE2 agree): the
    * pre-training redaction pass every compliance review asks for first.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Redact emails then IPv4s to typed placeholders. Order matters: an
    * email's numeric domain would otherwise be half-eaten by the IP rule.
    * Pure map-side `regexp_replace` chain — zero shuffle at any scale, and
    * the placeholders keep redacted text shingle-able (dedup after
    * redaction still works).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      Ipv4Pattern, "<IP>")

  /** Per-document PII audit + redaction in ONE map-side pass: hit counts
    * (what a pipeline reports) alongside the redacted text (what it
    * applies). Output: (doc_id, n_emails, n_ips, redacted).
    */
  def piiReport(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(Ipv4Pattern), lit(0)))
        .cast("long").as("n_ips"),
      redactPii(col(textCol)).as("redacted"))

  /** C4/Gopher-style heuristic QUALITY RULES, per document: the
    * keep/drop gate a web-scale corpus passes through before anything
    * expensive runs. Emitted per rule (for auditing drop reasons) plus the
    * conjunction:
    *  - `n_tokens` in [minTokens, maxTokens] — fragments and megadocs out;
    *  - `mean_wl` (mean non-space word length) in [3, 10] — the classic
    *    gibberish/boilerplate band;
    *  - `symbol_frac` (# { } < > | backslash per char) below 0.1 —
    *    markup/code soup;
    *  - `ends_terminal` — document ends in terminal punctuation;
    *  - no "lorem ipsum".
    * All pure column expressions over one tokenization — zero shuffle; the
    * 100 TB shape is scan → flags → filter, fused into the scan stage.
    * Thresholds are pipeline policy (parameters), the machinery is the
    * operator. Arithmetic is long/long → double division + `round`,
    * reproduced bit-for-bit by the oracle.
    */
  def qualityRules(df: DataFrame, idCol: String, textCol: String,
                   minTokens: Int = 5, maxTokens: Int = 100000): DataFrame = {
    val t = col("__t")
    val nTok = col("n_tokens")
    df.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), col("__text"),
        tokenCountFromTokens(t).cast("long").as("n_tokens"))
      .select(
        col("doc_id"),
        nTok,
        // mean word length = non-space chars / tokens; nullif guards the
        // empty document (ANSI mode would otherwise throw DIVIDE_BY_ZERO)
        round(length(regexp_replace(col("__text"), " ", ""))
          / nullif(nTok, lit(0L)), 4).as("mean_wl"),
        round(size(regexp_extract_all(col("__text"),
          lit("[#{}<>|\\\\]"), lit(0)))
          / nullif(length(col("__text")), lit(0)).cast("double"), 6)
          .as("symbol_frac"),
        col("__text").rlike("[.!?\"]$").as("ends_terminal"),
        col("__text").contains("lorem ipsum").as("has_lorem"))
      .withColumn("keep",
        col("n_tokens").between(minTokens, maxTokens) &&
          col("mean_wl").between(3.0, 10.0) &&
          col("symbol_frac") < 0.1 &&
          !col("has_lorem"))
  }

  /** Full-content fingerprint (hex md5 of the normalized text). */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** 60-bit numeric fingerprint: first 15 hex chars of the md5, base-16 —
    * sortable/joinable fixed-width form (15 hex digits keep the value inside
    * a signed 64-bit long; DuckDB mirrors with `('0x'||substr(md5(x),1,15))::BIGINT`).
    */
  def fingerprint64(text: Column): Column =
    conv(substring(md5(lower(trim(text))), 1, 15), 16, 10).cast("long")

  /** Token-window chunking: split each document into fixed-size token
    * windows with `overlap` tokens of context carried between consecutive
    * chunks — the standard pre-training / RAG segmentation step. Chunk i
    * starts at token `1 + i·(chunkSize - overlap)`; start positions run
    * while `start ≤ max(#tokens - overlap, 1)`, so the final chunk may be
    * short and every document (even an empty one) yields at least one
    * chunk. Output: (doc_id, chunk_idx, start_tok, n_toks, chunk).
    *
    * Scale: map-side only — one `explode` with fan-out #tokens/stride, no
    * shuffle; chunks stay co-partitioned with their source document, so a
    * downstream per-chunk transform (tokenize, embed, filter) pipelines
    * inside the same stage. At 100 TB the output is input-proportional
    * (×(1 + overlap/stride) bytes), never quadratic.
    */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got overlap=$overlap chunkSize=$chunkSize")
    val stride = chunkSize - overlap
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), greatest(size(col("t")) - overlap, lit(1)),
          lit(stride))).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / stride).cast("long").as("chunk_idx"),
        col("start").cast("long").as("start_tok"),
        slice(col("t"), col("start"), lit(chunkSize)).as("ctoks"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("ctoks")).cast("long").as("n_toks"),
        array_join(col("ctoks"), " ").as("chunk"))
  }

  /** Token-distribution divergence per group: KL(P_group ‖ P_global) over
    * the token unigram distributions — the drift check a split pipeline
    * runs after [[Sampling.hashSplit]] (is val/test distributionally like
    * train?) and a mix pipeline runs per source. No smoothing is needed:
    * every group token also occurs globally (gc ≥ c > 0). Per-(group,
    * token) contributions `c·ln((c/n)/(gc/m))` round to integer micro-nats
    * before the per-group sum — exact 64-bit, order-independent, so the
    * whole statistic is oracle-hashable. Output: (group, n_tokens, vocab,
    * kl_micro_sum, kl_nats).
    *
    * Scale: three bounded-key aggregations (group×token, token, group),
    * all map-side combined; the global total joins in as a broadcast
    * one-row frame, not a driver scalar.
    */
  def tokenDivergence(df: DataFrame, groupCol: String,
                      textCol: String): DataFrame = {
    val t = df.select(col(groupCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    // scoped persist (CacheScope): the (group, token) counts feed three
    // downstream aggregates — without the cache each would re-tokenize
    val c = CacheScope.persisted(
      t.groupBy(col(groupCol), col("tok")).agg(count(lit(1)).as("c")))
    val g = c.groupBy("tok").agg(sum("c").cast("long").as("gc"))
    val n = c.groupBy(groupCol).agg(sum("c").cast("long").as("nt"))
    val m = c.agg(sum("c").cast("long").as("mt"))
    c.join(g, "tok").join(broadcast(n), groupCol).crossJoin(broadcast(m))
      .withColumn("micro",
        round(col("c") * log((col("c") * 1.0 / col("nt"))
          / (col("gc") * 1.0 / col("mt"))) * 1e6).cast("long"))
      .groupBy(col(groupCol), col("nt").as("n_tokens"))
      .agg(count(lit(1)).as("vocab"),
        sum("micro").cast("long").as("kl_micro_sum"))
      .select(col(groupCol), col("n_tokens"), col("vocab"),
        col("kl_micro_sum"),
        round(col("kl_micro_sum") / 1e6 / col("n_tokens"), 6).as("kl_nats"))
  }

  /** CONTENT-DEFINED chunking (CDC — the rolling-hash boundary rule of
    * LBFS/rsync applied at token granularity): a chunk boundary falls at
    * every position whose trailing `width`-gram hashes to
    * `0 (mod divisor)`. Unlike [[chunkByTokens]]'s fixed stride, boundaries
    * are a pure function of LOCAL content, so inserting or deleting text
    * re-synchronizes within ~`width` tokens and the chunks of the
    * unchanged region keep their exact fingerprints — the property that
    * lets substring-level dedup catch SHIFTED duplicates (a fixed-stride
    * span that slides by one token changes every fingerprint downstream
    * of the edit; a CDC chunk does not). Expected chunk length is
    * `divisor` tokens (geometric); `width` trades boundary locality
    * against collision structure.
    *
    * Output: (doc_id, chunk_idx, start_tok, n_tokens, fp) — fp is the md5
    * of the space-joined chunk, the key a downstream [[duplicateSpans]]-
    * style aggregate or semi-join removes on. Chunks partition the
    * document's tokens exactly (no overlap, no gaps); the token AT a
    * boundary position ends its chunk.
    *
    * Scale shape: the per-position gram hash is a map-side explode
    * (fan-out = tokens, each gram built by `width` codegen'd element_at
    * calls — no corpus HOF); chunk numbering is ONE per-doc cumulative
    * window (bounded by document length, the same per-key contract as the
    * analytic windows); the chunk assembly is one (doc, chunk) aggregate
    * whose state is chunk-length-bounded.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                width: Int = 3, divisor: Int = 16): DataFrame =
    cdcChunksRaw(df, idCol, textCol, width, divisor)
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_tokens"), md5(col("chunk")).as("fp"))

  /** [[cdcChunks]] with the chunk TEXT still attached — the internal frame
    * [[cdcDedup]] reassembles from (the public form carries only the md5,
    * so a fingerprint-level consumer never shuffles text).
    */
  private def cdcChunksRaw(df: DataFrame, idCol: String, textCol: String,
                           width: Int, divisor: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(width >= 1, s"width must be >= 1: $width")
    require(divisor >= 1, s"divisor must be >= 1: $divisor")
    val toks = df.select(col(idCol).as("doc_id"),
        filter(tokens(col(textCol)), t => t =!= "").as("t"))
      .filter(size(col("t")) >= 1)
    val gram = concat_ws("_",
      (width - 1 to 0 by -1).map(j => element_at(col("t"), col("p") - j)): _*)
    val flagged = toks
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")))).as("p"))
      .select(col("doc_id"), col("p"),
        element_at(col("t"), col("p")).as("tok"),
        // when(), not &&: the gram must only be BUILT where p >= width
        // (element_at at index <= 0 raises)
        when(col("p") >= width,
          conv(substring(md5(gram), 1, 15), 16, 10).cast("long")
            % divisor === 0)
          .otherwise(lit(false)).as("b"))
    val w = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    flagged
      .withColumn("chunk_idx",
        coalesce(sum(when(col("b"), 1L).otherwise(0L)).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(min("p").cast("long").as("start_tok"),
        count(lit(1)).as("n_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("p"), col("tok")))),
            x => x.getField("tok")), " ").as("chunk"))
  }

  /** SHIFT-ROBUST substring-level dedup: [[Dedup.paragraphDedup]]'s
    * keep-first-occurrence rule applied to [[cdcChunks]]'s content-defined
    * chunks instead of fixed windows — so boilerplate that appears at a
    * DIFFERENT token offset in every document (the common case: headers
    * after varying titles, licenses after varying preambles) still
    * produces identical chunk fingerprints and still deduplicates, where
    * fixed-window paragraph hashing sees unique windows everywhere. Every
    * repeated chunk keeps only its globally-first (doc, position)
    * occurrence; output per document: chunk counts, surviving token count,
    * and the md5 of the reassembled surviving text (a fully-deduplicated
    * document keeps its row with `n_kept = 0`).
    *
    * Scale shape: q64's exactly — the keep/drop decision aggregates the
    * skinny (md5, doc, idx) frame with a map-side-combinable `min(struct)`
    * (a billion-fold repeated chunk reduces to one row per input
    * partition before the exchange); chunk text shuffles only on uniform
    * (hash, doc, idx) / doc keys.
    */
  def cdcDedup(df: DataFrame, idCol: String, textCol: String,
               width: Int = 3, divisor: Int = 16): DataFrame = {
    val chunks = CacheScope.persisted(
      cdcChunksRaw(df, idCol, textCol, width, divisor)
        .withColumn("h", md5(col("chunk"))))
    val winners = chunks.groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("w"))
      .select(col("h").as("wh"), col("w.doc_id").as("w_doc"),
        col("w.chunk_idx").as("w_idx"))
    val kept = chunks.join(winners,
      chunks("h") === col("wh") && chunks("doc_id") === col("w_doc") &&
        chunks("chunk_idx") === col("w_idx"))
    val rebuilt = kept
      .groupBy(chunks("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tokens")).cast("long").as("kept_toks"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("chunk_idx"), col("chunk")))),
          p => p("chunk")), " ")).as("kept_fp"))
    chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_toks"), lit(0L)).as("kept_toks"),
        coalesce(col("kept_fp"), md5(lit(""))).as("kept_fp"))
  }

  /** Duplicated-span detection (the substring-level dedup signal of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models Better",
    * approximated at window granularity): hash every `window`-token span
    * at `stride` via [[chunkByTokens]], and report span fingerprints that
    * occur in at least `minDocs` DISTINCT documents — repeated boilerplate,
    * licenses, navigation chrome. Partial windows (document tails shorter
    * than `window`) are excluded so a "span" is always exactly `window`
    * tokens. Output: (span_fp, n_docs, n_occ, first_doc).
    *
    * Scale shape: the chunk explode is map-side (fan-out tokens/stride);
    * the only shuffle is ONE hash aggregate on the md5 span key — uniform
    * by construction, map-side combined. The remove/mask step is a
    * downstream semi-join of chunks against this frame (bounded by the
    * duplicate count, not the corpus).
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 32, stride: Int = 16,
                     minDocs: Int = 2): DataFrame = {
    require(stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got stride=$stride window=$window")
    chunkByTokens(df, idCol, textCol, chunkSize = window,
        overlap = window - stride)
      .filter(col("n_toks") === window)
      .groupBy(md5(col("chunk")).as("span_fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** TF-IDF top-k terms per document — the corpus-statistic + per-row
    * scoring pattern (term salience for quality filtering / keyword
    * extraction). Three aggregations that all shuffle on bounded keys:
    * per-(doc,term) counts, per-doc token totals, per-term document
    * frequency; the corpus size is the single scalar pulled to the driver
    * (one count — a constant, not data). Smoothed IDF `ln((N+1)/(df+1))`;
    * ties broken by term ascending, so output order is total. All
    * arithmetic is double division + libm `ln` — bit-reproducible by the
    * DuckDB oracle.
    *
    * Scale: the (doc,term) frame is the corpus token multiset deduplicated
    * per doc — the same order of magnitude as the tokenized corpus, all
    * map-side combined; the top-k window partitions by doc_id with at most
    * distinct-terms-per-doc rows each, never a corpus-wide partition.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val n = df.count() // corpus size for IDF smoothing (scalar, driver-safe)
    val terms = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val perDoc = CacheScope.persisted(
      terms.groupBy("doc_id", "term").agg(count(lit(1)).as("cnt")))
    val docLen = perDoc.groupBy("doc_id").agg(sum("cnt").as("ntok"))
    val dfreq = perDoc.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    perDoc
      .join(docLen, "doc_id")
      .join(dfreq, "term")
      .withColumn("tfidf",
        (col("cnt") / col("ntok")) * log((lit(n) + 1.0) / (col("df") + 1)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), round(col("tfidf"), 6).as("tfidf"))
  }

  /** Top-k most frequent terms PER GROUP (per source / domain / split) —
    * the "what does each slice of the corpus talk about" report, and the
    * per-group sibling of the global [[vocabCoverage]]. Deterministic
    * tie-break (count desc, term asc). Output: (group, term, cnt, rk).
    *
    * Scale shape: one (group, term) aggregate — bounded keys, map-side
    * combined, so a billion occurrences of a stopword in one group arrive
    * at the exchange as one row per map partition — then a per-group
    * rank-k window over the (vocab-bounded) aggregate, with the same
    * `WindowGroupLimit` pushdown as [[Sampling.capPerGroup]]: each
    * partition forwards at most k candidate terms per group.
    */
  def topTermsPerGroup(df: DataFrame, groupCol: String, textCol: String,
                       k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("cnt").desc, col("term").asc)
    df.select(col(groupCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(groupCol), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(groupCol), col("term"), col("cnt"),
        col("rk").cast("long").as("rk"))
  }

  /** Approximate top-k terms per group in ONE pass with HARD-bounded
    * state: Misra-Gries heavy hitters via the native
    * `graft_heavy_hitters` aggregate ([[graft.functions.HeavyHitters]]).
    * Output: (group, term, cnt_lb, err, rk) — `cnt_lb` is a guaranteed
    * lower bound on the true count, `cnt_lb + err` a guaranteed upper
    * bound, and every term with true share > 1/(capacity+1) of its
    * group's stream is guaranteed present (property-tested).
    *
    * Scale contrast with the exact [[topTermsPerGroup]]: that one's
    * (group, term) aggregate ships one row per DISTINCT term through the
    * exchange — billions of rows of shuffle at web vocabulary for a 20-row
    * answer. Here each map-side partial buffer is `capacity` counters
    * regardless of vocabulary, so the exchange carries `capacity` rows per
    * (partition, group) and memory is bounded by construction — no spill
    * path needed. With `capacity` >= the group's distinct-term count no
    * decrement ever fires and the result is exact (q86's oracle regime).
    */
  /** PERSISTED inverted text index — the [[Similarity.buildIvfIndex]]
    * treatment applied to [[bm25Search]]: pay the corpus scan ONCE, store
    * the postings partitioned by a 64-way md5 term bucket, and answer
    * every later query from the buckets its terms hash to (partition-
    * pruned scan — the retrieval shape a 100 TB corpus serves queries
    * from; re-scanning text per query is the thing an index exists to
    * kill). Layout under `dir` — each component a root of immutable
    * `seg=<id>` segments, the live ones named by the newest entry of the
    * store's log `_log/` ([[StoreSegments]]), which also records `buckets`
    * and whether positions are stored:
    *
    *  - `postings/` — (term, doc_id, cnt, dl), `partitionBy(bucket)`;
    *    `dl` denormalized onto every posting so query time needs no
    *    doc-length join;
    *  - `terms/` — (term, df), same bucketing — document frequencies;
    *  - `stats/` — one row (n_docs, avgdl), the corpus constants;
    *  - `docs/` — (doc_id, dl), `partitionBy(dbucket)` (md5 of the id) —
    *    the doc-length table (Lucene's "norms"): the component
    *    [[deleteFromTextIndex]] reads to adjust (n_docs, sum_dl) EXACTLY,
    *    including docs with zero tokens, which have no postings row to
    *    recover dl from;
    *  - `tombstones/` — (doc_id, bucket), present only after a delete:
    *    doc ids pending physical removal, with the postings buckets they
    *    touch (bucket = -1 for postings-less docs) so
    *    [[compactTextIndex]] rewrites only affected buckets.
    *
    * [[searchTextIndex]] reproduces [[bm25Search]]'s exact micro-int
    * scores from the files alone (gated: q124 must hash-match q88), and
    * its IDF/TF expression SHAPES mirror [[bm25Search]] verbatim so the
    * IEEE folds agree.
    */
  def buildTextIndex(df: DataFrame, idCol: String, textCol: String,
                     dir: String, buckets: Int = 64,
                     withPositions: Boolean = false): Unit = {
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val sp = df.sparkSession
    // a rebuild commits an entry naming only what it writes: no stale
    // segments, no positions unless asked, and no tombstones — they name
    // ids of the store being replaced
    Tombstones.build(new TextStore(sp, dir,
      StoreSegments.Entry(0, buckets, withPositions, Map.empty),
      StoreSegments.latestOpt(sp, dir)),
      Tombstones.Batch(df, idCol, textCol))
  }

  /** INCREMENTAL text-index maintenance — [[Similarity.appendIvfIndex]]'s
    * contract for the inverted index: a crawl increment appends its
    * postings into the same bucket partitions, its per-term document
    * frequencies as ADDITIONAL rows (search sums df per term across
    * segments), and its (n_docs, sum_dl) totals as one more stats row —
    * no rebuild, no rescan of the standing corpus, and the merged answer
    * is bit-identical to a from-scratch build over corpus ∪ batch (q125
    * gates exactly that). Caller contract: batch doc ids are NEW
    * documents (same as the IVF append).
    */
  def appendTextIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      batch: DataFrame, idCol: String, textCol: String,
                      buckets: Int = 0,
                      withPositions: Boolean = false): Unit = {
    val s = textStore(spark, dir, buckets)
    require(!withPositions || s.entry.positions,
      s"the store at $dir has layout (${s.entry.layout}); the call asked " +
        "for positions")
    Tombstones.append(s, Tombstones.Batch(batch, idCol, textCol))
  }

  /** DELETION from a [[buildTextIndex]] index — the storage verb a crawl
    * pipeline cannot live without (takedowns, robots revocations,
    * dedup-losers purged after resolution; the reference's SDFS supports
    * `delete` — daemon/daemon.go:116-133 op dispatch — and the index
    * stores absorb it here). TOMBSTONE-APPEND, not rewrite: a delete must
    * not pay a corpus-sized rewrite, so it appends
    *
    *  - one NEGATIVE stats row (−n_deleted, −sum_dl_deleted) — exact,
    *    from the `docs/` doc-length table, so token-less docs subtract
    *    correctly — search's existing segment-sum arithmetic absorbs it
    *    unchanged;
    *  - NEGATIVE df rows per (term, bucket) touched by the deleted docs —
    *    search's per-term df sum absorbs them the same way;
    *  - the tombstone ids themselves, which [[searchTextIndex]] hides
    *    with a driver-constant filter ([[StoreFs.hideIds]] — tombstones
    *    stay small because [[compactTextIndex]] exists to drain them).
    *
    * The merged answer is bit-identical to a from-scratch build over the
    * surviving docs (gated: q131). Cost: one pruned read of the deleted
    * ids' `docs/` dbuckets plus one postings scan filtered to the delete
    * set. Absent or already-tombstoned ids are no-ops, so a replayed
    * delete cannot double-subtract ([[Tombstones]], `drain = false`).
    */
  def deleteFromTextIndex(spark: org.apache.spark.sql.SparkSession,
                          dir: String, ids: DataFrame, idCol: String,
                          buckets: Int = 0): Unit =
    Tombstones.delete(textStore(spark, dir, buckets), ids, idCol,
      drain = false)

  /** FUSED [[deleteFromTextIndex]] + [[compactTextIndex]] (the CDC-sync
    * path): the same end state with no tombstone ever written — the
    * compaction's drain with the delete's negative rows netted in
    * ([[Tombstones]], `drain = true`).
    */
  def deleteAndCompactTextIndex(spark: org.apache.spark.sql.SparkSession,
                                dir: String, ids: DataFrame, idCol: String,
                                buckets: Int = 0): Unit =
    Tombstones.delete(textStore(spark, dir, buckets), ids, idCol,
      drain = true)

  /** COMPACTION of a tombstoned [[buildTextIndex]] index: rewrite ONLY
    * the buckets (and docs/ dbuckets) the tombstones touch — merging df
    * rows, dropping non-positive ones — collapse stats to one exact row,
    * and clear the tombstones; untouched buckets' files are never read
    * (spec-asserted). Answers are unchanged (gated: q132 ≡ q131).
    */
  def compactTextIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String, buckets: Int = 0): Unit =
    Tombstones.compact(textStore(spark, dir, buckets))

  /** VACUUM — the MAJOR compaction: drain tombstones, then consolidate
    * each segmented component to one segment; terms net out negative
    * delete rows (the search's `sum(df) > 0` merge), stats collapse to
    * one total row — one commit, like every verb.
    */
  def vacuumTextIndex(spark: org.apache.spark.sql.SparkSession,
                      dir: String, buckets: Int = 0): Unit =
    Tombstones.vacuum(textStore(spark, dir, buckets))

  /** The text index's [[Tombstones]] declaration (in the composite
    * manifest's order). `positions/` shares the postings' buckets (both
    * key [[termBucket]] over the same tokens); `docs/` is keyed by each
    * id's own md5 bucket.
    */
  private[graft] val textIndex: Tombstones.Family = {
    import Tombstones._
    Family("text-index", idCol = "doc_id", keyCol = "bucket", model = Nil,
      components = Seq(
        Component("stats", "", CollapseTotals),
        Component("terms", "bucket", SumKeepPositive("df")),
        Component("postings", "bucket", DropById),
        Component("docs", "dbucket", DropById, byId = true),
        Component("positions", "bucket", DropById, optional = true)))
  }

  /** A text index opened for one [[Tombstones]] verb at its newest log
    * entry; a non-zero `buckets` must equal the recorded count.
    */
  private[graft] def textStore(sp: org.apache.spark.sql.SparkSession,
                               root: String,
                               buckets: Int): Tombstones.Store = {
    val e = StoreSegments.latest(sp, root)
    e.bucketsFor(root, buckets)
    new TextStore(sp, root, e, Some(e))
  }

  /** A text index at `entry` (a build's: the new layout alone). `docs/`
    * is a verb's ONE schema read (r16 job diet): its doc_id field types
    * every other component and the tombstones.
    */
  private final class TextStore(val spark: org.apache.spark.sql.SparkSession,
                                val dir: String,
                                val entry: StoreSegments.Entry,
                                override val base: Option[StoreSegments.Entry])
      extends Tombstones.Store {
    val family = textIndex
    private val nb = entry.buckets
    private lazy val docs =
      StoreSegments.readAt(spark, dir, entry, "docs", "dbucket")
    private lazy val docId = docs.schema("doc_id")
    def tombSchema = Comp.tombstones(docId)
    def read(name: String, key: String): DataFrame =
      if (name == "docs") docs
      else StoreSegments.readAt(spark, dir, entry, name, key,
        Some(Comp.of(name, docId)))
    // the partition count is EXPLICIT (r15): the count-less form gets
    // AQE-coalesced to 1-2 partitions at small inputs, serializing the
    // per-file parquet-writer inits that dominate these writes
    override def parts: Int =
      math.min(nb, spark.sparkContext.defaultParallelism)
    override def idKey(id: Column): Column =
      termBucket(id.cast("string"), nb)

    /** Every component's rows of `df`, the positions when the layout
      * stores them. The shared caches are materialized ONCE (computing
      * postings evaluates dl too) before the writes overlap — the wall is
      * one compute + the slowest write (Par's §2.6 overlap).
      */
    def rows(df: DataFrame, idCol: String,
             textCol: String): Seq[(String, DataFrame)] = {
      val dl = CacheScope.persisted(df.select(col(idCol).as("doc_id"),
        size(array_remove(tokens(col(textCol)), "")).cast("long").as("dl"),
        tokens(col(textCol)).as("toks")))
      val postings = CacheScope.persisted(
        dl.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
          .filter(col("term") =!= "")
          .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("cnt"))
          .withColumn("bucket", termBucket(col("term"), nb))
          // CLUSTER by bucket before the partitioned write: without this,
          // every shuffle partition writes a sliver into every bucket dir
          // (partitions × buckets small files — the classic partitionBy
          // mistake); clustered, each bucket is one writer's contiguous
          // output, which is also the layout a pruned read wants
          .repartition(parts, col("bucket")))
      postings.count()
      Seq(
        "postings" -> postings,
        "terms" -> postings.groupBy("term", "bucket")
          .agg(count(lit(1)).as("df")).repartition(parts, col("bucket")),
        // corpus constants as RAW TOTALS (n_docs, sum_dl), not a
        // precomputed avgdl: totals are mergeable — an append adds a row
        // per segment and search re-derives avgdl from the exact Long
        // sums, so an appended index keeps bit-identical IDF/TF arithmetic
        "stats" -> dl.agg(count(lit(1)).cast("long").as("n_docs"),
          sum("dl").cast("long").as("sum_dl")).coalesce(1),
        "docs" -> dl.select(col("doc_id"), col("dl"))
          .withColumn("dbucket",
            termBucket(col("doc_id").cast("string"), nb))
          .repartition(parts, col("dbucket"))) ++
        (if (entry.positions)
          Seq("positions" -> positionRows(df, idCol, textCol, nb, parts))
        else Nil)
    }

    /** `docs/` → (doc_id, dl) over the ids' own dbuckets, then the
      * postings they touch; negatives: one (−n, −Σdl) stats row and a
      * −count df row per touched (term, bucket). A postings-less doc
      * tombstones with bucket = -1.
      */
    def resolve(ids: DataFrame, idCol: String,
                exclude: Option[DataFrame]): Option[Tombstones.Deletion] = {
      val del0 = ids.select(col(idCol).as("doc_id")).distinct()
      val del = exclude.fold(del0)(del0.join(_, Seq("doc_id"), "left_anti"))
      val dbuckets = del.select(idKey(col("doc_id")).as("dbucket"))
        .distinct().collect().map(_.getInt(0)).toSeq
      if (dbuckets.isEmpty) return None // nothing new to delete
      val deleted = CacheScope.persisted(
        docs.filter(col("dbucket").isin(dbuckets: _*))
          .join(broadcast(del), "doc_id")
          .select(col("doc_id"), col("dl")))
      val delPost = CacheScope.persisted(
        read("postings", "bucket")
          .join(broadcast(deleted.select("doc_id")), "doc_id"))
      Some(Tombstones.Deletion(
        ids = deleted.select("doc_id"),
        touched = delPost,
        rows = delPost.select(col("doc_id"),
            col("bucket").cast("int").as("bucket"))
          .distinct()
          .unionByName(deleted.select("doc_id")
            .join(delPost.select("doc_id").distinct(), Seq("doc_id"),
              "left_anti")
            .withColumn("bucket", lit(-1))),
        negatives = Map(
          "stats" -> deleted.agg(
            (lit(0L) - count(lit(1))).cast("long").as("n_docs"),
            (lit(0L) - coalesce(sum("dl"), lit(0L))).cast("long")
              .as("sum_dl")),
          "terms" -> delPost.groupBy("term", "bucket")
            .agg((lit(0L) - count(lit(1))).cast("long").as("df"))
            .select(col("term"), col("bucket").cast("int").as("bucket"),
              col("df"))),
        // materialize delPost once (its broadcast side fully populates
        // the `deleted` cache too) before the appends overlap
        materialize = () => !deleted.isEmpty && { delPost.count(); true }))
    }
  }

  /** The OPT-IN positional component (`positions/`): one row per
    * (doc, term) with the term's 0-based positions in the doc's
    * NON-EMPTY token stream, bucketed like the postings — what phrase
    * queries consume. Opt-in because positions roughly double the
    * index's write volume (a position per token vs a count per type);
    * an index built without them serves every non-phrase query
    * identically. The store's log records the choice, and appends follow
    * it.
    */
  private def positionRows(df: DataFrame, idCol: String, textCol: String,
                           buckets: Int, parts: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(array_remove(tokens(col(textCol)), ""))
          .as(Seq("pos", "term")))
      .groupBy("doc_id", "term")
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("poss"))
      .withColumn("bucket", termBucket(col("term"), buckets))
      .repartition(parts, col("bucket"))

  /** EXACT PHRASE SEARCH over a positions-enabled index: docs where the
    * phrase's terms occur at consecutive positions, with the occurrence
    * count — the retrieval feature term-frequency postings cannot answer
    * (BM25 scores "hash" and "table" anywhere; this finds "hash table").
    * The classical positional-postings algorithm: slot i's position list
    * shifts by −i and the per-doc lists intersect left to right, so an
    * occurrence survives iff every slot aligned. Terms join ONLY within
    * their bucket-pruned position lists — the corpus text is never
    * re-scanned — and docs drop out at the first slot that kills the
    * intersection (the frame shrinks monotonically across slots).
    * Tombstoned docs are invisible, like every other search.
    *
    * Repeated phrase terms ("the big the") work: each slot re-joins the
    * term's own list under its own shift. Gated: q148 vs a from-text
    * positional re-derivation.
    */
  def phraseSearchIndex(spark: org.apache.spark.sql.SparkSession,
                        dir: String, phrase: Seq[String],
                        buckets: Int = 0): DataFrame = {
    require(phrase.nonEmpty && phrase.forall(_.nonEmpty),
      s"phrase must be non-empty terms: $phrase")
    StoreFs.retryTornReads()(phraseAt(spark, dir,
      StoreSegments.latest(spark, dir), phrase, buckets))
  }

  private def phraseAt(spark: org.apache.spark.sql.SparkSession,
                       dir: String, e: StoreSegments.Entry,
                       phrase: Seq[String], buckets: Int): DataFrame = {
    require(e.positions,
      s"the store at $dir stores no positions (${e.layout}); phrase " +
        "search needs a store built with withPositions = true")
    val nb = e.bucketsFor(dir, buckets)
    val wanted = phrase.map(termBucketOf(_, nb)).distinct
    val pos = liveRows(spark, dir, e, "positions")
      .filter(col("bucket").isin(wanted: _*))
      .filter(col("term").isin(phrase.distinct: _*))
    val slots = phrase.zipWithIndex.map { case (t, i) =>
      pos.filter(col("term") === t)
        .select(col("doc_id"),
          transform(col("poss"), p => p - lit(i.toLong)).as(s"p$i"))
    }
    val aligned = slots.zipWithIndex.tail.foldLeft(
      slots.head.select(col("doc_id"), col("p0").as("cand"))) {
      case (acc, (s, i)) =>
        acc.join(s, "doc_id")
          .select(col("doc_id"),
            array_intersect(col("cand"), col(s"p$i")).as("cand"))
          .filter(size(col("cand")) > 0)
    }
    aligned.select(col("doc_id"),
      size(col("cand")).cast("long").as("n_hits"))
  }

  /** INDEX INTEGRITY AUDIT — fsck for the text-index store: a store that
    * absorbs appends, deletes, and compactions needs a cheap way to
    * PROVE its invariants still hold before a pipeline trusts it (a
    * silent df drift poisons every IDF the index ever serves). One row:
    *
    *  - `n_terms` / `n_docs` / `sum_dl` — live inventory (tombstones
    *    excluded), the numbers to diff against an expected corpus;
    *  - `n_df_mismatch` — terms whose segment-summed df disagrees with
    *    the live postings count (MUST be 0: the invariant the negative
    *    delete rows and compaction merges are required to preserve);
    *  - `stats_docs_match` / `stats_dl_match` — the stats segments'
    *    exact totals vs the live docs/ table (MUST be true);
    *  - `n_orphan_postings` — postings whose doc has no docs/ row (MUST
    *    be 0; ids match null-safely, so a null-id doc is no orphan);
    *  - `n_tombstones` — pending physical deletes (compaction's queue).
    *
    * Gated (q147): after build + append + delete, every invariant holds
    * and the inventory equals the oracle's re-derivation from the source
    * corpus. Cost: one scan of each component — the price of trust,
    * paid on demand, never at query time.
    */
  def textIndexAudit(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    // docs/ is typed by its footer; its doc_id field types the postings
    // and tombstone reads; terms/stats are static
    // a drain deletes the tombstones it drops at once: an audit that
    // resolved just before it resolves again
    val (e, docsBase, tombIds) = StoreFs.retryTornReads() {
      val e = StoreSegments.latest(spark, dir)
      val docsBase = StoreSegments.readAt(spark, dir, e, "docs", "dbucket")
      (e, docsBase, StoreSegments.tombstoneIds(spark, dir, e, "doc_id",
        Comp.tombstones(docsBase.schema("doc_id"))))
    }
    val docId = docsBase.schema("doc_id")
    // the postings and docs subtrees each feed TWO branches of the one
    // returned plan (df inventory + orphan check resp. live totals +
    // orphan check) — persist so the single audit action scans each
    // component once, not twice (r15; the CacheScope idiom: the caller's
    // clearCache / withCaches scope owns the release)
    val postings = CacheScope.persisted(StoreFs.hideIds(
      StoreSegments.scan(spark, dir, e, "postings", "bucket",
        Comp.postings(docId)), "doc_id", tombIds))
    val docs = CacheScope.persisted(
      StoreFs.hideIds(docsBase, "doc_id", tombIds))
    val dfStored = StoreSegments.scan(spark, dir, e, "terms", "bucket",
        Comp.terms)
      .groupBy("term").agg(sum("df").cast("long").as("df_stored"))
      .filter(col("df_stored") =!= 0)
    val dfLive = postings.groupBy("term")
      .agg(count(lit(1)).cast("long").as("df_live"))
    // ONE pass over the stored-vs-live join yields both the term count
    // and the mismatch count (was two separate aggregations, r15): a row
    // carries a non-null df_live iff it is one of dfLive's terms
    val terms = dfStored.join(dfLive, Seq("term"), "full_outer")
      .agg(count(col("df_live")).cast("long").as("n_terms"),
        coalesce(sum(when(coalesce(col("df_stored"), lit(0L)) =!=
          coalesce(col("df_live"), lit(0L)), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("n_df_mismatch"))
    val live = docs.agg(count(lit(1)).cast("long").as("n_docs"),
      coalesce(sum("dl"), lit(0L)).cast("long").as("sum_dl"))
    val stats = StoreSegments.scan(spark, dir, e, "stats", "", Comp.stats)
      .agg(sum("n_docs").cast("long").as("stats_docs"),
        sum("sum_dl").cast("long").as("stats_dl"))
    val orphans = postings.select("doc_id").distinct().as("p")
      .join(docs.select("doc_id").as("d"),
        col("p.doc_id") <=> col("d.doc_id"), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_orphan_postings"))
    terms
      .crossJoin(live).crossJoin(stats).crossJoin(orphans)
      .select(col("n_terms"), col("n_df_mismatch"),
        col("n_docs"), col("sum_dl"),
        (col("stats_docs") === col("n_docs")).as("stats_docs_match"),
        (col("stats_dl") === col("sum_dl")).as("stats_dl_match"),
        col("n_orphan_postings"),
        lit(tombIds.size.toLong).as("n_tombstones"))
  }

  /** The md5 term bucket shared by build and search — the pruning key. */
  private def termBucket(term: Column, buckets: Int): Column =
    (conv(substring(md5(term), 1, 15), 16, 10).cast("long") % buckets)
      .cast("int")

  /** Driver-side mirror of [[termBucket]] — the buckets a handful of query
    * terms prune a search to.
    */
  private def termBucketOf(term: String, buckets: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % buckets).toInt
  }

  /** KNOWN component schemas — r16 job diet: every schema-less
    * spark.read.parquet pays one footer-sampling driver JOB before any
    * data moves, and the store verbs/searches were paying it per
    * component read. The layouts are fixed by this object's writers up
    * to the caller's doc_id type, so terms/stats (doc_id-free) are fully
    * static and the rest derive from ONE inference per verb.
    */
  private object Comp {
    import org.apache.spark.sql.types._
    val terms: StructType = StructType(Seq(
      StructField("term", StringType), StructField("df", LongType),
      StructField("bucket", IntegerType)))
    val stats: StructType = StructType(Seq(
      StructField("n_docs", LongType), StructField("sum_dl", LongType)))
    def postings(docId: StructField): StructType = StructType(Seq(
      docId.copy(name = "doc_id"), StructField("term", StringType),
      StructField("dl", LongType), StructField("cnt", LongType),
      StructField("bucket", IntegerType)))
    def docs(docId: StructField): StructType = StructType(Seq(
      docId.copy(name = "doc_id"), StructField("dl", LongType),
      StructField("dbucket", IntegerType)))
    def positions(docId: StructField): StructType = StructType(Seq(
      docId.copy(name = "doc_id"), StructField("term", StringType),
      StructField("poss", ArrayType(LongType)),
      StructField("bucket", IntegerType)))
    def tombstones(docId: StructField): StructType = StructType(Seq(
      docId.copy(name = "doc_id"), StructField("bucket", IntegerType)))
    /** `docId` is only forced for the components that carry it. */
    def of(comp: String, docId: => StructField): StructType = comp match {
      case "terms" => terms
      case "stats" => stats
      case "postings" => postings(docId)
      case "docs" => docs(docId)
      case "positions" => positions(docId)
    }
  }

  /** Query a [[buildTextIndex]] index: same scoring as [[bm25Search]]
    * (bit-identical micro-int scores by construction — q124 gates it
    * against q88's oracle), but the corpus side is the on-disk postings:
    * the term filter's bucket set prunes the partitioned scan, so a query
    * touches the few buckets its terms hash to, never the corpus.
    *
    * CAVEAT (documented, matching [[bm25Search]]'s own semantics): docs
    * with NO query-term hit score zero and are absent — identical to the
    * in-memory form, so the gate is apples-to-apples.
    */
  def searchTextIndex(spark: org.apache.spark.sql.SparkSession,
                      dir: String, terms: Seq[String],
                      k1: Double = 1.2, b: Double = 0.75, k: Int = 10,
                      buckets: Int = 0,
                      requireAll: Boolean = false): DataFrame =
    searchTextIndexImpl(spark, dir, terms, None, k1, b, k, buckets,
      requireAll)

  /** FILTERED lexical search — [[searchTextIndex]] under a metadata
    * predicate: top-k among only the documents whose ids appear in
    * `allowed` (the [[graft.operators.Similarity.searchIvfIndexFiltered]]
    * contract applied to the BM25 leg — search within one source, one
    * language, one license class). POST-filter semantics applied
    * PRE-rank: ineligible docs are semi-joined out of the candidate
    * postings before scoring aggregates and the top-k cut, so k survivors
    * are k ELIGIBLE survivors. Corpus statistics (df, n_docs, avgdl) stay
    * GLOBAL — the filter restricts results, not the scoring model, which
    * is the standard filtered-retrieval semantics (and what the oracle
    * recomputes).
    *
    * Scale shape: unchanged bucket-pruned scan + one UNHINTED semi-join
    * against the allowed-id set — applied to the already-term-pruned
    * candidate postings, with NO broadcast hint: the caller's eligibility
    * set is unbounded by contract ("language = en" selects half a
    * corpus), so AQE sizes the join (small set → broadcast under
    * autoBroadcastJoinThreshold; huge set → shuffle semi-join on the
    * uniform doc_id key). Same discipline as the vector stores' filtered
    * searches.
    */
  def searchTextIndexFiltered(spark: org.apache.spark.sql.SparkSession,
                              dir: String, terms: Seq[String],
                              allowed: DataFrame,
                              k1: Double = 1.2, b: Double = 0.75,
                              k: Int = 10, buckets: Int = 0,
                              requireAll: Boolean = false): DataFrame = {
    require(allowed.columns.length == 1,
      s"allowed must be a single-column frame of eligible doc ids; got " +
        s"${allowed.columns.length} columns (${allowed.columns.mkString(", ")})")
    searchTextIndexImpl(spark, dir, terms, Some(allowed), k1, b, k,
      buckets, requireAll)
  }

  private def searchTextIndexImpl(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, terms: Seq[String],
                                  allowed: Option[DataFrame],
                                  k1: Double, b: Double, k: Int,
                                  buckets: Int,
                                  requireAll: Boolean): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(k >= 1, s"k must be >= 1: $k")
    StoreFs.retryTornReads()(bm25At(spark, dir,
      StoreSegments.latest(spark, dir), terms, allowed, k1, b, k, buckets,
      requireAll))
  }

  /** The BM25 plan over entry `e`: every file it reads is one `e` names. */
  private def bm25At(spark: org.apache.spark.sql.SparkSession, dir: String,
                     e: StoreSegments.Entry, terms: Seq[String],
                     allowed: Option[DataFrame], k1: Double, b: Double,
                     k: Int, buckets: Int,
                     requireAll: Boolean): DataFrame = {
    val wanted = terms.map(termBucketOf(_, e.bucketsFor(dir, buckets))).distinct
    // the corpus totals enter the plan as literals; avgdl derives with the
    // IDENTICAL `sum · 1.0 / count` expression shape bm25Search uses, so a
    // one-segment index and an appended one score the same
    val (nDocs, sumDl) = corpusTotals(spark, dir, e)
    val avgdl = sumDl * lit(1.0) / nDocs
    val dfreq = StoreSegments.scan(spark, dir, e, "terms", "bucket",
        Comp.terms)
      .filter(col("bucket").isin(wanted: _*))
      .filter(col("term").isin(terms: _*))
      .groupBy("term").agg(sum("df").cast("long").as("df"))
    // tombstoned docs are invisible to scoring (liveRows' driver-constant
    // filter — tombstones stay delete-batch-sized because compactTextIndex
    // drains them); df and the totals need nothing here, their segment
    // sums already absorb the delete's negative rows
    val qt1 = liveRows(spark, dir, e, "postings")
      .filter(col("bucket").isin(wanted: _*))
      .filter(col("term").isin(terms: _*))
    // eligibility BEFORE scoring/rank (filtered-retrieval semantics) —
    // one semi-join with NO broadcast hint (the allowed set is
    // caller-supplied and unbounded; AQE broadcasts a small one and
    // shuffle-semi-joins a huge one); df and the totals stay global
    val qt = allowed match {
      case Some(a) => qt1.join(
        a.select(col(a.columns.head).as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      case None => qt1
    }
    val idf = log((nDocs - col("df") + lit(0.5)) / (col("df") + lit(0.5))
      + lit(1.0))
    val tf = (col("cnt") * (lit(k1) + lit(1.0))) /
      (col("cnt") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    qt.join(broadcast(dfreq), "term")
      .withColumn("micro", round(idf * tf * lit(1e6)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_hit"),
        sum("micro").cast("long").as("bm25_micro"))
      // requireAll = boolean-AND retrieval: only docs hitting EVERY query
      // term rank (n_terms_hit counts distinct terms by construction —
      // one qt row per (doc, term)); the conjunctive mode a
      // precision-first retrieval pipeline runs, same pruned scan
      .filter(if (requireAll) col("n_terms_hit") === terms.distinct.size
              else lit(true))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** A search's live rows of the doc-keyed component `comp` (postings or
    * positions) at `e`: [[StoreSegments.live]] under the declared layout,
    * its doc_id typed by the component's footer.
    */
  private def liveRows(spark: org.apache.spark.sql.SparkSession, dir: String,
                       e: StoreSegments.Entry, comp: String): DataFrame =
    StoreSegments.live(spark, dir, e, comp, "bucket", "doc_id",
      declare = f => Comp.of(comp, f("doc_id")),
      tombSchema = s => Comp.tombstones(s("doc_id")))

  /** The corpus totals (`n_docs`, `sum_dl`) summed over `e`'s stats
    * segments, as Long literals (null on a store with no stats row): a
    * bounded driver value, reused while the stats segments are the same
    * ([[StoreFs.frozen]]), so a warm search runs no aggregate or broadcast
    * for them.
    */
  private def corpusTotals(spark: org.apache.spark.sql.SparkSession,
                           dir: String,
                           e: StoreSegments.Entry): (Column, Column) = {
    val r = StoreFs.frozen("text corpus totals", dir +: e.ids("stats")) {
      StoreSegments.scan(spark, dir, e, "stats", "", Comp.stats)
        .agg(sum("n_docs").cast("long"), sum("sum_dl").cast("long")).head
    }
    (lit(r.get(0)).cast("long"), lit(r.get(1)).cast("long"))
  }

  /** In-engine QUALITY-CLASSIFIER TRAINING — full-batch logistic
    * regression over [[hashingVectors]] features (the DCLM-style recipe:
    * hash the text, fit a linear model on cheap labels, score the corpus
    * with [[classifierScore]]'s family). Emitted per dimension, in exact
    * integer arithmetic:
    *
    *  - `g1` = Σᵢ xᵢⱼ·(1 − 2yᵢ) — TWICE the step-1 gradient: at w₀ = 0
    *    every σ is exactly ½, so the first gradient is half an integer
    *    and 2·grad is exact with no transcendental at all;
    *  - `w1_micro` = −500·g1 — the step-1 weights at lr = 10⁻³ in
    *    micro-units (500 = lr·10⁶/2, exact);
    *  - `grad2_micro` = Σᵢ xᵢⱼ·(σ_micro(zᵢ) − 10⁶·yᵢ) — the step-2
    *    gradient: zᵢ = Σⱼ w1ⱼ·xᵢⱼ sums in LONG micro-units (order-free —
    *    a double fold would be partial-aggregation-order dependent), and
    *    the ONE transcendental, σ, rounds to integer micro before any
    *    sum (q40's ln rule applied to exp — the micro grid absorbs the
    *    libm 1-ulp spread).
    *
    * The update rule (w₂ = w₁ − lr·grad₂ or any schedule) is the
    * caller's: emitting the gradient instead of applying it keeps signed
    * integer division — whose truncate-vs-floor semantics DIVERGE between
    * engines — out of the gate entirely.
    *
    * Scale shape: the classic distributed GLM iteration — features and
    * labels co-shuffle on doc_id once per pass, the dims-bounded weight
    * vector broadcasts back, gradients reduce in one bounded-key
    * aggregate. Same loop skeleton as [[Similarity.kmeans]] (q117).
    */
  def logRegTrainReport(df: DataFrame, idCol: String, textCol: String,
                        label: Column, dims: Int): DataFrame = {
    val x = CacheScope.persisted(hashingVectors(df, idCol, textCol, dims))
    val y = df.select(col(idCol).as("doc_id"), label.cast("long").as("y"))
    val g1 = x.join(y, "doc_id").groupBy("dim_idx")
      .agg(sum(col("value") * (lit(1L) - lit(2L) * col("y")))
        .cast("long").as("g1"))
    val w1 = CacheScope.persisted(
      g1.withColumn("w1_micro", (lit(-500L) * col("g1")).cast("long")))
    val z = x.join(broadcast(w1.select(col("dim_idx"), col("w1_micro"))), "dim_idx")
      .groupBy("doc_id")
      .agg(sum(col("w1_micro") * col("value")).cast("long").as("z_micro"))
    val sg = z.select(col("doc_id"),
      round(lit(1e6) / (lit(1.0) + exp(-(col("z_micro") / lit(1e6)))))
        .cast("long").as("sig_micro"))
    val g2 = x.join(y, "doc_id").join(sg, "doc_id")
      .groupBy("dim_idx")
      .agg(sum(col("value") * (col("sig_micro") - lit(1000000L) * col("y")))
        .cast("long").as("grad2_micro"))
    w1.join(g2, Seq("dim_idx"))
      .select(col("dim_idx"), col("g1"), col("w1_micro"), col("grad2_micro"))
      .orderBy("dim_idx")
  }

  /** Iterated logistic-regression TRAINING to a usable model —
    * [[logRegTrainReport]] gates the first two unrolled steps; this runs
    * the full loop for `passes` gradient steps and emits the FINAL
    * weights (dim_idx, w_micro), every pass in the same exact
    * micro-integer arithmetic (q117's unroll treatment applied to the
    * GLM):
    *
    *  - zᵢ = Σⱼ wⱼ·xᵢⱼ sums in LONG micro-units (order-free);
    *  - σ rounds to integer micro BEFORE any sum (the one transcendental
    *    per pass; the micro grid absorbs the libm 1-ulp spread);
    *  - the update w ← w − grad/1000 (lr = 10⁻³) uses the
    *    half-away-from-zero integer step `sign·((2|g|+1000) div 2000)` —
    *    [[Similarity.meanPool]]'s division device — so no signed integer
    *    division (truncate-vs-floor engine divergence) ever runs.
    *
    * Pass 1 falls out of the generic loop: w₀ = 0 → z = 0 → σ = 500000
    * exactly, reproducing [[logRegTrainReport]]'s w1_micro = −500·g1.
    *
    * Scale shape: per pass, features and labels co-shuffle on doc_id
    * once and the dims-bounded weight frame broadcasts back — the
    * classic distributed-GLM iteration; `passes` is a small constant
    * (logreg over hashed features converges in a handful of full-batch
    * steps), and each pass's weight frame persists so lineage stays one
    * pass deep.
    */
  def logRegTrain(df: DataFrame, idCol: String, textCol: String,
                  label: Column, dims: Int, passes: Int): DataFrame = {
    require(passes >= 1, s"passes must be >= 1: $passes")
    val spark = df.sparkSession
    import spark.implicits._
    // cache the features PRE-PARTITIONED on doc_id: every pass joins x
    // twice on doc_id (z-sum side and gradient side), and the cached
    // frame's hashingVectors partitioning is (doc_id, dim_idx) — wrong
    // key, so each pass re-shuffled x twice. A cached InMemoryRelation
    // preserves outputPartitioning, so one repartition here removes two
    // exchanges per pass at every scale (guide §2.4). (r15)
    val x = CacheScope.persisted(
      hashingVectors(df, idCol, textCol, dims).repartition(col("doc_id")))
    val y = df.select(col(idCol).as("doc_id"), label.cast("long").as("y"))
    // The weight vector is the MODEL — `dims` rows, collected to the
    // driver each pass and re-emitted as a literal frame (the
    // [[Similarity.kmeans]] codebook-as-data pattern). Chaining the w
    // frames lazily instead would embed pass p−1's plan TWICE in pass
    // p's (once via z, once via the update join): 2^passes plan growth,
    // an analyzer heap blowup by pass ~8. Collecting keeps every pass's
    // plan O(1)-deep over the persisted features; the collect is the
    // same bounded driver scalar as the k-means codebook.
    var w: Seq[(Long, Long)] =
      x.select("dim_idx").distinct().collect()
        .map(r => (r.getLong(0), 0L)).toSeq.sortBy(_._1)
    (1 to passes).foreach { _ =>
      val wDf = w.toDF("dim_idx", "w_micro")
      val sg = logRegSigmoid(x, wDf)
      val grad = x.join(y, "doc_id").join(sg, "doc_id")
        .groupBy("dim_idx")
        .agg(sum(col("value") * (col("sig_micro") - lit(1000000L) * col("y")))
          .cast("long").as("g"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // half-away-from-zero grad/1000 step — exact, engine-agnostic
      w = w.map { case (d, wm) =>
        val g = grad.getOrElse(d, 0L)
        val step = ((2L * math.abs(g) + 1000L) / 2000L) * (if (g < 0) -1L else 1L)
        (d, wm - step)
      }
    }
    w.toDF("dim_idx", "w_micro")
  }

  /** Per-doc z and σ under a weight frame — the shared kernel of the
    * training loop and [[logRegScore]]. Docs with no features are absent
    * here (they contribute nothing to any gradient); the scorer
    * re-attaches them with z = 0.
    */
  private def logRegSigmoid(x: DataFrame, w: DataFrame): DataFrame =
    x.join(broadcast(w), "dim_idx")
      .groupBy("doc_id")
      .agg(sum(col("w_micro") * col("value")).cast("long").as("z_micro"))
      .select(col("doc_id"), col("z_micro"),
        round(lit(1e6) / (lit(1.0) + exp(-(col("z_micro") / lit(1e6)))))
          .cast("long").as("sig_micro"))

  /** SCORE a corpus with a [[logRegTrain]] model: per doc, the exact
    * micro-int logit, its σ, and the decision — training→scoring as one
    * gated pipeline (q136). Docs with no features (empty text, or every
    * hashed dimension cancelled) score z = 0 → σ = ½ → pred false, and
    * they DO appear (silently dropping unscorable docs is how a quality
    * filter loses corpus).
    */
  def logRegScore(df: DataFrame, idCol: String, textCol: String,
                  weights: DataFrame, dims: Int): DataFrame = {
    val x = hashingVectors(df, idCol, textCol, dims)
    df.select(col(idCol).as("doc_id"))
      .join(logRegSigmoid(x, weights), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("z_micro"), lit(0L)).as("z_micro"),
        coalesce(col("sig_micro"), lit(500000L)).as("sig_micro"),
        (coalesce(col("sig_micro"), lit(500000L)) > 500000L).as("pred"))
  }

  /** Zipf power-law fit of the term distribution — the corpus-health
    * diagnostic (natural text follows freq ∝ 1/rank^s with s ≈ 1;
    * boilerplate-heavy or template-generated corpora bend the curve, and
    * the fitted slope is the one-number detector). Least squares over the
    * exact top-`topN` (count desc, term asc) ranks in log-log space,
    * points fixed to integer micro-nats (q40's round-before-sum rule, the
    * cross-engine-stable ln convention), and the slope emitted as the
    * exact integer RATIO `slope_num / slope_den` — no division ever runs,
    * so there is no truncation-vs-floor engine divergence and no float
    * fold; consumers divide (Zipfian text gives a ratio near −1·10⁶
    * micro... i.e. num/den ≈ −1).
    *
    * Scale shape: one token-count aggregate, a TakeOrderedAndProject cut
    * to `topN` rows, then the rank window and moment sums run on that
    * bounded frame only.
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    require(topN >= 2, s"a line fit needs topN >= 2: $topN")
    import org.apache.spark.sql.expressions.Window
    val top = df.select(explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(topN)
    val w = Window.orderBy(col("cnt").desc, col("term")) // topN rows only
    top.withColumn("rk", row_number().over(w))
      .select(round(log(col("rk")) * 1e6).cast("long").as("x"),
        round(log(col("cnt")) * 1e6).cast("long").as("y"))
      .agg(count(lit(1)).as("n_pts"),
        sum("x").cast("long").as("sx"), sum("y").cast("long").as("sy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("x") * col("y")).cast("long").as("sxy"))
      .select(col("n_pts"), col("sx"), col("sy"), col("sxx"), col("sxy"),
        (col("n_pts") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_pts") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
  }

  /** Query-side point lookup over a `graft_cms` sketch array: the min
    * over the sketch's `depth` hashed cells for `term` — the classical
    * CMS estimate, always >= the true count. Pure column expression: the
    * sketch rides along as a (broadcast) literal-sized array, the hashes
    * are the same md5/modular arithmetic the aggregate used, so lookup
    * needs no UDF and stays inside codegen.
    */
  def cmsEstimate(sketch: Column, term: Column,
                  depth: Int = 4, width: Int = 512): Column = {
    val base = conv(substring(md5(term), 1, 7), 16, 10).cast("long")
    val P = graft.functions.CountMinSketch.P
    val lookups = graft.functions.CountMinSketch.consts.take(depth).zipWithIndex
      .map { case ((a, b), r) =>
        element_at(sketch,
          (lit(r * width) + ((lit(a) * base + lit(b)) % lit(P)) % lit(width)
            + 1).cast("int"))
      }
    // geometry guard: a sketch built with different depth/width would make
    // rows >= 1 index the WRONG cells — and an out-of-range element_at
    // returns null, which least() skips, so the mismatch could silently
    // UNDERCOUNT (breaking the sketch's one-sided-error guarantee). The
    // array length encodes the geometry (depth·width + 1), so fail loudly.
    when(size(sketch) === depth * width + 1, least(lookups: _*))
      .otherwise(raise_error(concat(
        lit(s"graft_cms geometry mismatch: estimate expects ${depth}x$width" +
          s" (array length ${depth * width + 1}), sketch has "),
        size(sketch).cast("string"))))
  }

  /** Frequency-estimation audit (q115): build ONE corpus-wide Count-Min
    * sketch over the token stream — `depth·width` longs of aggregation
    * state, never a per-term shuffle — then report, for the exact top
    * `k` terms, the true count next to the sketch's estimate. The
    * measured one-sided error (est - true >= 0 always) is the evidence
    * for sizing `width` before trusting the sketch at 100 TB, exactly
    * [[Similarity.recallReport]]'s role for the ANN index. The exact
    * side exists for the audit; production reads the sketch alone.
    */
  def cmsFrequencyReport(df: DataFrame, textCol: String, k: Int,
                         depth: Int = 4, width: Int = 512): DataFrame = {
    graft.functions.CountMinSketch.ensureRegistered(df.sparkSession)
    val toks = CacheScope.persisted(
      df.select(explode(tokens(col(textCol))).as("term"))
        .filter(col("term") =!= ""))
    val sketch = toks.agg(
      call_function("graft_cms", col("term"), lit(depth), lit(width)).as("sk"))
    toks.groupBy("term").agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("term")).limit(k)
      .crossJoin(broadcast(sketch))
      .select(col("term"), col("true_cnt"),
        cmsEstimate(col("sk"), col("term"), depth, width).as("est_cnt"))
      .orderBy(col("true_cnt").desc, col("term"))
  }

  /** HyperLogLog distinct-count audit: ONE `2^p`-byte register file over
    * the whole token stream (the [[graft.functions.HyperLogLogSketch]]
    * native aggregate — bounded state whatever the vocabulary), emitted
    * register-for-register next to the raw estimate, the zero-register
    * count, and the exact distinct count. One row per register; the
    * summary columns ride on every row so the entire object — registers
    * AND the arithmetic derived from them — sits under one oracle hash.
    *
    * Estimate arithmetic is engine-portable by construction: the
    * harmonic sum `Σ 2^-M_j` is scaled by `2^(window+1)` into an EXACT
    * integer `s_sum` (≤ m·2^43 < 2^53, so even its double image is
    * exact), and the only float steps — `(α·m²) · (2^(window+1)/s_sum)`,
    * then floor — are the identical IEEE sequence in both engines. The
    * raw estimate is emitted uncorrected; `zero_regs` is published so a
    * consumer can apply linear counting (`m·ln(m/V)`) where it prefers —
    * `ln` is deliberately kept OUT of the gate (libm is not
    * correctly-rounded, so it could differ across engines).
    *
    * The exact `true_distinct` here costs the very distinct-shuffle the
    * sketch exists to avoid — affordable at fixture scale, and the point
    * of the audit: the error the 64-byte summary would commit at 100 TB,
    * measured while the truth is still computable.
    */
  def hllDistinctReport(df: DataFrame, textCol: String, p: Int = 6): DataFrame = {
    graft.functions.HyperLogLogSketch.ensureRegistered(df.sparkSession)
    val toks = df.select(explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    hllReportFromRegs(toks.agg(
      call_function("graft_hll", col("term"), lit(p)).as("regs"),
      countDistinct(col("term")).as("true_distinct")), p)
  }

  /** [[hllDistinctReport]]'s register post-processing, factored so a
    * STREAMING-built register file (q180: the sketch merged across
    * micro-batches through the state store) runs through the identical
    * estimate arithmetic as the batch one. Expects a 1-row frame with
    * `regs: array<bigint>` and `true_distinct`.
    */
  private[graft] def hllReportFromRegs(sketch: DataFrame, p: Int): DataFrame =
    sketch
      .withColumn("s_sum", hllHarmonicSum(col("regs"), p))
      .withColumn("zero_regs", hllZeroRegs(col("regs")))
      .withColumn("est", hllEstimate(col("s_sum"), p))
      .select(col("zero_regs"), col("est"), col("true_distinct"),
        posexplode(col("regs")))
      .select(col("pos").cast("long").as("reg_idx"), col("col").as("reg_val"),
        col("zero_regs"), col("est"), col("true_distinct"))
      .orderBy("reg_idx")

  /** `Σ 2^(window+1−M_j)` — the harmonic sum scaled to an EXACT integer
    * (≤ m·2^43 < 2^53, so even its double image is exact).
    */
  private[graft] def hllHarmonicSum(regs: Column, p: Int): Column =
    aggregate(regs, lit(0L), (acc, r) =>
      acc + call_function("shiftleft", lit(1L),
        lit(48 - p + 1) - r.cast("int")))

  private[graft] def hllZeroRegs(regs: Column): Column =
    aggregate(regs, lit(0L), (acc, r) =>
      acc + when(r === 0L, lit(1L)).otherwise(lit(0L)))

  /** The raw HLL estimate from the exact-integer harmonic sum — the one
    * documented IEEE sequence `(α·m²)·(2^(window+1)/s_sum)`, floored.
    */
  private[graft] def hllEstimate(sSum: Column, p: Int): Column = {
    val m = 1 << p
    floor(lit(graft.functions.HyperLogLogSketch.alpha(p)) *
      lit(m.toDouble * m) *
      (lit(math.pow(2.0, 48 - p + 1)) / sSum.cast("double")))
      .cast("long")
  }

  /** Per-GROUP HLL distinct estimates — the sketch as a groupBy aggregate
    * (which a `TypedImperativeAggregate` natively is): one `2^p`-byte
    * register file PER GROUP instead of a per-group distinct-key shuffle.
    * At 100 TB this is the per-source vocabulary profile at 64 bytes per
    * source; the exact column is the audit's deliberate cost, affordable
    * at fixture scale. Output: (group, zero_regs, est, true_distinct).
    */
  def hllDistinctByGroup(df: DataFrame, groupCol: String, textCol: String,
                         p: Int = 6): DataFrame = {
    graft.functions.HyperLogLogSketch.ensureRegistered(df.sparkSession)
    df.select(col(groupCol).as("grp"),
        explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("grp")
      .agg(call_function("graft_hll", col("term"), lit(p)).as("regs"),
        countDistinct(col("term")).as("true_distinct"))
      .withColumn("s_sum", hllHarmonicSum(col("regs"), p))
      .select(col("grp").as(groupCol),
        hllZeroRegs(col("regs")).as("zero_regs"),
        hllEstimate(col("s_sum"), p).as("est"),
        col("true_distinct"))
  }

  def heavyHitterTerms(df: DataFrame, groupCol: String, textCol: String,
                       capacity: Int, k: Int): DataFrame = {
    require(k >= 1 && capacity >= k, s"need 1 <= k <= capacity: k=$k cap=$capacity")
    graft.functions.HeavyHitters.ensureRegistered(df.sparkSession)
    df.select(col(groupCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(groupCol))
      .agg(expr(s"graft_heavy_hitters(term, $capacity)").as("hh"))
      .select(col(groupCol), posexplode(slice(col("hh"), 1, k)))
      .select(col(groupCol), col("col.term").as("term"),
        col("col.cnt_lb").as("cnt_lb"), col("col.err").as("err"),
        (col("pos") + 1).cast("long").as("rk"))
  }

  /** BM25 ranked search: score every document against a bag of query
    * terms with Okapi BM25 (Lucene's non-negative idf variant,
    * `ln((N - df + 0.5)/(df + 0.5) + 1)`), return the top-k — the "find
    * me training documents about X" audit query, and the ranked sibling
    * of [[phraseHits]] / [[tfidfTopTerms]]. Per-(doc, term) contributions
    * round to integer MICRO-units before the per-doc sum (the q40/q57/q68
    * rule), so the score is exact 64-bit arithmetic — order-independent
    * and oracle-hashable — and the top-k ordering is deterministic
    * (score desc, doc_id asc).
    *
    * Scale shape: the term filter is an `isin` against the |terms|-sized
    * constant, applied map-side BEFORE any aggregation — only matching
    * (doc, term) rows ever aggregate, ≤ |terms| rows per doc. The
    * document-length frame is PERSISTED and serves three consumers (the
    * corpus-size + avgdl statistics — folded into ONE broadcast 1-row
    * agg — and the per-doc join), so the corpus is tokenized exactly
    * twice (lengths + term scan), never four times; per-term document
    * frequencies ride as a broadcast ≤|terms|-row frame. Final top-k is
    * TakeOrderedAndProject: O(k) heap per partition, never a global sort.
    */
  def bm25Search(df: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
                 k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(k >= 1, s"k must be >= 1: $k")
    val dl = CacheScope.persisted(df.select(col(idCol).as("doc_id"),
      size(array_remove(tokens(col(textCol)), "")).cast("long").as("dl")))
    // one agg over the persisted lengths yields BOTH statistics — same
    // values (and the same IEEE expression shapes) as the former separate
    // count()/avg pair, minus two corpus scans
    val stats = dl.agg(count(lit(1)).cast("long").as("n_docs"),
      (sum("dl") * lit(1.0) / count(lit(1))).as("avgdl"))
    val qt = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    val dfreq = qt.groupBy("term").agg(count(lit(1)).as("df"))
    // expression SHAPES mirror the oracle verbatim so IEEE folds agree
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
      + lit(1.0))
    val tf = (col("cnt") * (lit(k1) + lit(1.0))) /
      (col("cnt") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    qt.join(dl, "doc_id")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("micro", round(idf * tf * lit(1e6)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_hit"),
        sum("micro").cast("long").as("bm25_micro"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** RECIPROCAL-RANK FUSION — the standard hybrid-retrieval combiner
    * (Cormack et al., SIGIR 2009): each input ranking contributes
    * `⌊10⁶ / (kConst + rank)⌋` per document and the fused score is the
    * exact integer sum, so lexical (BM25) and semantic (vector) rankings
    * merge WITHOUT score calibration — ranks are scale-free where raw
    * scores are not, which is why RRF is the default hybrid fuser in
    * every production retrieval stack. Inputs: frames of
    * (doc_id, rank) with rank 1-based; a doc absent from a list simply
    * contributes nothing. Output: (doc_id, n_lists, rrf_micro, rank) top
    * `topK`, total order (rrf_micro desc, doc_id).
    *
    * Integer div truncates identically in Spark (`DIV`) and DuckDB
    * (`//`) for the always-positive operands here — the signed-division
    * hazard does not arise. The global rank window is bounded by
    * construction: candidates ≤ Σ input list sizes (callers pass top-N
    * lists, not corpora).
    */
  def rrfFuse(rankings: Seq[DataFrame], kConst: Int = 60,
              topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val contribs = rankings.map(r =>
      r.select(col("doc_id").cast("long").as("doc_id"),
        expr(s"CAST(1000000 DIV ($kConst + rank) AS BIGINT)").as("c")))
    val w = Window.orderBy(col("rrf_micro").desc, col("doc_id").asc)
    contribs.reduce(_ unionAll _)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lists"),
        sum(col("c")).cast("long").as("rrf_micro"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** C4-style boilerplate removal: a chunk (positional token window, the
    * [[chunkByTokens]] unit q64 uses) occurring in at least `minDocs`
    * DISTINCT documents is boilerplate — navigation bars, cookie banners,
    * license headers — and is removed from EVERY document, first
    * occurrence included. The complement of [[graft.operators.Dedup
    * .paragraphDedup]]'s keep-first rule: dedup preserves one copy of
    * repeated content, boilerplate strip decides repetition across enough
    * documents means the content is template, not content. Output per doc:
    * (doc_id, n_chunks, n_boiler, kept_toks, kept_fp) with the reassembled
    * surviving text proven byte-exact under the md5.
    *
    * Scale shape: q64's exactly — the boilerplate decision aggregates the
    * skinny (h, doc_id) frame (two-level distinct-then-count, both
    * map-side combinable, so a chunk repeated a billion times in one
    * partition arrives at each exchange as one row); chunk TEXT moves only
    * on the uniform doc_id key for reassembly. The boilerplate set is
    * bounded by the corpus's repeated-chunk count, never materialized on
    * the driver.
    */
  def boilerplateStrip(df: DataFrame, idCol: String, textCol: String,
                       window: Int = 10, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val chunks = CacheScope.persisted(
      chunkByTokens(df, idCol, textCol, window, overlap = 0)
        .select(col("doc_id"), col("chunk_idx").as("pos"), col("n_toks"),
          col("chunk"), md5(col("chunk")).as("h")))
    val boiler = chunks.select(col("h"), col("doc_id")).distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"), lit(true).as("is_boiler"))
    chunks.join(boiler, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).cast("long").as("n_boiler"),
        sum(when(col("is_boiler"), 0L).otherwise(col("n_toks")))
          .cast("long").as("kept_toks"),
        md5(array_join(transform(
          sort_array(collect_list(when(col("is_boiler").isNull,
            struct(col("pos"), col("chunk"))))),
          p => p("chunk")), " ")).as("kept_fp"))
  }

  /** Exact TOKEN-PHRASE search: every document containing the query
    * phrase as a consecutive token run, with occurrence count and first
    * position — the audit query behind leak hunting ("which documents
    * contain this memorized string?") and spot decontamination. Token
    * semantics, not substring: "rock and roll" never matches
    * "bedrock and rolling".
    *
    * Scale shape: pure map-side — each document explodes to its
    * |tokens| candidate start positions, the phrase-length window at
    * each start is built by codegen'd element_at comparisons against the
    * phrase CONSTANT (no joins, no shuffle before the per-doc aggregate,
    * which reuses the scan's partitioning keys-free as a partial agg).
    * Output: (doc_id, n_hits, first_pos), hits only.
    */
  def phraseHits(df: DataFrame, idCol: String, textCol: String,
                 phrase: String): DataFrame = {
    val ptoks = phrase.split(" ").filter(_.nonEmpty)
    require(ptoks.nonEmpty, "phrase must contain at least one token")
    val w = ptoks.length
    val matchAt = ptoks.zipWithIndex
      .map { case (t, j) => element_at(col("t"), col("p") + j) === lit(t) }
      .reduce(_ && _)
    df.select(col(idCol).as("doc_id"),
        filter(tokens(col(textCol)), t => t =!= "").as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - (w - 1))).as("p"))
      .filter(matchAt)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min("p").cast("long").as("first_pos"))
  }

  /** Corpus-unigram-LM surprisal per document — the cheap language-model
    * quality signal (a KenLM-shaped score without an external model): the
    * corpus itself is the unigram model, and a document's score is its
    * total negative log-likelihood, Σ_tokens ln(N / C(w)) nats, where C(w)
    * is the token's corpus count and N the corpus token total. Documents
    * full of corpus-rare tokens (noise, mojibake, another language) score
    * high; templated boilerplate scores low — the standard
    * perplexity-bucket filter of a pretraining mix.
    *
    * DETERMINISM: a per-doc SUM of doubles is order-dependent (float
    * addition is not associative), so a cross-engine gate could never hash
    * it. Each (doc, term) contribution is therefore rounded to integer
    * MICRO-nats (`round(cnt·ln(N/C)·1e6)` as a long) and the per-doc sum
    * runs in exact 64-bit integer arithmetic — order-independent, so Spark
    * and the oracle agree bit-for-bit regardless of partitioning. The
    * public `nats_per_token` divides the exact micro sum back out.
    *
    * Scale: tokenize-explode (map-side), one vocab-keyed agg (bounded by
    * vocab size, partial-agg combined), one broadcast of the 1-row corpus
    * total, one join back on term, one doc-keyed agg. No driver scalar at
    * all — even the corpus total N stays in the plan (q27's `count()` is
    * the only other pattern, and it is a constant).
    */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val perDoc = CacheScope.persisted(
      terms.groupBy("doc_id", "term").agg(count(lit(1)).as("cnt")))
    val tfreq = perDoc.groupBy("term").agg(sum("cnt").as("c"))
    val total = tfreq.agg(sum("c").as("n_tot"))
    perDoc
      .join(tfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("micro",
        round(col("cnt") * log(col("n_tot") * lit(1.0) / col("c")) * lit(1e6))
          .cast("long"))
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("ntok"),
        sum("micro").cast("long").as("surprisal_micro"))
      .withColumn("nats_per_token",
        round(col("surprisal_micro") / lit(1e6) / col("ntok"), 4))
  }

  /** Corpus-bigram-LM surprisal per document — [[unigramSurprisal]]'s
    * context-aware sibling, the shape of the CCNet-style perplexity filter
    * (Wenzek et al. 2020, arXiv:1911.00359): the corpus itself is the
    * bigram model, and a document's score is Σ over its adjacent token
    * pairs of −ln P(b | a) under add-one smoothing,
    *
    *   P(b | a) = (C(a,b) + 1) / (C(a) + V)
    *
    * with C(a,b) the corpus bigram count, C(a) = Σ_b C(a,b) the context
    * count (derived from the bigram table, so the two are consistent by
    * construction), and V the number of distinct predicted types. A
    * document of corpus-typical word SEQUENCES scores low even when its
    * individual words are common — the signal that separates shuffled-word
    * noise from prose, which no unigram model can see.
    *
    * Documents with fewer than two (non-empty) tokens have no bigrams and
    * are absent from the output, like token-less documents under
    * [[unigramSurprisal]].
    *
    * DETERMINISM: per-(doc, a, b) contributions round to integer
    * micro-nats before the per-doc sum (exact 64-bit, order-independent —
    * [[unigramSurprisal]]'s rule), so the score hashes identically across
    * engines.
    *
    * Scale: pairing is map-side — explode a position sequence and
    * `element_at` twice (the [[chunkByTokens]] shape; `array_remove`
    * strips empty tokens codegen'd, no HOF touches the corpus). Then three
    * bounded-key aggregations (doc×bigram, bigram, context), all
    * partial-agg combined; V and nothing else crosses as a broadcast 1-row
    * frame. The bigram-type table is the scale knob: it grows with TYPE
    * count (Heaps-law sublinear), not corpus size, and the stats join is a
    * plain equi-join on (a, b) — a hot bigram reduces map-side in `perDoc`
    * first, one row per containing document.
    */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = df
      .select(col(idCol).as("doc_id"),
        array_remove(tokens(col(textCol)), "").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("p"))
      .select(col("doc_id"),
        element_at(col("t"), col("p")).as("a"),
        element_at(col("t"), col("p") + 1).as("b"))
    val perDoc = CacheScope.persisted(
      pairs.groupBy("doc_id", "a", "b").agg(count(lit(1)).as("cnt")))
    // corpus stats all derive from ONE bigram-type frame (persisted: it
    // feeds the stats join, the context rollup, and the vocab count)
    val bfreq = CacheScope.persisted(
      perDoc.groupBy("a", "b").agg(sum("cnt").as("cab")))
    val ctx = bfreq.groupBy("a").agg(sum("cab").as("ca"))
    val vocab = bfreq.agg(count_distinct(col("b")).as("v"))
    perDoc
      .join(bfreq, Seq("a", "b"))
      .join(ctx, Seq("a"))
      .crossJoin(broadcast(vocab))
      .withColumn("micro",
        round(col("cnt") * log((col("ca") + col("v")) * lit(1.0) / (col("cab") + 1L)) * lit(1e6))
          .cast("long"))
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_bigrams"),
        sum("micro").cast("long").as("surprisal_micro"))
      .withColumn("nats_per_bigram",
        round(col("surprisal_micro") / lit(1e6) / col("n_bigrams"), 4))
  }

  /** Vocabulary-coverage curve: the top-`k` corpus tokens by frequency with
    * each prefix's cumulative share of all token occurrences — the table a
    * tokenizer-training pass reads to pick a vocab size ("the top 30k types
    * cover 99.5% of tokens"). Deterministic total order: count desc, token
    * asc.
    *
    * Scale: one partial-agg token count, then `orderBy.limit(k)` plans
    * TakeOrderedAndProject (true top-k, never a full sort), and only the k
    * survivors enter the single-partition running-sum window — the
    * unpartitioned window is bounded by k, not by the corpus. Counts
    * cumulate in exact longs; the only division is the final rounded share.
    */
  def vocabCoverage(df: DataFrame, textCol: String, k: Int): DataFrame = {
    // the count frame feeds TWO plan branches (top-k and the corpus total);
    // persist it so the tokenize+count pass scans the corpus once
    val counts = CacheScope.persisted(df
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt")))
    val total = counts.agg(sum("cnt").as("total"))
    val ord = Seq(col("cnt").desc, col("token").asc)
    val w = Window.orderBy(ord: _*)
    counts.orderBy(ord: _*).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_cnt", sum("cnt").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("cnt"),
        round(col("cum_cnt") / col("total"), 6).as("coverage"))
  }

  /** Per-group corpus health report — the one-page summary a data curator
    * reads per source/domain before mixing: document and token volume,
    * exact-duplicate redundancy (docs minus distinct fingerprints), and
    * mean quality score. Composes [[fingerprint]], [[tokenCount]] and
    * [[qualityScore]] in a single pass.
    *
    * Scale: one map-side projection + one agg keyed by the (bounded)
    * group column. The mean quality avoids the order-dependent
    * double-sum hazard the same way [[unigramSurprisal]] does: per-doc
    * scores round to integer micro-units first, sum exactly, divide once.
    */
  def corpusReport(df: DataFrame, idCol: String, textCol: String,
                   groupCol: String): DataFrame = {
    val t = tokens(col(textCol))
    df.select(col(groupCol),
        fingerprint(col(textCol)).as("fp"),
        tokenCountFromTokens(t).cast("long").as("ntok"),
        round(qualityScoreFromTokens(t) * lit(1e6)).cast("long").as("q_micro"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").cast("long").as("n_tokens"),
        countDistinct(col("fp")).as("n_unique"),
        round(sum("q_micro") / lit(1e6) / count(lit(1)), 4).as("avg_quality"))
  }

  /** Winnowing-style rolling fingerprint: minimum md5 over the document's
    * character w-grams sampled every `stride` positions. Two documents
    * sharing a long w-char run have a chance of colliding; the min-of-window
    * form is the classic MOSS/winnowing selection rule reduced to one global
    * window. `stride` trades collision sensitivity for hash count (stride 4
    * hashes a quarter of the windows — measured 4× cheaper, and at 100 TB
    * this is the dominant per-document cost of the text-stats pass).
    *
    * Fused native expression ([[graft.functions.RollingFingerprint]]): the
    * composable `array_min(transform(sequence(...), i => md5(substr(...))))`
    * chain runs interpreted (HOFs are `CodegenFallback`) and materializes
    * every window's hex string before taking the min; the fused form keeps
    * one running minimum digest (equality property-tested in
    * TextAnalysisSpec).
    */
  def rollingFingerprint(text: Column, w: Int = 16, stride: Int = 4): Column =
    rollingFingerprint(org.apache.spark.sql.SparkSession.active, text, w, stride)

  /** [[rollingFingerprint]] with an EXPLICIT session — the form for
    * multi-session JVMs: the convenience overload registers `graft_rollfp`
    * on `SparkSession.active` at Column-construction time, which may not be
    * the session that later analyzes the plan (every other ensureRegistered
    * call site takes the session from the DataFrame it operates on; a bare
    * Column has none to offer, so callers must pass it).
    */
  def rollingFingerprint(spark: org.apache.spark.sql.SparkSession, text: Column,
                         w: Int, stride: Int): Column = {
    graft.functions.RollingFingerprint.ensureRegistered(spark)
    call_function("graft_rollfp", text, lit(w), lit(stride))
  }

  /** IN-ENGINE quality classifier: train a multinomial naive-Bayes text
    * classifier from a labeled slice of the corpus itself — no external
    * model, no egress — as a (token → weight) table. `labelCol` is the
    * boolean training signal (a curated "good" subset, a lang tag, a
    * domain allowlist — the fastText-classifier pattern of web-corpus
    * curation, trained here by two aggregations instead of SGD). The
    * weight of token t is the add-one-smoothed log-likelihood ratio
    *
    *   w(t) = ln((C⁺(t)+1)/(N⁺+V)) − ln((C⁻(t)+1)/(N⁻+V))
    *
    * rounded to integer MICRO-nats ([[unigramSurprisal]]'s determinism
    * rule: per-token contributions become exact longs, so every downstream
    * sum is order-independent and cross-engine hashable). Output:
    * (token, pos_cnt, neg_cnt, w_micro).
    *
    * Scale: tokenize-explode map-side, one vocab-bounded agg, one
    * broadcast 1-row totals frame — the model never touches the driver.
    */
  def trainTokenClassifier(df: DataFrame, textCol: String,
                           labelCol: Column): DataFrame = {
    val toks = df
      .select(labelCol.as("pos"), explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val cnt = toks.groupBy("token")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("pos_cnt"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("neg_cnt"))
    val tot = cnt.agg(sum("pos_cnt").as("np"), sum("neg_cnt").as("nn"),
      count(lit(1)).as("v"))
    cnt.crossJoin(broadcast(tot))
      .select(col("token"), col("pos_cnt"), col("neg_cnt"),
        round((log((col("pos_cnt") + 1.0) / (col("np") + col("v"))) -
          log((col("neg_cnt") + 1.0) / (col("nn") + col("v")))) * lit(1e6))
          .cast("long").as("w_micro"))
  }

  /** Score documents with a [[trainTokenClassifier]] model: a document's
    * score is Σ_tokens w_micro(t) (multiplicity counted) plus the class
    * prior ln(n⁺_docs/n⁻_docs) in micro-nats — exact integer arithmetic
    * end-to-end, so the score (and the `pred = score > 0` decision) hashes
    * identically across engines. Tokens outside the model's vocabulary
    * contribute 0 (they carry no evidence either way). Output:
    * (doc_id, n_scored, score_micro, pred).
    *
    * Scale: the per-(doc, token) count reduces map-side BEFORE any join, so
    * a stopword appearing in every document enters the weight join as one
    * row per document, not one per occurrence; the model side is
    * vocab-bounded and BROADCAST — the hot token's weight is on every
    * executor and no shuffle ever keys by token. (A vocabulary too large to
    * broadcast would cap to its top types by count first — the standard
    * fastText `-cutoff`; the gate's corpus-derived vocab is far inside the
    * broadcast bound.) `priors` is another broadcast 1-row frame: like
    * every model statistic here, it stays in the plan, never a driver
    * scalar.
    */
  def scoreTokenClassifier(df: DataFrame, idCol: String, textCol: String,
                           model: DataFrame, trainDf: DataFrame,
                           trainLabelCol: Column): DataFrame = {
    val priors = trainDf.agg(
      round((log(sum(when(trainLabelCol, 1L).otherwise(0L)).cast("double")) -
        log(sum(when(trainLabelCol, 0L).otherwise(1L)).cast("double"))) *
        lit(1e6)).cast("long").as("prior_micro"))
    df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      .join(broadcast(model.select(col("token"), col("w_micro"))),
        Seq("token"), "left")
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_scored"),
        sum(col("cnt") * coalesce(col("w_micro"), lit(0L)))
          .cast("long").as("tok_micro"))
      .crossJoin(broadcast(priors))
      .select(col("doc_id"), col("n_scored"),
        (col("tok_micro") + col("prior_micro")).as("score_micro"),
        (col("tok_micro") + col("prior_micro") > 0).as("pred"))
  }

  /** Feature-hashing vectorizer (the hashing trick — Weinberger et al.
    * 2009, arXiv:0902.2206): each token maps to a dimension
    * `md5(w) mod dims` with a ±1 sign from an independent md5 digit, and
    * the document's vector is the signed sum of its token counts. Text
    * becomes a fixed-`dims` vector with NO vocabulary, NO model and NO
    * training pass — the embedding-free bridge from the text operators
    * into the similarity family ([[Similarity.annTopK]] / `knnBrute` run
    * on [[hashingVectorsDense]] unchanged). The ± sign makes collisions
    * cancel in expectation instead of biasing counts upward (the paper's
    * unbiasedness device), and everything is exact integer arithmetic —
    * the sparse form is oracle-comparable value-for-value.
    *
    * Returns the SPARSE form `(doc_id, dim_idx, value)`, zero-sum cells
    * filtered (both engines filter on the same exact integer, so the row
    * sets agree). Scale shape: q65's — (doc, token) counts pre-reduce
    * map-side, then one (doc, dim) aggregate; no shuffle ever keys by
    * token alone, so stopword skew cannot concentrate a partition.
    */
  def hashingVectors(df: DataFrame, idCol: String, textCol: String,
                     dims: Int): DataFrame = {
    require(dims > 0, s"dims must be positive: $dims")
    val counts = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    val bucket =
      (conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long") % dims)
        .as("dim_idx")
    val signed = when(
      conv(substring(md5(col("w")), 16, 1), 16, 10).cast("long") % 2 === 0,
      col("cnt")).otherwise(-col("cnt"))
    counts.select(col("doc_id"), bucket, signed.as("sv"))
      .groupBy("doc_id", "dim_idx")
      .agg(sum("sv").cast("long").as("value"))
      .filter(col("value") =!= 0)
  }

  /** [[hashingVectors]] densified to `(doc_id, vec: array<double>)` — the
    * input shape the ANN/kNN/clustering operators consume. One map-side
    * pivot of the per-doc sparse cells; documents with no tokens are
    * absent (matching the sparse form).
    */
  def hashingVectorsDense(df: DataFrame, idCol: String, textCol: String,
                          dims: Int): DataFrame =
    hashingVectors(df, idCol, textCol, dims)
      .groupBy("doc_id")
      .agg(map_from_entries(
        collect_list(struct(col("dim_idx").cast("int"), col("value")))).as("__m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dims - 1)),
          i => coalesce(element_at(col("__m"), i), lit(0L)).cast("double"))
          .as("vec"))
}

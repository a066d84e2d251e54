package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IN-ENGINE BPE tokenizer training — the classic byte-pair-encoding
  * algorithm (Sennrich et al. 2016, arXiv:1508.07909) over the corpus's
  * pre-tokenized words, as a Spark job. The pre-tokenization rule is
  * pluggable (`tokenizer` parameter on every entry point): the default is
  * the fixture's single-space split; [[TextAnalysis.preTokens]] is the
  * GPT-2-style regex rule (contractions / letter runs / digit runs /
  * punctuation classes) a real tokenizer trains under — BpeSpec pins the
  * trainer under BOTH rules, and q108 gates the regex segmentation itself.
  *
  * The key scale property is the classic one: BPE trains on the WORD
  * FREQUENCY TABLE, not the corpus. One corpus-sized aggregation builds
  * `(word, freq)`; every merge iteration after that touches only the
  * vocab-sized symbol table — count adjacent symbol pairs (weighted by
  * word freq), pick the most frequent pair (deterministic tie-break: freq
  * desc, then pair asc), rewrite the symbol lists, repeat. At 100 TB the
  * corpus is read once; the loop cost is `numMerges × O(vocab)`.
  *
  * The per-iteration winning pair is a bounded driver scalar (one row per
  * iteration, like [[Similarity.kmeans]]'s codebook) — the merge RULE must
  * reach the next iteration's expression tree, which is exactly the
  * codebook-as-data pattern. The symbol-list rewrite is a left fold
  * (`aggregate` HOF): leftmost-first non-overlapping merge falls out of
  * folding — `aaa` under merge (a,a) becomes `[aa, a]`, never `[a, aa]`.
  * HOFs are CodegenFallback, which is acceptable HERE because they run on
  * the vocab-sized table, never the corpus (the same reasoning that keeps
  * the corpus-sized kernels native expressions elsewhere).
  *
  * Not SQL-expressible (iterative, data-dependent rules), so the gate is
  * test-based: BpeSpec pins the distributed trainer bit-for-bit to an
  * independent single-node reference implementation, plus repartition
  * invariance; the declared query (q67) records rows-only.
  *
  * DRIVER FAST PATH (the [[Dedup.canonicalIds]] pattern): a real tokenizer
  * trains 30k-50k merges, and one-Spark-job-plus-collect PER MERGE is pure
  * scheduling latency at that count — hours of wall time against a table
  * that, after the first word-freq aggregation, is vocab-sized
  * (Heaps-sublinear: a few hundred MB even at 100 TB corpus scale). So
  * when the word-freq table fits under `driverVocabCap` (counted first —
  * one cheap action on the persisted frame), the symbol table is collected
  * ONCE and the whole merge loop runs in driver memory: zero Spark jobs
  * per merge, identical results (the starting symbols are collected from
  * the same Spark expression, and the tie-break comparator is UTF-8-binary
  * — `UTF8String.binaryCompare`'s ordering — so local and distributed
  * paths agree beyond ASCII). Above the cap, the distributed loop runs,
  * with `localCheckpoint` every [[CheckpointEvery]] merges so lineage does
  * not chain through every prior merge (executor loss late in a long run
  * would otherwise recompute the entire chain).
  */
object Bpe {

  /** Word-freq tables under this row count train on the driver. 2²⁰ words
    * × ~100 B/row ≈ 100 MB — safe driver heap, far above any natural-
    * language vocabulary (Heaps' law puts a 100 TB web corpus's word-type
    * count in the tens of millions only with unnormalized noise; caps are
    * a policy knob, so callers with such corpora either raise the cap or
    * take the distributed loop). `driverVocabCap = 0` forces the
    * distributed loop (tests use this to cover both paths).
    */
  val DefaultDriverVocabCap: Long = 1L << 20

  /** Distributed-loop lineage truncation period (merges per
    * `localCheckpoint`).
    */
  private val CheckpointEvery = 8

  /** `(w, freq)` word-frequency table — the ONE corpus-sized pass.
    * `tokenizer` is the PRE-TOKENIZATION rule (default: the fixture's
    * single-space [[TextAnalysis.tokens]]; pass
    * [[TextAnalysis.preTokens]] for the GPT-2-style regex rule that
    * keeps "word," from training as a type unrelated to "word").
    */
  def wordFreq(df: DataFrame, textCol: String,
               tokenizer: Column => Column = TextAnalysis.tokens): DataFrame =
    df.select(explode(tokenizer(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Characters of `w` plus the end-of-word marker — the starting symbol
    * list. The marker makes word-final merges distinct from word-internal
    * ones (standard BPE).
    */
  private def initialSymbols(w: Column): Column =
    // regex split on "" can emit a trailing empty string; drop any empties
    concat(filter(split(w, ""), s => s =!= ""), array(lit("</w>")))

  // --- Byte-level alphabet (GPT-2's bytes_to_unicode) ----------------------
  //
  // Modern tokenizers (GPT-2, LLaMA) are BYTE-level beneath the regex
  // rule: the base alphabet is the 256 byte values, each mapped to a
  // printable stand-in character so merges stay plain strings — printable
  // ASCII and Latin-1 bytes map to themselves, the 68 others (controls,
  // DEL..NBSP, SHY) to U+0100+k in byte order. EVERY string is then
  // encodable with zero OOV — a crawl's broken encodings, emoji unseen at
  // training time, control bytes, all segment to in-alphabet symbols —
  // which is the property the character-level alphabet cannot give
  // (an unseen CHARACTER has no symbol; an unseen byte value cannot
  // exist). The proxy table below is the standard published construction
  // (Radford et al. 2019, GPT-2 encoder.py bytes_to_unicode).

  /** Byte value → proxy character, the GPT-2 table. */
  private[graft] val byteToProxy: Array[String] = {
    val printable = (33 to 126) ++ (161 to 172) ++ (174 to 255)
    val out = new Array[String](256)
    var next = 256
    (0 until 256).foreach { b =>
      if (printable.contains(b)) out(b) = b.toChar.toString
      else { out(b) = next.toChar.toString; next += 1 }
    }
    out
  }

  /** End-of-word marker for byte mode: U+2581 (the sentencepiece block
    * char) — deliberately OUTSIDE the proxy alphabet (proxies occupy
    * ASCII/Latin-1 printables and U+0100..U+0143), so the marker can
    * never collide with real byte content the way "</w>" could inside a
    * document that literally contains those four bytes.
    */
  private[graft] val ByteMarker = "▁"

  /** UPPERCASE hex byte → proxy char, as a map literal (one vocab-sized
    * CodegenFallback expression, same budget as the merge fold).
    */
  private def byteProxyMap: Column =
    map((0 until 256).flatMap { b =>
      Seq(lit(f"$b%02X"), lit(byteToProxy(b)))
    }: _*)

  /** Proxy char → UPPERCASE hex byte (the decode direction); the marker
    * decodes to the 0x20 word separator.
    */
  private def proxyHexMap: Column =
    map(((0 until 256).flatMap { b =>
      Seq(lit(byteToProxy(b)), lit(f"$b%02X"))
    } ++ Seq(lit(ByteMarker), lit("20"))): _*)

  /** Byte-proxy symbols of `w` plus [[ByteMarker]] — the byte-level
    * starting symbol list: UTF-8 bytes of the word, each as its proxy
    * character.
    */
  private def byteSymbols(w: Column): Column =
    concat(
      transform(regexp_extract_all(
        hex(org.apache.spark.sql.functions.encode(w, "UTF-8")),
        lit(".."), lit(0)),
        h => element_at(byteProxyMap, h)),
      array(lit(ByteMarker)))

  /** The symbol rule for a mode — every entry point threads this. */
  private def symbolsOf(byteLevel: Boolean)(w: Column): Column =
    if (byteLevel) byteSymbols(w) else initialSymbols(w)

  /** Left-fold merge of adjacent pair (a, b) → a+b over a symbol list:
    * leftmost-first, non-overlapping (a fold can never re-merge the symbol
    * it just produced with a consumed input).
    */
  private def mergePair(syms: Column, a: String, b: String): Column = {
    val merged = a + b
    when(size(syms) < 2, syms).otherwise(
      aggregate(
        slice(syms, lit(2), size(syms) - 1),
        slice(syms, lit(1), lit(1)),
        (acc, x) => when(element_at(acc, -1) === a && x === b,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
          .otherwise(concat(acc, array(x)))))
  }

  /** Train `numMerges` BPE merges. Returns the learned merge table
    * `(rank, left, right, merged, pair_freq)` — THE tokenizer artifact —
    * and leaves the segmented word vocabulary reachable via [[segment]].
    * Stops early when no adjacent pair reaches `minFreq`.
    */
  def trainMerges(df: DataFrame, textCol: String, numMerges: Int,
                  minFreq: Long = 2L,
                  driverVocabCap: Long = DefaultDriverVocabCap,
                  checkpointDir: Option[String] = None,
                  tokenizer: Column => Column = TextAnalysis.tokens,
                  byteLevel: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (merges, _) =
      trainInternal(df, textCol, numMerges, minFreq, driverVocabCap,
        checkpointDir, tokenizer, byteLevel)
    merges.zipWithIndex
      .map { case ((a, b, f), i) => (i.toLong, a, b, a + b, f) }
      .toDF("rank", "left", "right", "merged", "pair_freq")
  }

  /** The trained word→symbols table `(w, freq, symbols)`: every corpus
    * word segmented by the learned merges. This IS the "apply" artifact —
    * tokenizing a corpus is a broadcast/shuffle join of its words against
    * this table (OOV words fall back to character symbols by definition).
    */
  def segment(df: DataFrame, textCol: String, numMerges: Int,
              minFreq: Long = 2L,
              driverVocabCap: Long = DefaultDriverVocabCap,
              checkpointDir: Option[String] = None,
              tokenizer: Column => Column = TextAnalysis.tokens,
              byteLevel: Boolean = false): DataFrame =
    trainInternal(df, textCol, numMerges, minFreq, driverVocabCap,
      checkpointDir, tokenizer, byteLevel)._2

  /** APPLY the tokenizer to a corpus: per-document whitespace-word and
    * BPE-token counts under `vocab` (a [[segment]] frame — usually trained
    * on the same corpus, but any `(w, syms)` table works). The number a
    * token-budget mix or packing plan should use once a real tokenizer
    * exists — whitespace counts over- or under-state documents whose
    * vocabulary compresses differently. Out-of-vocabulary words fall back
    * to their character segmentation (`len(w) + 1` symbols with the
    * end-of-word marker) — BPE's defined zero-merge behavior.
    *
    * Scale shape: the q65 classifier's exactly — (doc, word) counts
    * pre-reduce map-side, then join the BROADCAST vocab table (word
    * types, Heaps-sublinear in corpus size) and one per-doc aggregate;
    * no shuffle ever keys by word, so stopword skew is impossible.
    */
  def tokenizeCorpus(df: DataFrame, idCol: String, textCol: String,
                     vocab: DataFrame,
                     tokenizer: Column => Column = TextAnalysis.tokens,
                     byteLevel: Boolean = false): DataFrame = {
    val counts = df
      .select(col(idCol).as("doc_id"),
        explode(tokenizer(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    val sizes = vocab.select(col("w"), size(col("syms")).as("n_sym"))
    // OOV fallback counts the zero-merge segmentation of the MODE's
    // alphabet: characters + marker, or (byteLevel) UTF-8 bytes + marker
    val fallback =
      if (byteLevel) octet_length(col("w")) + lit(1)
      else length(col("w")) + lit(1)
    counts
      .join(broadcast(sizes), Seq("w"), "left")
      .withColumn("n_sym", coalesce(col("n_sym"), fallback))
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_words"),
        sum(col("cnt") * col("n_sym")).cast("long").as("n_bpe_tokens"))
  }

  /** Deterministic token-id table for a [[segment]] vocab: one row
    * `(token, token_id)` per distinct symbol appearing in any segmentation,
    * ids dense from 0 in the engine's binary (UTF-8) symbol order — a pure
    * function of the vocab, so any two runs (or engines) assign identical
    * ids. The single-partition `row_number` window is fine HERE because the
    * frame is vocab-sized (symbol types ≤ word types, Heaps-sublinear),
    * never corpus-sized.
    */
  def vocabIds(vocab: DataFrame): DataFrame = vocabIds(vocab, byteLevel = false)

  /** Byte-level id table: the 256 byte proxies plus [[ByteMarker]] are
    * SEEDED into the alphabet before the observed symbols union in —
    * GPT-2's construction — so EVERY encodable input has an id even when
    * training never saw some byte value. This is the no-OOV guarantee:
    * under `byteLevel` the fallback segmentation of any word consists of
    * seeded symbols only, so id -1 (UNK) is unreachable by construction.
    */
  def vocabIds(vocab: DataFrame, byteLevel: Boolean): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val observed = vocab.select(explode(col("syms")).as("token"))
    val base =
      if (byteLevel)
        observed.unionByName(
          (byteToProxy.toSeq :+ ByteMarker).toDF("token"))
      else observed
    base.distinct()
      .withColumn("token_id",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("token").asc)) - 1).cast("int"))
  }

  /** ENCODE a corpus to token-id sequences — the artifact a pretraining
    * loader actually consumes (the [[tokenizeCorpus]] counts are its
    * byproduct, `n_bpe_tokens = size(token_ids)`). Per document:
    * `token_ids` is the full BPE id sequence in word order, under `vocab`
    * (a [[segment]] frame) with ids from [[vocabIds]].
    *
    * Out-of-vocabulary words fall back to character symbols (BPE's
    * zero-merge behavior); a fallback CHARACTER absent from the vocab maps
    * to id -1 (UNK) — only possible when encoding a corpus other than the
    * training one, and [[detokenize]] renders it as empty (documented
    * lossy, like any UNK).
    *
    * Scale shape: the only corpus-keyed exchange is the final groupBy on
    * the document id (uniform — no token skew can concentrate a partition,
    * because nothing shuffles on the word or symbol); both the `(w, syms)`
    * vocab and the id table join BROADCAST. Documents with no non-empty
    * token are absent, matching [[tokenizeCorpus]]'s aggregate form.
    */
  def encode(df: DataFrame, idCol: String, textCol: String,
             vocab: DataFrame,
             tokenizer: Column => Column = TextAnalysis.tokens,
             byteLevel: Boolean = false): DataFrame = {
    val ids = vocabIds(vocab, byteLevel)
    val words = df
      .select(col(idCol).as("doc_id"),
        posexplode(filter(tokenizer(col(textCol)), w => w =!= ""))
          .as(Seq("wpos", "w")))
    val syms = words
      .join(broadcast(vocab.select(col("w"), col("syms"))), Seq("w"), "left")
      .select(col("doc_id"), col("wpos"),
        posexplode(coalesce(col("syms"), symbolsOf(byteLevel)(col("w"))))
          .as(Seq("spos", "token")))
    syms
      .join(broadcast(ids), Seq("token"), "left")
      .select(col("doc_id"), col("wpos"), col("spos"),
        coalesce(col("token_id"), lit(-1)).as("token_id"))
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("wpos"), col("spos"), col("token_id")))),
        t => t.getField("token_id")).as("token_ids"))
      .withColumn("n_bpe_tokens", size(col("token_ids")).cast("long"))
  }

  /** DETOKENIZE id sequences back to text: ids → symbols (broadcast id
    * table), symbols concatenated in sequence order, end-of-word markers
    * become spaces. For any document encoded against the vocab it was
    * trained with, `detokenize ∘ encode` returns the document's tokens
    * joined by single spaces (whitespace-normalized round trip — BPE is
    * lossless up to the pre-tokenizer, proven in BpeSpec). UNK ids (-1)
    * render as nothing.
    */
  /** [[detokenize]] for a byte-level vocab: ids → merged proxy tokens in
    * sequence order, [[ByteMarker]] and proxies back to their bytes (the
    * marker to 0x20, the word separator), and the byte string decoded as
    * UTF-8 — so `detokenizeBytes ∘ encode(byteLevel=true)` returns each
    * document's pre-tokens joined by single spaces BYTE-exactly, for any
    * input (no UNK is reachable — see [[vocabIds]]). The one trailing
    * marker becomes a trailing space, trimmed.
    */
  def detokenizeBytes(encoded: DataFrame, vocab: DataFrame): DataFrame = {
    val ids = vocabIds(vocab, byteLevel = true)
    encoded
      .select(col("doc_id"), posexplode(col("token_ids")).as(Seq("pos", "token_id")))
      .join(broadcast(ids), Seq("token_id"), "left")
      .groupBy("doc_id")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("pos"), col("token")))),
        t => t.getField("token"))).as("__joined"))
      .select(col("doc_id"),
        decode(unhex(rtrim(concat_ws("", transform(
          filter(split(col("__joined"), ""), c => c =!= ""),
          c => element_at(proxyHexMap, c))), "20")), "UTF-8").as("text"))
  }

  def detokenize(encoded: DataFrame, vocab: DataFrame): DataFrame = {
    val ids = vocabIds(vocab)
    encoded
      .select(col("doc_id"), posexplode(col("token_ids")).as(Seq("pos", "token_id")))
      .join(broadcast(ids), Seq("token_id"), "left")
      .groupBy("doc_id")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("pos"), col("token")))),
        t => t.getField("token"))).as("__joined"))
      .select(col("doc_id"),
        trim(replace(col("__joined"), lit("</w>"), lit(" "))).as("text"))
  }

  /** PERSIST a trained tokenizer — the model artifact as a
    * self-describing parquet store, so a pipeline trains ONCE and every
    * downstream job (token budgets, packing plans, encode) loads the
    * FROZEN model instead of retraining per job (a retrain changes token
    * counts under every consumer's feet; the tokenizer is a versioned
    * artifact in a real pipeline, exactly like the IVF codebook). The
    * store is a write-once log ([[StoreSegments]]) whose entry names three
    * plain segments, so a save (or re-save) is ONE commit and a load sees
    * one model whole:
    *
    *  - `merges` (rank, left, right, merged, pair_freq) — the learned
    *    merge list in rank order (one small file);
    *  - `vocab`  (w, freq, syms) — the word→symbols apply table
    *    ([[segment]]'s frame; Heaps-sublinear in corpus size);
    *  - `meta`   (num_merges, byte_level) — one row, so a loader
    *    never has to guess the training mode.
    */
  def saveTokenizer(df: DataFrame, textCol: String, dir: String,
                    numMerges: Int, minFreq: Long = 2L,
                    driverVocabCap: Long = DefaultDriverVocabCap,
                    tokenizer: Column => Column = TextAnalysis.tokens,
                    byteLevel: Boolean = false): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val (merges, vocab) = trainInternal(df, textCol, numMerges, minFreq,
      driverVocabCap, None, tokenizer, byteLevel)
    StoreSegments.write(spark, dir, StoreSegments.latestOpt(spark, dir)) { w =>
      Some(StoreSegments.Entry(0, 0, positions = false, Map(
        "merges" -> Seq(w.plain("merges", merges.zipWithIndex
          .map { case ((a, b, f), i) => (i.toLong, a, b, a + b, f) }
          .toDF("rank", "left", "right", "merged", "pair_freq").coalesce(1))),
        "vocab" -> Seq(w.plain("vocab", vocab)),
        "meta" -> Seq(w.plain("meta", Seq((numMerges, byteLevel))
          .toDF("num_merges", "byte_level").coalesce(1))))))
    }
  }

  /** The frozen apply table off disk — feeds [[tokenizeCorpus]] /
    * [[encode]] exactly like a freshly-trained [[segment]] frame.
    */
  def loadVocab(spark: org.apache.spark.sql.SparkSession,
                dir: String): DataFrame =
    StoreSegments.read(spark, dir, "vocab", "")

  /** The frozen merge list off disk, in rank order. Layout pinned by
    * [[saveTokenizer]], so the read supplies the schema.
    */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 dir: String): DataFrame =
    StoreSegments.read(spark, dir, "merges", "",
      Some(org.apache.spark.sql.types.StructType.fromDDL(
        "rank BIGINT, `left` STRING, `right` STRING, merged STRING, " +
          "pair_freq BIGINT")))
      .orderBy("rank")

  /** The store's training mode: (numMerges, byteLevel). */
  def loadTokenizerMeta(spark: org.apache.spark.sql.SparkSession,
                        dir: String): (Int, Boolean) = {
    val r = StoreSegments.read(spark, dir, "meta", "",
      Some(org.apache.spark.sql.types.StructType.fromDDL(
        "num_merges INT, byte_level BOOLEAN"))).head
    (r.getInt(0), r.getBoolean(1))
  }

  private def trainInternal(df: DataFrame, textCol: String, numMerges: Int,
                            minFreq: Long, driverVocabCap: Long,
                            checkpointDir: Option[String] = None,
                            tokenizer: Column => Column = TextAnalysis.tokens,
                            byteLevel: Boolean = false)
      : (Seq[(String, String, Long)], DataFrame) = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(minFreq >= 1, s"minFreq must be >= 1, got $minFreq")
    val base = CacheScope.persisted(
      wordFreq(df, textCol, tokenizer)
        .select(col("w"), col("freq"), symbolsOf(byteLevel)(col("w")).as("syms")))
    // one cheap action on the persisted vocab-sized frame decides the path
    // (and materializes the cache either way)
    if (base.count() <= driverVocabCap) trainLocal(base, numMerges, minFreq)
    else trainDistributed(base, numMerges, minFreq, checkpointDir)
  }

  /** UTF-8-binary string ordering — `UTF8String.binaryCompare`'s ordering,
    * i.e. what the distributed loop's `orderBy(col.asc)` uses — so the
    * local tie-break picks the same pair beyond ASCII (Scala's natural
    * `String` ordering is UTF-16 code-unit order, which disagrees for
    * supplementary-plane symbols).
    */
  private def utf8Compare(x: String, y: String): Int =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The merge loop in driver memory: pair counts in one hash map pass,
    * best pair by (freq desc, pair UTF-8-binary asc), left-fold rewrite —
    * the same algorithm the distributed loop expresses in Spark, minus the
    * per-merge job. The starting symbol lists are COLLECTED from the same
    * Spark expression the distributed path iterates on, so the two paths
    * cannot diverge on tokenization-of-word semantics.
    */
  private def trainLocal(base: DataFrame, numMerges: Int, minFreq: Long)
      : (Seq[(String, String, Long)], DataFrame) = {
    val spark = base.sparkSession
    import spark.implicits._
    val rows = base.collect()
    base.unpersist()
    val freqs = rows.map(_.getLong(1))
    val segs = rows.map(_.getSeq[String](2).toArray)
    val merges = Seq.newBuilder[(String, String, Long)]
    var done = false
    var i = 0
    while (i < numMerges && !done) {
      val pairs = new java.util.HashMap[(String, String), Long]
      var wi = 0
      while (wi < segs.length) {
        val s = segs(wi)
        var p = 0
        while (p < s.length - 1) {
          pairs.merge((s(p), s(p + 1)), freqs(wi), _ + _)
          p += 1
        }
        wi += 1
      }
      var best: ((String, String), Long) = null
      pairs.forEach { (k, v) =>
        if (best == null || v > best._2 ||
          (v == best._2 && {
            val ca = utf8Compare(k._1, best._1._1)
            ca < 0 || (ca == 0 && utf8Compare(k._2, best._1._2) < 0)
          })) best = (k, v)
      }
      if (best == null || best._2 < minFreq) done = true
      else {
        val ((a, b), f) = best
        merges += ((a, b, f))
        val ab = a + b
        wi = 0
        while (wi < segs.length) {
          val s = segs(wi)
          if (s.length >= 2) {
            val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
            var p = 0
            while (p < s.length) {
              if (out.nonEmpty && out.last == a && s(p) == b)
                out(out.length - 1) = ab
              else out += s(p)
              p += 1
            }
            segs(wi) = out.toArray
          }
          wi += 1
        }
        i += 1
      }
    }
    val segDf = rows.indices
      .map(j => (rows(j).getString(0), freqs(j), segs(j).toSeq))
      .toDF("w", "freq", "syms")
    (merges.result(), segDf)
  }

  /** The distributed merge loop — for vocabularies above the driver cap.
    * One vocab-sized pair-count job + one bounded driver scalar per merge;
    * lineage truncates every [[CheckpointEvery]] merges — `localCheckpoint`
    * by default, reliable `checkpoint` when `checkpointDir` is set (the
    * [[Dedup.canonicalIds]] treatment) — so late-iteration recovery never
    * replays the whole chain.
    */
  private def trainDistributed(base: DataFrame, numMerges: Int, minFreq: Long,
                               checkpointDir: Option[String])
      : (Seq[(String, String, Long)], DataFrame) = {
    var words = base
    // previous iteration's frame: safe to release only once the CURRENT
    // frame has materialized its cache (the best-pair collect below does
    // that) — releasing earlier would recompute the whole merge chain;
    // keeping everything would cache numMerges copies of the vocab
    var release: DataFrame = null
    val merges = Seq.newBuilder[(String, String, Long)]
    var done = false
    var i = 0
    while (i < numMerges && !done) {
      // adjacent pairs weighted by word frequency — vocab-sized agg.
      // Fully-merged single-symbol words have no pairs and MUST be
      // filtered first: sequence(1, 0) would count DOWN, not stay empty.
      val best = words
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), col("syms"),
          explode(sequence(lit(1), size(col("syms")) - 1)).as("p"))
        .select(element_at(col("syms"), col("p")).as("a"),
          element_at(col("syms"), col("p") + 1).as("b"), col("freq"))
        .groupBy("a", "b").agg(sum("freq").as("pf"))
        .orderBy(col("pf").desc, col("a").asc, col("b").asc)
        .limit(1)
        .collect() // bounded driver scalar: ONE row per iteration —
                   // also materializes `words`' cache as a side effect
      if (release != null) { release.unpersist(); release = null }
      if (best.isEmpty || best.head.getLong(2) < minFreq) done = true
      else {
        val (a, b, f) =
          (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
        merges += ((a, b, f))
        val nextPlan = words.select(col("w"), col("freq"),
          mergePair(col("syms"), a, b).as("syms"))
        // eager checkpoint (local, or reliable under checkpointDir) both
        // caches and cuts lineage; between checkpoints a plain scoped
        // persist carries the iteration
        val next =
          if ((i + 1) % CheckpointEvery == 0)
            Checkpoints.cut(nextPlan, checkpointDir, eager = true)
          else CacheScope.persisted(nextPlan)
        release = words
        words = next
        i += 1
      }
    }
    (merges.result(), words)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end corpus-curation pipeline: the composition a
  * training-data run actually executes, wired from the operator family —
  *
  *   quality gate ([[TextAnalysis.qualityRules]])
  *     → exact dedup, keep min id ([[TextAnalysis.fingerprint]])
  *     → per-source quota ([[Sampling.capPerGroup]])
  *     → deterministic split ([[Sampling.hashSplit]])
  *
  * Every stage is a pure function of content and ids, so the surviving
  * corpus — not just its size — is reproducible across runs, engines and
  * repartitioning. The oracle gate (q45) hashes per-split document/token
  * totals plus an id checksum, putting the whole composition under one
  * hash.
  *
  * Scale shape: one scan computes flags map-side; the dedup keep is a
  * rank-1 window on the content fingerprint (rank-limit pushdown prunes
  * duplicates map-side, and fingerprint keys are md5-uniform — no skew);
  * the quota cap is the same pushed-down rank on the source key; the split
  * is map-side. Two pruned shuffles end-to-end before the final bounded
  * aggregate.
  */
object Curation {

  /** The curated corpus: input documents that survive the quality gate,
    * exact-dup removal (minimum id per normalized content wins), and a
    * per-`groupCol` cap of `maxPerGroup`, with a deterministic
    * train/val/test `split` column attached. Preserves the input columns
    * and adds `n_tokens` and `split`.
    */
  def curate(df: DataFrame, idCol: String, textCol: String,
             groupCol: String, maxPerGroup: Int,
             minTokens: Int = 5, maxTokens: Int = 100000,
             trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val flags = TextAnalysis.qualityRules(df, idCol, textCol,
      minTokens, maxTokens)
    val kept = df.join(
      flags.filter(col("keep")).select(col("doc_id").as(idCol), col("n_tokens")),
      idCol)
    val dedupW = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol).asc)
    val deduped = kept
      .withColumn("__rn", row_number().over(dedupW))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val capped = Sampling.capPerGroup(deduped, groupCol, idCol, maxPerGroup)
    Sampling.hashSplit(capped, idCol, trainPct, valPct)
  }

  /** Per-document drop-reason LINEAGE: every curation stage evaluated for
    * EVERY document — the full flag matrix, not just the first kill — plus
    * the verdict a fixed-order pipeline (length → quality → language →
    * exact-dup → decontamination) would hand down. This is the audit that
    * answers "why was my document dropped?" at 100 TB, where a pipeline
    * that only emits survivors makes every upstream complaint
    * unanswerable; it is also the debugging view for stage-interaction
    * questions (how many non-English docs are ALSO dup losers — visible
    * here, invisible in a sequential filter chain).
    *
    * Flags (each independently gate-exact):
    *  - `too_short`: token count < minTokens;
    *  - `bad_quality`: fails [[TextAnalysis.qualityRules]] (which also
    *    encodes the length band — overlap with `too_short` is
    *    intentional: stages are evaluated independently);
    *  - `non_english`: [[TextAnalysis.predictedLang]] ≠ "en";
    *  - `dup_loser`: not the minimum id of its content-fingerprint group;
    *  - `contaminated`: a train-split document sharing ≥ 1 hashed
    *    13-gram with the test split ([[Dedup.contaminatedDocs]] over
    *    [[Sampling.hashSplit]] — val/test docs are never flagged).
    *
    * Scale shape: quality/language flags are map-side; the dup flag is
    * one window on the md5-uniform fingerprint; contamination is q34's
    * asymmetric broadcast join; the final assembly joins skinny flag
    * frames on unique `doc_id` — co-partitioned hash joins with no skew.
    * Output: (doc_id, too_short, bad_quality, non_english, dup_loser,
    * contaminated, verdict).
    */
  def curationLineage(df: DataFrame, idCol: String, textCol: String,
                      minTokens: Int = 10, maxTokens: Int = 1000,
                      trainPct: Int = 80, valPct: Int = 10,
                      n: Int = 13): DataFrame = {
    val docs = CacheScope.persisted(
      df.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text")))
    val quality = TextAnalysis.qualityRules(docs, "doc_id", "text",
        minTokens, maxTokens)
      .select(col("doc_id"), col("n_tokens"), col("keep"))
    val langs = TextAnalysis.LangProfiles.map(_._1)
    val lang = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .select(col("doc_id") +: TextAnalysis.LangProfiles.map { case (l, ms) =>
        TextAnalysis.markerRatioFromTokens(col("t"), ms).as(s"s_$l") }: _*)
      .select(col("doc_id"), TextAnalysis.predictedLangFromScores(
        langs.map(l => l -> col(s"s_$l"))).as("pred_lang"))
    val w = Window.partitionBy("fp")
    val dup = docs
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), (col("doc_id") =!= col("keep_id")).as("dup_loser"))
    val split = Sampling.hashSplit(docs, "doc_id", trainPct, valPct)
    val contaminated = Dedup.contaminatedDocs(
        split.filter(col("split") === "train"), "doc_id", "text",
        split.filter(col("split") === "test"), "text", n = n)
      .select(col("doc_id"), lit(true).as("contam"))
    docs.select("doc_id")
      .join(quality, Seq("doc_id"))
      .join(lang, Seq("doc_id"))
      .join(dup, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_tokens") < minTokens).as("too_short"),
        (!col("keep")).as("bad_quality"),
        (col("pred_lang") =!= "en").as("non_english"),
        col("dup_loser"),
        coalesce(col("contam"), lit(false)).as("contaminated"))
      .withColumn("verdict",
        when(col("too_short"), "too_short")
          .when(col("bad_quality"), "bad_quality")
          .when(col("non_english"), "non_english")
          .when(col("dup_loser"), "dup_loser")
          .when(col("contaminated"), "contaminated")
          .otherwise("kept"))
  }

  /** INCREMENTAL curation — curate a NEW batch against an already-curated
    * corpus at cost ∝ batch, never ∝ corpus: the shape of a production
    * pipeline that ingests a daily crawl into a 100 TB curated base and
    * cannot re-run [[curate]] over everything (the reason
    * [[Dedup.minHashAgainst]] exists for fuzzy dedup — this is its
    * exact-curation counterpart).
    *
    * Semantics — APPEND-ONLY, stated precisely because they deliberately
    * differ from a full recompute:
    *   - batch docs pass the same quality gate;
    *   - exact dedup within the batch (min id wins) AND against the
    *     existing corpus (anti-join on content fingerprint — the existing
    *     copy always wins, regardless of id);
    *   - each group admits only its REMAINING quota
    *     `maxPerGroup − |existing members|`, filled in the same
    *     deterministic md5(id) order as [[Sampling.capPerGroup]];
    *   - the split column is the same pure per-id function, so a doc gets
    *     the same split whether it arrived in the base load or a batch.
    * Existing members are never evicted or re-split. A full recompute
    * over old ∪ batch could instead evict an old doc whose md5 ranks
    * below a new one's, or re-canonicalize a duplicate pair toward a
    * lower new id — re-writing already-trained-on data, which is exactly
    * what an append-only pipeline must not do.
    *
    * Scale shape: every stage touches the batch; the corpus contributes
    * one skinny fingerprint column (distinct, then a fingerprint-keyed
    * anti-join — md5-uniform, no skew, no broadcast needed when the
    * corpus is huge) and one bounded per-group count. The variable-quota
    * cut runs AFTER a literal-k [[Sampling.capPerGroup]] prefilter — a
    * lossless prune (quota ≤ maxPerGroup) that keeps the WindowGroupLimit
    * rank pushdown, so the re-rank only ever sees ≤ maxPerGroup rows per
    * group.
    */
  def curateIncremental(existing: DataFrame, batch: DataFrame,
                        idCol: String, textCol: String,
                        groupCol: String, maxPerGroup: Int,
                        minTokens: Int = 5, maxTokens: Int = 100000,
                        trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val flags = TextAnalysis.qualityRules(batch, idCol, textCol,
      minTokens, maxTokens)
    val kept = batch.join(
      flags.filter(col("keep")).select(col("doc_id").as(idCol), col("n_tokens")),
      idCol)
    val dedupW = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol).asc)
    val inBatch = kept
      .withColumn("__rn", row_number().over(dedupW))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val oldFps = existing
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp")).distinct()
    val fresh = inBatch
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(oldFps, Seq("__fp"), "left_anti")
      .drop("__fp")
    val used = existing.groupBy(groupCol).agg(count(lit(1)).as("__used"))
    val pre = Sampling.capPerGroup(fresh, groupCol, idCol, maxPerGroup)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    val capped = pre
      .withColumn("__rk", row_number().over(w))
      .join(used, Seq(groupCol), "left")
      .na.fill(0L, Seq("__used"))
      .filter(col("__rk") <= lit(maxPerGroup.toLong) - col("__used"))
      .drop("__rk", "__used")
    Sampling.hashSplit(capped, idCol, trainPct, valPct)
  }

  /** Concat-and-chunk sequence packing: documents are laid end-to-end in
    * deterministic `idCol` order within each `groupCol` value and chopped
    * into fixed `seqLen`-token training sequences — the packing a
    * GPT-style pretraining loader applies (no padding between documents;
    * a document may straddle a sequence boundary). Output per document:
    * which sequence its first token lands in (`seq_first`), which its
    * last token lands in (`seq_last`), and its starting offset within
    * `seq_first` (`seq_offset`) — the index a loader needs to materialize
    * any sequence without re-scanning the corpus. Zero-token documents
    * contribute nothing and are dropped.
    *
    * All three outputs derive from one per-group running token total
    * (exact integer arithmetic), so the packing is reproducible across
    * engines — the oracle gate (q50) hashes every document's placement.
    *
    * Scale shape: packing is inherently sequential WITHIN a group (each
    * placement depends on every predecessor), so the parallel unit is the
    * group — one shuffle on `groupCol`, one ordered pass per group. That
    * is the right contract for a sharded corpus (pack per source/shard,
    * train across shards); for a single giant group, pre-split it into
    * deterministic sub-shards ([[Sampling.hashBucket]] on the id) and
    * pack each — sequences then restart per sub-shard, which training
    * loaders accept.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    groupCol: String, seqLen: Int): DataFrame =
    packSequencesBy(
      df.select(col(groupCol), col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens")),
      idCol, "n_tokens", groupCol, seqLen)

  /** [[packSequences]] on a PRECOMPUTED per-document token count — the
    * form a pipeline uses once a real tokenizer exists: whitespace counts
    * over- or under-state documents whose vocabulary compresses
    * differently, so packing on [[Bpe.encode]]'s `size(token_ids)` (q81)
    * is what makes the sequence index valid for actual model input.
    * `countCol` is emitted under its own name; zero/negative counts drop
    * (a document contributing no tokens has no placement).
    */
  def packSequencesBy(df: DataFrame, idCol: String, countCol: String,
                      groupCol: String, seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1: $seqLen")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(groupCol), col(idCol), col(countCol).cast("long").as(countCol))
      .filter(col(countCol) >= 1)
      .withColumn("__cum", sum(countCol).over(w).cast("long"))
      // `div`, not `/`: Column `/` is DOUBLE division, which rounds past
      // 2^53 — a 100 TB corpus's cumulative token count must stay exact.
      .select(col(groupCol), col(idCol), col(countCol),
        expr(s"(__cum - `$countCol`) div $seqLen").as("seq_first"),
        expr(s"(__cum - 1) div $seqLen").as("seq_last"),
        ((col("__cum") - col(countCol)) % seqLen).cast("long").as("seq_offset"))
  }

  /** The SEQUENCE-side view of [[packSequences]] — the loader manifest:
    * one row per (group, sequence) with how many documents occupy it, how
    * many START in it (`n_starts` = the attention-reset boundaries a
    * block-diagonal mask needs), the filled token count (= `seqLen`
    * everywhere except each group's final partial sequence), and exact
    * integer digests of the boundary offsets (`start_off_sum`) and
    * occupant ids (`min_doc`/`max_doc`). [[packSequences]] answers "where
    * did my document land"; this answers "what is IN sequence s" — the
    * query a training loader actually issues, materializable without
    * re-scanning text.
    *
    * Scale shape: each document explodes to one row per sequence it
    * touches, so total rows = Σ tokens/seqLen + #docs — linear in corpus
    * tokens; then ONE aggregate on (group, seq). The explode reuses
    * [[packSequencesBy]]'s outputs arithmetically (first/last token
    * derived from seq_first·seqLen + offset), no second corpus pass.
    */
  def sequenceIndex(df: DataFrame, idCol: String, textCol: String,
                    groupCol: String, seqLen: Int): DataFrame = {
    val placed = packSequences(df, idCol, textCol, groupCol, seqLen)
    val lastOff = (col("seq_first") * seqLen + col("seq_offset")
      + col("n_tokens") - 1) % seqLen
    placed
      .withColumn("sq", explode(sequence(col("seq_first"), col("seq_last"))))
      .select(col(groupCol), col(idCol),
        col("sq").cast("long").as("seq_id"),
        when(col("sq") === col("seq_first"), col("seq_offset"))
          .otherwise(lit(0L)).as("s_off"),
        when(col("sq") === col("seq_last"), lastOff)
          .otherwise(lit(seqLen - 1).cast("long")).as("e_off"),
        when(col("sq") === col("seq_first"), lit(1L)).otherwise(lit(0L))
          .as("starts"))
      .groupBy(col(groupCol), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum("starts").cast("long").as("n_starts"),
        sum(col("e_off") - col("s_off") + 1).cast("long").as("fill_tokens"),
        sum(when(col("starts") === 1L, col("s_off")).otherwise(lit(0L)))
          .cast("long").as("start_off_sum"),
        min(col(idCol)).as("min_doc"), max(col(idCol)).as("max_doc"))
      .orderBy(col(groupCol), col("seq_id"))
  }

  /** Quality-THRESHOLD SWEEP: for each candidate threshold, the documents
    * and tokens that would survive filtering at `score >= threshold`, plus
    * their corpus share in exact integer ppm — the operating-curve a curation run
    * consults to pick its cutoff (every threshold is a different
    * quality-vs-token-budget trade, and choosing one blind wastes either
    * compute or data). `score` is any column expression over the row
    * (default shape: [[TextAnalysis.qualityScore]] at the call site).
    *
    * Thresholds with no surviving documents still get a row (zeros) — a
    * curve with silently missing points misreads as a smaller sweep.
    *
    * Scale shape: ONE corpus pass computes (score, n_tokens) per document
    * map-side; each row then expands to its ≤|thresholds| surviving sweep
    * points against the broadcast threshold list, and partial aggregation
    * collapses the expansion before the only shuffle — what reaches the
    * exchange is |thresholds| × mapPartitions rows, never corpus ×
    * |thresholds|. Corpus totals for the fractions are a broadcast 1-row
    * frame (the q57 pattern), not a driver scalar.
    */
  def thresholdSweep(df: DataFrame, textCol: String, score: Column,
                     thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    require(thresholds.distinct.size == thresholds.size,
      "thresholds must be distinct")
    val spark = df.sparkSession
    import spark.implicits._
    val th = thresholds.toDF("threshold")
    // scoped persist (CacheScope, the tokenDivergence pattern): the scored
    // frame feeds both the sweep aggregate and the totals frame — without
    // it each would re-scan and re-score the corpus
    val scored = CacheScope.persisted(
      df.select(score.cast("double").as("score"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens")))
    val kept = scored
      .crossJoin(broadcast(th))
      .filter(col("score") >= col("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    val totals = broadcast(scored.agg(
      count(lit(1)).as("__tot_docs"),
      sum("n_tokens").as("__tot_tokens")))
    // exact integer ppm, never round(double): a long/long ratio rounded at
    // 6 decimals can land exactly on a .xxxxxx5 boundary where Spark and
    // DuckDB round divergently (the documented q7 hash-mismatch class) —
    // the same `(n * 1000000) div total` idiom as contaminationReport and
    // skewReport
    broadcast(th).join(kept, Seq("threshold"), "left")
      .crossJoin(totals)
      .select(col("threshold"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        expr("coalesce(n_docs, 0L) * 1000000 div __tot_docs")
          .as("doc_ppm"),
        expr("coalesce(n_tokens, 0L) * 1000000 div __tot_tokens")
          .as("token_ppm"))
  }

  /** Sequence-length sweep — the packing-efficiency planner: for every
    * candidate `seqLen` L, the corpus-wide cost of [[packSequences]]'
    * concat-and-chunk rule without running the packer — per group,
    * `n_seqs = ⌈tokens/L⌉` (only each group's final sequence pads, so
    * `pad = n_seqs·L − tokens`), summed over groups, with the pad share
    * in exact ppm of emitted positions (`pad·10⁶ div (n_seqs·L)`). The
    * seqLen sibling of [[thresholdSweep]]: one row per knob value, so the
    * "pick L" decision reads a |seqLens|-row frame instead of running
    * the packer per candidate.
    *
    * Exact integer arithmetic end-to-end. Scale: one token-count scan +
    * one bounded-key group aggregate; the sweep explodes |seqLens| rows
    * per GROUP (not per doc), then reduces to |seqLens| rows.
    */
  def packingSweep(df: DataFrame, idCol: String, textCol: String,
                   groupCol: String, seqLens: Seq[Int]): DataFrame = {
    require(seqLens.nonEmpty && seqLens.forall(_ > 0),
      s"seqLens must be positive: $seqLens")
    val perGroup = df
      .select(col(groupCol).as("grp"),
        TextAnalysis.tokenCountFromTokens(TextAnalysis.tokens(col(textCol)))
          .cast("long").as("n_tok"))
      .groupBy("grp").agg(sum("n_tok").as("toks"))
    perGroup
      .select(col("toks"),
        explode(typedLit(seqLens.map(_.toLong))).as("seq_len"))
      .select(col("seq_len"), col("toks"),
        expr("(toks + seq_len - 1) div seq_len").as("n_seqs"))
      .groupBy("seq_len")
      .agg(sum("n_seqs").cast("long").as("n_seqs"),
        sum("toks").cast("long").as("n_tokens"),
        (sum(col("n_seqs") * col("seq_len")) - sum("toks"))
          .cast("long").as("n_pad"))
      .withColumn("pad_ppm",
        // nullif guards the all-empty-corpus degenerate (every group's
        // token total 0 ⇒ n_seqs 0): ANSI mode would throw
        // DIVIDE_BY_ZERO; null pad_ppm is the qualityRules treatment
        expr("(n_pad * 1000000) div nullif(n_seqs * seq_len, 0)"))
      .select(col("seq_len"), col("n_seqs"), col("n_tokens"),
        col("n_pad"), col("pad_ppm"))
  }

  /** CORPUS DIFF between two snapshots of a document set — the dataset
    * versioning primitive: which ids were added, removed, changed
    * (content fingerprint moved), or are unchanged. A 100 TB pipeline
    * re-ingests crawls incrementally; diffing snapshots is how it audits
    * what a re-crawl actually changed before re-spending dedup/curation
    * compute downstream (and [[Dedup.minHashAgainst]] is the "re-dedup
    * only the changed slice" follow-up).
    *
    * One full outer join on the id; content comparison is on
    * [[TextAnalysis.fingerprint]] (normalized md5), computed map-side on
    * each side — text never crosses the exchange, only (id, fingerprint).
    *
    * The content column is cast to string first — a no-op for text, and
    * what lets a NON-string column (an embedding array, a struct) diff
    * by value: Spark's cast renders distinct values distinctly, so the
    * fingerprint moves exactly when the content does. That makes the
    * whole snapshot-diff plane ([[diffSnapshotsAt]], [[IndexSync]])
    * usable for vector stores, not just documents.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol).cast("string")).as("old_fp"))
    val n = newDf.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol).cast("string")).as("new_fp"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed")
          .otherwise("unchanged").as("status"))
  }

  // --- Versioned snapshot store -------------------------------------------
  //
  // The reference's SDFS storage plane keeps a VERSION COUNTER per object:
  // every `put` appends a new version and `get-versions n` returns the
  // last n (`daemon/daemon.go:136-675` version counters; `Nimbus.go:447-567`
  // placement, `Nimbus.go:541-560` get-versions). SURVEY §1.4 scopes the
  // replica/placement half to the object store under Spark — correctly —
  // but the USER-FACING half ("dataset versioning") maps cleanly onto a
  // directory-of-snapshots layout: one partition directory per version
  // (`root/version=N/`), Spark partition discovery surfaces `version` as a
  // column, and "read the last n versions" is a partition-PRUNED scan whose
  // cost is proportional to the n versions requested, never to the history
  // length (the `.explain` PartitionFilters line is the proof, asserted in
  // CurationSpec). [[corpusDiff]] is the pairwise audit between any two
  // versions; q84 puts the whole plane — write, discovery, pruned read,
  // diff — under q72's oracle hash.
  //
  // Each version directory is its own commit: a writer fills a hidden
  // attempt directory (`_attempt-<uuid>`: a leading `_` and no `=`, so
  // Spark's file index skips it), then publishes it with a no-overwrite
  // rename ([[StoreFs.renameExclusive]]). A reader sees a version whole
  // or not at all; of two writers of one version, the second loses at
  // the rename, naming the store and the version, and publishes nothing;
  // a crashed writer leaves only its attempt directory, which no reader
  // opens. The caller numbers the versions, so the directory itself is
  // the put-if-absent — the layout (`version=N`, `_delta/version=N`)
  // carries partition pruning, and no log is needed beside it.

  /** Append corpus state as snapshot `version` under `rootDir` — the
    * reference's versioned `put`. A version is immutable once written:
    * re-putting an existing version fails, matching the counter
    * semantics where every put gets a NEW version.
    */
  def writeSnapshot(df: DataFrame, rootDir: String, version: Long): Unit =
    if (!putSnapshot(df, rootDir, version))
      throw taken(rootDir, s"version $version")

  /** [[writeSnapshot]], false when `version` was already published. */
  private[graft] def putSnapshot(df: DataFrame, rootDir: String,
                                 version: Long): Boolean = {
    require(version >= 0, s"version must be >= 0: $version")
    Par.described(df.sparkSession, s"snapshot write v$version $rootDir") {
      publish(df.sparkSession, rootDir, rootDir, version)(df.write.parquet)
    }
  }

  /** Write a version into a fresh attempt directory under `parent` with
    * `write`, then publish it as `parent/version=<version>`: false when
    * that name was taken first. A failed or losing attempt deletes its
    * directory; only a process that dies mid-write leaves one behind.
    */
  private def publish(spark: org.apache.spark.sql.SparkSession,
                      rootDir: String, parent: String, version: Long)
                     (write: String => Unit): Boolean = {
    val attempt = s"$parent/_attempt-${java.util.UUID.randomUUID()}"
    val published =
      try {
        write(attempt)
        StoreSegments.hook(rootDir, "commit")
        StoreFs.renameExclusive(spark, attempt, s"$parent/version=$version")
      } catch { case t: Throwable => StoreFs.delete(spark, attempt); throw t }
    if (!published) StoreFs.delete(spark, attempt)
    published
  }

  private def taken(rootDir: String, what: String) =
    new IllegalStateException(s"the snapshot store at $rootDir already " +
      s"has $what: a concurrent writer published it first; nothing this " +
      "write made is published")

  /** The versions present under `rootDir`, ascending — `ls-versions`.
    * Directory-listing only (no data read), like the reference's counter
    * lookup.
    */
  def snapshotVersions(rootDir: String,
                       conf: Option[org.apache.hadoop.conf.Configuration] = None): Seq[Long] = {
    // Hadoop FileSystem listing, NOT java.io.File: the store's pitch is
    // the production get-versions path, and a java.io listing would
    // return nothing for an HDFS/S3 root even though writeSnapshot (via
    // Spark) succeeded there. Scheme resolution prefers the caller's
    // Configuration, then the active session's Hadoop conf, then a plain
    // `new Configuration()` — so listing versions works session-free
    // (the pre-round-10 java.io contract) AND against an HDFS/S3 root.
    val path = new org.apache.hadoop.fs.Path(rootDir)
    val resolved = conf
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.hadoopConfiguration))
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = path.getFileSystem(resolved)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("version="))
      .map(_.getPath.getName.stripPrefix("version=").toLong)
      .toSeq.sorted
  }

  /** DELETE one stored snapshot version — the reference's SDFS `delete`
    * verb (`daemon/daemon.go:116-133`), the one storage op the snapshot
    * store had not absorbed: a version directory is dropped wholesale
    * (partition-granular, nothing else is touched or read). Returns
    * whether the version existed. Deleting a version that later reads
    * would have pruned away anyway costs them nothing; deleting the
    * LATEST simply promotes the previous one — the store stays a plain
    * directory-of-versions either way.
    */
  def deleteSnapshotVersion(rootDir: String, version: Long,
                            conf: Option[org.apache.hadoop.conf.Configuration] = None): Boolean = {
    val path = new org.apache.hadoop.fs.Path(s"$rootDir/version=$version")
    val resolved = conf
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.hadoopConfiguration))
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = path.getFileSystem(resolved)
    fs.exists(path) && fs.delete(path, true)
  }

  /** RETENTION sweep: keep the newest `keepLast` FULL versions, delete
    * the rest (oldest-first), return the deleted version numbers — the
    * policy a daily-snapshot pipeline runs so history length stays
    * bounded while [[readSnapshots]]' pruned-scan guarantee keeps
    * holding over whatever survives. Gated (q135): after a prune, the
    * surviving store must read back exactly the kept versions' rows.
    *
    * DELTA-AWARE: a delta at version `v` can only ever fold over a full
    * snapshot strictly BELOW it, so once the oldest retained full is
    * `B`, every delta with `v ≤ B` is unreachable by construction
    * ([[readSnapshotAt]] at any still-reconstructable target `t ≥ B`
    * picks base = newest full ≤ t ≥ B and folds only deltas in (base,
    * t]). The sweep removes those orphaned delta directories too —
    * otherwise a long-lived CDC store leaks its entire pre-retention
    * delta history on disk. Reconstruction at every target ≥ the oldest
    * retained full is unaffected (gated: q213). Targets below it are
    * deliberately no longer time-travelable — that is what retention
    * means.
    */
  def pruneSnapshots(rootDir: String, keepLast: Int,
                     conf: Option[org.apache.hadoop.conf.Configuration] = None): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val versions = snapshotVersions(rootDir, conf)
    val doomed = versions.dropRight(keepLast)
    doomed.foreach(v => deleteSnapshotVersion(rootDir, v, conf))
    val survivors = versions.takeRight(keepLast)
    if (survivors.nonEmpty) {
      val oldestFull = survivors.head
      deltaVersions(rootDir, conf).filter(_ <= oldestFull).foreach { v =>
        val path = new org.apache.hadoop.fs.Path(
          s"$rootDir/_delta/version=$v")
        val resolved = conf
          .orElse(org.apache.spark.sql.SparkSession.getActiveSession
            .map(_.sparkContext.hadoopConfiguration))
          .getOrElse(new org.apache.hadoop.conf.Configuration())
        val fs = path.getFileSystem(resolved)
        if (fs.exists(path)) fs.delete(path, true)
      }
    }
    doomed
  }

  /** Read the LAST `lastN` snapshot versions — the reference's
    * `get-versions n`. Returns the rows of those versions with their
    * `version` column; the version predicate is a PARTITION filter, so
    * Spark never lists or reads the older version directories' data.
    */
  def readSnapshots(spark: org.apache.spark.sql.SparkSession, rootDir: String,
                    lastN: Int): DataFrame = {
    require(lastN >= 1, s"lastN must be >= 1: $lastN")
    val versions = snapshotVersions(rootDir)
    require(versions.nonEmpty, s"no snapshots under $rootDir")
    val cutoff = versions.takeRight(lastN).head
    // filter BEFORE the cast so the predicate stays a partition filter
    // (pruned listing); partition-type inference surfaces version as int,
    // normalized to long for a stable caller-facing schema
    spark.read.parquet(rootDir).filter(col("version") >= cutoff)
      .withColumn("version", col("version").cast("long"))
  }

  /** DELTA-CHAIN writes for the snapshot store: version `v` stored as
    * only WHAT CHANGED — an upsert frame (full rows) and a delete-id
    * frame, published together as `_delta/version=v` — instead of
    * [[writeSnapshot]]'s full copy. At 100 TB a daily
    * full snapshot is a 100 TB write; a delta is ∝ the day's churn, which
    * is the entire point of CDC-shaped storage. [[readSnapshotAt]]
    * reconstructs any version by folding the chain over the newest full
    * snapshot at-or-below it — so full snapshots double as the chain's
    * compaction points (write one whenever reconstruction cost has grown
    * past taste, exactly like the text/IVF stores' segment compaction).
    * Upserting and deleting the same id in ONE delta is rejected — the
    * merge would otherwise need an arbitrary winner.
    */
  def writeSnapshotDelta(spark: org.apache.spark.sql.SparkSession,
                         rootDir: String, version: Long,
                         upserts: DataFrame, deleteIds: DataFrame,
                         idCol: String): Unit =
      Par.described(spark, s"snapshot delta v$version $rootDir") {
    require(version >= 1, s"delta version must be >= 1: $version")
    // BOTH write-time invariants in ONE job (was two — a join-count for
    // upsert∩delete clashes plus a groupBy-count for duplicate upsert
    // ids, each re-scanning the upsert frame): tag the two id streams,
    // group once, and read both violation flags off a single aggregate.
    // The validation now costs one pass over the churn instead of two —
    // the r15 job-count diet for every delta-chain writer.
    //  - dup upsert ids would tie on the reconstruction window's
    //    (_v, _op) key and pick an arbitrary winner;
    //  - an id upserted AND deleted in one delta has no defined merge.
    val viol = upserts.select(col(idCol).as("_id"))
      .withColumn("_src", lit(1))
      .unionByName(deleteIds.select(col(idCol).as("_id"))
        .withColumn("_src", lit(0)))
      .groupBy("_id")
      .agg(sum("_src").as("_nu"), count(lit(1)).as("_nt"))
      .agg(
        coalesce(max(when(col("_nu") >= 1 && col("_nt") > col("_nu"),
          1).otherwise(0)), lit(0)).as("clash"),
        coalesce(max(when(col("_nu") > 1, 1).otherwise(0)), lit(0))
          .as("dup"))
      .head()
    require(viol.getAs[Int]("clash") == 0,
      s"version $version upserts and deletes share ids — ambiguous merge")
    require(viol.getAs[Int]("dup") == 0,
      s"version $version upserts contain duplicate ids — ambiguous merge")
    // the two component writes are independent (different directories) —
    // overlap them (Par contract: nothing shared, caches not involved)
    val published = publish(spark, rootDir, s"$rootDir/_delta", version) { a =>
      Par.run(() => upserts.write.parquet(s"$a/upserts"),
        () => deleteIds.select(col(idCol)).write.parquet(s"$a/deletes"))
    }
    if (!published) throw taken(rootDir, s"delta version $version")
  }

  /** Delta versions present under the store, ascending. */
  def deltaVersions(rootDir: String,
                    conf: Option[org.apache.hadoop.conf.Configuration] = None): Seq[Long] =
    snapshotVersions(s"$rootDir/_delta", conf)

  /** Reconstruct the store's logical content AT `version` (time travel):
    * the newest FULL snapshot at-or-below `version` is the base; every
    * delta in `(base, version]` folds over it with last-writer-wins per
    * id — a delete tombstone at version v beats any older upsert, and
    * the newest upsert wins over everything older. One union + one
    * window on the (unique, md5-uniform-enough) id key — reconstruction
    * is a single shuffle whatever the chain length, and the base scan is
    * partition-pruned to one version directory.
    */
  def readSnapshotAt(spark: org.apache.spark.sql.SparkSession,
                     rootDir: String, version: Long,
                     idCol: String): DataFrame =
    reconstructAt(spark, rootDir, version, idCol, scope = None)

  /** [[readSnapshotAt]] RESTRICTED to `scope`'s ids — the public face of
    * the per-leg scoped reconstruction [[diffSnapshotsAt]] rides: the
    * semi-join is pushed into every chain leg by hand, so the read costs
    * the scoped ids' rows, never the corpus. What an incremental
    * consumer ([[IndexSync]]) reads to fetch ONLY the churned documents.
    */
  def readSnapshotAt(spark: org.apache.spark.sql.SparkSession,
                     rootDir: String, version: Long,
                     idCol: String, scope: DataFrame): DataFrame =
    reconstructAt(spark, rootDir, version, idCol, Some(scope))

  /** [[readSnapshotAt]], optionally RESTRICTED to an id set: the scope
    * semi-join is applied per chain LEG (base + every delta component),
    * not post-window, so the shuffle carries only the scoped ids' rows —
    * Spark does not push joins through unions, so pushing by hand here is
    * what makes [[diffSnapshotsAt]]'s churn-proportional claim true. The
    * scope frame is NOT hint-broadcast (the r13 filtered-search lesson):
    * AQE broadcasts a small id set and shuffle-joins a huge one.
    */
  private def reconstructAt(spark: org.apache.spark.sql.SparkSession,
                            rootDir: String, version: Long, idCol: String,
                            scope: Option[DataFrame],
                            preBase: Option[(Long, DataFrame)] = None): DataFrame = {
    val fulls = snapshotVersions(rootDir).filter(_ <= version)
    require(fulls.nonEmpty, s"no full snapshot at or below version $version")
    val base = fulls.max
    val deltas = deltaVersions(rootDir).filter(v => v > base && v <= version)
    def scoped(df: DataFrame): DataFrame =
      scope.fold(df)(s => df.join(s.select(col(idCol)), Seq(idCol),
        "left_semi"))
    // `preBase` lets a caller that already read THIS base version (the
    // diff / audit verbs walk the same chain more than once) share one
    // frame — and one schema-inference job — instead of re-reading;
    // used only when the versions agree, so chain shape never lies
    val baseDf = preBase.collect { case (v, df) if v == base => df }
      .getOrElse(spark.read.parquet(s"$rootDir/version=$base"))
    val dataCols = baseDf.columns.toSeq
    // every delta leg shares the store's schema — supply it instead of
    // paying one footer-sampling JOB per spark.read.parquet call (r16:
    // a 2-delta chain walk ran ~5 such jobs per reconstruction; the
    // whole fold now infers nothing beyond the base read)
    val baseSchema = baseDf.schema
    // lazy: only the delta fold references idCol — a no-delta read with a
    // column set that lacks idCol must stay as permissive as before
    lazy val idOnly = org.apache.spark.sql.types.StructType(
      Seq(baseSchema(idCol)))
    // reconstruction AT a compaction point folds nothing: the answer IS
    // the (scoped, partition-pruned) base scan. Skipping the fold also
    // skips the last-writer-wins window's full shuffle+sort of the data
    // rows — at 100 TB, time travel to a full snapshot becomes a pruned
    // read instead of a corpus shuffle (r15; ids are unique per version
    // by the store contract, so the window was an identity there anyway)
    if (deltas.isEmpty)
      return scoped(baseDf).select(dataCols.map(col): _*)
    val baseTagged = scoped(baseDf)
      .withColumn("_v", lit(base)).withColumn("_op", lit("u"))
    val chain = deltas.foldLeft(baseTagged) { (acc, v) =>
      val ups = scoped(
        spark.read.schema(baseSchema)
          .parquet(s"$rootDir/_delta/version=$v/upserts")
          .select(dataCols.map(col): _*))
        .withColumn("_v", lit(v)).withColumn("_op", lit("u"))
      val dels = scoped(
        spark.read.schema(idOnly)
          .parquet(s"$rootDir/_delta/version=$v/deletes"))
      val delRows = dels.select(
        col(idCol) +: dataCols.filter(_ != idCol).map(c =>
          lit(null).cast(baseDf.schema(c).dataType).as(c)): _*)
        .select(dataCols.map(col): _*)
        .withColumn("_v", lit(v)).withColumn("_op", lit("d"))
      acc.unionByName(ups).unionByName(delRows)
    }
    val w = Window.partitionBy(idCol)
      .orderBy(col("_v").desc, col("_op").asc) // 'd' before 'u' never
                                               // happens within a version
                                               // (writeSnapshotDelta
                                               // rejects the clash)
    chain.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1 && col("_op") === "u")
      .select(dataCols.map(col): _*)
  }

  /** The snapshot store's fsck — [[graft.sinks.ZoneMap.zoneMapAudit]]'s
    * contract for the CDC store, completing the audit verb across all
    * five persisted stores. One row of invariants:
    *
    *  - `n_fulls` / `n_deltas` — chain inventory;
    *  - `n_unreachable_deltas` — deltas at versions ≤ the oldest full
    *    (MUST be 0: a delta folds only over a full strictly below it,
    *    so these can never be selected — [[pruneSnapshots]] sweeps them;
    *    a nonzero count means a full was deleted out-of-band);
    *  - `clash_rows` — ids in BOTH a delta's upserts and its deletes
    *    (MUST be 0: [[writeSnapshotDelta]] rejects at write; the fsck
    *    re-verifies the on-disk truth against out-of-band writes);
    *  - `dup_upsert_ids` — ids duplicated within one delta's upserts
    *    (MUST be 0, same contract);
    *  - `n_live` — row count of the reconstruction at the newest
    *    version (the store's logical size).
    *
    * Cost: one scan per delta component (∝ chain churn, the same fold
    * shape as [[readSnapshotAt]]) + one reconstruction.
    */
  def snapshotAudit(spark: org.apache.spark.sql.SparkSession,
                    rootDir: String, idCol: String): DataFrame = {
    val fulls = snapshotVersions(rootDir)
    require(fulls.nonEmpty, s"no snapshots under $rootDir")
    val deltas = deltaVersions(rootDir)
    val unreachable = deltas.count(_ <= fulls.min)
    // one base read shared by the live-count reconstruction below; its
    // schema feeds every delta-leg read — the fsck of an n-delta chain
    // pays ONE schema-inference job, not 2n+1 (r16 job diet)
    val baseDf = spark.read.parquet(s"$rootDir/version=${fulls.max}")
    val idOnly = org.apache.spark.sql.types.StructType(
      Seq(baseDf.schema(idCol)))
    val perDelta = deltas.map { v =>
      val ups = spark.read.schema(idOnly)
        .parquet(s"$rootDir/_delta/version=$v/upserts")
        .select(col(idCol).as("id")).withColumn("_v", lit(v))
      val dels = spark.read.schema(idOnly)
        .parquet(s"$rootDir/_delta/version=$v/deletes")
        .select(col(idCol).as("id")).withColumn("_v", lit(v))
      (ups, dels)
    }
    // ONE pass over the tagged churn union yields both invariants (the
    // writeSnapshotDelta one-pass validation shape, r15): clash_rows is
    // the matching (up-row, del-row) pair count = Σ n_up·n_del per
    // (id, version); dup_upsert_ids counts groups with n_up > 1. Was a
    // join-count plus a separate groupBy-count — two churn scans.
    var clash = 0L
    var dup = 0L
    val newest = (fulls ++ deltas).max
    var nLive = 0L
    val invariants: () => Unit =
      if (perDelta.isEmpty) () => ()
      else { () =>
        val tagged = perDelta.map(_._1.withColumn("_t", lit("u")))
          .reduce(_ unionByName _)
          .unionByName(perDelta.map(_._2.withColumn("_t", lit("d")))
            .reduce(_ unionByName _))
        val row = tagged.groupBy("id", "_v")
          .agg(sum(when(col("_t") === "u", 1L).otherwise(0L)).as("nu"),
            sum(when(col("_t") === "d", 1L).otherwise(0L)).as("nd"))
          .agg(coalesce(sum(col("nu") * col("nd")), lit(0L)).as("clash"),
            coalesce(sum(when(col("nu") > 1, 1L).otherwise(0L)), lit(0L))
              .as("dup"))
          .head()
        clash = row.getLong(0)
        dup = row.getLong(1)
      }
    // the invariant scan and the live-count reconstruction share nothing
    // — overlap them (§2.6)
    Par.run(invariants,
      () => nLive = reconstructAt(spark, rootDir, newest, idCol,
        scope = None, preBase = Some((fulls.max, baseDf))).count())
    val sp = spark
    import sp.implicits._
    Seq((fulls.size.toLong, deltas.size.toLong, unreachable.toLong,
        clash, dup, nLive))
      .toDF("n_fulls", "n_deltas", "n_unreachable_deltas", "clash_rows",
        "dup_upsert_ids", "n_live")
  }

  /** [[corpusDiff]] between two STORED versions — the audit a re-crawl
    * runs before spending downstream dedup/curation compute. Both sides
    * are partition-pruned single-version scans.
    */
  def diffSnapshots(spark: org.apache.spark.sql.SparkSession, rootDir: String,
                    oldVersion: Long, newVersion: Long, idCol: String,
                    textCol: String): DataFrame = {
    val all = spark.read.parquet(rootDir)
    corpusDiff(
      all.filter(col("version") === oldVersion),
      all.filter(col("version") === newVersion),
      idCol, textCol)
  }

  /** [[diffSnapshots]] for the DELTA-CHAIN store: what changed between two
    * RECONSTRUCTED versions (either may be delta-defined — "diff v2
    * against v4" works whether those are fulls, deltas, or a mix). Emits
    * only rows that DIFFER — `(id, status ∈ added/removed/changed)` —
    * because at CDC scale the unchanged rows are the 100 TB of output
    * nobody asked for.
    *
    * Cost dichotomy, chosen from the chain's own metadata:
    *
    *  - **deltas only in `(old, new]`** — an id untouched by every delta
    *    in the range reconstructs identically on both sides, so the diff
    *    is computed ONLY over the touched ids (the union of the range's
    *    upsert/delete id columns): both reconstructions are scoped
    *    per-leg by [[reconstructAt]], and the compare costs ∝ CHURN, not
    *    corpus;
    *  - **a FULL snapshot in the range** — a full rewrite can touch
    *    anything (its writer made no change declaration), so the diff is
    *    the honest full compare: two reconstructions, fingerprints
    *    computed map-side ([[corpusDiff]] — text never crosses the
    *    exchange), one full-outer join on the id.
    *
    * An upsert that rewrote identical content reconstructs to equal
    * fingerprints and is correctly NOT emitted (status would be
    * `unchanged`).
    */
  def diffSnapshotsAt(spark: org.apache.spark.sql.SparkSession,
                      rootDir: String, oldVersion: Long, newVersion: Long,
                      idCol: String, textCol: String): DataFrame = {
    require(newVersion > oldVersion,
      s"diffSnapshotsAt needs oldVersion < newVersion: " +
        s"$oldVersion >= $newVersion")
    val fullsBetween = snapshotVersions(rootDir)
      .filter(v => v > oldVersion && v <= newVersion)
    val changedOnly: DataFrame => DataFrame =
      _.filter(col("status") =!= "unchanged")
    if (fullsBetween.nonEmpty)
      changedOnly(corpusDiff(
        readSnapshotAt(spark, rootDir, oldVersion, idCol),
        readSnapshotAt(spark, rootDir, newVersion, idCol),
        idCol, textCol))
    else {
      val deltas = deltaVersions(rootDir)
        .filter(v => v > oldVersion && v <= newVersion)
      if (deltas.isEmpty)
        // identical reconstructions by construction: nothing differs
        // (same (id, status) shape as corpusDiff)
        spark.range(0).select(col("id"), lit("unchanged").as("status"))
      else {
        // no full lies in (old, new], so BOTH reconstructions fold over
        // the same base version: read it once and share the frame — its
        // schema also feeds every touched-id leg read, so the whole diff
        // pays ONE schema-inference job instead of one per leg (r16;
        // q236's profile showed ten ~30ms single-task jobs here)
        val fullsAtOld = snapshotVersions(rootDir).filter(_ <= oldVersion)
        require(fullsAtOld.nonEmpty,
          s"no full snapshot at or below version $oldVersion")
        val base = fullsAtOld.max
        val baseDf = spark.read.parquet(s"$rootDir/version=$base")
        val idOnly = org.apache.spark.sql.types.StructType(
          Seq(baseDf.schema(idCol)))
        val touched = deltas.map { v =>
          spark.read.schema(idOnly)
            .parquet(s"$rootDir/_delta/version=$v/upserts")
            .select(col(idCol))
            .unionByName(
              spark.read.schema(idOnly)
                .parquet(s"$rootDir/_delta/version=$v/deletes")
                .select(col(idCol)))
        }.reduce(_ unionByName _).distinct()
        changedOnly(corpusDiff(
          reconstructAt(spark, rootDir, oldVersion, idCol, Some(touched),
            preBase = Some((base, baseDf))),
          reconstructAt(spark, rootDir, newVersion, idCol, Some(touched),
            preBase = Some((base, baseDf))),
          idCol, textCol))
      }
    }
  }

  /** Token-yield accounting over [[curate]]: per split, how many documents
    * and training tokens survive the whole pipeline — the number a
    * pretraining budget is planned against (plus an id checksum so the
    * gate hashes membership, not just volume).
    */
  def tokenYield(df: DataFrame, idCol: String, textCol: String,
                 groupCol: String, maxPerGroup: Int,
                 minTokens: Int = 5, maxTokens: Int = 100000): DataFrame =
    curate(df, idCol, textCol, groupCol, maxPerGroup, minTokens, maxTokens)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("n_tokens"),
        sum(col(idCol)).as("id_sum"))
}

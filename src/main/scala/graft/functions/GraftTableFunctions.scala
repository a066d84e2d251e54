package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{Decimal, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Composite, Curation, Dedup, IndexSync, PlanAudit,
  Similarity, StoreFs, StoreMaintenance, StoreSegments, TextAnalysis}
import graft.plans.StoreVerb
import graft.sinks.{Sinks, ZoneMap}

/** SQL-callable TABLE functions over the persisted index stores — the
  * front door that makes the on-disk indexes reachable WITHOUT Scala
  * (q60-q62's treatment extended from scalar functions to relations):
  *
  *   SELECT * FROM graft_bm25_search('/path/to/index', 'spark hash', 25)
  *   SELECT * FROM graft_ivf_search('/idx', '/queries.parquet', 3, 2)
  *   SELECT * FROM graft_exact_dedup('documents', 'doc_id', 'text')
  *
  * Relation-consuming operators take VIEW NAMES (resolved in the active
  * session — temp views, global views, catalog tables), which is how
  * composite pipelines stay reachable through a literals-only
  * table-function surface.
  *
  * Registered in the session's `TableFunctionRegistry` (the same registry
  * `range(...)` lives in), so the calls parse as ordinary FROM-clause
  * table functions. Arguments must be literals (a path and knobs — the
  * same contract as `range`).
  *
  * Each function is one declaration: its usage signature and a body over
  * the call's [[Args]]. The signature gives the accepted argument counts
  * (a call may stop before any nested `[, …]` tail), the `<usage> got N
  * args` error, and the parameter name every argument error carries. A
  * [[read]] folds its arguments at analysis and splices in the operator's
  * logical plan, so pruning/pushdown see through the call like any
  * subquery. A [[verb]] (build, append, maintain, sync, export …) returns
  * a [[graft.plans.StoreVerb]] leaf named after the function minus
  * `graft_`, whose store is argument 0: only that argument is read at
  * analysis, the body (its view lookups and other arguments included)
  * runs at execution, so EXPLAIN stays side-effect-free.
  */
object GraftTableFunctions {

  /** A usage signature `graft_x(a, b[, c[, d]])`, parsed once when the
    * table is built.
    */
  private final class Sig(val usage: String) {
    val name: String = usage.takeWhile(_ != '(')
    // "a, b[, c[, d]]" → groups (a, b), (c), (d): a call ends after one
    private val groups = usage.substring(name.length + 1, usage.lastIndexOf(')'))
      .replace("]", "").split("\\[").toSeq
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val params: Seq[String] = groups.flatten
    private val arities = groups.scanLeft(0)(_ + _.size).tail.toSet

    def bind(args: Seq[Expression]): Args = {
      require(arities(args.length), s"$usage got ${args.length} args")
      new Args(this, args)
    }
  }

  /** One call's arguments, read by position. */
  private final class Args(sig: Sig, args: Seq[Expression]) {
    def length: Int = args.length

    private def refuse(i: Int, what: String, got: Any) =
      new IllegalArgumentException(
        s"${sig.name}: ${sig.params(i)} must be $what, got $got")

    private def lit(i: Int): Any = {
      val e = args(i)
      if (!e.foldable) throw refuse(i, "a literal", e)
      val v = e.eval(null)
      if (v == null) throw refuse(i, "non-null", v)
      v
    }
    def str(i: Int): String = lit(i) match {
      case s: UTF8String => s.toString
      case other => throw refuse(i, "a string", other)
    }
    def int(i: Int): Int = lit(i) match {
      case n: Int => n
      case n: Long if n.isValidInt => n.toInt
      case other => throw refuse(i, "an INT-range integer", other)
    }
    def lng(i: Int): Long = lit(i) match {
      case n: Int => n.toLong
      case n: Long => n
      case other => throw refuse(i, "an integer", other)
    }
    def dbl(i: Int): Double = lit(i) match {
      case d: Double => d
      case f: Float => f.toDouble
      case n: Int => n.toDouble
      case n: Long => n.toDouble
      case d: Decimal => d.toDouble
      case other => throw refuse(i, "numeric", other)
    }
    def intOr(i: Int, default: Int): Int = if (i < length) int(i) else default
    def lngOr(i: Int, default: Long): Long = if (i < length) lng(i) else default
    /** Space-separated terms. */
    def terms(i: Int): Seq[String] = str(i).split("\\s+").filter(_.nonEmpty).toSeq
    /** Comma-separated column names. */
    def csv(i: Int): Seq[String] =
      str(i).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    /** A VIEW/TABLE name resolved in the active session — the device that
      * makes relation-consuming operators SQL-callable despite table
      * functions taking only literals.
      */
    def view(i: Int): DataFrame = active.table(str(i))
  }

  private def active: SparkSession = SparkSession.active

  private type Builder = Seq[Expression] => LogicalPlan

  /** A read: the call is the operator's analyzed plan. */
  private def read(usage: String)(body: Args => DataFrame): (String, Builder) = {
    val sig = new Sig(usage)
    sig.name -> (args => body(sig.bind(args)).queryExecution.analyzed)
  }

  private def storeVerb(usage: String)
                       (node: (String, String, Args) => StoreVerb): (String, Builder) = {
    val sig = new Sig(usage)
    val verb = sig.name.stripPrefix("graft_")
    sig.name -> { args => val a = sig.bind(args); node(verb, a.str(0), a) }
  }

  /** A store verb whose operator returns nothing: receipt `(verb, store, ok)`. */
  private def verb(usage: String)(body: Args => Unit): (String, Builder) =
    storeVerb(usage)((verb, store, a) => StoreVerb.ok(verb, store)(body(a)))

  /** A store verb whose receipt is the operator's DataFrame, of `receipt`. */
  private def verb(usage: String, receipt: StructType)
                  (body: Args => DataFrame): (String, Builder) =
    storeVerb(usage)((verb, store, a) => StoreVerb(verb, store, receipt)(body(a)))

  private val tableFunctions: Seq[(String, Builder)] = Seq(
    read("graft_bm25_search(indexDir, terms, k[, buckets])") { a =>
      TextAnalysis.searchTextIndex(active, a.str(0), a.terms(1), k = a.int(2),
        buckets = a.intOr(3, 0))
    },
    // filtered lexical retrieval: top-k among only the view's doc ids,
    // eligibility applied before scoring/rank, global corpus statistics
    read("graft_bm25_filtered(indexDir, terms, k, allowedView[, buckets])") { a =>
      TextAnalysis.searchTextIndexFiltered(active, a.str(0), a.terms(1),
        a.view(3), k = a.int(2), buckets = a.intOr(4, 0))
    },
    // the query vectors come from a parquet path with (vec_id, embedding)
    // columns, so the whole call stays literal-only (the `range` contract)
    read("graft_ivf_search(indexDir, queriesParquet, k, nprobe)") { a =>
      Similarity.searchIvfIndex(active, a.str(0),
        StoreFs.readParquet(active, a.str(1)), "vec_id", "embedding",
        k = a.int(2), nprobe = a.int(3))
    },
    // the compressed-store sibling of graft_ivf_search: the scan side is
    // the on-disk 4-byte code file
    read("graft_ivfpq_search(indexDir, queriesParquet, k, nprobe)") { a =>
      Similarity.searchIvfPqIndex(active, a.str(0),
        StoreFs.readParquet(active, a.str(1)), "vec_id", "embedding",
        k = a.int(2), nprobe = a.int(3))
    },
    // eligibility applied before the ADC rank window
    read("graft_ivfpq_filtered(indexDir, queriesParquet, k, nprobe, allowedView)") { a =>
      Similarity.searchIvfPqIndexFiltered(active, a.str(0),
        StoreFs.readParquet(active, a.str(1)), "vec_id", "embedding",
        a.view(4), k = a.int(2), nprobe = a.int(3))
    },
    // the PRE-SCORED MMR form (q200/q212's composition point): the
    // caller's fused relevance rides in relCol, vectors supply the
    // diversity term
    read("graft_mmr_scored(candView, idCol, vecCol, relCol, k, lambdaPct)") { a =>
      Similarity.mmrRerankScored(a.view(0), a.str(1), a.str(2), a.str(3),
        k = a.int(4), lambdaPct = a.int(5))
    },
    // exact consecutive-position hits from a positions-enabled index
    read("graft_phrase_search(indexDir, phrase[, buckets])") { a =>
      TextAnalysis.phraseSearchIndex(active, a.str(0), a.terms(1), a.intOr(2, 0))
    },
    // one (keep_id, dup_id, fp) row per removable exact duplicate
    read("graft_exact_dedup(view, idCol, textCol)") { a =>
      Dedup.exact(a.view(0), a.str(1), a.str(2))
    },
    // verified near-dup pairs via the banded LSH pipeline
    read("graft_minhash_dedup(view, idCol, textCol, n, k, rowsPerBand, threshold)") { a =>
      Dedup.minHashDedup(a.view(0), a.str(1), a.str(2), n = a.int(3),
        k = a.int(4), rowsPerBand = a.int(5), threshold = a.dbl(6))
    },
    // corpus docs sharing an n-gram with the eval set
    read("graft_decontam(corpusView, idCol, textCol, evalView, evalTextCol, n)") { a =>
      Dedup.contaminatedDocs(a.view(0), a.str(1), a.str(2), a.view(3),
        a.str(4), n = a.int(5))
    },
    // the fsck contracts as one-row SQL relations, so an operator on call
    // can prove store integrity without Scala
    read("graft_text_index_audit(indexDir)") { a =>
      TextAnalysis.textIndexAudit(active, a.str(0))
    },
    read("graft_ivf_index_audit(indexDir)") { a =>
      Similarity.ivfIndexAudit(active, a.str(0))
    },
    // reciprocal-rank fusion of two registered (doc_id, rank) views
    read("graft_rrf(rankView1, rankView2, kConst, topK)") { a =>
      TextAnalysis.rrfFuse(Seq(a.view(0), a.view(1)), kConst = a.int(2),
        topK = a.int(3))
    },
    // multi-vector MaxSim top-k; chunkView carries (chunk_id, doc_id,
    // embedding), queryView (query_id, embedding)
    read("graft_maxsim(chunkView, queryView, k)") { a =>
      Similarity.maxSimTopK(a.view(0), "chunk_id", "doc_id", "embedding",
        a.view(1), "query_id", "embedding", k = a.int(2))
    },
    // the PQ-candidate semantic dup groups (vec_id, canon_id)
    read("graft_pq_dedup(view, idCol, vecCol, threshold, m, ksub, centStep)") { a =>
      Similarity.pqDupGroups(a.view(0), a.str(1), a.str(2),
        threshold = a.dbl(3), m = a.int(4), ksub = a.int(5),
        centStep = a.int(6))
    },
    // the sidecar consult happens at analysis time (like the index TVFs'
    // stats reads), so the spliced plan carries the isin PARTITION filter
    read("graft_zonemap_scan(storeDir, keyCol, lo, hi)") { a =>
      ZoneMap.scanRange(active, a.str(0), a.str(1), a.lng(2), a.lng(3))
    },
    // the per-document drop-reason audit as a relation
    read("graft_lineage(corpusView, idCol, textCol)") { a =>
      Curation.curationLineage(a.view(0), a.str(1), a.str(2))
    },
    // the release-readiness table with the benchmarks as ONE (name, text)
    // relation
    read("graft_decontam_matrix(corpusView, idCol, textCol, groupCol, " +
        "benchView, benchNameCol, benchTextCol, n)") { a =>
      Dedup.decontaminationMatrixView(a.view(0), a.str(1), a.str(2), a.str(3),
        a.view(4), a.str(5), a.str(6), n = a.int(7))
    },
    // cross-corpus overlap estimates from two bottom-k sketches, as one row
    read("graft_kmv_overlap(viewA, viewB, textCol, k)") { a =>
      Dedup.kmvOverlapReport(a.view(0), a.view(1), a.str(2), k = a.int(3))
    },
    // binary-signature Hamming top-k over registered embedding views
    read("graft_hamming_topk(corpusView, queryView, idCol, vecCol, k)") { a =>
      Similarity.hammingTopK(a.view(0), a.view(1), a.str(2), a.str(3),
        k = a.int(4))
    },
    // delta-chain time travel: the reconstructed logical snapshot AT a
    // version
    read("graft_snapshot_at(storeDir, version, idCol)") { a =>
      Curation.readSnapshotAt(active, a.str(0), a.lng(1), a.str(2))
    },
    // rows that DIFFER between two reconstructed versions (added, removed,
    // changed); churn-proportional when the range holds only deltas
    read("graft_snapshot_diff(storeDir, oldVersion, newVersion, idCol, textCol)") { a =>
      Curation.diffSnapshotsAt(active, a.str(0), a.lng(1), a.lng(2), a.str(3),
        a.str(4))
    },
    read("graft_zonemap_audit(storeDir)") { a =>
      ZoneMap.zoneMapAudit(active, a.str(0))
    },
    // MMR diversity rerank over registered embedding views
    read("graft_mmr(corpusView, queryView, idCol, vecCol, nCand, k, lambdaPct)") { a =>
      Similarity.mmrRerank(a.view(0), a.view(1), a.str(2), a.str(3),
        nCandidates = a.int(4), k = a.int(5), lambdaPct = a.int(6))
    },
    // Store verbs: q206-q210 gate the SQL-built stores against the
    // Scala-built ones.
    verb("graft_text_index_build(dir, corpusView, idCol, textCol[, buckets])") { a =>
      TextAnalysis.buildTextIndex(a.view(1), a.str(2), a.str(3), a.str(0),
        buckets = a.intOr(4, 64))
    },
    verb("graft_text_index_append(dir, batchView, idCol, textCol[, buckets])") { a =>
      TextAnalysis.appendTextIndex(active, a.str(0), a.view(1), a.str(2),
        a.str(3), buckets = a.intOr(4, 0))
    },
    verb("graft_text_index_delete(dir, idsView, idCol[, buckets])") { a =>
      TextAnalysis.deleteFromTextIndex(active, a.str(0), a.view(1), a.str(2),
        buckets = a.intOr(3, 0))
    },
    verb("graft_text_index_compact(dir[, buckets])") { a =>
      TextAnalysis.compactTextIndex(active, a.str(0), buckets = a.intOr(1, 0))
    },
    // centStep = 0 selects the ADAPTIVE ⌈√n⌉ codebook policy
    // (buildIvfIndexAdaptive): the fixed-step anchor was the one
    // superlinear build reachable from SQL text.
    verb("graft_ivf_build(dir, corpusView, idCol, vecCol[, centStep[, maxCentroids]])") { a =>
      val centStep = a.intOr(4, 25)
      val maxCents = a.intOr(5, 4096)
      if (centStep == 0)
        Similarity.buildIvfIndexAdaptive(a.view(1), a.str(2), a.str(3),
          a.str(0), maxCentroids = maxCents)
      else
        Similarity.buildIvfIndex(a.view(1), a.str(2), a.str(3), a.str(0),
          centStep = centStep, maxCentroids = maxCents)
    },
    verb("graft_ivf_append(dir, batchView, idCol, vecCol)") { a =>
      Similarity.appendIvfIndex(active, a.str(0), a.view(1), a.str(2), a.str(3))
    },
    verb("graft_ivf_delete(dir, idsView, idCol)") { a =>
      Similarity.deleteFromIvfIndex(active, a.str(0), a.view(1), a.str(2))
    },
    verb("graft_ivf_compact(dir)") { a =>
      Similarity.compactIvfIndex(active, a.str(0))
    },
    // ivfStep = 0 selects the ADAPTIVE ⌈√n⌉ IVF-codebook policy
    // (buildIvfPqIndexAdaptive); the residual PQ codebook stays a
    // fixed-size model either way.
    verb("graft_ivfpq_build(dir, corpusView, idCol, vecCol[, m, ksub[, ivfStep, pqStep]])") { a =>
      val (m, ksub) = (a.intOr(4, 8), a.intOr(5, 16))
      val (ivfStep, pqStep) = (a.intOr(6, 25), a.intOr(7, 7))
      if (ivfStep == 0)
        Similarity.buildIvfPqIndexAdaptive(a.view(1), a.str(2), a.str(3),
          a.str(0), m = m, ksub = ksub, pqStep = pqStep)
      else
        Similarity.buildIvfPqIndex(a.view(1), a.str(2), a.str(3), a.str(0),
          m = m, ksub = ksub, ivfStep = ivfStep, pqStep = pqStep)
    },
    verb("graft_ivfpq_append(dir, batchView, idCol, vecCol)") { a =>
      Similarity.appendIvfPqIndex(active, a.str(0), a.view(1), a.str(2),
        a.str(3))
    },
    verb("graft_ivfpq_delete(dir, idsView, idCol)") { a =>
      Similarity.deleteFromIvfPqIndex(active, a.str(0), a.view(1), a.str(2))
    },
    verb("graft_ivfpq_compact(dir)") { a =>
      Similarity.compactIvfPqIndex(active, a.str(0))
    },
    verb("graft_zonemap_write(dir, view, keyCol, zones)") { a =>
      ZoneMap.writeZoneMapped(a.view(1), a.str(0), a.str(2), a.int(3))
    },
    verb("graft_zonemap_append(dir, batchView, keyCol)") { a =>
      ZoneMap.appendZoneMapped(active, a.str(0), a.view(1), a.str(2))
    },
    verb("graft_snapshot_write(dir, view, version)") { a =>
      Curation.writeSnapshot(a.view(1), a.str(0), a.lng(2))
    },
    verb("graft_snapshot_prune(dir, keepLast)") { a =>
      Curation.pruneSnapshots(a.str(0), a.int(1))
    },
    // CDC-sync observability (graft_store_segments' sibling): the applied
    // version the newest log entry records, which a scheduler resumes
    // from — what a scheduled job SELECTs before picking its range
    read("graft_sync_status(dir)") { a =>
      IndexSync.syncStatus(active, a.str(0))
    },
    // the CDC store's fsck as a one-row SQL relation, completing the audit
    // verb across all five persisted stores' SQL surfaces
    read("graft_snapshot_audit(dir, idCol)") { a =>
      Curation.snapshotAudit(active, a.str(0), a.str(1))
    },
    // the CDC write verb: a delta costs ∝ churn, and with it the whole
    // delta-chain lifecycle (write/delta/prune/time-travel) is SQL-reachable
    verb("graft_snapshot_delta(dir, version, upsertsView, deletesView, idCol)") { a =>
      Curation.writeSnapshotDelta(active, a.str(0), a.lng(1), a.view(2),
        a.view(3), a.str(4))
    },
    // MAJOR compaction: drain tombstones, consolidate accumulated append
    // segments to one
    verb("graft_ivf_vacuum(dir)") { a =>
      Similarity.vacuumIvfIndex(active, a.str(0))
    },
    verb("graft_ivfpq_vacuum(dir)") { a =>
      Similarity.vacuumIvfPqIndex(active, a.str(0))
    },
    verb("graft_text_index_vacuum(dir[, buckets])") { a =>
      TextAnalysis.vacuumTextIndex(active, a.str(0), buckets = a.intOr(1, 0))
    },
    // delivery-integrity check of an exported corpus against its
    // _export_manifest: per partition-combo row-count + order-insensitive
    // id-checksum verdicts plus the overall healthy conjunction
    read("graft_export_audit(path, keyColsCsv, idCol)") { a =>
      Sinks.exportAudit(active, a.str(0), a.csv(1), a.str(2))
    },
    // THRESHOLD-DRIVEN maintenance: probe the store's health signals (live
    // directory legs, tombstoned ids — driver metadata + one churn-bounded
    // scan) and apply the smallest sufficient verb (vacuum / compact /
    // none). Idempotent when nothing is due, so a cron-style
    // `SELECT * FROM graft_ivf_maintain(...)` is safe to fire every cycle.
    verb("graft_ivf_maintain(dir[, maxSegments, maxTombstones])",
        StoreMaintenance.receiptSchema) { a =>
      StoreMaintenance.maintainIvfIndex(active, a.str(0),
        maxSegments = a.intOr(1, 8), maxTombstones = a.lngOr(2, 0L))
    },
    verb("graft_ivfpq_maintain(dir[, maxSegments, maxTombstones])",
        StoreMaintenance.receiptSchema) { a =>
      StoreMaintenance.maintainIvfPqIndex(active, a.str(0),
        maxSegments = a.intOr(1, 8), maxTombstones = a.lngOr(2, 0L))
    },
    // the writer-side half of graft_export_audit
    verb("graft_export_manifest(path, keyColsCsv, idCol)") { a =>
      Sinks.exportManifest(active, a.str(0), a.csv(1), a.str(2))
    },
    // write a compaction-point full when the delta chain above the newest
    // full has grown past maxChain (reconstruction cost grows with chain
    // length; this bounds it)
    verb("graft_snapshot_maintain(dir, idCol[, maxChain])",
        StoreMaintenance.receiptSchema) { a =>
      StoreMaintenance.maintainSnapshotStore(active, a.str(0), a.str(1),
        maxChain = a.intOr(2, 8))
    },
    verb("graft_text_index_maintain(dir[, buckets[, maxSegments, maxTombstones]])",
        StoreMaintenance.receiptSchema) { a =>
      StoreMaintenance.maintainTextIndex(active, a.str(0),
        buckets = a.intOr(1, 0), maxSegments = a.intOr(2, 8),
        maxTombstones = a.lngOr(3, 0L))
    },
    // CDC-driven index freshness: apply the snapshot store's (oldV, newV]
    // range to the index at churn cost (diff → delete → drain-if-shadowed
    // → append) instead of a rebuild. The receipt (action applied/noop +
    // the added/changed/removed counts) lets the scheduled job that fires
    // it observe what it did; a replayed range is a clean noop. The vector
    // stores keep their frozen codebooks; a changed embedding diffs as
    // 'changed' through the string-cast fingerprint.
    verb("graft_text_index_sync(indexDir, storeDir, oldV, newV, idCol, textCol[, buckets])",
        IndexSync.receiptSchema) { a =>
      IndexSync.syncTextIndexFromSnapshots(active, a.str(0), a.str(1),
        a.lng(2), a.lng(3), a.str(4), a.str(5), buckets = a.intOr(6, 0))
    },
    verb("graft_ivf_sync(indexDir, storeDir, oldV, newV, idCol, vecCol)",
        IndexSync.receiptSchema) { a =>
      IndexSync.syncIvfIndexFromSnapshots(active, a.str(0), a.str(1),
        a.lng(2), a.lng(3), a.str(4), a.str(5))
    },
    verb("graft_ivfpq_sync(indexDir, storeDir, oldV, newV, idCol, vecCol)",
        IndexSync.receiptSchema) { a =>
      IndexSync.syncIvfPqIndexFromSnapshots(active, a.str(0), a.str(1),
        a.lng(2), a.lng(3), a.str(4), a.str(5))
    },
    // INCREMENTAL delivery: ship the snapshot range's churn (adds/ +
    // removes/, each sharded and integrity-manifested) instead of a full
    // re-export
    verb("graft_export_delta(exportDir, storeDir, oldV, newV, idCol, contentCol[, numShards, seed])",
        Sinks.exportReceiptSchema) { a =>
      Sinks.exportDelta(active, a.str(1), a.lng(2), a.lng(3), a.str(4),
        a.str(5), a.str(0), numShards = a.intOr(6, 16), seed = a.lngOr(7, 5L))
    },
    // the 100 TB-readiness linter: plan the statement (never execute it)
    // and return its hazard rows (cartesian products, global windows,
    // unfiltered scans, exchange counts) before submitting a pipeline
    read("graft_plan_audit(sqlText)") { a =>
      PlanAudit.auditSql(active, a.str(0))
    },
    // the ONE full-corpus delivery, version-stamped so later
    // graft_export_apply calls can enforce range discipline
    verb("graft_export_snapshot(exportDir, storeDir, version, idCol[, numShards, seed])",
        Sinks.exportReceiptSchema) { a =>
      Sinks.exportSnapshot(active, a.str(1), a.lng(2), a.str(3), a.str(0),
        numShards = a.intOr(4, 16), seed = a.lngOr(5, 5L))
    },
    // the delete-then-add apply contract on a consumer copy: audits the
    // delivery, enforces the version-stamp range discipline, lands the
    // advanced copy at outDir
    verb("graft_export_apply(outDir, copyDir, deltaDir, idCol[, numShards, seed])",
        Sinks.applyReceiptSchema) { a =>
      Sinks.applyDelta(active, a.str(1), a.str(2), a.str(0), a.str(3),
        numShards = a.intOr(4, 16), seed = a.lngOr(5, 5L))
    },
    // Declares a composition BEFORE its member builds, so a crash between
    // them is detectable (graft_rag_audit) even though every per-store
    // fsck sees a healthy store. With vecDir, the second argument is the
    // text index of the RAG pair (text + IVF-PQ); without, it is a member
    // spec declaring ANY member list as `name|dir|comp1,comp2;name2|dir2|
    // comp3` — `;` between members, `|` between a member's fields, `,`
    // between its required components ('|' and ';' don't occur in store
    // paths; a dir that somehow contains one needs the Scala API). A
    // three-store pipeline (text + vectors + zone-mapped export) declares
    // itself from SQL:
    //   graft_composite_begin('/m', 'text|/t|stats,terms,postings,docs;
    //     vectors|/v|centroids,pq_codebook,pq_meta,postings;
    //     export|/e|corpus')
    verb("graft_composite_begin(manifestDir, textDirOrSpec[, vecDir])") { a =>
      val members =
        if (a.length == 3) Composite.ragMembers(a.str(1), a.str(2))
        else Composite.parseMembersSpec(a.str(1))
      Composite.begin(active, a.str(0), members)
    },
    // every member build landed: verifies presence, swaps pending →
    // committed
    verb("graft_composite_commit(manifestDir)") { a =>
      Composite.commit(active, a.str(0))
    },
    // segment-layout observability: one row per live segment of the
    // component in the store's newest log entry, with its superseded-key
    // count and the recorded layout — what an operator reads before
    // deciding a vacuum is due
    read("graft_store_segments(storeDir, component)") { a =>
      val (dir, comp) = (a.str(0), a.str(1))
      val sp = active
      import sp.implicits._
      val e = StoreSegments.latest(sp, dir)
      e.segs(comp).map(s => (e.version, s"$comp/seg=${s.id}",
          s.excluded.size.toLong, e.layout))
        .toDF("version", "path", "n_superseded_keys", "layout")
    },
    // the recovery verb: drop a pending manifest after a crash
    // investigation (members untouched), so the audit → abandon → rebuild
    // loop is SQL-reachable end to end
    verb("graft_composite_abandon(manifestDir)") { a =>
      Composite.abandon(active, a.str(0))
    },
    // the composite fsck: per-member presence + the manifest-level verdict
    // (pending = unhealthy, the crash-between-builds state no per-store
    // audit can see)
    read("graft_rag_audit(manifestDir)") { a =>
      Composite.audit(active, a.str(0))
    })

  /** Idempotent per-session registration — same contract as
    * [[GraftExtensions.ensureRegistered]], for the table registry.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    graft.plans.StoreVerbStrategy.ensureInjected(spark)
    val registry = spark.sessionState.tableFunctionRegistry
    tableFunctions.foreach { case (name, builder) =>
      val ident = FunctionIdentifier(name)
      if (!registry.functionExists(ident))
        registry.registerFunction(ident,
          new ExpressionInfo(GraftTableFunctions.getClass.getName, name),
          builder)
    }
  }
}

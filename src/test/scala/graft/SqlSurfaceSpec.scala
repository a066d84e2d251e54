package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.Row

import graft.functions.GraftTableFunctions
import graft.operators.{Curation, IndexSync, Similarity, StoreMaintenance,
  StoreSegments, TextAnalysis}

/** The `graft_*` SQL table functions as one surface: the registered
  * names, the argument counts each accepts, the usage error of any other
  * count, where an argument error is refused and what it names, the
  * README's list of signatures, and SQL ≡ Scala for the verbs no gate
  * calls.
  */
class SqlSurfaceSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  /** Every function's usage signature and the argument counts it accepts. */
  private val surface: Seq[(String, Set[Int])] = Seq(
    "graft_bm25_search(indexDir, terms, k[, buckets])" -> Set(3, 4),
    "graft_bm25_filtered(indexDir, terms, k, allowedView[, buckets])" -> Set(4, 5),
    "graft_ivf_search(indexDir, queriesParquet, k, nprobe)" -> Set(4),
    "graft_ivfpq_search(indexDir, queriesParquet, k, nprobe)" -> Set(4),
    "graft_ivfpq_filtered(indexDir, queriesParquet, k, nprobe, allowedView)" -> Set(5),
    "graft_mmr_scored(candView, idCol, vecCol, relCol, k, lambdaPct)" -> Set(6),
    "graft_phrase_search(indexDir, phrase[, buckets])" -> Set(2, 3),
    "graft_exact_dedup(view, idCol, textCol)" -> Set(3),
    "graft_minhash_dedup(view, idCol, textCol, n, k, rowsPerBand, threshold)" -> Set(7),
    "graft_decontam(corpusView, idCol, textCol, evalView, evalTextCol, n)" -> Set(6),
    "graft_text_index_audit(indexDir)" -> Set(1),
    "graft_ivf_index_audit(indexDir)" -> Set(1),
    "graft_rrf(rankView1, rankView2, kConst, topK)" -> Set(4),
    "graft_maxsim(chunkView, queryView, k)" -> Set(3),
    "graft_pq_dedup(view, idCol, vecCol, threshold, m, ksub, centStep)" -> Set(7),
    "graft_zonemap_scan(storeDir, keyCol, lo, hi)" -> Set(4),
    "graft_lineage(corpusView, idCol, textCol)" -> Set(3),
    "graft_decontam_matrix(corpusView, idCol, textCol, groupCol, benchView, benchNameCol, benchTextCol, n)" -> Set(8),
    "graft_kmv_overlap(viewA, viewB, textCol, k)" -> Set(4),
    "graft_hamming_topk(corpusView, queryView, idCol, vecCol, k)" -> Set(5),
    "graft_snapshot_at(storeDir, version, idCol)" -> Set(3),
    "graft_snapshot_diff(storeDir, oldVersion, newVersion, idCol, textCol)" -> Set(5),
    "graft_zonemap_audit(storeDir)" -> Set(1),
    "graft_mmr(corpusView, queryView, idCol, vecCol, nCand, k, lambdaPct)" -> Set(7),
    "graft_text_index_build(dir, corpusView, idCol, textCol[, buckets])" -> Set(4, 5),
    "graft_text_index_append(dir, batchView, idCol, textCol[, buckets])" -> Set(4, 5),
    "graft_text_index_delete(dir, idsView, idCol[, buckets])" -> Set(3, 4),
    "graft_text_index_compact(dir[, buckets])" -> Set(1, 2),
    "graft_ivf_build(dir, corpusView, idCol, vecCol[, centStep[, maxCentroids]])" -> Set(4, 5, 6),
    "graft_ivf_append(dir, batchView, idCol, vecCol)" -> Set(4),
    "graft_ivf_delete(dir, idsView, idCol)" -> Set(3),
    "graft_ivf_compact(dir)" -> Set(1),
    "graft_ivfpq_build(dir, corpusView, idCol, vecCol[, m, ksub[, ivfStep, pqStep]])" -> Set(4, 6, 8),
    "graft_ivfpq_append(dir, batchView, idCol, vecCol)" -> Set(4),
    "graft_ivfpq_delete(dir, idsView, idCol)" -> Set(3),
    "graft_ivfpq_compact(dir)" -> Set(1),
    "graft_zonemap_write(dir, view, keyCol, zones)" -> Set(4),
    "graft_zonemap_append(dir, batchView, keyCol)" -> Set(3),
    "graft_snapshot_write(dir, view, version)" -> Set(3),
    "graft_snapshot_prune(dir, keepLast)" -> Set(2),
    "graft_sync_status(dir)" -> Set(1),
    "graft_snapshot_audit(dir, idCol)" -> Set(2),
    "graft_snapshot_delta(dir, version, upsertsView, deletesView, idCol)" -> Set(5),
    "graft_ivf_vacuum(dir)" -> Set(1),
    "graft_ivfpq_vacuum(dir)" -> Set(1),
    "graft_text_index_vacuum(dir[, buckets])" -> Set(1, 2),
    "graft_export_audit(path, keyColsCsv, idCol)" -> Set(3),
    "graft_ivf_maintain(dir[, maxSegments, maxTombstones])" -> Set(1, 3),
    "graft_ivfpq_maintain(dir[, maxSegments, maxTombstones])" -> Set(1, 3),
    "graft_export_manifest(path, keyColsCsv, idCol)" -> Set(3),
    "graft_snapshot_maintain(dir, idCol[, maxChain])" -> Set(2, 3),
    "graft_text_index_maintain(dir[, buckets[, maxSegments, maxTombstones]])" -> Set(1, 2, 4),
    "graft_text_index_sync(indexDir, storeDir, oldV, newV, idCol, textCol[, buckets])" -> Set(6, 7),
    "graft_ivf_sync(indexDir, storeDir, oldV, newV, idCol, vecCol)" -> Set(6),
    "graft_ivfpq_sync(indexDir, storeDir, oldV, newV, idCol, vecCol)" -> Set(6),
    "graft_export_delta(exportDir, storeDir, oldV, newV, idCol, contentCol[, numShards, seed])" -> Set(6, 8),
    "graft_plan_audit(sqlText)" -> Set(1),
    "graft_export_snapshot(exportDir, storeDir, version, idCol[, numShards, seed])" -> Set(4, 6),
    "graft_export_apply(outDir, copyDir, deltaDir, idCol[, numShards, seed])" -> Set(4, 6),
    "graft_composite_begin(manifestDir, textDirOrSpec[, vecDir])" -> Set(2, 3),
    "graft_composite_commit(manifestDir)" -> Set(1),
    "graft_store_segments(storeDir, component)" -> Set(2),
    "graft_composite_abandon(manifestDir)" -> Set(1),
    "graft_rag_audit(manifestDir)" -> Set(1))

  private def name(usage: String): String = usage.takeWhile(_ != '(')

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)

  /** The messages of the error `sql` fails with at `spark.sql` (analysis),
    * or none when it analyzes.
    */
  private def analysisError(sql: String): Seq[String] =
    try { spark.sql(sql); Nil } catch { case NonFatal(t) => messages(t) }

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Every path under `root`, directories included. */
  private def paths(root: String): Seq[String] = {
    val dir = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala.filter(_ != dir).map(_.toString).toSeq
    finally walk.close()
  }

  /** A byte copy of the store at a fresh path. */
  private def copyOf(root: String): String = {
    val src = java.nio.file.Paths.get(root)
    val dst = java.nio.file.Paths.get(tmp("graft-surface-twin"))
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.toSeq.foreach { f =>
      val to = dst.resolve(src.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(f, to)
    } finally walk.close()
    dst.toString
  }

  test("the registered graft_* table functions are the pinned 64, each accepting exactly its argument counts") {
    GraftTableFunctions.ensureRegistered(spark)
    val registered = spark.sessionState.tableFunctionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(surface.size == 64)
    assert(registered == surface.map(s => name(s._1)).toSet,
      s"registered only: ${registered -- surface.map(s => name(s._1))}; " +
        s"pinned only: ${surface.map(s => name(s._1)).toSet -- registered}")
    // a call of NULLs: an accepted count fails on its first argument, any
    // other count with the usage
    for ((usage, arities) <- surface; n <- 0 to arities.max + 1) {
      val call = s"SELECT * FROM ${name(usage)}(${Seq.fill(n)("NULL").mkString(", ")})"
      val err = analysisError(call)
      if (arities(n))
        assert(err.exists(_.contains("non-null")) &&
          !err.exists(_.contains(" args")), s"$call: ${err.mkString(" | ")}")
      else
        assert(err.exists(_.contains(s"$usage got $n args")),
          s"$call: ${err.mkString(" | ")}")
    }
  }

  test("one argument too many fails at spark.sql with the usage, submits no Spark job and creates no path") {
    GraftTableFunctions.ensureRegistered(spark)
    val root = tmp("graft-surface-extra")
    for ((usage, arities) <- surface) {
      val n = arities.max + 1
      val call = s"SELECT * FROM ${name(usage)}(" +
        (0 until n).map(i => s"'$root/a$i'").mkString(", ") + ")"
      var err: Seq[String] = Nil
      val jobs = jobsDuring { err = analysisError(call) }
      assert(err.exists(_.contains(s"$usage got $n args")),
        s"$call: ${err.mkString(" | ")}")
      assert(jobs == 0, s"$call submitted $jobs jobs")
      assert(paths(root).isEmpty, s"$call created ${paths(root)}")
    }
  }

  test("README.md lists every declared signature verbatim") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val missing = surface.map(_._1).filterNot(readme.contains)
    assert(missing.isEmpty, missing.mkString("\n"))
  }

  private def docs(ids: Seq[Long]) = {
    val words = Seq("spark", "hash", "window", "join", "zebra", "scan")
    ids.map(i => (i,
      Seq.tabulate((i % 4 + 2).toInt)(j => words(((i * 7 + j * 3) % 6).toInt))
        .mkString(" "))).toDF("doc_id", "text")
  }

  private def vecs(ids: Seq[Long]) = ids.map(i =>
    (i, Array.tabulate(8)(j => math.sin(i * 7 + j).abs + 0.1)))
    .toDF("vec_id", "embedding")

  private def textStore(): String = {
    val root = tmp("graft-surface-text")
    TextAnalysis.buildTextIndex(docs(0L until 30L), "doc_id", "text", root,
      buckets = 8)
    root
  }

  test("an integer literal outside the INT range is refused at analysis, naming the function and the parameter") {
    GraftTableFunctions.ensureRegistered(spark)
    val root = textStore()
    // 2^32 + 1 wrapped to k = 1; 2^32 + 8 wrapped to the store's 8 buckets
    for ((call, param, lit) <- Seq(
        (s"graft_bm25_search('$root', 'spark', 4294967297)", "k", "4294967297"),
        (s"graft_bm25_search('$root', 'spark', 3, 4294967304)", "buckets",
          "4294967304"))) {
      var err: Seq[String] = Nil
      val jobs = jobsDuring { err = analysisError(s"SELECT * FROM $call") }
      assert(err.exists(m => m.contains(s"graft_bm25_search: $param ") &&
        m.contains(lit)), s"$call: ${err.mkString(" | ")}")
      assert(jobs == 0, s"$call submitted $jobs jobs")
    }
    // a BIGINT literal inside the range still reads as its INT
    def hits(k: String, buckets: String) = spark.sql(
      s"SELECT * FROM graft_bm25_search('$root', 'spark', $k, $buckets)")
      .collect().toSeq
    assert(hits("3L", "8L") == hits("3", "8") && hits("3L", "8L").size == 3)
  }

  test("a numeric literal where a string is due is refused at analysis, naming the function and the parameter") {
    GraftTableFunctions.ensureRegistered(spark)
    val root = textStore()
    for ((call, fn, param) <- Seq(
        ("graft_bm25_search(42, 'spark', 3)", "graft_bm25_search", "indexDir"),
        (s"graft_bm25_search('$root', 7, 3)", "graft_bm25_search", "terms"),
        // a verb reads its store argument at analysis
        ("graft_ivf_compact(42)", "graft_ivf_compact", "dir"))) {
      val err = analysisError(s"SELECT * FROM $call")
      assert(err.exists(_.contains(s"$fn: $param must be a string")),
        s"$call: ${err.mkString(" | ")}")
    }
  }

  test("graft_text_index_maintain: the 2-argument form runs; 3 arguments fail with the nested usage") {
    GraftTableFunctions.ensureRegistered(spark)
    val root = textStore()
    TextAnalysis.deleteFromTextIndex(spark, root, Seq(3L, 4L).toDF("doc_id"),
      "doc_id", buckets = 8)
    val r = spark.sql(s"SELECT * FROM graft_text_index_maintain('$root', 8)")
      .collect()
    assert(r.length == 1 && r.head.getAs[String]("action") == "compact",
      r.mkString("; "))
    assert(r.head.getAs[Long]("n_tombstones") == 2L, r.head.toString)
    val err = analysisError(
      s"SELECT * FROM graft_text_index_maintain('$root', 8, 4)")
    assert(err.exists(_.contains("graft_text_index_maintain(dir[, buckets[, " +
      "maxSegments, maxTombstones]]) got 3 args")), err.mkString(" | "))
  }

  /** Runs the SQL verb `call(dir)` on `root` and `scala(dir)` on its byte
    * copy: the receipts (the copy's path read as the original's), the log
    * versions and `state` of the two stores agree.
    */
  private def twin(root: String, call: String => String,
                   scala: String => Seq[Row],
                   state: String => Seq[Row]): Seq[Row] = {
    GraftTableFunctions.ensureRegistered(spark)
    val copy = copyOf(root)
    val viaSql = spark.sql(s"SELECT * FROM ${call(root)}").collect().toSeq
    val viaScala = scala(copy)
    def norm(rows: Seq[Row]) = rows.map(_.toSeq.map {
      case s: String => s.replace(copy, root)
      case v => v
    })
    assert(norm(viaSql) == norm(viaScala), s"${call(root)}")
    assert(StoreSegments.latest(spark, root).version ==
      StoreSegments.latest(spark, copy).version, call(root))
    assert(norm(state(root)) == norm(state(copy)), call(root))
    viaSql
  }

  private def okReceipt(verb: String, dir: String) = Seq(Row(verb, dir, true))

  private def textState(dir: String): Seq[Row] =
    TextAnalysis.textIndexAudit(spark, dir).collect().toSeq ++
      TextAnalysis.searchTextIndex(spark, dir, Seq("spark", "hash", "zebra"),
        k = 40).orderBy("doc_id").collect()

  private def queries = vecs(Seq(0L, 5L, 33L))

  private def ivfState(dir: String): Seq[Row] =
    Similarity.ivfIndexAudit(spark, dir).collect().toSeq ++
      Similarity.searchIvfIndex(spark, dir, queries, "vec_id", "embedding",
        k = 5, nprobe = 3).orderBy("query_id", "neighbor_id").collect()

  private def pqState(dir: String): Seq[Row] =
    Similarity.ivfIndexAudit(spark, dir).collect().toSeq ++
      Similarity.searchIvfPqIndex(spark, dir, queries, "vec_id", "embedding",
        k = 5, nprobe = 3).orderBy("query_id", "neighbor_id").collect()

  /** An IVF-PQ store of ids 0..39 in two segments, 3 and 31 deleted. */
  private def pqStore(): String = {
    val root = tmp("graft-surface-pq")
    Similarity.buildIvfPqIndex(vecs(0L until 30L), "vec_id", "embedding", root,
      m = 2, ksub = 4, ivfStep = 10, pqStep = 3)
    Similarity.appendIvfPqIndex(spark, root, vecs(30L until 40L), "vec_id",
      "embedding")
    Similarity.deleteFromIvfPqIndex(spark, root, Seq(3L, 31L).toDF("vec_id"),
      "vec_id")
    root
  }

  test("graft_text_index_compact and graft_text_index_vacuum through SQL equal the Scala verbs on a twin store") {
    val compacted = textStore()
    TextAnalysis.deleteFromTextIndex(spark, compacted,
      Seq(3L, 4L).toDF("doc_id"), "doc_id", buckets = 8)
    twin(compacted, d => s"graft_text_index_compact('$d', 8)",
      d => { TextAnalysis.compactTextIndex(spark, d, buckets = 8)
        okReceipt("text_index_compact", d) }, textState)

    val vacuumed = textStore()
    TextAnalysis.appendTextIndex(spark, vacuumed, docs(30L until 40L),
      "doc_id", "text", buckets = 8)
    TextAnalysis.deleteFromTextIndex(spark, vacuumed,
      Seq(3L, 31L).toDF("doc_id"), "doc_id", buckets = 8)
    twin(vacuumed, d => s"graft_text_index_vacuum('$d')",
      d => { TextAnalysis.vacuumTextIndex(spark, d)
        okReceipt("text_index_vacuum", d) }, textState)
    assert(StoreSegments.latest(spark, vacuumed).segs("postings").size == 1)
  }

  test("graft_ivf_compact through SQL equals the Scala verb on a twin store") {
    val root = tmp("graft-surface-ivf")
    Similarity.buildIvfIndex(vecs(0L until 30L), "vec_id", "embedding", root,
      centStep = 10)
    Similarity.deleteFromIvfIndex(spark, root, Seq(3L, 4L).toDF("vec_id"),
      "vec_id")
    twin(root, d => s"graft_ivf_compact('$d')",
      d => { Similarity.compactIvfIndex(spark, d)
        okReceipt("ivf_compact", d) }, ivfState)
  }

  test("graft_ivfpq_vacuum and graft_ivfpq_maintain through SQL equal the Scala verbs on a twin store") {
    val vacuumed = pqStore()
    twin(vacuumed, d => s"graft_ivfpq_vacuum('$d')",
      d => { Similarity.vacuumIvfPqIndex(spark, d)
        okReceipt("ivfpq_vacuum", d) }, pqState)
    assert(!StoreSegments.latest(spark, vacuumed).has(StoreSegments.Tomb))

    val maintained = pqStore()
    val receipt = twin(maintained, d => s"graft_ivfpq_maintain('$d', 1, 0)",
      d => StoreMaintenance.maintainIvfPqIndex(spark, d, maxSegments = 1,
        maxTombstones = 0L).collect().toSeq, pqState)
    assert(receipt.map(_.getAs[String]("action")) == Seq("vacuum"),
      receipt.mkString("; "))
  }

  test("graft_ivfpq_sync through SQL equals the Scala verb on a twin store") {
    val store = tmp("graft-surface-pq-sync-store")
    Curation.writeSnapshot(vecs(0L until 30L), store, version = 1)
    Curation.writeSnapshotDelta(spark, store, version = 2,
      upserts = vecs(Seq(5L, 33L)).withColumn("embedding",
        org.apache.spark.sql.functions.reverse($"embedding")),
      deleteIds = Seq(7L).toDF("vec_id"), idCol = "vec_id")
    val root = tmp("graft-surface-pq-sync")
    Similarity.buildIvfPqIndex(Curation.readSnapshotAt(spark, store, 1,
      "vec_id"), "vec_id", "embedding", root, m = 2, ksub = 4, ivfStep = 10,
      pqStep = 3)
    val receipt = twin(root,
      d => s"graft_ivfpq_sync('$d', '$store', 1, 2, 'vec_id', 'embedding')",
      d => IndexSync.syncIvfPqIndexFromSnapshots(spark, d, store, 1, 2,
        "vec_id", "embedding").collect().toSeq, pqState)
    assert(receipt.map(r => (r.getAs[String]("action"),
      r.getAs[Long]("n_added"), r.getAs[Long]("n_changed"),
      r.getAs[Long]("n_removed"))) == Seq(("applied", 1L, 1L, 1L)),
      receipt.mkString("; "))
  }
}

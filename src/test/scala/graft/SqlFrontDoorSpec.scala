package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.api.SqlFrontDoor
import graft.operators.Relational

/** The SQL text surface must be the SAME engine as the operator library:
  * identical results, identical physical strategies. CORRECTNESS gates
  * q60-q62 against the DuckDB oracle; these tests pin the equivalences the
  * gate can't see (result parity against the library form, and the physical
  * plan of the SQL text).
  */
class SqlFrontDoorSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("registered views are lazy names over the fixture parquet") {
    SqlFrontDoor.registerViews(spark, dir)
    val names = spark.catalog.listTables().collect().map(_.name).toSet
    assert(SqlFrontDoor.TableNames.toSet.subsetOf(names))
    assert(spark.sql("SELECT count(*) AS n FROM documents").head().getLong(0) > 0)
  }

  test("SQL wordcount text == operator-library wordCount, row for row") {
    val viaSql = SparkEntry.queries("q60_sql_wordcount")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaLib = Relational.wordCount(Tables(spark, dir).documents, "text")
      .orderBy("word")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaSql == viaLib)
    assert(viaSql.nonEmpty)
  }

  test("graft_cosine resolves from SQL text and the kNN plan broadcasts the query side") {
    val df = SparkEntry.queries("q62_sql_knn")(spark, dir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every query id gets at most k=5 neighbors, cosines in [-1, 1]
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length <= 5))
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    // corpus must NOT shuffle: the non-equi join plans as a broadcast
    // nested-loop join with the 20-row query side as the build side
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"))
  }

  test("SQL top-k text plans as TakeOrderedAndProject, not a full sort") {
    val df = SparkEntry.queries("q61_sql_topk")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  test("bloom primitives resolve from SQL text: no false negatives") {
    SqlFrontDoor.registerViews(spark, dir)
    val total = spark.sql("SELECT count(*) AS n FROM documents")
      .head().getLong(0)
    // every lang value went into the filter, so might_contain must admit
    // every row — Bloom filters cannot false-negative
    val admitted = spark.sql(
      """SELECT count(*) AS n FROM documents
        |WHERE graft_might_contain(
        |  (SELECT graft_bloom_agg(xxhash64(lang), 1024L, 8192L)
        |   FROM documents),
        |  xxhash64(lang))""".stripMargin).head().getLong(0)
    assert(admitted == total)
  }

  test("table functions: bm25 index search from pure SQL equals the Scala operator") {
    import TestSpark.spark.implicits._
    val docs = Seq((0L, "spark hash window spark"), (1L, "spark window"),
      (2L, "hash hash join"), (5L, "zebra quokka")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-sqltvf").toString
    graft.operators.TextAnalysis.buildTextIndex(docs, "doc_id", "text", root, buckets = 8)
    val viaSql = SqlFrontDoor.sql(spark, dir,
      s"SELECT * FROM graft_bm25_search('$root', 'spark hash', 10, 8) ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaScala = graft.operators.TextAnalysis
      .searchTextIndex(spark, root, Seq("spark", "hash"), k = 10, buckets = 8)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql == viaScala && viaSql.nonEmpty)
    // non-literal argument: a clean analysis-time error, not a mystery NPE
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_bm25_search(concat('$root', doc_id), 'spark', 1)")
        .collect()
    }
    assert(err.getMessage != null)
  }

  test("write-verb TVFs: SQL-built store equals the Scala-built one; lock still bites") {
    import TestSpark.spark.implicits._
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val docs = Seq((0L, "spark hash window spark"), (1L, "spark window"),
      (2L, "hash hash join"), (5L, "zebra quokka")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("wv_docs")
    val sqlRoot = java.nio.file.Files.createTempDirectory("graft-wv-sql").toString
    val receipt = spark.sql(
      s"SELECT * FROM graft_text_index_build('$sqlRoot', 'wv_docs', 'doc_id', 'text', 8)")
      .head
    assert(receipt.getString(0) == "text_index_build" && receipt.getBoolean(2))
    val scalaRoot = java.nio.file.Files.createTempDirectory("graft-wv-scala").toString
    graft.operators.TextAnalysis.buildTextIndex(docs, "doc_id", "text",
      scalaRoot, buckets = 8)
    def search(root: String) = graft.operators.TextAnalysis
      .searchTextIndex(spark, root, Seq("spark", "hash"), k = 10, buckets = 8)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(search(sqlRoot) == search(scalaRoot) && search(sqlRoot).nonEmpty)
    // the log's one-commit-per-verb race reaches through the SQL surface
    // too: a writer that commits while a SQL append is in flight makes the
    // SQL verb fail, naming the store, and leaves only its own commit
    val version = graft.operators.StoreSegments.latest(spark, sqlRoot).version
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    graft.operators.StoreSegments.hook = (d, step) =>
      if (d == sqlRoot && step == "commit" && raced.compareAndSet(false, true))
        graft.operators.TextAnalysis.appendTextIndex(spark, sqlRoot,
          Seq((9L, "quokka")).toDF("doc_id", "text"), "doc_id", "text")
    val e = try intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_text_index_append('$sqlRoot', 'wv_docs', 'doc_id', 'text', 8)")
        .collect()
    } finally graft.operators.StoreSegments.hook = (_, _) => ()
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
    assert(chain(e).exists(m => m.contains("concurrent writer") &&
      m.contains(sqlRoot)), chain(e).mkString(" | "))
    assert(graft.operators.StoreSegments.latest(spark, sqlRoot).version ==
      version + 1)
    assert(graft.operators.TextAnalysis.searchTextIndex(spark, sqlRoot,
      Seq("quokka")).select("doc_id").as[Long].collect().toSet ==
      Set(5L, 9L))
    // the log's version is observable from SQL: every entry's segments
    // carry it (graft_store_segments)
    (1 to 2).foreach(_ => spark.sql(
      s"SELECT * FROM graft_text_index_append('$sqlRoot', 'wv_docs', 'doc_id', 'text', 8)")
      .collect())
    val logVersions = spark.sql(
      s"SELECT DISTINCT version FROM graft_store_segments('$sqlRoot', 'postings')")
      .collect().map(_.getLong(0)).toSeq
    assert(logVersions == Seq(version + 3) && logVersions.head ==
      graft.operators.StoreSegments.latest(spark, sqlRoot).version)
    // the zone map commits through its log too: a writer that commits
    // while a SQL zone-map append is in flight makes the SQL verb fail,
    // naming the store, and leaves only its own commit
    Seq((1L, 10L), (2L, 20L)).toDF("id", "key")
      .createOrReplaceTempView("wv_keys")
    val zmRoot = java.nio.file.Files.createTempDirectory("graft-wv-zm").toString
    spark.sql(
      s"SELECT * FROM graft_zonemap_write('$zmRoot', 'wv_keys', 'key', 2)")
      .collect()
    val zmVersion = graft.operators.StoreSegments.latest(spark, zmRoot).version
    val zmRaced = new java.util.concurrent.atomic.AtomicBoolean(false)
    graft.operators.StoreSegments.hook = (d, step) =>
      if (d == zmRoot && step == "commit" && zmRaced.compareAndSet(false, true))
        graft.sinks.ZoneMap.appendZoneMapped(spark, zmRoot,
          Seq((3L, 15L)).toDF("id", "key"), "key")
    val lost = try intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_zonemap_append('$zmRoot', 'wv_keys', 'key')")
        .collect()
    } finally graft.operators.StoreSegments.hook = (_, _) => ()
    assert(chain(lost).exists(m => m.contains("concurrent writer") &&
      m.contains(zmRoot)), chain(lost).mkString(" | "))
    assert(graft.operators.StoreSegments.latest(spark, zmRoot).version ==
      zmVersion + 1)
    assert(graft.sinks.ZoneMap.scanRange(spark, zmRoot, "key", 0L, 100L)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("write-verb TVFs mutate at EXECUTION, not analysis: EXPLAIN is side-effect-free, collect writes once") {
    import TestSpark.spark.implicits._
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val docs = Seq((0L, "spark hash"), (1L, "spark window"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("dw_docs")
    val root = java.nio.file.Files.createTempDirectory("graft-defer-wv").toString
    val stmt = spark.sql(
      s"SELECT * FROM graft_text_index_build('$root', 'dw_docs', 'doc_id', 'text', 8)")
    // the r13 shape wrote HERE (analysis time): spark.sql() has analyzed
    // the statement, EXPLAIN has rendered the plan — and nothing exists
    stmt.explain()
    assert(!graft.operators.StoreFs.exists(spark, s"$root/postings"),
      "analysis/EXPLAIN performed the store write")
    // first action performs the write exactly once
    val receipt = stmt.collect()
    assert(receipt.length == 1 && receipt.head.getBoolean(2))
    assert(graft.operators.StoreFs.exists(spark, s"$root/postings"))
    def hits = graft.operators.TextAnalysis
      .searchTextIndex(spark, root, Seq("spark"), k = 10, buckets = 8).count()
    val afterBuild = hits
    // re-collecting the SAME DataFrame memoizes — no double write; the
    // append-twice-via-view hazard the advisory flagged needs a fresh
    // statement (INSERT semantics), not a re-read of this one
    stmt.collect()
    assert(hits == afterBuild)
    // a destructive verb is EXPLAIN-safe too: the advisory's exact case
    val prune = spark.sql(s"SELECT * FROM graft_snapshot_prune('$root', 1)")
    prune.explain()
    assert(hits == afterBuild, "EXPLAIN of a prune mutated the store")
  }

  test("graft_store_segments: the log lists a build's one segment; a compact adds one and supersedes keys") {
    import TestSpark.spark.implicits._
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val vecs = (0L until 30L).map { i =>
      val base = Array.fill(4)(0.0); base((i % 3).toInt) = 1.0
      base(3) = 0.01 * i
      (i, base.toSeq)
    }.toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-segtvf").toString
    graft.operators.Similarity.buildIvfIndex(vecs, "vec_id", "embedding",
      root, centStep = 3)
    def seg() = spark.sql(
      s"SELECT * FROM graft_store_segments('$root', 'postings')").collect()
    val built = seg()
    assert(built.length == 1 && built.head.getLong(0) == 1L &&
      built.head.getString(1).startsWith("postings/seg=") &&
      built.head.getLong(2) == 0L, built.mkString("; "))
    graft.operators.Similarity.deleteFromIvfIndex(spark, root,
      Seq(1L).toDF("vec_id"), "vec_id")
    graft.operators.Similarity.compactIvfIndex(spark, root)
    val after = seg()
    assert(after.length == 2 && after.forall(_.getLong(0) == 3L),
      after.mkString("; "))
    assert(after.exists(r => r.getString(1) == built.head.getString(1) &&
      r.getLong(2) > 0), after.mkString("; "))
  }

  test("maintain TVFs return the DECISION RECEIPT (action + signals), still execution-time and memoized") {
    import TestSpark.spark.implicits._
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val vecs = (0L until 30L).map { i =>
      val base = Array.fill(4)(0.0); base((i % 3).toInt) = 1.0
      base(3) = 0.01 * i
      (i, base.toSeq)
    }.toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-mnt-rcpt").toString
    graft.operators.Similarity.buildIvfIndex(vecs, "vec_id", "embedding",
      root, centStep = 3)
    graft.operators.Similarity.deleteFromIvfIndex(spark, root,
      Seq(1L, 4L).toDF("vec_id"), "vec_id")
    val stmt = spark.sql(s"SELECT * FROM graft_ivf_maintain('$root')")
    // analysis/EXPLAIN must not run the policy: the tombstones are
    // still there after the plan renders
    stmt.explain()
    assert(graft.operators.StoreFs.exists(spark, s"$root/tombstones"),
      "EXPLAIN ran the maintenance")
    // first action runs it ONCE and the rows are the receipt: the
    // tombstoned store decides 'compact', signals included
    val r = stmt.collect()
    assert(r.length == 1, r.mkString("; "))
    assert(r.head.getAs[String]("action") == "compact", r.head.toString)
    assert(r.head.getAs[Long]("n_tombstones") == 2L, r.head.toString)
    assert(r.head.getAs[Long]("n_live_legs") >= 1L, r.head.toString)
    // re-collecting the same DataFrame memoizes (no second maintenance:
    // the receipt still says compact, not none)
    assert(stmt.collect().head.getAs[String]("action") == "compact")
    // a FRESH statement re-probes: the drained store now decides none
    val r2 = spark.sql(s"SELECT * FROM graft_ivf_maintain('$root')").collect()
    assert(r2.head.getAs[String]("action") == "none", r2.head.toString)
    assert(r2.head.getAs[Long]("n_tombstones") == 0L, r2.head.toString)
  }

  /** One vector per id on axis `id % 3`, the fixture of the IVF tests above. */
  private def ivfVectors(ids: Seq[Long]) = {
    import TestSpark.spark.implicits._
    ids.map { i =>
      val base = Array.fill(4)(0.0); base((i % 3).toInt) = 1.0
      base(3) = 0.01 * i
      (i, base.toSeq)
    }.toDF("vec_id", "embedding")
  }

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

  /** Every file under `root` with its size and modification time. */
  private def tree(root: String): Map[String, (Long, Long)] = {
    val dir = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(dir)) Map.empty
    else {
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => dir.relativize(f).toString ->
          (java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis))
        .toMap
      finally walk.close()
    }
  }

  test("a store verb runs once per analyzed statement: derived Datasets share the receipt") {
    import TestSpark.spark.implicits._
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val root = java.nio.file.Files.createTempDirectory("graft-once").toString
    graft.operators.Similarity.buildIvfIndex(ivfVectors(0L until 30L),
      "vec_id", "embedding", root, centStep = 3)
    ivfVectors(30L until 33L).createOrReplaceTempView("once_batch")
    val append = spark.sql(
      s"SELECT * FROM graft_ivf_append('$root', 'once_batch', 'vec_id', 'embedding')")
    assert(append.collect().map(_.getBoolean(2)).toSeq == Seq(true))
    // count and show plan new Datasets over the same analyzed statement
    assert(append.count() == 1L)
    append.show()
    val audit = graft.operators.Similarity.ivfIndexAudit(spark, root).head
    assert(audit.getAs[Long]("n_vectors") == 33L, audit.toString)
    assert(audit.getAs[Long]("n_dup_ids") == 0L, audit.toString)

    graft.operators.Similarity.deleteFromIvfIndex(spark, root,
      Seq(1L, 4L).toDF("vec_id"), "vec_id")
    val maintain = spark.sql(s"SELECT * FROM graft_ivf_maintain('$root')")
    assert(maintain.collect().head.getAs[String]("action") == "compact")
    assert(maintain.limit(1).collect().head.getAs[String]("action") ==
      "compact")
    // a fresh statement is a new execution: the drained store decides none
    assert(spark.sql(s"SELECT * FROM graft_ivf_maintain('$root')")
      .limit(1).collect().head.getAs[String]("action") == "none")
  }

  test("temp views over a store verb: a SQL view re-runs it per query, a Dataset view shares the statement's run") {
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val root = java.nio.file.Files.createTempDirectory("graft-view").toString
    graft.operators.Similarity.buildIvfIndex(ivfVectors(0L until 30L),
      "vec_id", "embedding", root, centStep = 3)
    def nVectors = graft.operators.Similarity.ivfIndexAudit(spark, root)
      .head.getAs[Long]("n_vectors")
    ivfVectors(30L until 31L).createOrReplaceTempView("view_batch1")
    val verb = s"graft_ivf_append('$root', 'view_batch1', 'vec_id', 'embedding')"
    spark.sql(s"CREATE OR REPLACE TEMP VIEW sql_append AS SELECT * FROM $verb")
    assert(nVectors == 30L, "creating the view ran the verb")
    spark.table("sql_append").collect()
    spark.table("sql_append").collect()
    assert(nVectors == 32L)
    spark.catalog.dropTempView("sql_append")

    ivfVectors(40L until 41L).createOrReplaceTempView("view_batch2")
    spark.sql(s"SELECT * FROM graft_ivf_append('$root', 'view_batch2', 'vec_id', 'embedding')")
      .createOrReplaceTempView("df_append")
    spark.table("df_append").collect()
    spark.table("df_append").collect()
    assert(nVectors == 33L)
    spark.catalog.dropTempView("df_append")
  }

  test("sync and export verbs: analysis and EXPLAIN submit no job and touch nothing; collect returns the operator's receipt") {
    import TestSpark.spark.implicits._
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString
    val vecStore = tmp("graft-sync-store")
    val idx = tmp("graft-sync-idx")
    graft.operators.Curation.writeSnapshot(ivfVectors(0L until 9L), vecStore,
      version = 1)
    graft.operators.Curation.writeSnapshotDelta(spark, vecStore, version = 2,
      upserts = ivfVectors(Seq(9L)), deleteIds = Seq(4L).toDF("vec_id"),
      idCol = "vec_id")
    graft.operators.Similarity.buildIvfIndex(
      graft.operators.Curation.readSnapshotAt(spark, vecStore, 1, "vec_id"),
      "vec_id", "embedding", idx, centStep = 3)
    val docStore = tmp("graft-export-store")
    graft.operators.Curation.writeSnapshot(
      Seq(1L -> "alpha", 2L -> "bravo", 3L -> "charlie").toDF("doc_id", "text"),
      docStore, version = 1)
    val exportDir = s"${tmp("graft-export")}/copy"

    // (statement, directory it writes, receipt schema, expected receipt)
    val cases = Seq(
      (s"graft_ivf_sync('$idx', '$vecStore', 1, 2, 'vec_id', 'embedding')",
        idx, graft.operators.IndexSync.receiptSchema,
        Row("sync_ivf_index", idx, "applied", 1L, 2L, 1L, 0L, 1L, false)),
      (s"graft_export_snapshot('$exportDir', '$docStore', 1, 'doc_id', 4, 9)",
        exportDir, graft.sinks.Sinks.exportReceiptSchema,
        Row("export_snapshot", exportDir, 1L, 1L, 3L, 0L)))
    for ((call, dir, schema, expected) <- cases) {
      val before = tree(dir)
      var stmt: org.apache.spark.sql.DataFrame = null
      val jobs = jobsDuring {
        stmt = spark.sql(s"SELECT * FROM $call")
        stmt.explain()
      }
      assert(jobs == 0, s"$call: analysis + EXPLAIN submitted $jobs jobs")
      assert(tree(dir) == before, s"$call: analysis or EXPLAIN wrote $dir")
      assert(stmt.schema == schema, call)
      assert(stmt.collect().toSeq == Seq(expected), call)
      assert(tree(dir) != before, s"$call: collect did not run the verb")
    }
  }
}

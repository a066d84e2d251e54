package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.ExtendedMode

import graft.operators.{Similarity, TextAnalysis}

/** What a store search costs in Spark jobs through the SQL front door, on
  * stores with an appended segment and live tombstones: analysis and
  * EXPLAIN of a warm search run no job (the schemas come from footers and
  * declarations, the tombstone ids and corpus totals from the driver
  * memo), and executing one runs at most its scan's query stages.
  */
class SearchJobsSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A byte copy of the store at a fresh path: no memo entry names it. */
  private def copyOf(root: String): String = {
    val src = java.nio.file.Paths.get(root)
    val dst = java.nio.file.Paths.get(tmp("graft-search-cold"))
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.toSeq.foreach { f =>
      val to = dst.resolve(src.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(f, to)
    } finally walk.close()
    dst.toString
  }

  /** The number of Spark jobs `body` submits. */
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

  private val words = Seq("spark", "hash", "window", "join", "zebra", "scan")

  private def docs(ids: Seq[Long]) = ids.map(i => (i,
    Seq.tabulate((i % 4 + 2).toInt)(j => words(((i * 7 + j * 3) % 6).toInt))
      .mkString(" "))).toDF("doc_id", "text")

  private def vecs(ids: Seq[Long]) = ids.map(i =>
    (i, Array.tabulate(8)(j => math.sin(i * 7 + j).abs + 0.1)))
    .toDF("vec_id", "embedding")

  private val dead = Seq(3L, 4L, 31L)

  /** Each store built over ids 0..29, 30..39 appended as a second
    * segment, and `dead` deleted with the tombstones left in place.
    */
  private lazy val stores: Map[String, String] = {
    val text = tmp("graft-search-text")
    TextAnalysis.buildTextIndex(docs(0L until 30L), "doc_id", "text", text,
      buckets = 8, withPositions = true)
    TextAnalysis.appendTextIndex(spark, text, docs(30L until 40L), "doc_id",
      "text", buckets = 8, withPositions = true)
    TextAnalysis.deleteFromTextIndex(spark, text, dead.toDF("doc_id"),
      "doc_id", buckets = 8)
    val ivf = tmp("graft-search-ivf")
    Similarity.buildIvfIndex(vecs(0L until 30L), "vec_id", "embedding", ivf,
      centStep = 10)
    Similarity.appendIvfIndex(spark, ivf, vecs(30L until 40L), "vec_id",
      "embedding")
    Similarity.deleteFromIvfIndex(spark, ivf, dead.toDF("vec_id"), "vec_id")
    val pq = tmp("graft-search-ivfpq")
    Similarity.buildIvfPqIndex(vecs(0L until 30L), "vec_id", "embedding", pq,
      m = 2, ksub = 4, ivfStep = 10, pqStep = 3)
    Similarity.appendIvfPqIndex(spark, pq, vecs(30L until 40L), "vec_id",
      "embedding")
    Similarity.deleteFromIvfPqIndex(spark, pq, dead.toDF("vec_id"), "vec_id")
    val queries = s"${tmp("graft-search-q")}/q"
    vecs(Seq(1L, 2L, 33L)).write.parquet(queries)
    Map("text" -> text, "ivf" -> ivf, "ivfpq" -> pq, "queries" -> queries)
  }

  /** (function, statement, most jobs its collect may submit). BM25 and
    * IVF-PQ cost their scan's query stages. With a broadcast anti-join for
    * the tombstones (and, for IVF, a broadcast codebook ranked by a
    * per-query window), the phrase and IVF searches submitted 3 and 6.
    */
  private lazy val cases: Seq[(String, String, Int)] = Seq(
    ("graft_bm25_search",
      s"SELECT * FROM graft_bm25_search('${stores("text")}', 'spark window zebra', 5, 8)",
      4),
    ("graft_phrase_search",
      s"SELECT * FROM graft_phrase_search('${stores("text")}', 'spark join', 8)",
      2),
    ("graft_ivf_search",
      s"SELECT * FROM graft_ivf_search('${stores("ivf")}', '${stores("queries")}', 5, 2)",
      3),
    ("graft_ivfpq_search",
      s"SELECT * FROM graft_ivfpq_search('${stores("ivfpq")}', '${stores("queries")}', 5, 2)",
      4))

  test("a warm search submits no job at analysis or EXPLAIN and at most " +
      "its scan's stages to execute: BM25, phrase, IVF, IVF-PQ") {
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val counts = cases.map { case (fn, sql, _) =>
      spark.sql(sql).collect() // warm the memo
      var df: org.apache.spark.sql.DataFrame = null
      val analysis = jobsDuring { df = spark.sql(sql) }
      val explain = jobsDuring(df.queryExecution.explainString(ExtendedMode))
      var rows = 0
      val collect = jobsDuring { rows = df.collect().length }
      (fn, analysis, explain, collect, rows)
    }
    info(counts.map { case (fn, a, e, c, _) =>
      s"$fn: analysis $a, explain $e, collect $c" }.mkString("; "))
    counts.zip(cases).foreach { case ((fn, analysis, explain, collect, rows),
                                      (_, _, most)) =>
      assert(rows > 0, s"$fn: empty answer")
      assert(analysis == 0, s"$fn: $analysis jobs at analysis")
      assert(explain == 0, s"$fn: $explain jobs at EXPLAIN")
      assert(collect <= most, s"$fn: $collect jobs to collect (most $most)")
    }
  }

  test("a warm BM25 search equals a cold search of a byte copy after " +
      "append, delete, compact, vacuum and rebuild") {
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val d = tmp("graft-search-totals")
    def search(dir: String) = spark.sql(
        s"SELECT * FROM graft_bm25_search('$dir', 'spark window zebra scan', 50, 8)")
      .collect().map(_.toString).sorted.toSeq
    TextAnalysis.buildTextIndex(docs(0L until 30L), "doc_id", "text", d,
      buckets = 8)
    // append, delete and rebuild change n_docs and sum_dl, so an outdated
    // memo of the corpus totals would change the scores; compact and
    // vacuum rewrite the stats files and keep the answer
    val verbs: Seq[(String, Boolean, () => Unit)] = Seq(
      ("append", true, () => TextAnalysis.appendTextIndex(spark, d,
        docs(30L until 36L), "doc_id", "text", buckets = 8)),
      ("delete", true, () => TextAnalysis.deleteFromTextIndex(spark, d,
        Seq(0L, 5L, 31L).toDF("doc_id"), "doc_id", buckets = 8)),
      ("compact", false, () => TextAnalysis.compactTextIndex(spark, d,
        buckets = 8)),
      ("delete", true, () => TextAnalysis.deleteFromTextIndex(spark, d,
        Seq(7L, 32L).toDF("doc_id"), "doc_id", buckets = 8)),
      ("vacuum", false, () => TextAnalysis.vacuumTextIndex(spark, d,
        buckets = 8)),
      ("rebuild in place", true, () => TextAnalysis.buildTextIndex(
        docs(5L until 40L), "doc_id", "text", d, buckets = 8)))
    var before = search(d)
    verbs.foreach { case (verb, changes, run) =>
      run()
      val warm = search(d)
      assert(warm.nonEmpty, s"after $verb: empty answer")
      assert((warm != before) == changes,
        s"after $verb: the answer ${if (changes) "did not change" else "changed"}")
      assert(warm == search(copyOf(d)), s"after $verb: warm ≠ cold")
      before = warm
    }
  }
}

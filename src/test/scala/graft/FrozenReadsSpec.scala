package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, StoreMaintenance, TextAnalysis}
import graft.streaming.StreamingIndex

/** The driver memo of a store's frozen components (`StoreFs.frozen`: the
  * IVF/IVF-PQ codebooks and the tombstone id set). A warm search must
  * answer exactly like a cold search after every verb that rewrites a
  * memoized component, and a repeated read must submit no Spark job for
  * what it memoized.
  */
class FrozenReadsSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A byte copy of the store at a fresh path: no memo entry names it. */
  private def copyOf(root: String): String = {
    val src = java.nio.file.Paths.get(root)
    val dst = java.nio.file.Paths.get(tmp("graft-frozen-cold"))
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.toSeq.foreach { f =>
      val to = dst.resolve(src.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(f, to)
    } finally walk.close()
    dst.toString
  }

  /** One store family: `build(dir, variant)` builds in place (variant 1
    * with different parameters), each verb takes the store dir.
    */
  private final class Fam(val name: String,
                          val build: (String, Int) => Unit,
                          val append: (String, Seq[Long]) => Unit,
                          val delete: (String, Seq[Long]) => Unit,
                          val compact: String => Unit,
                          val fused: (String, Seq[Long]) => Unit,
                          val vacuum: String => Unit,
                          val maintain: String => Unit,
                          val search: String => Seq[String])

  private val text = {
    val words = Seq("spark", "hash", "window", "join", "zebra", "scan")
    def docs(ids: Seq[Long]) = ids.map(i => (i,
      Seq.tabulate((i % 4 + 2).toInt)(j => words(((i * 7 + j * 3) % 6).toInt))
        .mkString(" "))).toDF("doc_id", "text")
    def ids(xs: Seq[Long]) = xs.toDF("doc_id")
    new Fam("text",
      (d, v) => TextAnalysis.buildTextIndex(
        docs(if (v == 0) 0L until 30L else 5L until 40L), "doc_id", "text", d,
        buckets = 8),
      (d, xs) => TextAnalysis.appendTextIndex(spark, d, docs(xs), "doc_id",
        "text", buckets = 8),
      (d, xs) => TextAnalysis.deleteFromTextIndex(spark, d, ids(xs),
        "doc_id", buckets = 8),
      d => TextAnalysis.compactTextIndex(spark, d, buckets = 8),
      (d, xs) => TextAnalysis.deleteAndCompactTextIndex(spark, d, ids(xs),
        "doc_id", buckets = 8),
      d => TextAnalysis.vacuumTextIndex(spark, d, buckets = 8),
      d => StoreMaintenance.maintainTextIndex(spark, d, buckets = 8)
        .collect(),
      d => TextAnalysis.searchTextIndex(spark, d,
          Seq("spark", "window", "zebra"), buckets = 8, k = 50)
        .collect().map(_.toString).sorted.toSeq)
  }

  private def vector(pq: Boolean) = {
    def vecs(ids: Seq[Long]) = ids.map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7 + j).abs + 0.1)))
      .toDF("vec_id", "embedding")
    def ids(xs: Seq[Long]) = xs.toDF("vec_id")
    val queries = vecs(Seq(0L, 1L, 2L))
    new Fam(if (pq) "ivfpq" else "ivf",
      (d, v) =>
        if (pq) Similarity.buildIvfPqIndex(vecs(0L until 30L), "vec_id",
          "embedding", d, m = if (v == 0) 2 else 4,
          ksub = if (v == 0) 4 else 8, ivfStep = 10 - 3 * v, pqStep = 3)
        else Similarity.buildIvfIndex(vecs(0L until 30L), "vec_id",
          "embedding", d, centStep = 10 - 3 * v),
      (d, xs) =>
        if (pq) Similarity.appendIvfPqIndex(spark, d, vecs(xs), "vec_id",
          "embedding")
        else Similarity.appendIvfIndex(spark, d, vecs(xs), "vec_id",
          "embedding"),
      (d, xs) => Similarity.deleteFromIvfIndex(spark, d, ids(xs), "vec_id"),
      d => Similarity.compactIvfIndex(spark, d),
      (d, xs) => Similarity.deleteAndCompactIvfIndex(spark, d, ids(xs),
        "vec_id"),
      d => Similarity.vacuumIvfIndex(spark, d),
      d => StoreMaintenance.maintainIvfIndex(spark, d).collect(),
      d =>
        (if (pq) Similarity.searchIvfPqIndex(spark, d, queries, "vec_id",
          "embedding", k = 50, nprobe = 3)
        else Similarity.searchIvfIndex(spark, d, queries, "vec_id",
          "embedding", k = 50, nprobe = 3))
          .collect().map(_.toString).sorted.toSeq)
  }

  test("a warm search equals a cold search of a byte copy after every " +
      "verb that rewrites a memoized component: text, IVF, IVF-PQ") {
    for (f <- Seq(text, vector(pq = false), vector(pq = true))) {
      val d = tmp(s"graft-frozen-${f.name}")
      f.build(d, 0)
      // every verb runs against a memo warmed by the previous search;
      // a deleted id comes back after its drain, which an outdated
      // tombstone set would still hide
      val verbs: Seq[(String, () => Unit)] = Seq(
        "append" -> (() => f.append(d, 30L until 36L)),
        "delete" -> (() => f.delete(d, Seq(0L, 4L, 31L))),
        "compact" -> (() => f.compact(d)),
        "re-append after compact" -> (() => f.append(d, Seq(4L, 31L))),
        "delete" -> (() => f.delete(d, Seq(7L, 32L))),
        "fused delete+compact" -> (() => f.fused(d, Seq(9L, 33L))),
        "re-append after fused" -> (() => f.append(d, Seq(7L, 9L))),
        "delete" -> (() => f.delete(d, Seq(10L, 34L))),
        "vacuum" -> (() => f.vacuum(d)),
        "re-append after vacuum" -> (() => f.append(d, Seq(10L))),
        "delete" -> (() => f.delete(d, Seq(12L))),
        "maintain" -> (() => f.maintain(d)),
        "re-append after maintain" -> (() => f.append(d, Seq(12L))),
        "rebuild in place" -> (() => f.build(d, 1)))
      f.search(d)
      verbs.foreach { case (verb, run) =>
        run()
        spark.catalog.clearCache()
        val warm = f.search(d)
        assert(warm.nonEmpty, s"${f.name} after $verb: empty answer")
        assert(warm == f.search(copyOf(d)),
          s"${f.name} after $verb: warm ≠ cold")
      }
    }
  }

  /** The SQL plan of every job `body` submits ("" for a job outside SQL). */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentHashMap[String, String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.sql.execution.id")).orNull))
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.put(s.executionId.toString, s.physicalPlanDescription)
        case _ =>
      }
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq.map(plans.getOrDefault(_, ""))
  }

  /** Jobs that scan one of the IVF-PQ model files of the store at `dir`. */
  private def modelReads(dir: String, jobs: Seq[String]): Int =
    jobs.count(p => Seq("centroids", "pq_codebook", "pq_meta")
      .exists(c => p.contains(s"$dir/$c")))

  private def pqVecs(ids: Seq[Long]) = ids.map(i =>
    (i, Array.tabulate(8)(j => math.cos(i * 5 + j).abs + 0.1)))
    .toDF("vec_id", "embedding")

  private def pqStore(): String = {
    val d = tmp("graft-frozen-jobs")
    Similarity.buildIvfPqIndex(pqVecs(0L until 40L), "vec_id", "embedding",
      d, m = 2, ksub = 4, ivfStep = 10, pqStep = 3)
    d
  }

  test("a repeated search submits only its scan jobs at analysis") {
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val pq = pqStore()
    Similarity.deleteFromIvfPqIndex(spark, pq, Seq(3L, 5L).toDF("vec_id"),
      "vec_id")
    val queries = s"${tmp("graft-frozen-q")}/q"
    pqVecs(Seq(1L, 2L)).write.parquet(queries)
    val text = tmp("graft-frozen-text")
    TextAnalysis.buildTextIndex(Seq((0L, "spark hash"), (1L, "hash join"),
      (2L, "spark window")).toDF("doc_id", "text"), "doc_id", "text", text,
      buckets = 8)
    TextAnalysis.deleteFromTextIndex(spark, text, Seq(1L).toDF("doc_id"),
      "doc_id", buckets = 8)
    val pqSql =
      s"SELECT * FROM graft_ivfpq_search('$pq', '$queries', 3, 2)"
    val bm25Sql = s"SELECT * FROM graft_bm25_search('$text', 'spark', 3, 8)"
    Seq(pqSql, bm25Sql).foreach(q => spark.sql(q).collect())
    // analysis of a repeated request: the postings (and query) schema
    // inference only, no model or tombstone read
    val pqJobs = jobsDuring(spark.sql(pqSql))
    assert(pqJobs.size <= 2, pqJobs.mkString("\n---\n"))
    val bm25Jobs = jobsDuring(spark.sql(bm25Sql))
    assert(bm25Jobs.size <= 1, bm25Jobs.mkString("\n---\n"))
    assert(spark.sql(pqSql).collect().nonEmpty)
  }

  test("appends read the IVF-PQ model once: a second append and every " +
      "trigger after the first of a streaming ingest submit no model read") {
    val d = pqStore()
    val first = modelReads(d, jobsDuring(Similarity.appendIvfPqIndex(spark,
      d, pqVecs(Seq(40L)), "vec_id", "embedding")))
    assert(first > 0, "the model-read probe matched no cold read")
    val second = modelReads(d, jobsDuring(Similarity.appendIvfPqIndex(spark,
      d, pqVecs(Seq(41L)), "vec_id", "embedding")))
    assert(second == 0)

    val s = pqStore()
    val arrivals = s"${tmp("graft-frozen-arrivals")}/a"
    pqVecs(50L until 53L).repartition(3).write.parquet(arrivals)
    val ckpt = tmp("graft-frozen-ck")
    val src = spark.readStream
      .schema(spark.read.parquet(arrivals).schema)
      .option("maxFilesPerTrigger", 1).parquet(arrivals)
    val streamed = modelReads(s, jobsDuring(StreamingIndex.ingestIvfPqIndex(
      spark, src, ckpt, s, "vec_id", "embedding")))
    val triggers = new java.io.File(s"$ckpt/commits").list()
      .count(_.forall(_.isDigit))
    assert(triggers >= 3, s"$triggers triggers")
    assert(streamed == first, s"$streamed model-read jobs over $triggers " +
      s"triggers; one cold read is $first")
    assert(spark.read.parquet(s"$s/postings")
      .filter(col("id") >= 50).count() == 3L)
  }
}

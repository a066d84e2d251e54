package graft

import scala.jdk.CollectionConverters._

import graft.operators.{StoreSegments, TextAnalysis}

/** How a text store that a stream feeds grows (test scope — not shipped):
  * `Test/runMain graft.StoreGrowth` builds a 2,000-doc, 16-bucket text
  * store, runs 40 appends of 20 docs (the shape of 40 streamed
  * micro-batches), a 5-id delete and a vacuum. At each state it prints
  * one `[store-growth] <state> …` line: the live postings segments, the
  * parquet files and `_log` entries under the store, and the Spark jobs,
  * tasks and bytes read of a warm 3-term BM25 search, counted by a
  * listener, plus its median wall time over 5 runs. The counts repeat
  * run to run; the wall time follows the host's load.
  */
object StoreGrowth {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.envCores, "store-growth")
    import spark.implicits._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null)
          bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
    })
    val vocab = (0 until 500).map(i => s"w$i")
    def docs(ids: Seq[Long]) = ids.map(i => (i,
      Seq.tabulate((i % 11 + 8).toInt)(j =>
        vocab(((i * 131 + j * 37 + j * j * 7) % vocab.size).toInt))
        .mkString(" "))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("store-growth").toString
    def search() = TextAnalysis.searchTextIndex(spark, dir,
      Seq("w3", "w17", "w42"), k = 10).collect()
    def files(sub: String)(keep: java.nio.file.Path => Boolean): Int = {
      val root = java.nio.file.Paths.get(dir, sub)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.count(p =>
        java.nio.file.Files.isRegularFile(p) && keep(p.getFileName))
      finally walk.close()
    }
    def report(state: String): Unit = {
      search()
      org.apache.spark.TestListenerBus.drain(sc)
      jobs.set(0); tasks.set(0); bytesRead.set(0L)
      search()
      org.apache.spark.TestListenerBus.drain(sc)
      val (j, t, b) = (jobs.get, tasks.get, bytesRead.get)
      val ms = Seq.fill(5) {
        val t0 = System.nanoTime
        search()
        (System.nanoTime - t0) / 1e6
      }.sorted.apply(2)
      val segments = StoreSegments.latest(spark, dir).segs("postings").size
      val parquet = files("")(_.toString.endsWith(".parquet"))
      val log = files("_log")(_.toString.forall(_.isDigit))
      println(f"[store-growth] $state%-11s segments $segments%3d " +
        f"parquet $parquet%5d log $log%3d | search jobs $j tasks $t " +
        f"bytes_read $b median_ms $ms%.0f")
    }

    TextAnalysis.buildTextIndex(docs(0L until 2000L), "doc_id", "text", dir,
      buckets = 16)
    report("built")
    (0 until 40).foreach { batch =>
      val from = 2000L + batch * 20
      TextAnalysis.appendTextIndex(spark, dir, docs(from until from + 20),
        "doc_id", "text")
      if ((batch + 1) % 10 == 0) report(s"+${batch + 1} appends")
    }
    TextAnalysis.deleteFromTextIndex(spark, dir,
      Seq(3L, 500L, 1000L, 2005L, 2700L).toDF("doc_id"), "doc_id")
    report("deleted 5")
    TextAnalysis.vacuumTextIndex(spark, dir)
    report("vacuumed")
    spark.stop()
  }
}

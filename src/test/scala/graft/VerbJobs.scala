package graft

import graft.operators.{Bpe, Curation, Similarity, StoreMaintenance,
  TextAnalysis}
import graft.sinks.ZoneMap

/** Spark jobs per store verb (test scope — not shipped):
  * `Test/runMain graft.VerbJobs` builds SearchJobsSpec's three stores —
  * text (8 buckets, positions), IVF and IVF-PQ over ids 0..29, appends
  * 30..39, deletes {3, 4, 31} — then a zone map (write 300 keys in 8
  * zones, append 40, audit), a snapshot store (full of docs 0..29, a
  * delta, a maintain that compacts, a prune to one full) and a tokenizer
  * store (save 8 merges, load merges + vocab + meta). It prints one
  * `[verb-jobs] <store> <verb> <jobs>` line per call, counted by a
  * listener. The counts repeat run to run; compare two checkouts line by
  * line.
  */
object VerbJobs {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.envCores, "verb-jobs")
    import spark.implicits._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def count(store: String, verb: String)(body: => Unit): Unit = {
      org.apache.spark.TestListenerBus.drain(sc)
      jobs.set(0)
      body
      org.apache.spark.TestListenerBus.drain(sc)
      println(s"[verb-jobs] $store $verb ${jobs.get}")
    }
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val words = Seq("spark", "hash", "window", "join", "zebra", "scan")
    def docs(ids: Seq[Long]) = ids.map(i => (i,
      Seq.tabulate((i % 4 + 2).toInt)(j => words(((i * 7 + j * 3) % 6).toInt))
        .mkString(" "))).toDF("doc_id", "text")
    def vecs(ids: Seq[Long]) = ids.map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7 + j).abs + 0.1)))
      .toDF("vec_id", "embedding")
    val dead = Seq(3L, 4L, 31L)

    val text = tmp("verb-jobs-text")
    count("text", "build")(TextAnalysis.buildTextIndex(docs(0L until 30L),
      "doc_id", "text", text, buckets = 8, withPositions = true))
    count("text", "append")(TextAnalysis.appendTextIndex(spark, text,
      docs(30L until 40L), "doc_id", "text", buckets = 8,
      withPositions = true))
    count("text", "delete")(TextAnalysis.deleteFromTextIndex(spark, text,
      dead.toDF("doc_id"), "doc_id", buckets = 8))
    val ivf = tmp("verb-jobs-ivf")
    count("ivf", "build")(Similarity.buildIvfIndex(vecs(0L until 30L),
      "vec_id", "embedding", ivf, centStep = 10))
    count("ivf", "append")(Similarity.appendIvfIndex(spark, ivf,
      vecs(30L until 40L), "vec_id", "embedding"))
    count("ivf", "delete")(Similarity.deleteFromIvfIndex(spark, ivf,
      dead.toDF("vec_id"), "vec_id"))
    val pq = tmp("verb-jobs-ivfpq")
    count("ivfpq", "build")(Similarity.buildIvfPqIndex(vecs(0L until 30L),
      "vec_id", "embedding", pq, m = 2, ksub = 4, ivfStep = 10, pqStep = 3))
    count("ivfpq", "append")(Similarity.appendIvfPqIndex(spark, pq,
      vecs(30L until 40L), "vec_id", "embedding"))
    count("ivfpq", "delete")(Similarity.deleteFromIvfPqIndex(spark, pq,
      dead.toDF("vec_id"), "vec_id"))
    def keyed(ids: Seq[Long]) = ids.map(i => (i, i * 37 % 1000))
      .toDF("id", "key")
    val zm = tmp("verb-jobs-zonemap")
    count("zonemap", "write")(ZoneMap.writeZoneMapped(keyed(0L until 300L),
      zm, "key", zones = 8))
    count("zonemap", "append")(ZoneMap.appendZoneMapped(spark, zm,
      keyed(300L until 340L), "key"))
    count("zonemap", "audit")(ZoneMap.zoneMapAudit(spark, zm).collect())
    val snap = tmp("verb-jobs-snapshot")
    count("snapshot", "write")(Curation.writeSnapshot(docs(0L until 30L),
      snap, 1))
    count("snapshot", "delta")(Curation.writeSnapshotDelta(spark, snap, 2,
      docs(30L until 40L), Seq(3L, 4L).toDF("doc_id"), "doc_id"))
    Curation.writeSnapshotDelta(spark, snap, 3, docs(40L until 45L),
      Seq.empty[Long].toDF("doc_id"), "doc_id")
    count("snapshot", "maintain")(StoreMaintenance.maintainSnapshotStore(
      spark, snap, "doc_id", maxChain = 1).collect())
    count("snapshot", "prune")(Curation.pruneSnapshots(snap, keepLast = 1))
    val bpe = tmp("verb-jobs-tokenizer")
    count("tokenizer", "save")(Bpe.saveTokenizer(docs(0L until 40L), "text",
      bpe, numMerges = 8))
    count("tokenizer", "load") {
      Bpe.loadMerges(spark, bpe).collect()
      Bpe.loadVocab(spark, bpe).collect()
      Bpe.loadTokenizerMeta(spark, bpe)
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, StoreSegments, TextAnalysis}
import graft.streaming.StreamingIndex

/** Streaming store maintenance beyond the q140/q141 oracle gates: the
  * bookkeeping claims — restart on a completed checkpoint ingests
  * nothing twice, each micro-batch commits one log entry recording its
  * batch id, and a batch replayed after a lost checkpoint commit commits
  * nothing (text, IVF-PQ, zone map; the snapshot store's version
  * directory).
  */
class StreamingIndexSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private def logVersion(dir: String): Long =
    StoreSegments.latest(spark, dir).version

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Ingest `arrivals` (one file per trigger) into the store at `root`
    * through `ingest`, then drop what a crash right after the last
    * batch's store commit would not have written — the checkpoint's commit
    * of that batch — and restart: the replayed batch must commit nothing
    * (`state`, the log version by default, must not move).
    */
  private def replayLast(root: String, arrivals: DataFrame,
                         ingest: (DataFrame, String) => Unit,
                         state: () => Any = null): Unit = {
    val now = Option(state).getOrElse(() => logVersion(root))
    arrivals.repartition(2).write.parquet(s"$root/arrivals")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-replay-ck")
      .toString
    def src = spark.readStream
      .schema(spark.read.parquet(s"$root/arrivals").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/arrivals")
    ingest(src, ckpt)
    val v = now()
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(last == 1L)
    new java.io.File(commits, s"$last").delete()
    new java.io.File(commits, s".$last.crc").delete()
    ingest(src, ckpt)
    assert(new java.io.File(commits, s"$last").exists(), "no replay ran")
    assert(now() == v, "the replayed batch committed")
  }

  test("a batch replayed after a lost checkpoint commit commits nothing: " +
      "text and IVF-PQ equal a one-shot build (search and audit)") {
    val base = Seq((0L, "spark hash window"), (2L, "hash join"))
      .toDF("doc_id", "text")
    val arrivals = Seq((1L, "spark window stream"), (3L, "window state"))
      .toDF("doc_id", "text")
    val text = java.nio.file.Files.createTempDirectory("graft-rtext").toString
    TextAnalysis.buildTextIndex(base, "doc_id", "text", text, buckets = 8)
    replayLast(text, arrivals, (src, ckpt) => StreamingIndex.ingestTextIndex(
      spark, src, ckpt, text, "doc_id", "text", 8))
    val oneShot = java.nio.file.Files.createTempDirectory("graft-rtext1")
      .toString
    TextAnalysis.buildTextIndex(base.unionByName(arrivals), "doc_id", "text",
      oneShot, buckets = 8)
    def search(d: String) = rows(TextAnalysis.searchTextIndex(spark, d,
      Seq("spark", "window", "hash", "state"), k = 10))
    assert(search(text) == search(oneShot))
    assert(rows(TextAnalysis.textIndexAudit(spark, text)) ==
      rows(TextAnalysis.textIndexAudit(spark, oneShot)))

    // the frozen codebooks make "one-shot" a build plus one append
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 1.0, 0.0)), (2L, Array(0.9, 0.1, 0.9, 0.1)),
      (3L, Array(0.0, 1.0, 0.0, 1.0)), (6L, Array(0.1, 0.9, 0.1, 0.9)))
      .toDF("vec_id", "embedding")
    val more = Seq((1L, Array(0.95, 0.05, 0.95, 0.05)),
      (5L, Array(0.05, 0.95, 0.05, 0.95))).toDF("vec_id", "embedding")
    def built() = {
      val d = java.nio.file.Files.createTempDirectory("graft-rpq").toString
      Similarity.buildIvfPqIndex(vecs, "vec_id", "embedding", d,
        m = 2, ksub = 4, ivfStep = 3, pqStep = 1)
      d
    }
    val pq = built()
    replayLast(pq, more, (src, ckpt) => StreamingIndex.ingestIvfPqIndex(
      spark, src, ckpt, pq, "vec_id", "embedding"))
    val pqOneShot = built()
    Similarity.appendIvfPqIndex(spark, pqOneShot, more, "vec_id", "embedding")
    def knn(d: String) = rows(Similarity.searchIvfPqIndex(spark, d, vecs,
      "vec_id", "embedding", k = 6, nprobe = 3))
    assert(knn(pq) == knn(pqOneShot))
    assert(rows(Similarity.ivfIndexAudit(spark, pq)) ==
      rows(Similarity.ivfIndexAudit(spark, pqOneShot)))
  }

  test("ingestTextIndex: completed-run restart is a no-op; one log entry per batch records its id") {
    val root = java.nio.file.Files.createTempDirectory("graft-sidx").toString
    val base = Seq((0L, "spark hash window"), (2L, "hash join"))
      .toDF("doc_id", "text")
    TextAnalysis.buildTextIndex(base, "doc_id", "text", root, buckets = 8)
    val arrivals = Seq((1L, "spark window stream"), (3L, "window state"))
      .toDF("doc_id", "text")
    arrivals.repartition(2).write.parquet(s"$root/arrivals")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sidx-ck").toString
    def src = spark.readStream
      .schema(spark.read.parquet(s"$root/arrivals").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/arrivals")
    StreamingIndex.ingestTextIndex(spark, src, ckpt, root, "doc_id", "text", 8)
    // one log entry per micro-batch (2 files, 1 per trigger) after the
    // build's, each recording its batch id under the checkpoint's name
    assert(logVersion(root) == 3L)
    assert(StoreSegments.latest(spark, root).txn ==
      Map(s"stream:file:$ckpt" -> 1L))
    assert(!new java.io.File(s"$root/ingested").exists())
    val stats = spark.read.parquet(s"$root/stats")
      .agg(sum("n_docs"), sum("sum_dl")).collect()(0)
    assert(stats.getLong(0) == 4)
    // restart on the completed checkpoint: nothing replays, stats hold
    StreamingIndex.ingestTextIndex(spark, src, ckpt, root, "doc_id", "text", 8)
    assert(logVersion(root) == 3L)
    val stats2 = spark.read.parquet(s"$root/stats")
      .agg(sum("n_docs"), sum("sum_dl")).collect()(0)
    assert(stats == stats2)
    // and the streamed docs are searchable
    val hits = TextAnalysis.searchTextIndex(spark, root,
      Seq("window"), buckets = 8, k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(0L, 1L, 3L), hits.toString)
  }

  test("ingestIvfPqIndex: streamed codes searchable; restart a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-spq").toString
    val base = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f, 0.0f)), (2L, Array(0.9f, 0.1f, 0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 1.0f)), (6L, Array(0.1f, 0.9f, 0.1f, 0.9f)),
    ).toDF("vec_id", "embedding")
    Similarity.buildIvfPqIndex(base, "vec_id", "embedding", root,
      m = 2, ksub = 4, ivfStep = 3, pqStep = 1)
    val arrivals = Seq(
      (1L, Array(0.95f, 0.05f, 0.95f, 0.05f)),
      (5L, Array(0.05f, 0.95f, 0.05f, 0.95f)),
    ).toDF("vec_id", "embedding")
    arrivals.repartition(2).write.parquet(s"$root/arrivals")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-spq-ck").toString
    def src = spark.readStream
      .schema(spark.read.parquet(s"$root/arrivals").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/arrivals")
    StreamingIndex.ingestIvfPqIndex(spark, src, ckpt, root,
      "vec_id", "embedding")
    val nPost = spark.read.parquet(s"$root/postings").count()
    assert(nPost == 6, nPost.toString) // 4 built + 2 streamed code words
    // restart on the completed checkpoint: nothing replays
    StreamingIndex.ingestIvfPqIndex(spark, src, ckpt, root,
      "vec_id", "embedding")
    assert(spark.read.parquet(s"$root/postings").count() == 6)
    // the streamed vector ranks for a same-cluster query
    val hits = Similarity.searchIvfPqIndex(spark, root,
        base.filter(col("vec_id") === 0), "vec_id", "embedding",
        k = 5, nprobe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert(hits.contains(1L), hits.toString)
  }

  test("ingestZoneMap: a replayed batch commits nothing") {
    import graft.sinks.ZoneMap
    val base = (0L until 40L).map(k => (k, k * 5)).toDF("id", "key")
    val arrivals = Seq((100L, 7L), (101L, 333L), (102L, 120L), (103L, -4L))
      .toDF("id", "key")
    val root = java.nio.file.Files.createTempDirectory("graft-rzm").toString
    ZoneMap.writeZoneMapped(base, root, "key", zones = 4)
    replayLast(root, arrivals, (src, ckpt) =>
      StreamingIndex.ingestZoneMap(spark, src, ckpt, root, "key"))
    // two batches, two entries after the build's, the last batch recorded
    assert(logVersion(root) == 3L)
    assert(StoreSegments.latest(spark, root).txn.values.toSeq == Seq(1L))
    val oneShot = java.nio.file.Files.createTempDirectory("graft-rzm1")
      .toString
    ZoneMap.writeZoneMapped(base, oneShot, "key", zones = 4)
    ZoneMap.appendZoneMapped(spark, oneShot, arrivals, "key")
    def stats(d: String) = rows(ZoneMap.zoneStats(spark, d))
    def scan(d: String) = rows(ZoneMap.scanRange(spark, d, "key", -10L, 400L)
      .select("id", "key"))
    assert(stats(root) == stats(oneShot))
    assert(scan(root) == scan(oneShot) && scan(root).size == 44)
    assert(rows(ZoneMap.zoneMapAudit(spark, root)) ==
      rows(ZoneMap.zoneMapAudit(spark, oneShot)))
  }

  test("ingestSnapshotDeltas: a replay writes nothing") {
    import graft.operators.Curation
    val base = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("doc_id", "text")
    val changes = Seq((1L, "b2", "u"), (2L, "", "d"), (5L, "e", "u"),
      (0L, "", "d")).toDF("doc_id", "text", "op")
    val root = java.nio.file.Files.createTempDirectory("graft-rsnap").toString
    Curation.writeSnapshot(base, root, version = 1)
    // every file under the store but the stream's input, with its mtime
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root)).map(f => f.getPath -> f.lastModified())
        .filterNot(_._1.contains("/arrivals")).toMap
    }
    replayLast(root, changes, (src, ckpt) =>
      StreamingIndex.ingestSnapshotDeltas(spark, src, ckpt, root, "doc_id",
        "op", startVersion = 2), files _)
    assert(Curation.deltaVersions(root) == Seq(2L, 3L))
    // a one-shot write: the base and every change in one delta
    val oneShot = java.nio.file.Files.createTempDirectory("graft-rsnap1")
      .toString
    Curation.writeSnapshot(base, oneShot, version = 1)
    Curation.writeSnapshotDelta(spark, oneShot, 2,
      changes.filter(col("op") === "u").drop("op"),
      changes.filter(col("op") === "d").select("doc_id"), "doc_id")
    assert(rows(Curation.readSnapshotAt(spark, root, 3, "doc_id")) ==
      rows(Curation.readSnapshotAt(spark, oneShot, 2, "doc_id")))
  }

  test("ingestSnapshotDeltas: a crashed attempt stays unread") {
    import graft.operators.Curation
    val root = java.nio.file.Files.createTempDirectory("graft-sdelta").toString
    val base = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("doc_id", "text")
    Curation.writeSnapshot(base, root, version = 1)
    val changes = Seq((1L, "b2", "u"), (2L, "", "d"))
      .toDF("doc_id", "text", "op")
    val arrivals = java.nio.file.Files.createTempDirectory("graft-sdelta-in")
      .toString + "/arrivals"
    changes.coalesce(1).write.parquet(arrivals)
    // what a writer that died before its publish leaves: a half-written
    // attempt directory of delta version=2 (upserts, no deletes) and of a
    // full version. Its name hides it from every reader, so the stream
    // publishes version=2 over it and no reconstruction ever reads it.
    Seq((1L, "stale-half-write")).toDF("doc_id", "text")
      .write.parquet(s"$root/_delta/_attempt-crashed/upserts")
    Seq((7L, "stale-full")).toDF("doc_id", "text")
      .write.parquet(s"$root/_attempt-crashed")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sdelta-ck").toString
    val src = spark.readStream.schema(changes.schema).parquet(arrivals)
    StreamingIndex.ingestSnapshotDeltas(spark, src, ckpt, root,
      "doc_id", "op", startVersion = 2)
    val got = Curation.readSnapshotAt(spark, root, version = 2, idCol = "doc_id")
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((0L, "a"), (1L, "b2")), got.toString)
    assert(Curation.snapshotVersions(root) == Seq(1L))
    assert(rows(Curation.readSnapshots(spark, root, lastN = 5)
      .select("doc_id", "text")) == rows(base))
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.operators.{Curation, IndexSync, Similarity, StoreFs,
  StoreSegments, TextAnalysis}

/** CDC-driven index freshness ([[graft.operators.IndexSync]]): the
  * rebuild-equivalence half is oracle-gated (q236 hash-equals the
  * from-scratch BM25 oracle over the reconstruction); these tests pin
  * the pieces a fixture-parquet oracle can't — the cross-sync re-birth
  * (the tombstone-shadow hazard), the range discipline (noop / gap
  * refusal), and the one commit per sync (a kill at any write leaves the
  * old version, a replay commits nothing, racing syncs commit once).
  */
class IndexSyncSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  // distinctive per-doc terms so search results identify membership
  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private def hits(idx: String, term: String): Set[Long] =
    TextAnalysis.searchTextIndex(spark, idx, Seq(term), k = 50,
      buckets = 4).collect().map(_.getAs[Long]("doc_id")).toSet

  private val v1 = docs(
    1L -> "alpha common", 2L -> "bravo common", 3L -> "charlie common",
    4L -> "delta common", 5L -> "echo common")

  test("one sync applies a multi-delta range and equals the from-scratch build") {
    val store = tmp("graft-sync-store")
    val idx = tmp("graft-sync-idx")
    Curation.writeSnapshot(v1, store, version = 1)
    // v2: change 2, remove 4, add 6
    Curation.writeSnapshotDelta(spark, store, version = 2,
      upserts = docs(2L -> "bravo revised common", 6L -> "foxtrot common"),
      deleteIds = Seq(4L).toDF("doc_id"), idCol = "doc_id")
    // v3: change 6 again, remove 5
    Curation.writeSnapshotDelta(spark, store, version = 3,
      upserts = docs(6L -> "foxtrot final common"),
      deleteIds = Seq(5L).toDF("doc_id"), idCol = "doc_id")
    TextAnalysis.buildTextIndex(
      Curation.readSnapshotAt(spark, store, 1, "doc_id"),
      "doc_id", "text", idx, buckets = 4)
    val r = IndexSync.syncTextIndexFromSnapshots(spark, idx, store,
      oldVersion = 1, newVersion = 3, idCol = "doc_id", textCol = "text",
      buckets = 4).collect().head
    assert(r.getAs[String]("action") == "applied")
    assert(r.getAs[Long]("n_added") == 1L)    // 6
    assert(r.getAs[Long]("n_changed") == 1L)  // 2
    assert(r.getAs[Long]("n_removed") == 2L)  // 4, 5
    assert(r.getAs[Boolean]("compacted"))     // 2's re-append forced a drain
    assert(IndexSync.appliedVersion(spark, idx).contains(3L))
    // membership through search: survivors 1,2,3,6; 2 and 6 on NEW text
    assert(hits(idx, "common") == Set(1L, 2L, 3L, 6L))
    assert(hits(idx, "revised") == Set(2L))
    assert(hits(idx, "final") == Set(6L))
    assert(hits(idx, "foxtrot") == Set(6L))
    // full equivalence vs a from-scratch build at v3 (same scores)
    val fresh = tmp("graft-sync-fresh")
    TextAnalysis.buildTextIndex(
      Curation.readSnapshotAt(spark, store, 3, "doc_id"),
      "doc_id", "text", fresh, buckets = 4)
    val a = TextAnalysis.searchTextIndex(spark, idx, Seq("common"), k = 50,
      buckets = 4).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val b = TextAnalysis.searchTextIndex(spark, fresh, Seq("common"), k = 50,
      buckets = 4).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(a == b)
  }

  test("cross-sync re-birth: a doc deleted by one sync and re-added by the next is served with its NEW content") {
    val store = tmp("graft-rebirth-store")
    val idx = tmp("graft-rebirth-idx")
    Curation.writeSnapshot(v1, store, version = 1)
    Curation.writeSnapshotDelta(spark, store, version = 2,
      upserts = spark.emptyDataset[(Long, String)].toDF("doc_id", "text"),
      deleteIds = Seq(3L).toDF("doc_id"), idCol = "doc_id")
    Curation.writeSnapshotDelta(spark, store, version = 3,
      upserts = docs(3L -> "charlie reborn common"),
      deleteIds = spark.emptyDataset[Long].toDF("doc_id"), idCol = "doc_id")
    TextAnalysis.buildTextIndex(
      Curation.readSnapshotAt(spark, store, 1, "doc_id"),
      "doc_id", "text", idx, buckets = 4)
    val r1 = IndexSync.syncTextIndexFromSnapshots(spark, idx, store,
      1, 2, "doc_id", "text", buckets = 4).collect().head
    assert(r1.getAs[Long]("n_removed") == 1L)
    assert(!r1.getAs[Boolean]("compacted")) // pure delete: tombstone is enough
    assert(!hits(idx, "common").contains(3L))
    // the re-add arrives while 3's tombstone is live — without the drain,
    // the search anti-join would shadow the NEW postings
    val r2 = IndexSync.syncTextIndexFromSnapshots(spark, idx, store,
      2, 3, "doc_id", "text", buckets = 4).collect().head
    assert(r2.getAs[String]("action") == "applied")
    assert(r2.getAs[Long]("n_added") == 1L)
    assert(r2.getAs[Boolean]("compacted"))
    assert(hits(idx, "reborn") == Set(3L))
    assert(hits(idx, "common") == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("range discipline: replay is a noop, a gap or overlap is refused") {
    val store = tmp("graft-range-store")
    val idx = tmp("graft-range-idx")
    Curation.writeSnapshot(v1, store, version = 1)
    Curation.writeSnapshotDelta(spark, store, version = 2,
      upserts = docs(2L -> "bravo revised common"),
      deleteIds = spark.emptyDataset[Long].toDF("doc_id"), idCol = "doc_id")
    Curation.writeSnapshotDelta(spark, store, version = 3,
      upserts = docs(1L -> "alpha revised common"),
      deleteIds = spark.emptyDataset[Long].toDF("doc_id"), idCol = "doc_id")
    TextAnalysis.buildTextIndex(
      Curation.readSnapshotAt(spark, store, 1, "doc_id"),
      "doc_id", "text", idx, buckets = 4)
    assert(IndexSync.syncTextIndexFromSnapshots(spark, idx, store,
      1, 2, "doc_id", "text", buckets = 4)
      .collect().head.getAs[String]("action") == "applied")
    // replayed range: clean noop (the scheduled-job re-fire)
    val noop = IndexSync.syncTextIndexFromSnapshots(spark, idx, store,
      1, 2, "doc_id", "text", buckets = 4).collect().head
    assert(noop.getAs[String]("action") == "noop")
    assert(IndexSync.appliedVersion(spark, idx).contains(2L))
    // overlapping range (1,3] after (1,2]: a doc changed in v2 and
    // changed BACK in v3 would diff(1,3) as unchanged and be skipped —
    // refused, not silently diverged
    val e = intercept[IllegalArgumentException] {
      IndexSync.syncTextIndexFromSnapshots(spark, idx, store,
        1, 3, "doc_id", "text", buckets = 4)
    }
    assert(e.getMessage.contains("does not start at"))
    // the correct next range applies
    assert(IndexSync.syncTextIndexFromSnapshots(spark, idx, store,
      2, 3, "doc_id", "text", buckets = 4)
      .collect().head.getAs[String]("action") == "applied")
    assert(hits(idx, "revised") == Set(1L, 2L))
  }

  /** A byte copy of the directory at a fresh path. */
  private def copyOf(root: String): String = {
    val src = java.nio.file.Paths.get(root)
    val dst = java.nio.file.Paths.get(tmp("graft-sync-copy"))
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.toSeq.foreach { f =>
      val to = dst.resolve(src.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(f, to)
    } finally walk.close()
    dst.toString
  }

  /** Run `body` with `h` as the store hook. */
  private def hooked[T](h: (String, String) => Unit)(body: => T): T = {
    StoreSegments.hook = h
    try body finally StoreSegments.hook = (_, _) => ()
  }

  private def logEntries(idx: String): Int =
    StoreFs.listFiles(spark, s"$idx/_log").count(_.forall(_.isDigit))

  private def scores(idx: String): Set[(Long, Long)] =
    TextAnalysis.searchTextIndex(spark, idx,
        Seq("common", "revised", "golf", "alpha"), k = 50, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet

  private def applied(idx: String): Option[Long] = {
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val st = spark.sql(s"SELECT * FROM graft_sync_status('$idx')")
      .collect().head
    assert(st.schema.fieldNames.toSeq == Seq("store", "applied_version"))
    Option(st.get(1)).map(_.asInstanceOf[Long])
  }

  /** v1 = [[v1]]; v2 changes 2 and removes 4; v3 changes 1, removes 5,
    * adds 7 — a range whose sync drains and appends. The index is built
    * at v1 and synced to v2.
    */
  private def syncedToV2(tag: String): (String, String) = {
    val store = tmp(s"graft-$tag-store")
    val idx = tmp(s"graft-$tag-idx")
    Curation.writeSnapshot(v1, store, version = 1)
    Curation.writeSnapshotDelta(spark, store, version = 2,
      upserts = docs(2L -> "bravo revised common"),
      deleteIds = Seq(4L).toDF("doc_id"), idCol = "doc_id")
    Curation.writeSnapshotDelta(spark, store, version = 3,
      upserts = docs(1L -> "alpha revised common", 7L -> "golf common"),
      deleteIds = Seq(5L).toDF("doc_id"), idCol = "doc_id")
    TextAnalysis.buildTextIndex(
      Curation.readSnapshotAt(spark, store, 1, "doc_id"),
      "doc_id", "text", idx, buckets = 4)
    sync(idx, store, 1, 2)
    (store, idx)
  }

  private def sync(idx: String, store: String, from: Long,
                   to: Long): String =
    IndexSync.syncTextIndexFromSnapshots(spark, idx, store, from, to,
      "doc_id", "text", buckets = 4).collect().head.getAs[String]("action")

  private final class KillPoint extends RuntimeException("kill point")

  private def isPoint(step: String) =
    step.startsWith("write") || step == "commit"

  test("sync crash: a sync killed at any segment write or its commit " +
      "leaves the pre-sync version and applied version; re-running the " +
      "range applies it and equals a from-scratch build") {
    val (store, idx) = syncedToV2("sync-crash")
    val fresh = tmp("graft-sync-crash-fresh")
    TextAnalysis.buildTextIndex(
      Curation.readSnapshotAt(spark, store, 3, "doc_id"),
      "doc_id", "text", fresh, buckets = 4)
    val before = scores(idx)
    val clean = copyOf(idx)
    val points = new java.util.concurrent.atomic.AtomicInteger
    hooked((d, step) => if (d == clean && isPoint(step))
      points.incrementAndGet())(assert(sync(clean, store, 2, 3) == "applied"))
    // the drain's and the append's segment writes, then the commit
    assert(points.get >= 3, s"${points.get} kill points")
    for (k <- 0 until points.get) {
      val d = copyOf(idx)
      val v = StoreSegments.latest(spark, d).version
      val seen = new java.util.concurrent.atomic.AtomicInteger
      val e = intercept[Throwable](hooked((dd, step) => if (dd == d &&
          isPoint(step) && seen.getAndIncrement() == k)
        throw new KillPoint)(sync(d, store, 2, 3)))
      assert(e.isInstanceOf[KillPoint], s"@$k: $e")
      spark.catalog.clearCache()
      assert(StoreSegments.latest(spark, d).version == v, s"@$k")
      assert(applied(d).contains(2L), s"@$k")
      assert(scores(d) == before, s"@$k: not the pre-sync version")
      assert(sync(d, store, 2, 3) == "applied", s"@$k")
      assert(applied(d).contains(3L), s"@$k")
      assert(scores(d) == scores(fresh), s"@$k: the re-run differs")
    }
  }

  test("sync commit count: one applied sync adds exactly one log entry, " +
      "a replayed range none, a zero-churn range one") {
    val (store, idx) = syncedToV2("sync-count")
    // build + the (1, 2] sync
    assert(logEntries(idx) == 2)
    assert(sync(idx, store, 2, 3) == "applied")
    assert(logEntries(idx) == 3)
    assert(sync(idx, store, 2, 3) == "noop")
    assert(sync(idx, store, 1, 3) == "noop")
    assert(logEntries(idx) == 3)
    Curation.writeSnapshotDelta(spark, store, version = 4,
      upserts = spark.emptyDataset[(Long, String)].toDF("doc_id", "text"),
      deleteIds = spark.emptyDataset[Long].toDF("doc_id"), idCol = "doc_id")
    val segs = StoreSegments.latest(spark, idx).comps
    assert(sync(idx, store, 3, 4) == "applied")
    assert(logEntries(idx) == 4)
    assert(StoreSegments.latest(spark, idx).comps == segs)
    assert(applied(idx).contains(4L))
  }

  test("racing syncs of one range: one applies, the other fails naming " +
      "the store or reads noop; the store equals the winner's result") {
    val (store, idx) = syncedToV2("sync-race")
    val solo = copyOf(idx)
    assert(sync(solo, store, 2, 3) == "applied")
    // both resolve the same entry before either goes on
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val arrivals = new java.util.concurrent.atomic.AtomicInteger
    val outcomes = try hooked((d, step) => if (d == idx &&
        step == "resolved" && arrivals.getAndIncrement() < 2)
      barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)) {
      Seq.fill(2)(pool.submit(new java.util.concurrent.Callable[
          scala.util.Try[String]] {
        def call() = scala.util.Try(sync(idx, store, 2, 3))
      })).map(_.get())
    } finally pool.shutdown()
    assert(outcomes.count(_.toOption.contains("applied")) == 1,
      outcomes.toString)
    outcomes.filterNot(_.toOption.contains("applied")).foreach {
      case scala.util.Success(a) => assert(a == "noop")
      case scala.util.Failure(e) =>
        def messages(t: Throwable): Seq[String] =
          if (t == null) Nil else String.valueOf(t.getMessage) +:
            messages(t.getCause)
        assert(messages(e).exists(_.contains(idx)), e.toString)
    }
    assert(logEntries(idx) == logEntries(solo))
    assert(applied(idx).contains(3L))
    assert(scores(idx) == scores(solo))
    assert(TextAnalysis.textIndexAudit(spark, idx).collect().toSeq ==
      TextAnalysis.textIndexAudit(spark, solo).collect().toSeq)
  }

  // one-hot direction per id (id % 3) + a small id-proportional tail, so
  // "which centroid a vector matches" is controlled by the test
  private def vecs(ids: Long*): org.apache.spark.sql.DataFrame =
    ids.map { i =>
      val v = Array.fill(4)(0.0); v((i % 3).toInt) = 1.0; v(3) = 0.001 * i
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")

  private def oneHot(d: Int): Seq[Double] = {
    val v = Array.fill(4)(0.0); v(d) = 1.0; v.toSeq
  }

  private def neighbors(idx: String, dir: Int, k: Int): Set[Long] =
    Similarity.searchIvfIndex(spark, idx,
        Seq((999L, oneHot(dir))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = k, nprobe = 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet

  test("IVF sync: changed vectors re-assign to their new cells, re-birth served after the drain") {
    val store = tmp("graft-ivf-sync-store")
    val idx = tmp("graft-ivf-sync-idx")
    // ids 0..8: directions 0,1,2,0,1,2,0,1,2
    Curation.writeSnapshot(vecs(0L to 8L: _*), store, version = 1)
    // v2: id 4 deleted (delete-only — the tombstone stays live, no drain)
    Curation.writeSnapshotDelta(spark, store, version = 2,
      upserts = spark.emptyDataset[(Long, Seq[Double])]
        .toDF("vec_id", "embedding"),
      deleteIds = Seq(4L).toDF("vec_id"), idCol = "vec_id")
    // v3: id 3 flips direction 0 -> 2 (changed), id 9 arrives (dir 1),
    // id 4 reborn on direction 0 — the re-adds meet 4's LIVE tombstone
    Curation.writeSnapshotDelta(spark, store, version = 3,
      upserts = Seq(
          (3L, { val v = Array.fill(4)(0.0); v(2) = 1.0; v(3) = 0.003; v.toSeq }),
          (9L, { val v = Array.fill(4)(0.0); v(1) = 1.0; v(3) = 0.009; v.toSeq }),
          (4L, { val v = Array.fill(4)(0.0); v(0) = 1.0; v(3) = 0.004; v.toSeq }))
        .toDF("vec_id", "embedding"),
      deleteIds = spark.emptyDataset[Long].toDF("vec_id"), idCol = "vec_id")
    Similarity.buildIvfIndex(
      Curation.readSnapshotAt(spark, store, 1, "vec_id"),
      "vec_id", "embedding", idx, centStep = 3)
    val r1 = IndexSync.syncIvfIndexFromSnapshots(spark, idx, store,
      1, 2, "vec_id", "embedding").collect().head
    assert(r1.getAs[String]("action") == "applied")
    assert(r1.getAs[Long]("n_removed") == 1L)  // 4
    assert(!r1.getAs[Boolean]("compacted"))    // pure delete: tombstone only
    // membership after sync1 (all 3 cells probed, so k=20 = full live set)
    assert(neighbors(idx, 0, k = 20) ==
      Set(0L, 1L, 2L, 3L, 5L, 6L, 7L, 8L))
    // sync2: 3 changed (its own delete shadows it), 4 reborn against its
    // LIVE v2 tombstone, 9 added — ONE drain serves all of them
    val r2 = IndexSync.syncIvfIndexFromSnapshots(spark, idx, store,
      2, 3, "vec_id", "embedding").collect().head
    assert(r2.getAs[Long]("n_added") == 2L)    // 4, 9
    assert(r2.getAs[Long]("n_changed") == 1L)  // 3
    assert(r2.getAs[Boolean]("compacted"))
    assert(neighbors(idx, 0, k = 20) ==
      Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L))
    // 3's content moved to direction 2: it ranks in dir-2's top-3
    // (tails .002/.003/.005 — ids 2, 3, 5) and is OUT of dir-0's top-3
    // ({0, 4, 6}; a stale dir-0 posting for 3 would rank cos≈1 and flip
    // this — the re-assignment proof); reborn 4 (tail .004) slots
    // between 0 and 6
    assert(neighbors(idx, 2, k = 3) == Set(2L, 3L, 5L))
    assert(neighbors(idx, 0, k = 3) == Set(0L, 4L, 6L))
    assert(IndexSync.appliedVersion(spark, idx).contains(3L))
  }

  test("IVF-PQ sync: the compressed store follows the same snapshot chain") {
    val store = tmp("graft-pq-sync-store")
    val idx = tmp("graft-pq-sync-idx")
    Curation.writeSnapshot(vecs(0L to 11L: _*), store, version = 1)
    Curation.writeSnapshotDelta(spark, store, version = 2,
      upserts = Seq(
          (12L, { val v = Array.fill(4)(0.0); v(1) = 1.0; v(3) = 0.012; v.toSeq }))
        .toDF("vec_id", "embedding"),
      deleteIds = Seq(7L).toDF("vec_id"), idCol = "vec_id")
    Similarity.buildIvfPqIndex(
      Curation.readSnapshotAt(spark, store, 1, "vec_id"),
      "vec_id", "embedding", idx, m = 2, ksub = 4, ivfStep = 4, pqStep = 3)
    val r = IndexSync.syncIvfPqIndexFromSnapshots(spark, idx, store,
      1, 2, "vec_id", "embedding").collect().head
    assert(r.getAs[String]("action") == "applied")
    assert(r.getAs[Long]("n_added") == 1L)
    assert(r.getAs[Long]("n_removed") == 1L)
    assert(!r.getAs[Boolean]("compacted")) // no shadowed re-append
    val got = Similarity.searchIvfPqIndex(spark, idx,
        Seq((999L, oneHot(1))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 12, nprobe = 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(got.contains(12L) && !got.contains(7L))
  }

  test("empty range: zero churn applies cleanly and advances the marker") {
    val store = tmp("graft-empty-store")
    val idx = tmp("graft-empty-idx")
    Curation.writeSnapshot(v1, store, version = 1)
    Curation.writeSnapshotDelta(spark, store, version = 2,
      upserts = spark.emptyDataset[(Long, String)].toDF("doc_id", "text"),
      deleteIds = spark.emptyDataset[Long].toDF("doc_id"), idCol = "doc_id")
    TextAnalysis.buildTextIndex(
      Curation.readSnapshotAt(spark, store, 1, "doc_id"),
      "doc_id", "text", idx, buckets = 4)
    val r = IndexSync.syncTextIndexFromSnapshots(spark, idx, store,
      1, 2, "doc_id", "text", buckets = 4).collect().head
    assert(r.getAs[String]("action") == "applied")
    assert(r.getAs[Long]("n_added") + r.getAs[Long]("n_changed") +
      r.getAs[Long]("n_removed") == 0L)
    assert(IndexSync.appliedVersion(spark, idx).contains(2L))
    assert(hits(idx, "common") == Set(1L, 2L, 3L, 4L, 5L))
  }
}

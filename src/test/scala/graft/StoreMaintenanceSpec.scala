package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, StoreFs, StoreMaintenance, StoreSegments, TextAnalysis}

/** Threshold-driven maintenance: the policy loop an operator schedules
  * instead of hand-placing compact/vacuum. The DECISIONS are what these
  * tests pin (none / compact / vacuum, and vacuum's precedence when both
  * thresholds trip); the answers-unchanged half is oracle-gated
  * (q228/q229 against q133/q131).
  */
class StoreMaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def vecs(n: Long) = (0L until n).map { i =>
    val base = Array.fill(4)(0.0); base((i % 3).toInt) = 1.0
    base(3) = 0.01 * i
    (i, base.toSeq)
  }.toDF("vec_id", "embedding")

  private def action(df: org.apache.spark.sql.DataFrame): String =
    df.collect().head.getAs[String]("action")

  test("IVF decisions: none on clean; compact drains tombstones; second pass is a no-op") {
    val dir = tmp("graft-maint-ivf")
    Similarity.buildIvfIndex(vecs(30), "vec_id", "embedding", dir,
      centStep = 3)
    assert(action(StoreMaintenance.maintainIvfIndex(spark, dir)) == "none")
    Similarity.deleteFromIvfIndex(spark, dir,
      Seq(0L, 3L).toDF("vec_id"), "vec_id")
    val r = StoreMaintenance.maintainIvfIndex(spark, dir).collect().head
    assert(r.getAs[String]("action") == "compact")
    assert(r.getAs[Long]("n_tombstones") == 2L)
    // drained: the scheduled re-fire decides none
    assert(!StoreFs.exists(spark, s"$dir/tombstones"))
    assert(action(StoreMaintenance.maintainIvfIndex(spark, dir)) == "none")
  }

  test("IVF decisions: leg pile-up trips vacuum; both thresholds trip ONE vacuum (precedence)") {
    val dir = tmp("graft-maint-legs")
    Similarity.buildIvfIndex(vecs(30), "vec_id", "embedding", dir,
      centStep = 3)
    // a drained delete, then stacked appends: each adds a live segment
    Similarity.deleteFromIvfIndex(spark, dir, Seq(0L).toDF("vec_id"), "vec_id")
    Similarity.compactIvfIndex(spark, dir)
    (0 until 3).foreach { i =>
      Similarity.appendIvfIndex(spark, dir,
        vecs(34 + i).filter(col("vec_id") >= 30 + i), "vec_id", "embedding")
    }
    val legs = StoreSegments.latest(spark, dir).segs("postings").size
    assert(legs > 2, s"expected stacked legs, got $legs")
    // a tombstone on top: both thresholds trip — ONE vacuum settles both
    Similarity.deleteFromIvfIndex(spark, dir, Seq(1L).toDF("vec_id"), "vec_id")
    val r = StoreMaintenance.maintainIvfIndex(spark, dir,
      maxSegments = 2).collect().head
    assert(r.getAs[String]("action") == "vacuum")
    assert(r.getAs[Long]("n_live_legs") == legs.toLong)
    assert(!StoreFs.exists(spark, s"$dir/tombstones"))
    assert(StoreSegments.latest(spark, dir).segs("postings").size == 1)
    assert(action(StoreMaintenance.maintainIvfIndex(spark, dir,
      maxSegments = 2)) == "none")
    // the maintained store still answers: the deleted ids are gone, the
    // appended ids present
    val got = Similarity.searchIvfIndex(spark, dir,
        vecs(1).filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 1000, nprobe = 4096)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!got.contains(0L) && !got.contains(1L)
      && got.contains(30L) && got.contains(32L))
  }

  test("snapshot decisions: none under the chain threshold, compaction-point full above it, idempotent after") {
    import graft.operators.Curation
    val dir = tmp("graft-maint-snap")
    Curation.writeSnapshot(
      Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text"), dir, 1L)
    def maintain(max: Int) = StoreMaintenance
      .maintainSnapshotStore(spark, dir, "doc_id", maxChain = max)
      .collect().head
    assert(maintain(2).getAs[String]("action") == "none")
    Curation.writeSnapshotDelta(spark, dir, 2L,
      upserts = Seq((3L, "three")).toDF("doc_id", "text"),
      deleteIds = Seq(1L).toDF("doc_id"), idCol = "doc_id")
    Curation.writeSnapshotDelta(spark, dir, 3L,
      upserts = Seq((2L, "two edited")).toDF("doc_id", "text"),
      deleteIds = spark.range(0).select(col("id").as("doc_id")),
      idCol = "doc_id")
    // chain 2 ≤ max 2: still none
    assert(maintain(2).getAs[String]("action") == "none")
    val r = maintain(1) // chain 2 > 1 → compaction-point full at v4
    assert(r.getAs[String]("action") == "compact")
    assert(r.getAs[Long]("n_tombstones") == 2L) // chain length signal
    assert(Curation.snapshotVersions(dir) == Seq(1L, 4L))
    // the new full IS the reconstruction: content unchanged
    val got = Curation.readSnapshotAt(spark, dir, 4L, "doc_id")
      .collect().map(r2 => r2.getLong(0) -> r2.getString(1)).toMap
    assert(got == Map(2L -> "two edited", 3L -> "three"))
    // chain above v4 is empty: the scheduled re-fire decides none
    assert(maintain(1).getAs[String]("action") == "none")
    intercept[IllegalArgumentException] {
      StoreMaintenance.maintainSnapshotStore(spark, tmp("graft-maint-empty"),
        "doc_id")
    }
  }

  test("text decisions: compact on tombstones, vacuum on stats-leg pile-up from appends") {
    val dir = tmp("graft-maint-text")
    def doc(i: Long) = (i, s"spark hash doc$i")
    TextAnalysis.buildTextIndex((0L until 8L).map(doc).toDF("doc_id", "text"),
      "doc_id", "text", dir, buckets = 8)
    assert(action(StoreMaintenance.maintainTextIndex(spark, dir,
      buckets = 8)) == "none")
    TextAnalysis.deleteFromTextIndex(spark, dir,
      Seq(2L).toDF("doc_id"), "doc_id", buckets = 8)
    assert(action(StoreMaintenance.maintainTextIndex(spark, dir,
      buckets = 8)) == "compact")
    // appends stack stats/posting segments
    (0 until 3).foreach { i =>
      TextAnalysis.appendTextIndex(spark, dir,
        Seq(doc(10L + i)).toDF("doc_id", "text"), "doc_id", "text",
        buckets = 8)
    }
    assert(action(StoreMaintenance.maintainTextIndex(spark, dir,
      buckets = 8, maxSegments = 2)) == "vacuum")
    assert(action(StoreMaintenance.maintainTextIndex(spark, dir,
      buckets = 8, maxSegments = 2)) == "none")
    val got = TextAnalysis.searchTextIndex(spark, dir, Seq("spark"),
        k = 1000, buckets = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(got == ((0L until 8L).toSet - 2L) ++ Set(10L, 11L, 12L))
  }
}

package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, Semaphore, TimeUnit}

import graft.operators.{Bpe, Curation, StoreMaintenance, StoreSegments}
import graft.sinks.ZoneMap

/** Writer-vs-writer races on the stores that commit without a log of
  * versions numbered by the store itself: the zone map and the tokenizer
  * (log entries), the snapshot store (version directories published by a
  * no-overwrite rename). Every race is driven through the store hook
  * ([[StoreSegments.hook]]): one writer parks at a step on its own
  * thread while the test runs the other to completion, so each
  * interleaving is deterministic. The loser publishes nothing and fails
  * naming the store; the index stores' races are in StoreLogSpec.
  */
class StoreRaceSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def chain(t: Throwable): Seq[String] =
    if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)

  /** `body` on its own thread, parked at every step of store `dir` that
    * `at` accepts until [[resume]]; [[result]] joins it.
    */
  private final class Parked[T](dir: String, at: String => Boolean)
                               (body: => T) {
    private val name = s"parked-${java.util.UUID.randomUUID()}"
    private val arrived = new LinkedBlockingQueue[String]()
    private val go = new Semaphore(0)
    @volatile private var outcome: scala.util.Try[T] = _
    StoreSegments.hook = (d, step) =>
      if (d == dir && at(step) && Thread.currentThread.getName == name) {
        arrived.put(step)
        assert(go.tryAcquire(60, TimeUnit.SECONDS), "test latch timeout")
      }
    private val thread = new Thread(() => outcome = scala.util.Try(body), name)
    thread.start()

    /** The step the writer is parked at. */
    def parked(): String = {
      val step = arrived.poll(60, TimeUnit.SECONDS)
      assert(step != null, "the writer never reached its pause point")
      step
    }
    def resume(): Unit = go.release()
    def result(): scala.util.Try[T] = {
      thread.join(120000)
      StoreSegments.hook = (_, _) => ()
      assert(!thread.isAlive, "the parked writer never finished")
      outcome
    }
  }

  private def stats(dir: String) = ZoneMap.zoneStats(spark, dir)
    .orderBy("zone").collect().toSeq

  private def scanAll(dir: String) = ZoneMap.scanRange(spark, dir, "key",
      Long.MinValue, Long.MaxValue)
    .select("id", "key").orderBy("id").collect().toSeq

  test("zone map: a racing append loses at its commit") {
    val build = (0L until 100L).map(k => (k, k)).toDF("id", "key")
    val (winner, loser) = (Seq((1000L, 50L)).toDF("id", "key"),
      Seq((2000L, 97L), (2001L, 3L)).toDF("id", "key"))
    val dir = tmp("graft-race-zm")
    ZoneMap.writeZoneMapped(build, dir, "key", 4)
    val a = new Parked(dir, _ == "commit")(
      ZoneMap.appendZoneMapped(spark, dir, loser, "key"))
    assert(a.parked() == "commit")
    ZoneMap.appendZoneMapped(spark, dir, winner, "key")
    a.resume()
    val lost = a.result().failed.get
    assert(chain(lost).exists(m => m.contains("concurrent writer") &&
      m.contains(dir)), chain(lost).mkString(" | "))
    // the store is exactly build + the winner's append
    val oneShot = tmp("graft-race-zm1")
    ZoneMap.writeZoneMapped(build, oneShot, "key", 4)
    ZoneMap.appendZoneMapped(spark, oneShot, winner, "key")
    assert(stats(dir) == stats(oneShot))
    assert(scanAll(dir) == scanAll(oneShot))
    // the loser's retry commits on top and audits clean
    ZoneMap.appendZoneMapped(spark, dir, loser, "key")
    val audit = ZoneMap.zoneMapAudit(spark, dir).head
    assert(audit.getAs[Long]("n_rows") == 103L)
    assert(audit.getAs[Long]("stat_mismatches") == 0L)
    assert(audit.getAs[Long]("zone_mismatch") == 0L)
    assert(audit.getAs[Long]("misassigned") == 0L)
  }

  test("snapshot: one of two writers of a version wins") {
    val root = tmp("graft-race-snap")
    Curation.writeSnapshot(Seq((1L, "a")).toDF("doc_id", "text"), root, 1)
    val a = new Parked(root, _ == "commit")(Curation.writeSnapshot(
      Seq((2L, "from a"), (3L, "from a")).toDF("doc_id", "text"), root, 2))
    assert(a.parked() == "commit")
    Curation.writeSnapshot(Seq((4L, "from b")).toDF("doc_id", "text"),
      root, 2)
    a.resume()
    val lost = a.result().failed.get
    assert(lost.getMessage.contains(root) &&
      lost.getMessage.contains("version 2"), lost.getMessage)
    assert(Curation.snapshotVersions(root) == Seq(1L, 2L))
    val published = spark.read.parquet(s"$root/version=2")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(published == Seq((4L, "from b")))
    // the loser's attempt directory went with it
    assert(new java.io.File(root).list().sorted.toSeq ==
      Seq("version=1", "version=2"))
  }

  test("snapshot: of two maintain firings one compacts") {
    val root = tmp("graft-race-maint")
    val none = Seq.empty[Long].toDF("doc_id")
    Curation.writeSnapshot(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"),
      root, 1)
    (2L to 4L).foreach(v => Curation.writeSnapshotDelta(spark, root, v,
      Seq((v + 10, s"d$v")).toDF("doc_id", "text"), none, "doc_id"))
    def maintain() = StoreMaintenance.maintainSnapshotStore(spark, root,
      "doc_id", maxChain = 2).head.getString(1)
    val a = new Parked(root, _ == "commit")(maintain())
    assert(a.parked() == "commit")
    assert(maintain() == "compact")
    a.resume()
    assert(a.result().get == "none")
    assert(Curation.snapshotVersions(root) == Seq(1L, 5L))
    def at(v: Long) = Curation.readSnapshotAt(spark, root, v, "doc_id")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq
    assert(at(5) == at(4) && at(5).size == 5)
  }

  test("tokenizer: a load during a re-save sees one model") {
    val dir = tmp("graft-race-bpe")
    val docs = Seq((0L, "low lower lowest slow"), (1L, "newer newest new"),
      (2L, "wider widest wide low")).toDF("doc_id", "text")
    def model() = (Bpe.loadMerges(spark, dir).collect().toSeq,
      Bpe.loadVocab(spark, dir).collect().map(_.toString).sorted.toSeq,
      Bpe.loadTokenizerMeta(spark, dir))
    Bpe.saveTokenizer(docs, "text", dir, numMerges = 6, minFreq = 1)
    val old = model()
    val a = new Parked(dir, s => s.startsWith("write ") || s == "commit")(
      Bpe.saveTokenizer(docs.filter($"doc_id" =!= 2L), "text", dir,
        numMerges = 2, minFreq = 1))
    // at each write and at the commit, every load reads the old model
    var pinned: org.apache.spark.sql.DataFrame = null
    Seq("write merges", "write vocab", "write meta", "commit").foreach { s =>
      assert(a.parked() == s)
      assert(model() == old, s"at $s")
      pinned = Bpe.loadVocab(spark, dir)
      a.resume()
    }
    assert(a.result().isSuccess)
    val fresh = model()
    assert(fresh._3 == ((2, false)) && fresh._1.size == 2 && fresh != old)
    // a load resolved before the commit still reads the old model whole
    assert(pinned.collect().map(_.toString).sorted.toSeq == old._2)
  }
}

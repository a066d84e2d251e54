package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.operators.StoreLock
import graft.sinks.ZoneMap

/** The single-writer contract of the stores that still lock (zone map,
  * snapshot store, BPE model, the index stores' sync markers): every
  * mutating verb runs under [[StoreLock.withWriteLock]], so two
  * concurrent writers SERIALIZE-OR-ABORT — the loser fails loudly at
  * acquisition, before writing a byte, and the store is bit-identical to
  * its pre-attempt state. These tests drive real interleavings with
  * latches (deterministic, no sleeps-and-hope). The index stores commit
  * through their log instead (StoreLogSpec).
  */
class StoreLockSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("lock is held during the body, released after, and released on failure") {
    val dir = tmp("graft-lock-basic")
    StoreLock.withWriteLock(dir) {
      assert(StoreLock.isLocked(dir))
    }
    assert(!StoreLock.isLocked(dir))
    intercept[RuntimeException] {
      StoreLock.withWriteLock(dir) { throw new RuntimeException("boom") }
    }
    assert(!StoreLock.isLocked(dir), "lock leaked after a failing body")
  }

  test("second writer fails loudly naming the holder; forceUnlock recovers a crashed lock") {
    val dir = tmp("graft-lock-second")
    StoreLock.withWriteLock(dir) {
      val e = intercept[IllegalStateException] {
        StoreLock.withWriteLock(dir) { fail("loser's body must never run") }
      }
      assert(e.getMessage.contains("concurrent writer"), e.getMessage)
      assert(e.getMessage.contains("forceUnlock"), e.getMessage)
    }
    // simulate a crashed writer: lock file left behind
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir, StoreLock.LockName))
    assert(StoreLock.isLocked(dir))
    intercept[IllegalStateException] {
      StoreLock.withWriteLock(dir) { () }
    }
    assert(StoreLock.forceUnlock(dir))
    StoreLock.withWriteLock(dir) { () }   // lockable again
    assert(!StoreLock.isLocked(dir))
  }

  test("interleaved zone-map appends serialize-or-abort; store unchanged on abort") {
    val dir = tmp("graft-lock-zm")
    ZoneMap.writeZoneMapped(
      (0L until 100L).map(k => (k, k)).toDF("id", "key"), dir, "key", 4)
    val sidecarBefore = ZoneMap.zoneStats(spark, dir)
      .orderBy("zone").collect().toSeq
    val dataBefore = spark.read.parquet(s"$dir/data").count()

    // writer A acquires the lock and parks inside the critical section;
    // writer B then attempts an append and must ABORT before writing
    val aInside = new CountDownLatch(1)
    val aRelease = new CountDownLatch(1)
    val aDone = new CountDownLatch(1)
    @volatile var aFailure: Option[Throwable] = None
    val writerA = new Thread(() => {
      try StoreLock.withWriteLock(dir) {
        aInside.countDown()
        assert(aRelease.await(60, TimeUnit.SECONDS), "test latch timeout")
      } catch { case t: Throwable => aFailure = Some(t) }
      finally aDone.countDown()
    }, "graft-lock-writer-a")
    writerA.start()
    assert(aInside.await(60, TimeUnit.SECONDS), "writer A never acquired")

    val e = intercept[IllegalStateException] {
      ZoneMap.appendZoneMapped(spark, dir,
        Seq((1000L, 50L)).toDF("id", "key"), "key")
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // the loser aborted BEFORE any write: data and sidecar untouched
    assert(spark.read.parquet(s"$dir/data").count() == dataBefore)
    assert(ZoneMap.zoneStats(spark, dir).orderBy("zone").collect().toSeq ==
      sidecarBefore)

    aRelease.countDown()
    assert(aDone.await(60, TimeUnit.SECONDS))
    assert(aFailure.isEmpty, s"writer A failed: $aFailure")

    // serialized retry now succeeds and the sidecar reflects exactly
    // build + the one append
    ZoneMap.appendZoneMapped(spark, dir,
      Seq((1000L, 50L)).toDF("id", "key"), "key")
    assert(spark.read.parquet(s"$dir/data").count() == dataBefore + 1)
    val audit = ZoneMap.zoneMapAudit(spark, dir).head
    assert(audit.getAs[Long]("stat_mismatches") == 0L)
    assert(audit.getAs[Long]("misassigned") == 0L)
  }
}

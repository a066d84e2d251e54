package graft

import java.nio.file.Files

import graft.operators.StoreSegments

/** Torn reads of a store's log. Each commit publishes one immutable
  * entry with a put-if-absent, so a reader racing the commits must always
  * find the newest entry whole: never no entry (which would read as "no
  * store"), never a partly written one, never an older one after a newer.
  */
class StoreTornReadSpec extends SparkTestBase {

  test("the latest entry is never absent or partial to a concurrent reader") {
    val dir = Files.createTempDirectory("graft-log-race").toString
    val first = StoreSegments.Entry(0, 8, positions = false,
      Map("stats" -> Seq(StoreSegments.Seg("0-x"))))
    StoreSegments.write(spark, dir, None)(_ => Some(first))
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val committer = new Thread(() => {
      try (1 to 300).foreach { i =>
        val e = StoreSegments.latest(spark, dir)
        StoreSegments.write(spark, dir, Some(e))(_ =>
          Some(e.copy(buckets = i + 8)))
      } finally done.set(true)
    })
    committer.start()
    var probes, absent = 0
    var last = 0L
    while (!done.get()) {
      probes += 1
      // a partial entry fails to parse (its `end` line is missing)
      StoreSegments.latestOpt(spark, dir) match {
        case None => absent += 1
        case Some(e) =>
          assert(e.version >= last, s"version ${e.version} after $last")
          assert(e.buckets == e.version + 7, e.toString)
          last = e.version
      }
    }
    committer.join()
    assert(probes > 0 && absent == 0, s"absent in $absent of $probes probes")
    assert(StoreSegments.latest(spark, dir).version == 301L)
  }
}

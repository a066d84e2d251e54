package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sinks.ZoneMap

/** Zone-map store: exact zone assignment, sidecar fidelity, and the part
  * the q181/q182 oracles cannot see — that the range scan PRUNES, reading
  * only the zones whose [min, max] intersects the predicate.
  */
class ZoneMapSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private def store(keys: Seq[Long], zones: Int): String = {
    val dir = Files.createTempDirectory("graft-zm").toString
    val df = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("id", "key")
    ZoneMap.writeZoneMapped(df, dir, "key", zones)
    dir
  }

  test("zone assignment is the documented exact-integer rule; sidecar covers") {
    val dir = store(Seq(0L, 10L, 25L, 50L, 75L, 99L), zones = 4)
    val stats = ZoneMap.zoneStats(spark, dir)
      .orderBy("zone")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // span = 100, zones = 4: zone = min(3, key*4 div 100)
    assert(stats.toSeq == Seq(
      (0L, 0L, 10L, 2L), (1L, 25L, 25L, 1L), (2L, 50L, 50L, 1L),
      (3L, 75L, 99L, 2L)))
  }

  test("range scan returns exactly the filter's rows") {
    val keys = (0L until 200L).map(k => k * 3)
    val dir = store(keys, zones = 8)
    val got = ZoneMap.scanRange(spark, dir, "key", 100L, 250L)
      .select("key").as[Long].collect().sorted
    assert(got.toSeq == keys.filter(k => k >= 100 && k <= 250).sorted)
  }

  test("the scan is partition-pruned: only intersecting zone dirs are read") {
    val keys = (0L until 400L)
    val dir = store(keys, zones = 8)   // zone z covers [50z, 50z+49]
    val scan = ZoneMap.scanRange(spark, dir, "key", 100L, 140L)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(zone"), plan)
    // physical check: the predicate sits inside zone 2 only
    val files = scan.select(input_file_name()).distinct()
      .as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("zone=2")),
      files.mkString(","))
  }

  test("a predicate outside every zone reads nothing and returns nothing") {
    val dir = store(Seq(10L, 20L, 30L), zones = 2)
    val scan = ZoneMap.scanRange(spark, dir, "key", 500L, 600L)
    assert(scan.count() == 0)
  }

  test("single zone degenerates gracefully; constant key maps to zone 0") {
    val dir = store(Seq(7L, 7L, 7L), zones = 4)
    val stats = ZoneMap.zoneStats(spark, dir).collect()
    assert(stats.length == 1 && stats(0).getLong(0) == 0L)
    assert(ZoneMap.scanRange(spark, dir, "key", 0L, 100L).count() == 3)
  }

  test("null keys fail the write instead of silently vanishing from scans") {
    val dir = Files.createTempDirectory("graft-zm-null").toString
    val df = Seq(Some(1L), None, Some(3L)).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("id", "key")
    val e = intercept[Exception] {
      ZoneMap.writeZoneMapped(df, dir, "key", zones = 2)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("null key cannot")),
      chain(e).mkString(" | "))
  }

  test("a key span that would overflow exact assignment fails loudly") {
    val df = Seq((1L, Long.MinValue / 2), (2L, Long.MaxValue / 2))
      .toDF("id", "key")
    val dir = Files.createTempDirectory("graft-zm-ovf").toString
    val e = intercept[Exception] {
      ZoneMap.writeZoneMapped(df, dir, "key", zones = 4096)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
    assert(chain(e).exists(_.contains("overflows")), chain(e).mkString(" | "))
  }

  test("zones cap is enforced") {
    intercept[IllegalArgumentException] {
      ZoneMap.writeZoneMapped(Seq((1L, 1L)).toDF("id", "key"),
        "/tmp/never", "key", zones = ZoneMap.MaxZones + 1)
    }
  }

  test("append assigns against FROZEN bounds and merges the sidecar") {
    val dir = Files.createTempDirectory("graft-zm-app").toString
    // build bounds [0, 99], 4 zones of width 25
    ZoneMap.writeZoneMapped(
      Seq(0L, 40L, 99L).zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("id", "key"), dir, "key", zones = 4)
    // batch: in-range key 10 -> zone 0; out-of-range 250 clamps to zone 3
    ZoneMap.appendZoneMapped(spark,  dir,
      Seq((10L, 10L), (11L, 250L)).toDF("id", "key"), "key")
    val stats = ZoneMap.zoneStats(spark, dir).orderBy("zone").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stats.toSeq == Seq(
      (0L, 0L, 10L, 2L), (1L, 40L, 40L, 1L), (3L, 99L, 250L, 2L)))
    // the widened edge zone keeps the out-of-range key findable
    assert(ZoneMap.scanRange(spark, dir, "key", 200L, 300L)
      .select("key").as[Long].collect().toSeq == Seq(250L))
    // and a scan over everything sees build + batch rows
    assert(ZoneMap.scanRange(spark, dir, "key", 0L, 300L).count() == 5)
  }

  test("an empty (or all-null-key) build fails loudly, not with null _meta bounds") {
    val dir = Files.createTempDirectory("graft-zm-empty").toString
    val e = intercept[IllegalArgumentException] {
      ZoneMap.writeZoneMapped(
        Seq.empty[(Long, Long)].toDF("id", "key"), dir, "key", 4)
    }
    assert(e.getMessage.contains("empty input"), e.getMessage)
  }

  test("a far-out-of-range appended key clamps to the edge zone — never wraps interior") {
    // frozen bounds [0, 99], 4 zones; an appended key so large that the
    // UNCLAMPED numerator (key − minK) · zones would overflow a long must
    // land in the top edge zone (key clamps to maxK first), keep edge-zone
    // semantics, and stay findable + audit-clean
    val dir = store(Seq(0L, 10L, 25L, 50L, 75L, 99L), zones = 4)
    ZoneMap.appendZoneMapped(spark, dir,
      Seq((1000L, Long.MaxValue - 1L), (1001L, Long.MinValue + 1L))
        .toDF("id", "key"), "key")
    val zones = spark.read.parquet(s"$dir/data")
      .select(col("key").cast("long"), col("zone").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(zones(Long.MaxValue - 1L) == 3L)   // top edge zone (maxK's zone)
    assert(zones(Long.MinValue + 1L) == 0L)   // bottom edge zone
    val audit = ZoneMap.zoneMapAudit(spark, dir).head
    assert(audit.getAs[Long]("misassigned") == 0L)
    assert(audit.getAs[Long]("stat_mismatches") == 0L)
    // the widened edge zones keep the extreme keys findable
    assert(ZoneMap.scanRange(spark, dir, "key",
      Long.MaxValue - 2L, Long.MaxValue).count() == 1)
  }

  test("stale-sidecar corruption: audit detects, rebuildZoneSidecar heals, scan recovers") {
    // a verb commits its data and sidecar together, so the damage comes
    // from outside the store's verbs: a raw data file written into the
    // LIVE data segment behind the store's back. key 60 honestly belongs
    // to zone 2 (60·4 div 100) so assignment audits clean — only the
    // sidecar stats are stale.
    val dir = store(Seq(0L, 10L, 25L, 50L, 75L, 99L), zones = 4)
    val live = graft.operators.StoreSegments.latest(spark, dir)
      .segs("data").head.id
    Seq((100L, 60L, 2L)).toDF("id", "key", "zone")
      .write.mode("append").partitionBy("zone")
      .parquet(s"$dir/data/seg=$live")
    // the failure is REAL: zone 2's sidecar says [50, 50], so a scan for
    // the appended key prunes the zone and silently loses the live row
    assert(ZoneMap.scanRange(spark, dir, "key", 55L, 70L).count() == 0)
    val bad = ZoneMap.zoneMapAudit(spark, dir).head
    assert(bad.getAs[Long]("stat_mismatches") >= 1L)
    assert(bad.getAs[Long]("misassigned") == 0L)
    // the recovery loop: rebuild the sidecar from the data files (one
    // log commit)
    val v = graft.operators.StoreSegments.latest(spark, dir).version
    ZoneMap.rebuildZoneSidecar(spark, dir)
    assert(graft.operators.StoreSegments.latest(spark, dir).version == v + 1)
    val good = ZoneMap.zoneMapAudit(spark, dir).head
    assert(good.getAs[Long]("stat_mismatches") == 0L)
    assert(good.getAs[Long]("zone_mismatch") == 0L)
    assert(ZoneMap.scanRange(spark, dir, "key", 55L, 70L)
      .select("key").as[Long].collect().toSeq == Seq(60L))
  }

  test("append cost is ∝ batch: build files are not rewritten") {
    val dir = Files.createTempDirectory("graft-zm-appfiles").toString
    ZoneMap.writeZoneMapped(
      (0L until 100L).map(k => (k, k)).toDF("id", "key"), dir, "key", 4)
    def dataFiles = {
      val d = new java.io.File(s"$dir/data")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(d).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = dataFiles
    ZoneMap.appendZoneMapped(spark, dir,
      Seq((200L, 50L)).toDF("id", "key"), "key")
    val after = dataFiles
    // every pre-append file survives byte-identical (same mtime); the
    // append only ADDED files
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"build file rewritten: $p")
    }
    assert(after.size > before.size)
  }
}

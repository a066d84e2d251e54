package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.operators.{Similarity, StoreFs, StoreSegments}

/** Torn reads of a checksummed store file. The local FS keeps each file's
  * checksum in a `.<name>.crc` sibling and replaces the two in separate
  * renames, so a reader racing a manifest flip or a tombstone write can
  * verify one generation's bytes against the other's checksum. These tests
  * stage that window deterministically — a stale `.crc` that another
  * thread repairs while the reader waits to retry — and check that the
  * read retries through it, and that verification is still on when nobody
  * repairs it.
  */
class StoreTornReadSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs(n: Long) = (0L until n).map { i =>
    val base = Array.fill(4)(0.0); base((i % 3).toInt) = 1.0
    base(3) = 0.01 * i
    (i, base.toSeq)
  }.toDF("vec_id", "embedding")

  private val tombstoneSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType)))

  private def crcOf(file: Path): Path =
    file.resolveSibling(s".${file.getFileName}.crc")

  /** Replace `file`'s checksum with the checksum of other bytes of the same
    * length — what a reader sees between the data rename and the `.crc`
    * rename. Returns the correct checksum bytes for the repair.
    */
  private def staleCrc(file: Path): Array[Byte] = {
    val good = Files.readAllBytes(crcOf(file))
    val other = Files.createTempDirectory("graft-torn-other").resolve("x")
    val out = new org.apache.hadoop.fs.Path(other.toUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(new org.apache.hadoop.fs.Path(other.toUri))
    try out.write(Files.readAllBytes(file).map(b => (b ^ 0xff).toByte))
    finally out.close()
    Files.write(crcOf(file), Files.readAllBytes(crcOf(other)))
    good
  }

  /** A retry pause that, on the first retry, lets another thread restore
    * each file's `good` checksum and waits until it has.
    */
  private def repairOnFirstRetry(good: Seq[(Path, Array[Byte])],
                                 pauses: AtomicInteger): Int => Unit = {
    val retrying = new CountDownLatch(1)
    val repaired = new CountDownLatch(1)
    val repairer = new Thread(() => {
      retrying.await()
      good.foreach { case (f, crc) => Files.write(crcOf(f), crc) }
      repaired.countDown()
    })
    repairer.setDaemon(true)
    repairer.start()
    _ => {
      pauses.incrementAndGet()
      retrying.countDown()
      assert(repaired.await(30, TimeUnit.SECONDS), "repair never landed")
    }
  }

  private def isChecksumFailure(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[org.apache.hadoop.fs.ChecksumException] ||
      String.valueOf(t.getMessage).contains("ChecksumException") ||
      isChecksumFailure(t.getCause))

  test("a segment-manifest read that meets a stale .crc retries until it is repaired") {
    val dir = Files.createTempDirectory("graft-torn-manifest").toString
    Similarity.buildIvfIndex(vecs(30), "vec_id", "embedding", dir,
      centStep = 3)
    Similarity.deleteFromIvfIndex(spark, dir, Seq(1L).toDF("vec_id"),
      "vec_id")
    Similarity.compactIvfIndex(spark, dir)
    val manifest = Paths.get(dir, "_postings_manifest")
    assert(Files.exists(crcOf(manifest)))
    def read(pause: Int => Unit) =
      StoreSegments.read(spark, dir, "postings", "cell", pause = pause)
        .select("id").as[Long].collect().toSet
    val expected = read(StoreFs.retryPause)
    assert(expected == (0L until 30L).toSet - 1L)

    val good = Seq(manifest -> staleCrc(manifest))
    val pauses = new AtomicInteger
    assert(read(repairOnFirstRetry(good, pauses)) == expected)
    assert(pauses.get == 1)

    // nobody repairs it: the read fails loudly after the bound, never
    // falling back to the classic layout
    staleCrc(manifest)
    val unrepaired = new AtomicInteger
    val e = intercept[Throwable](read(_ => unrepaired.incrementAndGet()))
    assert(isChecksumFailure(e), e)
    assert(unrepaired.get == 4)
  }

  test("a tombstone read that meets a stale .crc retries, never reading it as 'no tombstones'") {
    val dir = Files.createTempDirectory("graft-torn-tomb").toString
    Similarity.buildIvfIndex(vecs(30), "vec_id", "embedding", dir,
      centStep = 3)
    Similarity.deleteFromIvfIndex(spark, dir, Seq(4L, 5L).toDF("vec_id"),
      "vec_id")
    val parts = Files.list(Paths.get(dir, "tombstones")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.nonEmpty)
    def read(pause: Int => Unit) =
      StoreFs.tombstoneIds(spark, s"$dir/tombstones", "id",
        schema = Some(tombstoneSchema), pause = pause)
        .map(_.as[Long].collect().toSet)
    assert(read(StoreFs.retryPause).contains(Set(4L, 5L)))

    val good = parts.map(p => p -> staleCrc(p))
    val pauses = new AtomicInteger
    assert(read(repairOnFirstRetry(good, pauses)).contains(Set(4L, 5L)))
    assert(pauses.get == 1)

    parts.foreach(staleCrc)
    val unrepaired = new AtomicInteger
    val e = intercept[Throwable](read(_ => unrepaired.incrementAndGet()))
    assert(isChecksumFailure(e), e)
    assert(unrepaired.get == 4)
  }

  test("a manifest flip never leaves the manifest absent to a concurrent reader") {
    // an absent manifest reads as "classic layout": the reader would scan
    // only the base directory and silently miss every segment
    val dst = Files.createTempDirectory("graft-flip").resolve("_m").toString
    StoreFs.writeFile(spark, dst, "v0")
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val flipper = new Thread(() => {
      try (1 to 300).foreach { i =>
        StoreFs.writeFile(spark, s"$dst.tmp", s"v$i")
        StoreFs.atomicReplaceFile(spark, s"$dst.tmp", dst)
      } finally done.set(true)
    })
    flipper.start()
    var probes, absent = 0
    while (!done.get()) {
      probes += 1
      if (!StoreFs.exists(spark, dst)) absent += 1
    }
    flipper.join()
    assert(probes > 0 && absent == 0, s"absent in $absent of $probes probes")
    assert(StoreFs.readFileUtf8(spark, dst) == "v300")
  }
}

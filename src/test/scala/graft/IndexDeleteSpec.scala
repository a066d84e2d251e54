package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, Similarity, TextAnalysis}

/** Deletion + compaction for the persisted stores: the file-level claims
  * the q131-q135 oracles can't see — compaction rewrites ONLY the
  * buckets/cells the tombstones touch, replayed deletes are no-ops, a
  * compaction with no tombstones is a no-op, and snapshot retention
  * removes exactly the doomed version directories.
  */
class IndexDeleteSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // doc 5 shares no terms with the others, so its postings live in its
  // own buckets and deleting doc 1 must leave doc 5's bucket files alone
  private def corpus = Seq(
    (0L, "spark hash window spark"),
    (1L, "spark window delete me"),
    (2L, "hash hash join"),
    (3L, ""), // token-less: counted in n_docs, no postings
    (5L, "zebra quokka xylophone")).toDF("doc_id", "text")

  private def listFiles(dir: String): Map[String, Long] = {
    val root = new java.io.File(dir)
    if (!root.exists()) Map.empty
    else {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
  }

  test("text index: delete is tombstone-only; compaction rewrites only affected buckets") {
    val dir = tmp("graft-tidel")
    TextAnalysis.buildTextIndex(corpus, "doc_id", "text", dir, buckets = 8)
    val before = listFiles(s"$dir/postings")
    TextAnalysis.deleteFromTextIndex(spark, dir,
      Seq(1L, 3L).toDF("doc_id"), "doc_id", buckets = 8)
    // delete appended tombstones + negative rows, touched no postings file
    assert(listFiles(s"$dir/postings") == before)
    assert(new java.io.File(s"$dir/tombstones").exists())
    // doc 1 invisible; token-less doc 3's deletion shrank n_docs (idf shifts)
    val hits = TextAnalysis.searchTextIndex(spark, dir,
      Seq("spark", "window", "zebra"), buckets = 8, k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(0L, 5L), hits.toString)

    // compaction: only the buckets doc 1 / doc 3 touched get rewritten —
    // doc 5's zebra/quokka/xylophone buckets keep their exact files
    val deletedBuckets = spark.read.parquet(s"$dir/tombstones")
      .filter(col("bucket") >= 0).select("bucket").as[Int].collect().toSet
    TextAnalysis.compactTextIndex(spark, dir, buckets = 8)
    val after = listFiles(s"$dir/postings")
    assert(!new java.io.File(s"$dir/tombstones").exists())
    before.foreach { case (path, mtime) =>
      val b = "bucket=(\\d+)".r.findFirstMatchIn(path).get.group(1).toInt
      if (!deletedBuckets.contains(b))
        assert(after.get(path).contains(mtime), s"untouched bucket $b rewritten: $path")
    }
    // post-compaction search answers identically with no tombstones left
    val hits2 = TextAnalysis.searchTextIndex(spark, dir,
      Seq("spark", "window", "zebra"), buckets = 8, k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits2 == Set(0L, 5L), hits2.toString)
  }

  test("text index: replayed/absent deletes are no-ops; empty compaction is a no-op") {
    val dir = tmp("graft-tidem")
    TextAnalysis.buildTextIndex(corpus, "doc_id", "text", dir, buckets = 8)
    TextAnalysis.deleteFromTextIndex(spark, dir, Seq(1L).toDF("doc_id"), "doc_id", 8)
    val statsAfterOne = spark.read.parquet(s"$dir/stats")
      .agg(sum("n_docs"), sum("sum_dl")).collect()(0)
    // replay the same delete + delete an id the index never had
    TextAnalysis.deleteFromTextIndex(spark, dir, Seq(1L, 99L).toDF("doc_id"), "doc_id", 8)
    val statsAfterTwo = spark.read.parquet(s"$dir/stats")
      .agg(sum("n_docs"), sum("sum_dl")).collect()(0)
    assert(statsAfterOne == statsAfterTwo) // no double-subtraction
    val preCompact = listFiles(dir)
    TextAnalysis.compactTextIndex(spark, dir, buckets = 8)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    // compacting again with no tombstones touches nothing
    val postCompact = listFiles(dir)
    TextAnalysis.compactTextIndex(spark, dir, buckets = 8)
    assert(listFiles(dir) == postCompact)
    assert(preCompact != postCompact) // the first compaction did work
  }

  test("ivf index: delete tombstones, compaction rewrites only affected cells") {
    val dir = tmp("graft-ivfdel")
    // 3 well-separated directions so the codebook yields distinct cells
    val vecs = (0L until 30L).map { i =>
      val base = Array.fill(4)(0.0); base((i % 3).toInt) = 1.0
      base(3) = 0.01 * i
      (i, base.toSeq)
    }.toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", dir, centStep = 3)
    val before = listFiles(s"$dir/postings")
    Similarity.deleteFromIvfIndex(spark, dir, Seq(0L, 3L).toDF("vec_id"), "vec_id")
    assert(listFiles(s"$dir/postings") == before) // tombstone-only
    val deletedCells = spark.read.parquet(s"$dir/tombstones")
      .select("cell").as[Long].collect().toSet
    val found = Similarity.searchIvfIndex(spark, dir,
      vecs.filter(col("vec_id") === 6L), "vec_id", "embedding", k = 30, nprobe = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!found.contains(0L) && !found.contains(3L))
    Similarity.compactIvfIndex(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val after = listFiles(s"$dir/postings")
    before.foreach { case (path, mtime) =>
      val c = "cell=(\\d+)".r.findFirstMatchIn(path).get.group(1).toLong
      if (!deletedCells.contains(c))
        assert(after.get(path).contains(mtime), s"untouched cell $c rewritten: $path")
    }
    val found2 = Similarity.searchIvfIndex(spark, dir,
      vecs.filter(col("vec_id") === 6L), "vec_id", "embedding", k = 30, nprobe = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(found2 == found) // compaction changed files, not answers
  }

  test("ivf-pq store: delete tombstones, compaction rewrites only affected cells, codes survive") {
    val dir = tmp("graft-ivfpqdel")
    val vecs = (0L until 32L).map { i =>
      val base = Array.fill(4)(0.0); base((i % 3).toInt) = 1.0
      base(3) = 0.01 * i
      (i, base.toSeq)
    }.toDF("vec_id", "embedding")
    Similarity.buildIvfPqIndex(vecs, "vec_id", "embedding", dir,
      m = 2, ksub = 4, ivfStep = 3, pqStep = 5)
    val before = listFiles(s"$dir/postings")
    Similarity.deleteFromIvfPqIndex(spark, dir,
      Seq(0L, 3L).toDF("vec_id"), "vec_id")
    assert(listFiles(s"$dir/postings") == before) // tombstone-only
    val deletedCells = spark.read.parquet(s"$dir/tombstones")
      .select("cell").as[Long].collect().toSet
    val found = Similarity.searchIvfPqIndex(spark, dir,
      vecs.filter(col("vec_id") === 6L), "vec_id", "embedding",
      k = 30, nprobe = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!found.contains(0L) && !found.contains(3L))
    Similarity.compactIvfPqIndex(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val after = listFiles(s"$dir/postings")
    before.foreach { case (path, mtime) =>
      val c = "cell=(\\d+)".r.findFirstMatchIn(path).get.group(1).toLong
      if (!deletedCells.contains(c))
        assert(after.get(path).contains(mtime), s"untouched cell $c rewritten: $path")
    }
    // compaction copied the 4-byte code words opaquely: answers identical
    val found2 = Similarity.searchIvfPqIndex(spark, dir,
      vecs.filter(col("vec_id") === 6L), "vec_id", "embedding",
      k = 30, nprobe = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(found2 == found)
    // and the surviving postings still carry (id, code_word, cell)
    val cols = graft.operators.StoreSegments.read(spark, dir, "postings",
      "cell").columns.toSet
    assert(cols == Set("id", "code_word", "cell"))
  }

  test("snapshot retention: prune removes exactly the doomed version dirs") {
    val root = tmp("graft-snapret")
    val df = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    Curation.writeSnapshot(df, root, 0L)
    Curation.writeSnapshot(df, root, 1L)
    Curation.writeSnapshot(df, root, 2L)
    assert(Curation.pruneSnapshots(root, keepLast = 2) == Seq(0L))
    assert(Curation.snapshotVersions(root) == Seq(1L, 2L))
    assert(!Curation.deleteSnapshotVersion(root, 0L)) // already gone
    assert(Curation.deleteSnapshotVersion(root, 1L))
    assert(Curation.snapshotVersions(root) == Seq(2L))
    // keepLast larger than history: nothing pruned
    assert(Curation.pruneSnapshots(root, keepLast = 5).isEmpty)
  }

  test("phrase search: trigrams, repeated terms, overlaps, tombstone interplay") {
    val dir = tmp("graft-phrase")
    val docs = Seq(
      (1L, "hash table scan beats full table scan"),
      (2L, "a b a b a"),             // "a b a": overlapping at 0 and 2
      (3L, "hash join and table"),   // terms present, phrase absent
      (4L, "hash table scan")).toDF("doc_id", "text")
    TextAnalysis.buildTextIndex(docs, "doc_id", "text", dir, buckets = 8,
      withPositions = true)
    def hits(phrase: String*): Map[Long, Long] =
      TextAnalysis.phraseSearchIndex(spark, dir, phrase, buckets = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits("hash", "table", "scan") == Map(1L -> 1L, 4L -> 1L))
    assert(hits("table", "scan") == Map(1L -> 2L, 4L -> 1L))
    assert(hits("a", "b", "a") == Map(2L -> 2L)) // overlapping occurrences count
    assert(hits("hash") == Map(1L -> 1L, 3L -> 1L, 4L -> 1L)) // single term
    assert(hits("scan", "hash").isEmpty) // order matters
    // tombstoned docs disappear from phrase results too
    TextAnalysis.deleteFromTextIndex(spark, dir, Seq(1L).toDF("doc_id"), "doc_id", 8)
    assert(hits("hash", "table", "scan") == Map(4L -> 1L))
    // and COMPACTION physically purges their position rows — the deleted
    // doc must not resurface once the tombstones are cleared
    TextAnalysis.compactTextIndex(spark, dir, buckets = 8)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(hits("hash", "table", "scan") == Map(4L -> 1L))
    assert(hits("table", "scan") == Map(4L -> 1L))
  }

  test("fused deleteAndCompact ≡ delete-then-compact: text index, " +
      "including prior tombstones, token-less docs and positions") {
    def hash(dir: String): Seq[String] =
      TextAnalysis.searchTextIndex(spark, dir,
        Seq("spark", "window", "zebra", "hash"), buckets = 8, k = 10)
        .orderBy(col("bm25_micro").desc, col("doc_id"))
        .collect().map(_.toString).toSeq
    // through the segment manifest — a raw base-dir read would see stale
    // superseded files awaiting the next verb's GC
    def stats(dir: String): (Long, Long) = {
      val r = graft.operators.StoreSegments.read(spark, dir, "stats", "")
        .agg(sum("n_docs"), sum("sum_dl")).head()
      (r.getLong(0), r.getLong(1))
    }
    val big = corpus.unionByName(
      Seq((7L, "window join scan"), (9L, "spark zebra")).toDF("doc_id", "text"))
    val a = tmp("graft-fused-a"); val b = tmp("graft-fused-b")
    Seq(a, b).foreach { d =>
      TextAnalysis.buildTextIndex(big, "doc_id", "text", d, buckets = 8,
        withPositions = true)
      // a PRIOR un-drained delete leaves old tombstones both paths must
      // also drain
      TextAnalysis.deleteFromTextIndex(spark, d, Seq(2L).toDF("doc_id"),
        "doc_id", buckets = 8)
    }
    // delete set: a changed-style mix with a token-less doc (3), an
    // absent id (42), and an already-tombstoned id (2 — must not
    // double-subtract stats)
    val del = Seq(1L, 3L, 42L, 2L).toDF("doc_id")
    TextAnalysis.deleteFromTextIndex(spark, a, del, "doc_id", buckets = 8)
    TextAnalysis.compactTextIndex(spark, a, buckets = 8)
    TextAnalysis.deleteAndCompactTextIndex(spark, b, del, "doc_id",
      buckets = 8)
    spark.catalog.clearCache()
    assert(!new java.io.File(s"$b/tombstones").exists())
    assert(hash(a) == hash(b))
    assert(stats(a) == stats(b))
    // the physical row sets match component-for-component
    Seq("postings" -> "bucket", "terms" -> "bucket", "docs" -> "dbucket",
        "positions" -> "bucket").foreach { case (comp, key) =>
      val ra = graft.operators.StoreSegments.read(spark, a, comp, key)
        .collect().map(_.toString).sorted.toSeq
      val rb = graft.operators.StoreSegments.read(spark, b, comp, key)
        .collect().map(_.toString).sorted.toSeq
      assert(ra == rb, s"$comp differs")
    }
  }

  test("fused deleteAndCompact ≡ delete-then-compact: ivf index") {
    val vecs = (0L to 40L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7 + j).abs + 0.1)))
      .toDF("vec_id", "embedding")
    val a = tmp("graft-fivf-a"); val b = tmp("graft-fivf-b")
    Seq(a, b).foreach { d =>
      Similarity.buildIvfIndex(vecs, "vec_id", "embedding", d, centStep = 10)
      Similarity.deleteFromIvfIndex(spark, d, Seq(4L).toDF("vec_id"),
        "vec_id")
    }
    val del = Seq(7L, 13L, 4L, 99L).toDF("vec_id")
    Similarity.deleteFromIvfIndex(spark, a, del, "vec_id")
    Similarity.compactIvfIndex(spark, a)
    Similarity.deleteAndCompactIvfIndex(spark, b, del, "vec_id")
    spark.catalog.clearCache()
    assert(!new java.io.File(s"$b/tombstones").exists())
    val q = vecs.filter(col("vec_id") < 3)
    def res(d: String) = Similarity.searchIvfIndex(spark, d, q,
      "vec_id", "embedding", k = 3, nprobe = 2)
      .orderBy("query_id", "neighbor_id").collect().map(_.toString).toSeq
    assert(res(a) == res(b))
    val pa = graft.operators.StoreSegments.read(spark, a, "postings", "cell")
      .collect().map(_.toString).sorted.toSeq
    val pb = graft.operators.StoreSegments.read(spark, b, "postings", "cell")
      .collect().map(_.toString).sorted.toSeq
    assert(pa == pb)
  }

  test("decontaminate emitText returns the stitched survivor text") {
    val docs = Seq((1L, "alpha beta gamma delta eval leak here now end one two")).toDF("doc_id", "text")
    val eval = Seq(("eval leak here now", 1)).toDF("text", "x")
    val out = Dedup.decontaminate(docs, "doc_id", "text", eval, "text",
      n = 3, window = 4, emitText = true).collect()(0)
    // windows: [alpha beta gamma delta][eval leak here now][end one two]
    assert(out.getAs[Long]("n_paras") == 3 && out.getAs[Long]("n_kept") == 2)
    assert(out.getAs[String]("kept_text") == "alpha beta gamma delta end one two")
    // and the digest is the md5 of exactly that text
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(out.getAs[String]("kept_text").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(out.getAs[String]("kept_fp") == fp)
  }
}

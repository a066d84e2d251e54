package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, StoreSegments, TextAnalysis}

/** The fused delete+compact and the delete-then-compact composition are
  * ONE drain; this pins them equal on the branches where a delete set
  * resolves to nothing new — where the two paths used to leave through
  * different early returns — for every store family.
  */
class TombstonesSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every file under `root` with its size and modification time. */
  private def tree(root: String): Map[String, (Long, Long)] = {
    val dir = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString ->
        (java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis))
      .toMap
    finally walk.close()
  }

  private final class Fam(val name: String, val build: String => Unit,
                          val delete: (String, Seq[Long]) => Unit,
                          val compact: String => Unit,
                          val fused: (String, Seq[Long]) => Unit,
                          val search: String => Seq[String],
                          val comps: Seq[(String, String)])

  private val text = {
    val corpus = Seq((0L, "spark hash window spark"),
      (1L, "spark window delete me"), (2L, "hash hash join"),
      (3L, ""), (5L, "zebra quokka xylophone"), (7L, "window join scan"))
      .toDF("doc_id", "text")
    def ids(xs: Seq[Long]) = xs.toDF("doc_id")
    new Fam("text",
      d => TextAnalysis.buildTextIndex(corpus, "doc_id", "text", d,
        buckets = 8, withPositions = true),
      (d, xs) => TextAnalysis.deleteFromTextIndex(spark, d, ids(xs),
        "doc_id", buckets = 8),
      d => TextAnalysis.compactTextIndex(spark, d, buckets = 8),
      (d, xs) => TextAnalysis.deleteAndCompactTextIndex(spark, d, ids(xs),
        "doc_id", buckets = 8),
      d => TextAnalysis.searchTextIndex(spark, d,
          Seq("spark", "window", "zebra", "hash", "join"), buckets = 8,
          k = 10)
        .orderBy(col("bm25_micro").desc, col("doc_id"))
        .collect().map(_.toString).toSeq,
      Seq("stats" -> "", "terms" -> "bucket", "postings" -> "bucket",
        "docs" -> "dbucket", "positions" -> "bucket"))
  }

  private def vector(pq: Boolean) = {
    val vecs = (0L to 40L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7 + j).abs + 0.1)))
      .toDF("vec_id", "embedding")
    def ids(xs: Seq[Long]) = xs.toDF("vec_id")
    val queries = vecs.filter(col("vec_id") < 3)
    new Fam(if (pq) "ivfpq" else "ivf",
      d =>
        if (pq) Similarity.buildIvfPqIndex(vecs, "vec_id", "embedding", d,
          m = 2, ksub = 4, ivfStep = 10, pqStep = 5)
        else Similarity.buildIvfIndex(vecs, "vec_id", "embedding", d,
          centStep = 10),
      (d, xs) =>
        if (pq) Similarity.deleteFromIvfPqIndex(spark, d, ids(xs), "vec_id")
        else Similarity.deleteFromIvfIndex(spark, d, ids(xs), "vec_id"),
      d =>
        if (pq) Similarity.compactIvfPqIndex(spark, d)
        else Similarity.compactIvfIndex(spark, d),
      (d, xs) =>
        if (pq) Similarity.deleteAndCompactIvfPqIndex(spark, d, ids(xs),
          "vec_id")
        else Similarity.deleteAndCompactIvfIndex(spark, d, ids(xs),
          "vec_id"),
      d =>
        (if (pq) Similarity.searchIvfPqIndex(spark, d, queries, "vec_id",
          "embedding", k = 5, nprobe = 2)
        else Similarity.searchIvfIndex(spark, d, queries, "vec_id",
          "embedding", k = 5, nprobe = 2))
          .collect().map(_.toString).sorted.toSeq,
      Seq("postings" -> "cell"))
  }

  // (case, ids tombstoned beforehand, delete set)
  private val cases = Seq(
    ("every id absent, prior tombstones", Seq(2L, 3L), Seq(42L, 99L)),
    ("every id already tombstoned", Seq(2L, 7L), Seq(2L, 7L)),
    ("empty delete set, no tombstones", Seq.empty[Long], Seq.empty[Long]))

  test("fused delete+compact ≡ delete-then-compact where the delete " +
      "resolves nothing new: text (positions), IVF, IVF-PQ") {
    for (f <- Seq(text, vector(pq = false), vector(pq = true));
         (name, prior, del) <- cases) {
      val clue = s"${f.name}: $name"
      val a = tmp(s"graft-tomb-${f.name}-a")
      val b = tmp(s"graft-tomb-${f.name}-b")
      Seq(a, b).foreach { d =>
        f.build(d)
        if (prior.nonEmpty) f.delete(d, prior)
      }
      val before = Seq(a, b).map(tree)
      f.delete(a, del)
      f.compact(a)
      f.fused(b, del)
      spark.catalog.clearCache()
      Seq(a, b).foreach(d => assert(
        !new java.io.File(s"$d/tombstones").exists(), clue))
      assert(f.search(a) == f.search(b), clue)
      f.comps.foreach { case (comp, key) =>
        def rows(d: String) = StoreSegments.read(spark, d, comp, key)
          .collect().map(_.toString).sorted.toSeq
        assert(rows(a) == rows(b), s"$clue: $comp differs")
      }
      if (prior.isEmpty)
        assert(Seq(a, b).map(tree) == before, s"$clue: file tree changed")
    }
  }
}

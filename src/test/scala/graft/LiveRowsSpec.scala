package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, StoreFs, TextAnalysis}

/** What a search sees of a store: tombstoned ids hidden by a
  * driver-constant filter with the broadcast anti-join's semantics, and an
  * in-place rebuild that starts from no tombstones.
  */
class LiveRowsSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A byte copy of the store at a fresh path: no memo entry names it. */
  private def copyOf(root: String): String = {
    val src = java.nio.file.Paths.get(root)
    val dst = java.nio.file.Paths.get(tmp("graft-live-copy"))
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.toSeq.foreach { f =>
      val to = dst.resolve(src.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(f, to)
    } finally walk.close()
    dst.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("the tombstone filter hides what the anti-join hid and keeps " +
      "null ids, for every integral id type") {
    val base = (Seq[Option[Long]](None) ++ (0L until 30L).map(Some(_)))
      .toDF("id").withColumn("payload", coalesce(col("id"), lit(-1L)) * 10)
    // a short list stays an IN list; past ten ids the optimizer turns it
    // into an InSet; 99 and -5 match nothing
    val idSets = Seq(Seq(3L, 4L, 99L), (0L until 24L by 2) :+ -5L)
    for (t <- Seq("byte", "short", "int", "long", "decimal(12,0)");
         ids <- idSets) {
      val df = base.withColumn("id", col("id").cast(t))
      val joined = df.join(broadcast(ids.toDF("id")), Seq("id"), "left_anti")
      val filtered = StoreFs.hideIds(df, "id", ids)
      assert(rows(filtered) == rows(joined), s"$t, ${ids.size} ids")
      assert(filtered.filter(col("id").isNull).count() == 1L, t)
      assert(filtered.filter(col("id").isin(ids: _*)).isEmpty, t)
    }
    assert(StoreFs.hideIds(base, "id", Nil) eq base)
  }

  private val words = Seq("spark", "hash", "window", "join", "zebra", "scan")

  private def docs(ids: Seq[Long]) = ids.map(i => (i,
    Seq.tabulate((i % 4 + 2).toInt)(j => words(((i * 7 + j * 3) % 6).toInt))
      .mkString(" "))).toDF("doc_id", "text")

  private def vecs(ids: Seq[Long]) = ids.map(i =>
    (i, Array.tabulate(8)(j => math.sin(i * 7 + j).abs + 0.1)))
    .toDF("vec_id", "embedding")

  test("a tombstoned text store answers like its compaction, for int and " +
      "long doc ids and with a null-id doc, filtered or not") {
    val terms = Seq("spark", "window", "zebra")
    for (t <- Seq("int", "long")) {
      val corpus = docs(0L until 24L)
        .withColumn("doc_id", col("doc_id").cast(t))
        .unionByName(Seq((None: Option[Long], "spark zebra zebra")).toDF(
          "doc_id", "text").withColumn("doc_id", col("doc_id").cast(t)))
      val d = tmp(s"graft-live-text-$t")
      TextAnalysis.buildTextIndex(corpus, "doc_id", "text", d, buckets = 4)
      TextAnalysis.deleteFromTextIndex(spark, d,
        Seq(3L, 4L, 9L).toDF("doc_id").withColumn("doc_id",
          col("doc_id").cast(t)), "doc_id", buckets = 4)
      val allowed = (0L until 24L by 3).toDF("doc_id")
      def answers(dir: String) = Seq(
        rows(TextAnalysis.searchTextIndex(spark, dir, terms, k = 50,
          buckets = 4)),
        rows(TextAnalysis.searchTextIndexFiltered(spark, dir, terms,
          allowed, k = 50, buckets = 4)))
      val live = answers(d)
      val compacted = copyOf(d)
      TextAnalysis.compactTextIndex(spark, compacted, buckets = 4)
      assert(live == answers(compacted), t)
      assert(live.head.exists(_.startsWith("[null,")), s"$t: ${live.head}")
      assert(!live.head.exists(r => Seq("[3,", "[4,", "[9,")
        .exists(r.startsWith)), t)
    }
  }

  test("tombstoned IVF and IVF-PQ stores answer like their compaction, " +
      "filtered or not, through Scala and SQL") {
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val queries = vecs(Seq(1L, 2L, 20L))
    val qPath = s"${tmp("graft-live-q")}/q"
    queries.write.parquet(qPath)
    vecs(0L until 40L by 2).select(col("vec_id").as("id"))
      .createOrReplaceTempView("live_rows_allowed")
    val allowed = spark.table("live_rows_allowed")
    for (pq <- Seq(false, true)) {
      val d = tmp("graft-live-vec")
      if (pq) Similarity.buildIvfPqIndex(vecs(0L until 40L), "vec_id",
        "embedding", d, m = 2, ksub = 4, ivfStep = 10, pqStep = 3)
      else Similarity.buildIvfIndex(vecs(0L until 40L), "vec_id",
        "embedding", d, centStep = 10)
      Similarity.deleteFromIvfIndex(spark, d,
        Seq(4L, 6L, 8L, 11L).toDF("vec_id"), "vec_id")
      def answers(dir: String): Seq[Seq[String]] =
        if (pq) Seq(
          rows(Similarity.searchIvfPqIndex(spark, dir, queries, "vec_id",
            "embedding", k = 8, nprobe = 3)),
          rows(Similarity.searchIvfPqIndexFiltered(spark, dir, queries,
            "vec_id", "embedding", allowed, k = 8, nprobe = 3)),
          rows(spark.sql(s"SELECT * FROM graft_ivfpq_filtered('$dir', " +
            s"'$qPath', 8, 3, 'live_rows_allowed')")))
        else Seq(
          rows(Similarity.searchIvfIndex(spark, dir, queries, "vec_id",
            "embedding", k = 8, nprobe = 3)),
          rows(Similarity.searchIvfIndexFiltered(spark, dir, queries,
            "vec_id", "embedding", allowed, k = 8, nprobe = 3)))
      val live = answers(d)
      val compacted = copyOf(d)
      Similarity.compactIvfIndex(spark, compacted)
      assert(live == answers(compacted), if (pq) "ivfpq" else "ivf")
      assert(live.forall(_.nonEmpty))
      assert(!live.flatten.exists(r => Seq(4, 6, 8, 11)
        .exists(i => r.contains(s",$i,"))))
    }
  }

  test("an in-place rebuild after a delete equals a fresh build: no " +
      "tombstone survives it, warm or cold, and the audits pass") {
    val terms = Seq("spark", "window", "zebra", "hash")
    val t = tmp("graft-rebuild-text")
    TextAnalysis.buildTextIndex(docs(0L until 40L), "doc_id", "text", t,
      buckets = 8)
    TextAnalysis.deleteFromTextIndex(spark, t, Seq(3L, 4L).toDF("doc_id"),
      "doc_id", buckets = 8)
    def textSearch(dir: String) = rows(TextAnalysis.searchTextIndex(spark,
      dir, terms, k = 50, buckets = 8))
    textSearch(t) // warms the memo with the tombstones
    TextAnalysis.buildTextIndex(docs(0L until 40L), "doc_id", "text", t,
      buckets = 8)
    val fresh = tmp("graft-rebuild-text-fresh")
    TextAnalysis.buildTextIndex(docs(0L until 40L), "doc_id", "text", fresh,
      buckets = 8)
    assert(textSearch(t) == textSearch(fresh))
    assert(textSearch(copyOf(t)) == textSearch(fresh))
    val audit = TextAnalysis.textIndexAudit(spark, t).head
    assert(audit.getAs[Long]("n_docs") == 40L)
    assert(audit.getAs[Boolean]("stats_docs_match"))
    assert(audit.getAs[Boolean]("stats_dl_match"))
    assert(audit.getAs[Long]("n_df_mismatch") == 0L)
    assert(audit.getAs[Long]("n_tombstones") == 0L)

    for (pq <- Seq(false, true)) {
      val queries = vecs(Seq(2L, 3L, 4L))
      def build(dir: String) =
        if (pq) Similarity.buildIvfPqIndex(vecs(0L until 40L), "vec_id",
          "embedding", dir, m = 2, ksub = 4, ivfStep = 10, pqStep = 3)
        else Similarity.buildIvfIndex(vecs(0L until 40L), "vec_id",
          "embedding", dir, centStep = 10)
      def search(dir: String) = rows(
        if (pq) Similarity.searchIvfPqIndex(spark, dir, queries, "vec_id",
          "embedding", k = 40, nprobe = 4)
        else Similarity.searchIvfIndex(spark, dir, queries, "vec_id",
          "embedding", k = 40, nprobe = 4))
      val v = tmp("graft-rebuild-vec")
      build(v)
      Similarity.deleteFromIvfIndex(spark, v, Seq(3L, 4L).toDF("vec_id"),
        "vec_id")
      search(v)
      build(v)
      val f = tmp("graft-rebuild-vec-fresh")
      build(f)
      assert(search(v) == search(f))
      assert(search(copyOf(v)) == search(f))
      assert(search(v).exists(_.contains(",3,")))
      val a = Similarity.ivfIndexAudit(spark, v).head
      assert(a.getAs[Long]("n_vectors") == 40L)
      assert(a.getAs[Long]("n_dup_ids") == 0L)
      assert(a.getAs[Long]("n_orphan_cells") == 0L)
      assert(a.getAs[Long]("n_tombstones") == 0L)
    }
  }
}

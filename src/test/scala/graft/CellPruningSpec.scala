package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
import org.apache.spark.sql.execution.{FileSourceScanExec, InSubqueryExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField,
  StructType}

import graft.operators.{Similarity, StoreSegments}

/** A store-backed vector search reads only its probed cells: the probe
  * broadcast doubles as the dynamic-pruning filter of the postings' `cell=`
  * scan. Pinned on IVF and IVF-PQ stores of 12 cells with an appended
  * segment and live tombstones, for the four Scala searches and the three
  * SQL table functions over them, by the scan's own files-read metrics
  * against the probed cells' files, and against the same search with
  * dynamic pruning switched off.
  */
class CellPruningSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import TestSpark.spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def vecs(ids: Seq[Long]) = ids.map(i =>
    (i, Array.tabulate(8)(j => math.sin(i * 7 + j).abs + 0.1)))
    .toDF("vec_id", "embedding")

  private val dead = Seq(3L, 4L, 61L)
  private val queryIds = Seq(1L, 2L, 63L)
  private val nprobe = 2

  /** Each store built over ids 0..59 (centroids every 5th id: 12 cells),
    * 60..79 appended as a second segment, `dead` deleted with the
    * tombstones left in place.
    */
  private lazy val stores: Map[String, String] = {
    val ivf = tmp("graft-prune-ivf")
    Similarity.buildIvfIndex(vecs(0L until 60L), "vec_id", "embedding", ivf,
      centStep = 5)
    Similarity.appendIvfIndex(spark, ivf, vecs(60L until 80L), "vec_id",
      "embedding")
    Similarity.deleteFromIvfIndex(spark, ivf, dead.toDF("vec_id"), "vec_id")
    val pq = tmp("graft-prune-ivfpq")
    Similarity.buildIvfPqIndex(vecs(0L until 60L), "vec_id", "embedding", pq,
      m = 2, ksub = 4, ivfStep = 5, pqStep = 3)
    Similarity.appendIvfPqIndex(spark, pq, vecs(60L until 80L), "vec_id",
      "embedding")
    Similarity.deleteFromIvfPqIndex(spark, pq, dead.toDF("vec_id"), "vec_id")
    val queries = s"${tmp("graft-prune-q")}/q"
    vecs(queryIds).write.parquet(queries)
    (0L until 80L by 3).toDF("vec_id").createOrReplaceTempView("prune_allowed")
    Map("ivf" -> ivf, "ivfpq" -> pq, "queries" -> queries)
  }

  /** (search, store, most jobs its collect may submit, the frame at
    * `nprobe`). The unfiltered bounds are SearchJobsSpec's; the filtered
    * ones are the unpruned plan's count on this fixture (the unhinted
    * eligibility join adds its own stages).
    */
  private lazy val cases: Seq[(String, String, Int, Int => DataFrame)] = {
    val (ivf, pq, q) = (stores("ivf"), stores("ivfpq"), stores("queries"))
    def queries = spark.read.parquet(q)
    def allowed = (0L until 80L by 3).toDF("vec_id")
    Seq(
      ("searchIvfIndex", ivf, 3, (n: Int) => Similarity.searchIvfIndex(spark,
        ivf, queries, "vec_id", "embedding", k = 5, nprobe = n)),
      ("searchIvfIndexFiltered", ivf, 5, (n: Int) =>
        Similarity.searchIvfIndexFiltered(spark, ivf, queries, "vec_id",
          "embedding", allowed, k = 5, nprobe = n)),
      ("searchIvfPqIndex", pq, 4, (n: Int) => Similarity.searchIvfPqIndex(
        spark, pq, queries, "vec_id", "embedding", k = 5, nprobe = n)),
      ("searchIvfPqIndexFiltered", pq, 5, (n: Int) =>
        Similarity.searchIvfPqIndexFiltered(spark, pq, queries, "vec_id",
          "embedding", allowed, k = 5, nprobe = n)),
      ("graft_ivf_search", ivf, 3, (n: Int) => spark.sql(
        s"SELECT * FROM graft_ivf_search('$ivf', '$q', 5, $n)")),
      ("graft_ivfpq_search", pq, 4, (n: Int) => spark.sql(
        s"SELECT * FROM graft_ivfpq_search('$pq', '$q', 5, $n)")),
      ("graft_ivfpq_filtered", pq, 5, (n: Int) => spark.sql(
        s"SELECT * FROM graft_ivfpq_filtered('$pq', '$q', 5, $n, 'prune_allowed')")))
  }

  /** The number of Spark jobs `body` submits. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The cells the queries probe, ranked on the driver from the store's
    * codebook: each query's `nprobe` best (cosine desc, cid asc).
    */
  private def probedCells(dir: String, n: Int): Set[Long] = {
    val e = StoreSegments.latest(spark, dir)
    val cents = StoreSegments.scan(spark, dir, e, "centroids", "",
        StructType(Seq(StructField("cid", LongType),
          StructField("cv", ArrayType(DoubleType))))).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qs = vecs(queryIds).collect()
      .map(r => r.getSeq[Double](1).toArray)
    qs.flatMap(qv => cents.sortBy { case (cid, cv) => (-cosine(qv, cv), cid) }
      .take(n).map(_._1)).toSet
  }

  /** The live postings files of `cells` (all cells when None), with sizes. */
  private def postingsFiles(dir: String, cells: Option[Set[Long]])
      : Seq[(String, Long)] = {
    val e = StoreSegments.latest(spark, dir)
    e.segs("postings").flatMap { s =>
      val seg = java.nio.file.Paths.get(s"$dir/postings/seg=${s.id}")
      val walk = java.nio.file.Files.walk(seg)
      try walk.iterator().asScala.toSeq.filter { f =>
        val name = f.getFileName.toString
        val cell = f.getParent.getFileName.toString.stripPrefix("cell=")
          .toLongOption
        java.nio.file.Files.isRegularFile(f) && !name.startsWith(".") &&
          !name.startsWith("_") && cell.exists(c =>
            !s.excluded.contains(c) && cells.forall(_.contains(c)))
      }.map(f => (f.toString, java.nio.file.Files.size(f)))
      finally walk.close()
    }
  }

  /** The executed postings scan of `df` (after a collect). */
  private def postingsScan(df: DataFrame): FileSourceScanExec = {
    val scans = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("/postings"))
        => s
    }
    assert(scans.size == 1, s"one postings scan expected: $scans")
    scans.head
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("each vector search reads only its probed cells' files, through a " +
      "dynamic-pruning filter that reuses the probe broadcast") {
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val report = cases.map { case (name, dir, most, search) =>
      sorted(search(nprobe)) // warm the frozen-model memo
      val probed = probedCells(dir, nprobe)
      val expected = postingsFiles(dir, Some(probed))
      val all = postingsFiles(dir, None)
      assert(expected.nonEmpty && expected.size < all.size,
        s"$name: the fixture must probe some cells, not all " +
          s"(${expected.size} of ${all.size} files)")

      val df = search(nprobe)
      var rows: Seq[String] = Nil
      val jobs = jobsDuring { rows = sorted(df) }
      val scan = postingsScan(df)
      // the filter's subquery reads the probe broadcast, not a new job
      val pruning = scan.partitionFilters.collect {
        case DynamicPruningExpression(e) => e.collect { case s: InSubqueryExec => s.plan }
      }.flatten
      assert(pruning.nonEmpty, s"$name: no dynamic-pruning filter on the " +
        s"postings scan: ${scan.partitionFilters.mkString(", ")}")
      assert(pruning.forall(p => collect(p) { case r: ReusedExchangeExec => r }.nonEmpty),
        s"$name: the pruning subquery does not reuse the probe broadcast: $pruning")
      val files = scan.metrics("numFiles").value
      val bytes = scan.metrics("filesSize").value
      assert(files == expected.size && bytes == expected.map(_._2).sum,
        s"$name: read $files files / $bytes bytes; the ${probed.size} probed " +
          s"cells hold ${expected.size} / ${expected.map(_._2).sum} " +
          s"(all cells: ${all.size} / ${all.map(_._2).sum})")

      val (unpruned, unprunedJobs, unprunedFiles) = withoutPruning {
        val u = search(nprobe)
        var r: Seq[String] = Nil
        val j = jobsDuring { r = sorted(u) }
        (r, j, postingsScan(u).metrics("numFiles").value)
      }
      assert(unprunedFiles == all.size, s"$name: the unpruned scan read " +
        s"$unprunedFiles of ${all.size} files")
      assert(rows.nonEmpty && rows == unpruned,
        s"$name: pruned ${rows.mkString(" ")} ≠ unpruned ${unpruned.mkString(" ")}")
      assert(jobs <= most, s"$name: $jobs jobs (unpruned $unprunedJobs, most $most)")
      assert(search(0).collect().isEmpty, s"$name: nprobe = 0 returned rows")
      s"$name: $files of ${all.size} files, $jobs jobs (unpruned $unprunedJobs)"
    }
    info(report.mkString("; "))
  }

  private def withoutPruning[T](body: => T): T = {
    val key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, was)
  }

  test("the plan text of an IVF-PQ search names its codebooks instead of " +
      "printing their doubles") {
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val pq = stores("ivfpq")
    val sql = s"SELECT * FROM graft_ivfpq_search('$pq', '${stores("queries")}', 5, $nprobe)"
    spark.sql(sql).collect()
    val texts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => texts.add(s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => texts.add(u.physicalPlanDescription)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      spark.sql(sql).collect()
      org.apache.spark.TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    val all = texts.asScala.toSeq
    assert(all.size >= 2, s"${all.size} plan texts")
    val e = StoreSegments.latest(spark, pq)
    val cv = StoreSegments.scan(spark, pq, e, "centroids", "",
        StructType(Seq(StructField("cid", LongType),
          StructField("cv", ArrayType(DoubleType))))).collect()
      .map(_.getSeq[Double](1)).head
    all.foreach { t =>
      assert(t.contains("ivf_codebook[12x8]") && t.contains("pq_sub0[4x4]"), t)
      assert(!cv.exists(x => t.contains(x.toString)),
        s"a centroid's double is printed in the plan text:\n$t")
    }
    info(s"${all.size} plan texts, ${all.map(_.length).sum} characters")
  }
}

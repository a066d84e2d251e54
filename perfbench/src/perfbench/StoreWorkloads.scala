package perfbench

import java.nio.file.{Files, Path}
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.SqlFrontDoor
import graft.operators.{Curation, IndexSync, Similarity, StoreMaintenance, TextAnalysis}

/** The store layer under its two uses: CDC sync (writes) and SQL search
  * (reads). Both stores are a 16-bucket text index and an IVF-PQ index.
  */
object StoreWorkloads {
  val Buckets = 16
  val K = 10
  val NProbe = 2

  private def docs(spark: SparkSession, ds: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    ds.toDF()
  }
  private def ids(spark: SparkSession, xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF("doc_id")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  private def searchText(spark: SparkSession, dir: Path, terms: String): DataFrame =
    TextAnalysis.searchTextIndex(spark, dir.toString, terms.split(" ").toSeq, k = K,
      buckets = Buckets).select("doc_id", "bm25_micro")

  private def searchPq(spark: SparkSession, dir: Path, queries: Path): DataFrame =
    Similarity.searchIvfPqIndex(spark, dir.toString, spark.read.parquet(queries.toString),
      "vec_id", "embedding", k = K, nprobe = NProbe)
      .select("query_id", "neighbor_id", "adc_micro")

  /** Independent set-up steps on their own threads (separate stores). */
  private def par(tasks: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = t() }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  /** One query vector per parquet directory `dir/qid=<i>`, written in one job. */
  private def writeQueries(spark: SparkSession, corpus: Gen.Corpus, dir: Path, n: Int): Seq[Path] = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, corpus.query(), i)).toDF("vec_id", "embedding", "qid")
      .write.partitionBy("qid").parquet(dir.toString)
    (0 until n).map(i => dir.resolve(s"qid=$i"))
  }

  // ---- store_sync ----------------------------------------------------------

  val SyncBaseDocs = 2000
  val SyncMaxVersions = 60
  val Adds = 20
  val Changes = 20
  val Deletes = 10

  final class SyncPrepared(val root: Path, val script: Seq[Gen.Churn],
                           val searchTerms: Seq[String], val queries: Seq[Path]) {
    val store: Path = root.resolve("snapshots")
    val text: Path = root.resolve("text_index")
    val pq: Path = root.resolve("ivfpq_index")
  }

  /** The corpus, its churn script, the check queries and snapshot v1. */
  def prepareSync(spark: SparkSession, root: Path, seed: Long): SyncPrepared = {
    val corpus = new Gen.Corpus(seed)
    val base = (0L until SyncBaseDocs).map(corpus.doc)
    val script = Gen.churn(corpus, new Random(seed + 1), base.map(_.doc_id),
      SyncMaxVersions + 1, Adds, Changes, Deletes)
    val p = new SyncPrepared(root, script, Seq.fill(6)(corpus.terms()),
      writeQueries(spark, corpus, root.resolve("queries"), 4))
    Curation.writeSnapshot(docs(spark, base), p.store.toString, version = 1)
    p
  }

  /** Both indexes built over snapshot v1, then one untimed version (v2). */
  def buildSync(spark: SparkSession, p: SyncPrepared): Unit = {
    val v1 = Curation.readSnapshotAt(spark, p.store.toString, 1, "doc_id")
    par(
      () => TextAnalysis.buildTextIndex(v1, "doc_id", "text", p.text.toString, buckets = Buckets),
      () => Similarity.buildIvfPqIndexAdaptive(v1, "doc_id", "embedding", p.pq.toString))
    applyVersion(spark, p, 2, new Tracer(false), null)
  }

  private val verbs = Seq("snapshot_delta", "sync_text", "sync_ivfpq", "maintain_text", "maintain_ivfpq")

  /** One version: delta commit, both syncs, both maintenance passes.
    * Returns the milliseconds from the delta's commit until both indexes are
    * synced and maintained.
    */
  private def applyVersion(spark: SparkSession, p: SyncPrepared, v: Int,
                           tracer: Tracer, rep: Report): Double = {
    val sc = spark.sparkContext
    val c = p.script(v - 2)
    val op = s"v$v"
    val root = tracer.reserve()
    val t0 = Clock.now
    def verb[T](name: String)(body: => T): T =
      tracer.span(sc, root, op, s"operators.$name", "operators")(body)
    verb("snapshot_delta")(Curation.writeSnapshotDelta(spark, p.store.toString, v,
      docs(spark, c.upserts), ids(spark, c.deletes), "doc_id"))
    val committed = Clock.now
    val r1 = verb("sync_text")(IndexSync.syncTextIndexFromSnapshots(spark, p.text.toString,
      p.store.toString, v - 1, v, "doc_id", "text", Buckets).collect())
    val r2 = verb("sync_ivfpq")(IndexSync.syncIvfPqIndexFromSnapshots(spark, p.pq.toString,
      p.store.toString, v - 1, v, "doc_id", "embedding").collect())
    verb("maintain_text")(StoreMaintenance.maintainTextIndex(spark, p.text.toString, Buckets).collect())
    verb("maintain_ivfpq")(StoreMaintenance.maintainIvfPqIndex(spark, p.pq.toString).collect())
    val done = Clock.now
    tracer.record(root, 0, op, "bench.version", "bench", t0, done)
    if (rep != null) Seq(r1, r2).foreach { r =>
      rep.check(s"sync_v${v}_${r.head.getString(0)}", r.head.getString(2) == "applied",
        r.head.mkString(","))
    }
    done - committed
  }

  def runSync(spark: SparkSession, p: SyncPrepared, tracer: Tracer, rep: Report,
              seconds: Int): Unit = {
    val t0 = Clock.now
    val cpu0 = Clock.cpuMs
    val deadline = t0 + seconds * 1000.0
    val fresh = Seq.newBuilder[Double]
    var v = 3
    var churned = 0L
    while ((v == 3 || Clock.now < deadline) && v - 2 < p.script.size) {
      rep.attempted += verbs.size
      val ok = scala.util.Try(applyVersion(spark, p, v, tracer, rep))
      ok.failed.foreach { e => rep.failed += 1; System.err.println(s"version $v failed: $e") }
      ok.foreach { f =>
        fresh += f
        val c = p.script(v - 2)
        churned += c.upserts.size + c.deletes.size
      }
      if (ok.isFailure) v = p.script.size + 2 else v += 1
    }
    val wall = Clock.now - t0
    val last = v - 1
    val f = fresh.result()
    rep.named("sync_p50_ms") = M(Stats.median(f), "ms", f.size)
    rep.named("sync_p90_ms") = M(Stats.pct(f, 0.9), "ms", f.size)
    rep.named("ingest_docs_per_s") = M(churned / (wall / 1000), "docs/s", f.size)
    rep.e2e("op_p50_ms") = rep.named("sync_p50_ms")
    rep.named("version_cpu_ms") = M((Clock.cpuMs - cpu0) / math.max(1, f.size), "ms", f.size)
    rep.e2e("throughput_per_s") = rep.named("ingest_docs_per_s").copy(unit = "items/s")
    rep.e2e("op_cpu_ms") = rep.named("version_cpu_ms")
    rep.context("versions") = f.size.toString
    rep.layer("operators.store_files") = M(
      Seq(p.store, p.text, p.pq).map(d => Files.walk(d).filter(Files.isRegularFile(_)).count()).sum.toDouble,
      "files", 1)

    // Untimed check: the synced stores answer the search set exactly as
    // stores built from scratch over the final snapshot do. The IVF-PQ
    // codebook is frozen at the build version by the sync contract, so its
    // reference is a fresh v1 build brought to the final snapshot by one
    // delete, one compaction and one append, without the CDC diff.
    rep.op {
      val fin = Curation.readSnapshotAt(spark, p.store.toString, last, "doc_id")
      val scratchText = p.root.resolve("scratch_text")
      val scratchPq = p.root.resolve("scratch_pq")
      TextAnalysis.buildTextIndex(fin, "doc_id", "text", scratchText.toString, buckets = Buckets)
      // keep the v1 rows whose embedding is unchanged at the final version
      // (a store may not be emptied), then append the rest of the final corpus
      val v1 = Curation.readSnapshotAt(spark, p.store.toString, 1, "doc_id")
      def keyed(df: DataFrame) = df.select(col("doc_id"), col("embedding").cast("string").as("_e"))
      val kept = keyed(v1).join(keyed(fin), Seq("doc_id", "_e")).select("doc_id")
      Similarity.buildIvfPqIndexAdaptive(v1, "doc_id", "embedding", scratchPq.toString)
      Similarity.deleteFromIvfPqIndex(spark, scratchPq.toString,
        v1.select("doc_id").join(kept, Seq("doc_id"), "left_anti"), "doc_id")
      Similarity.compactIvfPqIndex(spark, scratchPq.toString)
      Similarity.appendIvfPqIndex(spark, scratchPq.toString,
        fin.join(kept, Seq("doc_id"), "left_anti"), "doc_id", "embedding")
      p.searchTerms.foreach { t =>
        val (a, b) = (rows(searchText(spark, p.text, t)), rows(searchText(spark, scratchText, t)))
        rep.check(s"text_sync_equals_rebuild[$t]", a.nonEmpty && a == b, s"${a.size} vs ${b.size} rows")
      }
      p.queries.foreach { q =>
        val (a, b) = (rows(searchPq(spark, p.pq, q)), rows(searchPq(spark, scratchPq, q)))
        rep.check(s"ivfpq_sync_equals_rebuild[${q.getFileName}]", a.nonEmpty && a == b,
          s"${a.size} vs ${b.size} rows")
      }
    }
  }

  // ---- store_search --------------------------------------------------------

  val SearchDocs = 4000
  /** Requests cycle over this many term sets and query vectors. The warmup
    * sends the whole pool WarmRounds times: after one round the timed
    * requests were still 30% slower than late in the run, so a run measured
    * how far JIT compilation had got rather than the engine.
    */
  val SearchPool = 4
  val WarmRounds = 2
  val Checked = 2

  final class SearchPrepared(val root: Path, val corpus: Seq[Gen.Doc], val dead: Seq[Long],
                             val terms: Seq[String], val queries: Seq[Path]) {
    val text: Path = root.resolve("text_index")
    val pq: Path = root.resolve("ivfpq_index")
    val views: Path = root.resolve("no_tables")
    def sql(kind: String, i: Int): String = kind match {
      case "bm25" => s"SELECT doc_id, bm25_micro FROM graft_bm25_search('$text', '${terms(i)}', $K, $Buckets)"
      case _ => s"SELECT query_id, neighbor_id, adc_micro FROM graft_ivfpq_search('$pq', '${queries(i)}', $K, $NProbe)"
    }
  }

  /** The corpus, the ids to delete, and the pool of term sets and query
    * vectors (written in one job).
    */
  def prepareSearch(spark: SparkSession, root: Path, seed: Long): SearchPrepared = {
    val corpus = new Gen.Corpus(seed)
    val all = (0L until SearchDocs).map(corpus.doc)
    val dead = new Random(seed + 2).shuffle(all.map(_.doc_id)).take(SearchDocs / 50)
    Files.createDirectories(root.resolve("no_tables"))
    new SearchPrepared(root, all, dead, Seq.fill(SearchPool)(corpus.terms()),
      writeQueries(spark, corpus, root.resolve("queries"), SearchPool))
  }

  /** Both indexes built over 90% of the corpus, the rest appended as a
    * second segment, and 2% of ids deleted with the tombstones left in
    * place, as a live store has them; then the warmup requests.
    */
  def buildSearch(spark: SparkSession, p: SearchPrepared): Unit = {
    val (first, rest) = p.corpus.splitAt(SearchDocs * 9 / 10)
    val dead = ids(spark, p.dead)
    par(
      () => {
        TextAnalysis.buildTextIndex(docs(spark, first), "doc_id", "text", p.text.toString, buckets = Buckets)
        TextAnalysis.appendTextIndex(spark, p.text.toString, docs(spark, rest), "doc_id", "text", Buckets)
        TextAnalysis.deleteFromTextIndex(spark, p.text.toString, dead, "doc_id", Buckets)
      },
      () => {
        Similarity.buildIvfPqIndexAdaptive(docs(spark, first), "doc_id", "embedding", p.pq.toString)
        Similarity.appendIvfPqIndex(spark, p.pq.toString, docs(spark, rest), "doc_id", "embedding")
        Similarity.deleteFromIvfPqIndex(spark, p.pq.toString, dead, "doc_id")
      })
    for (_ <- 0 until WarmRounds; i <- 0 until SearchPool; k <- Seq("bm25", "ivfpq"))
      SqlFrontDoor.sql(spark, p.views.toString, p.sql(k, i)).collect()
  }

  /** One closed-loop client sending hybrid-retrieval requests until the
    * deadline: each request is a BM25 query and an IVF-PQ query, both through
    * the SQL front door, and runs from the first `sql` call until the second
    * `collect` returns.
    */
  def runSearch(spark: SparkSession, p: SearchPrepared, tracer: Tracer, rep: Report,
                seconds: Int): Unit = {
    val sc = spark.sparkContext
    val t0 = Clock.now
    val cpu0 = Clock.cpuMs
    val deadline = t0 + seconds * 1000.0
    val lat = Seq.newBuilder[Double]
    val answers = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Seq[String])]
    var n = 0
    while (n < 2 || Clock.now < deadline) {
      val op = s"q$n"
      val root = tracer.reserve()
      val q0 = Clock.now
      val ok = Seq("bm25", "ivfpq").map { kind =>
        rep.op {
          val df = tracer.span(sc, root, op, s"api.$kind.analysis", "api")(
            SqlFrontDoor.sql(spark, p.views.toString, p.sql(kind, n % SearchPool)))
          val out = tracer.span(sc, root, op, s"operators.$kind.exec", "operators")(df.collect())
          if (n < Checked) answers += ((kind, n, out.map(_.mkString("|")).toSeq.sorted))
        }.isDefined
      }
      val done = Clock.now
      tracer.record(root, 0, op, "bench.request", "bench", q0, done)
      if (ok.forall(identity)) lat += done - q0
      n += 1
    }
    val wall = Clock.now - t0
    val l = lat.result()
    rep.named("search_request_p50_ms") = M(Stats.median(l), "ms", l.size)
    rep.named("search_request_p90_ms") = M(Stats.pct(l, 0.9), "ms", l.size)
    rep.named("search_qps") = M(2 * l.size / (wall / 1000), "queries/s", l.size)
    rep.e2e("op_p50_ms") = rep.named("search_request_p50_ms")
    rep.named("search_request_cpu_ms") = M((Clock.cpuMs - cpu0) / math.max(1, n), "ms", n)
    rep.e2e("throughput_per_s") = rep.named("search_qps").copy(unit = "items/s")
    rep.e2e("op_cpu_ms") = rep.named("search_request_cpu_ms")

    // Untimed check: the SQL answers equal the Scala API's.
    answers.foreach { case (kind, i, got) =>
      rep.op {
        val want = rows(if (kind == "bm25") searchText(spark, p.text, p.terms(i))
                        else searchPq(spark, p.pq, p.queries(i)))
        rep.check(s"${kind}_q${i}_sql_equals_scala", got.nonEmpty && got == want,
          s"${got.size} vs ${want.size} rows")
      }
    }
  }
}

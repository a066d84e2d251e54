package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, StoreFs, StoreSegments, TextAnalysis}

/** The index stores' write-once log: every verb commits one entry with a
  * put-if-absent, so a crash between any two of its writes leaves the
  * store as it was, two racing writers cannot both commit, a search sees
  * one version, and the layout facts a verb or search needs come from the
  * entry rather than from its caller.
  */
class StoreLogSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A byte copy of the store at a fresh path. */
  private def copyOf(root: String): String = {
    val src = java.nio.file.Paths.get(root)
    val dst = java.nio.file.Paths.get(tmp("graft-log-copy"))
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.toSeq.foreach { f =>
      val to = dst.resolve(src.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(f, to)
    } finally walk.close()
    dst.toString
  }

  /** Run `body` with `h` as the store hook. */
  private def hooked[T](h: (String, String) => Unit)(body: => T): T = {
    StoreSegments.hook = h
    try body finally StoreSegments.hook = (_, _) => ()
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)

  private val words = Seq("spark", "hash", "window", "join", "zebra", "scan")

  private def docs(ids: Seq[Long]) = ids.map(i => (i,
    Seq.tabulate((i % 4 + 2).toInt)(j => words(((i * 7 + j * 3) % 6).toInt))
      .mkString(" "))).toDF("doc_id", "text")

  private def vecs(ids: Seq[Long]) = ids.map(i =>
    (i, Array.tabulate(8)(j => math.sin(i * 7 + j).abs + 0.1)))
    .toDF("vec_id", "embedding")

  /** One store family: its verbs, a search, its components and an audit
    * that fails on a broken invariant.
    */
  private final class Fam(val name: String,
                          val build: (String, Seq[Long]) => Unit,
                          val append: (String, Seq[Long]) => Unit,
                          val delete: (String, Seq[Long]) => Unit,
                          val compact: String => Unit,
                          val fused: (String, Seq[Long]) => Unit,
                          val vacuum: String => Unit,
                          val plan: String => DataFrame,
                          val comps: Seq[(String, String)],
                          val audit: String => Unit) {
    def search(d: String): Seq[String] = rows(plan(d))
  }

  private val text = new Fam("text",
    (d, ids) => TextAnalysis.buildTextIndex(docs(ids), "doc_id", "text", d,
      buckets = 4, withPositions = true),
    (d, ids) => TextAnalysis.appendTextIndex(spark, d, docs(ids), "doc_id",
      "text"),
    (d, ids) => TextAnalysis.deleteFromTextIndex(spark, d, ids.toDF("doc_id"),
      "doc_id"),
    d => TextAnalysis.compactTextIndex(spark, d),
    (d, ids) => TextAnalysis.deleteAndCompactTextIndex(spark, d,
      ids.toDF("doc_id"), "doc_id"),
    d => TextAnalysis.vacuumTextIndex(spark, d),
    d => TextAnalysis.searchTextIndex(spark, d,
      Seq("spark", "window", "zebra"), k = 100),
    Seq("stats" -> "", "terms" -> "bucket", "postings" -> "bucket",
      "docs" -> "dbucket", "positions" -> "bucket"),
    d => {
      val a = TextAnalysis.textIndexAudit(spark, d).head
      assert(a.getAs[Long]("n_df_mismatch") == 0L, a.toString)
      assert(a.getAs[Boolean]("stats_docs_match"), a.toString)
      assert(a.getAs[Boolean]("stats_dl_match"), a.toString)
      assert(a.getAs[Long]("n_orphan_postings") == 0L, a.toString)
    })

  private def vector(pq: Boolean) = new Fam(if (pq) "ivfpq" else "ivf",
    (d, ids) =>
      if (pq) Similarity.buildIvfPqIndex(vecs(ids), "vec_id", "embedding", d,
        m = 2, ksub = 4, ivfStep = 10, pqStep = 3)
      else Similarity.buildIvfIndex(vecs(ids), "vec_id", "embedding", d,
        centStep = 10),
    (d, ids) =>
      if (pq) Similarity.appendIvfPqIndex(spark, d, vecs(ids), "vec_id",
        "embedding")
      else Similarity.appendIvfIndex(spark, d, vecs(ids), "vec_id",
        "embedding"),
    (d, ids) => Similarity.deleteFromIvfIndex(spark, d, ids.toDF("vec_id"),
      "vec_id"),
    d => Similarity.compactIvfIndex(spark, d),
    (d, ids) => Similarity.deleteAndCompactIvfIndex(spark, d,
      ids.toDF("vec_id"), "vec_id"),
    d => Similarity.vacuumIvfIndex(spark, d),
    d => {
      val q = vecs(Seq(1L, 2L, 33L))
      if (pq) Similarity.searchIvfPqIndex(spark, d, q, "vec_id",
        "embedding", k = 50, nprobe = 50)
      else Similarity.searchIvfIndex(spark, d, q, "vec_id", "embedding",
        k = 50, nprobe = 50)
    },
    Seq("postings" -> "cell"),
    d => {
      val a = Similarity.ivfIndexAudit(spark, d).head
      assert(a.getAs[Long]("n_dup_ids") == 0L, a.toString)
      assert(a.getAs[Long]("n_orphan_cells") == 0L, a.toString)
    })

  private val families = Seq(text, vector(pq = false), vector(pq = true))

  /** Built over 0..29, 30..35 appended, 3 and 31 deleted (tombstoned). */
  private def seeded(f: Fam): String = {
    val d = tmp(s"graft-log-${f.name}")
    f.build(d, 0L until 30L)
    f.append(d, 30L until 36L)
    f.delete(d, Seq(3L, 31L))
    d
  }

  private final class KillPoint extends RuntimeException("kill point")

  /** Every component's live rows: the store's content, file-layout free. */
  private def content(f: Fam, d: String): Seq[Seq[String]] =
    f.comps.map { case (c, key) =>
      if (StoreSegments.latest(spark, d).has(c))
        rows(StoreSegments.read(spark, d, c, key))
      else Nil
    }

  test("a crash between any two writes of build, append, delete, drain " +
      "and vacuum leaves version v; the invariants hold; a re-run equals " +
      "one clean run: text, IVF, IVF-PQ") {
    for (f <- families) {
      val seed = seeded(f)
      val verbs: Seq[(String, String => Unit)] = Seq(
        "build" -> (d => f.build(d, 5L until 40L)),
        "append" -> (d => f.append(d, 40L until 44L)),
        "delete" -> (d => f.delete(d, Seq(7L, 32L))),
        "compact" -> f.compact,
        "fused delete+compact" -> (d => f.fused(d, Seq(9L))),
        "vacuum" -> f.vacuum)
      val before = f.search(seed)
      for ((verb, run) <- verbs) {
        val clue = s"${f.name} $verb"
        // the clean run: its answer, content and kill-point count
        val clean = copyOf(seed)
        val points = new AtomicInteger
        hooked((d, step) => if (d == clean &&
            (step.startsWith("write") || step == "commit"))
          points.incrementAndGet())(run(clean))
        val after = (f.search(clean), content(f, clean))
        assert(points.get >= 2, s"$clue: ${points.get} kill points")
        for (k <- 0 until points.get) {
          val d = copyOf(seed)
          val v = StoreSegments.latest(spark, d).version
          val seen = new AtomicInteger
          val e = intercept[Throwable](hooked((dd, step) => if (dd == d &&
              (step.startsWith("write") || step == "commit") &&
              seen.getAndIncrement() == k) throw new KillPoint)(run(d)))
          assert(e.isInstanceOf[KillPoint], s"$clue @$k: $e")
          spark.catalog.clearCache()
          assert(StoreSegments.latest(spark, d).version == v, s"$clue @$k")
          assert(f.search(d) == before, s"$clue @$k: not version $v")
          f.audit(d)
          run(d)
          assert((f.search(d), content(f, d)) == after,
            s"$clue @$k: the re-run differs from one clean run")
          f.audit(d)
        }
      }
    }
  }

  test("two racing writers: one commits, the other fails naming the " +
      "store; none of the loser's segments is referenced; a GC never " +
      "deletes a segment a pending writer may yet commit") {
    for (f <- families) {
      val d = seeded(f)
      def segDirs() = f.comps.flatMap { case (c, _) =>
        StoreFs.listSubdirs(spark, s"$d/$c").map(n => s"$c/$n") }.toSet
      // the loser: an append that has written its segments and waits to
      // commit while a delete commits
      val atCommit = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val loser = Thread.currentThread().getName + "-loser"
      var failure: Throwable = null
      val before = segDirs()
      val t = new Thread(() => {
        try hooked((dd, step) => if (dd == d && step == "commit" &&
            Thread.currentThread().getName == loser) {
          atCommit.countDown()
          assert(release.await(60, TimeUnit.SECONDS))
        })(f.append(d, 40L until 44L))
        catch { case e: Throwable => failure = e }
      }, loser)
      t.start()
      assert(atCommit.await(60, TimeUnit.SECONDS), s"${f.name}: no commit")
      val loserSegs = segDirs() -- before
      assert(loserSegs.nonEmpty, f.name)
      f.delete(d, Seq(7L))
      release.countDown()
      t.join(60000)
      assert(failure != null, s"${f.name}: both writers committed")
      assert(messages(failure).exists(m => m.contains(d) &&
        m.contains("concurrent writer")), messages(failure).mkString(" | "))
      val named = StoreSegments.latest(spark, d).comps.toSeq.flatMap {
        case (c, ss) => ss.map(s => s"$c/seg=${s.id}") }.toSet
      assert((loserSegs & named).isEmpty, s"${f.name}: loser referenced")
      // the store equals the winner's result alone
      val winner = seeded(f)
      f.delete(winner, Seq(7L))
      assert(f.search(d) == f.search(winner), f.name)
      assert(content(f, d) == content(f, winner), f.name)

      // a verb pauses after its commit, before its GC; an append resolves
      // that commit, writes its segment and waits to commit; the GC must
      // leave the pending segment, which then commits
      val g = seeded(f)
      val atGc = new CountDownLatch(1)
      val gcGo = new CountDownLatch(1)
      val pending = new CountDownLatch(1)
      val commitGo = new CountDownLatch(1)
      val appender = Thread.currentThread().getName + "-pending"
      var verbFailure, appendFailure: Throwable = null
      hooked { (dd, step) =>
        if (dd == g && step == "gc" &&
            Thread.currentThread().getName != appender) {
          atGc.countDown(); assert(gcGo.await(60, TimeUnit.SECONDS))
        }
        if (dd == g && step == "commit" &&
            Thread.currentThread().getName == appender) {
          pending.countDown(); assert(commitGo.await(60, TimeUnit.SECONDS))
        }
      } {
        val v = new Thread(() =>
          try f.compact(g) catch { case e: Throwable => verbFailure = e })
        v.start()
        assert(atGc.await(60, TimeUnit.SECONDS), s"${f.name}: no gc")
        val a = new Thread(() =>
          try f.append(g, 40L until 44L)
          catch { case e: Throwable => appendFailure = e }, appender)
        a.start()
        assert(pending.await(60, TimeUnit.SECONDS), s"${f.name}: no append")
        gcGo.countDown()
        v.join(60000)
        commitGo.countDown()
        a.join(60000)
      }
      assert(verbFailure == null, s"${f.name}: $verbFailure")
      assert(appendFailure == null, s"${f.name}: $appendFailure")
      val serial = seeded(f)
      f.compact(serial)
      f.append(serial, 40L until 44L)
      assert(f.search(g) == f.search(serial), f.name)
      f.audit(g)
    }
  }

  test("what a compaction supersedes lives until the next maintenance " +
      "verb: a search planned before it collects after an append and a " +
      "delete: text, IVF, IVF-PQ") {
    for (f <- families) {
      val d = seeded(f)
      val expected = f.search(d)
      val planned = f.plan(d)
      f.compact(d)
      f.append(d, 40L until 44L)
      f.delete(d, Seq(5L))
      assert(rows(planned) == expected, f.name)
      // the next maintenance verb collects the superseded keys of every
      // segment its entry still names
      val superseded = StoreSegments.latest(spark, d).comps.toSeq.flatMap {
        case (c, ss) => ss.filter(_.excluded.nonEmpty).map(c -> _) }
      f.compact(d)
      val after = StoreSegments.latest(spark, d)
      val kept = superseded.filter { case (c, s) =>
        after.segs(c).exists(_.id == s.id) }
      assert(kept.nonEmpty, s"${f.name}: $superseded")
      val keyCol = f.comps.toMap
      for ((c, s) <- kept; k <- s.excluded) assert(
        !StoreFs.exists(spark, s"$d/$c/seg=${s.id}/${keyCol(c)}=$k"),
        s"${f.name}: $c/seg=${s.id} key $k outlived the next compact")
    }
  }

  test("a search that resolves while a fused delete+compact commits " +
      "never returns a deleted id: text, IVF, IVF-PQ") {
    for (f <- families) {
      val d = seeded(f) // 3 and 31 tombstoned; nothing has read them yet
      val atV = f.search(copyOf(d))
      val resolved = new CountDownLatch(1)
      val resume = new CountDownLatch(1)
      val searcher = Thread.currentThread().getName + "-search"
      val first = new AtomicBoolean(true)
      var answer: Seq[String] = null
      var failure: Throwable = null
      hooked((dd, step) => if (dd == d && step == "resolved" &&
          Thread.currentThread().getName == searcher &&
          first.getAndSet(false)) {
        resolved.countDown(); assert(resume.await(60, TimeUnit.SECONDS))
      }) {
        val s = new Thread(() =>
          try answer = f.search(d)
          catch { case e: Throwable => failure = e }, searcher)
        s.start()
        assert(resolved.await(60, TimeUnit.SECONDS), f.name)
        f.fused(d, Seq(9L))
        resume.countDown()
        s.join(60000)
      }
      assert(failure == null, s"${f.name}: $failure")
      def has(id: Long) = answer.exists(r =>
        if (f.name == "text") r.startsWith(s"[$id,") else r.contains(s",$id,"))
      assert(!has(3L) && !has(31L), s"${f.name}: a deleted id came back")
      // one version's answer: before the drain or after it
      assert(answer == atV || answer == f.search(d), f.name)
    }
  }

  test("the bucket count comes from the store: searches and verbs read " +
      "it; a caller's different count fails naming the store's layout") {
    graft.functions.GraftTableFunctions.ensureRegistered(spark)
    val d = tmp("graft-log-buckets")
    TextAnalysis.buildTextIndex(Seq((1L, "alpha beta"), (2L, "gamma"))
      .toDF("doc_id", "text"), "doc_id", "text", d, buckets = 16)
    val sql = spark.sql(s"SELECT doc_id FROM graft_bm25_search('$d', 'alpha', 50)")
      .as[Long].collect().toSeq
    assert(sql == Seq(1L))
    val e4 = tmp("graft-log-buckets4")
    TextAnalysis.buildTextIndex(Seq((1L, "apple"), (2L, "plum"))
      .toDF("doc_id", "text"), "doc_id", "text", e4, buckets = 4)
    val err = intercept[IllegalArgumentException](
      TextAnalysis.appendTextIndex(spark, e4,
        Seq((3L, "pear")).toDF("doc_id", "text"), "doc_id", "text", 16))
    assert(err.getMessage.contains(e4) &&
      err.getMessage.contains("buckets = 4"), err.getMessage)
    TextAnalysis.appendTextIndex(spark, e4,
      Seq((3L, "pear")).toDF("doc_id", "text"), "doc_id", "text")
    assert(TextAnalysis.searchTextIndex(spark, e4, Seq("pear"))
      .select("doc_id").as[Long].collect().toSeq == Seq(3L))
    intercept[IllegalArgumentException](
      TextAnalysis.searchTextIndex(spark, e4, Seq("pear"), buckets = 16))
  }

  test("positions are part of the layout: a rebuild without them drops " +
      "them, phrase search then fails naming the store, appends follow " +
      "the entry") {
    val d = tmp("graft-log-positions")
    TextAnalysis.buildTextIndex(Seq((1L, "hash table lookup"),
        (2L, "table of hash")).toDF("doc_id", "text"), "doc_id", "text", d,
      buckets = 4, withPositions = true)
    assert(TextAnalysis.phraseSearchIndex(spark, d, Seq("hash", "table"))
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    TextAnalysis.appendTextIndex(spark, d,
      Seq((5L, "hash table again")).toDF("doc_id", "text"), "doc_id", "text")
    assert(StoreSegments.latest(spark, d).segs("positions").size == 2)
    assert(TextAnalysis.phraseSearchIndex(spark, d, Seq("hash", "table"))
      .select("doc_id").as[Long].collect().toSet == Set(1L, 5L))
    TextAnalysis.buildTextIndex(Seq((3L, "hash table"), (4L, "table"))
      .toDF("doc_id", "text"), "doc_id", "text", d, buckets = 4)
    val e = StoreSegments.latest(spark, d)
    assert(!e.positions && !e.has("positions"), e.toString)
    val err = intercept[IllegalArgumentException](
      TextAnalysis.phraseSearchIndex(spark, d, Seq("hash", "table")))
    assert(err.getMessage.contains(d) &&
      err.getMessage.contains("positions"), err.getMessage)
    TextAnalysis.appendTextIndex(spark, d,
      Seq((6L, "hash table")).toDF("doc_id", "text"), "doc_id", "text")
    assert(!StoreSegments.latest(spark, d).has("positions"))
    intercept[IllegalArgumentException](TextAnalysis.appendTextIndex(spark,
      d, Seq((7L, "x")).toDF("doc_id", "text"), "doc_id", "text",
      withPositions = true))
  }

  test("the text audit matches null ids null-safely: a null-id store " +
      "after deletes has no orphan postings and matching stats") {
    val d = tmp("graft-log-nullaudit")
    val corpus = docs(0L until 12L).unionByName(
      Seq((None: Option[Long], "spark zebra")).toDF("doc_id", "text"))
    TextAnalysis.buildTextIndex(corpus, "doc_id", "text", d, buckets = 4)
    TextAnalysis.deleteFromTextIndex(spark, d, Seq(2L, 5L).toDF("doc_id"),
      "doc_id")
    for (step <- Seq("delete", "compact")) {
      val a = TextAnalysis.textIndexAudit(spark, d).head
      assert(a.getAs[Long]("n_orphan_postings") == 0L, s"$step: $a")
      assert(a.getAs[Boolean]("stats_docs_match"), s"$step: $a")
      assert(a.getAs[Boolean]("stats_dl_match"), s"$step: $a")
      assert(a.getAs[Long]("n_docs") == 11L, s"$step: $a")
      TextAnalysis.compactTextIndex(spark, d)
    }
  }
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Relational
import graft.sinks.Sinks
import graft.sources.LogLines
import graft.streaming.BoundedStream

/** Streaming parity (SURVEY §2.8): the reference's bounded-stream semantics
  * — read to EOF, END marker, finalize — must produce results identical to
  * batch execution of the same pipeline, and a checkpointed job given new
  * input must fold it into existing state rather than recompute from zero.
  */
class BoundedStreamSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeLines(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))

  private val wordcount: DataFrame => DataFrame =
    df => Relational.wordCount(df, "line")

  test("streaming wordcount over AvailableNow equals batch wordcount") {
    val in = tmpDir("graft-stream-in")
    writeLines(in, "a.txt", Seq("to be or not", "to be"))
    writeLines(in, "b.txt", Seq("be be", "or not or"))

    val batch = wordcount(spark.read.text(in).withColumnRenamed("value", "line"))
      .orderBy("word").collect().map(r => (r.getString(0), r.getLong(1)))

    val streamed = BoundedStream.runAvailableNow(
      spark, BoundedStream.textStream(spark, in), wordcount,
      tmpDir("graft-ckpt"), "wc_eq")
      .orderBy("word").collect().map(r => (r.getString(0), r.getLong(1)))

    assert(streamed.toSeq == batch.toSeq && batch.nonEmpty)
  }

  test("streaming top-K equals batch top-K (rank-over-stream, complete mode)") {
    val in = tmpDir("graft-topk-in")
    writeLines(in, "a.txt", Seq("u1", "u2", "u1", "u3", "u1", "u2"))
    val topk: DataFrame => DataFrame =
      df => Relational.countPerKey(df, "line")
    // rank at the sink (complete-mode output re-ranked per drain), the
    // streaming-top-K pattern from SURVEY §7.5
    val streamed = Relational.topK(
      BoundedStream.runAvailableNow(
        spark, BoundedStream.textStream(spark, in), topk,
        tmpDir("graft-ckpt"), "topk_eq"),
      2, desc = "cnt", tieBreak = "line")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(streamed.toSeq == Seq(("u1", 3L), ("u2", 2L)))
  }

  test("checkpoint restart: new files fold into prior state, not recomputed from zero") {
    val in = tmpDir("graft-restart-in")
    val ckpt = tmpDir("graft-restart-ckpt")
    writeLines(in, "a.txt", Seq("x y", "x"))

    val first = BoundedStream.runAvailableNow(
      spark, BoundedStream.textStream(spark, in), wordcount, ckpt, "wc_r1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(first == Map("x" -> 2L, "y" -> 1L))

    // "kill" = query terminated above; new data arrives; restart on the SAME
    // checkpoint — offsets say a.txt is done, so only b.txt is read, and the
    // state store carries the old counts forward.
    writeLines(in, "b.txt", Seq("y z"))
    val second = BoundedStream.runAvailableNow(
      spark, BoundedStream.textStream(spark, in), wordcount, ckpt, "wc_r2")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(second == Map("x" -> 2L, "y" -> 2L, "z" -> 1L))

    // equivalence with a from-scratch batch over everything (END semantics)
    val batch = wordcount(spark.read.text(in).withColumnRenamed("value", "line"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(second == batch)
  }

  test("parquet-sink drain equals the memory-sink form and batch (scale path)") {
    val in = tmpDir("graft-pq-in")
    writeLines(in, "a.txt", Seq("to be or not", "to be"))
    writeLines(in, "b.txt", Seq("be be", "or not or"))
    val batch = wordcount(spark.read.text(in).withColumnRenamed("value", "line"))
      .orderBy("word").collect().map(r => (r.getString(0), r.getLong(1)))
    val viaParquet = BoundedStream.runAvailableNowToParquet(
      spark, BoundedStream.textStream(spark, in), wordcount,
      tmpDir("graft-pq-ckpt"), tmpDir("graft-pq-out"))
      .orderBy("word").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(viaParquet.toSeq == batch.toSeq && batch.nonEmpty)
  }

  test("foreachBatch adapts a batch sink to the bounded stream") {
    val in = tmpDir("graft-feb-in")
    writeLines(in, "a.txt", Seq("k k j"))
    var seen: Map[String, Long] = Map.empty
    BoundedStream.runForeachBatch(
      BoundedStream.textStream(spark, in), wordcount,
      tmpDir("graft-feb-ckpt"), "complete") { (df, _) =>
      seen = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    }
    assert(seen == Map("k" -> 2L, "j" -> 1L))
  }

  test("append-mode parquet drain: multi-batch union, batch partitions, replay-idempotent layout") {
    import org.apache.spark.sql.DataFrame
    val in = tmpDir("graft-ap-in")
    writeLines(in, "a.txt", Seq("x", "y"))
    writeLines(in, "b.txt", Seq("z"))
    val out = tmpDir("graft-ap-out")
    val ckpt = tmpDir("graft-ap-ckpt")
    val ident = (df: DataFrame) => df.select(col("line"))
    // one file per trigger -> two micro-batches, each landing in its own
    // graft_batch_id=<id> partition (the idempotent-replay unit)
    val drained = BoundedStream.runAvailableNowToParquet(spark,
      BoundedStream.textStream(spark, in, maxFilesPerTrigger = Some(1)),
      ident, ckpt, out, outputMode = "append")
    assert(drained.collect().map(_.getString(0)).sorted.toSeq == Seq("x", "y", "z"))
    assert(!drained.columns.contains("graft_batch_id")) // key column dropped
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("graft_batch_id=")).map(_.getName).sorted
    assert(parts.length == 2, parts.toSeq)
    // draining AGAIN on the same checkpoint (a completed-run restart —
    // every batch already committed) must not duplicate any row
    val again = BoundedStream.runAvailableNowToParquet(spark,
      BoundedStream.textStream(spark, in, maxFilesPerTrigger = Some(1)),
      ident, ckpt, out, outputMode = "append")
    assert(again.collect().map(_.getString(0)).sorted.toSeq == Seq("x", "y", "z"))
  }

  private def singlePart(dir: String): String = {
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size == 1, s"expected one part file in $dir, got $parts")
    new String(Files.readAllBytes(parts.head), "UTF-8")
  }

  test("Crane sinks under foreachBatch: one job per micro-batch, files byte-equal to the batch path") {
    val words = tmpDir("graft-1job-words")
    writeLines(words, "a.txt", Seq("to be or not", "to be"))
    writeLines(words, "b.txt", Seq("be be", "or not or"))
    val logs = tmpDir("graft-1job-logs")
    writeLines(logs, "a.log", Seq(
      """h1 - - [01/Jul/1995:00:00:01 -0400] "GET /a HTTP/1.0" 200 100""",
      """h2 - - [01/Jul/1995:00:00:02 -0400] "GET /z HTTP/1.0" 404 0"""))
    writeLines(logs, "b.log", Seq(
      """h1 - - [01/Jul/1995:00:00:03 -0400] "GET /b HTTP/1.0" 200 100""",
      """h2 - - [01/Jul/1995:00:00:04 -0400] "GET /y HTTP/1.0" 200 50"""))
    val hosts: DataFrame => DataFrame = df =>
      Relational.countAndDistinct(Relational.routeProjection(
          LogLines.parseClf(df, "line")
            .filter(Relational.equalsFilter(col("status"), "200")),
          "host", "url"), "host", "route")
        .withColumn("routes", split(col("routes"), ","))
    val topologies: Seq[(String, DataFrame => DataFrame,
        (DataFrame, String) => Unit)] = Seq(
      (words, wordcount, (df, p) => Sinks.writeWordCount(df, "word", "cnt", p)),
      (logs, hosts,
        (df, p) => Sinks.writeHostReport(df, "host", "cnt", "routes", p)))
    val sc = spark.sparkContext
    topologies.foreach { case (in, transform, sink) =>
      // (query id, batch id) of every job a streaming batch submits
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(e.properties).foreach { p =>
            Option(p.getProperty("streaming.sql.batchId")).foreach(b =>
              jobs.add((p.getProperty("sql.streaming.queryId"), b)))
          }
      }
      sc.addSparkListener(listener)
      val out = tmpDir("graft-1job-out")
      var queryId = ""
      var batches = Seq.empty[Long]
      try {
        BoundedStream.runForeachBatch(
          BoundedStream.textStream(spark, in, maxFilesPerTrigger = Some(1)),
          transform, tmpDir("graft-1job-ckpt"), "complete") { (df, id) =>
          queryId = df.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId")
          sink(df, s"$out/b$id")
          batches :+= id
        }
        org.apache.spark.TestListenerBus.drain(sc)
      } finally sc.removeSparkListener(listener)
      assert(batches.size == 2, batches)
      val perBatch = jobs.asScala.toSeq.filter(_._1 == queryId)
        .groupBy(_._2).map { case (b, js) => b.toLong -> js.size }
      assert(perBatch == batches.map(_ -> 1).toMap,
        s"jobs per batch ($in): $perBatch")
      // complete mode: the last batch's file is the whole answer
      val batchOut = tmpDir("graft-1job-batch") + "/out"
      sink(transform(spark.read.text(in).withColumnRenamed("value", "line")),
        batchOut)
      assert(singlePart(s"$out/b${batches.last}") == singlePart(batchOut))
    }
  }

  test("a second query of the same topology compiles no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val in = tmpDir("graft-codegen-in")
    writeLines(in, "a.txt", Seq("to be or not", "to be"))
    writeLines(in, "b.txt", Seq("be be", "or not or"))
    def drain(): Unit = {
      val out = tmpDir("graft-codegen-out")
      BoundedStream.runForeachBatch(
        BoundedStream.textStream(spark, in, maxFilesPerTrigger = Some(1)),
        wordcount, tmpDir("graft-codegen-ckpt"), "complete") { (df, id) =>
        Sinks.writeWordCount(df, "word", "cnt", s"$out/b$id")
      }
    }
    drain() // the first query compiles what this topology needs
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    drain() // a fresh checkpoint: a new query in a new cloned session
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "the second query re-compiled generated classes")
  }
}

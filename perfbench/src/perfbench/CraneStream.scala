package perfbench

import java.nio.file.{Files, Path}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.operators.Relational
import graft.sinks.Sinks
import graft.sources.{CsvSource, LogLines}
import graft.streaming.BoundedStream

/** Crane's three topologies as Structured Streaming queries over
  * [[BoundedStream.textStream]], each writing through its Crane sink.
  *
  * Phase A (drain): a backlog of `BacklogFiles` files per topology is
  * drained with `MaxFilesPerTrigger` admission, one topology after another;
  * its triggers give the per-trigger latency and its rows the drain rate.
  * Phase B (open loop), with all three queries running: one
  * generator thread publishes one file per topology every `TickMs`, on a fixed
  * schedule that does not slow when the engine does; each file's latency runs
  * from its due time to the end of the sink write of the batch that read it.
  * The offered rate is a constant below the drain rate phase A measures, so
  * the backlog at the end of phase B should stay near zero.
  */
object CraneStream {
  val MaxFilesPerTrigger = 2
  val BacklogFiles = 12
  val BacklogLines = 400
  val TickMs = 1000
  val TickLines = 200
  val MaxTicks = 30
  val WarmFiles = 6

  final case class Topo(name: String, gen: (Random, Int) => Seq[String],
                        transform: DataFrame => DataFrame,
                        sink: (DataFrame, String) => Unit)

  val topologies: Seq[Topo] = Seq(
    Topo("wordcount", Gen.textLines,
      lines => Relational.wordCount(lines, "line"),
      (df, p) => Sinks.writeWordCount(df, "word", "cnt", p)),
    Topo("reddit_topk", Gen.redditLines,
      lines => {
        val posts = CsvSource.parseCsvColumn(lines, "line", CsvSource.redditRaw)
          .filter(Relational.nonNegative(Relational.toIntOrNull(col("score"))))
        Relational.topK(Relational.countPerKey(posts, "username"), 50,
          desc = "cnt", tieBreak = "username")
      },
      (df, p) => Sinks.writeTopK(df, "username", "cnt", 50, p)),
    Topo("nasalog_routes", Gen.clfLines,
      lines => {
        val ok = LogLines.parseClf(lines, "line")
          .filter(Relational.equalsFilter(col("status"), "200"))
        Relational.countAndDistinct(
          Relational.routeProjection(ok, "host", "url"), "host", "route")
      },
      (df, p) => Sinks.writeHostReport(
        df.withColumn("routes", split(col("routes"), ",")), "host", "cnt",
        "routes", p)))

  private def srcDir(root: Path, t: Topo): Path = root.resolve(s"src_${t.name}")

  /** Inputs and directories of one prepared run. */
  final class Prepared(val root: Path, val backlogRows: Long,
                       val tickContent: Map[String, IndexedSeq[Array[Byte]]]) {
    def src(t: Topo): Path = srcDir(root, t)
    def out(t: Topo): Path = root.resolve(s"out_${t.name}")
    def ckpt(t: Topo): Path = root.resolve(s"ckpt_${t.name}")
    val staging: Path = root.resolve("staging")
  }

  /** Generate the backlog and the phase-B file contents under `root`. */
  def prepare(root: Path, seed: Long): Prepared = {
    val r = new Random(seed)
    val staging = Files.createDirectories(root.resolve("staging"))
    var rows = 0L
    val ticks = topologies.map(t =>
      t.name -> IndexedSeq.fill(MaxTicks)(Gen.bytes(t.gen(r, TickLines)))).toMap
    topologies.foreach { t =>
      val src = Files.createDirectories(srcDir(root, t))
      (0 until BacklogFiles).foreach { i =>
        val lines = t.gen(r, BacklogLines)
        rows += lines.size
        Gen.publish(staging, src, f"a-$i%05d.txt", Gen.bytes(lines))
      }
    }
    new Prepared(root, rows, ticks)
  }

  /** Drain `WarmFiles` files of its own through each topology, so the timed
    * queries do not pay for class loading, code generation and early JIT
    * compilation; with two files the timed triggers were still 12% slower
    * than late in the run.
    */
  def warm(spark: SparkSession, p: Prepared, seed: Long): Unit = {
    val r = new Random(seed + 1)
    topologies.map { t =>
      val dir = Files.createDirectories(p.root.resolve(s"warm_${t.name}"))
      (0 until WarmFiles).foreach(i =>
        Gen.publish(p.staging, dir, s"w-$i.txt", Gen.bytes(t.gen(r, BacklogLines))))
      start(spark, t, dir, p.root.resolve(s"warm_ckpt_${t.name}"),
        p.root.resolve(s"warm_out_${t.name}"), s"warm_${t.name}", TrieMap.empty)
    }.foreach { q => q.processAllAvailable(); q.stop() }
  }

  type SinkTimes = TrieMap[Long, (Double, Double)]

  def start(spark: SparkSession, t: Topo, src: Path, ckpt: Path, out: Path,
            name: String, sinkTimes: SinkTimes): StreamingQuery = {
    val write: (DataFrame, Long) => Unit = (df, id) => {
      val t0 = Clock.now
      t.sink(df, out.toString)
      sinkTimes(id) = (t0, Clock.now)
    }
    t.transform(BoundedStream.textStream(spark, src.toString, Some(MaxFilesPerTrigger)))
      .writeStream.outputMode("complete").queryName(name)
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch(write).start()
  }

  private def isoMs(ts: String): Double = java.time.Instant.parse(ts).toEpochMilli.toDouble
  private def d(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def fileNames(dir: Path): Seq[String] =
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.map(_.getFileName.toString).toVector)

  /** File name -> batch id, from the file source's metadata log. */
  private def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    fileNames(dir).filter(!_.startsWith("."))
      .flatMap(f => Files.readAllLines(dir.resolve(f)).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }

  private def sinkLines(dir: Path): Seq[String] =
    fileNames(dir).filter(_.startsWith("part-")).sorted
      .flatMap(f => Files.readAllLines(dir.resolve(f)).asScala)

  /** Phase A: start each query on its backlog and wait until it has read
    * all of it before starting the next, so a trigger's time is its own and
    * not a share of another query's. Reports the drain rate and per-trigger
    * figures; the queries keep running for phase B.
    */
  def drain(spark: SparkSession, p: Prepared, rep: Report): (Seq[StreamingQuery], Map[String, SinkTimes]) = {
    val sinks = topologies.map(t => t.name -> (TrieMap.empty: SinkTimes)).toMap
    val t0 = Clock.now
    val cpu0 = Clock.cpuMs
    val qs = topologies.map { t =>
      val q = start(spark, t, p.src(t), p.ckpt(t), p.out(t), t.name, sinks(t.name))
      rep.op(q.processAllAvailable())
      q
    }
    val wallA = Clock.now - t0
    val cpuA = Clock.cpuMs - cpu0
    val phaseA = qs.map(q => q.id -> q.recentProgress.filter(_.numInputRows > 0).toSeq).toMap
    val triggersA = phaseA.values.flatten.toSeq
    val rowsA = triggersA.map(_.numInputRows).sum
    val trig = triggersA.map(d(_, "triggerExecution"))
    rep.attempted += triggersA.size
    rep.named("stream_rows_per_s") = M(rowsA / (wallA / 1000), "rows/s", triggersA.size)
    rep.named("trigger_p50_ms") = M(Stats.median(trig), "ms", trig.size)
    rep.named("trigger_p90_ms") = M(Stats.pct(trig, 0.9), "ms", trig.size)
    rep.e2e("op_p50_ms") = rep.named("trigger_p50_ms")
    rep.e2e("throughput_per_s") = rep.named("stream_rows_per_s").copy(unit = "items/s")
    rep.named("trigger_cpu_ms") = M(cpuA / triggersA.size, "ms", triggersA.size)
    rep.e2e("op_cpu_ms") = rep.named("trigger_cpu_ms")
    rep.check("phase_a_rows", rowsA == p.backlogRows, s"read $rowsA of ${p.backlogRows} rows")
    val keys = Seq("latestOffset" -> "streaming.latest_offset_ms",
      "queryPlanning" -> "streaming.query_planning_ms",
      "addBatch" -> "streaming.add_batch_ms", "walCommit" -> "streaming.wal_commit_ms",
      "commitOffsets" -> "streaming.commit_offsets_ms")
    keys.foreach { case (k, m) => rep.layer(m) = M(Stats.median(triggersA.map(d(_, k))), "ms", trig.size) }
    rep.layer("streaming.overhead_ms") = M(Stats.median(triggersA.map(x =>
      d(x, "triggerExecution") - d(x, "addBatch"))), "ms", trig.size)
    rep.layer("streaming.rows_per_trigger") = M(Stats.median(triggersA.map(_.numInputRows.toDouble)), "rows", trig.size)
    val lastA = phaseA.values.flatMap(_.lastOption).toSeq
    rep.layer("streaming.state_rows") = M(lastA.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum, "rows", lastA.size)
    rep.layer("streaming.state_bytes") = M(lastA.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum, "bytes", lastA.size)
    (qs, sinks)
  }

  def run(spark: SparkSession, p: Prepared, tracer: Tracer, rep: Report, seconds: Int): Unit = {
    val (qs, sinks) = drain(spark, p, rep)

    // Phase B: open loop at a constant offered rate.
    val ticks = math.min(MaxTicks, math.max(1, seconds * 1000 / 2 / TickMs))
    val due = Array.ofDim[Double](ticks)
    val published = Array.ofDim[Double](ticks)
    val base = Clock.now + TickMs
    val genSpans = Array.ofDim[(Double, Double)](ticks)
    val generator = new Thread(() => {
      (0 until ticks).foreach { i =>
        due(i) = base + i.toDouble * TickMs
        val wait = due(i) - Clock.now
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val g0 = Clock.now
        topologies.foreach(t => Gen.publish(p.staging, p.src(t), f"b-$i%05d-${due(i).toLong}.txt",
          p.tickContent(t.name)(i)))
        published(i) = Clock.now
        genSpans(i) = (g0, published(i))
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    val endB = Clock.now
    qs.foreach(q => rep.op(q.processAllAvailable()))
    qs.foreach(_.stop())

    val lat = Seq.newBuilder[Double]
    var backlog = 0
    topologies.zip(qs).foreach { case (t, q) =>
      val batches = fileBatches(p.ckpt(t))
      (0 until ticks).foreach { i =>
        val f = f"b-$i%05d-${due(i).toLong}.txt"
        batches.get(f).flatMap(sinks(t.name).get) match {
          case Some((_, done)) =>
            lat += done - due(i)
            if (done > endB) backlog += 1
          case None => rep.check(s"${t.name}_file_consumed", ok = false, f)
        }
      }
    }
    val lats = lat.result()
    rep.attempted += lats.size
    rep.named("event_latency_p50_ms") = M(Stats.median(lats), "ms", lats.size)
    rep.named("event_latency_p90_ms") = M(Stats.pct(lats, 0.9), "ms", lats.size)
    rep.layer("streaming.event_latency_p50_ms") = rep.named("event_latency_p50_ms")
    rep.layer("streaming.event_latency_p90_ms") = rep.named("event_latency_p90_ms")
    rep.layer("streaming.backlog_files") = M(backlog, "files", ticks * topologies.size)
    val lag = (0 until ticks).map(i => published(i) - due(i))
    rep.layer("generator.lag_p95_ms") = M(Stats.pct(lag, 0.95), "ms", ticks)
    rep.context("offered_files_per_s") = f"${topologies.size * 1000.0 / TickMs}%.1f"

    // Spans from progress events: a trigger and its phases, Spark's order.
    if (tracer.on) {
      genSpans.zipWithIndex.foreach { case ((a, b), i) =>
        tracer.add(0, s"tick:$i", "generator.publish", "generator", a, b) }
      topologies.zip(qs).foreach { case (t, q) =>
        q.recentProgress.filter(_.numInputRows > 0).foreach { pr =>
          val op = s"${t.name}:${pr.batchId}"
          val s0 = isoMs(pr.timestamp)
          val trigger = tracer.add(0, op, "streaming.trigger", "streaming", s0, s0 + d(pr, "triggerExecution"))
          var at = s0
          def phase(key: String, name: String, layer: String): Long = {
            val id = tracer.add(trigger, op, name, layer, at, at + d(pr, key))
            at += d(pr, key)
            id
          }
          phase("latestOffset", "sources.latest_offset", "sources")
          phase("walCommit", "streaming.wal_commit", "streaming")
          phase("getBatch", "sources.get_batch", "sources")
          phase("queryPlanning", "streaming.query_planning", "streaming")
          val add = phase("addBatch", "streaming.add_batch", "streaming")
          phase("commitOffsets", "streaming.commit_offsets", "streaming")
          val sink = sinks(t.name).get(pr.batchId).map { case (a, b) =>
            tracer.add(add, op, "sinks.write", "sinks", a, b) }
          tracer.bind(s"${q.id}:${pr.batchId}", sink.toSeq :+ add)
        }
      }
    }

    // Output check: each topology's final streaming result equals the batch
    // operator over the same files, written through the same sink.
    topologies.foreach { t =>
      val batchOut = p.root.resolve(s"batch_${t.name}")
      rep.op(t.sink(t.transform(spark.read.text(p.src(t).toString)
        .withColumnRenamed("value", "line")), batchOut.toString))
      val (a, b) = (sinkLines(p.out(t)), sinkLines(batchOut))
      rep.check(s"${t.name}_stream_equals_batch", a.nonEmpty && a == b,
        s"${a.size} streamed lines vs ${b.size} batch lines")
    }
  }
}

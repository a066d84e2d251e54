package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.GraftSession

/** One workload run in one JVM: start a session, set up several times
  * (reporting the median), run the timed part, check the outputs, and write
  * the report as JSON. run.py drives it and prints the result line.
  *
  * Arguments: --workload crane_stream|store_sync|store_search --seed N
  * --seconds N --trace 0|1 --cores N --work DIR --out FILE
  */
object Main {
  val SetupRounds = 3
  val Layers = Seq("generator", "sources", "streaming", "sinks", "operators", "api", "spark", "bench")

  def main(args: Array[String]): Unit = {
    val t0 = Clock.now
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work"))
    var spark = GraftSession.local(cores, "perfbench")
    val sessionMs = Clock.now - t0
    val rep = new Report(workload)
    rep.context ++= Seq("seed" -> seed.toString, "spark_cores" -> cores.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_version" -> spark.version)

    /** setup_s: session start, the median of SetupRounds input-generation
      * rounds, and one build-and-warmup over the first round's inputs (store
      * builds, or a short drain per topology). The build runs once because a
      * cold store build alone takes 17-20 s here.
      */
    def setups[P](prepare: Path => P, build: P => Unit): IndexedSeq[P] = {
      val runs = (0 until SetupRounds).map { r =>
        val s0 = Clock.now
        val p = prepare(work.resolve(s"setup$r"))
        (p, Clock.now - s0)
      }
      val b0 = Clock.now
      build(runs.head._1)
      val buildMs = Clock.now - b0
      rep.e2e("setup_s") = M((sessionMs + Stats.median(runs.map(_._2)) + buildMs) / 1000, "s", SetupRounds)
      def sec(ms: Double) = f"${ms / 1000}%.2f"
      rep.context("setup_parts_s") =
        s"session ${sec(sessionMs)}, rounds ${runs.map(r => sec(r._2)).mkString(" ")}, build and warmup ${sec(buildMs)}"
      runs.map(_._1)
    }

    /** The timed pass, untraced, on the first round's inputs; with --trace 1
      * a second, traced pass follows on the inputs `tracedInputs` picks, and
      * the difference between the two passes is the tracing overhead.
      */
    def passes[P](prepare: Path => P, build: P => Unit)(tracedInputs: IndexedSeq[P] => P)(
        run: (P, Tracer, Report) => Unit): Unit = {
      val ps = setups(prepare, build)
      run(ps(0), new Tracer(false), rep)
      if (trace) {
        val p = tracedInputs(ps)
        val tracer = new Tracer(true)
        tracer.register(spark.sparkContext)
        val traced = new Report(workload)
        run(p, tracer, traced)
        val spans = tracer.finish(spark.sparkContext)
        summarize(spans, traced)
        Files.write(work.resolve("spans.jsonl"), spans.map(spanJson).asJava, UTF_8)
        rep.layer ++= traced.layer
        rep.named ++= traced.named.map { case (k, v) => s"traced.$k" -> v }
        rep.absorb(traced, "traced")
        val (u, t) = (rep.e2e, traced.e2e)
        rep.layer("trace.overhead_op_p50_ms") =
          M(t("op_p50_ms").value - u("op_p50_ms").value, "ms", t("op_p50_ms").n)
        rep.layer("trace.overhead_throughput_share") = M(
          1 - t("throughput_per_s").value / u("throughput_per_s").value, "ratio", t("throughput_per_s").n)
      }
    }

    try {
      workload match {
        case "crane_stream" =>
          // fresh files; the JVM is already warm
          passes(CraneStream.prepare(_, seed), CraneStream.warm(spark, _, seed))(_(1)) {
            (p, tr, r) => CraneStream.run(spark, p, tr, r, seconds) }
          if (trace) {
            // single-threaded baseline: the same phase-A drain under local[1]
            spark.stop()
            spark = GraftSession.local(1, "perfbench-local1")
            val p = CraneStream.prepare(work.resolve("local1"), seed)
            CraneStream.warm(spark, p, seed)
            val base = new Report(workload)
            CraneStream.drain(spark, p, base)._1.foreach(_.stop())
            rep.layer("baseline.local1_rows_per_s") = base.named("stream_rows_per_s")
            rep.absorb(base, "local1")
          }
        case "store_sync" =>
          // the first pass changed its stores: build a second set
          passes(StoreWorkloads.prepareSync(spark, _, seed), StoreWorkloads.buildSync(spark, _))(
            ps => { StoreWorkloads.buildSync(spark, ps(1)); ps(1) }) {
            (p, tr, r) => StoreWorkloads.runSync(spark, p, tr, r, seconds) }
        case "store_search" =>
          // searches leave the stores as they were: query them again
          passes(StoreWorkloads.prepareSearch(spark, _, seed), StoreWorkloads.buildSearch(spark, _))(_(0)) {
            (p, tr, r) => StoreWorkloads.runSearch(spark, p, tr, r, seconds) }
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // wall-clock figures of the untraced pass: reported, not gated
      Seq("op_p50_ms", "throughput_per_s").foreach(k => rep.e2e.get(k).foreach(rep.layer(s"wall.$k") = _))
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        rep.failed += 1
        rep.check("run_completed", ok = false, e.toString)
        e.printStackTrace()
    }
    rep.layer("process.peak_rss_mb") = M(peakRssMb, "MB", 1)
    Files.write(Paths.get(a("out")), rep.json.getBytes(UTF_8))
    spark.stop()
  }

  /** VmHWM of this process: the peak resident set since it started. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def spanJson(s: Span): String =
    f"""{"id": ${s.id}, "parent": ${s.parent}, "op": "${s.op}", "name": "${s.name}", """ +
      f""""layer": "${s.layer}", "start": ${s.start}%.3f, "end": ${s.end}%.3f, "tasks": ${s.tasks}, """ +
      s""""bytes_read": ${s.bytesRead}, "bytes_written": ${s.bytesWritten}, "shuffle_bytes": ${s.shuffleBytes}}"""

  /** Per-layer metrics from the spans: per-call medians for every verb and
    * query kind, Spark work per trigger, and each layer's self time.
    */
  private def summarize(spans: Seq[Span], rep: Report): Unit = {
    val self = Tracer.selfMs(spans)
    val jobs = spans.filter(_.name == "spark.job")
    val jobsOf = jobs.groupBy(_.parent)
    def calls(name: String) = spans.filter(_.name == name)
    def med(xs: Seq[Span], f: Span => Double, unit: String) =
      M(if (xs.isEmpty) 0.0 else Stats.median(xs.map(f)), unit, xs.size)
    def kids(s: Span) = jobsOf.getOrElse(s.id, Nil)
    def sum(s: Span, f: Span => Long) = kids(s).map(f).sum.toDouble

    Seq("snapshot_delta", "sync_text", "sync_ivfpq", "maintain_text", "maintain_ivfpq").foreach { v =>
      val c = calls(s"operators.$v")
      rep.layer(s"operators.$v.ms") = med(c, _.ms, "ms")
      rep.layer(s"operators.$v.jobs") = med(c, kids(_).size.toDouble, "jobs")
      rep.layer(s"operators.$v.tasks") = med(c, sum(_, _.tasks), "tasks")
      rep.layer(s"operators.$v.bytes_read") = med(c, sum(_, _.bytesRead), "bytes")
      rep.layer(s"operators.$v.bytes_written") = med(c, sum(_, _.bytesWritten), "bytes")
      rep.layer(s"operators.$v.shuffle_bytes") = med(c, sum(_, _.shuffleBytes), "bytes")
      rep.layer(s"operators.$v.driver_gap_ms") = med(c, s => self(s.id), "ms")
    }
    Seq("bm25", "ivfpq").foreach { k =>
      val an = calls(s"api.$k.analysis")
      rep.layer(s"api.$k.analysis_ms") = med(an, _.ms, "ms")
      rep.layer(s"api.$k.analysis_jobs") = med(an, kids(_).size.toDouble, "jobs")
      val ex = calls(s"operators.$k.exec")
      rep.layer(s"operators.$k.exec_ms") = med(ex, _.ms, "ms")
      rep.layer(s"operators.$k.jobs") = med(ex, kids(_).size.toDouble, "jobs")
      rep.layer(s"operators.$k.tasks") = med(ex, sum(_, _.tasks), "tasks")
      rep.layer(s"operators.$k.bytes_read") = med(ex, sum(_, _.bytesRead), "bytes")
    }
    val triggers = calls("streaming.trigger")
    val jobsByOp = jobs.groupBy(_.op)
    rep.layer("spark.jobs_per_trigger") = med(triggers, t => jobsByOp.getOrElse(t.op, Nil).size.toDouble, "jobs")
    rep.layer("spark.tasks_per_trigger") = med(triggers, t => jobsByOp.getOrElse(t.op, Nil).map(_.tasks).sum.toDouble, "tasks")

    val ops = spans.count(s => s.parent == 0 && s.layer != "generator")
    Layers.foreach { l =>
      val ms = spans.filter(_.layer == l).map(s => self(s.id)).sum
      rep.layer(s"self.$l.ms_per_op") = M(if (ops == 0) 0.0 else ms / ops, "ms", ops)
    }
  }
}

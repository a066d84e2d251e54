package graft

import scala.collection.mutable

/** Per-job profile of ONE declared query: `runMain graft.ProfileOne
  * <queryName> [sfDir]` runs the gate once (warm) with a listener that
  * records every Spark job's wall time, task count and description — the
  * measure-first tool for the store-lifecycle gates, whose cost at the
  * bench fixture is the NUMBER of sequential jobs × per-job latency, not
  * data volume (documents = 5000 rows at sf0.1). Prints a table sorted by
  * job start plus the time some job was running (the union of the job
  * intervals) vs end-to-end wall — the gap is driver-side work (planning,
  * FS round trips, commit protocol).
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(GraftSession.envCores, "graft-profile")
    case class J(id: Int, desc: String, start: Long,
                 var end: Long = 0L, var nTasks: Int = 0)
    val jobs = mutable.LinkedHashMap[Int, J]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = J(e.jobId, desc, e.time,
            nTasks = e.stageInfos.map(_.numTasks).sum)
        }
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    }
    def runOnce(): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      SparkEntry.cleanupStreamArtifacts(spark)
    }
    runOnce(); cleanup() // untimed warmup, same protocol as Bench
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    runOnce()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the listener bus drain the last job-end events
    val js = jobs.synchronized(jobs.values.toSeq.sortBy(_.start))
    // the union of the job intervals: jobs Par.run overlaps count once
    val inJob = js.map(j => (j.start, math.max(j.start, j.end)))
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1 / 1e3
    println(f"[profile] $name: wall ${wall}%.2fs, ${js.size} jobs, " +
      f"in-job ${inJob}%.2fs, driver-side gap ${wall - inJob}%.2fs")
    var prevEnd = 0L
    js.foreach { j =>
      val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
      prevEnd = math.max(prevEnd, j.end)
      println(f"[job] ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3fs " +
        f"gapBefore ${gap}%7.3fs tasks ${j.nTasks}%4d  ${j.desc.take(110)}")
    }
    cleanup()
    spark.stop()
  }
}

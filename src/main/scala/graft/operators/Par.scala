package graft.operators

/** Overlap INDEPENDENT Spark actions from a bounded driver thread pool —
  * the optimization guide's §2.6 lever: actions are only sequential
  * because the driver submits them sequentially. A store verb writing its
  * components (the text index's postings / terms / stats / docs —
  * different segment directories, no cross-dependency) gains
  * twice from overlap: each job's task tail back-fills the others' idle
  * cores, and the per-job DRIVER costs (planning, commit protocol, FS
  * round trips — measured at 30-40% of the store-lifecycle gates' wall in
  * ProfileOne) run concurrently instead of summing.
  *
  * Caller contract: tasks must be independent (no shared mutable state,
  * no ordering), and any SHARED cached frame must be materialized BEFORE
  * forking — two concurrent actions racing to populate one cache entry
  * compute overlapping partitions twice (correct, but wasted CPU).
  * [[CacheScope]] registration happens at frame construction on the
  * caller's thread, so scoped unpersist is unaffected by where the
  * actions run.
  *
  * Failure semantics: waits for ALL tasks (no half-cancelled store
  * writes), then rethrows the first failure in task order.
  */
private[graft] object Par {

  /** Run `body` with a Spark job description (guide §1.5): every job it
    * submits carries `label` in the UI, event log and ProfileOne's table.
    * Restores the previous description after; thread-local, so Par tasks
    * label independently.
    */
  def described[T](spark: org.apache.spark.sql.SparkSession,
                   label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body
    finally sc.setJobDescription(prev)
  }

  /** Cap on concurrent driver-side actions. 2-3 jobs in flight is the
    * guide's "enough to fill the tail, not so many that they fight" —
    * but these tasks are mostly DRIVER latency (planning, commit, FS
    * round trips), not executor contention, and the widest fork (the
    * fused delete+compact: postings/terms/positions/docs/stats) is 5
    * tasks; at 4 threads its fifth serialized behind the pool (r16).
    */
  private val MaxThreads = 6

  def run(tasks: (() => Unit)*): Unit = {
    if (tasks.lengthCompare(1) <= 0) { tasks.foreach(_.apply()); return }
    // DEADLOCK GUARD — jstack-confirmed failure mode (r15: three driver
    // runs stalled at q219 and were killed at their window boundary): an
    // EAGER table-valued function (the audit verbs) runs its operator
    // inside the analyzer while SessionCatalog.resolveBuiltinOrTemp-
    // FunctionInternal holds the SessionCatalog monitor. If that operator
    // forks tasks here, each forked task's own query analysis blocks on
    // the same monitor (LookupFunctions → lookupBuiltinOrTempFunction is
    // synchronized on the catalog), while this thread waits on their
    // futures — a permanent deadlock. Under the lock no overlap is
    // possible anyway, so detect it (the monitor is held by THIS thread —
    // exactly what Thread.holdsLock answers) and run sequentially.
    val underCatalogLock =
      (org.apache.spark.sql.SparkSession.getActiveSession.toSeq ++
        org.apache.spark.sql.SparkSession.getDefaultSession.toSeq)
        .exists(s => Thread.holdsLock(s.sessionState.catalog))
    if (underCatalogLock) { tasks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(MaxThreads, tasks.size))
    try {
      val futs = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = t()
        })
      }
      var firstFailure: Throwable = null
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstFailure == null) firstFailure = e.getCause
        }
      }
      if (firstFailure != null) throw firstFailure
    } finally pool.shutdown()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine — the single place session config
  * lives (Verify, Bench and tests all build their sessions here).
  *
  * The reference system (beado123/stream_processing_system, "Crane") wires its
  * cluster by hand: Nimbus assigns spout/boltc/boltl roles over TCP
  * (`Nimbus.go:628-648`). In our Spark-native engine all of that collapses
  * into a `SparkSession`; this factory pins the configs that matter for a
  * local[N] run while staying valid for a real cluster (where
  * `spark.sql.shuffle.partitions` would be raised or left to AQE).
  */
object GraftSession {

  /** Local session tuned for the test/bench environment: single JVM,
    * `cores` executor threads, AQE on so skewed shuffles re-plan at runtime
    * exactly as they would on a 1000-executor cluster.
    *
    * `nanosAsLong`: earlier fixture generations shipped `events.parquet`
    * with an INT64 TIMESTAMP(NANOS) column which Spark 4.x rejects at scan
    * time ([PARQUET_TYPE_ILLEGAL]) unless this legacy flag is set (the
    * column then surfaces as bigint nanos). The current fixture carries a
    * plain `timestamp[us]` column, for which the flag is a no-op; queries
    * adapt to either surface via `SparkEntry.tsSec`.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // Engine extensions: native functions land in every session built
      // here (operators also self-register lazily, so foreign sessions —
      // e.g. the driver's own — still work).
      .withExtensions(graft.functions.GraftExtensions.inject)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // coalescePartitions.parallelismFirst stays at its DEFAULT (true).
      // A/B-measured this round (BenchOne medians, r15): false (= coalesce
      // small shuffles down to advisoryPartitionSizeInBytes) cuts the
      // store-lifecycle gates' scheduling overhead ~5-10% (q159 10.5s →
      // 9.6s) but regresses the CPU-dense, byte-sparse stages +35% (q92
      // image dedup 2.6s → 3.5s: kilobyte shuffles whose per-row compute
      // NEEDS the parallelism bytes-based sizing takes away). Per-query
      // medians are the driver's contract, so the trade is refused; the
      // store verbs win back their overhead via Par overlap instead.
      .config("spark.sql.session.timeZone", "UTC")
      // Partition discovery: the default threshold (32 paths) sends every
      // read of a cell/bucket-partitioned store (≤4096 cells by the
      // maxCentroids cap, 16-64 buckets typical) through a DISTRIBUTED
      // listing job — measured in ProfileOne as five 50-task listing jobs
      // per IVF lifecycle gate, each 0.1-0.3s, pure scheduling overhead
      // against a local FS. 128 keeps the common store reads on the
      // driver (a 128-dir listing is trivial on any FS) while genuinely
      // wide layouts — a 100 TB store's thousands of partitions on an
      // object store — still get the parallel job. (guide §6/§7.3)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      // saveAsTable target for bucketed tables (kept out of the repo tree)
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // long-lived sessions run many queries in one JVM; shuffle files and
      // broadcast blocks are reclaimed by the ContextCleaner only when the
      // driver GCs, so trigger one periodically (default is 30min — far
      // too lazy for a bench/pipeline session that submits hundreds of jobs)
      .config("spark.cleaner.periodicGC.interval", "1min")
      // Every streaming query runs in a cloned session. With artifact
      // isolation on, each clone gets its own executor class loader, and
      // CodeGenerator's cache is keyed by loader, so each new query
      // compiles all of its generated code again (measured: a second
      // wordcount query ran 15 Janino compilations; none with this off).
      // The engine adds no session artifacts (no addArtifact/addJar), so
      // isolation buys nothing here.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // Log level ERROR, not WARN. Three consecutive driver rounds stalled
    // mid-sweep at an output-volume-correlated, core-count-independent
    // point (r14: amid the WindowExec WARN flood; r15: at gate 131 with
    // DataSource/CacheManager/HintErrorLogger/ResolveWriteToStream WARNs
    // dominating the captured tail). The failure mode: the harness that
    // runs us captures stdout/stderr through a bounded pipe — once its
    // buffer fills, the next console write BLOCKS, and log4j's console
    // appender is synchronized, so every thread that logs freezes with it
    // (the observed "35 minutes of silence until the kill", identical at 8
    // and 32 cores). r15 silenced one logger (WindowExec) and got 50
    // gates further; the durable fix is bounding TOTAL log volume, so the
    // run's output is the per-gate JSON lines plus genuine errors. All the
    // silenced WARNs are known-false alarms on this engine's paths
    // (bounded ≤k-row global windows, intentional re-cache probes, _meta/
    // _zones sidecar dirs next to parquet, hint fallbacks on outer joins,
    // AQE-under-streaming notes).
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Cores requested via env (driver passes SPARK_GRAFT_CPUS), default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}

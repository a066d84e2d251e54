package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zone-map data-skipping store: a table written in key-range ZONES with a
  * tiny min/max/count statistics sidecar, and a read path that consults the
  * sidecar FIRST and plans a scan over only the zones a predicate can
  * touch.
  *
  * This is the file-skipping primitive every 100 TB table format stands on
  * (Delta/Iceberg file stats, parquet row-group min/max — here lifted to
  * explicit, queryable parquet so the pruning DECISION itself is an
  * auditable DataFrame, not reader magic). [[ZOrder]] solves the
  * multi-column version by interleaving ranks INSIDE files; the zone map is
  * the single-key complement that makes the pruning observable: a range
  * predicate touches `O(selectivity · zones)` partitions, and the planner
  * proves it with `PartitionFilters` (asserted in ZoneMapSpec).
  *
  * Zone assignment is EXACT integer arithmetic over a long key —
  * `zone = min(zones−1, (key − minK) · zones ÷ (maxK − minK + 1))` with
  * truncating division on non-negative numerators — so an external engine
  * re-derives every zone id bit-for-bit (the q181 oracle does). Bounds come
  * from one broadcast aggregation row, never a driver scalar.
  *
  * Scale shape: the write is one bounds agg + one hive-partitioned write
  * (the shuffle a layout rewrite pays by definition) + one read-back pass
  * over the written files for the sidecar (consistency by construction —
  * see [[writeZoneMapped]]); the sidecar is ≤ `zones` rows. The read side's zone list is a driver collect BOUNDED
  * by `zones` (≤ [[MaxZones]] — the boundaries-≤-numParts discipline), and
  * the data scan carries the zone `isin` as a partition filter plus the
  * exact key predicate pushed to parquet row groups.
  */
object ZoneMap {

  /** Hard cap on `zones`: the sidecar and the read path's pruning list are
    * driver-materialized, so they must stay trivially bounded. 4096 zones
    * over a 100 TB table is ~25 GB per zone — plenty granular.
    */
  val MaxZones = 4096

  /** KNOWN sidecar schemas (r16 job diet — the store-wide discipline): a
    * schema-less spark.read.parquet pays one footer-sampling driver job
    * per call, and every scan/append/audit consults these two fixed-layout
    * sidecars. `data/` stays inferred — its columns are the caller's.
    */
  private val MetaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("_min_k",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("_max_k",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("zones",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("key_col",
      org.apache.spark.sql.types.StringType)))
  private val ZonesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("zone",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("min_key",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("max_key",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_rows",
      org.apache.spark.sql.types.LongType)))

  /** Exact-integer zone id of a long `key` given inclusive global bounds:
    * an APPENDED key outside the frozen build bounds is clamped to the
    * nearest BOUND first, so it lands in the zone holding that bound (its
    * sidecar min/max widens to cover it) — it never invents a zone.
    * Clamping the KEY rather than the computed zone also means the
    * multiply below can never see a numerator outside the span the guard
    * checked: a far-out-of-range key cannot overflow `(key − minK) ·
    * zones`, wrap, and silently land in an arbitrary interior zone.
    * Within bounds the numerator is non-negative, so truncating long
    * division IS floor and DuckDB `//` agrees term-for-term.
    */
  def zoneOf(key: org.apache.spark.sql.Column,
             minK: org.apache.spark.sql.Column,
             maxK: org.apache.spark.sql.Column, zones: Int) = {
    // (span + 1) · zones must fit a long or the numerator wraps and zone
    // ids silently scramble — fail loudly instead (a span that itself
    // wraps shows up as span < 0). Near-full-range 64-bit keys need a
    // coarser key (e.g. key >> 16) — the honest answer, not a wrong map.
    val span = maxK - minK
    val guarded = when(span < 0L || span > lit(Long.MaxValue / zones - 1),
      raise_error(lit(s"ZoneMap: key span times $zones zones overflows " +
        "64-bit exact assignment — coarsen the key")))
      .otherwise(span)
    val clamped = greatest(minK, least(maxK, key))
    // the quotient is provably < zones (clamped ≤ maxK ⇒ numerator ≤
    // span·zones < (span+1)·zones); the least() is redundant but keeps
    // the expression's [0, zones−1] range self-evident to a reader
    least(lit(zones.toLong - 1),
      call_function("div",                       // IntegralDivide, not the
        (clamped - minK) * lit(zones.toLong),    // fractional `/`
        guarded + lit(1L)))
      .cast("long")
  }

  /** Write `df` zone-partitioned by long column `keyCol` under `path`:
    * `path/data/zone=<z>/…` plus the `path/_zones` sidecar
    * (zone, min_key, max_key, n_rows). Null keys are rejected up front —
    * a null has no range and would silently vanish from every range scan.
    */
  def writeZoneMapped(df: DataFrame, path: String, keyCol: String,
                      zones: Int): Unit =
      graft.operators.StoreLock.withWriteLock(path) {
    require(zones >= 1 && zones <= MaxZones,
      s"zones must be in [1, $MaxZones]: $zones")
    val bRow = df.agg(min(col(keyCol)).cast("long").as("_min_k"),
      max(col(keyCol)).cast("long").as("_max_k")).head
    // min/max of ZERO rows is null: a store built from an empty frame
    // would carry null _meta bounds that NPE every later append/audit —
    // fail the build here with the real reason instead
    require(!bRow.isNullAt(0) && !bRow.isNullAt(1),
      s"ZoneMap: empty input (or all-null $keyCol) cannot be zone-mapped")
    val (minK, maxK) = (bRow.getLong(0), bRow.getLong(1))
    val zoned = df
      .withColumn("zone",
        // a null key has no range: it would land in the hive default
        // partition and silently vanish from every range scan — fail the
        // write instead (raise_error costs nothing on the non-null path)
        when(col(keyCol).isNull,
          raise_error(lit(s"ZoneMap: null $keyCol cannot be zone-mapped")))
          .otherwise(
            zoneOf(col(keyCol).cast("long"), lit(minK), lit(maxK), zones)))
    // CLUSTER by zone before the partitioned write (the store-wide
    // partitionBy discipline, r15): unclustered, every scan task writes
    // a sliver into every zone dir (tasks x zones small files; at the
    // fixture a single task serially creating every zone's file)
    zoned.repartition(math.min(zones,
        df.sparkSession.sparkContext.defaultParallelism), col("zone"))
      .write.mode("overwrite").partitionBy("zone")
      .parquet(s"$path/data")
    // sidecar from the WRITTEN files, not a recompute of the input: a
    // non-deterministic source frame could otherwise disagree with what
    // landed on disk — the silently-pruning-live-rows corruption
    // zoneMapAudit names as the one unrecoverable failure
    df.sparkSession.read.parquet(s"$path/data")
      .groupBy(col("zone").cast("long").as("zone"))
      .agg(min(col(keyCol)).cast("long").as("min_key"),
        max(col(keyCol)).cast("long").as("max_key"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_zones")
    // assignment bounds, FROZEN for the store's lifetime — appends assign
    // against these, like the IVF stores' frozen codebooks
    val sp = df.sparkSession
    import sp.implicits._
    Seq((minK, maxK, zones, keyCol))
      .toDF("_min_k", "_max_k", "zones", "key_col").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_meta")
  }

  /** INCREMENTAL append: assign the batch against the store's FROZEN
    * build bounds (`_meta` — the q111/q125 frozen-model discipline: an
    * append must cost ∝ batch and must not re-zone already-written
    * files), append its rows into the existing zone directories, and
    * MERGE the sidecar (min/max widen, counts add). Keys outside the
    * frozen range clamp into the edge zones, whose sidecar rows widen to
    * cover them — every key stays findable; a drifted key distribution
    * degrades edge-zone pruning, never correctness, and the sidecar makes
    * the drift measurable (the rebuild decision, like
    * [[graft.operators.Similarity.cellOccupancy]] for codebooks).
    */
  def appendZoneMapped(spark: SparkSession, path: String, batch: DataFrame,
                       keyCol: String): Unit =
      graft.operators.StoreLock.withWriteLock(path) {
    val meta = spark.read.schema(MetaSchema).parquet(s"$path/_meta").head
    val (minK, maxK, zones) =
      (meta.getLong(0), meta.getLong(1), meta.getInt(2))
    // PERSIST the zoned batch before anything reads it: the data write
    // and the sidecar stats below must see the SAME rows — a
    // non-deterministic batch frame re-evaluated for the stats would
    // otherwise disagree with what landed on disk, the
    // silently-pruning-live-rows corruption zoneMapAudit names as the
    // one unrecoverable failure (writeZoneMapped rebuilds its sidecar
    // from the written files; an append must stay ∝ batch, so it pins
    // the batch instead of rescanning the store)
    val zoned = batch
      .withColumn("zone",
        when(col(keyCol).isNull,
          raise_error(lit(s"ZoneMap: null $keyCol cannot be zone-mapped")))
          .otherwise(zoneOf(col(keyCol).cast("long"), lit(minK), lit(maxK),
            zones)))
      .persist()
    try {
      zoned.repartition(math.min(zones,
          spark.sparkContext.defaultParallelism), col("zone"))
        .write.mode("append").partitionBy("zone").parquet(s"$path/data")
      val batchStats = zoned.groupBy("zone")
        .agg(min(col(keyCol)).cast("long").as("min_key"),
          max(col(keyCol)).cast("long").as("max_key"),
          count(lit(1)).as("n_rows"))
      val merged = zoneStats(spark, path).unionByName(batchStats)
        .groupBy("zone")
        .agg(min("min_key").as("min_key"), max("max_key").as("max_key"),
          sum("n_rows").as("n_rows"))
        .coalesce(1)
      // materialize BEFORE touching the sidecar being read
      val rows = merged.collect()   // bounded: ≤ zones ≤ MaxZones rows
      // the new sidecar lands complete at a temp path, then SWAPS in —
      // the sidecar is never observable half-written. The residual crash
      // window (data appended, swap not reached) leaves the old sidecar:
      // appended rows are then under-counted/pruned until zoneMapAudit
      // (stat_mismatches > 0) flags the store — detectable, and repaired
      // by re-deriving the sidecar from the data files; a crash INSIDE
      // the swap can at worst leave the sidecar missing (loud), never
      // wrong.
      val tmp = s"$path/_zones_tmp"
      graft.operators.StoreFs.delete(spark, tmp)
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq, 1), merged.schema)
        .write.mode("overwrite").parquet(tmp)
      graft.operators.StoreFs.replace(spark, tmp, s"$path/_zones")
    } finally zoned.unpersist()
  }

  /** The statistics sidecar as a DataFrame — the pruning decision's input,
    * queryable like any other table. Plan construction retries the
    * vanished-file race (a concurrent append/repair swapping the sidecar
    * between our listing and footer read — the sidecar is published by
    * directory swap, whose window is one rename, so one retry settles
    * it).
    */
  def zoneStats(spark: SparkSession, path: String): DataFrame =
    graft.operators.StoreFs.retryTornReads()(
      spark.read.schema(ZonesSchema).parquet(s"$path/_zones"))

  /** The store's fsck: every invariant the scan path depends on, checked
    * against the actual data and reported as ONE row — the q147/q149
    * treatment for the layout store. Checks:
    *
    *  - the sidecar's per-zone (min_key, max_key, n_rows) equal the data's
    *    actual per-zone aggregates (`stat_mismatches` — a wrong sidecar
    *    min/max silently prunes live rows, the one unrecoverable failure);
    *  - sidecar and data agree on the zone SET (`zone_mismatch` counts
    *    zones present on one side only);
    *  - every row sits in the zone the frozen `_meta` bounds assign it
    *    (`misassigned` — clamp included, so appended out-of-range rows
    *    audit clean in their edge zones).
    *
    * One data scan + the (≤ zones)-row sidecar. Output: (zones_meta,
    * zones_sidecar, zones_data, n_rows, zone_mismatch, stat_mismatches,
    * misassigned).
    */
  def zoneMapAudit(spark: SparkSession, path: String): DataFrame = {
    val meta = spark.read.schema(MetaSchema).parquet(s"$path/_meta").head
    val (minK, maxK, zones, keyCol) =
      (meta.getLong(0), meta.getLong(1), meta.getInt(2), meta.getString(3))
    val data = spark.read.parquet(s"$path/data")
      .withColumn("expect_zone",
        zoneOf(col(keyCol).cast("long"), lit(minK), lit(maxK), zones))
    val actual = data.groupBy("zone")
      .agg(min(col(keyCol)).cast("long").as("a_min"),
        max(col(keyCol)).cast("long").as("a_max"),
        count(lit(1)).as("a_rows"),
        sum(when(col("expect_zone") =!= col("zone"), 1L).otherwise(0L))
          .as("a_misassigned"))
    val joined = zoneStats(spark, path)
      .join(actual, Seq("zone"), "full_outer")
    joined.agg(
        lit(zones.toLong).as("zones_meta"),
        count(col("min_key")).as("zones_sidecar"),
        count(col("a_rows")).as("zones_data"),
        coalesce(sum("a_rows"), lit(0L)).as("n_rows"),
        sum(when(col("min_key").isNull || col("a_rows").isNull, 1L)
          .otherwise(0L)).as("zone_mismatch"),
        sum(when(col("min_key") =!= col("a_min") ||
          col("max_key") =!= col("a_max") ||
          col("n_rows") =!= col("a_rows"), 1L).otherwise(0L))
          .as("stat_mismatches"),
        coalesce(sum("a_misassigned"), lit(0L)).as("misassigned"))
  }

  /** REPAIR the statistics sidecar from the data files — the recovery
    * verb for the one failure [[zoneMapAudit]] can detect but the store
    * cannot heal by itself: a crash inside [[appendZoneMapped]]'s window
    * (data appended, sidecar swap not reached) leaves sidecar counts
    * that disagree with disk and a scan that silently prunes live rows.
    * The repair is [[writeZoneMapped]]'s own sidecar derivation — one
    * full pass over `data/` grouped by zone, swapped in via temp-path +
    * rename — so `audit → stat_mismatches > 0 → rebuildZoneSidecar →
    * audit clean` is the complete documented recovery loop (spec-gated
    * in ZoneMapSpec with an injected stale sidecar). Deliberately a
    * separate verb, not an auto-heal: a full data scan is the cost the
    * append path exists to avoid, and the operator should see the audit
    * evidence before paying it.
    */
  def rebuildZoneSidecar(spark: SparkSession, path: String): Unit =
      graft.operators.StoreLock.withWriteLock(path) {
    val keyCol = spark.read.schema(MetaSchema).parquet(s"$path/_meta").head.getString(3)
    val tmp = s"$path/_zones_tmp"
    graft.operators.StoreFs.delete(spark, tmp)
    spark.read.parquet(s"$path/data")
      .groupBy(col("zone").cast("long").as("zone"))
      .agg(min(col(keyCol)).cast("long").as("min_key"),
        max(col(keyCol)).cast("long").as("max_key"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    graft.operators.StoreFs.replace(spark, tmp, s"$path/_zones")
  }

  /** Range scan `lo ≤ key ≤ hi` (inclusive) that reads ONLY zones whose
    * [min_key, max_key] intersects the predicate: the sidecar nominates
    * zone ids (bounded driver list, ≤ `zones` ≤ [[MaxZones]]), the scan
    * carries them as an `isin` PARTITION filter (directories never listed,
    * let alone read), and the exact predicate lands on the parquet scan
    * for row-group pruning inside surviving zones. Rows whose key range no
    * zone covers cost zero data files.
    */
  def scanRange(spark: SparkSession, path: String, keyCol: String,
                lo: Long, hi: Long): DataFrame = {
    // the sidecar consult re-plans AND re-collects on a vanished-file
    // race (the swap window is one rename — one retry settles it)
    val zs = graft.operators.StoreFs.retryTornReads() {
      zoneStats(spark, path)
        .filter(col("max_key") >= lo && col("min_key") <= hi)
        .select("zone").collect().map(_.getLong(0))
    }
    spark.read.parquet(s"$path/data")
      .filter(col("zone").isin(zs.toSeq: _*))
      .filter(col(keyCol) >= lo && col(keyCol) <= hi)
  }
}

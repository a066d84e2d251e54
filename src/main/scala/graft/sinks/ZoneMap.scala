package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{StoreFs, StoreSegments}
import graft.operators.StoreSegments.{Entry, Seg}

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
  * Layout: a write-once log ([[graft.operators.StoreSegments]]). `data` is
  * a component of `zone`-keyed segments, one per write or append; the
  * sidecar is one plain `zones` segment (≤ [[MaxZones]] rows) that every
  * write, append and repair rewrites; the frozen assignment bounds are the
  * entry's facts (`min_k`, `max_k`, `zones`, `key_col`). Each verb commits
  * its data and its sidecar in ONE entry, so a reader never sees rows the
  * sidecar does not cover, and of two racing appends the second loses at
  * its commit, naming the store.
  *
  * Scale shape: the write is one bounds agg + one hive-partitioned write
  * (the shuffle a layout rewrite pays by definition) + one read-back pass
  * over the written files for the sidecar (consistency by construction —
  * see [[writeZoneMapped]]). The read side's zone list is a driver collect
  * BOUNDED by `zones` (≤ [[MaxZones]] — the boundaries-≤-numParts
  * discipline), and the data scan carries the zone `isin` as a partition
  * filter plus the exact key predicate pushed to parquet row groups.
  */
object ZoneMap {

  /** Hard cap on `zones`: the sidecar and the read path's pruning list are
    * driver-materialized, so they must stay trivially bounded. 4096 zones
    * over a 100 TB table is ~25 GB per zone — plenty granular.
    */
  val MaxZones = 4096

  /** The sidecar's fixed layout: a known schema, so no read of it infers.
    * `data/` is typed by its footer — its columns are the caller's.
    */
  private val ZonesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("zone",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("min_key",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("max_key",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_rows",
      org.apache.spark.sql.types.LongType)))

  /** The assignment bounds a build freezes for the store's lifetime. */
  private final case class Bounds(minK: Long, maxK: Long, zones: Int,
                                  keyCol: String) {
    def facts: Map[String, String] = Map("min_k" -> minK.toString,
      "max_k" -> maxK.toString, "zones" -> zones.toString, "key_col" -> keyCol)
    /** The zone of each row of `df` by its `key` column; a null key has
      * no range and would land in the hive default partition, silently
      * vanishing from every range scan — it fails the write instead
      * (raise_error costs nothing on the non-null path).
      */
    def assign(df: DataFrame, key: String): DataFrame =
      df.withColumn("zone",
        when(col(key).isNull,
          raise_error(lit(s"ZoneMap: null $key cannot be zone-mapped")))
          .otherwise(zoneOf(col(key).cast("long"), lit(minK), lit(maxK),
            zones)))
  }

  private def bounds(dir: String, e: Entry): Bounds = {
    def fact(n: String) = e.facts.getOrElse(n, throw new IllegalStateException(
      s"the store at $dir records no zone-map bounds at version ${e.version}"))
    Bounds(fact("min_k").toLong, fact("max_k").toLong, fact("zones").toInt,
      fact("key_col"))
  }

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

  /** Per-zone (zone, min_key, max_key, n_rows) of zoned rows. */
  private def stats(zoned: DataFrame, keyCol: String): DataFrame =
    zoned.groupBy(col("zone").cast("long").as("zone"))
      .agg(min(col(keyCol)).cast("long").as("min_key"),
        max(col(keyCol)).cast("long").as("max_key"),
        count(lit(1)).as("n_rows"))

  /** The rows of `data` at `e`, zone as an Int partition column. */
  private def dataAt(spark: SparkSession, dir: String, e: Entry): DataFrame =
    StoreSegments.readAt(spark, dir, e, "data", "zone")

  private def statsAt(spark: SparkSession, dir: String, e: Entry): DataFrame =
    StoreSegments.scan(spark, dir, e, "zones", "", ZonesSchema)

  /** `zoned` as a new `data` segment, CLUSTERED by zone first (the
    * store-wide partitionBy discipline, r15): unclustered, every task
    * writes a sliver into every zone dir (tasks × zones small files).
    */
  private def writeData(w: StoreSegments.Writer, zoned: DataFrame,
                        zones: Int): Option[Seg] =
    w.keyed("data", "zone", zoned.repartition(math.min(zones,
      w.spark.sparkContext.defaultParallelism), col("zone")))

  /** Write `df` zone-partitioned by long column `keyCol` as the store at
    * `path` (a new version when one is there): the data segment, the
    * `zones` sidecar (zone, min_key, max_key, n_rows) and the bounds in
    * one entry. Null keys are rejected up front — a null has no range and
    * would silently vanish from every range scan.
    */
  def writeZoneMapped(df: DataFrame, path: String, keyCol: String,
                      zones: Int): Unit = {
    require(zones >= 1 && zones <= MaxZones,
      s"zones must be in [1, $MaxZones]: $zones")
    val spark = df.sparkSession
    val bRow = df.agg(min(col(keyCol)).cast("long").as("_min_k"),
      max(col(keyCol)).cast("long").as("_max_k")).head
    // min/max of ZERO rows is null: a store built from an empty frame
    // would carry no bounds to assign appends against — fail the build
    // here with the real reason instead
    require(!bRow.isNullAt(0) && !bRow.isNullAt(1),
      s"ZoneMap: empty input (or all-null $keyCol) cannot be zone-mapped")
    val b = Bounds(bRow.getLong(0), bRow.getLong(1), zones, keyCol)
    StoreSegments.write(spark, path, StoreSegments.latestOpt(spark, path)) { w =>
      val e = Entry(0, 0, positions = false,
        Map("data" -> writeData(w, b.assign(df, keyCol), zones).toSeq),
        facts = b.facts)
      // sidecar from the WRITTEN files, not a recompute of the input: a
      // non-deterministic source frame could otherwise disagree with what
      // landed on disk — the silently-pruning-live-rows corruption
      // zoneMapAudit names as the one unrecoverable failure
      Some(e.set("zones", Seq(w.plain("zones",
        stats(dataAt(spark, path, e), keyCol).coalesce(1)))))
    }
  }

  /** INCREMENTAL append: assign the batch against the store's FROZEN
    * build bounds (the q111/q125 frozen-model discipline: an append must
    * cost ∝ batch and must not re-zone already-written files), write its
    * rows as a new data segment, and MERGE the sidecar (min/max widen,
    * counts add) into the same entry. Keys outside the frozen range clamp
    * into the edge zones, whose sidecar rows widen to cover them — every
    * key stays findable; a drifted key distribution degrades edge-zone
    * pruning, never correctness, and the sidecar makes the drift
    * measurable (the rebuild decision, like
    * [[graft.operators.Similarity.cellOccupancy]] for codebooks).
    */
  def appendZoneMapped(spark: SparkSession, path: String, batch: DataFrame,
                       keyCol: String): Unit =
    append(spark, path, batch, keyCol, None)

  /** [[appendZoneMapped]] recording `txn` in its entry; a `txn` the
    * store already records (a replayed stream batch) commits nothing.
    */
  private[graft] def append(spark: SparkSession, path: String,
                            batch: DataFrame, keyCol: String,
                            txn: Option[(String, Long)]): Unit = {
    val e = StoreSegments.latest(spark, path)
    if (txn.exists { case (src, v) => e.txn.get(src).exists(_ >= v) }) return
    val b = bounds(path, e)
    // PERSIST the zoned batch: the data write and the sidecar stats must
    // see the SAME rows — a non-deterministic batch re-evaluated for the
    // stats would disagree with what landed on disk (writeZoneMapped
    // derives its sidecar from the written files; an append stays ∝
    // batch, so it pins the batch instead of rescanning the store)
    val zoned = b.assign(batch, keyCol).persist()
    try StoreSegments.write(spark, path, Some(e)) { w =>
      val data = writeData(w, zoned, b.zones)
      val merged = statsAt(spark, path, e).unionByName(stats(zoned, keyCol))
        .groupBy("zone")
        .agg(min("min_key").as("min_key"), max("max_key").as("max_key"),
          sum("n_rows").as("n_rows"))
      val rows = merged.collect()   // bounded: ≤ zones ≤ MaxZones rows
      Some(e.set("data", e.segs("data") ++ data)
        .set("zones", Seq(w.plain("zones", spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq, 1), merged.schema))))
        .copy(txn = e.txn ++ txn))
    } finally zoned.unpersist()
  }

  /** The statistics sidecar as a DataFrame — the pruning decision's input,
    * queryable like any other table.
    */
  def zoneStats(spark: SparkSession, path: String): DataFrame =
    statsAt(spark, path, StoreSegments.latest(spark, path))

  /** The store's fsck: every invariant the scan path depends on, checked
    * against the actual data of one entry and reported as ONE row — the
    * q147/q149 treatment for the layout store. Checks:
    *
    *  - the sidecar's per-zone (min_key, max_key, n_rows) equal the data's
    *    actual per-zone aggregates (`stat_mismatches` — a wrong sidecar
    *    min/max silently prunes live rows, the one unrecoverable failure);
    *  - sidecar and data agree on the zone SET (`zone_mismatch` counts
    *    zones present on one side only);
    *  - every row sits in the zone the frozen bounds assign it
    *    (`misassigned` — clamp included, so appended out-of-range rows
    *    audit clean in their edge zones).
    *
    * One data scan + the (≤ zones)-row sidecar. Output: (zones_meta,
    * zones_sidecar, zones_data, n_rows, zone_mismatch, stat_mismatches,
    * misassigned).
    */
  def zoneMapAudit(spark: SparkSession, path: String): DataFrame = {
    val e = StoreSegments.latest(spark, path)
    val b = bounds(path, e)
    val data = dataAt(spark, path, e)
      .withColumn("expect_zone",
        zoneOf(col(b.keyCol).cast("long"), lit(b.minK), lit(b.maxK), b.zones))
    val actual = data.groupBy("zone")
      .agg(min(col(b.keyCol)).cast("long").as("a_min"),
        max(col(b.keyCol)).cast("long").as("a_max"),
        count(lit(1)).as("a_rows"),
        sum(when(col("expect_zone") =!= col("zone"), 1L).otherwise(0L))
          .as("a_misassigned"))
    val joined = statsAt(spark, path, e)
      .join(actual, Seq("zone"), "full_outer")
    joined.agg(
        lit(b.zones.toLong).as("zones_meta"),
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

  /** REPAIR the statistics sidecar from the data files: one full pass
    * over the live data grouped by zone — [[writeZoneMapped]]'s own
    * derivation — committed as a new entry. A verb's data and sidecar
    * commit together, so only damage from outside the store's verbs (a
    * file written into a live segment by hand) leaves the sidecar wrong;
    * `audit → stat_mismatches > 0 → rebuildZoneSidecar → audit clean` is
    * the recovery loop (ZoneMapSpec). A separate verb, not an auto-heal:
    * a full data scan is the cost the append path exists to avoid.
    */
  def rebuildZoneSidecar(spark: SparkSession, path: String): Unit = {
    val e = StoreSegments.latest(spark, path)
    StoreSegments.write(spark, path, Some(e)) { w =>
      Some(e.set("zones", Seq(w.plain("zones",
        stats(dataAt(spark, path, e), bounds(path, e).keyCol).coalesce(1)))))
    }
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
                lo: Long, hi: Long): DataFrame =
    // the sidecar consult collects: a GC that beat it re-resolves
    StoreFs.retryTornReads() {
      val e = StoreSegments.latest(spark, path)
      val zs = statsAt(spark, path, e)
        .filter(col("max_key") >= lo && col("min_key") <= hi)
        .select("zone").collect().map(_.getLong(0))
      dataAt(spark, path, e)
        .filter(col("zone").isin(zs.toSeq: _*))
        .filter(col(keyCol) >= lo && col(keyCol) <= hi)
    }
}

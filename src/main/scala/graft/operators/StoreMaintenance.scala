package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** THRESHOLD-DRIVEN maintenance for the persisted stores — the policy
  * loop an operator schedules instead of babysitting compaction by hand
  * (every LSM store ships one; this is the lakehouse-side equivalent of
  * auto-compaction). One call inspects the store's cheap health signals
  * and applies the SMALLEST sufficient verb:
  *
  *  - **live segments of a component > `maxSegments`** → VACUUM (major
  *    compaction): every append and delete adds segments; a search still
  *    scans each component once, but lists every live segment's files
  *    and resolves a log entry that grows with them — fine at tens,
  *    pointless at thousands ([[Tombstones.vacuum]]);
  *  - **else tombstoned ids > `maxTombstones`** → COMPACT (minor): drain
  *    the delete queue by rewriting only the affected partitions;
  *  - **else** → NONE. Maintenance that isn't due costs one log-entry
  *    read and one scan of the churn-bounded tombstones — nothing touches
  *    a data path, so the PROBE is as cheap at 100 TB as on a fixture.
  *    Only the verb it decides to run pays data costs, and those are the
  *    verbs' own documented bills.
  *
  * Vacuum subsumes compact (the compound vacuum verbs drain tombstones
  * first), so when both thresholds trip one vacuum settles both.
  *
  * Returns a one-row receipt `(store, action, n_tombstones, n_live_legs)`
  * — the decision and the signals it was made from. The verb it runs
  * commits on top of the entry the probe read, so a writer that commits
  * in between makes the verb fail, not act on a stale decision.
  *
  * Reference scope note: the reference's SDFS has no compaction to
  * schedule (append-only replicas, `Nimbus.go` placement); this policy
  * exists for the stores this library adds on top.
  */
object StoreMaintenance {

  /** The receipt's schema, also the `graft_*_maintain` TVFs' output. */
  val receiptSchema: StructType = StructType.fromDDL(
    "store STRING NOT NULL, action STRING NOT NULL, " +
      "n_tombstones BIGINT NOT NULL, n_live_legs BIGINT NOT NULL")

  private def receipt(spark: SparkSession, store: String, action: String,
                      nTomb: Long, nLegs: Long): DataFrame =
    spark.createDataFrame(
      java.util.List.of(Row(store, action, nTomb, nLegs)), receiptSchema)

  /** Probe and maintain one index store. The signals: tombstoned ids (the
    * family's `tombstones/` id column) and the most live segments of any
    * component in its table, from the store's newest log entry.
    */
  private def maintain(store: Tombstones.Store, maxSegments: Int,
                       maxTombstones: Long): DataFrame = {
    val (spark, dir, f, e) = (store.spark, store.dir, store.family, store.entry)
    val nTomb = StoreSegments.tombstoneIds(spark, dir, e, f.idCol,
      store.tombSchema).size.toLong
    val nLegs = f.components.map(c => e.segs(c.name).size.toLong).max
    val action =
      if (nLegs > maxSegments) "vacuum"
      else if (nTomb > maxTombstones) "compact"
      else "none"
    action match {
      case "vacuum" => Tombstones.vacuum(store)
      case "compact" => Tombstones.compact(store)
      case _ => ()
    }
    receipt(spark, dir, action, nTomb, nLegs)
  }

  /** Maintain a [[Similarity.buildIvfIndex]] store: its one postings
    * component ([[Similarity.ivfIndex]]'s table), drained by cell.
    * Defaults: any tombstone is worth a (cell-scoped) drain; more than 8
    * live legs is worth a consolidation.
    */
  def maintainIvfIndex(spark: SparkSession, dir: String,
                       maxSegments: Int = 8,
                       maxTombstones: Long = 0): DataFrame =
    maintain(Similarity.ivfStore(spark, dir), maxSegments, maxTombstones)

  /** [[maintainIvfIndex]] for the compressed store — the same postings
    * contract and table, the same verbs.
    */
  def maintainIvfPqIndex(spark: SparkSession, dir: String,
                         maxSegments: Int = 8,
                         maxTombstones: Long = 0): DataFrame =
    maintainIvfIndex(spark, dir, maxSegments, maxTombstones)

  /** Maintain the DELTA-CHAIN snapshot store: when the chain above the
    * newest full snapshot has grown past `maxChain` deltas, write a
    * COMPACTION-POINT full (the reconstruction at the newest version,
    * materialized as `version = newest + 1` — exactly the manual move
    * q213's lifecycle makes), so every later read folds a short chain
    * again. The probe is a directory listing; the verb it may run costs
    * one reconstruction + one full write — reconstruction cost is WHY
    * the policy exists (it grows with chain length, and this bounds it).
    * Of two firings that probe the same chain, the one whose publish of
    * `newest + 1` loses reports `none`: the other compacted.
    *
    * Receipt: `(store, action ∈ compact|none, n_tombstones = chain
    * length, n_live_legs = chain + 1 base)` — the same shape as the
    * index stores' receipts so one dashboard reads all five.
    */
  def maintainSnapshotStore(spark: SparkSession, rootDir: String,
                            idCol: String,
                            maxChain: Int = 8): DataFrame = {
    val fulls = Curation.snapshotVersions(rootDir)
    require(fulls.nonEmpty, s"no full snapshot under $rootDir — write first")
    val newestFull = fulls.max
    val deltas = Curation.deltaVersions(rootDir).filter(_ > newestFull)
    val newest = (newestFull +: deltas).max
    val chain = deltas.size.toLong
    val compacted = chain > maxChain && Curation.putSnapshot(
      Curation.readSnapshotAt(spark, rootDir, newest, idCol),
      rootDir, version = newest + 1)
    receipt(spark, rootDir, if (compacted) "compact" else "none", chain,
      chain + 1)
  }

  /** Maintain a [[TextAnalysis.buildTextIndex]] store: stats, terms,
    * postings, docs and (when built) positions — [[TextAnalysis.textIndex]]'s
    * table. `buckets`, when non-zero, must equal the store's recorded
    * bucket count.
    */
  def maintainTextIndex(spark: SparkSession, dir: String,
                        buckets: Int = 0, maxSegments: Int = 8,
                        maxTombstones: Long = 0): DataFrame =
    maintain(TextAnalysis.textStore(spark, dir, buckets), maxSegments,
      maxTombstones)
}

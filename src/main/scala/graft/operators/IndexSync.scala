package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** CHURN-PROPORTIONAL index freshness: apply a CDC snapshot-store range
  * to a persisted search index in ONE store pass instead of a rebuild.
  *
  * A crawl pipeline lands document updates as [[Curation.writeSnapshotDelta]]
  * versions; the serving text index must follow. Rebuilding at every drop
  * costs the corpus; this verb costs the CHURN:
  *
  *  1. [[Curation.diffSnapshotsAt]] names exactly what changed in
  *     `(oldVersion, newVersion]` — computed per chain LEG over the
  *     deltas' own touched ids, so a 100 TB corpus with 0.1% churn diffs
  *     at 0.1% cost;
  *  2. ONE [[Tombstones.sync]] pass deletes the `removed` and `changed`
  *     ids and appends the `added` and `changed` docs' NEW content,
  *     reconstructed at `newVersion` SCOPED to those ids (the same
  *     hand-pushed per-leg semi-join the diff uses — the corpus is never
  *     re-read). The search-time tombstone filter is absolute on the id (a
  *     tombstone shadows NEW postings too), so the pass DRAINS — the
  *     deletion and every prior tombstone compacted away, no tombstone
  *     written — when an id is `changed` (its own delete would shadow it)
  *     or an `added` id is still tombstoned by an earlier sync (a
  *     re-birth). The drain rewrites only the tombstone-touched
  *     buckets/cells, so it too tracks churn's footprint. A pure removal
  *     appends tombstones (pruned reads, no rewrite).
  *
  * The synced index answers bit-identically to a from-scratch
  * [[TextAnalysis.buildTextIndex]] over the corpus reconstructed at
  * `newVersion` (gated: q236 hash-equals the from-scratch BM25 oracle).
  *
  * '''One commit per sync''': the pass writes its segments, then commits
  * ONE [[StoreSegments]] log entry that also records `txn sync →
  * newVersion`, by put-if-absent. A crash anywhere leaves the index at
  * its pre-sync version with the old applied version, and re-running the
  * range applies it. Of two syncs racing on one range, one commits and
  * the other fails naming the store (or, started after that commit,
  * reads `noop`); nothing the loser wrote is referenced.
  *
  * '''Range discipline''' (the scheduled-job contract, same spirit as
  * [[StoreMaintenance]]): a re-fired range whose `newVersion` the newest
  * entry already records is a clean no-op (`action = "noop"`); a range
  * that neither starts at the applied version nor is covered by it is
  * REFUSED (a gap would silently serve stale docs forever). The first
  * sync — no `txn sync` in the entry; a rebuild starts with none —
  * trusts the caller's `oldVersion` (the version the index was built
  * from).
  *
  * Reference seam: the reference's SDFS clients re-`put` whole objects on
  * every update (`daemon/daemon.go:136-675` version counters); its
  * stream jobs rebuild derived state per run. Incremental derived-store
  * maintenance is the capability a 100 TB pipeline needs on top.
  */
object IndexSync {

  /** The sync receipt's schema, also the `graft_*_sync` TVFs' output. */
  val receiptSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "verb STRING NOT NULL, store STRING NOT NULL, action STRING NOT NULL, " +
        "old_version BIGINT NOT NULL, new_version BIGINT NOT NULL, " +
        "n_added BIGINT NOT NULL, n_changed BIGINT NOT NULL, " +
        "n_removed BIGINT NOT NULL, compacted BOOLEAN NOT NULL")

  /** The log source a sync records its applied version under. */
  private val Source = "sync"

  /** The last snapshot version applied to `indexDir` by a sync, if any —
    * the scheduler's resume point, read from the newest log entry.
    */
  def appliedVersion(spark: SparkSession, indexDir: String): Option[Long] =
    StoreSegments.latestOpt(spark, indexDir).flatMap(_.txn.get(Source))

  /** Sync observability as a one-row DataFrame (`graft_sync_status`'s
    * body): the applied version a scheduler resumes from, null before the
    * first sync.
    */
  def syncStatus(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    Seq((indexDir, appliedVersion(spark, indexDir)))
      .toDF("store", "applied_version")
  }

  /** Apply snapshot-store range `(oldVersion, newVersion]` of `storeDir`
    * to the text index at `indexDir`. Returns a one-row receipt
    * `(verb, store, action, old_version, new_version, n_added,
    * n_changed, n_removed, compacted)` — `action` is `applied` / `noop`.
    */
  def syncTextIndexFromSnapshots(spark: SparkSession,
                                 indexDir: String, storeDir: String,
                                 oldVersion: Long, newVersion: Long,
                                 idCol: String, textCol: String,
                                 buckets: Int = 0): DataFrame =
    syncStore(spark, indexDir, storeDir, oldVersion, newVersion,
      idCol, contentCol = textCol, verb = "sync_text_index",
      TextAnalysis.textStore(spark, indexDir, buckets))

  /** [[syncTextIndexFromSnapshots]] for the IVF vector store — the RAG
    * stack's other member follows the same snapshot store (the content
    * column is the embedding; [[Curation.corpusDiff]] fingerprints it
    * through a string cast, so a changed vector diffs as `changed`).
    * The codebook stays FROZEN across syncs ([[Similarity.appendIvfIndex]]'s
    * contract): the synced index answers as a from-scratch assignment of
    * the target-version corpus to the ORIGINAL centroids — gated exactly
    * so (q237's oracle derives centroids from the BUILD version's
    * membership). Codebook drift is a rebuild decision, not a sync step.
    */
  def syncIvfIndexFromSnapshots(spark: SparkSession,
                                indexDir: String, storeDir: String,
                                oldVersion: Long, newVersion: Long,
                                idCol: String, vecCol: String): DataFrame =
    syncStore(spark, indexDir, storeDir, oldVersion, newVersion,
      idCol, contentCol = vecCol, verb = "sync_ivf_index",
      Similarity.ivfStore(spark, indexDir))

  /** [[syncIvfIndexFromSnapshots]] for the IVF-PQ store (frozen coarse
    * codebook AND frozen PQ sub-codebooks — the append/delete/compact
    * verbs' existing contract).
    */
  def syncIvfPqIndexFromSnapshots(spark: SparkSession,
                                  indexDir: String, storeDir: String,
                                  oldVersion: Long, newVersion: Long,
                                  idCol: String, vecCol: String): DataFrame =
    syncStore(spark, indexDir, storeDir, oldVersion, newVersion,
      idCol, contentCol = vecCol, verb = "sync_ivfpq_index",
      Similarity.ivfStore(spark, indexDir))

  /** The shared sync skeleton: range discipline against the entry's
    * `txn sync`, churn diff, then the one delete-and-append pass. `store`
    * opens the index once: the pass reads and commits on top of the entry
    * the range was checked against.
    */
  private def syncStore(spark: SparkSession,
                        indexDir: String, storeDir: String,
                        oldVersion: Long, newVersion: Long,
                        idCol: String, contentCol: String, verb: String,
                        store: => Tombstones.Store): DataFrame = {
    require(newVersion > oldVersion,
      s"$verb needs oldVersion < newVersion: $oldVersion >= $newVersion")
    def receipt(action: String, nAdded: Long, nChanged: Long,
                nRemoved: Long, compacted: Boolean): DataFrame =
      spark.createDataFrame(java.util.List.of(Row(verb, indexDir, action,
        oldVersion, newVersion, nAdded, nChanged, nRemoved, compacted)),
        receiptSchema)
    val s = store
    s.entry.txn.get(Source) match {
      case Some(v) if newVersion <= v =>
        return receipt("noop", 0L, 0L, 0L, compacted = false)
      case Some(v) if oldVersion != v =>
        throw new IllegalArgumentException(
          s"sync range ($oldVersion, $newVersion] does not start at " +
            s"index '$indexDir''s applied version $v — a gap would " +
            s"serve stale docs silently; sync from $v")
      case _ =>
    }
    CacheScope.withCaches {
      val diff = CacheScope.persisted(Curation.diffSnapshotsAt(
        spark, storeDir, oldVersion, newVersion, idCol, contentCol))
      val counts = Par.described(spark, s"$verb: churn diff") {
        diff.groupBy("status").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val nAdded = counts.getOrElse("added", 0L)
      val nChanged = counts.getOrElse("changed", 0L)
      val nRemoved = counts.getOrElse("removed", 0L)
      def ids(status: String*): DataFrame =
        diff.filter(col("status").isin(status: _*)).select(col("id").as(idCol))
      // drain iff a tombstone would shadow a (re-)appended id — every
      // changed id meets its own; an added one may meet an earlier sync's
      // — the smallest sufficient pass, StoreMaintenance's rule. The probe
      // runs only for pure additions (r15: two jobs saved otherwise)
      val drain = nChanged > 0 || nAdded > 0 &&
        Par.described(spark, s"$verb: shadow probe") {
          val tomb = StoreSegments.tombstoneIds(spark, indexDir, s.entry,
            s.family.idCol, s.tombSchema)
          tomb.nonEmpty && !ids("added").filter(col(idCol).isin(tomb: _*))
            .isEmpty
        }
      Tombstones.sync(s,
        Option.when(nChanged + nRemoved > 0)(ids("changed", "removed") -> idCol),
        Option.when(nAdded + nChanged > 0)(Tombstones.Batch(
          Curation.readSnapshotAt(spark, storeDir, newVersion, idCol,
            scope = ids("added", "changed")), idCol, contentCol)),
        drain, Source -> newVersion)
      receipt("applied", nAdded, nChanged, nRemoved, drain)
    }
  }
}

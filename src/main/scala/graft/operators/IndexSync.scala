package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** CHURN-PROPORTIONAL index freshness: apply a CDC snapshot-store range
  * to a persisted search index with the existing maintenance verbs
  * instead of a rebuild.
  *
  * A crawl pipeline lands document updates as [[Curation.writeSnapshotDelta]]
  * versions; the serving text index must follow. Rebuilding at every drop
  * costs the corpus; this verb costs the CHURN:
  *
  *  1. [[Curation.diffSnapshotsAt]] names exactly what changed in
  *     `(oldVersion, newVersion]` — computed per chain LEG over the
  *     deltas' own touched ids, so a 100 TB corpus with 0.1% churn diffs
  *     at 0.1% cost;
  *  2. `removed` and `changed` ids leave through ONE [[Tombstones.delete]]
  *     — the store family's delete verb. With `changed` ids present the
  *     drain must follow (each would be shadowed by its own tombstone when
  *     re-appended), so the delete runs with `drain = true`: the deletion
  *     and any prior tombstones are compacted away in one pass and no
  *     tombstone is written. A pure removal runs `drain = false`
  *     (tombstone-append — pruned reads, no rewrite);
  *  3. otherwise, if an id about to be (re-)appended is still TOMBSTONED —
  *     a re-birth (deleted in one version, re-added later — `added` in
  *     the diff) from an earlier sync — [[Tombstones.compact]] drains the
  *     tombstones first. The search-time tombstone filter is absolute
  *     on the id (`TextAnalysis.searchTextIndexImpl` — a tombstone
  *     shadows NEW postings too), so the drain is what makes re-adding an
  *     id sound; it rewrites only the tombstone-touched buckets/cells, so
  *     this too tracks churn's footprint, not the corpus;
  *  4. `added` and `changed` docs' NEW content enters through
  *     [[TextAnalysis.appendTextIndex]], reconstructed at `newVersion`
  *     SCOPED to those ids (the same hand-pushed per-leg semi-join the
  *     diff uses — the corpus is never re-read).
  *
  * The synced index answers bit-identically to a from-scratch
  * [[TextAnalysis.buildTextIndex]] over the corpus reconstructed at
  * `newVersion` (gated: q236 hash-equals the from-scratch BM25 oracle).
  *
  * '''Range discipline''' (the scheduled-job contract, same spirit as
  * [[StoreMaintenance]]): the index carries an `_sync/applied` marker
  * naming the last version applied. A re-fired range whose `newVersion`
  * is already applied is a clean no-op (`action = "noop"`); a range that
  * neither starts at the applied version nor is covered by it is REFUSED
  * (a gap would silently serve stale docs forever). The first sync —
  * no marker — trusts the caller's `oldVersion` (the version the index
  * was built from) and records it.
  *
  * '''Crash consistency''': an `_sync/pending` marker is written before
  * the first mutation and replaced by the applied marker after the last
  * ([[Composite]]'s begin/commit discipline, applied to one store's
  * multi-verb transition). Steps 2-3 are replay-safe (delete anti-joins
  * prior tombstones; compaction is idempotent) but step 4 is an append —
  * replaying it would double-count postings — so a sync that finds a
  * PENDING marker refuses loudly: the operator restores or rebuilds the
  * index at a known version and clears the marker with [[abandonSync]].
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

  private def pendingPath(indexDir: String) = s"$indexDir/_sync/pending"
  private def appliedPath(indexDir: String) = s"$indexDir/_sync/applied"
  private def syncLockDir(indexDir: String) = s"$indexDir/_sync"

  /** The last snapshot version applied to `indexDir` by a completed
    * sync, if any — the scheduler's resume point.
    */
  def appliedVersion(spark: SparkSession, indexDir: String): Option[Long] =
    if (StoreFs.exists(spark, appliedPath(indexDir)))
      Some(StoreFs.readFileUtf8(spark, appliedPath(indexDir)).trim.toLong)
    else None

  /** The pending marker's (oldVersion, newVersion) range, if a sync is
    * mid-apply or crashed — the operator's first read in a recovery.
    */
  def pendingRange(spark: SparkSession,
                   indexDir: String): Option[(Long, Long)] =
    if (!StoreFs.exists(spark, pendingPath(indexDir))) None
    else {
      val parts = StoreFs.readFileUtf8(spark, pendingPath(indexDir))
        .trim.split("\t")
      Some((parts(0).toLong, parts(1).toLong))
    }

  /** Sync observability as a one-row DataFrame (`graft_sync_status`'s
    * body): the applied version a scheduler resumes from, and the
    * pending range if a sync crashed mid-apply (null-valued columns when
    * absent). [[StoreLock.isLocked]]'s treatment, for the sync markers.
    */
  def syncStatus(spark: SparkSession, indexDir: String): DataFrame = {
    val applied = appliedVersion(spark, indexDir)
    val pending = pendingRange(spark, indexDir)
    val row = org.apache.spark.sql.Row(indexDir,
      applied.map(java.lang.Long.valueOf).orNull,
      pending.isDefined,
      pending.map(p => java.lang.Long.valueOf(p._1)).orNull,
      pending.map(p => java.lang.Long.valueOf(p._2)).orNull)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("store",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("applied_version",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("pending",
        org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("pending_old",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("pending_new",
        org.apache.spark.sql.types.LongType, nullable = true)))
    spark.createDataFrame(
      java.util.Collections.singletonList(row), schema)
  }

  /** Clear a crashed sync's pending marker — the documented recovery
    * verb, to be run AFTER restoring or rebuilding the index at
    * `rebuiltAtVersion` (which becomes the new applied marker).
    */
  def abandonSync(spark: SparkSession, indexDir: String,
                  rebuiltAtVersion: Long): Unit =
      StoreLock.withWriteLock(syncLockDir(indexDir)) {
    StoreFs.writeFile(spark, appliedPath(indexDir),
      rebuiltAtVersion.toString)
    StoreFs.delete(spark, pendingPath(indexDir))
  }

  /** Apply snapshot-store range `(oldVersion, newVersion]` of `storeDir`
    * to the text index at `indexDir`. Returns a one-row receipt
    * `(verb, store, action, old_version, new_version, n_added,
    * n_changed, n_removed, compacted)` — `action` is `applied` / `noop`.
    *
    * Single-scheduler contract: the inner verbs each commit one log
    * entry (a racing writer makes one of them fail), and the pending
    * marker (written under the `_sync` lock) excludes a second concurrent
    * sync — but like
    * [[StoreMaintenance.maintainTextIndex]], the composition is meant to
    * be fired by ONE scheduler per store.
    */
  def syncTextIndexFromSnapshots(spark: SparkSession,
                                 indexDir: String, storeDir: String,
                                 oldVersion: Long, newVersion: Long,
                                 idCol: String, textCol: String,
                                 buckets: Int = 0): DataFrame =
    syncStore(spark, indexDir, storeDir, oldVersion, newVersion,
      idCol, contentCol = textCol, verb = "sync_text_index",
      store = () => TextAnalysis.textStore(spark, indexDir, buckets),
      append = batch =>
        TextAnalysis.appendTextIndex(spark, indexDir, batch, idCol,
          textCol, buckets))

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
      store = () => Similarity.ivfStore(spark, indexDir),
      append = batch =>
        Similarity.appendIvfIndex(spark, indexDir, batch, idCol, vecCol))

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
      store = () => Similarity.ivfStore(spark, indexDir),
      append = batch =>
        Similarity.appendIvfPqIndex(spark, indexDir, batch, idCol, vecCol))

  /** The shared sync skeleton: marker discipline, churn diff, and the
    * delete(-and-drain) → drain-if-shadowed → scoped-append composition.
    * `store` opens the index for one [[Tombstones]] verb (each verb gets
    * a fresh one — a verb reads the entry it commits on top of); the
    * family it declares names the `tombstones/` id column.
    */
  private def syncStore(spark: SparkSession,
                        indexDir: String, storeDir: String,
                        oldVersion: Long, newVersion: Long,
                        idCol: String, contentCol: String, verb: String,
                        store: () => Tombstones.Store,
                        append: DataFrame => Unit): DataFrame = {
    require(newVersion > oldVersion,
      s"$verb needs oldVersion < newVersion: $oldVersion >= $newVersion")
    def receipt(action: String, nAdded: Long, nChanged: Long,
                nRemoved: Long, compacted: Boolean): DataFrame =
      spark.createDataFrame(java.util.List.of(Row(verb, indexDir, action,
        oldVersion, newVersion, nAdded, nChanged, nRemoved, compacted)),
        receiptSchema)
    // marker transition under the _sync lock: decide, then either bail
    // (noop/refuse) or claim the range with the pending marker before
    // any mutation
    val decided = StoreLock.withWriteLock(syncLockDir(indexDir)) {
      if (StoreFs.exists(spark, pendingPath(indexDir)))
        throw new IllegalStateException(
          s"index '$indexDir' has a PENDING sync " +
            s"(${StoreFs.readFileUtf8(spark, pendingPath(indexDir)).trim})" +
            " — a prior sync crashed mid-apply and the index may hold a " +
            "partial range; rebuild or restore it at a known version, " +
            "then IndexSync.abandonSync to clear the marker")
      appliedVersion(spark, indexDir) match {
        case Some(v) if newVersion <= v => "noop"
        case Some(v) if oldVersion != v =>
          throw new IllegalArgumentException(
            s"sync range ($oldVersion, $newVersion] does not start at " +
              s"index '$indexDir''s applied version $v — a gap would " +
              s"serve stale docs silently; sync from $v")
        case _ =>
          StoreFs.writeFile(spark, pendingPath(indexDir),
            s"$oldVersion\t$newVersion")
          "apply"
      }
    }
    if (decided == "noop") return receipt("noop", 0L, 0L, 0L, compacted = false)
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
      // nChanged > 0 guarantees the drain must follow the delete (every
      // `changed` id is about to be re-appended and would be shadowed by
      // its own tombstone), so the delete drains in the same pass — the
      // intermediate tombstone component is never written or read back
      // (r16 job-count diet)
      var compacted = nChanged > 0
      if (nChanged + nRemoved > 0)
        Tombstones.delete(store(),
          diff.filter(col("status").isin("changed", "removed"))
            .select(col("id").as(idCol)), idCol, drain = compacted)
      if (nAdded + nChanged > 0) {
        val toAppend = diff.filter(col("status").isin("added", "changed"))
          .select(col("id").as(idCol))
        // drain tombstones iff one would shadow a (re-)appended id —
        // the smallest sufficient verb, StoreMaintenance's rule. The
        // fused path above already drained every tombstone when
        // nChanged > 0, so the semi-join probe only runs for the
        // pure-addition case, where a re-birth could still hit an old
        // tombstone (r15: skips the probe's two jobs on every
        // churn-with-changes sync)
        val shadowed = !compacted &&
          Par.described(spark, s"$verb: shadow probe") {
            val s = store()
            val tomb = StoreSegments.tombstoneIds(spark, indexDir, s.entry,
              s.family.idCol, s.tombSchema)
            tomb.nonEmpty && !toAppend.filter(col(idCol).isin(tomb: _*))
              .isEmpty
          }
        if (shadowed) {
          Tombstones.compact(store())
          compacted = true
        }
        Par.described(spark, s"$verb: scoped append") {
          append(Curation.readSnapshotAt(spark, storeDir, newVersion,
            idCol, scope = toAppend))
        }
      }
      StoreLock.withWriteLock(syncLockDir(indexDir)) {
        StoreFs.writeFile(spark, appliedPath(indexDir), newVersion.toString)
        StoreFs.delete(spark, pendingPath(indexDir))
      }
      receipt("applied", nAdded, nChanged, nRemoved, compacted)
    }
  }
}

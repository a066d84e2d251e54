package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** STREAMING maintenance of the persisted index stores — q111/q125's
  * incremental append composed with the streaming runtime (q106's
  * foreachBatch recipe applied to index upkeep): every micro-batch of a
  * document / embedding stream appends into the on-disk inverted text
  * index or IVF index as one more segment, so the index a 100 TB crawl
  * pipeline serves queries from stays current with ingest, with no
  * rebuild and no driver materialization — the executors write postings
  * directly, exactly like the batch append.
  *
  * EXACTLY-ONCE into the three index stores (text, IVF, IVF-PQ):
  * `foreachBatch` replays a batchId after a crash between the store write
  * and the checkpoint commit, and a segment APPEND is not idempotent (a
  * replay would double the batch's postings and stats). So each batch's
  * append commits, in the SAME log entry as its segments, `txn
  * stream:<qualified checkpoint path> → batchId` ([[graft.operators
  * .StoreSegments]]; Delta's txn app-id/version, Spark's file-sink
  * `_spark_metadata`): a replayed id finds itself recorded and commits
  * nothing, and a crash before that commit leaves no referenced segment.
  *
  * The zone map and the snapshot store have no log yet, so
  * [[ingestZoneMap]] and [[ingestSnapshotDeltas]] keep their
  * processed-batch marker directories (written after the store write,
  * with the residual window each documents).
  *
  * Gated: q140 (text) / q141 (IVF) / q163 (IVF-PQ) — build on the
  * standing half, stream the increment through micro-batch appends, and
  * the searched answer must hash-equal the from-scratch oracle over the
  * full corpus, i.e. the streaming ingest is indistinguishable from the
  * batch append it replays per micro-batch.
  */
object StreamingIndex {

  import graft.operators.{Similarity, TextAnalysis, Tombstones}

  /** Drain `source` into the store `open` opens per micro-batch, each
    * batch's append recording its id under the checkpoint's source name.
    */
  private def ingest(spark: SparkSession, source: DataFrame,
                     checkpoint: String, open: () => Tombstones.Store,
                     idCol: String, contentCol: String): Unit = {
    val cp = new org.apache.hadoop.fs.Path(checkpoint)
    val name = "stream:" + cp.getFileSystem(
      spark.sparkContext.hadoopConfiguration).makeQualified(cp)
    BoundedStream.runForeachBatch(source, identity, checkpoint, "append") {
      (batch, id) => Tombstones.append(open(),
        Tombstones.Batch(batch, idCol, contentCol), Some(name -> id))
    }
  }

  /** Drain `source` (a streaming frame of documents) to EOF, appending
    * each micro-batch into the [[graft.operators.TextAnalysis
    * .buildTextIndex]] store at `dir` (a non-zero `buckets` must equal the
    * store's recorded count).
    */
  def ingestTextIndex(spark: SparkSession, source: DataFrame,
                      checkpoint: String, dir: String,
                      idCol: String, textCol: String,
                      buckets: Int = 0): Unit =
    ingest(spark, source, checkpoint,
      () => TextAnalysis.textStore(spark, dir, buckets), idCol, textCol)

  /** [[ingestTextIndex]] for the IVF vector index: each micro-batch of
    * (id, vector) rows assigns against the frozen codebook and appends
    * its postings — [[graft.operators.Similarity.appendIvfIndex]] per
    * trigger.
    */
  def ingestIvfIndex(spark: SparkSession, source: DataFrame,
                     checkpoint: String, dir: String,
                     idCol: String, vecCol: String): Unit =
    ingest(spark, source, checkpoint,
      () => Similarity.ivfStore(spark, dir), idCol, vecCol)

  /** [[ingestIvfIndex]] for the COMPRESSED store: each micro-batch
    * encodes its residuals against both frozen codebooks and appends
    * 4-byte code words — [[graft.operators.Similarity.appendIvfPqIndex]]
    * per trigger. The live-ingest configuration a billion-vector serving
    * index actually runs: per-trigger write volume is ~1/16th the raw
    * ingest's, so the streaming upkeep stays cheap exactly where the
    * corpus is largest.
    */
  def ingestIvfPqIndex(spark: SparkSession, source: DataFrame,
                       checkpoint: String, dir: String,
                       idCol: String, vecCol: String): Unit =
    ingest(spark, source, checkpoint,
      () => Similarity.ivfPqStore(spark, dir), idCol, vecCol)

  /** [[ingestTextIndex]] for the ZONE-MAP layout store: each micro-batch
    * assigns against the store's frozen `_meta` bounds and appends into
    * the zone directories ([[graft.sinks.ZoneMap.appendZoneMapped]] per
    * trigger) — the live-ingest form of a zone-clustered 100 TB table,
    * with processed-batch markers (an append that replays after its
    * marker landed would double the batch's rows AND inflate the sidecar
    * counts). The residual window: a crash INSIDE the append (files
    * written, marker not) still replays dirty — strictly narrower than no
    * bookkeeping, recovered by re-deriving the sidecar from the data
    * (zoneMapAudit flags the mismatch), a documented trade, not a silent
    * one; the zone map has no log to commit the batch id with.
    */
  def ingestZoneMap(spark: SparkSession, source: DataFrame,
                    checkpoint: String, dir: String,
                    keyCol: String): Unit =
    BoundedStream.runForeachBatch(source, identity, checkpoint, "append") {
      (batch, id) =>
        val marker = s"$dir/ingested/batch=$id"
        if (!graft.operators.StoreFs.exists(spark, marker)) {
          graft.sinks.ZoneMap.appendZoneMapped(spark, dir, batch, keyCol)
          graft.operators.StoreFs.mkdirs(spark, marker)
        }
    }

  /** Streaming CDC ingest into the SNAPSHOT store — the fifth persisted
    * store's live-maintenance path: each micro-batch of change rows
    * (payload columns + `opCol` ∈ {"u","d"}) becomes one
    * [[graft.operators.Curation.writeSnapshotDelta]] at version
    * `startVersion + batchId` (batch ids are the monotone version
    * counter a CDC tail needs), upserts and tombstones split by the op
    * column. Deltas cost ∝ the trigger's churn, reconstruction stays the
    * ONE window of [[graft.operators.Curation.readSnapshotAt]], and
    * retention ([[graft.operators.Curation.pruneSnapshots]]) sweeps the
    * ingested history like any hand-written chain. Processed-batch
    * markers as [[ingestZoneMap]]'s (the snapshot store has no log),
    * plus CRASH-REPLAY recovery: a replay
    * that finds a versioned delta dir without its marker (the previous
    * attempt died between write and marker, or mid-write with a
    * half-delta) drops the partial dir and rewrites it from the
    * identical replayed batch — without this, the delta's
    * `errorifexists` would kill the stream permanently on restart.
    * Gated: q215 (reconstruction over the streamed chain ≡ the
    * one-merge oracle) + the replay case in StreamingIndexSpec.
    */
  def ingestSnapshotDeltas(spark: SparkSession, source: DataFrame,
                           checkpoint: String, rootDir: String,
                           idCol: String, opCol: String,
                           startVersion: Long): Unit =
    BoundedStream.runForeachBatch(source, identity, checkpoint, "append") {
      (batch, id) =>
        val marker = s"$rootDir/_delta_ingested/batch=$id"
        if (!graft.operators.StoreFs.exists(spark, marker)) {
          import org.apache.spark.sql.functions.col
          // CRASH-REPLAY recovery: no marker but an existing delta dir
          // means the previous attempt died between the delta write and
          // the marker — or mid-write, leaving a half-delta (upserts
          // without deletes) that breaks readSnapshotAt. foreachBatch
          // replays the SAME batch id with the SAME rows, so dropping
          // the partial dir and rewriting is exact, and turns what would
          // be a permanent errorifexists stream-kill into the clean
          // no-op the marker contract promises.
          val deltaDir = s"$rootDir/_delta/version=${startVersion + id}"
          if (graft.operators.StoreFs.exists(spark, deltaDir))
            graft.operators.StoreFs.delete(spark, deltaDir)
          graft.operators.Curation.writeSnapshotDelta(spark, rootDir,
            version = startVersion + id,
            upserts = batch.filter(col(opCol) === "u").drop(opCol),
            deleteIds = batch.filter(col(opCol) === "d").select(col(idCol)),
            idCol = idCol)
          graft.operators.StoreFs.mkdirs(spark, marker)
        }
    }
}

package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Formatted file sinks K1–K3 (SURVEY §2.9): the reference's terminal bolts
  * write small, human-readable result files (`bolt/bolt.go:296-310` word
  * counts, `:398-419` sorted top-50, `:522-541` per-host report). These
  * sinks format with column expressions and write through Spark's text
  * writer — distributed up to the final single-partition exchange.
  *
  * Determinism: the reference iterates Go maps, so its files are randomly
  * ordered; every sink here totally orders its output (SURVEY §7.5), which
  * is what makes golden-file testing possible.
  *
  * Scale note: the single output partition matches the reference's
  * single-local-file contract and is correct ONLY because every sink input
  * is post-aggregation / post-top-K (bounded rows) — the whole sort runs in
  * one task either way. K1 and K3 sort with `repartition(1)` +
  * `sortWithinPartitions`, not a global `orderBy`: under `foreachBatch` a
  * micro-batch is an opaque RDD, and a range sort samples it in a separate
  * bounds job first, so the stateful stage behind it would run twice per
  * trigger. One exchange into one partition gives the same total order in
  * one job. A 100 TB result table would write partitioned files instead —
  * the formatting pipeline is unchanged.
  */
object Sinks {

  /** K1 (`bolt/bolt.go:296-310`): `word:count` lines, sorted by word. One
    * pass over the input: the single-partition exchange + local sort is one
    * Spark job, where `orderBy` would add a range-bounds sampling job that
    * evaluates the input a second time (see the scale note).
    */
  def writeWordCount(counts: DataFrame, wordCol: String, cntCol: String,
                     path: String): Unit =
    counts.repartition(1).sortWithinPartitions(wordCol)
      .select(concat_ws(":", col(wordCol), col(cntCol)).as("value"))
      .write.mode("overwrite").text(path)

  /** K2 (`bolt/bolt.go:398-419`): sorted top-K `key:count` lines, count
    * descending with the deterministic key tie-break the reference lacks.
    */
  def writeTopK(counts: DataFrame, keyCol: String, cntCol: String, k: Int,
                path: String): Unit =
    counts.orderBy(col(cntCol).desc, col(keyCol).asc).limit(k)
      .select(concat_ws(":", col(keyCol), col(cntCol)).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(path)

  /** Sharded corpus export — the 100 TB-shaped sink the K1–K3 single-file
    * contract explicitly is not: write a (curated) corpus as parquet,
    * hive-partitioned by the given columns (`split=train/source=src0/…`),
    * so a downstream trainer reads one split/source without scanning the
    * rest (partition pruning at the directory level). No coalesce — each
    * task writes its own shard; `maxRecordsPerFile` bounds shard size so
    * one giant partition value cannot produce one giant file.
    */
  def writeCorpus(df: DataFrame, path: String, partitionCols: Seq[String],
                  maxRecordsPerFile: Long = 1000000L): Unit =
    df.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)

  /** Materialize a deterministic training-order shuffle
    * ([[graft.operators.Sampling.shuffleAssign]]) WITHOUT the per-shard
    * rank window: cluster rows by shard (one exchange), sort each task's
    * rows by the same permutation hash, and write hive-partitioned by
    * `shard` — the parquet row order inside each shard directory IS the
    * `pos` order, so a sequential reader of shard files replays the exact
    * permutation and no rank was ever computed. This is the 100 TB path:
    * the only cost above a plain write is one clustering exchange on a
    * uniform md5-derived key (no skew possible) plus the within-task sort.
    *
    * `repartition(numShards, col("shard"))` hash-clusters shards into
    * tasks (a task may hold several shards — `partitionBy` still splits
    * them into their own directories, and `sortWithinPartitions(shard, h)`
    * keeps each directory's rows in permutation order).
    */
  def writeShuffled(df: DataFrame, idCol: String, numShards: Int, seed: Long,
                    path: String, maxRecordsPerFile: Long = 1000000L): Unit = {
    val assigned = df
      .withColumn("__h", graft.operators.Sampling.shuffleHash(col(idCol), seed))
      .withColumn("shard",
        (conv(substring(col("__h"), 1, 15), 16, 10).cast("long")
          % numShards).cast("long"))
    assigned
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__h"), col(idCol))
      .drop("__h")
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .mode("overwrite")
      .parquet(path)
  }

  /** DELIVERY-INTEGRITY manifest for an exported corpus
    * ([[writeCorpus]] / [[writeShuffled]] output): one row per partition
    * key combination with its row count and an ORDER-INSENSITIVE id
    * checksum (`bit_xor` of the 60-bit id fingerprints — xor needs no
    * overflow guard and ignores row order, which a shard re-read never
    * preserves). Written under `_export_manifest` (underscore-prefixed:
    * invisible to readers of the data path).
    *
    * What it protects: the copy/move/read boundary between this engine
    * and a trainer — a shard directory lost in a transfer, a partial
    * copy, a double-applied append all flip [[exportAudit]]'s verdict.
    * What it does NOT protect: in-row bit rot (parquet page checksums
    * already cover that) — membership and volume integrity only, stated
    * honestly.
    *
    * Scale: one pass over the export (the same scan the export itself
    * just wrote), aggregated on the partition keys — map-side partial
    * xor/count, one tiny shuffle, manifest size ∝ partition-combo count.
    */
  def exportManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                     keyCols: Seq[String], idCol: String): Unit = {
    require(keyCols.nonEmpty, "exportManifest needs >= 1 partition column")
    spark.read.parquet(path)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        expr(s"bit_xor(${checksumExpr(idCol)})").as("id_checksum"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_export_manifest")
  }

  /** 60-bit id fingerprint over the RAW stringified id — deliberately NOT
    * normalized (no lower/trim): the audit checks delivery identity, and
    * [[writeShuffled]]'s shard assignment hashes the raw string too, so a
    * case-mangled id swap with preserved count must flip the checksum
    * rather than slip through as "normalized-equivalent" (r14 advice).
    */
  private def checksumExpr(idCol: String): String =
    s"cast(conv(substring(md5(cast(`$idCol` as string)), 1, 15), 16, 10) as bigint)"

  /** Recompute [[exportManifest]]'s counts/checksums from the data and
    * compare: one row per partition key combination seen on EITHER side
    * (a shard lost after manifest time shows as data-side null; a shard
    * that appeared out-of-band as manifest-side null), with the row-count
    * and checksum verdicts, plus the overall `healthy` conjunction
    * repeated per row ([[graft.operators.Composite.audit]]'s shape). The
    * trainer-side "am I reading exactly what curation wrote" check.
    */
  def exportAudit(spark: org.apache.spark.sql.SparkSession, path: String,
                  keyCols: Seq[String], idCol: String)
      : org.apache.spark.sql.DataFrame = {
    require(keyCols.nonEmpty, "exportAudit needs >= 1 partition column")
    require(graft.operators.StoreFs.exists(spark, s"$path/_export_manifest"),
      s"no export manifest at $path/_export_manifest — exportManifest first")
    // ONE schema inference for the audit (r16 job diet): the data read
    // infers; the manifest's layout is its writer's — the data's key
    // columns plus the two fixed aggregate columns
    val d0 = spark.read.parquet(path)
    val mSchema = org.apache.spark.sql.types.StructType(
      keyCols.map(k => d0.schema(k)) ++ Seq(
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_checksum",
          org.apache.spark.sql.types.LongType)))
    val m = spark.read.schema(mSchema).parquet(s"$path/_export_manifest")
      .withColumnRenamed("n_rows", "n_rows_manifest")
      .withColumnRenamed("id_checksum", "checksum_manifest")
    val d = d0
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows_data"),
        expr(s"bit_xor(${checksumExpr(idCol)})").as("checksum_data"))
    val joined = m.join(d, keyCols, "full_outer")
      .withColumn("shard_ok",
        col("n_rows_manifest").isNotNull && col("n_rows_data").isNotNull &&
          col("n_rows_manifest") === col("n_rows_data") &&
          col("checksum_manifest") === col("checksum_data"))
    // The shard rows are manifest-size-bounded (one per partition-combo)
    // by construction, so collect them ONCE and derive the global verdict
    // locally — the previous self-crossJoin form re-executed the manifest
    // read, the full data-side groupBy scan and the full_outer join twice
    // per downstream action (r14 advice). The result is a local relation:
    // the data was scanned exactly once, at audit time.
    val rows = joined.collect()
    val healthy = rows.nonEmpty &&
      rows.forall(_.getAs[Boolean]("shard_ok"))
    spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), joined.schema)
      .withColumn("healthy", lit(healthy))
  }

  /** INCREMENTAL delivery — the trainer-side leg of the CDC freshness
    * plane ([[graft.operators.IndexSync]] keeps the ENGINE's indexes
    * fresh; this ships the same churn to the consumer): export snapshot
    * range `(oldVersion, newVersion]` of a [[graft.operators.Curation]]
    * store as
    *
    *  - `exportDir/adds/` — the `added` + `changed` documents' FULL rows
    *    reconstructed at `newVersion` (scoped per chain leg — the corpus
    *    is never re-read), [[writeShuffled]]-sharded with an
    *    [[exportManifest]] integrity manifest;
    *  - `exportDir/removes/` — the `removed` + `changed` ids, sharded
    *    and manifested the same way;
    *  - `exportDir/_delta_range` — the range + counts marker.
    *
    * Apply contract (the consumer's side): delete `removes`' ids, then
    * ingest `adds` — a local copy at `oldVersion` becomes exactly
    * `newVersion` (`changed` ids appear on BOTH sides deliberately:
    * delete-then-add replaces content without an upsert primitive).
    * Re-running the same export OVERWRITES both directories — a crashed
    * or doubted delivery is re-exported, not patched.
    *
    * Scale: every leg is churn-proportional — the diff semi-joins per
    * chain leg, the reconstruction reads only the churned ids, both
    * writes and manifests cost ∝ churn. A daily 0.1% drop ships 0.1% of
    * the corpus, never a full re-export. Gated: q238 (per-shard counts +
    * id AND content checksums of both sides re-derived from the chain
    * arithmetic; audits healthy by engine require).
    */
  def exportDelta(spark: org.apache.spark.sql.SparkSession,
                  storeDir: String, oldVersion: Long, newVersion: Long,
                  idCol: String, contentCol: String, exportDir: String,
                  numShards: Int = 16, seed: Long = 5L): DataFrame = {
    require(newVersion > oldVersion,
      s"exportDelta needs oldVersion < newVersion: " +
        s"$oldVersion >= $newVersion")
    graft.operators.CacheScope.withCaches {
      val diff = graft.operators.CacheScope.persisted(
        graft.operators.Curation.diffSnapshotsAt(spark, storeDir,
          oldVersion, newVersion, idCol, contentCol))
      val counts = diff.groupBy("status").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nAdds = counts.getOrElse("added", 0L) +
        counts.getOrElse("changed", 0L)
      val nRemoves = counts.getOrElse("removed", 0L) +
        counts.getOrElse("changed", 0L)
      // the two delivery legs are independent (disjoint directories; the
      // shared diff frame is cached and materialized by the counts
      // collect above) — overlap them; each leg stays internally ordered
      // (its manifest reads the files its write just produced)
      val legs = scala.collection.mutable.ArrayBuffer[() => Unit]()
      if (nAdds > 0) legs += (() => {
        writeShuffled(
          graft.operators.Curation.readSnapshotAt(spark, storeDir,
            newVersion, idCol,
            scope = diff.filter(col("status").isin("added", "changed"))
              .select(col("id").as(idCol))),
          idCol, numShards, seed, s"$exportDir/adds")
        exportManifest(spark, s"$exportDir/adds", Seq("shard"), idCol)
      })
      if (nRemoves > 0) legs += (() => {
        writeShuffled(
          diff.filter(col("status").isin("removed", "changed"))
            .select(col("id").as(idCol)),
          idCol, numShards, seed, s"$exportDir/removes")
        exportManifest(spark, s"$exportDir/removes", Seq("shard"), idCol)
      })
      graft.operators.Par.run(legs.toSeq: _*)
      graft.operators.StoreFs.writeFile(spark, s"$exportDir/_delta_range",
        s"$oldVersion\t$newVersion\t$nAdds\t$nRemoves")
      val sp = spark
      import sp.implicits._
      Seq(("export_delta", exportDir, oldVersion, newVersion, nAdds,
        nRemoves))
        .toDF("verb", "store", "old_version", "new_version", "n_adds",
          "n_removes")
    }
  }

  /** FULL delivery with a version stamp: export the snapshot store's
    * reconstruction at `version` as a [[writeShuffled]]-sharded,
    * [[exportManifest]]-integrity-manifested copy carrying a
    * `_corpus_version` marker — the anchor [[applyDelta]]'s range
    * discipline checks against (a delta `(old, new]` only applies to a
    * copy stamped `old`). This is the ONE full-corpus ship; every later
    * freshness drop rides [[exportDelta]] + [[applyDelta]] at churn cost.
    */
  def exportSnapshot(spark: org.apache.spark.sql.SparkSession,
                     storeDir: String, version: Long, idCol: String,
                     exportDir: String, numShards: Int = 16,
                     seed: Long = 5L): DataFrame = {
    val corpus = graft.operators.Curation.readSnapshotAt(spark, storeDir,
      version, idCol)
    writeShuffled(corpus, idCol, numShards, seed, exportDir)
    exportManifest(spark, exportDir, Seq("shard"), idCol)
    graft.operators.StoreFs.writeFile(spark, s"$exportDir/_corpus_version",
      version.toString)
    val n = manifestRowCount(spark, exportDir)
    val sp = spark
    import sp.implicits._
    Seq(("export_snapshot", exportDir, version, version, n, 0L))
      .toDF("verb", "store", "old_version", "new_version", "n_adds",
        "n_removes")
  }

  /** Receipt row count from the export's OWN just-written manifest (a
    * shard-count-bounded parquet, one tiny read) — the data was fully
    * scanned once at manifest time; re-scanning it again for a receipt
    * number doubled the cost of every export/apply.
    */
  private def manifestRowCount(spark: org.apache.spark.sql.SparkSession,
                               path: String): Long =
    // only n_rows is read — supplying that one column as the schema
    // skips the footer-sampling inference job (r16 job diet)
    spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType))))
      .parquet(s"$path/_export_manifest")
      .agg(coalesce(sum("n_rows"), lit(0L))).head.getLong(0)

  /** APPLY a [[exportDelta]] delivery onto a consumer copy — the verb
    * that executes the documented delete-then-add contract instead of
    * leaving it to the trainer's shell scripts. `copyDir` (a
    * [[exportSnapshot]] / previous applyDelta output) is read, `removes`'
    * ids are anti-joined away, `adds`' full rows appended, and the result
    * lands at `outDir` re-sharded with a fresh integrity manifest and the
    * advanced `_corpus_version` stamp — so applies CHAIN: v1 copy +
    * (1,2] + (2,3] deltas ≡ a v3 copy, each hop churn-proportional in
    * everything but the copy rewrite itself.
    *
    * Refusals (all BEFORE any byte is written):
    *  - `outDir == copyDir` — the apply reads its input lazily while
    *    writing; an in-place overwrite would read its own output;
    *  - a version-stamped copy whose stamp ≠ the delta's `old_version` —
    *    a gapped or double-applied delta silently diverges (changed ids
    *    would delete rows that were never there / add rows twice), so
    *    the mismatch refuses loudly (the [[graft.operators.IndexSync]]
    *    range discipline, consumer-side);
    *  - an UNHEALTHY delivery: both present sides are [[exportAudit]]ed
    *    first — a shard lost in the engine→trainer copy refuses the
    *    apply rather than materializing a silently short corpus. A
    *    doubted delivery is re-exported, not patched.
    *
    * Scale: the audits and the anti-join's build side are churn-bounded
    * (AQE broadcasts them when small — unhinted, the filtered-search
    * discipline); the copy rewrite is the one corpus-proportional pass,
    * the honest floor for a consumer that stores plain sharded parquet.
    */
  def applyDelta(spark: org.apache.spark.sql.SparkSession,
                 copyDir: String, deltaDir: String, outDir: String,
                 idCol: String, numShards: Int = 16,
                 seed: Long = 5L): DataFrame = {
    require(new java.io.File(outDir).getCanonicalPath !=
      new java.io.File(copyDir).getCanonicalPath,
      s"applyDelta cannot apply in place (outDir == copyDir): $outDir")
    val range = graft.operators.StoreFs
      .readFileUtf8(spark, s"$deltaDir/_delta_range").trim.split("\t")
    val (oldV, newV) = (range(0).toLong, range(1).toLong)
    val (nAdds, nRemoves) = (range(2).toLong, range(3).toLong)
    val stampPath = s"$copyDir/_corpus_version"
    if (graft.operators.StoreFs.exists(spark, stampPath)) {
      val stamp = graft.operators.StoreFs.readFileUtf8(spark, stampPath)
        .trim.toLong
      require(stamp == oldV,
        s"applyDelta range mismatch: copy at version $stamp, delta " +
          s"covers ($oldV, $newV] — apply the ($stamp, …] delta first " +
          "(a gapped or replayed delta silently diverges)")
    }
    // the two side audits are independent reads — overlap them
    // (Par §2.6; r15); both must pass before anything is written
    graft.operators.Par.run(
      Seq("adds" -> nAdds, "removes" -> nRemoves).collect {
        case (side, n) if n > 0 => () => {
          val a = exportAudit(spark, s"$deltaDir/$side", Seq("shard"),
            idCol)
          require(a.select("healthy").head.getBoolean(0),
            s"applyDelta refuses an unhealthy delivery: $deltaDir/$side " +
              "fails its integrity audit — re-export the delta")
        }
      }: _*)
    // the copy read's inference types the delta legs: adds share the
    // copy's writeShuffled layout exactly, removes carry just the id
    // (r16 job diet — was three inference jobs, now one)
    val copy0 = spark.read.parquet(copyDir)
    val copy = copy0.drop("shard")
    val removed =
      if (nRemoves > 0)
        copy.join(
          spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
              copy0.schema(idCol))))
            .parquet(s"$deltaDir/removes").select(col(idCol)),
          Seq(idCol), "left_anti")
      else copy
    val applied =
      if (nAdds > 0)
        removed.unionByName(
          spark.read.schema(copy0.schema)
            .parquet(s"$deltaDir/adds").drop("shard"))
      else removed
    writeShuffled(applied, idCol, numShards, seed, outDir)
    exportManifest(spark, outDir, Seq("shard"), idCol)
    graft.operators.StoreFs.writeFile(spark, s"$outDir/_corpus_version",
      newV.toString)
    val n = manifestRowCount(spark, outDir)
    val sp = spark
    import sp.implicits._
    Seq(("export_apply", outDir, oldV, newV, nAdds, nRemoves, n))
      .toDF("verb", "store", "old_version", "new_version", "n_adds",
        "n_removes", "n_rows")
  }

  /** K3 (`bolt/bolt.go:522-541`): the nasalog report — per host, a
    * `host:count` header line, each distinct route on its own line, then a
    * `===` separator; hosts sorted, routes sorted within a host. Sorted in
    * one partition for the same one-pass reason as [[writeWordCount]].
    */
  def writeHostReport(perHost: DataFrame, hostCol: String, cntCol: String,
                      routesCol: String, path: String): Unit =
    perHost.repartition(1).sortWithinPartitions(hostCol)
      .select(concat(
        concat_ws(":", col(hostCol), col(cntCol)), lit("\n"),
        array_join(sort_array(col(routesCol)), "\n"), lit("\n===")).as("value"))
      .write.mode("overwrite").text(path)
}

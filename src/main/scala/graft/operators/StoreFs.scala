package graft.operators

import org.apache.spark.sql.SparkSession

/** Filesystem plumbing shared by the persisted stores: existence probes,
  * small-file reads and writes, and the two put-if-absent primitives every
  * store commits through — [[createExclusive]] publishes a log entry
  * ([[StoreSegments]]: the text, IVF, IVF-PQ, zone-map and tokenizer
  * stores), [[renameExclusive]] publishes a snapshot version directory
  * ([[Curation.writeSnapshot]]). One commit rule for all of them: write
  * under a name unique to the attempt, then make ONE put-if-absent that
  * a second writer loses, naming the store. No store takes a lock.
  * Hadoop `FileSystem`, never `java.io.File` — the stores' pitch is the
  * production path, and these must work against an HDFS/S3 root exactly
  * like the writes themselves (same rule as [[Curation.snapshotVersions]]).
  */
private[graft] object StoreFs {

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p)
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val (f, p) = fs(spark, path)
    if (f.exists(p)) f.delete(p, true)
  }

  def writeFile(spark: SparkSession, path: String, content: String): Unit = {
    val (f, p) = fs(spark, path)
    val parent = p.getParent
    if (parent != null && !f.exists(parent)) f.mkdirs(parent)
    val out = f.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Create `path` holding `content` only if no file is there: true when
    * this call created it. Readers see the whole content or no file. The
    * local FS writes a hidden temp file and hard-links it into place
    * (`link(2)` fails on an existing name); other filesystems rename
    * without overwrite, which HDFS's namenode arbitrates. Never an
    * exists-then-rename: two callers could both pass the check.
    */
  def createExclusive(spark: SparkSession, path: String,
                      content: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.mkdirs(p.getParent)
    val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tmpName = s".${p.getName}.${java.util.UUID.randomUUID()}.tmp"
    if (f.getScheme == "file") {
      val target = java.nio.file.Paths.get(p.toUri.getPath)
      val tmp = target.resolveSibling(tmpName)
      java.nio.file.Files.write(tmp, bytes)
      try { java.nio.file.Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val tmp = new org.apache.hadoop.fs.Path(p.getParent, tmpName)
      val out = f.create(tmp, false)
      try out.write(bytes) finally out.close()
      try f.rename(tmp, p) finally f.delete(tmp, false)
    }
  }

  /** Rename directory `src` to `dst` only if nothing is at `dst`: true
    * when this call published it. Readers see the whole directory or
    * none. The local FS moves with NIO `ATOMIC_MOVE` (`rename(2)` fails
    * on a non-empty target); other filesystems use `FileContext.rename`
    * without overwrite, which HDFS's namenode arbitrates. Never
    * `FileSystem.rename`: onto an existing directory it returns true and
    * moves `src` INSIDE it.
    */
  def renameExclusive(spark: SparkSession, src: String,
                      dst: String): Boolean = {
    val (f, s) = fs(spark, src)
    val d = new org.apache.hadoop.fs.Path(dst)
    if (f.getScheme == "file") {
      val target = java.nio.file.Paths.get(d.toUri.getPath)
      try {
        java.nio.file.Files.move(java.nio.file.Paths.get(s.toUri.getPath),
          target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch {
        // EEXIST or ENOTEMPTY, by filesystem
        case _: java.nio.file.FileSystemException
            if java.nio.file.Files.exists(target) => false
      }
    } else
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(f.getUri,
            spark.sparkContext.hadoopConfiguration)
          .rename(s, d, org.apache.hadoop.fs.Options.Rename.NONE)
        true
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
  }

  def readFileUtf8(spark: SparkSession, path: String): String = {
    val (f, p) = fs(spark, path)
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  def listSubdirs(spark: SparkSession, path: String): Seq[String] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  /** The names of the files directly under `path` (none when absent). */
  def listFiles(spark: SparkSession, path: String): Seq[String] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).filterNot(_.isDirectory).map(_.getPath.getName).toSeq
  }

  /** At most this many [[frozen]] values stay on the driver. */
  private val FrozenEntries = 16

  private val frozenMemo =
    new java.util.LinkedHashMap[Seq[String], Any](FrozenEntries, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[String], Any]): Boolean =
        size() > FrozenEntries
    }

  /** A driver memo for a store's frozen components: `read`'s value
    * (tagged `what`, one per call site and value type) is reused for as
    * long as `key` names the same immutable segments — the store root and
    * the segment ids its log entry lists ([[StoreSegments.Entry]]). A
    * segment is never rewritten under its id, so an equal key means equal
    * files, and no listing is needed to tell.
    *
    * Only values bounded by construction belong here: the IVF/IVF-PQ
    * codebooks (≤ maxCentroids·dim and ksub·dim doubles), tombstone id
    * sets (drained by compaction) and the text index's corpus totals
    * (`n_docs`, `sum_dl`: two Longs) — never postings, terms, docs,
    * positions, query inputs or results. Least-recently-used entries
    * beyond [[FrozenEntries]] are dropped. A failed read memoizes nothing.
    * A value is shared by every caller, so none may mutate it.
    */
  def frozen[T](what: String, key: Seq[String])(read: => T): T = {
    val k = what +: key
    frozenMemo.synchronized(Option(frozenMemo.get(k))) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = read
        frozenMemo.synchronized(frozenMemo.put(k, v))
        v
    }
  }

  /** `df` without the rows whose `idCol` is one of `ids`: a
    * driver-constant `NOT IN` filter below the scan (an `InSet` past the
    * optimizer's conversion threshold) instead of a broadcast anti-join,
    * so it costs no job. It keeps the anti-join's semantics: ids compare
    * under the same type coercion as the join's equality, and a row with
    * a null id is kept (a null never equals a tombstone). The plan carries
    * the ids — 8 B each per task — which compaction keeps bounded.
    */
  def hideIds(df: org.apache.spark.sql.DataFrame, idCol: String,
              ids: Seq[Long]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    if (ids.isEmpty) df
    else df.filter(col(idCol).isNull || not(col(idCol).isin(ids: _*)))
  }

  /** The Spark schema of the parquet data under `path`, from the footer
    * of its first data file in sorted listing order — the footer reading
    * and conversion Spark's schema inference does, without the job that
    * inference submits even for one file. The walk skips hidden entries
    * (`_SUCCESS`, `.crc`, `_metadata`, as Spark's listing does) and
    * subdirectories named in `skip`; None when it finds no data file.
    */
  def footerSchema(spark: SparkSession, path: String,
                   skip: Set[String] = Set.empty)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.FileStatus
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val (f, p) = fs(spark, path)
    def first(s: FileStatus): Option[FileStatus] =
      if (!s.isDirectory) Some(s)
      else f.listStatus(s.getPath).toSeq
        .filterNot { c =>
          val n = c.getPath.getName
          n.startsWith("_") || n.startsWith(".") ||
            (c.isDirectory && skip.contains(n))
        }
        .sortBy(_.getPath.getName).iterator.flatMap(first).nextOption()
    first(f.getFileStatus(p)).map { file =>
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark.sparkContext.hadoopConfiguration, file,
        org.apache.parquet.format.converter.ParquetMetadataConverter
          .SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(file.getPath, footer),
        new ParquetToSparkSchemaConverter(
          org.apache.spark.sql.internal.SQLConf.get))
    }
  }

  /** `spark.read.parquet(path)` typed by [[footerSchema]]: no inference
    * job. Partition columns of a `key=value` tree are still discovered
    * from the directory names, as inference does.
    */
  def readParquet(spark: SparkSession,
                  path: String): org.apache.spark.sql.DataFrame =
    spark.read.schema(footerSchema(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path")))
      .parquet(path)

  /** Whether a failure is a read that lost a file to a concurrent writer
    * (a GC beat a reader's plan construction) rather than real corruption.
    */
  def isMissingFileError(t: Throwable): Boolean =
    hasCause(t, classOf[java.io.FileNotFoundException]) ||
      String.valueOf(t.getMessage).contains("FileNotFoundException") ||
      String.valueOf(t.getMessage).contains("PATH_NOT_FOUND")

  /** Default pause before retry `n` (1-based): 20, 40, 80, 160 ms. */
  val retryPause: Int => Unit = n => Thread.sleep(10L << n)

  /** Run a store read, re-running it up to 4 times when it lost a file
    * to a concurrent writer ([[isMissingFileError]]) with `pause(n)`
    * before retry `n`: a re-run resolves the store again and reads only
    * what the newer state names. Any other failure, or a miss that
    * outlasts the bound, propagates.
    */
  def retryTornReads[T](pause: Int => Unit = retryPause)(read: => T): T = {
    var attempt = 0
    while (true) {
      try return read
      catch {
        case e: Throwable if attempt < 4 && isMissingFileError(e) =>
          attempt += 1
          pause(attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  @annotation.tailrec
  private def hasCause(t: Throwable, c: Class[_ <: Throwable]): Boolean =
    t != null && (c.isInstance(t) || hasCause(t.getCause, c))
}

/** The WRITE-ONCE LOG of a store (the text, IVF and IVF-PQ indexes, the
  * zone map, the BPE tokenizer): every version of the store is one
  * immutable entry `_log/<v>` naming
  *
  *  - the layout facts verbs and searches read: the bucket count (text)
  *    and whether positions are stored; any other store fact as a
  *    `fact` line (the zone map's frozen bounds);
  *  - every component's live segments, each with the partition keys
  *    newer segments superseded (the model files are components too);
  *  - the tombstone segments (component [[Tomb]]);
  *  - `txn`: per source (a CDC sync, a streaming checkpoint) the last
  *    version of it applied — Delta's `SetTransaction`. Every verb carries
  *    it forward and a rebuild starts with none; a verb given
  *    `(source, v)` commits `v` in the same put-if-absent as its segments,
  *    so a replayed version finds itself recorded and commits nothing.
  *
  * A segment is an immutable directory `<dir>/<comp>/seg=<id>`, written
  * once under an id unique to the writing attempt and prefixed by the
  * version the writer started from. Every verb (build, append, delete,
  * compact, fused delete+compact, sync, vacuum; a zone-map write, append
  * or sidecar repair; a tokenizer save) writes its new segments,
  * then publishes `v + 1` EXACTLY ONCE with a put-if-absent
  * ([[StoreFs.createExclusive]]) — the commit, Delta Lake's mutual
  * exclusion and multi-file atomicity in one step (Armbrust et al., VLDB
  * 2020). A writer that loses the race, or crashes, leaves only segments
  * no entry references; a reader resolves the newest entry once and opens
  * only what it names, so it sees version `v` or `v + 1`, never a mix.
  * There is no write lock: a loser fails at its commit, naming the store.
  *
  * A reader scans each component ONCE however many segments are live:
  * the segments are `seg=` partitions under one root, so membership and
  * superseded keys are partition filters ([[scan]]).
  *
  * Garbage collection runs after a commit of `N` that lets data go — a
  * compact, fused delete+compact, vacuum or rebuild; an append or a
  * delete only adds ([[gc]]): a segment no longer named by entry `N` or
  * `N - 1` goes when its writer's base version is below `N` (that writer
  * can no longer commit), and a superseded key directory goes once both
  * entries exclude it. So what one maintenance verb supersedes lives
  * until the next one commits, however many appends and deletes come
  * between: a search planned before a compaction still collects after
  * them. Drained tombstones are the one exception, deleted by the drain
  * that drops them: a search or audit holds tombstone ids as plan
  * literals, and one that has yet to read them loses the file and
  * resolves again ([[StoreFs.retryTornReads]]).
  */
private[graft] object StoreSegments {

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{coalesce, col, lit, not}
  import org.apache.spark.sql.types.{IntegerType, StringType, StructField,
    StructType}

  /** The tombstone component's name: `<dir>/tombstones/seg=<id>`. */
  val Tomb = "tombstones"

  /** A live segment and its partition keys superseded by newer ones. */
  final case class Seg(id: String, excluded: Seq[Long] = Nil)

  /** One version of a store: its layout facts, live segments, the last
    * version applied per source and its other facts by name.
    */
  final case class Entry(version: Long, buckets: Int, positions: Boolean,
                         comps: Map[String, Seq[Seg]],
                         txn: Map[String, Long] = Map.empty,
                         facts: Map[String, String] = Map.empty) {
    def segs(comp: String): Seq[Seg] = comps.getOrElse(comp, Nil)
    def has(comp: String): Boolean = segs(comp).nonEmpty
    def layout: String = s"buckets = $buckets, positions = $positions"
    /** `comp` with `segs` as its live segments (none drops it). */
    def set(comp: String, segs: Seq[Seg]): Entry =
      copy(comps = if (segs.isEmpty) comps - comp else comps.updated(comp, segs))
    /** The ids of `comps`' live segments, the [[StoreFs.frozen]] key. */
    def ids(cs: String*): Seq[String] = cs.flatMap(c => segs(c).map(_.id))
    /** The store's bucket count; a non-zero `asked` must equal it. */
    def bucketsFor(dir: String, asked: Int): Int = {
      require(asked == 0 || asked == buckets,
        s"the store at $dir has layout ($layout); the call asked for " +
          s"buckets = $asked")
      buckets
    }
  }

  /** Called with (store dir, step) before each segment write
    * (`write <comp>`), the commit (`commit`; a snapshot version's publish
    * too) and the garbage collection after it (`gc`, when the commit lets
    * data go) of a verb, and after a search or verb resolves its entry
    * (`resolved`): tests stop or pause a verb or a search there. No-op in
    * production.
    */
  @volatile private[graft] var hook: (String, String) => Unit = (_, _) => ()

  private def logDir(dir: String) = s"$dir/_log"

  private def render(e: Entry): String = {
    def field(what: String, v: String) = {
      require(!v.exists("\t\n".contains(_)), s"log $what '$v'")
      v
    }
    (Seq(s"buckets\t${e.buckets}", s"positions\t${e.positions}") ++
      e.comps.toSeq.sortBy(_._1).flatMap { case (c, ss) =>
        ss.map(s => s"seg\t$c\t${s.id}\t${s.excluded.mkString(",")}")
      } ++ e.txn.toSeq.sorted.map { case (src, v) =>
        s"txn\t${field("source name", src)}\t$v" } ++
      e.facts.toSeq.sorted.map { case (n, v) =>
        s"fact\t${field("fact name", n)}\t${field("fact value", v)}" } :+
      "end").mkString("\n")
  }

  private def parse(dir: String, v: Long, content: String): Entry = {
    val lines = content.linesIterator.toSeq
    require(lines.lastOption.contains("end"),
      s"log entry $v of the store at $dir is incomplete")
    lines.init.map(_.split("\t", -1).toSeq)
      .foldLeft(Entry(v, 0, positions = false, Map.empty)) {
        case (e, Seq("buckets", n)) => e.copy(buckets = n.toInt)
        case (e, Seq("positions", p)) => e.copy(positions = p.toBoolean)
        case (e, Seq("seg", c, id, ex)) => e.set(c, e.segs(c) :+
          Seg(id, ex.split(",").filter(_.nonEmpty).map(_.toLong).toSeq))
        case (e, Seq("txn", src, n)) =>
          e.copy(txn = e.txn.updated(src, n.toLong))
        case (e, Seq("fact", n, v)) => e.copy(facts = e.facts.updated(n, v))
        case (_, l) => throw new IllegalStateException(
          s"malformed line in log entry $v of the store at $dir: " +
            l.mkString("\t"))
      }
  }

  /** The newest entry of the store at `dir`, None when it has no log. */
  def latestOpt(spark: SparkSession, dir: String): Option[Entry] =
    StoreFs.listFiles(spark, logDir(dir))
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      .maxOption.map(v => parse(dir, v,
        StoreFs.readFileUtf8(spark, s"${logDir(dir)}/$v")))

  /** [[latestOpt]] of a store that must exist, then the `resolved`
    * [[hook]]: the entry a search or verb reads.
    */
  def latest(spark: SparkSession, dir: String): Entry = {
    val e = latestOpt(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"no store at $dir: its log is empty — build it first"))
    hook(dir, "resolved")
    e
  }

  /** The live rows of `comp` at `e` under `schema` (data columns, then
    * the `keyCol` partition; "" for a plain component): ONE scan of the
    * component root over the live `seg=` directories, each segment's
    * superseded keys filtered as partitions (pruned, never read).
    */
  def scan(spark: SparkSession, dir: String, e: Entry, comp: String,
           keyCol: String, schema: StructType): DataFrame = {
    val segs = e.segs(comp)
    require(segs.nonEmpty,
      s"the store at $dir has no $comp at version ${e.version} (${e.layout})")
    val root = s"$dir/$comp"
    val df = spark.read.schema(schema.add(StructField("seg", StringType)))
      .option("basePath", root)
      .parquet(segs.map(s => s"$root/seg=${s.id}"): _*)
    // the null key's partition (a null id's `dbucket`) is never superseded
    val superseded = segs.filter(_.excluded.nonEmpty).map(s =>
      col("seg") === s.id && col(keyCol).isin(s.excluded: _*))
    (if (superseded.isEmpty) df
     else df.filter(not(coalesce(superseded.reduce(_ || _), lit(false)))))
      .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** The component's data schema (partition columns excluded) from the
    * footer of its first live data file, superseded keys skipped; every
    * segment shares it.
    */
  def footerData(spark: SparkSession, dir: String, e: Entry, comp: String,
                 keyCol: String): StructType =
    e.segs(comp).iterator.flatMap(s => StoreFs.footerSchema(spark,
        s"$dir/$comp/seg=${s.id}", s.excluded.map(k => s"$keyCol=$k").toSet))
      .nextOption()
      .getOrElse(throw new IllegalStateException(
        s"no live data file of $comp in the store at $dir"))

  /** [[scan]] at `e`, typed by `schema` or by the footer with the
    * `keyCol` partition declared Int.
    */
  def readAt(spark: SparkSession, dir: String, e: Entry, comp: String,
             keyCol: String, schema: Option[StructType] = None): DataFrame =
    scan(spark, dir, e, comp, keyCol, schema.getOrElse {
      val data = footerData(spark, dir, e, comp, keyCol)
      if (keyCol.isEmpty) data else data.add(StructField(keyCol, IntegerType))
    })

  /** [[readAt]] the newest entry. */
  def read(spark: SparkSession, dir: String, comp: String, keyCol: String,
           schema: Option[StructType] = None): DataFrame =
    readAt(spark, dir, latest(spark, dir), comp, keyCol, schema)

  /** The tombstoned ids at `e`, deduplicated on the driver and memoized by
    * tombstone segment ([[StoreFs.frozen]]); `schema` is the tombstone
    * layout the family declares, so no read infers.
    */
  def tombstoneIds(spark: SparkSession, dir: String, e: Entry, idCol: String,
                   schema: StructType): Seq[Long] =
    if (!e.has(Tomb)) Nil
    else StoreFs.frozen(s"tombstone ids $idCol", dir +: e.ids(Tomb)) {
      // a distinct() costs two more jobs under AQE; the list is bounded
      scan(spark, dir, e, Tomb, "", schema)
        .select(col(idCol).cast("long")).collect().map(_.getLong(0))
        .distinct.toSeq
    }

  /** A SEARCH's view of one component at `e`: the live rows under
    * `declare(footer schema)` — the footer types the caller's id column —
    * with the tombstoned ids hidden below the scan ([[StoreFs.hideIds]];
    * `tombSchema(layout)` types the tombstone read). Analysis runs no
    * Spark job once the ids are memoized.
    */
  def live(spark: SparkSession, dir: String, e: Entry, comp: String,
           keyCol: String, idCol: String,
           declare: StructType => StructType,
           tombSchema: StructType => StructType): DataFrame = {
    val rows = scan(spark, dir, e, comp, keyCol,
      declare(footerData(spark, dir, e, comp, keyCol)))
    StoreFs.hideIds(rows, idCol,
      tombstoneIds(spark, dir, e, idCol, tombSchema(rows.schema)))
  }

  /** The partition directories of segment `s` of `comp` with their keys
    * (a listing); None for the null key's partition, which no exclusion
    * names.
    */
  def keysOf(spark: SparkSession, dir: String, comp: String,
             s: Seg): Seq[(String, Option[Long])] =
    StoreFs.listSubdirs(spark, s"$dir/$comp/seg=${s.id}")
      .flatMap(n => n.split("=", 2) match {
        case Array(_, k) => Some(n -> k.toLongOption)
        case _ => None
      })

  /** ONE verb's write side: segments written under ids unique to this
    * attempt, then [[commit]]. `base` is the entry the verb read (None
    * for a build into an empty directory).
    */
  final class Writer(val spark: SparkSession, val dir: String,
                     val base: Option[Entry]) {
    private val from = base.fold(0L)(_.version)

    private def newSeg(comp: String): (String, String) = {
      hook(dir, s"write $comp")
      val id = s"$from-${java.util.UUID.randomUUID().toString.take(13)}"
      (id, s"$dir/$comp/seg=$id")
    }

    /** `df` (clustered by `keyCol` by the caller) as a new segment of
      * `comp`, partitioned by `keyCol` — none when no row landed (a
      * zero-row partitioned write leaves no `key=` directory, so one
      * listing answers what a separate emptiness probe would evaluate the
      * frame for).
      */
    def keyed(comp: String, keyCol: String, df: DataFrame): Option[Seg] = {
      val (id, path) = newSeg(comp)
      df.write.partitionBy(keyCol).parquet(path)
      if (StoreFs.listSubdirs(spark, path).exists(_.startsWith(s"$keyCol=")))
        Some(Seg(id))
      else { StoreFs.delete(spark, path); None }
    }

    /** `df` as a new plain segment of `comp`. */
    def plain(comp: String, df: DataFrame): Seg = {
      val (id, path) = newSeg(comp)
      df.write.parquet(path)
      Seg(id)
    }

    /** Publish `next` as version base + 1. A lost race fails naming the
      * store; nothing this writer wrote is referenced.
      */
    def commit(next: Entry): Entry = {
      hook(dir, "commit")
      val v = from + 1
      val e = next.copy(version = v)
      if (!StoreFs.createExclusive(spark, s"${logDir(dir)}/$v", render(e)))
        throw new IllegalStateException(
          s"the store at $dir changed under this verb: a concurrent writer " +
            s"committed version $v first; nothing this verb wrote is " +
            "referenced — retry it against the new version")
      // only a commit that drops a segment or supersedes a key collects:
      // an append or a delete adds, and keeps the previous grace running
      base.filter(b => b.comps.exists { case (c, ss) =>
        !ss.forall(e.segs(c).contains) }).foreach { prev =>
        hook(dir, "gc")
        gc(spark, dir, prev, e)
      }
      e
    }
  }

  /** Run one verb's writes against `base` and commit the entry `body`
    * returns (None: nothing to change, nothing committed). A failure after
    * another writer has committed is reported as that race, naming the
    * store; segments a failed attempt wrote are left to [[gc]].
    */
  def write(spark: SparkSession, dir: String, base: Option[Entry])
           (body: Writer => Option[Entry]): Unit = {
    val w = new Writer(spark, dir, base)
    try body(w).foreach(w.commit)
    catch {
      case e: Throwable
          if !e.isInstanceOf[IllegalStateException] &&
            latestOpt(spark, dir).map(_.version) != base.map(_.version) =>
        throw new IllegalStateException(
          s"the store at $dir changed under this verb: a concurrent writer " +
            "committed first — retry it against the new version", e)
    }
  }

  /** Collect what entry `next`'s commit let go (a segment `prev` named
    * that `next` drops or excludes keys of), keeping everything entry
    * `prev` still names (grace until the next such commit) and every
    * segment a pending writer may yet commit (its base version is
    * `next.version`).
    */
  private def gc(spark: SparkSession, dir: String, prev: Entry,
                 next: Entry): Unit = {
    val named = Seq(next, prev).flatMap(_.comps.values.flatten).map(_.id).toSet
    for (c <- next.comps.keySet ++ prev.comps.keySet;
         n <- StoreFs.listSubdirs(spark, s"$dir/$c")
         if n.startsWith("seg=")) {
      val id = n.stripPrefix("seg=")
      val from = id.takeWhile(_ != '-').toLongOption.getOrElse(Long.MaxValue)
      if (!named(id) && from < next.version)
        StoreFs.delete(spark, s"$dir/$c/$n")
    }
    for ((c, segs) <- next.comps; s <- segs if s.excluded.nonEmpty) {
      val before = prev.segs(c).find(_.id == s.id)
        .fold(Set.empty[Long])(_.excluded.toSet)
      val gone = s.excluded.toSet.intersect(before)
      keysOf(spark, dir, c, s).collect {
        case (n, Some(k)) if gone(k) => n
      }.foreach(n => StoreFs.delete(spark, s"$dir/$c/seg=${s.id}/$n"))
    }
    // drained tombstones go now, and their root with the last of them
    prev.segs(Tomb).filterNot(next.segs(Tomb).contains)
      .foreach(s => StoreFs.delete(spark, s"$dir/$Tomb/seg=${s.id}"))
    if (!next.has(Tomb) && StoreFs.listSubdirs(spark, s"$dir/$Tomb").isEmpty &&
        StoreFs.listFiles(spark, s"$dir/$Tomb").isEmpty)
      StoreFs.delete(spark, s"$dir/$Tomb")
  }
}

package graft.operators

import org.apache.hadoop.fs.Path

/** SINGLE-WRITER enforcement for the persisted stores that still lock —
  * the zone map, the snapshot store and the saved BPE tokenizer: every
  * mutating verb runs under [[withWriteLock]], which creates the store's `_lock` file
  * EXCLUSIVELY (create-if-absent — atomic on HDFS-family filesystems,
  * where the namenode arbitrates, and on the local scheme via NIO
  * `createFile`) and deletes it when the verb finishes or throws.
  *
  * The text, IVF and IVF-PQ stores take no lock: each verb, and each CDC
  * sync, commits one entry of their write-once log ([[StoreSegments]]),
  * whose put-if-absent already fails the second of two racing writers.
  *
  * Why this exists: every locked store's append path is a
  * read-modify-write of shared metadata (the zone map merges its `_zones`
  * sidecar, a snapshot version claims the next number).
  * Two RACING writers would interleave those silently — the second
  * writer's sidecar overwrite erases the first's counts, and nothing
  * fails until a scan prunes live rows. The reference serializes all
  * SDFS puts through the single master process (`Nimbus.go:461-490`);
  * a library of Spark jobs has no master, so the store itself must
  * refuse: the SECOND writer fails LOUDLY at acquisition, before it has
  * written a single byte — serialize-or-abort, store untouched on abort
  * (gated in StoreLockSpec with deliberately interleaved appends).
  *
  * This is writer-vs-writer only, by design: readers never take the lock
  * (search/scan plans are unaffected), and the stores' component writes
  * are already ordered so a reader concurrent with a writer sees a
  * consistent (possibly pre-append) view.
  *
  * A CRASHED writer leaves its lock behind — deliberate (a lock that
  * auto-expires invites the very race it exists to prevent). The holder's
  * identity and acquisition time are IN the lock file, so the operator
  * can decide, and [[forceUnlock]] is the documented recovery verb. The
  * crashed writer may also have left a partial append; every store's
  * audit (`*Audit` fsck verbs) detects that independently.
  */
object StoreLock {

  /** The lock file's name under the store root. Underscore-prefixed like
    * the metadata sidecars, so partitioned parquet reads ignore it.
    */
  val LockName = "_lock"

  /** Filesystems whose create-if-absent is genuinely ATOMIC (namenode-
    * or kernel-arbitrated). On anything else — the object stores: s3a,
    * gcs, abfs — `create(overwrite = false)` is check-then-create, two
    * writers can both "win", and the single-writer guarantee silently
    * degrades to nothing on exactly the deployments most likely to race.
    * Acquisition on a non-whitelisted scheme WARNS loudly (once per
    * scheme) instead of silently accepting: the store still works, the
    * operator knows the lock is advisory there, and the documented fix
    * is an HDFS-backed lock root or an external coordinator.
    */
  val AtomicCreateSchemes: Set[String] =
    Set("file", "hdfs", "viewfs", "webhdfs", "swebhdfs", "ofs", "o3fs")

  private val warnedSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def resolved(conf: Option[org.apache.hadoop.conf.Configuration]) =
    conf
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.hadoopConfiguration))
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Run `body` holding `dir`'s exclusive write lock; release on exit or
    * failure. Throws [[IllegalStateException]] — naming the current
    * holder and the recovery verb — if another writer holds the lock.
    */
  def withWriteLock[T](dir: String,
                       conf: Option[org.apache.hadoop.conf.Configuration] = None)
                      (body: => T): T = {
    val lock = new Path(dir, LockName)
    val fs = lock.getFileSystem(resolved(conf))
    val scheme = String.valueOf(fs.getScheme)
    if (!AtomicCreateSchemes.contains(scheme) && warnedSchemes.add(scheme))
      System.err.println(
        s"[graft] WARNING: store lock on scheme '$scheme' is ADVISORY — " +
          "create-if-absent is not atomic there (check-then-create), so " +
          "two racing writers can both acquire; use an HDFS-family lock " +
          "root for a real single-writer guarantee")
    val payload =
      s"pid=${ProcessHandle.current().pid()} thread=${Thread.currentThread().getName} " +
        s"acquired_epoch_ms=${System.currentTimeMillis()}"
    val parent = lock.getParent
    if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
    val acquired =
      if (fs.getScheme == "file") {
        // NIO createFile is atomic create-if-absent on a local disk;
        // Hadoop's RawLocalFileSystem.create(p, false) is exists-then-
        // create — a window two local writers could both slip through
        try {
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(lock.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        // HDFS-family: create(overwrite = false) is arbitrated by the
        // namenode — exactly one concurrent caller wins
        try { fs.create(lock, false).close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException
              if String.valueOf(e.getMessage).contains("exist") => false
        }
      }
    if (!acquired) {
      val holder =
        try {
          val in = fs.open(lock)
          try {
            val buf = new Array[Byte](4096)
            val n = in.read(buf)
            if (n <= 0) "<no payload yet>"
            else new String(buf, 0, n, java.nio.charset.StandardCharsets.UTF_8)
          } finally in.close()
        } catch { case _: Throwable => "<unreadable>" }
      throw new IllegalStateException(
        s"store at $dir is locked by a concurrent writer [$holder] — " +
          "persisted stores are single-writer; retry after it finishes, " +
          "or StoreLock.forceUnlock(dir) if the holder crashed")
    }
    try {
      // payload written AFTER the atomic create: the create is the lock;
      // the content is diagnostics for the loser's error message
      val out = fs.create(lock, true)
      try out.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      body
    } finally fs.delete(lock, false)
  }

  /** Whether `dir` is currently locked by a writer. */
  def isLocked(dir: String,
               conf: Option[org.apache.hadoop.conf.Configuration] = None): Boolean = {
    val lock = new Path(dir, LockName)
    lock.getFileSystem(resolved(conf)).exists(lock)
  }

  /** Remove a lock left by a CRASHED writer — the operator's recovery
    * verb. Returns whether a lock existed. Run the store's audit after:
    * the crash that orphaned the lock may also have left a partial write.
    */
  def forceUnlock(dir: String,
                  conf: Option[org.apache.hadoop.conf.Configuration] = None): Boolean = {
    val lock = new Path(dir, LockName)
    val fs = lock.getFileSystem(resolved(conf))
    fs.exists(lock) && fs.delete(lock, false)
  }
}

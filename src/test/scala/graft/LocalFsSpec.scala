package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.operators.Relational
import graft.sinks.Sinks
import graft.streaming.BoundedStream

/** The `file:` binding of [[GraftSession.local]] (`graft.io`) against
  * Hadoop's stock local file system: the same mode bits, the same link
  * probes, the same checksums, and checkpoints either side reads.
  */
class LocalFsSpec extends SparkTestBase {

  private val root = URI.create("file:///")
  private val modes = Seq("600", "644", "700", "755", "1777")
    .map(m => Integer.parseInt(m, 8).toShort)

  private def tmpDir(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(prefix)

  /** A conf naming Hadoop's stock local classes or the binding. */
  private def conf(nio: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl",
      (if (nio) classOf[NioLocalFileSystem] else classOf[LocalFileSystem]).getName)
    c.set("fs.AbstractFileSystem.file.impl",
      (if (nio) classOf[NioLocalFs] else classOf[LocalFs]).getName)
    c
  }

  private def raw(nio: Boolean): RawLocalFileSystem = {
    val fs = if (nio) new NioRawLocalFileSystem else new RawLocalFileSystem
    fs.initialize(root, conf(nio))
    fs
  }

  /** The full st_mode permission bits, the sticky bit included. */
  private def modeOf(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode",
      java.nio.file.LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  test("mode bits equal the stock file system's, through FileSystem and FileContext") {
    def modesUnder(nio: Boolean): Seq[(String, Int)] = {
      val dir = tmpDir(s"graft-modes-$nio")
      val fs = FileSystem.newInstance(root, conf(nio))
      val fc = FileContext.getFileContext(root, conf(nio))
      assert(fs.isInstanceOf[NioLocalFileSystem] == nio &&
        fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem] == nio)
      assert(fc.getDefaultFileSystem.getClass ==
        (if (nio) classOf[NioLocalFs] else classOf[LocalFs]))
      try modes.flatMap { m =>
        val perm = new FsPermission(m)
        val at = (s: String) => new Path(dir.resolve(f"$s-$m%o").toString)
        fs.create(at("fs-file"), perm, true, 4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(at("fs-dir"), perm)
        fc.create(at("fc-file"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(perm)).close()
        fc.mkdir(at("fc-dir"), perm, false)
        Seq("set-file", "set-dir").foreach { s =>
          if (s == "set-file") fs.create(at(s)).close() else fs.mkdirs(at(s))
          fs.setPermission(at(s), perm)
          assert(modeOf(Paths.get(at(s).toUri.getPath)) == m, s"$s $m")
        }
        // each file and directory, and each file's .crc
        Files.list(dir).iterator().asScala.toSeq
          .filter(_.getFileName.toString.contains(f"-$m%o"))
          .map(p => p.getFileName.toString -> modeOf(p))
      }.sorted finally fs.close()
    }
    val stock = modesUnder(nio = false)
    assert(stock.size == modes.size * 9, stock) // 6 paths, 3 of them .crc'd
    assert(modesUnder(nio = true) == stock)
  }

  test("getFileLinkStatus equals the stock one: file, dir, link, broken link, absent") {
    val dir = tmpDir("graft-links")
    Files.write(dir.resolve("file"), "x".getBytes("UTF-8"))
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("broken"), dir.resolve("gone"))
    val names = Seq("file", "dir", "link", "broken", "absent")
    def fields(s: FileStatus): Seq[Any] =
      Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    def probe(nio: Boolean): Seq[Either[String, Seq[Any]]] = {
      val fs = raw(nio)
      val fc = FileContext.getFileContext(root, conf(nio))
      // an unqualified path, a qualified one, and FileContext's probe
      names.flatMap { n =>
        val p = dir.resolve(n).toString
        Seq[() => FileStatus](
          () => fs.getFileLinkStatus(new Path(p)),
          () => fs.getFileLinkStatus(new Path(s"file:$p")),
          () => fc.getFileLinkStatus(new Path(s"file:$p")))
          .map(f => try Right(fields(f())) catch {
            case e: FileNotFoundException => Left(e.getClass.getName)
          })
      }
    }
    val stock = probe(nio = false)
    assert(probe(nio = true) == stock)
    // the cases differ from each other, so the equality is not vacuous
    assert(stock.count(_.isLeft) >= 3 && stock.exists(_.exists(_(3) == true)),
      stock)
  }

  test("written files keep their .crc, and a flipped byte fails the read") {
    val dir = tmpDir("graft-crc")
    val data = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val fs = FileSystem.get(root, spark.sessionState.newHadoopConf())
    val fc = FileContext.getFileContext(root, spark.sessionState.newHadoopConf())
    val viaFs = new Path(s"file:$dir/via-fs")
    val viaFc = new Path(s"file:$dir/via-fc")
    val out = fs.create(viaFs)
    out.write(data); out.close()
    val out2 = fc.create(viaFc, EnumSet.of(CreateFlag.CREATE))
    out2.write(data); out2.close()
    // read through both APIs: FileContext.open(path) is how Spark reads
    // its offset, commit and state files, and it verifies the .crc too
    // (stock Hadoop's LocalFs hands that call the raw stream)
    def readFs(p: Path): Unit = {
      val in = fs.open(p)
      try in.readFully(new Array[Byte](data.length)) finally in.close()
    }
    def readFc(p: Path): Unit = {
      val in = fc.open(p)
      try in.readFully(new Array[Byte](data.length)) finally in.close()
    }
    Seq(viaFs, viaFc).foreach { p =>
      val local = Paths.get(p.toUri.getPath)
      assert(Files.exists(local.resolveSibling(s".${local.getFileName}.crc")), p)
      readFs(p); readFc(p) // intact: reads clean
      val bytes = Files.readAllBytes(local)
      bytes(1000) = (bytes(1000) ^ 0x01).toByte
      Files.write(local, bytes)
      intercept[ChecksumException](readFs(p))
      intercept[ChecksumException](readFc(p))
      assert(Files.exists(local)) // reported, not moved aside
    }
  }

  test("a GraftSession.local session resolves file:/// to the bound classes, even past a stale cache") {
    def resolved(): (FileSystem, FileContext) = {
      val c = spark.sessionState.newHadoopConf()
      (FileSystem.get(root, c), FileContext.getFileContext(root, c))
    }
    def bound(): Boolean = {
      val (fs, fc) = resolved()
      fs.isInstanceOf[NioLocalFileSystem] &&
        fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem] &&
        fc.getDefaultFileSystem.isInstanceOf[NioLocalFs]
    }
    assert(bound())
    // a stock instance cached first (from a conf without the binding) is
    // handed back to every later lookup — until a session build evicts it
    try {
      resolved()._1.close()
      assert(!FileSystem.get(root, new Configuration())
        .isInstanceOf[NioLocalFileSystem])
      assert(!bound())
      GraftSession.local(4, "graft-test")
      assert(bound())
    } finally {
      val fs = resolved()._1
      if (!fs.isInstanceOf[NioLocalFileSystem]) fs.close()
    }
  }

  test("a wordcount checkpoint resumes across the binding both ways, sink files byte-equal to batch") {
    val wordcount: DataFrame => DataFrame = df => Relational.wordCount(df, "line")
    // the same SparkContext, with the `file:` classes a conf without the
    // binding resolves (Hadoop's LocalFs; the FileSystem class the service
    // loader registers) named for this session's Hadoop confs, uncached,
    // so the JVM-wide FileSystem cache cannot hand back the bound instance
    val plain = new Configuration()
    val stockFs = FileSystem.getFileSystemClass("file", plain)
    val stockFc = plain.get("fs.AbstractFileSystem.file.impl")
    val stock = spark.newSession()
    stock.conf.set("fs.file.impl", stockFs.getName)
    stock.conf.set("fs.file.impl.disable.cache", "true")
    stock.conf.set("fs.AbstractFileSystem.file.impl", stockFc)
    val stockConf = stock.sessionState.newHadoopConf()
    assert(FileSystem.get(root, stockConf).getClass == stockFs &&
      !classOf[NioLocalFileSystem].isAssignableFrom(stockFs))
    assert(FileContext.getFileContext(root, stockConf).getDefaultFileSystem
      .getClass.getName == stockFc && stockFc != classOf[NioLocalFs].getName)

    def single(dir: String): Array[Byte] = {
      val parts = Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      assert(parts.size == 1, s"expected one part file in $dir, got $parts")
      Files.readAllBytes(parts.head)
    }
    Seq((spark, stock), (stock, spark)).foreach { case (first, second) =>
      val in = tmpDir("graft-compat-in")
      val ckpt = tmpDir("graft-compat-ckpt").toString
      val out = tmpDir("graft-compat-out").toString
      Files.write(in.resolve("a.txt"), "to be or not\nto be".getBytes("UTF-8"))
      def drain(s: org.apache.spark.sql.SparkSession): Seq[Long] = {
        var batches = Seq.empty[Long]
        BoundedStream.runForeachBatch(
          BoundedStream.textStream(s, in.toString, maxFilesPerTrigger = Some(1)),
          wordcount, ckpt, "complete") { (df, id) =>
          Sinks.writeWordCount(df, "word", "cnt", s"$out/b$id")
          batches :+= id
        }
        batches
      }
      assert(drain(first) == Seq(0L))
      Files.write(in.resolve("b.txt"), "be be\nor not or".getBytes("UTF-8"))
      // resumed, not recomputed: the offsets say a.txt is done
      assert(drain(second) == Seq(1L))
      val batchOut = s"$out/batch"
      Sinks.writeWordCount(
        wordcount(spark.read.text(in.toString).withColumnRenamed("value", "line")),
        "word", "cnt", batchOut)
      assert(single(s"$out/b1").sameElements(single(batchOut)))
    }
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generators. Everything the engine reads is produced here from
  * the benchmark seed; the engine sees only the generated files.
  *
  * Stream inputs follow the Crane fixture shapes (FIXTURES.md §A): text lines
  * with URL/date metadata lines, 13-column headerless reddit CSV with
  * negative, zero and non-numeric scores, and Common-Log-Format lines with
  * malformed lines and non-200 statuses. Words, users and hosts are drawn
  * with a Zipf skew, so a few keys are hot and most are cold.
  */
object Gen {

  /** Zipf(s) over ranks 0 until n by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti",
    "vo", "zu", "pe", "da", "fi", "go", "hu", "ja", "be")

  /** A pronounceable, unique lowercase token for rank `i`. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + syllables.length // at least two syllables
    while (x > 0) { sb.append(syllables(x % syllables.length)); x /= syllables.length }
    sb.toString
  }

  val Vocab = 4000
  private val words = new Zipf(Vocab, 1.1)
  private def words(r: Random, n: Int): String =
    Seq.fill(n)(word(words.sample(r))).mkString(" ")

  /** Wordcount input: sentences, 5% of lines URL or date metadata lines
    * (which the topology drops), a few with double spaces (empty tokens).
    */
  def textLines(r: Random, n: Int): Seq[String] = Seq.fill(n) {
    r.nextInt(40) match {
      case 0 => s"http://news.example.com/${word(r.nextInt(Vocab))}/${r.nextInt(100000)}"
      case 1 => f"2008-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d 12:00:00"
      case 2 => words(r, 3 + r.nextInt(6)) + "  " + words(r, 2 + r.nextInt(4))
      case _ => words(r, 6 + r.nextInt(12))
    }
  }

  val Users = 3000
  private val users = new Zipf(Users, 1.05)

  /** Reddit input: 13 headerless CSV columns; score in [-5, 40] with zeros
    * kept and negatives dropped by the topology; 1% non-numeric scores.
    */
  def redditLines(r: Random, n: Int): Seq[String] = Seq.fill(n) {
    val score = if (r.nextInt(100) == 0) "n/a" else (r.nextInt(46) - 5).toString
    val title = words(r, 3 + r.nextInt(6))
    s"x,x,${1201232046 + r.nextInt(1000000)},$title,${r.nextInt(500)}," +
      s"t3_${Integer.toString(r.nextInt(1 << 30), 36)},x,x,x,x,$score," +
      s"${r.nextInt(300)},u${users.sample(r)}"
  }

  val Hosts = 1500
  private val hosts = new Zipf(Hosts, 1.1)
  private val paths = Array.tabulate(120)(i => s"/shuttle/${word(i)}/${word(i * 7 % 97)}.html")
  private val statuses = Array("200", "200", "200", "200", "200", "200", "304", "404")

  /** NASA-log input: CLF lines, statuses mostly 200, 2% malformed lines. */
  def clfLines(r: Random, n: Int): Seq[String] = Seq.fill(n) {
    if (r.nextInt(50) == 0) s"malformed ${word(r.nextInt(100))}"
    else {
      val s = r.nextInt(60)
      f"h${hosts.sample(r)}.example.net - - [01/Jul/1995:00:${s / 60}%02d:$s%02d -0400] " +
        s""""GET ${paths(r.nextInt(paths.length))} HTTP/1.0" """ +
        s"${statuses(r.nextInt(statuses.length))} ${r.nextInt(9000)}"
    }
  }

  /** Publish `content` as `dir/name` atomically: write under `staging`
    * (same file system, outside the source dir), then rename into place,
    * so a file source never lists a partial file.
    */
  def publish(staging: Path, dir: Path, name: String, content: Array[Byte]): Unit = {
    val tmp = staging.resolve(name)
    Files.write(tmp, content)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def bytes(lines: Seq[String]): Array[Byte] = lines.mkString("", "\n", "\n").getBytes(UTF_8)

  // ---- store corpus ------------------------------------------------------

  val Dim = 32
  private val nCenters = 12

  final case class Doc(doc_id: Long, text: String, embedding: Array[Float])

  /** Documents with Zipf text and clustered embeddings: each vector is one
    * of 12 seeded centers plus noise, rounded to 1e-3 so values survive
    * parquet and SQL round trips exactly.
    */
  final class Corpus(seed: Long) {
    private val r = new Random(seed)
    private val centers = Array.fill(nCenters, Dim)(r.nextGaussian())
    def doc(id: Long): Doc = {
      val c = centers(r.nextInt(nCenters))
      val v = Array.tabulate(Dim)(i =>
        (math.round((c(i) + 0.35 * r.nextGaussian()) * 1000) / 1000.0).toFloat)
      Doc(id, words(r, 10 + r.nextInt(20)), v)
    }
    def query(): Array[Float] = doc(-1).embedding
    def terms(): String = Seq.fill(2 + r.nextInt(2))(word(words.sample(r) + 3)).mkString(" ")
  }

  /** One version of churn: upserts are adds (new ids) and changes (live ids
    * with new content); deletes are live ids not changed in the same version.
    */
  final case class Churn(upserts: Seq[Doc], deletes: Seq[Long])

  /** A seeded churn script over `base` live ids: `versions` versions, each
    * with `adds` new ids, `changes` rewritten ids and `deletes` removed ids.
    */
  def churn(corpus: Corpus, r: Random, base: Seq[Long], versions: Int,
            adds: Int, changes: Int, deletes: Int): Seq[Churn] = {
    val live = ArrayBuffer.from(base)
    var next = base.max + 1
    Seq.fill(versions) {
      val picked = r.shuffle(live.indices.toVector).take(changes + deletes).map(live)
      val changed = picked.take(changes)
      val deleted = picked.drop(changes)
      val added = Seq.fill(adds) { next += 1; next - 1 }
      val del = deleted.toSet
      live.filterInPlace(id => !del.contains(id))
      live ++= added
      Churn((added ++ changed).map(corpus.doc), deleted)
    }
  }
}

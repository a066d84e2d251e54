package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("t").select(c).collect()(0).get(0).asInstanceOf[T]

  test("token counts: whitespace vs BPE-ish regex") {
    assert(one[Int](TextAnalysis.tokenCount(col("t")), "a bb  ccc") == 3)
    // "don't stop123!" -> don / ' / t / stop / 123 / !
    assert(one[Int](TextAnalysis.bpeishTokenCount(col("t")), "don't stop123!") == 6)
  }

  test("shingles produce n-grams joined with underscores, distinct") {
    val out = Seq("a b a b").toDF("t")
      .select(TextAnalysis.shingles(col("t"), 2)).collect()(0).getSeq[String](0)
    assert(out == Seq("a_b", "b_a"))
  }

  test("unique token ratio and quality score") {
    assert(one[Double](TextAnalysis.uniqueTokenRatio(col("t")), "a a b b") == 0.5)
    // 4 tokens -> length term 0.04*0.5; uniq 0.5*0.5 -> 0.27
    assert(math.abs(one[Double](TextAnalysis.qualityScore(col("t")), "a a b b") - 0.27) < 1e-9)
  }

  test("language-ID picks the profile with the highest marker ratio") {
    // 2 'de' markers (hash, merge) vs 1 'en' marker (the)
    assert(one[String](TextAnalysis.predictedLang(col("t")), "hash merge the x") == "de")
    // all-zero scores tie -> alphabetically first profile wins (de)
    assert(one[String](TextAnalysis.predictedLang(col("t")), "qq ww") == "de")
  }

  test("fingerprints: md5 normalization and 60-bit numeric form") {
    val fp = one[String](TextAnalysis.fingerprint(col("t")), "  Hello ")
    assert(fp == one[String](TextAnalysis.fingerprint(col("t")), "hello"))
    val fp64 = one[Long](TextAnalysis.fingerprint64(col("t")), "hello")
    assert(fp64 > 0 && fp64.toHexString == fp.take(15).dropWhile(_ == '0'))
  }

  test("tfidf: rare terms outrank common ones, k respected, deterministic ties") {
    import TestSpark.spark.implicits._
    // "common" appears in every doc (idf→low); each doc has one unique term
    val docs = Seq(
      (0L, "common rare0 common common"),
      (1L, "common rare1 common"),
      (2L, "common rare2"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "term").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // every doc keeps at most k terms and its unique term scores highest
    assert(out.groupBy(_._1).forall(_._2.length <= 2))
    for (d <- 0 to 2) {
      val terms = out.filter(_._1 == d)
      val top = terms.maxBy(_._3)
      assert(top._2 == s"rare$d", s"doc $d: expected rare$d on top, got $terms")
      // smoothed idf of the everywhere-term: ln(4/4)=0 -> tfidf 0
      assert(terms.filter(_._2 == "common").forall(_._3 == 0.0))
    }
  }

  test("rolling fingerprint: min over strided char windows; short text falls back to full md5") {
    val long = "abcdefghijklmnopqrstuvwxyz"
    val rfp = one[String](TextAnalysis.rollingFingerprint(col("t"), 16, 4), long)
    // must equal the min over windows at offsets 0,4,8 computed independently
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = (0 to long.length - 16 by 4)
      .map(i => md.digest(long.substring(i, i + 16).getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString).min
    assert(rfp == expect)
    val short = "tiny"
    assert(one[String](TextAnalysis.rollingFingerprint(col("t"), 16), short) ==
      md.digest(short.getBytes("UTF-8")).map(b => f"$b%02x").mkString)
  }

  test("token chunking: overlapping windows, short tail, min one chunk per doc") {
    import TestSpark.spark.implicits._
    val df = Seq((1L, "a b c d e f g h"), (2L, "x y"), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkByTokens(df, "doc_id", "text",
        chunkSize = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq(
      // starts run while start <= max(8-1, 1): 1, 4, 7 — last chunk short,
      // consecutive chunks share 1 token
      (1L, 0L, 1L, 4L, "a b c d"),
      (1L, 1L, 4L, 4L, "d e f g"),
      (1L, 2L, 7L, 2L, "g h"),
      (2L, 0L, 1L, 2L, "x y"),     // shorter than chunkSize: one whole-doc chunk
      (3L, 0L, 1L, 1L, "")))       // empty text -> one empty-token chunk
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkByTokens(df, "doc_id", "text", chunkSize = 4, overlap = 4)
    }
  }

  test("repetition stats: hand-computed fractions, short docs yield no row") {
    import TestSpark.spark.implicits._
    val df = Seq(
      (1L, "a b a b a"),   // bigrams a_b, b_a, a_b, b_a: top 2/4, uniq 2/4
      (2L, "x y z"),       // bigrams x_y, y_z: top 1/2, uniq 2/2
      (3L, "solo"),        // no bigrams -> dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 0.5, 0.5, 4L), (2L, 0.5, 1.0, 2L)))
  }

  test("fused rolling fingerprint equals the composable chain on fixture docs") {
    import TestSpark.spark.implicits._
    // the pre-fusion reference implementation, kept verbatim
    def composable(text: org.apache.spark.sql.Column, w: Int, stride: Int) = {
      val hi = length(text) - (w - 1)
      when(hi >= 1,
        array_min(transform(sequence(lit(1), hi, lit(stride)),
          i => md5(text.substr(i, lit(w))))))
        .otherwise(md5(text))
    }
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).limit(200)
      .union(Seq("", "exactly sixteen.", "short", "café über straße — unicode windows")
        .toDF("text"))
    Seq((16, 4), (16, 1), (8, 3)).foreach { case (w, s) =>
      val rows = docs.select(
        TextAnalysis.rollingFingerprint(col("text"), w, s).as("fused"),
        composable(col("text"), w, s).as("ref")).collect()
      rows.foreach(r => assert(r.getString(0) == r.getString(1),
        s"w=$w stride=$s: ${r.getString(0)} != ${r.getString(1)}"))
    }
  }

  test("redactPii replaces emails and IPv4s, leaves clean text alone") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      (0L, "write to alice.smith+x@corp.example.org or 192.168.0.1 today"),
      (1L, "no pii in this sentence at all."),
      (2L, "two mails a@b.io c@d.net one ip 10.0.0.255"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiReport(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getString(3) == "write to <EMAIL> or <IP> today")
    assert(out(0).getLong(1) == 1 && out(0).getLong(2) == 1)
    assert(out(1).getString(3) == "no pii in this sentence at all.")
    assert(out(1).getLong(1) == 0 && out(1).getLong(2) == 0)
    assert(out(2).getString(3) == "two mails <EMAIL> <EMAIL> one ip <IP>")
  }

  test("qualityRules flags fragments, symbol soup, and lorem ipsum") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      (0L, "this is a perfectly ordinary sentence of reasonable words."),
      (1L, "too short"),                                   // n_tokens < 5
      (2L, "{ } < > | { } < > | { } < > | bad markup soup here"), // symbols
      (3L, "lorem ipsum dolor sit amet consectetur adipiscing elit today."),
      (4L, "a a a a a a a a a a a a"),                     // mean_wl 1 < 3
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityRules(df, "doc_id", "text", minTokens = 5)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(out == Map(0L -> true, 1L -> false, 2L -> false,
      3L -> false, 4L -> false))
  }

  test("unigramSurprisal: rare-token docs score higher; micro-nats are exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    // corpus: 'the' appears 7×, 'zyx' once; N = 8 tokens total
    val df = Seq((0L, "the the the zyx"), (1L, "the the the the")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramSurprisal(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    val Array(r0, r1) = out
    assert(r0.getLong(1) == 4 && r1.getLong(1) == 4) // ntok
    // doc0: 3·ln(8/7) + 1·ln(8/1); doc1: 4·ln(8/7)  (micro-nats, rounded)
    val expected0 = math.round(3 * math.log(8.0 / 7) * 1e6) +
      math.round(1 * math.log(8.0 / 1) * 1e6)
    val expected1 = math.round(4.0 * math.log(8.0 / 7) * 1e6)
    assert(r0.getLong(2) == expected0, out.mkString(","))
    assert(r1.getLong(2) == expected1, out.mkString(","))
    assert(r0.getDouble(3) > r1.getDouble(3)) // rare token ⇒ higher surprisal
    // partitioning must not change the exact integer sums
    val re = TextAnalysis.unigramSurprisal(df.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(re.map(_.getLong(2)).toSeq == out.map(_.getLong(2)).toSeq)
  }

  test("bigramSurprisal: hand-computed add-one smoothing; short docs absent") {
    val spark = TestSpark.spark
    import spark.implicits._
    // doc0 bigrams: (a,b)×2 (b,a) (b,c); doc1 (double space survives
    // array_remove): (c,a) (a,b); doc2 has no bigrams.
    // Corpus: C(a,b)=3 C(b,a)=1 C(b,c)=1 C(c,a)=1; contexts C(a)=3 C(b)=2
    // C(c)=1; V = |{a,b,c}| = 3 predicted types.
    val df = Seq((0L, "a b a b c"), (1L, "c  a b"), (2L, "x"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L)) // doc2 absent
    val Array(r0, r1) = out
    assert(r0.getLong(1) == 4 && r1.getLong(1) == 2) // n_bigrams
    def micro(cnt: Long, ca: Long, cab: Long): Long =
      math.round(cnt * math.log((ca + 3.0) / (cab + 1)) * 1e6)
    val expected0 = micro(2, 3, 3) + micro(1, 2, 1) + micro(1, 2, 1)
    val expected1 = micro(1, 1, 1) + micro(1, 3, 3)
    assert(r0.getLong(2) == expected0, out.mkString(","))
    assert(r1.getLong(2) == expected1, out.mkString(","))
    // public rate divides the exact micro sum back out
    assert(r0.getDouble(3) ==
      BigDecimal(expected0 / 1e6 / 4).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // partitioning must not change the exact integer sums
    val re = TextAnalysis.bigramSurprisal(df.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(re.map(_.getLong(2)).toSeq == out.map(_.getLong(2)).toSeq)
  }

  test("vocabCoverage: descending counts, cumulative share reaches 1 at full k") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq("a a a b b c", "a b c d").toDF("text")
    val out = TextAnalysis.vocabCoverage(df, "text", k = 10)
      .orderBy("rank").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("a", "b", "c", "d"))
    assert(out.map(_.getLong(2)).toSeq == Seq(4L, 3L, 2L, 1L))
    assert(out.map(_.getDouble(3)).toSeq == Seq(0.4, 0.7, 0.9, 1.0))
    val top2 = TextAnalysis.vocabCoverage(df, "text", k = 2).collect()
    assert(top2.length == 2)
  }

  test("corpusReport: volume, redundancy, and mean quality per source") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      (0L, "x y z", "s1"), (1L, "x y z", "s1"), (2L, "p q", "s1"),
      (3L, "only doc here", "s2"),
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.corpusReport(df, "doc_id", "text", "source")
      .orderBy("source").collect()
    val s1 = out(0)
    assert(s1.getLong(1) == 3 && s1.getLong(2) == 8 && s1.getLong(3) == 2)
    // quality: 3 tokens -> 0.03·0.5 + 1.0·0.5 = 0.515; 2 tokens -> 0.51
    assert(math.abs(s1.getDouble(4) - ((0.515 + 0.515 + 0.51) / 3)) < 1e-4)
    assert(out(1).getLong(1) == 1 && out(1).getLong(3) == 1)
  }

  test("tokenDivergence: zero for identical distributions, exact micro-nats otherwise") {
    import TestSpark.spark.implicits._
    // two groups with the SAME token multiset → each group's distribution
    // equals the global one → KL = 0 for both
    val same = Seq((1L, "x x y", "a"), (2L, "x x y", "b")).toDF("doc_id", "text", "split")
    val zero = graft.operators.TextAnalysis.tokenDivergence(same, "split", "text")
      .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4)))
    assert(zero.toSet == Set(("a", 0L), ("b", 0L)).map(t => (t._1, t._2, 0.0)))

    // skewed groups: verify against the formula computed in plain Scala
    val skew = Seq((1L, "x x y", "a"), (2L, "x y y y", "b")).toDF("doc_id", "text", "split")
    val out = graft.operators.TextAnalysis.tokenDivergence(skew, "split", "text")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    def micro(c: Long, n: Long, gc: Long, m: Long): Long =
      math.round(c * math.log((c * 1.0 / n) / (gc * 1.0 / m)) * 1e6)
    // global: x->3, y->4, m=7
    val klA = micro(2, 3, 3, 7) + micro(1, 3, 4, 7)
    val klB = micro(1, 4, 3, 7) + micro(3, 4, 4, 7)
    assert(out("a") == ((3L, 2L, klA)) && out("b") == ((4L, 2L, klB)), out.toString)
    assert(klA > 0 && klB > 0)
  }

  test("duplicateSpans: a passage repeated across docs is caught; partial tails are not spans") {
    import TestSpark.spark.implicits._
    val boiler = (1 to 8).map(i => s"license$i").mkString(" ") // 8-token boilerplate
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta"),
      (2L, s"$boiler epsilon zeta eta theta"),
      (3L, "completely different text with no repeats at all here"),
      (4L, s"$boiler iota kappa lambda mu"),
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.duplicateSpans(docs, "doc_id", "text",
      window = 8, stride = 8, minDocs = 2).collect()
    // the only full 8-token window shared by ≥2 docs is the boilerplate
    assert(out.length == 1, out.mkString(","))
    assert(out(0).getLong(1) == 3 && out(0).getLong(2) == 3 && out(0).getLong(3) == 1)
    // the 4-token tails ("alpha beta gamma delta" etc.) are excluded:
    // with minDocs=1 every FULL window surfaces, still none of the tails
    val all = graft.operators.TextAnalysis.duplicateSpans(docs, "doc_id", "text",
      window = 8, stride = 8, minDocs = 1).collect()
    assert(all.forall(_.getLong(2) >= 1) && all.length == 2) // boiler + doc 3's one full window
  }

  test("token classifier: weights separate the classes, score is exact") {
    import TestSpark.spark.implicits._
    val train = Seq((0L, "good good stuff", "en"), (1L, "bad junk", "zh"))
      .toDF("doc_id", "text", "lang")
    val model = TextAnalysis.trainTokenClassifier(train, "text",
      col("lang") === "en")
    val w = model.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // N+ = 3 (good good stuff), N- = 2 (bad junk), V = 4
    def micro(p: Long, n: Long): Long =
      BigDecimal((math.log((p + 1.0) / (3 + 4.0)) -
        math.log((n + 1.0) / (2 + 4.0))) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(w == Map("good" -> micro(2, 0), "stuff" -> micro(1, 0),
      "bad" -> micro(0, 1), "junk" -> micro(0, 1)))
    assert(w("good") > 0 && w("stuff") > 0 && w("bad") < 0 && w("junk") < 0)

    // prior = ln(1/1) = 0 here, so scores are pure token-evidence sums;
    // out-of-vocabulary tokens ("zzz") carry NO evidence
    val docs = Seq((10L, "good good stuff", "?"), (11L, "zzz", "?"),
      (12L, "bad zzz", "?")).toDF("doc_id", "text", "lang")
    val sc = TextAnalysis.scoreTokenClassifier(docs, "doc_id", "text", model,
      train, col("lang") === "en").orderBy("doc_id").collect()
    assert(sc.map(_.getLong(2)).toSeq ==
      Seq(2 * w("good") + w("stuff"), 0L, w("bad")))
    assert(sc.map(_.getBoolean(3)).toSeq == Seq(true, false, false))
    assert(sc.map(_.getLong(1)).toSeq == Seq(3L, 1L, 2L)) // n_scored counts OOV too
  }

  test("token classifier scores a STREAM identically to batch") {
    import TestSpark.spark.implicits._
    val spark = TestSpark.spark
    // train in batch once (the model is a static broadcast frame), then
    // score documents ARRIVING AS A STREAM — the deploy shape: model
    // refreshed offline, applied continuously at ingest
    val train = Seq((0L, "good good stuff", "en"), (1L, "bad junk", "zh"))
      .toDF("doc_id", "text", "lang")
    val en = org.apache.spark.sql.functions.col("lang") === "en"
    val model = TextAnalysis.trainTokenClassifier(train, "text", en)

    val in = java.nio.file.Files.createTempDirectory("clf-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("clf-ckpt").toString
    val docs = Seq((10L, "good good stuff", "?"), (11L, "zzz", "?"),
      (12L, "bad zzz", "?"))
    docs.toDF("doc_id", "text", "lang").write.parquet(s"$in/a.parquet")
    val schema = docs.toDF("doc_id", "text", "lang").schema

    // score inside foreachBatch: a micro-batch is a batch, so the
    // two-stage score aggregation needs no streaming-state reasoning at
    // all — the standard "model offline, apply at ingest" shape (chaining
    // the score aggs directly on the stream would trip Spark's
    // multiple-stateful-operator correctness check)
    val out = java.nio.file.Files.createTempDirectory("clf-out").toString
    graft.streaming.BoundedStream.runForeachBatch(
      spark.readStream.schema(schema).parquet(s"$in/*.parquet"),
      identity, ckpt, outputMode = "append") { (batch, _) =>
      TextAnalysis.scoreTokenClassifier(batch, "doc_id", "text", model,
        train, en).write.mode("append").parquet(out)
    }
    val streamed = spark.read.parquet(out).orderBy("doc_id").collect().toSeq
    val batch = TextAnalysis.scoreTokenClassifier(
      docs.toDF("doc_id", "text", "lang"), "doc_id", "text", model,
      train, en).orderBy("doc_id").collect().toSeq
    assert(streamed == batch && batch.length == 3)
  }

  test("cdcChunks: chunks partition the tokens exactly, in order") {
    val text = (1 to 200).map(i => s"w${i % 37}x$i").mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val out = TextAnalysis.cdcChunks(docs, "doc_id", "text",
        width = 3, divisor = 8)
      .orderBy("chunk_idx").collect()
    // conservation: chunk sizes sum to the token count, indices contiguous,
    // each chunk starts right after the previous one ends
    assert(out.map(_.getLong(3)).sum == 200L)
    assert(out.map(_.getLong(1)).toSeq == out.indices.map(_.toLong))
    val bounds = out.map(r => (r.getLong(2), r.getLong(3)))
    bounds.sliding(2).foreach {
      case Array((s1, n1), (s2, _)) => assert(s2 == s1 + n1)
      case _ =>
    }
    assert(bounds.head._1 == 1L)
    // divisor ~ mean chunk length: 200 tokens / divisor 8 should produce
    // many chunks, not one
    assert(out.length > 5, s"suspiciously few chunks: ${out.length}")
  }

  test("cdcChunks re-synchronizes after an insertion; fixed-stride spans do not") {
    val base = (1 to 300).map(i => s"tok${i * 17 % 101}v$i").mkString(" ")
    val shifted = "inserted preamble goes here " + base
    val docs = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    def fps(d: org.apache.spark.sql.DataFrame, id: Long): Set[String] =
      TextAnalysis.cdcChunks(d, "doc_id", "text", width = 3, divisor = 8)
        .filter(col("doc_id") === id).collect().map(_.getString(4)).toSet
    val sharedCdc = fps(docs, 1L) intersect fps(docs, 2L)
    // CDC: boundaries re-synchronize a few tokens after the edit, so the
    // bulk of the unchanged region keeps its exact chunk fingerprints
    assert(sharedCdc.size >= 10, s"CDC shared only ${sharedCdc.size} chunks")
    // fixed-stride comparison: the 4-token shift slides every window, so
    // (partial tail aside) no span fingerprint survives
    def spanFps(id: Long): Set[String] =
      TextAnalysis.chunkByTokens(docs.filter(col("doc_id") === id),
          "doc_id", "text", chunkSize = 8, overlap = 0)
        .collect().map(r => r.getString(4)).toSet
    val sharedFixed = spanFps(1L) intersect spanFps(2L)
    assert(sharedFixed.size <= 1, s"fixed stride unexpectedly shared ${sharedFixed.size}")
    assert(sharedCdc.size > 10 * (sharedFixed.size + 1))
  }

  test("cdcDedup: shifted boilerplate collapses; unique docs survive whole; dup doc keeps its row") {
    val boiler = (1 to 120).map(i => s"lic${i * 13 % 53}w$i").mkString(" ")
    val docs = Seq(
      (1L, boiler),                               // first occurrence: keeps
      (2L, "totally different preamble here " + boiler), // shifted copy
      (3L, (1 to 80).map(i => s"uniq$i").mkString(" ")),  // unique content
      (4L, boiler)                                // exact copy: fully deduped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.cdcDedup(docs, "doc_id", "text",
        width = 3, divisor = 8)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1: everything kept (it is the first occurrence)
    assert(out(1L)._1 == out(1L)._2 && out(1L)._3 == 120L, out(1L).toString)
    // doc 2: the shifted boilerplate mostly collapses — far fewer than
    // 124 tokens survive (preamble + the pre-resync head of the boiler)
    assert(out(2L)._3 < 40L, s"doc2 kept ${out(2L)._3} of 124 tokens")
    // doc 3: unique content survives whole
    assert(out(3L)._1 == out(3L)._2 && out(3L)._3 == 80L)
    // doc 4: exact copy is fully deduplicated but KEEPS its row
    assert(out(4L)._2 == 0L && out(4L)._3 == 0L)
  }

  test("topTermsPerGroup: exact counts, tie-break, rank-limit pushdown in the plan") {
    val docs = Seq(
      (1L, "apple apple banana cherry", "a"),
      (2L, "apple banana banana", "a"),
      (3L, "zebra zebra yak", "b")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.topTermsPerGroup(docs, "source", "text", k = 2)
      .orderBy("source", "rk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // a: apple=3, banana=3 -> tie broken by term asc; b: zebra=2, yak=1
    assert(out.toSeq == Seq(
      ("a", "apple", 3L, 1L), ("a", "banana", 3L, 2L),
      ("b", "zebra", 2L, 1L), ("b", "yak", 1L, 2L)))
    val plan = TextAnalysis.topTermsPerGroup(docs, "source", "text", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("phraseHits: token semantics, overlapping runs, boundary cases") {
    val docs = Seq(
      (1L, "rock and roll is here"),          // exact run at 1
      (2L, "bedrock and rolling stones"),     // substring-only: NO match
      (3L, "x rock and roll y rock and roll"),// two occurrences
      (4L, "rock and"),                       // shorter than the phrase
      (5L, "a a a a")).toDF("doc_id", "text") // overlapping runs of "a a"
    val hits = TextAnalysis.phraseHits(docs, "doc_id", "text", "rock and roll")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hits == Map(1L -> (1L, 1L), 3L -> (2L, 2L)))
    val runs = TextAnalysis.phraseHits(docs, "doc_id", "text", "a a")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(runs == Map(5L -> (3L, 1L)))  // starts 1,2,3 all count
  }

  test("cdcChunks is deterministic under repartitioning") {
    val docs = (0L until 40L)
      .map(i => (i, (1 to 60).map(j => s"t${(i * 31 + j * 7) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val a = TextAnalysis.cdcChunks(docs, "doc_id", "text")
      .orderBy("doc_id", "chunk_idx").collect().toSeq
    val b = TextAnalysis.cdcChunks(docs.repartition(7), "doc_id", "text")
      .orderBy("doc_id", "chunk_idx").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("bm25Search matches a hand-computed score, top-k cut, absent-term docs excluded") {
    val docs = Seq(
      (1L, "spark spark runs fast"),   // 2× "spark", dl 4
      (2L, "spark hash join"),         // 1× each of two query terms, dl 3
      (3L, "plain text only here")     // no query term — must not appear
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Search(docs, "doc_id", "text",
        Seq("spark", "hash"), k = 10)
      .orderBy(col("bm25_micro").desc, col("doc_id")).collect()
    assert(out.length == 2)
    // reference computation, same formula
    val n = 3.0; val avgdl = (4 + 3 + 4) / 3.0
    def idf(df: Int) = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    def tf(cnt: Long, dl: Long) =
      (cnt * (1.2 + 1.0)) / (cnt + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    def micro(cnt: Long, dl: Long, df: Int) =
      math.round(idf(df) * tf(cnt, dl) * 1e6)
    val exp = Map(
      1L -> (1L, micro(2, 4, 2)),
      2L -> (2L, micro(1, 3, 2) + micro(1, 3, 1)))
    val got = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == exp, s"got $got expected $exp")
    // doc 3 (no query terms) is absent
    assert(!got.contains(3L))
  }

  test("bm25Search k cuts deterministically and is repartition-invariant") {
    val docs = (0L until 30L)
      .map(i => (i, (0 to (i % 5).toInt).map(_ => "spark").mkString(" ") + " filler" * 3))
      .toDF("doc_id", "text")
    val a = TextAnalysis.bm25Search(docs, "doc_id", "text", Seq("spark"), k = 7)
      .orderBy(col("bm25_micro").desc, col("doc_id")).collect().toSeq
    val b = TextAnalysis.bm25Search(docs.repartition(11), "doc_id", "text",
        Seq("spark"), k = 7)
      .orderBy(col("bm25_micro").desc, col("doc_id")).collect().toSeq
    assert(a == b && a.length == 7)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("boilerplateStrip removes cross-doc chunks EVERYWHERE, first occurrence included") {
    val docs = Seq(
      (1L, "b1 b2 b3 b4 b5 u1 u2 u3 u4 u5"), // shared header + unique tail
      (2L, "b1 b2 b3 b4 b5 w1 w2 w3 w4 w5"),
      (3L, "c1 c2 c3 c4 c5")).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateStrip(docs, "doc_id", "text",
        window = 5, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    // contrast with paragraphDedup: doc 1 does NOT keep the first "b1..b5"
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 5L, md5hex("u1 u2 u3 u4 u5")),
      (2L, 2L, 1L, 5L, md5hex("w1 w2 w3 w4 w5")),
      (3L, 1L, 0L, 5L, md5hex("c1 c2 c3 c4 c5"))))
  }

  test("boilerplateStrip: all-boiler doc keeps its row with empty survivors") {
    val docs = Seq(
      (1L, "b1 b2 b3 b4 b5"), (2L, "b1 b2 b3 b4 b5")).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateStrip(docs, "doc_id", "text",
        window = 5, minDocs = 2).orderBy("doc_id").collect()
    for (r <- out) {
      assert(r.getLong(2) == 1L && r.getLong(3) == 0L) // n_boiler, kept_toks
      assert(r.getString(4) == md5hex(""))
    }
  }

  test("boilerplateStrip: repetition WITHIN one doc is not boilerplate (distinct-doc rule)") {
    val docs = Seq(
      (1L, "x1 x2 x3 x4 x5 x1 x2 x3 x4 x5"),
      (2L, "y1 y2 y3 y4 y5")).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateStrip(docs, "doc_id", "text",
        window = 5, minDocs = 2).orderBy("doc_id").collect()
    assert(out(0).getLong(2) == 0L)   // no chunk dropped
    assert(out(0).getLong(3) == 10L)  // both copies survive
  }

  /** In-test mirror of the hashing-trick dim/sign rule (what the q95
    * oracle computes in SQL).
    */
  private def hashCell(w: String, dims: Int): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(w.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val dim = java.lang.Long.parseLong(hex.substring(0, 15), 16) % dims
    val sign = if (java.lang.Long.parseLong(hex.substring(15, 16), 16) % 2 == 0) 1L else -1L
    (dim, sign)
  }

  test("hashingVectors: signed counts land on the md5 dims, zero cells dropped") {
    val docs = Seq((1L, "a a b"), (2L, ""), (3L, "a")).toDF("doc_id", "text")
    val out = TextAnalysis.hashingVectors(docs, "doc_id", "text", dims = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (da, sa) = hashCell("a", 8)
    val (db, sb) = hashCell("b", 8)
    val expect = Seq((1L, da) -> 2 * sa, (1L, db) -> sb, (3L, da) -> sa)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).filter(_._2 != 0).toMap
    assert(out == expect, s"$out != $expect")
    assert(!out.keys.exists(_._1 == 2L)) // empty doc absent
  }

  test("hashingVectors: collisions cancel through the sign (exact integers)") {
    // force every token into one dim: dims = 1; values are pure sign sums
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val out = TextAnalysis.hashingVectors(docs, "doc_id", "text", dims = 1)
      .collect()
    val signSum = Seq("a", "b", "c", "d").map(w => hashCell(w, 1)._2).sum
    if (signSum == 0) assert(out.isEmpty)
    else assert(out.head.getLong(2) == signSum)
  }

  test("hashingVectorsDense pivots the sparse cells; identical docs are cosine-1 in knnBrute") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon zeta eta")).toDF("doc_id", "text")
    val dense = TextAnalysis.hashingVectorsDense(docs, "doc_id", "text", dims = 16)
    val sparse = TextAnalysis.hashingVectors(docs, "doc_id", "text", dims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    dense.collect().foreach { r =>
      val id = r.getLong(0)
      val vec = r.getSeq[Double](1)
      assert(vec.length == 16)
      vec.zipWithIndex.foreach { case (v, i) =>
        assert(v == sparse.getOrElse((id, i.toLong), 0L).toDouble)
      }
    }
    val knn = graft.operators.Similarity.knnBrute(
      dense.select(col("doc_id").as("vec_id"), col("vec").as("embedding")),
      dense.filter(col("doc_id") === 1L)
        .select(col("doc_id").as("vec_id"), col("vec").as("embedding")),
      "vec_id", "embedding", k = 1).collect().head
    assert(knn.getLong(1) == 2L && math.abs(knn.getDouble(2) - 1.0) < 1e-12)
  }

  test("tokenFertility: exact ppm ratios, null-guarded degenerate group") {
    import TestSpark.spark.implicits._
    val df = Seq((0L, "en", "ab cd,"), (1L, "en", "x"), (2L, "zz", ""))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.tokenFertility(df, "lang", "text")
      .orderBy("lang").collect()
    // en: words {ab, cd,} + {x} = 3; pretokens {ab, cd, ","} + {x} = 4;
    // chars 6 + 1 = 7 → fertility 4e6 div 3, chars/tok 7e6 div 4
    val en = out(0)
    assert(en.getString(0) == "en" && en.getLong(1) == 2L &&
      en.getLong(2) == 3L && en.getLong(3) == 4L && en.getLong(4) == 7L)
    assert(en.getLong(5) == 1333333L && en.getLong(6) == 1750000L)
    // zz: empty text → zero words/pretokens → null ratios, not a throw
    val zz = out(1)
    assert(zz.getLong(2) == 0L && zz.getLong(3) == 0L)
    assert(zz.isNullAt(5) && zz.isNullAt(6))
  }

  test("zipfFit: a 1/rank corpus fits slope ~ -1, integer moments consistent") {
    // term t_r appears floor(1200 / r) times, r = 1..40 — textbook Zipf
    val text = (1 to 40).flatMap(r => Seq.fill(1200 / r)(s"t$r")).mkString(" ")
    val out = TextAnalysis.zipfFit(Seq((1L, text)).toDF("doc_id", "text"), "text",
        topN = 40)
      .head
    val (n, sx, sy, sxx, sxy) = (out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3), out.getLong(4))
    assert(n == 40L)
    assert(out.getLong(5) == n * sxy - sx * sy)   // slope_num from the moments
    assert(out.getLong(6) == n * sxx - sx * sx)   // slope_den from the moments
    val slope = out.getLong(5).toDouble / out.getLong(6)
    assert(slope < -0.95 && slope > -1.05, s"slope=$slope")
  }

  test("zipfFit: a uniform corpus fits slope ~ 0 (the template-corpus signal)") {
    val text = (1 to 40).flatMap(r => Seq.fill(30)(s"u$r")).mkString(" ")
    val out = TextAnalysis.zipfFit(Seq((1L, text)).toDF("doc_id", "text"), "text",
        topN = 40).head
    assert(out.getLong(5) == 0L)   // all counts equal -> flat line exactly
  }

  test("persisted text index: search equals bm25Search; bucket partitions prune the scan") {
    val docs = Seq(
      (1L, "spark joins data with hash partitions"),
      (2L, "window functions rank rows in spark"),
      (3L, "a totally unrelated document about cats"),
      (4L, "hash hash hash collisions everywhere"),
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("txt_idx").toString
    TextAnalysis.buildTextIndex(docs, "doc_id", "text", dir, buckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("bm25_micro").desc, col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fromIndex = TextAnalysis.searchTextIndex(spark, dir,
      Seq("spark", "hash"), k = 10, buckets = 8)
    val direct = TextAnalysis.bm25Search(docs, "doc_id", "text",
      Seq("spark", "hash"), k = 10)
    assert(rows(fromIndex) == rows(direct) && rows(direct).nonEmpty)
    assert(!rows(fromIndex).exists(_._1 == 3L))      // no-hit doc absent (contract)
    // the inverted file IS the directory layout: bucket partitions on disk,
    // under the build's one segment
    val parts = new java.io.File(s"$dir/postings").listFiles()
      .flatMap(_.listFiles())
      .filter(_.getName.startsWith("bucket=")).map(_.getName)
    assert(parts.nonEmpty)
    // pruned-scan contract: the postings scan carries a bucket partition filter
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*bucket""".r.findFirstIn(plan).isDefined, plan)
  }

  test("appendTextIndex: segment-merged search equals a from-scratch build") {
    val all = Seq(
      (1L, "spark joins data with hash partitions"),
      (2L, "window functions rank rows in spark"),
      (3L, "cats and more cats"),
      (4L, "hash hash collisions in spark window"),
      (5L, "spark spark spark"),
    ).toDF("doc_id", "text")
    def rows(dir: String) =
      TextAnalysis.searchTextIndex(spark, dir, Seq("spark", "hash"),
          k = 10, buckets = 8)
        .orderBy(col("bm25_micro").desc, col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val incr = java.nio.file.Files.createTempDirectory("txt_incr").toString
    TextAnalysis.buildTextIndex(all.filter(col("doc_id") <= 2),
      "doc_id", "text", incr, buckets = 8)
    TextAnalysis.appendTextIndex(spark, incr, all.filter(col("doc_id") > 2),
      "doc_id", "text", buckets = 8)
    val full = java.nio.file.Files.createTempDirectory("txt_full").toString
    TextAnalysis.buildTextIndex(all, "doc_id", "text", full, buckets = 8)
    assert(rows(incr) == rows(full) && rows(full).nonEmpty)
    // the appended segment's docs are searchable with correct merged stats
    assert(rows(incr).exists(_._1 == 5L))
  }

  test("logRegTrainReport: per-dim arithmetic equals a driver reimplementation") {
    val df = Seq(
      (1L, "good clean prose with words", 1),
      (2L, "spam spam spam buy now", 0),
      (3L, "more good words here", 1),
      (4L, "buy buy spam now now now", 0),
    ).toDF("doc_id", "text", "y")
    val dims = 8
    val out = TextAnalysis.logRegTrainReport(df, "doc_id", "text",
        col("y"), dims)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // reimplement the contract from the hashed features (same JVM exp)
    val x = TextAnalysis.hashingVectors(df, "doc_id", "text", dims)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val y = Map(1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L)
    val g1 = x.groupBy(_._2).view.mapValues(_.map {
      case (d, _, v) => v * (1 - 2 * y(d)) }.sum).toMap
    val w1 = g1.view.mapValues(-500L * _).toMap
    val z = x.groupBy(_._1).view.mapValues(_.map {
      case (_, j, v) => w1(j) * v }.sum).toMap
    val sig = z.view.mapValues(zm =>
      math.round(1e6 / (1.0 + math.exp(-(zm / 1e6))))).toMap
    val g2 = x.groupBy(_._2).view.mapValues(_.map {
      case (d, _, v) => v * (sig(d) - 1000000L * y(d)) }.sum).toMap
    assert(out.keySet == g1.keySet && out.nonEmpty)
    out.foreach { case (j, (a, b, c)) =>
      assert(a == g1(j) && b == w1(j) && c == g2(j), s"dim $j")
    }
    // step-1 weights point the right way: the classifier already separates
    // the planted labels (positive score for the y=1 docs, negative for y=0)
    val score = z.view.mapValues(_.toDouble).toMap
    assert(score(1L) > 0 && score(3L) > 0 && score(2L) < 0 && score(4L) < 0)
  }

  test("logRegTrain/logRegScore: pass 1 equals the report's w1; training separates; no doc dropped") {
    val df = Seq(
      (1L, "good clean prose with words", 1),
      (2L, "spam spam spam buy now", 0),
      (3L, "more good words here", 1),
      (4L, "buy buy spam now now now", 0),
      (5L, "", 1), // featureless: must still be scored, at z = 0
    ).toDF("doc_id", "text", "y")
    val dims = 8
    // the generic loop's pass 1 (w0=0, sigma=500000 exact) must reproduce
    // the gated report's closed-form w1_micro = -500*g1
    val w1FromLoop = TextAnalysis.logRegTrain(df, "doc_id", "text", col("y"),
        dims, passes = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w1FromReport = TextAnalysis.logRegTrainReport(df, "doc_id", "text",
        col("y"), dims)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w1FromLoop == w1FromReport)
    // 3 trained passes, then score: every doc appears, labels separate,
    // and the featureless doc sits exactly on the boundary
    val w3 = TextAnalysis.logRegTrain(df, "doc_id", "text", col("y"), dims, 3)
    val scored = TextAnalysis.logRegScore(df, "doc_id", "text", w3, dims)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(scored.size == 5)
    assert(scored(1L)._3 && scored(3L)._3 && !scored(2L)._3 && !scored(4L)._3,
      scored.toString)
    assert(scored(5L) == ((0L, 500000L, false)))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkTestBase {
  import TestSpark.spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite of 0
  ).toDF("vec_id", "embedding")

  test("cosine: aligned=1, orthogonal=0, opposite=-1") {
    val a = array(lit(1.0), lit(0.0))
    assert(Seq(1).toDF("x").select(Similarity.cosine(a, a)).head.getDouble(0) == 1.0)
    val b = array(lit(0.0), lit(1.0))
    assert(Seq(1).toDF("x").select(Similarity.cosine(a, b)).head.getDouble(0) == 0.0)
    val c = array(lit(-1.0), lit(0.0))
    assert(Seq(1).toDF("x").select(Similarity.cosine(a, c)).head.getDouble(0) == -1.0)
  }

  test("knnBrute ranks by cosine desc, excludes self, respects k") {
    val out = Similarity.knnBrute(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 1L), (0L, 2L)))
  }

  test("knnBrute plans a broadcast join, not a shuffle of the corpus") {
    val plan = Similarity.knnBrute(vecs, vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 2).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
  }

  test("hyperplanes are deterministic ±1 and match the md5 derivation") {
    val hp = Similarity.hyperplanes(2, 4)
    assert(hp.map(_.toSeq).toSeq ==
      Similarity.hyperplanes(2, 4).map(_.toSeq).toSeq)  // pure function of (p,d)
    assert(hp.flatten.forall(v => v == 1.0 || v == -1.0))
    // spot-check one cell against the documented rule: md5("0_0") first hex digit parity
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = f"${md.digest("0_0".getBytes("UTF-8"))(0)}%02x"
    val expect = if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 1) 1.0 else -1.0
    assert(hp(0)(0) == expect)
  }

  test("randomProject: components are the scaled plane dot products, map-side only") {
    val hp = Similarity.hyperplanes(2, 4)
    val v = Array(1.0, 2.0, 3.0, 4.0)
    val df = Seq((1L, v)).toDF("id", "vec")
    val out = Similarity.randomProject(df, "id", "vec", outDims = 2, dim = 4)
      .collect()(0).getSeq[Double](1)
    val exp = hp.map(w => w.zip(v).map { case (a, b) => a * b }.sum / math.sqrt(2.0))
    assert(out.toSeq == exp.toSeq)
    val plan = Similarity.randomProject(df, "id", "vec", 2, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("randomProject is linear: proj(a+b) = proj(a) + proj(b)") {
    val a = Array(0.5, -1.0, 2.0, 0.25)
    val b = Array(1.5, 0.5, -0.5, 1.0)
    val ab = a.zip(b).map { case (x, y) => x + y }
    val df = Seq((0L, a), (1L, b), (2L, ab)).toDF("id", "vec")
    val out = Similarity.randomProject(df, "id", "vec", outDims = 3, dim = 4)
      .orderBy("id").collect().map(_.getSeq[Double](1))
    out(0).zip(out(1)).zip(out(2)).foreach { case ((pa, pb), pab) =>
      assert(math.abs(pa + pb - pab) < 1e-9)
    }
  }

  test("ivfTopK: map-side cell assignment, probed cells only, exact rank within") {
    // 8 vectors, centroids at ids 0 and 4 (centStep=4): two clean clusters
    val vs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.1f)), (2L, Array(0.98f, 0.2f)),
      (3L, Array(0.97f, 0.3f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.1f, 0.99f)), (6L, Array(0.2f, 0.98f)),
      (7L, Array(0.3f, 0.97f)),
    ).toDF("vec_id", "embedding")
    val cents = Similarity.sampleCentroids(vs, "vec_id", "embedding", 4)
    assert(cents.map(_._1) == Seq(0L, 4L))
    val assigned = Similarity.ivfAssign(vs, "vec_id", "embedding", cents)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 4L))
    // with nprobe=2 both cells are probed -> exact top-2 for query 0
    val out = Similarity.ivfTopK(vs, vs.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 2, nprobe = 2, centStep = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 1L), (0L, 2L)))
  }

  test("persisted IVF index: disk round trip reproduces ivfTopK, postings partitioned by cell") {
    val vs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.1f)), (2L, Array(0.98f, 0.2f)),
      (3L, Array(0.97f, 0.3f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.1f, 0.99f)), (6L, Array(0.2f, 0.98f)),
      (7L, Array(0.3f, 0.97f)),
    ).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.buildIvfIndex(vs, "vec_id", "embedding", dir, centStep = 4)
    val qs = vs.filter(col("vec_id") < 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val fromIndex = Similarity.searchIvfIndex(spark, dir, qs,
      "vec_id", "embedding", k = 2, nprobe = 2)
    val direct = Similarity.ivfTopK(vs, qs, "vec_id", "embedding",
      k = 2, nprobe = 2, centStep = 4)
    assert(rows(fromIndex) == rows(direct) && rows(direct).nonEmpty)
    // the inverted file IS the directory layout: one partition per cell
    // of the build's one segment
    val cells = new java.io.File(s"$dir/postings").listFiles()
      .flatMap(_.listFiles())
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cells.toSeq == Seq("cell=0", "cell=4"))
    // searching with nprobe=1 must read only the probed cell's rows — the
    // pruned-scan contract, visible as a single-cell candidate set
    val oneCell = Similarity.searchIvfIndex(spark, dir,
      vs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 10, nprobe = 1)
      .collect().map(_.getLong(1)).toSet
    assert(oneCell == Set(1L, 2L, 3L), s"nprobe=1 leaked: $oneCell")
  }

  test("annTopK only pairs vectors in the same bucket and ranks within it") {
    val out = Similarity.annTopK(vecs, vecs, "vec_id", "embedding",
      k = 3, planes = 4, dim = 3)
    val buckets = Similarity.annBuckets(vecs, "vec_id", "embedding", planes = 4, dim = 3)
      .select("id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.collect().foreach { r =>
      assert(buckets(r.getLong(0)) == buckets(r.getLong(1)), "cross-bucket pair leaked")
    }
  }

  test("IVF codebook size is bounded by maxCentroids regardless of corpus size") {
    def corpus(n: Int) = (0 until n).map(i =>
      (i.toLong, Array.fill(4)((i % 7).toFloat + 1))).toDF("vec_id", "embedding")
    val small = Similarity.sampleCentroids(corpus(200), "vec_id", "embedding",
      centStep = 5, maxCentroids = 8)
    val doubled = Similarity.sampleCentroids(corpus(400), "vec_id", "embedding",
      centStep = 5, maxCentroids = 8)
    assert(small.size == 8 && doubled.size == 8,
      "codebook must stay at the cap when the corpus doubles")
    // deterministic: lowest qualifying ids, in order
    assert(small.map(_._1) == doubled.map(_._1))
    assert(small.map(_._1) == Seq(0L, 5L, 10L, 15L, 20L, 25L, 30L, 35L))
  }

  test("cellOccupancy: exact shares and micro-nat entropy terms per cell") {
    val vs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.1f)), (2L, Array(0.98f, 0.2f)),
      (3L, Array(0.97f, 0.3f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.1f, 0.99f)), (6L, Array(0.2f, 0.98f)),
      (7L, Array(0.3f, 0.97f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.cellOccupancy(vs, "vec_id", "embedding", centStep = 4)
      .orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // two balanced cells of 4: share 50% each, h term = round(4·ln(2)·1e6)
    val h = math.round(4.0 * math.log(2.0) * 1e6)
    assert(out.toSeq == Seq((0L, 4L, 500000L, h), (4L, 4L, 500000L, h)))
    // entropy of the balanced split is ln 2 (to micro precision)
    val ent = out.map(_._4).sum / 1e6 / out.map(_._2).sum
    assert(math.abs(ent - math.log(2.0)) < 1e-5)
  }

  test("sqrtCentStep: ceil-sqrt policy, codebook tracks √n, adaptive ≡ explicit step") {
    def corpus(n: Int) = (0 until n).map(i =>
      (i.toLong, Array.fill(4)((i % 7).toFloat + 1))).toDF("vec_id", "embedding")
    assert(Similarity.sqrtCentStep(corpus(100), "vec_id") == 10)
    assert(Similarity.sqrtCentStep(corpus(101), "vec_id") == 11) // ceil, not round
    assert(Similarity.sqrtCentStep(corpus(1), "vec_id") == 1)
    // codebook size tracks √n: 400 rows → step 20 → 20 cells
    val cents = Similarity.sampleCentroids(corpus(400), "vec_id", "embedding",
      Similarity.sqrtCentStep(corpus(400), "vec_id"))
    assert(cents.size == 20)
    // the adaptive form is exactly ivfTopK at the computed step
    val vs = (0 until 36).map(i =>
      (i.toLong, Array(math.cos(i * 0.3).toFloat, math.sin(i * 0.3).toFloat)))
      .toDF("vec_id", "embedding")
    val qs = vs.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val adaptive = Similarity.ivfTopKAdaptive(vs, qs, "vec_id", "embedding",
      k = 2, nprobe = 2)
    val explicit = Similarity.ivfTopK(vs, qs, "vec_id", "embedding",
      k = 2, nprobe = 2, centStep = 6) // ceil(sqrt(36)) = 6
    assert(rows(adaptive) == rows(explicit) && rows(explicit).nonEmpty)
  }

  test("persisted IVF index built under the sqrt-n policy reproduces the adaptive search") {
    val vs = (0 until 36).map(i =>
      (i.toLong, Array(math.cos(i * 0.3).toFloat, math.sin(i * 0.3).toFloat)))
      .toDF("vec_id", "embedding")
    val qs = vs.filter(col("vec_id") < 3)
    val dir = java.nio.file.Files.createTempDirectory("ivf_sqrt").toString
    Similarity.buildIvfIndexAdaptive(vs, "vec_id", "embedding", dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val fromIndex = Similarity.searchIvfIndex(spark, dir, qs,
      "vec_id", "embedding", k = 2, nprobe = 2)
    val adaptive = Similarity.ivfTopKAdaptive(vs, qs, "vec_id", "embedding",
      k = 2, nprobe = 2)
    assert(rows(fromIndex) == rows(adaptive) && rows(adaptive).nonEmpty)
  }

  test("ivfAssign at the 4096-centroid cap: one-literal codebook, codegen'd plan") {
    // The documented maxCentroids cap × 64 dims. The codebook travels as ONE
    // typedLit matrix consumed by the codegen'd graft_argmax_cosine, so this
    // must compile under whole-stage codegen (fallback disabled → a Janino
    // failure would throw instead of silently interpreting).
    val dim = 64
    val cents: Seq[(Long, Array[Double])] = (0 until 4096).map { c =>
      (c.toLong, Array.tabulate(dim)(d => math.abs(math.sin(c * 13.0 + d)) + 0.1))
    }
    val probe = Seq(
      (7L, cents(2077)._2.map(_.toFloat)),
      (8L, cents(5)._2.map(_.toFloat)),
      (9L, Array.tabulate(dim)(d => (0.3 + 0.01 * d).toFloat)),
    ).toDF("vec_id", "embedding")
      // repartition keeps ConvertToLocalRelation from evaluating the whole
      // plan interpreted at optimize time — the assignment must actually run
      // inside a WholeStageCodegen stage for this test to mean anything
      .repartition(2)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val sel = Similarity.ivfAssign(probe, "vec_id", "embedding", cents)
        .select("id", "cell")
      val got = sel.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // plan is inspected AFTER execution, on the SAME QueryExecution that
      // ran: under AQE the codegen spans only exist in the materialized
      // final plan (isFinalPlan=true). The simple tree string marks a
      // WholeStageCodegen stage with the `*(n)` prefix on its root node.
      val plan = sel.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project"),
        "assignment Project must run inside a WholeStageCodegen stage: " + plan.take(500))
      assert(!plan.contains("CodegenFallback"), "assignment must stay codegen'd")
      // reference: first-max argmax over the same double arithmetic
      val probes = probe.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val expect = probes.map { case (id, v) =>
        id -> cents.maxBy { case (_, cv) => cos(v, cv) }._1
      }
      // maxBy keeps the FIRST max only if strictly greater later — it keeps
      // the LAST on ties; cosines here are all distinct, so it's unambiguous
      assert(got == expect, s"got=$got expect=$expect")
      assert(got(7L) == 2077L && got(8L) == 5L)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("graft_argmax_cosine: first-max ties, NaN-greatest, mismatched rows skipped") {
    import graft.operators.Similarity.{ivfAssign => assign}
    // tie between centroids 10 and 20 (identical vectors) → lower id wins
    val tie = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val tieCells = assign(tie, "vec_id", "embedding",
      Seq((10L, Array(1.0, 0.0)), (20L, Array(1.0, 0.0)), (30L, Array(0.0, 1.0))))
      .select("cell").collect().map(_.getLong(0))
    assert(tieCells.toSeq == Seq(10L))
    // zero-norm centroid → NaN cosine → NaN orders greatest (array_max parity)
    val nan = assign(tie, "vec_id", "embedding",
      Seq((10L, Array(1.0, 0.0)), (20L, Array(0.0, 0.0))))
      .select("cell").collect().map(_.getLong(0))
    assert(nan.toSeq == Seq(20L))
    // wrong-dimension centroid is skipped, not an error (null-cos parity)
    val skip = assign(tie, "vec_id", "embedding",
      Seq((10L, Array(1.0, 0.0, 0.0)), (20L, Array(0.0, 1.0))))
      .select("cell").collect().map(_.getLong(0))
    assert(skip.toSeq == Seq(20L))
    // ALL rows skipped → null cell (null-max parity)
    val allSkip = assign(tie, "vec_id", "embedding", Seq((10L, Array(1.0, 0.0, 0.0))))
      .select("cell").collect()
    assert(allSkip.head.isNullAt(0))
  }

  test("empty IVF codebook raises instead of silently returning nothing") {
    val vs = Seq((1L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.sampleCentroids(vs, "vec_id", "embedding", centStep = 2)
    }
    assert(e.getMessage.contains("codebook is empty"))
    intercept[IllegalArgumentException] {
      Similarity.ivfAssign(vs, "vec_id", "embedding", Seq.empty)
    }
  }

  test("knnBrute two-stage ranking equals a single global ranking") {
    val rnd = new scala.util.Random(3)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
      .repartition(8) // several scan partitions so the partial stage matters
    val queries = corpus.filter(col("vec_id") < 5)
    val got = Similarity.knnBrute(corpus, queries, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // reference: exact top-4 per query computed in memory
    val vs = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expect = (0L until 5L).flatMap { q =>
      vs.keys.filter(_ != q).toSeq
        .map(n => (q, n, cos(vs(q), vs(n))))
        .sortBy { case (_, n, c) => (-c, n) }
        .take(4)
        .map { case (a, b, c) => (a, b, math.rint(c * 10000) / 10000) }
    }.toSet
    assert(got.toSet == expect)
  }

  test("semanticDupes: within-cell near-identical vectors collapse to the earliest") {
    // centStep=4 → centroids 0 and 4: two clean clusters; 1 and 2 are
    // near-copies of 0, 5 of 4, 3/6 are distinct members of each cluster
    val vs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.999f, 0.01f)), (2L, Array(0.998f, 0.02f)),
      (3L, Array(0.7f, 0.714f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.01f, 0.999f)), (6L, Array(0.714f, 0.7f)),
    ).toDF("vec_id", "embedding")
    val dupes = Similarity.semanticDupes(vs, "vec_id", "embedding",
      threshold = 0.999, centStep = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dupes == Map(1L -> 0L, 2L -> 0L, 5L -> 4L), dupes.toString)
    val kept = Similarity.semanticDedup(vs, "vec_id", "embedding",
      threshold = 0.999, centStep = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 4L, 6L))
  }

  test("semanticDupes never pairs across cells, even above threshold") {
    // 1 is nearly identical to 5 but they straddle the cell boundary
    val vs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.72f, 0.70f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.70f, 0.72f)),
    ).toDF("vec_id", "embedding")
    val cells = Similarity.ivfAssign(vs, "vec_id", "embedding",
      Similarity.sampleCentroids(vs, "vec_id", "embedding", 4))
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assume(cells(1L) != cells(5L)) // the setup holds: near-twins split by the boundary
    val dupes = Similarity.semanticDupes(vs, "vec_id", "embedding",
      threshold = 0.9, centStep = 4).collect()
    assert(!dupes.exists(r => r.getLong(0) == 5L && r.getLong(1) == 1L),
      "cross-cell pair leaked — the recall trade must be by construction")
  }

  test("meanPool: exact fixed-point means, invariant under repartitioning") {
    val df = Seq(
      ("a", Array(1.0f, 2.0f)), ("a", Array(3.0f, 5.0f)),
      ("b", Array(-1.5f, 0.5f)),
    ).toDF("label", "embedding")
    def pool(d: org.apache.spark.sql.DataFrame) =
      Similarity.meanPool(d, "label", "embedding")
        .orderBy("label", "dim_idx").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
          r.getLong(4))).toSeq
    val got = pool(df)
    assert(got == Seq(
      ("a", 0L, 2.0, 2000000L, 2L), ("a", 1L, 3.5, 3500000L, 2L), // (1+3)/2, (2+5)/2
      ("b", 0L, -1.5, -1500000L, 1L), ("b", 1L, 0.5, 500000L, 1L)))
    assert(got == pool(df.repartition(7)), "partial-agg order must not matter")
  }

  test("meanPool: exact half-micro boundaries round away from zero in integers") {
    // s=3 micro over n=2 → 1.5 micro → 2; s=-3 → -2 (no double round() at a
    // half boundary anywhere — that's where engines disagree)
    val df = Seq(("p", Array(1e-6f)), ("p", Array(2e-6f)),
      ("m", Array(-1e-6f)), ("m", Array(-2e-6f))).toDF("label", "embedding")
    val got = Similarity.meanPool(df, "label", "embedding")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got == Map("p" -> 2L, "m" -> -2L), got.toString)
  }

  test("kmeansStep: a tight cluster's updated centroid is its member mean") {
    val vs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.2f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.2f, 1.0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeansStep(vs, "vec_id", "embedding", centStep = 4)
      .orderBy("cell", "dim_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(4)))
    assert(out.toSeq == Seq(
      (0L, 0L, 1.0, 2L), (0L, 1L, 0.1, 2L),    // mean of (1,0),(1,0.2)
      (4L, 0L, 0.1, 2L), (4L, 1L, 1.0, 2L)))   // mean of (0,1),(0.2,1)
  }

  test("kmeans: codebook refines to cluster means and stabilizes") {
    val vs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.2f)), (2L, Array(1.0f, 0.1f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.2f, 1.0f)),
    ).toDF("vec_id", "embedding")
    // iters=0 is exactly the sampled codebook
    val init = Similarity.kmeans(vs, "vec_id", "embedding", iters = 0, centStep = 4)
    assert(init.map(_._1) == Seq(0L, 4L))
    assert(init.map(_._2.toSeq) == Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    // one iteration: centroids move to the member means
    val one = Similarity.kmeans(vs, "vec_id", "embedding", iters = 1, centStep = 4)
    assert(one.map(_._2.toSeq) == Seq(Seq(1.0, 0.1), Seq(0.1, 1.0)))
    // assignments are stable, so a second iteration changes nothing
    val two = Similarity.kmeans(vs, "vec_id", "embedding", iters = 2, centStep = 4)
    assert(two.map(_._2.toSeq) == one.map(_._2.toSeq))
  }

  test("multi-probe LSH improves recall@k over single-probe (measured vs exact)") {
    val rnd = new scala.util.Random(17)
    val corpus = (0 until 400).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 20)
    val k = 5
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnBrute(corpus, queries, "vec_id", "embedding", k))
    val single = pairs(Similarity.annTopK(corpus, queries, "vec_id", "embedding",
      k, planes = 8, dim = 16, probes = 0))
    val multi = pairs(Similarity.annTopK(corpus, queries, "vec_id", "embedding",
      k, planes = 8, dim = 16, probes = 8))
    def recall(got: Set[(Long, Long)]): Double =
      (got intersect exact).size.toDouble / exact.size
    val (r1, rp) = (recall(single), recall(multi))
    info(f"recall@$k single-probe=$r1%.3f multi-probe(8)=$rp%.3f (exact=${exact.size} pairs)")
    assert(multi.size >= single.size, "multi-probe must not shrink the candidate pool")
    assert(rp > r1, f"multi-probe recall $rp%.3f must beat single-probe $r1%.3f")
    assert(rp <= 1.0 && r1 > 0.0)
  }
}

class MultimodalSpec extends SparkTestBase {
  import TestSpark.spark.implicits._
  import graft.operators.Multimodal

  private val docs = Seq(
    (0L, "hello world", "en", "src0", 11L),
    (1L, "a" * 100, "en", "src0", 100L),
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("attachBinary produces binary payload with typed metadata") {
    val m = Multimodal.attachBinary(docs)
    assert(m.schema("data").dataType.typeName == "binary")
    val r = m.orderBy("doc_id").collect()(0)
    assert(new String(r.getAs[Array[Byte]]("data"), "UTF-8") == "hello world")
  }

  test("decodeFeatures computes byte-level features per partition") {
    val out = Multimodal.mediaFeatures(spark, docs).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("size_bytes") == 11L)
    assert(out(0).getAs[Int]("n_chunks") == 1)
    assert(out(0).getAs[Long]("n_space") == 1L)
    assert(out(1).getAs[Long]("size_bytes") == 100L)
    assert(out(1).getAs[Int]("n_chunks") == 2)     // ceil(100/64)
    // checksum equals md5 of the text bytes
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = md.digest("hello world".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(out(0).getAs[String]("checksum") == expect)
  }

  test("sampleFrames emits every stride-th 64-byte chunk with stable hashes") {
    val media = Multimodal.attachBinary(docs)
    val frames = Multimodal.sampleFrames(media, stride = 1)
      .filter(col("doc_id") === 1).orderBy("frame_idx").collect()
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 1))
    assert(frames.map(_.getString(2)).distinct.length == 2)
  }

  test("decodeImages REALLY decodes a PNG: geometry, channels, exact pixel sum") {
    import graft.operators.MediaRow
    // 4x3 synthetic PNG — recompute the expected sum from the pixel formula
    val seed = 42L
    val (w, h) = (4, 3)
    var expectSum = 0L
    for (y <- 0 until h; x <- 0 until w) {
      expectSum += (seed * 7 + x * 13 + y * 31) % 256
      expectSum += (seed * 11 + x * 17 + y * 5) % 256
      expectSum += (seed * 3 + x * 29 + y * 7) % 256
    }
    val png = Multimodal.syntheticPng(seed, w, h)
    // PNG magic bytes prove a real encoder ran, not a byte passthrough
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P'.toByte)
    val out = Multimodal.decodeImages(
      Seq(MediaRow(1L, "image/png", png, w, h)).toDS()).collect().head
    assert(out.decoded && out.width == w && out.height == h)
    assert(out.channels == 3 && out.n_px == w.toLong * h)
    assert(out.sum_rgb == expectSum, s"decoded sum ${out.sum_rgb} != $expectSum")
    assert(out.mean_luma == expectSum.toDouble / (3.0 * w * h))
  }

  test("decodeImages handles JPEG (lossy: geometry exact, luma approximate)") {
    import graft.operators.MediaRow
    // encode the same BufferedImage content as JPEG via pure-JDK ImageIO
    val im = new java.awt.image.BufferedImage(
      8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8) im.setRGB(x, y, 0x808080) // flat gray
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "jpg", bos)
    val out = Multimodal.decodeImages(
      Seq(MediaRow(2L, "image/jpeg", bos.toByteArray, 8, 6)).toDS())
      .collect().head
    assert(out.decoded && out.width == 8 && out.height == 6 && out.channels == 3)
    // flat gray survives JPEG within quantization error
    assert(math.abs(out.mean_luma - 128.0) < 4.0, s"luma ${out.mean_luma}")
  }

  test("decodeImages handles BMP and GIF (lossless / palette-bounded)") {
    import graft.operators.MediaRow
    // 16 distinct colors — inside GIF's 256-color palette, so BOTH formats
    // must round-trip the exact pixel sum
    val im = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var expectSum = 0L
    for (y <- 0 until 4; x <- 0 until 4) {
      val r = x * 60; val g = y * 60; val b = 128
      im.setRGB(x, y, (r << 16) | (g << 8) | b)
      expectSum += r + g + b
    }
    for ((fmt, mime) <- Seq(("bmp", "image/bmp"), ("gif", "image/gif"))) {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(im, fmt, bos), s"no JDK $fmt writer")
      val out = Multimodal.decodeImages(
        Seq(MediaRow(9L, mime, bos.toByteArray, 4, 4)).toDS()).collect().head
      assert(out.decoded && out.width == 4 && out.height == 4, s"$fmt geometry")
      if (fmt == "bmp") {
        // BMP is lossless: exact round-trip of the source pixels
        assert(out.sum_rgb == expectSum, s"bmp sum ${out.sum_rgb} != $expectSum")
      } else {
        // the JDK GIF writer re-quantizes to its own palette, so exactness
        // vs the SOURCE doesn't hold even under 256 colors; the executor
        // decode must instead match a driver-side decode of the same bytes
        val local = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bos.toByteArray))
        var localSum = 0L
        for (y <- 0 until 4; x <- 0 until 4) {
          val p = local.getRGB(x, y)
          localSum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        }
        assert(out.sum_rgb == localSum, s"gif sum ${out.sum_rgb} != $localSum")
      }
    }
  }

  test("decodeAudio REALLY decodes a WAV: header geometry, exact sample sums") {
    import graft.operators.MediaRow
    val seed = 7L
    val (nFrames, ch, rate) = (50, 2, 8000)
    var (expAmp, expAbs, expSq) = (0L, 0L, 0L)
    for (i <- 0 until nFrames; c <- 0 until ch) {
      val s = ((seed * 31 + i * 13 + c * 7) % 65536) - 32768
      expAmp += s; expAbs += math.abs(s); expSq += s * s
    }
    val wav = Multimodal.syntheticWav(seed, nFrames, ch, rate)
    // RIFF magic proves a real container was written, not a passthrough
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val out = Multimodal.decodeAudio(
      Seq(MediaRow(1L, "audio/wav", wav, 0, 0)).toDS()).collect().head
    assert(out.decoded && out.sample_rate == rate && out.channels == ch)
    assert(out.n_frames == nFrames.toLong)
    assert(out.n_samples == nFrames.toLong * ch)
    assert(out.sum_amp == expAmp, s"decoded sum ${out.sum_amp} != $expAmp")
    assert(out.sum_abs == expAbs && out.sum_sq == expSq)
    assert(out.size_bytes == wav.length.toLong)
  }

  test("decodeAudio degrades, not dies: unknown mime, corrupt and truncated payloads") {
    import graft.operators.MediaRow
    val garbage = Array.tabulate[Byte](100)(i => (i * 37).toByte)
    val rows = Multimodal.decodeAudio(Seq(
      MediaRow(3L, "image/png", garbage, 0, 0),          // unknown mime
      MediaRow(4L, "audio/wav", garbage, 0, 0),          // wrong magic
      MediaRow(5L, "audio/wav",                          // truncated real WAV
        Multimodal.syntheticWav(1L, 40, 1).take(30), 0, 0),
    ).toDS()).collect().sortBy(_.doc_id)
    assert(rows.forall(!_.decoded))
    assert(rows.forall(r => r.sample_rate == -1 && r.n_samples == 0L &&
      r.sum_abs == 0L))
    assert(rows(0).size_bytes == 100L)
  }

  test("audioFeatures end-to-end matches the per-doc geometry rule") {
    val out = Multimodal.audioFeatures(spark, docs).orderBy("doc_id").collect()
    assert(out.length == 2)
    for (r <- out) {
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("decoded"))
      assert(r.getAs[Long]("n_frames") == 40 + id % 25)
      assert(r.getAs[Int]("channels") == (1 + id % 2).toInt)
      assert(r.getAs[Int]("sample_rate") == 8000)
    }
  }

  test("decodeImages degrades, not dies: unknown mime and corrupt payload") {
    import graft.operators.MediaRow
    val garbage = Array.tabulate[Byte](100)(i => (i * 37).toByte)
    val rows = Multimodal.decodeImages(Seq(
      MediaRow(3L, "audio/wav", garbage, 0, 0),          // unknown mime
      MediaRow(4L, "image/png", garbage, 0, 0),          // wrong magic
      MediaRow(5L, "image/png",                          // truncated real PNG
        Multimodal.syntheticPng(1L, 5, 5).take(20), 5, 5),
    ).toDS()).collect().sortBy(_.doc_id)
    assert(rows.forall(!_.decoded))
    assert(rows.forall(r => r.width == -1 && r.n_px == 0L))
    assert(rows(0).size_bytes == 100L)
  }

  test("decodeVideoFrames REALLY decodes sampled frames: stride, geometry, exact pixel sums") {
    import graft.operators.MediaRow
    val (w, h, n) = (4, 3, 5)
    def frameSum(seed: Long): Long = {
      var s = 0L
      for (y <- 0 until h; x <- 0 until w) {
        s += (seed * 7 + x * 13 + y * 31) % 256
        s += (seed * 11 + x * 17 + y * 5) % 256
        s += (seed * 3 + x * 29 + y * 7) % 256
      }
      s
    }
    val video = Multimodal.packFrames((0 until n).map(f =>
      Multimodal.syntheticPng(100L + f, w, h)))
    assert(new String(video.take(4), "US-ASCII") == "GVID")
    val sampled = Multimodal.decodeVideoFrames(
      Seq(MediaRow(1L, Multimodal.VideoMime, video, w, h)).toDS(), stride = 2)
      .collect().sortBy(_.frame_idx)
    // stride 2 over 5 frames samples 0, 2, 4 — skipped frames never decoded
    assert(sampled.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    for (r <- sampled) {
      assert(r.decoded && r.n_frames == n && r.width == w && r.height == h)
      assert(r.n_px == w.toLong * h)
      assert(r.sum_rgb == frameSum(100L + r.frame_idx),
        s"frame ${r.frame_idx}: ${r.sum_rgb}")
    }
    // stride 1 decodes every frame
    val all = Multimodal.decodeVideoFrames(
      Seq(MediaRow(1L, Multimodal.VideoMime, video, w, h)).toDS(), stride = 1)
      .collect()
    assert(all.map(_.frame_idx).sorted.toSeq == (0 until n))
  }

  test("decodeVideoFrames degrades, not dies: bad magic, truncation, corrupt frame, wrong mime") {
    import graft.operators.MediaRow
    val good = Multimodal.packFrames(Seq(Multimodal.syntheticPng(1L, 3, 3)))
    val badFrame = Multimodal.packFrames( // valid container, garbage "PNG"
      Seq(Array.tabulate[Byte](50)(i => (i * 37).toByte)))
    val rows = Multimodal.decodeVideoFrames(Seq(
      MediaRow(3L, Multimodal.VideoMime, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8), 0, 0),
      MediaRow(4L, Multimodal.VideoMime, good.take(good.length - 5), 0, 0),
      MediaRow(5L, Multimodal.VideoMime, badFrame, 0, 0),
      MediaRow(6L, "image/png", good, 0, 0),
    ).toDS(), stride = 1).collect().sortBy(_.doc_id)
    assert(rows.length == 4)
    assert(rows.forall(r => !r.decoded && r.frame_idx == -1 && r.n_px == 0L))
    assert(rows(0).size_bytes == 8L)
  }

  test("videoFrameFeatures end-to-end matches the per-doc geometry rule at stride 2") {
    val out = Multimodal.videoFrameFeatures(spark, docs, stride = 2)
      .orderBy("doc_id", "frame_idx").collect()
    // doc 0: 2 frames → {0}; doc 1: 3 frames → {0, 2}
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("frame_idx"))).toSeq ==
      Seq((0L, 0), (1L, 0), (1L, 2)))
    for (r <- out) {
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("decoded"))
      assert(r.getAs[Int]("n_frames") == (2 + id % 3).toInt)
      assert(r.getAs[Int]("width") == (3 + id % 5).toInt)
      assert(r.getAs[Int]("height") == (2 + id % 4).toInt)
    }
  }

  /** In-test reference of the aHash bit rule over the synthetic pixel
    * formula — what the q92 oracle computes in SQL.
    */
  private def refAHash(seed: Long, w: Int, h: Int): (Long, Long) = {
    val luma = Array.tabulate(64) { k =>
      val i = k % 8; val j = k / 8
      val x = i * w / 8; val y = j * h / 8
      (seed * 7 + x * 13 + y * 31) % 256 +
        (seed * 11 + x * 17 + y * 5) % 256 +
        (seed * 3 + x * 29 + y * 7) % 256
    }
    val total = luma.sum
    var hi = 0L; var lo = 0L
    for (k <- 0 until 64 if 64L * luma(k) > total)
      if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
    (hi, lo)
  }

  test("imagePHash: real PNG decode reproduces the arithmetic aHash; corrupt degrades") {
    import graft.operators.MediaRow
    val (seed, w, h) = (7L, 5, 4)
    val png = Multimodal.syntheticPng(seed, w, h)
    val rows = Multimodal.imagePHash(Seq(
      MediaRow(1L, "image/png", png, w, h),
      MediaRow(2L, "image/png", png, w, h),          // same bytes, same hash
      MediaRow(3L, "image/png", png.take(20), w, h), // truncated
      MediaRow(4L, "application/pdf", png, w, h)     // unknown mime
    ).toDS()).collect().sortBy(_.doc_id)
    val (hi, lo) = refAHash(seed, w, h)
    assert(rows(0).decoded && rows(0).hash_hi == hi && rows(0).hash_lo == lo)
    assert(rows(1).hash_hi == hi && rows(1).hash_lo == lo)
    assert(!rows(2).decoded && !rows(3).decoded)
    // halves never touch the sign bit (the oracle's BIGINT-shift contract)
    assert(rows.forall(r => r.hash_hi >= 0 && r.hash_hi < (1L << 32)
      && r.hash_lo >= 0 && r.hash_lo < (1L << 32)))
  }

  test("perceptualDups: pigeonhole-complete at hamming ≤ 3, exact vs brute force") {
    def flip(h: (Long, Long), bits: Seq[Int]): (Long, Long) =
      bits.foldLeft(h) { case ((hi, lo), k) =>
        if (k < 32) (hi, lo ^ (1L << k)) else (hi ^ (1L << (k - 32)), lo)
      }
    val base = refAHash(11L, 6, 5)
    val rows = Seq(
      (1L, true, base),
      (2L, true, flip(base, Seq(0, 1, 2))),    // ham 3, all in band 0 → kept
      (3L, true, flip(base, Seq(5, 21, 40))),  // ham 3 across 3 bands → kept
      (4L, true, flip(base, Seq(3, 17, 35, 50))), // ham 4, one per band → no intact band
      (5L, true, flip(base, Seq(8, 9, 10, 11))),  // ham 4 in one band → candidate, filtered
      (6L, false, base)                        // undecoded: excluded entirely
    ).map { case (id, d, (hi, lo)) => (id, d, hi, lo) }
      .toDF("doc_id", "decoded", "hash_hi", "hash_lo")
    val out = Multimodal.perceptualDups(rows, maxHamming = 3)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute force over the decoded rows at hamming ≤ 3
    val hs = Seq(1L -> base, 2L -> flip(base, Seq(0, 1, 2)),
      3L -> flip(base, Seq(5, 21, 40)), 4L -> flip(base, Seq(3, 17, 35, 50)),
      5L -> flip(base, Seq(8, 9, 10, 11)))
    val brute = for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      ham = java.lang.Long.bitCount(ha._1 ^ hb._1) +
        java.lang.Long.bitCount(ha._2 ^ hb._2)
      if ham <= 3
    } yield (a, b, ham.toLong)
    assert(out.toSeq.sorted == brute.sorted,
      s"banded ${out.toSeq} != brute $brute")
    // the ≤3 pairs ARE present (completeness), the =4 constructions absent
    val pairs = out.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L || p._1 == 5L || p._2 == 5L))
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L))
  }

  /** In-test reference of the audio fingerprint (what the q99 oracle
    * computes in SQL): loudness at 64 nearest-neighbor sampled frames,
    * strict above-mean bits.
    */
  private def refAudioHash(seed: Long, n: Int, ch: Int): (Long, Long) = {
    val vals = Array.tabulate(64) { b =>
      val frame = b * n / 64
      (0 until ch).map { c =>
        math.abs(((seed * 31 + frame.toLong * 40503L + c * 7) % 65536) - 32768)
      }.sum
    }
    val total = vals.sum
    var hi = 0L; var lo = 0L
    for (k <- 0 until 64 if 64L * vals(k) > total)
      if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
    (hi, lo)
  }

  test("audioPHash: real streaming WAV decode reproduces the arithmetic fingerprint") {
    import graft.operators.MediaRow
    val (seed, n, ch) = (7L, 47, 2)
    val wav = Multimodal.syntheticWav(seed, n, ch, frameMul = 40503L)
    val rows = Multimodal.audioPHash(Seq(
      MediaRow(1L, "audio/wav", wav, 0, 0),
      MediaRow(2L, "audio/wav", wav.take(50), 0, 0),  // truncated
      MediaRow(3L, "text/plain", wav, 0, 0)           // unknown mime
    ).toDS()).orderBy("doc_id").collect()
    val (hi, lo) = refAudioHash(seed, n, ch)
    assert(rows(0).getBoolean(1)
      && rows(0).getLong(2) == hi && rows(0).getLong(3) == lo,
      s"${rows(0)} != ($hi, $lo)")
    assert(!rows(1).getBoolean(1) && !rows(2).getBoolean(1))
  }

  test("videoPHash: strided real frame decode XORs the per-frame aHashes; corrupt degrades") {
    import graft.operators.MediaRow
    val (seed, w, h) = (5L, 6, 4)
    val frames = (0 until 3).map(f =>
      Multimodal.syntheticPng(seed * 100 + f * 7, w, h))
    val vid = Multimodal.packFrames(frames)
    val rows = Multimodal.videoPHash(Seq(
      MediaRow(1L, Multimodal.VideoMime, vid, w, h),
      MediaRow(2L, Multimodal.VideoMime, vid.take(10), w, h), // truncated
      MediaRow(3L, "image/png", vid, w, h)                    // wrong mime
    ).toDS(), stride = 2).orderBy("doc_id").collect()
    // expected: frame 0 at rotation 0 XOR frame 2 rotated by its sampled
    // ordinal (1)
    def rotl(v: Long, r: Int): Long = ((v << r) | (v >>> (32 - r))) & 0xFFFFFFFFL
    val (h0hi, h0lo) = refAHash(seed * 100, w, h)
    val (h2hi, h2lo) = refAHash(seed * 100 + 14, w, h)
    assert(rows(0).getBoolean(1)
      && rows(0).getLong(2) == (h0hi ^ rotl(h2hi, 1))
      && rows(0).getLong(3) == (h0lo ^ rotl(h2lo, 1)))
    assert(!rows(1).getBoolean(1) && !rows(2).getBoolean(1))
  }

  test("videoPHash: static videos do NOT cancel to zero; different statics differ") {
    import graft.operators.MediaRow
    // 4 identical frames, stride 1 → an even sampled count: a plain XOR
    // would cancel to (0, 0) and every static video would collide
    def static(seed: Long) = Multimodal.packFrames(
      Seq.fill(4)(Multimodal.syntheticPng(seed, 5, 4)))
    // seeds chosen so the single-FRAME aHashes differ (nearby seeds of
    // these smooth gradients rank their blocks identically)
    assert(refAHash(17L, 5, 4) != refAHash(18L, 5, 4))
    val rows = Multimodal.videoPHash(Seq(
      MediaRow(1L, Multimodal.VideoMime, static(17L), 5, 4),
      MediaRow(2L, Multimodal.VideoMime, static(18L), 5, 4)
    ).toDS(), stride = 1).orderBy("doc_id").collect()
    assert(rows.forall(_.getBoolean(1)))
    assert((rows(0).getLong(2), rows(0).getLong(3)) != ((0L, 0L)),
      "static video cancelled to zero")
    assert((rows(0).getLong(2), rows(0).getLong(3)) !=
      ((rows(1).getLong(2), rows(1).getLong(3))),
      "different static videos collided")
  }

  test("videoDups end-to-end: equal-seed docs collapse to hamming-0 pairs") {
    val ids = spark.range(0, 170).select(col("id").as("doc_id"))
    val out = Multimodal.videoDups(spark, ids, seedMod = 83)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (i <- 0L until 87L) {
      val p = out.find(t => t._1 == i && t._2 == i + 83)
      assert(p.exists(_._3 == 0L), s"missing exact pair ($i, ${i + 83})")
    }
  }

  test("audioDups end-to-end: equal-seed docs collapse to hamming-0 pairs") {
    val ids = spark.range(0, 180).select(col("id").as("doc_id"))
    val out = Multimodal.audioDups(spark, ids, seedMod = 89, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (i <- 0L until 91L) {
      val p = out.find(t => t._1 == i && t._2 == i + 89)
      assert(p.exists(_._3 == 0L), s"missing exact pair ($i, ${i + 89})")
    }
  }

  test("perceptualDups equals brute force on random signatures (5 seeded trials)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      // 30 random hashes + 10 near-dups made by flipping ≤3 random bits
      val base = (0L until 30L).map(i =>
        (i, rnd.nextLong() & 0xFFFFFFFFL, rnd.nextLong() & 0xFFFFFFFFL))
      val nearDups = (0 until 10).map { j =>
        val (of, hi, lo) = base(rnd.nextInt(base.size))
        val flips = Seq.fill(rnd.nextInt(4))(rnd.nextInt(64))
        val (fhi, flo) = flips.foldLeft((hi, lo)) { case ((h, l), k) =>
          if (k < 32) (h, l ^ (1L << k)) else (h ^ (1L << (k - 32)), l)
        }
        (100L + j, fhi, flo)
      }
      val all = base ++ nearDups
      val out = Multimodal.perceptualDups(
          all.map { case (id, hi, lo) => (id, true, hi, lo) }
            .toDF("doc_id", "decoded", "hash_hi", "hash_lo"), maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      val brute = (for {
        (a, ahi, alo) <- all; (b, bhi, blo) <- all if a < b
        ham = java.lang.Long.bitCount(ahi ^ bhi) + java.lang.Long.bitCount(alo ^ blo)
        if ham <= 3
      } yield (a, b, ham.toLong)).sorted
      assert(out == brute, s"banded $out != brute $brute")
      assert(brute.nonEmpty, "trial should contain near-dups")
    }
  }

  test("perceptualDupGroups equals pairs→components, without the in-cluster pair list") {
    val rnd = new scala.util.Random(7)
    // identical-hash clusters of size 5 + near-dup links between some
    val reps = (0 until 8).map(_ =>
      (rnd.nextLong() & 0xFFFFFFFFL, rnd.nextLong() & 0xFFFFFFFFL))
    val rows = for {
      (r, ci) <- reps.zipWithIndex
      m <- 0 until 5
    } yield (ci * 10L + m, true, r._1, r._2)
    // link cluster 0 to cluster 1 by a 2-bit-flipped bridge doc
    val bridge = (99L, true, reps(0)._1 ^ 3L, reps(0)._2)
    val bridge2 = (98L, true, reps(1)._1, reps(1)._2 ^ (1L << 5))
    val df = (rows :+ bridge :+ bridge2)
      .toDF("doc_id", "decoded", "hash_hi", "hash_lo")
    def comp(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaGroups = comp(Multimodal.perceptualDupGroups(df, maxHamming = 3))
    val viaPairs = comp(graft.operators.Dedup.canonicalIds(
      Multimodal.perceptualDups(df, maxHamming = 3)))
    assert(viaGroups == viaPairs && viaGroups.nonEmpty)
  }

  test("semanticContamination: planted paraphrase flags, count and best-match tie-break") {
    val eval_ = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.01f, 0.0f)),     // near-identical second eval item
      (2L, Array(0.0f, 1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (100L, Array(0.99f, 0.05f, 0.0f)),  // "paraphrase" of eval 0 AND 1
      (101L, Array(0.0f, 0.0f, 1.0f)),    // clean — orthogonal to all
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticContamination(corpus, eval_,
        "vec_id", "embedding", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 1)
    val (doc, hits, bestId, bestCos) = out.head
    assert(doc == 100L && hits == 2L)
    // ties/ranking: the higher-cosine eval item wins (eval 1 here — its
    // direction is closer to the contaminated vector than eval 0's)
    assert(bestId == 1L && bestCos > 0.99)
  }

  test("kmeansIterReport: iters=1 is the gated single step; a fixed point repeats") {
    val vs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.2f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.2f, 1.0f)),
    ).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cell", "dim_idx").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))).toSeq
    val one = rows(Similarity.kmeansIterReport(vs, "vec_id", "embedding",
      iters = 1, centStep = 4))
    assert(one == rows(Similarity.kmeansStep(vs, "vec_id", "embedding", centStep = 4)))
    // this geometry's assignment is stable after one step, so the second
    // iteration reproduces the identical fixed-point means
    val two = rows(Similarity.kmeansIterReport(vs, "vec_id", "embedding",
      iters = 2, centStep = 4))
    assert(two == one)
  }

  test("scoped perceptualDups: identical hashes in different scopes never pair") {
    val df = Seq(
      (0L, true, 0x1234L, 0x5678L, 0),   // image scope
      (1L, true, 0x1234L, 0x5678L, 1),   // audio scope — same 64 bits
      (2L, true, 0x1234L, 0x5678L, 0),   // image again: pairs with 0
      (3L, true, 0x1234L, 0x567AL, 1)    // audio, hamming 1 from doc 1
    ).toDF("doc_id", "decoded", "hash_hi", "hash_lo", "modality")
    val scoped = Multimodal.perceptualDups(df, maxHamming = 3,
        scopeCols = Seq("modality"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(scoped == Set((0L, 2L), (1L, 3L)))   // never (0,1)/(0,3)/(2,3)…
    // unscoped, the numeric collisions DO pair — which is exactly the
    // cross-modality nonsense the scope key exists to forbid
    val unscoped = Multimodal.perceptualDups(df.drop("modality"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unscoped.contains((0L, 1L)))
    // group form under the same scope: components stay modality-pure
    val groups = Multimodal.perceptualDupGroups(df, maxHamming = 3,
        scopeCols = Seq("modality"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(groups == Set((0L, 0L), (2L, 0L), (1L, 1L), (3L, 1L)))
  }

  test("imageDups end-to-end: equal-seed docs collapse to hamming-0 pairs") {
    val ids = spark.range(0, 200).select(col("id").as("doc_id"))
    val out = Multimodal.imageDups(spark, ids, seedMod = 97, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc pairs (i, i+97) share seed AND geometry → identical image
    for (i <- 0L until 103L) {
      val p = out.find(t => t._1 == i && t._2 == i + 97)
      assert(p.exists(_._3 == 0L), s"missing exact pair ($i, ${i + 97})")
    }
  }
}

/** Int8 embedding quantization: the engine-portable floor-rounding rule,
  * storage type, and error bounds.
  */
class QuantizeSpec extends SparkTestBase {
  import TestSpark.spark.implicits._
  import graft.operators.Similarity

  test("quantizeInt8: tinyint storage, |q| bound, zero vector, max element pins ±127") {
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(-2.0f, 2.0f, 0.3f, -1.1f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, "vec_id", "embedding")
    // the artifact really is int8: array<tinyint> in the schema
    assert(out.schema("qvec").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = false))
    val rows = out.collect().map { r =>
      r.getLong(0) -> (r.getDouble(2), r.getSeq[Byte](3))
    }.toMap
    // every component within int8 range; the max-|x| element hits ±127
    rows.values.foreach { case (_, q) =>
      assert(q.forall(b => b >= -127 && b <= 127), q.toString) }
    assert(rows(1L)._2.head == 127)      // 1.0 is vec 1's max abs
    assert(rows(3L)._2(1) == 127)        // +2.0
    assert(rows(3L)._2.head == -127)     // -2.0
    // zero vector: scale 0, all-zero q, no division blow-up
    assert(rows(2L)._1 == 0.0 && rows(2L)._2.forall(_ == 0))
  }

  test("quantizeInt8 round-trip error is bounded by scale/2") {
    val df = Seq(
      (1L, Array.tabulate(64)(i => ((i * 31 % 17) - 8) / 9.0f)),
      (2L, Array.tabulate(64)(i => math.sin(i + 1).toFloat))).toDF("vec_id", "embedding")
    Similarity.quantizeInt8(df, "vec_id", "embedding").collect().foreach { r =>
      val v = r.getSeq[Double](1); val scale = r.getDouble(2)
      val q = r.getSeq[Byte](3)
      v.zip(q).foreach { case (x, qi) =>
        assert(math.abs(x - qi * scale) <= scale / 2 * (1 + 1e-9),
          s"x=$x q=$qi scale=$scale") }
    }
  }

  test("quantReport: error stats are exact integers, zero vector reports zero error") {
    val df = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val rep = Similarity.quantReport(df, "vec_id", "embedding")
      .orderBy("id").collect()
    assert(rep(0).getLong(1) == 3L)                  // n_dims
    assert(rep(1).getLong(3) == 0L)                  // zero vec: q_sum 0
    assert(rep(1).getLong(6) == 0L)                  // max_err_nano 0
    assert(rep(1).getLong(7) == 0L)                  // sse_nano 0
    // -0.25 is exactly representable: q = -63.5 -> -63, err nonzero
    assert(rep(0).getLong(6) > 0L)
  }

  test("fused graft_quant8 artifact is bit-identical to the composable HOF form") {
    val df = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, -0.5f, 0.25f, -2.0f)),
      (3L, Array.tabulate(64)(i => math.cos(i * 1.7).toFloat)))
      .toDF("vec_id", "embedding")
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .select(col("id"), col("scale"), col("qvec"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Byte](2).toSeq)).toSeq
    assert(rows(Similarity.quantizeInt8(df, "vec_id", "embedding")) ==
      rows(Similarity.quantizeInt8Composed(df, "vec_id", "embedding")))
  }

  test("fused graft_quant8_report is bit-identical to the composable HOF form") {
    // adversarial inputs: zero vector, single element, sign boundaries,
    // irregular doubles, plus fixture-like pseudo-random vectors
    val vecs = Seq(
      Array(0.0f, 0.0f, 0.0f, 0.0f),
      Array(1.0f),
      Array(-2.5f, 2.5f, -1.25f, 0.625f),
      Array.tabulate(64)(i => math.sin(i * 2.3 + 1).toFloat),
      Array.tabulate(64)(i => (((i * 37) % 19) - 9) / 7.0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val fused = Similarity.quantReport(df, "vec_id", "embedding")
      .orderBy("id").collect().toSeq
    val composed = Similarity.quantReportComposed(df, "vec_id", "embedding")
      .orderBy("id").collect().toSeq
    assert(fused == composed)
  }

  test("quantReport edge contract: empty vector nulls the fused row, HOF row survives; NaN diverges") {
    import org.apache.spark.sql.functions.col
    // EMPTY: fused kernel nulls the whole report row...
    val empty = Seq((1L, Array.empty[Float])).toDF("vec_id", "embedding")
    val fusedRow = Similarity.quantReport(empty, "vec_id", "embedding")
      .collect().head
    assert(fusedRow.isNullAt(1), "fused empty-vector report must be all-null")
    assert((1 until fusedRow.length).forall(fusedRow.isNullAt))
    // ...while the HOF form emits a row whose array_max-derived columns
    // null-poison but n_dims/q_sum do not (the documented divergence)
    val hofRow = Similarity.quantReportComposed(empty, "vec_id", "embedding")
      .collect().head
    assert(hofRow.getLong(1) == 0L)       // n_dims
    assert(hofRow.isNullAt(2))            // scale_nano (from array_max)
    assert(hofRow.getLong(3) == 0L)       // q_sum (aggregate over empty)
    // NaN: the fused scale loop skips NaN; the HOF array_max orders NaN
    // greatest, so its scale (and everything downstream) NaN-poisons
    val nan = Seq((1L, Array(1.0f, Float.NaN))).toDF("vec_id", "embedding")
    val fusedNan = Similarity.quantReport(nan, "vec_id", "embedding")
      .collect().head
    assert(fusedNan.getLong(2) == 7874016L) // scale_nano from max|x| = 1.0
    val hofNan = Similarity.quantReportComposed(nan, "vec_id", "embedding")
      .select(col("scale_nano")).collect().head
    assert(hofNan.isNullAt(0) || hofNan.getLong(0) != 7874016L)
  }

  test("quantReport raises (like the oracle's BIGINT) when an error exceeds nano range") {
    // max|x| = 1000 → scale ≈ 7.87; x = 3.5 quantizes to q = 0, so
    // |err| = 3.5 → en = 3.5e9, and en·en overflows Long: multiplyExact
    // must RAISE — matching DuckDB's loud BIGINT overflow — instead of
    // Spark's silent non-ANSI wrap
    val df = Seq((1L, Array(1000.0f, 3.5f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.quantReport(df, "vec_id", "embedding").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[ArithmeticException]), e.toString)
  }

  test("graft_quant8_report participates in whole-stage codegen") {
    graft.functions.Quant8Report.ensureRegistered(spark)
    // v is referenced twice so CollapseProject keeps the interpreted
    // transform() feeder in its own Project and ours stays codegen'd
    val df = spark.range(1, 11)
      .select(transform(sequence(lit(0), lit(7)),
        i => (col("id") + i).cast("double")).as("v"))
      .select(call_function("graft_quant8_report", col("v")).as("r"),
        size(col("v")).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[quant8report""".r.findFirstIn(plan).isDefined, plan)
    df.collect().foreach { r =>
      val s = r.getStruct(0)
      assert(s.getLong(0) == 8L)                // n_dims
      assert(s.getLong(4) == 127L)              // max element pins 127
    }
  }

  test("recallReport: exact integer ppm, bounded by both sides, matches a manual intersection") {
    val rnd = new scala.util.Random(23)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 10)
    val k = 4
    val rep = Similarity.recallReport(corpus, queries, "vec_id", "embedding",
        k, planes = 8, dim = 16)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rep.length == 10)                    // every query reports, even empty buckets
    rep.foreach { case (_, nExact, nApprox, nHit, ppm) =>
      assert(nExact == k)                       // 300-vector corpus always fills top-k
      assert(nHit <= math.min(nExact, nApprox))
      assert(ppm == nHit * 1000000L / k)        // exact integer ppm, no float path
    }
    // manual cross-check: the report's n_hit equals the set intersection of
    // the two gated operators it composes
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnBrute(corpus, queries, "vec_id", "embedding", k))
    val approx = pairs(Similarity.annTopK(corpus, queries, "vec_id", "embedding",
      k, planes = 8, dim = 16))
    val manual = (exact intersect approx).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    rep.foreach { case (q, _, _, nHit, _) =>
      assert(nHit == manual.getOrElse(q, 0L), s"query $q")
    }
  }

  test("recallReport: multi-probe recall dominates single-probe") {
    val rnd = new scala.util.Random(29)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 10)
    def total(probes: Int): Long =
      Similarity.recallReport(corpus, queries, "vec_id", "embedding",
          k = 4, planes = 8, dim = 16, probes = probes)
        .agg(sum("n_hit")).head.getLong(0)
    assert(total(8) >= total(0))  // probing more buckets never loses hits
  }

  test("appendIvfIndex: append-then-search equals a from-scratch build over the union") {
    val rnd = new scala.util.Random(31)
    val all = (0 until 120).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val even = all.filter(col("vec_id") % 2 === 0)
    val odd = all.filter(col("vec_id") % 2 === 1)
    // centStep 4 picks ids % 4 == 0 — all even, so the even-only build and
    // the full build choose the IDENTICAL codebook; any difference below
    // is then the append path's fault, which is the point of the test
    val incr = java.nio.file.Files.createTempDirectory("ivf_incr").toString
    Similarity.buildIvfIndex(even, "vec_id", "embedding", incr, centStep = 4)
    Similarity.appendIvfIndex(spark, incr, odd, "vec_id", "embedding")
    val full = java.nio.file.Files.createTempDirectory("ivf_full").toString
    Similarity.buildIvfIndex(all, "vec_id", "embedding", full, centStep = 4)
    val qs = all.filter(col("vec_id") < 6)
    def rows(dir: String) =
      Similarity.searchIvfIndex(spark, dir, qs, "vec_id", "embedding",
          k = 3, nprobe = 2)
        .orderBy("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val (incremental, rebuilt) = (rows(incr), rows(full))
    assert(incremental == rebuilt && rebuilt.nonEmpty)
    // odd ids really landed in the postings (the appended half is searchable)
    assert(incremental.exists(_._2 % 2 == 1))
  }

  test("appendIvfIndex refuses an empty index directory") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_missing").toString
    val batch = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    intercept[Exception] {
      Similarity.appendIvfIndex(spark, dir, batch, "vec_id", "embedding")
    }
  }

  // 4-dim, m=2 subspaces of 2; centStep=1 + ksub=2 → codebook = vectors
  // 0 and 1, so every code and ADC total is hand-checkable below.
  private val pqVecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
    (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
    (2L, Array(1.0f, 0.0f, 1.0f, 0.0f)),  // s0 like c0, s1 like c1
    (3L, Array(0.0f, 1.0f, 0.0f, 1.0f)),  // s0 like c1, s1 like c0
  ).toDF("vec_id", "embedding")

  test("pqEncode packs per-subspace argmin codes, map-side only") {
    val enc = Similarity.pqEncode(pqVecs, "vec_id", "embedding",
      m = 2, ksub = 2, centStep = 1)
    val out = enc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // word = code_s0 + (code_s1 << 4): v0 → (0,0)=0; v1 → (1,1)=17;
    // v2 → (0,1)=16; v3 → (1,0)=1
    assert(out == Map(0L -> 0L, 1L -> 17L, 2L -> 16L, 3L -> 1L))
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("pqTopK ranks by exact integer ADC, ties to lowest neighbor id") {
    val out = Similarity.pqTopK(pqVecs, pqVecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 2, m = 2, ksub = 2, centStep = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // q0 = [1,0,0,1]: id2/id3 reconstruct to ADC 0 (one matching + one
    // opposite subspace each: -1e6 + 1e6); id1 reconstructs to 2e6 —
    // tie at 0 broken by neighbor id
    assert(out.toSeq == Seq((0L, 2L, 0L), (0L, 3L, 0L)))
  }

  test("ivfPqTopK: probed-cell scan finds the in-cluster neighbor") {
    val vs = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.9f, 0.1f)),
      (2L, Array(0.8f, 0.2f, 0.8f, 0.2f)),
      (4L, Array(0.0f, 1.0f, 0.0f, 1.0f)), (5L, Array(0.1f, 0.9f, 0.1f, 0.9f)),
      (6L, Array(0.2f, 0.8f, 0.2f, 0.8f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfPqTopK(vs, vs.filter(col("vec_id") === 1),
        "vec_id", "embedding", k = 2, nprobe = 1, m = 2, ksub = 4,
        ivfStep = 4, pqStep = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // nprobe=1 → only the [1,0]-ish cell (centroid id 0) is scanned:
    // every neighbor comes from that cluster, none from ids ≥ 4
    assert(out.nonEmpty && out.forall { case (q, n) => q == 1L && n < 4L })
  }

  test("IVF-PQ store inherits delete + compaction unchanged") {
    val vs = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.9f, 0.1f)),
      (2L, Array(0.8f, 0.2f, 0.8f, 0.2f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 1.0f)), (4L, Array(0.1f, 0.9f, 0.1f, 0.9f)),
    ).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-del").toString
    Similarity.buildIvfPqIndex(vs, "vec_id", "embedding", dir,
      m = 2, ksub = 4, ivfStep = 3, pqStep = 1)
    Similarity.deleteFromIvfIndex(spark,
      dir, Seq(2L).toDF("vec_id"), "vec_id")
    def hits() = Similarity.searchIvfPqIndex(spark, dir,
        vs.filter(col("vec_id") === 1), "vec_id", "embedding",
        k = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tombstoned = hits()
    assert(!tombstoned.exists(_._2 == 2L), tombstoned) // deleted id gone
    Similarity.compactIvfIndex(spark, dir)
    assert(!graft.operators.StoreFs.exists(spark, s"$dir/tombstones"))
    assert(hits() == tombstoned) // compaction changes no answer
  }

  test("pqBalancedPerm snake-assigns one dim per variance stratum") {
    // dim d's values are {0, d/10} → variance rank = dim index desc
    // (higher d, higher spread); 4 dims, m=2: ranked = [3,2,1,0], snake
    // rounds: r0→s0, r1→s1 (round 0), r2→s1, r3→s0 (round 1 reversed)
    val vs = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.1f, 0.2f, 0.3f, 0.4f)),
    ).toDF("vec_id", "embedding")
    val perm = Similarity.pqBalancedPerm(vs, "embedding", m = 2)
    // perm(s*sub + round): s0 gets ranks 0,3 → dims 3,0; s1 gets 1,2 → 2,1
    assert(perm == Seq(3, 0, 2, 1), perm.toString)
    // each subspace holds one of the two highest-variance dims
    assert(Set(perm(0), perm(1)).intersect(Set(3, 2)).size == 1 ||
      Set(perm(0), perm(1)) == Set(3, 0))
  }

  test("pqDupGroups: verified transitive chain collapses to the group min") {
    // centStep=3 + ksub=2 → codebook = ids 0 and 3, an ORTHOGONAL pair,
    // so codes are clean: 0/1/2 land in word 0; 3 and 4 land in word 17
    // (−v0 scores nearer c1 in both subspaces). The 3↔4 candidacy is the
    // quantizer nominating a cosine-0 pair — the verify stage must
    // reject it; the 0~1~2 chain verifies pairwise (cos ≥ 0.97).
    val vs = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.9f, 0.1f)),
      (2L, Array(0.8f, 0.2f, 0.8f, 0.2f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 1.0f)),
      (4L, Array(-1.0f, 0.0f, -1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.pqDupGroups(vs, "vec_id", "embedding",
        threshold = 0.9, m = 2, ksub = 2, centStep = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
  }
}

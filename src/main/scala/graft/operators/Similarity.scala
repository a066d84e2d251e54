package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PlanConstant

/** Similarity search over embedding columns (`array<float>`): brute-force
  * cosine top-k as the exact baseline, and a sign-random-projection LSH
  * bucketed variant as the scale path.
  *
  * Scale notes (the 100 TB contract):
  *  - [[knnBrute]] broadcasts the (small) query set and streams the corpus
  *    once — a broadcast nested-loop join with NO shuffle of the corpus;
  *    per-query top-k is a `row_number` window over only query-id partitions
  *    (cardinality = #queries, not corpus size). This is the right plan even
  *    at 100 TB *when the query set is small*; it is linear in corpus size.
  *  - [[annBuckets]] reduces each vector to a b-bit sign signature against
  *    fixed hyperplanes; candidate generation becomes an equi-join on the
  *    bucket id — sublinear work per query at the cost of recall. Multi-probe (the
  *    `probes` knob on [[annTopK]]: also search Hamming-1-neighbor buckets)
  *    buys recall back without rescanning or re-indexing the corpus.
  *
  * All arithmetic is done in DOUBLE (inputs cast up from float) with
  * left-to-right array folds, so the DuckDB oracle — same cast, same fold —
  * reproduces results bit-for-bit. Hyperplanes are derived from md5, not an
  * RNG, for the same reason.
  */
object Similarity {

  /** Dot product of two `array<double>` columns — a sequential left fold
    * (`aggregate`), bit-reproducible by the oracle's `list_dot_product`.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity in double precision, composed from built-ins. Kept as
    * the reference implementation; the operators below use the fused native
    * expression [[graft.functions.CosineSim]], which computes the identical
    * left-to-right double sums in one codegen'd array pass (tested equal).
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** The codegen'd cosine ([[graft.functions.CosineSim]]); requires
    * `CosineSim.ensureRegistered(spark)`, which each operator below does.
    */
  def cosineFast(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Exact top-k cosine neighbors of each query vector. The query side is
    * broadcast (it must be small — this is the baseline/verification
    * operator); the corpus is scanned once. Self-pairs excluded. Output:
    * (query_id, neighbor_id, cos rounded to 4dp), deterministic order.
    *
    * Ranking is TWO-STAGE so no task ever holds a query's full candidate
    * set: a first `row_number` over (query_id, scan-partition id) keeps k
    * per partition — cutting the candidate stream from |corpus| rows per
    * query to #partitions × k — and only those survivors reach the final
    * per-query window. Top-k of the union of per-partition top-k's is the
    * global top-k (any row with global rank ≤ k has partition rank ≤ k),
    * and the order key (cos desc, neighbor_id asc) is total, so the result
    * is deterministic and identical to the single-window form.
    */
  def knnBrute(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.functions.CosineSim.ensureRegistered(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
    val wPart = Window.partitionBy("query_id", "scan_pid")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineFast(col("qv"), col("cv")))
      .withColumn("scan_pid", spark_partition_id())
      .withColumn("prk", row_number().over(wPart))
      .filter(col("prk") <= k)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** Deterministic ±1 hyperplanes: plane p, dimension d weighs
    * +1 iff the first hex digit of md5("<p>_<d>") is odd — the same rule the
    * oracle evaluates with SQL `md5`, so Spark and DuckDB agree on every
    * plane without sharing an RNG.
    */
  def hyperplanes(planes: Int, dim: Int): Array[Array[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dim) { (p, d) =>
      val hex = md.digest(s"${p}_$d".getBytes(StandardCharsets.UTF_8))
        .take(1).map(b => f"$b%02x").mkString
      if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 1) 1.0 else -1.0
    }
  }

  /** All plane dot products of one vector in one codegen'd pass
    * ([[graft.functions.MatVecDots]]): the planes ride as ONE `typedLit`
    * matrix literal, not per-plane literal arrays, and each element is the
    * same left-to-right double sum (divided by `scale` after the sum) the
    * composable `dot(…) / lit(scale)` form produced — bit-identical, so
    * the oracle gates cannot move. Requires
    * `GraftExtensions.ensureRegistered(spark, "graft_matvec_dots")`, which
    * the operators below do.
    */
  def planeDots(vec: Column, planes: Array[Array[Double]], scale: Double): Column =
    call_function("graft_matvec_dots", vec,
      typedLit(planes.map(_.toSeq).toSeq), lit(scale))

  /** b-bit sign-random-projection bucket id: bit p is set iff
    * dot(plane_p, v) > 0. Signs are decided on exact double dot products, so
    * both engines compute identical buckets. The p dot products come from
    * one [[planeDots]] pass (codegen subexpression elimination shares it
    * across the p bit tests); a null vector yields all-null dots, every
    * `when` falls to 0, bucket 0 — the composable form's behavior.
    */
  def signBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val dots = planeDots(vec, planes, 1.0)
    planes.indices.map { p =>
      when(element_at(dots, p + 1) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Johnson–Lindenstrauss random projection to `outDims` dimensions with
    * the deterministic ±1 plane family of [[hyperplanes]] (an Achlioptas
    * sign matrix — a valid JL transform): component p of the output is
    * dot(v, plane_p) / √outDims. The cheap dimensionality-reduction step
    * before indexing or clustering a 100 TB embedding column: map-side
    * only, zero shuffle, one codegen'd [[planeDots]] pass per row, and
    * deterministic across engines (±1 weights from md5, exact double dot
    * products — no RNG to share).
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    outDims: Int, dim: Int = 64): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(df.sparkSession, "graft_matvec_dots")
    val hp = hyperplanes(outDims, dim)
    val scale = math.sqrt(outDims.toDouble)
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .select(col("id"), planeDots(col("v"), hp, scale).as("proj"))
  }

  /** Corpus with an LSH bucket column attached (vectors cast to double). */
  def annBuckets(df: DataFrame, idCol: String, vecCol: String,
                 planes: Int = 8, dim: Int = 64): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(df.sparkSession, "graft_matvec_dots")
    val hp = hyperplanes(planes, dim)
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", signBucket(col("v"), hp))
  }

  /** Embedding-cosine near-dup join over the WHOLE corpus: bucket every
    * vector with sign-LSH, self-equi-join on the bucket (SHUFFLE_HASH — the
    * bucket key is near-uniform by construction), verify candidates with
    * exact cosine. The all-pairs problem becomes |bucket|²-bounded work per
    * bucket: the embedding flavor of MinHash-LSH dedup, with the same
    * recall-for-scale trade (only same-bucket near-dups are found).
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, planes: Int = 8, dim: Int = 64): DataFrame = {
    graft.functions.CosineSim.ensureRegistered(df.sparkSession)
    val b = annBuckets(df, idCol, vecCol, planes, dim)
    b.as("a")
      .join(b.as("b").hint("SHUFFLE_HASH"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos", cosineFast(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        round(col("cos"), 4).as("cos"))
  }

  /** IVF-style coarse quantizer: centroids are the vectors whose id is a
    * multiple of `centStep` (a deterministic sample — a trained k-means
    * codebook would slot in identically), collected to the driver (the
    * codebook is a model: tiny, broadcast by value). Each corpus vector is
    * assigned MAP-SIDE to its highest-cosine centroid, so assignment adds
    * NO shuffle of the corpus.
    *
    * The codebook is shipped as DATA, not syntax: ONE matrix carried by
    * reference ([[graft.functions.PlanConstant]] — a single expression
    * node holding an `ArrayData`, printed as its name and shape) consumed
    * by the codegen'd
    * [[graft.functions.ArgMaxCosine]] vec×matrix argmax — so the plan is
    * O(1) in the number of centroids and stays whole-stage-codegen'd at the
    * documented `maxCentroids = 4096` cap (the earlier per-centroid
    * literal-expression form was ~262k plan nodes at that cap, past Janino
    * limits). Tie-break is unchanged: first-max, toward the lower centroid
    * index; the cell-id lookup (`get`) is 0-based on a second one-node
    * id array.
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                centroids: Seq[(Long, Array[Double])]): DataFrame = {
    require(centroids.nonEmpty, "ivfAssign needs at least one centroid")
    graft.functions.GraftExtensions.ensureRegistered(df.sparkSession, "graft_argmax_cosine")
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val codebook = PlanConstant.matrix("ivf_codebook", centroids.map(_._2))
    val cellIds = PlanConstant.longs("ivf_cells", centroids.map(_._1).toArray)
    v.withColumn("cell",
        get(cellIds, call_function("graft_argmax_cosine", col("v"), codebook)))
      .select(col("id"), col("v"), col("cell"))
  }

  /** The deterministic codebook: every `centStep`-th vector, CAPPED at
    * `maxCentroids` (lowest ids win — `orderBy` + `limit` plans as
    * TakeOrderedAndProject, so only the cap ever reaches the driver). The
    * cap is what keeps the codebook a *model*: driver memory and the
    * per-row assignment cost are bounded by `maxCentroids · dim` no matter
    * how large the corpus grows — without it a 100× corpus would collect
    * 100× more vectors. Throws on an empty codebook (no id divisible by
    * `centStep`) rather than silently assigning every vector a null cell.
    */
  def sampleCentroids(df: DataFrame, idCol: String, vecCol: String,
                      centStep: Int, maxCentroids: Int = 4096): Seq[(Long, Array[Double])] = {
    val cents = df.filter(col(idCol) % centStep === 0)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).cast("array<double>"))
      .orderBy("cid")
      .limit(maxCentroids)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .toSeq
    require(cents.nonEmpty,
      s"IVF codebook is empty: no $idCol divisible by $centStep — " +
        "lower centStep or check the id column")
    cents
  }

  /** The √n centroid POLICY: `centStep = ⌈√n⌉`, giving a ≈√n-cell codebook
    * (until [[sampleCentroids]]' `maxCentroids` cap takes over at
    * n > cap², keeping the codebook a bounded model). This is the measured
    * answer to the fixed-`centStep` scale hazard (SCALE.md): a constant
    * step grows the codebook LINEARLY with the corpus, so per-row
    * assignment FLOPs grow ~n and total assignment ~n² — the only
    * superlinear family in the 10× bench. At ⌈√n⌉ the codebook and the
    * expected cell population both track √n — the classical IVF balance
    * point that minimizes probe cost (codebook scan + one cell's rows) —
    * and per-row assignment cost grows only √n until the cap flattens it.
    *
    * One `count()` decides the step — the cheapest possible corpus action
    * (no columns read), same bounded-driver-scalar discipline as every
    * other collect site. `⌈√n⌉` is computed identically by Spark and the
    * oracle (IEEE double sqrt/ceil of an exact long), so the policy itself
    * sits under the q93 gate.
    */
  def sqrtCentStep(df: DataFrame, idCol: String): Int = {
    val n = df.count()
    require(n > 0, "sqrtCentStep needs a non-empty corpus")
    math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
  }

  /** [[ivfTopK]] under the [[sqrtCentStep]] policy — the form to reach for
    * when the corpus size is not known in advance (i.e. always, in a
    * pipeline): the codebook tracks √n instead of silently degenerating
    * toward brute force (step too small) or one mega-cell (step too
    * large) as the corpus grows.
    */
  def ivfTopKAdaptive(corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int, nprobe: Int,
                      maxCentroids: Int = 4096): DataFrame =
    ivfTopK(corpus, queries, idCol, vecCol, k, nprobe,
      centStep = sqrtCentStep(corpus, idCol), maxCentroids = maxCentroids)

  /** IVF cell-occupancy report — the embedding-space DIVERSITY and
    * cluster-balance measurement: per cell, its population, exact ppm
    * share, and its entropy contribution `round(c·ln(n/c)·10⁶)` in
    * integer micro-nats (summing `h_micro/10⁶/n` over cells gives the
    * occupancy entropy H = Σ (c/n)·ln(n/c) — maximal when the corpus
    * spreads evenly over cells, 0 when one cell holds everything). This
    * is the number behind two knobs the engine already exposes: codebook
    * sizing (a skewed occupancy says grow the codebook — [[sqrtCentStep]])
    * and cluster-balanced sampling (q54 caps exactly the hot cells this
    * report ranks). The [[graft.operators.Relational.skewReport]] idea
    * applied to embedding space.
    *
    * Scale: map-side assignment (broadcast codebook), ONE bounded-key
    * aggregate (≤ maxCentroids rows), a broadcast 1-row total; the
    * per-term micro-nat rounding before the integer sum is the
    * [[TextAnalysis.tokenDivergence]] cross-engine determinism device.
    */
  def cellOccupancy(df: DataFrame, idCol: String, vecCol: String,
                    centStep: Int, maxCentroids: Int = 4096): DataFrame = {
    val assigned = ivfAssign(df, idCol, vecCol,
      sampleCentroids(df, idCol, vecCol, centStep, maxCentroids))
    val counts = CacheScope.persisted(
      assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs")))
    val total = broadcast(counts.agg(sum("n_vecs").cast("long").as("n")))
    counts.crossJoin(total)
      .select(col("cell"), col("n_vecs").cast("long").as("n_vecs"),
        expr("(n_vecs * 1000000) div n").as("share_ppm"),
        round(col("n_vecs") * log(col("n") * lit(1.0) / col("n_vecs")) * 1e6)
          .cast("long").as("h_micro"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023: cluster the
    * embedding space, then drop near-identical members within each
    * cluster): vectors are assigned MAP-SIDE to their IVF cell
    * ([[ivfAssign]] over the deterministic [[sampleCentroids]] codebook),
    * and within each cell a vector is a semantic duplicate when some
    * LOWER-id member has cosine ≥ `threshold` — the greedy
    * keep-the-earliest rule, deterministic without an RNG or an iterative
    * clustering fit. Returns the duplicates: (vec_id, dup_of, cos) where
    * `dup_of` is the SMALLEST qualifying lower id (and `cos` the similarity
    * to that representative). Note the rule compares against ALL lower-id
    * members, kept or dropped — so a near-dup CHAIN (a~b, b~c, a≁c) drops
    * both b and c. That is the aggressive end of the SemDeDup family
    * (dedup never under-removes); compare-against-kept-only would need a
    * sequential pass per cell.
    *
    * Scale shape: the codebook is a bounded model (≤ maxCentroids,
    * broadcast); assignment adds no shuffle; the only shuffle is the
    * within-cell self-equi-join on the cell id, |cell|²-bounded per cell —
    * never corpus². Cell population concentrates where the data does; a
    * pathological mega-cell is handled upstream by growing the codebook
    * (more centroids ⇒ smaller cells), which this API exposes directly.
    * The per-duplicate arg-min window partitions on vec_id (unique), so it
    * introduces no skew.
    */
  def semanticDupes(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, centStep: Int = 25,
                    maxCentroids: Int = 4096): DataFrame = {
    graft.functions.CosineSim.ensureRegistered(df.sparkSession)
    val cents = sampleCentroids(df, idCol, vecCol, centStep, maxCentroids)
    val assigned = ivfAssign(df, idCol, vecCol, cents)
    val w = Window.partitionBy("vec_id").orderBy(col("dup_of").asc)
    assigned.as("a")
      .join(assigned.as("b").hint("SHUFFLE_HASH"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .withColumn("cos", cosineFast(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("b.id").as("vec_id"), col("a.id").as("dup_of"), col("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("dup_of"), round(col("cos"), 4).as("cos"))
  }

  /** Apply [[semanticDupes]]: the corpus with semantic duplicates removed
    * (anti-join on the unique vec_id — skew-free). The keep-the-earliest
    * rule means the survivors are exactly the greedy representatives.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, centStep: Int = 25,
                    maxCentroids: Int = 4096): DataFrame = {
    val dupes = semanticDupes(df, idCol, vecCol, threshold, centStep,
      maxCentroids).select(col("vec_id").as(idCol))
    df.join(dupes, Seq(idCol), "left_anti")
  }

  /** IVF top-k: probe the `nprobe` highest-cosine cells per query, rank
    * same-cell candidates by exact cosine. Corpus work: one map-side
    * assignment pass + an equi-join on the cell id — the inverted-file
    * shape, complementary to the sign-LSH variant ([[annTopK]]).
    */
  def ivfTopK(df: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nprobe: Int = 2, centStep: Int = 25,
              maxCentroids: Int = 4096): DataFrame = {
    graft.functions.CosineSim.ensureRegistered(df.sparkSession)
    val cents = sampleCentroids(df, idCol, vecCol, centStep, maxCentroids)
    val assigned = ivfAssign(df, idCol, vecCol, cents)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val probes = probeCells(q, cents, nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
    val wTop = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    assigned.select(col("id").as("neighbor_id"), col("v"), col("cell"))
      .join(broadcast(probes), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineFast(col("qv"), col("v")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** Persist an IVF index to disk — the "build once, query many" form of
    * [[ivfTopK]], which recomputes codebook + assignment on every call.
    * Layout: `dir/centroids` (one small parquet, ≤ maxCentroids rows) and
    * `dir/postings` PARTITIONED BY cell — the inverted file realized as
    * the physical directory layout, so a search ([[searchIvfIndex]],
    * pruned at run time by its probe broadcast) reads only the probed
    * cells' partitions and the corpus-sized remainder is never opened
    * (the q84 partition-per-version idea applied to ANN).
    *
    * Scale: the one-time build cost is [[ivfTopK]]'s assignment pass plus
    * a cluster-by-cell write (one exchange — the sort IS the product, the
    * q69 writeShuffled argument); every subsequent query pays only
    * centroid probing (broadcast codebook) + an `nprobe`-partition scan.
    */
  /** [[buildIvfIndex]] under the [[sqrtCentStep]] policy — the form a
    * pipeline should reach for: the BUILD is the one-time cost the index
    * exists to amortize, and a fixed `centStep` is exactly where the 10×
    * scaling runs measured superlinear growth (13.5× build at 10× data —
    * SCALE.md): constant step ⇒ codebook grows linearly with the corpus ⇒
    * per-row assignment FLOPs grow ~n. At ⌈√n⌉ the codebook and expected
    * cell population both track √n until the `maxCentroids` cap flattens
    * it — the same argument, and the same gated recipe (the oracle
    * recomputes ⌈√n⌉ from its own count), as [[ivfTopKAdaptive]].
    */
  /** KNOWN component schemas — r16 job diet, [[TextAnalysis]]'s `Comp`
    * treatment for the vector stores: a schema-less spark.read.parquet
    * pays one footer-sampling driver JOB per call, and these layouts are
    * pinned by this object's writers (model files by `toDF` of typed
    * tuples, tombstones by the delete's explicit casts). The postings'
    * data columns come from their footer — the id column keeps the
    * caller's type and the payload differs between the raw (vector) and
    * PQ (code-word) stores — and their `cell` partition is declared here.
    */
  private object Model {
    import org.apache.spark.sql.types._
    val centroids: StructType = StructType(Seq(
      StructField("cid", LongType),
      StructField("cv", ArrayType(DoubleType))))
    val centroidIdOnly: StructType =
      StructType(Seq(StructField("cid", LongType)))
    val pqCodebook: StructType = StructType(Seq(
      StructField("j", IntegerType),
      StructField("cv", ArrayType(DoubleType))))
    val pqMeta: StructType = StructType(Seq(
      StructField("m", IntegerType), StructField("ksub", IntegerType),
      StructField("dim", IntegerType)))
    val tombstones: StructType = StructType(Seq(
      StructField("id", LongType), StructField("cell", LongType)))
    /** The postings' footer `data` columns plus the `cell` partition,
      * typed as directory discovery types the cell ids.
      */
    def postings(data: StructType): StructType =
      data.add(StructField("cell", IntegerType))
  }

  /** The vector stores' [[Tombstones]] declaration: postings keyed by
    * cell, drained by id; the frozen codebooks are the model. IVF-PQ keeps
    * the same postings contract and differs only in its model files.
    */
  private[graft] val ivfIndex: Tombstones.Family = Tombstones.Family(
    "ivf", idCol = "id", keyCol = "cell", model = Seq("centroids"),
    components = Seq(
      Tombstones.Component("postings", "cell", Tombstones.DropById)))

  private[graft] val ivfPqIndex: Tombstones.Family = ivfIndex.copy(
    label = "ivfpq", model = Seq("centroids", "pq_codebook", "pq_meta"))

  /** A vector store opened for one [[Tombstones]] verb at its newest log
    * entry (IVF-PQ when it holds a PQ codebook).
    */
  private[graft] def ivfStore(sp: SparkSession,
                              root: String): Tombstones.Store = {
    val e = StoreSegments.latest(sp, root)
    if (e.has("pq_codebook"))
      new VectorStore(sp, root, e, Some(e), ivfPqIndex, Nil, {
        val (cents, full, m) = readIvfPqModel(sp, root, e)
        VecModel(cents, Some(full -> m))
      })
    else new VectorStore(sp, root, e, Some(e), ivfIndex, Nil,
      VecModel(ivfCentroids(sp, root, e), None))
  }

  /** The frozen model a batch is assigned (and PQ-encoded) against: the
    * IVF codebook, and a compressed store's PQ codebook and subspace count.
    */
  private final case class VecModel(cents: Seq[(Long, Array[Double])],
                                    pq: Option[(Seq[Array[Double]], Int)])

  /** A vector store at `entry` (a build's: empty, with `seed` its model
    * files). The postings are typed by their footer (raw and PQ payloads
    * differ), once per verb; the model is read on first use.
    */
  private final class VectorStore(val spark: SparkSession, val dir: String,
                                  val entry: StoreSegments.Entry,
                                  override val base: Option[StoreSegments.Entry],
                                  val family: Tombstones.Family,
                                  seed: Seq[(String, DataFrame)],
                                  readModel: => VecModel)
      extends Tombstones.Store {
    private lazy val model = readModel
    private lazy val postings =
      StoreSegments.readAt(spark, dir, entry, "postings", "cell")
    def tombSchema = Model.tombstones
    def read(name: String, key: String): DataFrame = postings

    /** The model files (a build's), then the batch's postings: (id, v)
      * or (id, code_word), cell-keyed.
      */
    def rows(batch: DataFrame, idCol: String,
             vecCol: String): Seq[(String, DataFrame)] = {
      val cents = model.cents
      val post = model.pq.fold(ivfAssign(batch, idCol, vecCol, cents)) {
        case (full, m) => ivfResiduals(batch, idCol, vecCol, cents)
          .select(col("id"), pqCodeWord(col("r"), full, m).as("code_word"),
            col("cell"))
      }
      seed.map { case (c, m) => c -> m.coalesce(1) } :+
        ("postings" -> clusterByCell(spark, post, cents.size))
    }

    /** postings → (id, cell), which are also the tombstone rows. */
    def resolve(ids: DataFrame, idCol: String,
                exclude: Option[DataFrame]): Option[Tombstones.Deletion] = {
      val del0 = ids.select(col(idCol).cast("long").as("id")).distinct()
      val del = exclude.fold(del0)(del0.join(_, Seq("id"), "left_anti"))
      val delPost = CacheScope.persisted(postings
        .join(broadcast(del), "id")
        .select(col("id"), col("cell").cast("long").as("cell")))
      Some(Tombstones.Deletion(ids = delPost.select("id"), touched = delPost,
        rows = delPost, negatives = Map.empty,
        materialize = () => !delPost.isEmpty))
    }
  }

  /** Commit a vector store over whatever `dir` held: the model files and
    * the batch's cell-keyed postings, as new segments named by ONE fresh
    * entry — no stale segment and no tombstone survives a rebuild (they
    * name ids of the store being replaced). The writes depend only on
    * driver-side codebooks, so they overlap (§2.6; r15).
    */
  private def buildVectorStore(df: DataFrame, idCol: String, vecCol: String,
                               dir: String, family: Tombstones.Family,
                               model: VecModel,
                               files: Seq[(String, DataFrame)]): Unit = {
    val sp = df.sparkSession
    Tombstones.build(new VectorStore(sp, dir,
      StoreSegments.Entry(0, 0, positions = false, Map.empty),
      StoreSegments.latestOpt(sp, dir), family, files, model),
      Tombstones.Batch(df, idCol, vecCol))
  }

  def buildIvfIndexAdaptive(df: DataFrame, idCol: String, vecCol: String,
                            dir: String, maxCentroids: Int = 4096): Unit =
    buildIvfIndex(df, idCol, vecCol, dir,
      centStep = sqrtCentStep(df, idCol), maxCentroids = maxCentroids)

  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                    dir: String, centStep: Int = 25,
                    maxCentroids: Int = 4096): Unit =
      Par.described(df.sparkSession, s"ivf build $dir") {
    val cents = sampleCentroids(df, idCol, vecCol, centStep, maxCentroids)
    val sp = df.sparkSession
    import sp.implicits._
    buildVectorStore(df, idCol, vecCol, dir, ivfIndex, VecModel(cents, None),
      // bounded by maxCentroids — one small model file
      Seq("centroids" ->
        cents.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cid", "cv")))
  }

  /** CLUSTER postings by cell before the partitioned write (the text
    * index's documented partitionBy discipline) with an EXPLICIT partition
    * count: the count-less repartition(col) form gets AQE-coalesced to ~2
    * partitions at the fixture, so one task still serially opens ~25
    * parquet writers (the per-file writer init is the cost, ~20ms each —
    * A/B-measured, r15). min(cells, parallelism) keeps every writer busy
    * with 1-2 files at any scale.
    */
  private def clusterByCell(sp: SparkSession, postings: DataFrame,
                            cells: Int): DataFrame =
    postings.repartition(math.min(cells, sp.sparkContext.defaultParallelism),
      col("cell"))

  /** INCREMENTAL index maintenance: assign a new `batch` to an EXISTING
    * [[buildIvfIndex]] index's centroids and append its postings — the
    * daily-ingest path. A 100 TB corpus with a daily crawl increment must
    * not rebuild its index per batch (the build scans the whole corpus);
    * appending costs one broadcast-codebook assignment over the BATCH
    * alone plus a partitioned parquet append that touches only the cells
    * the batch lands in. The codebook is deliberately FROZEN: queries stay
    * consistent (probe ranking unchanged), and the index's answer equals a
    * from-scratch assignment of corpus ∪ batch to the original centroids —
    * which is exactly what the q111 oracle recomputes. Codebook drift
    * (enough appends that √n centroids no longer fit the data) is a
    * rebuild decision, made from [[cellOccupancy]]'s evidence, not
    * silently inside the append.
    *
    * The centroid read is the same bounded driver scalar as everywhere
    * else (≤ `maxCentroids` rows by construction of the build), reused
    * across appends while the segment is the same ([[StoreFs.frozen]]).
    */
  def appendIvfIndex(spark: SparkSession, dir: String, batch: DataFrame,
                     idCol: String, vecCol: String): Unit =
    Tombstones.append(ivfStore(spark, dir),
      Tombstones.Batch(batch, idCol, vecCol))

  /** DELETION from a [[buildIvfIndex]] index — [[
    * graft.operators.TextAnalysis.deleteFromTextIndex]]'s contract for
    * the vector store (the reference's SDFS `delete`,
    * daemon/daemon.go:116-133): append the delete set as TOMBSTONES
    * (id, cell) — never a corpus rewrite — and [[searchIvfIndex]]
    * filters them out, so a deleted vector stops matching immediately.
    * The cell rides along so [[compactIvfIndex]] knows exactly which
    * cell partitions to rewrite. Centroids are untouched: the codebook
    * is the frozen model (same argument as [[appendIvfIndex]]); enough
    * deletion to warrant re-centering is a rebuild decision made from
    * [[cellOccupancy]] evidence. Absent or already-tombstoned ids are
    * no-ops. Cost: one postings scan filtered to the delete set. Gated:
    * q133 (≡ a from-scratch build over the survivors).
    */
  def deleteFromIvfIndex(spark: SparkSession, dir: String, ids: DataFrame,
                         idCol: String): Unit =
    Tombstones.delete(ivfStore(spark, dir), ids, idCol, drain = false)

  /** COMPACTION of a tombstoned [[buildIvfIndex]] index: rewrite ONLY
    * the cells the tombstones name and clear them; untouched cells' files
    * are never read. Answers are unchanged (gated: q134 ≡ q133).
    */
  def compactIvfIndex(spark: SparkSession, dir: String): Unit =
    Tombstones.compact(ivfStore(spark, dir))

  /** FUSED [[deleteFromIvfIndex]] + [[compactIvfIndex]] (the CDC-sync
    * path): the same end state with no tombstone ever written
    * ([[Tombstones]], `drain = true`).
    */
  def deleteAndCompactIvfIndex(spark: SparkSession, dir: String,
                               ids: DataFrame, idCol: String): Unit =
    Tombstones.delete(ivfStore(spark, dir), ids, idCol, drain = true)

  /** [[deleteAndCompactIvfIndex]] for the compressed store. */
  def deleteAndCompactIvfPqIndex(spark: SparkSession, dir: String,
                                 ids: DataFrame, idCol: String): Unit =
    deleteAndCompactIvfIndex(spark, dir, ids, idCol)

  /** VACUUM — the MAJOR compaction: drain tombstones and consolidate
    * every live postings segment into one ([[Tombstones.vacuum]]; each
    * segment is more files and more log entry to resolve). One commit;
    * one full postings rewrite, paid on operator decision.
    */
  def vacuumIvfIndex(spark: SparkSession, dir: String): Unit =
    Tombstones.vacuum(ivfStore(spark, dir))

  /** [[vacuumIvfIndex]] for the compressed store. */
  def vacuumIvfPqIndex(spark: SparkSession, dir: String): Unit =
    vacuumIvfIndex(spark, dir)

  /** INDEX INTEGRITY AUDIT — [[graft.operators.TextAnalysis
    * .textIndexAudit]]'s fsck contract for the vector store. One row:
    *
    *  - `n_vectors` — live postings (tombstones excluded);
    *  - `n_dup_ids` — ids with more than one live posting (MUST be 0:
    *    assignment puts each vector in exactly one cell, and neither
    *    append — NEW ids by contract — nor compaction may break that);
    *  - `n_centroids` / `n_cells_used` — codebook size vs cells holding
    *    live vectors (occupancy is [[cellOccupancy]]'s job; here the
    *    inventory);
    *  - `n_orphan_cells` — cells in the postings with no codebook row
    *    (MUST be 0; a crash between component writes surfaces here);
    *  - `n_tombstones` — compaction's queue.
    *
    * Gated (q149): after build + append + delete, every invariant holds
    * and the inventory equals the oracle's re-derivation (assignment
    * recomputed in SQL).
    */
  def ivfIndexAudit(spark: SparkSession, dir: String): DataFrame = {
    // a drain deletes the tombstones it drops at once: an audit that
    // resolved just before it resolves again
    val (e, tombIds) = StoreFs.retryTornReads() {
      val e = StoreSegments.latest(spark, dir)
      (e, StoreSegments.tombstoneIds(spark, dir, e, "id", Model.tombstones))
    }
    // postings feeds both the per-id inventory and the cell census of
    // the one returned plan — persist so the single audit action scans
    // the postings once (r15; release owned by the caller's clearCache /
    // withCaches scope, the CacheScope idiom)
    val postings = CacheScope.persisted(StoreFs.hideIds(
      StoreSegments.readAt(spark, dir, e, "postings", "cell"), "id", tombIds))
    val cents = StoreSegments.scan(spark, dir, e, "centroids", "",
      Model.centroidIdOnly)
    val perId = postings.groupBy("id").agg(count(lit(1)).as("n"))
    val inv = perId.agg(count(lit(1)).cast("long").as("n_ids"),
      coalesce(sum("n"), lit(0L)).cast("long").as("n_vectors"),
      coalesce(sum(when(col("n") > 1, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_dup_ids"))
    // ONE pass over the distinct cells yields both the used-cell count
    // and the orphan count (was an agg + a separate anti-join agg, r15):
    // a cell is an orphan iff the codebook outer join leaves cid null
    val cells = postings.select(col("cell").cast("long").as("cell")).distinct()
      .join(broadcast(cents), col("cell") === col("cid"), "left_outer")
      .agg(count(lit(1)).cast("long").as("n_cells_used"),
        coalesce(sum(when(col("cid").isNull, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("n_orphan_cells"))
    val nCents = cents.agg(count(lit(1)).cast("long").as("n_centroids"))
    inv.crossJoin(nCents).crossJoin(cells)
      .select(col("n_vectors"), col("n_dup_ids"), col("n_centroids"),
        col("n_cells_used"), col("n_orphan_cells"),
        lit(tombIds.size.toLong).as("n_tombstones"))
  }

  /** Query a [[buildIvfIndex]] index: same probe + rank semantics as
    * [[ivfTopK]] (bit-identical results by construction — gated), but the
    * corpus side is the on-disk postings list, read only in the probed
    * cells: the probe side's `pos < nprobe` cut ([[probeCells]]) lets
    * Spark's `PartitionPruning` rule reuse the probe broadcast as a
    * dynamic-pruning filter on the postings scan's `cell` partition, with
    * no extra job. Files read ∝ the distinct probed cells (≤ queries ×
    * nprobe) × the live segments holding them, not the corpus
    * (`CellPruningSpec` pins it by the scan's files-read metric).
    */
  def searchIvfIndex(spark: SparkSession, dir: String, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nprobe: Int = 2): DataFrame =
    searchIvfIndexImpl(spark, dir, queries, idCol, vecCol, None, k, nprobe)

  /** FILTERED vector search — [[searchIvfIndex]] under a metadata
    * predicate: top-k among only the vectors whose ids appear in
    * `allowed` (a one-column frame of eligible ids — the vector-store
    * "filtered ANN" every retrieval pipeline needs: search within one
    * source, one language, one license class). POST-filter semantics
    * applied PRE-rank: ineligible candidates are semi-joined out before
    * the top-k window, so k survivors are k ELIGIBLE survivors (a naive
    * filter-after-top-k returns fewer than k whenever the filter bites —
    * the classic filtered-ANN bug).
    *
    * Scale shape: the probe-pruned cell scan of [[searchIvfIndex]] (files
    * ∝ probed cells × live segments) is unchanged; the predicate
    * is one UNHINTED semi-join against the allowed-id set, applied AFTER
    * the probe-cell cut so only probed-cell candidates ever reach it. The
    * caller's eligibility set is unbounded by contract ("language = en"
    * selects half a corpus), so the join carries NO broadcast hint — AQE
    * sizes it: a genuinely small set still broadcasts under
    * autoBroadcastJoinThreshold; a billion-id set becomes a shuffle
    * semi-join on the uniform id key instead of a driver OOM. A selective
    * filter makes recall the caller's concern (fewer eligible candidates
    * per probed cell) — raise nprobe, same knob as always.
    */
  def searchIvfIndexFiltered(spark: SparkSession, dir: String,
                             queries: DataFrame, idCol: String,
                             vecCol: String, allowed: DataFrame,
                             k: Int, nprobe: Int = 2): DataFrame =
    searchIvfIndexImpl(spark, dir, queries, idCol, vecCol,
      Some(eligibleIds(allowed)), k, nprobe)

  /** A filtered search's one-column eligibility frame as distinct `id`s. */
  private def eligibleIds(allowed: DataFrame): DataFrame = {
    require(allowed.columns.length == 1,
      s"allowed must be a single-column frame of eligible ids; got " +
        s"${allowed.columns.length} columns (${allowed.columns.mkString(", ")})")
    allowed.select(allowed.columns.head).toDF("id").distinct()
  }

  /** `allow`: the eligible ids ([[eligibleIds]]), None for every id. */
  private def searchIvfIndexImpl(spark: SparkSession, dir: String,
                                 queries: DataFrame, idCol: String,
                                 vecCol: String, allow: Option[DataFrame],
                                 k: Int, nprobe: Int): DataFrame = {
    graft.functions.CosineSim.ensureRegistered(spark)
    StoreFs.retryTornReads() {
      val e = StoreSegments.latest(spark, dir)
      val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      val probes = probeCells(q, ivfCentroids(spark, dir, e), nprobe)
        .select(col("query_id"), col("qv"), col("cell"))
      // tombstoned vectors are invisible to search (livePostings' filter —
      // tombstones stay delete-batch-sized because compactIvfIndex drains
      // them into physical cell rewrites)
      val probed = livePostings(spark, dir, e)
        .select(col("id").as("neighbor_id"), col("v"), col("cell"))
        .join(broadcast(probes), "cell")
      // eligibility AFTER the cell cut (semantics identical — both are
      // pre-rank filters), no broadcast hint: AQE picks by actual size
      val eligible = allow.fold(probed)(a => probed.join(
        a.select(col("id").as("neighbor_id")), Seq("neighbor_id"),
        "left_semi"))
      val wTop = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      eligible
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", cosineFast(col("qv"), col("v")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos"))
    }
  }

  /** A search's live postings of a vector store at `e`:
    * [[StoreSegments.live]] with the `cell` partition declared
    * ([[Model.postings]]) and the data columns typed by one footer.
    */
  private def livePostings(spark: SparkSession, dir: String,
                           e: StoreSegments.Entry): DataFrame =
    StoreSegments.live(spark, dir, e, "postings", "cell", "id",
      declare = Model.postings, tombSchema = _ => Model.tombstones)

  /** The IVF codebook at `e`, reused while its segment is the same
    * ([[StoreFs.frozen]]).
    */
  private def ivfCentroids(spark: SparkSession, dir: String,
                           e: StoreSegments.Entry): Seq[(Long, Array[Double])] =
    StoreFs.frozen("ivf centroids", dir +: e.ids(ivfIndex.model: _*))(
      centroidRows(spark, dir, e))

  /** Each query's `nprobe` best cells, picked in ONE projection over the
    * codebook carried by reference ([[graft.functions.PlanConstant]],
    * ≤ maxCentroids·dim doubles, printed as its name and shape): every
    * centroid's cosine, sorted by (cosine desc, cid asc) — the order a
    * per-query probe window ranks by, nulls last — then exploded with its
    * rank and cut at `pos < nprobe`. No broadcast of the codebook and no
    * shuffle by query. The cut is a Filter on purpose: Spark's
    * `PartitionPruning` rule prunes a partitioned scan joined on its
    * partition column only when the other side holds a selective
    * predicate, and with it a store search's broadcast of these rows
    * doubles as the dynamic-pruning filter of the `cell=` scan
    * (`explode(slice(…))`, the same rows, left the scan unpruned).
    * `q` carries (query_id, qv); output: (query_id, qv, cell, cv).
    */
  private def probeCells(q: DataFrame, cents: Seq[(Long, Array[Double])],
                         nprobe: Int): DataFrame = {
    val book = PlanConstant.keyedRows("ivf_codebook", cents)
    val ranked = sort_array(transform(book, c => struct(
      cosineFast(col("qv"), c("_2")).as("pcos"), (-c("_1")).as("ncid"),
      c("_1").as("cid"), c("_2").as("cv"))), asc = false)
    q.select(col("query_id"), col("qv"),
        posexplode(ranked).as(Seq("pos", "p")))
      .filter(col("pos") < nprobe)
      .select(col("query_id"), col("qv"), col("p.cid").as("cell"),
        col("p.cv").as("cv"))
  }

  /** Embedding OUTLIER report — the embedding-space QUALITY signal: a
    * vector far from every centroid is a corrupt embedding, an
    * out-of-distribution document, or a mislabeled modality, and a
    * curation pass wants them surfaced before they seed duplicate groups
    * or poison a codebook refinement. Per vector: its best-cell cosine in
    * exact micro units (floor — the float-fold rule), ranked ascending;
    * the `bottomK` least-typical vectors are returned with their cell.
    * Output: (vec_id, cell, cos_micro, rank_asc), deterministic total
    * order (cos_micro asc, vec_id asc).
    *
    * Scale shape: the q20 assignment pass (map-side argmax against the
    * broadcast codebook), then ONE TakeOrdered of bottomK rows — no new
    * shuffle family; the report is codebook-quality evidence feeding the
    * same rebuild decision as [[cellOccupancy]].
    */
  def embeddingOutliers(df: DataFrame, idCol: String, vecCol: String,
                        bottomK: Int, centStep: Int = 25,
                        maxCentroids: Int = 4096): DataFrame = {
    graft.functions.CosineSim.ensureRegistered(df.sparkSession)
    val cents = sampleCentroids(df, idCol, vecCol, centStep, maxCentroids)
    val scored = ivfAssignWithCos(df, idCol, vecCol, cents)
      .select(col("id").as("vec_id"), col("cell"),
        floor(col("acos") * lit(1e6)).cast("long").as("cos_micro"))
    // two-stage bottom-k (knnBrute's device): per-scan-partition pre-cut
    // keeps ≤ bottomK rows per task, so the single global window only
    // ever sees #partitions·bottomK rows — never the corpus
    val wPart = Window.partitionBy("scan_pid")
      .orderBy(col("cos_micro").asc, col("vec_id").asc)
    val w = Window.orderBy(col("cos_micro").asc, col("vec_id").asc)
    scored.withColumn("scan_pid", spark_partition_id())
      .withColumn("prk", row_number().over(wPart))
      .filter(col("prk") <= bottomK)
      .withColumn("rank_asc", row_number().over(w).cast("long"))
      .filter(col("rank_asc") <= bottomK)
      .select(col("vec_id"), col("cell"), col("cos_micro"), col("rank_asc"))
  }

  /** [[ivfAssign]] that also carries the winning cosine (`acos`). */
  private def ivfAssignWithCos(df: DataFrame, idCol: String, vecCol: String,
                               cents: Seq[(Long, Array[Double])]): DataFrame = {
    val sp = df.sparkSession
    val centDf = {
      import sp.implicits._
      cents.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cid", "cv")
    }
    val w = Window.partitionBy("id").orderBy(col("c").desc, col("cid").asc)
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .crossJoin(broadcast(centDf))
      .withColumn("c", cosineFast(col("v"), col("cv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("id"), col("v"), col("cid").as("cell"), col("c").as("acos"))
  }

  /** Element-wise mean pooling of an embedding column per group — the
    * class-centroid / chunk-to-document pooling step. Emitted LONG, not
    * float: each component is fixed-pointed to integer micro-units
    * map-side (`round(v·1e6)`), summed EXACTLY per (group, dim), and
    * divided by the exact member count at the end — so the pooled vector
    * is independent of partial-aggregation order (a plain float mean is
    * not: Spark's partial sums fold in partition order, which changes
    * under repartitioning). Output: (group, dim_idx, mean_val, n).
    *
    * Scale shape: posexplode fans each row to `dim` rows map-side, then
    * ONE hash aggregate on (group, dim) — keys bounded by groups × dim,
    * partial aggregation (map-side combine) collapses the fan-out before
    * the shuffle, so shuffled volume is ≤ partitions × groups × dim
    * regardless of corpus size.
    */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim_idx", "v")))
      .withColumn("micro", round(col("v") * 1e6).cast("long"))
      .groupBy(col(groupCol), col("dim_idx"))
      .agg(sum("micro").as("s"), count(lit(1)).as("n"))
      // the mean stays INTEGER micro-units to the very end: s/n lands on
      // exact decimal halves whenever 2s ≡ n (mod 2n), and `round(double)`
      // at a half boundary is engine-divergent (Spark rounds the shortest
      // decimal rendering, IEEE engines round the binary double). The
      // half-away-from-zero integer formula below has no such boundary,
      // and mean_val derives from it by ONE exact division — no rounding.
      .withColumn("mean_micro",
        expr("(2 * abs(s) + n) div (2 * n)")
          * when(col("s") < 0, lit(-1L)).otherwise(lit(1L)))
      .select(col(groupCol), col("dim_idx").cast("long").as("dim_idx"),
        (col("mean_micro") / 1e6).as("mean_val"), col("mean_micro"), col("n"))

  /** One distributed Lloyd (k-means) iteration: assign every vector to its
    * highest-cosine centroid ([[ivfAssign]] over the deterministic
    * [[sampleCentroids]] codebook — or any codebook produced by a previous
    * step), then recompute each cell's centroid as the exact fixed-point
    * [[meanPool]] of its members. Deterministic end-to-end (no RNG, no
    * float-fold order), so iterations are reproducible across engines —
    * the clustering primitive behind cluster-balanced sampling and
    * SemDeDup-style curation. Returns (cell, dim_idx, mean_val, n).
    *
    * Scale shape: assignment is map-side (broadcast codebook), the update
    * is [[meanPool]]'s single bounded-key aggregate — one shuffle per
    * iteration, centroids per iteration capped by `maxCentroids`.
    */
  def kmeansStep(df: DataFrame, idCol: String, vecCol: String,
                 centStep: Int = 25, maxCentroids: Int = 4096): DataFrame = {
    val cents = sampleCentroids(df, idCol, vecCol, centStep, maxCentroids)
    val assigned = ivfAssign(df, idCol, vecCol, cents)
    meanPool(assigned.select(col("cell"), col("v")), "cell", "v")
  }

  /** Refined k-means codebook: up to `iters` Lloyd iterations starting
    * from the deterministic [[sampleCentroids]] codebook. Each iteration
    * is one [[kmeansStep]] aggregate; the (≤ maxCentroids × dim)
    * fixed-point means are collected to the driver — the codebook is a
    * MODEL, the same bounded collect [[sampleCentroids]] already performs
    * — and become the next iteration's centroids. Cells that lose all
    * members drop out (standard Lloyd). Deterministic end-to-end, so two
    * engines (or two runs) refine to identical codebooks.
    *
    * Early-stop: iteration halts when the codebook stops moving — max
    * component shift ≤ `tol` over the same cell set. The default
    * `tol = 0.0` stops only at an EXACT fixed point, which is
    * result-identical to running all `iters` iterations (an unchanged
    * codebook reproduces the same assignment, hence the same means, ad
    * infinitum — the fixed-point arithmetic makes exact equality
    * attainable, unlike float-fold means). A positive `tol` is an explicit
    * approximation knob for large corpora.
    *
    * Scale: ≤ `iters` × (one map-side assignment pass + one bounded-key
    * shuffle). Each iteration builds a fresh SMALL plan from `df` (the
    * codebook is one literal node, not 262k — see [[ivfAssign]]), so
    * per-iteration planning cost is flat in `iters`; the driver never
    * holds more than the codebook.
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, iters: Int,
             centStep: Int = 25, maxCentroids: Int = 4096,
             tol: Double = 0.0): Seq[(Long, Array[Double])] = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(tol >= 0.0, s"tol must be >= 0: $tol")
    var codebook = sampleCentroids(df, idCol, vecCol, centStep, maxCentroids)
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val assigned = ivfAssign(df, idCol, vecCol, codebook)
      val next = meanPool(assigned.select(col("cell"), col("v")), "cell", "v")
        .groupBy("cell")
        .agg(sort_array(collect_list(struct(col("dim_idx"), col("mean_val"))))
          .as("dims"))
        .select(col("cell"), col("dims.mean_val").as("cv"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
        .toSeq
      converged = next.map(_._1) == codebook.map(_._1) &&
        next.zip(codebook).forall { case ((_, a), (_, b)) =>
          a.length == b.length &&
            a.zip(b).forall { case (x, y) => math.abs(x - y) <= tol }
        }
      codebook = next
      it += 1
    }
    codebook
  }

  /** The [[kmeans]] LOOP's gate surface: the full per-(cell, dim) mean
    * frame after the `iters`-th Lloyd iteration — iterations 1..iters-1
    * run through [[kmeans]] (codebook carried as the bounded driver
    * model), the final step re-emitted as a DataFrame in [[kmeansStep]]'s
    * exact shape. q53 gates ONE step; q117 puts the ITERATION itself —
    * collect-refine-reassign, the part a distributed k-means can get
    * wrong — under the oracle hash, with the second round's centroids
    * re-derived arithmetically from the first round's fixed-point means.
    */
  def kmeansIterReport(df: DataFrame, idCol: String, vecCol: String,
                       iters: Int, centStep: Int = 25,
                       maxCentroids: Int = 4096): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val codebook = kmeans(df, idCol, vecCol, iters - 1, centStep, maxCentroids)
    meanPool(ivfAssign(df, idCol, vecCol, codebook)
      .select(col("cell"), col("v")), "cell", "v")
  }

  /** [[kmeansIterReport]] under the [[sqrtCentStep]] POLICY — the form a
    * pipeline actually runs (the fixed-step form is the regression
    * anchor, same division of labor as [[ivfTopK]]/[[ivfTopKAdaptive]]
    * and [[buildIvfIndex]]/[[buildIvfIndexAdaptive]]). This closes the
    * last fixed-step family: the Lloyd LOOP itself —
    * collect-refine-reassign across `iters` rounds — now runs gated with
    * the ⌈√n⌉ seed codebook the oracle re-derives from its own count, so
    * assignment FLOPs track n·√n instead of n·(n/step) as the corpus
    * grows.
    */
  def kmeansIterReportAdaptive(df: DataFrame, idCol: String, vecCol: String,
                               iters: Int,
                               maxCentroids: Int = 4096): DataFrame =
    kmeansIterReport(df, idCol, vecCol, iters,
      centStep = sqrtCentStep(df, idCol), maxCentroids = maxCentroids)

  /** LSH-accelerated top-k: candidates are same-bucket vectors only
    * (equi-join on bucket — never a cross join), ranked by exact cosine.
    * Lower recall than [[knnBrute]] by construction; that trade is the
    * point, and `probes` is the recall knob: with `probes = p > 0` each
    * query ALSO searches the p Hamming-nearest buckets (signature with one
    * bit flipped, lowest planes first) — the standard multi-probe LSH
    * recovery, p+1× the candidate work for strictly-no-worse recall,
    * without touching the corpus-side index. A vector lives in exactly one
    * bucket, so probe fan-out never duplicates a candidate pair.
    *
    * Queries are bucketed from their OWN vectors (like [[knnBrute]] uses
    * the query frame's vectors) — the query frame does not need to be a
    * subset of the corpus. The final window's input is bounded by bucket
    * size (×probes), so no partial top-k stage is needed here.
    */
  def annTopK(df: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, planes: Int = 8, dim: Int = 64, probes: Int = 0): DataFrame = {
    graft.functions.CosineSim.ensureRegistered(df.sparkSession)
    require(probes >= 0 && probes <= planes, s"probes must be in [0, $planes]")
    val all = annBuckets(df, idCol, vecCol, planes, dim)
    val qb = annBuckets(queries, idCol, vecCol, planes, dim)
      .select(col("id").as("query_id"), col("v").as("qv"), col("bucket"))
    val probeArr = array((0 to probes).map {
      case 0 => col("bucket")
      case p => col("bucket").bitwiseXOR(lit(1L << (p - 1)))
    }: _*)
    val q = qb.select(col("query_id"), col("qv"),
      explode(probeArr).as("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    all.select(col("id").as("neighbor_id"), col("v").as("cv"), col("bucket"))
      .join(q, "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineFast(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** ANN RECALL report — per-query recall of the LSH path ([[annTopK]])
    * against the exact baseline ([[knnBrute]]), the measurement a pipeline
    * makes BEFORE committing a 100 TB corpus to an approximate index:
    * recall is the one number that says whether the LSH plane/probe budget
    * is adequate, and it must come from the engine itself (a sampled
    * query set against the exact answer), not from faith in the sketch.
    *
    * Output: one row per query — (query_id, n_exact, n_approx, n_hit,
    * recall_ppm) where `n_hit = |approx top-k ∩ exact top-k|` and
    * `recall_ppm = n_hit·10⁶ div k` (exact integer ppm, no float drift).
    * Queries whose LSH bucket is empty still appear (zero rows would hide
    * exactly the failures the report exists to surface).
    *
    * Scale shape: the exact side is [[knnBrute]] — linear in corpus, run
    * over a SAMPLED query set (the operator's contract: callers pass a
    * bounded probe set, not the corpus); the approx side is the bucketed
    * join. Both end in per-query top-k frames of ≤ k rows, so the
    * intersection join and the count aggregates move #queries·k rows —
    * driver never collects anything.
    */
  def recallReport(corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, k: Int,
                   planes: Int = 8, dim: Int = 64, probes: Int = 0): DataFrame =
    recallAgainstBrute(corpus, queries, idCol, vecCol, k,
      annTopK(corpus, queries, idCol, vecCol, k, planes, dim, probes))

  /** [[recallReport]]'s arithmetic factored over ANY caller-supplied
    * approximate top-k frame carrying (query_id, neighbor_id) — the
    * recall audit is detector-agnostic, so every ANN family (sign-LSH,
    * IVF, PQ-ADC) measures against the same exact baseline the same way.
    */
  def recallAgainstBrute(corpus: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         approx0: DataFrame): DataFrame = {
    val exact = knnBrute(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = approx0.select(col("query_id"), col("neighbor_id"))
    val nExact = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
    val nApprox = approx.groupBy("query_id").agg(count(lit(1)).as("n_approx"))
    val nHit = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    queries.select(col(idCol).cast("long").as("query_id"))
      .join(nExact, Seq("query_id"), "left")
      .join(nApprox, Seq("query_id"), "left")
      .join(nHit, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_ppm",
        expr(s"CAST(n_hit * 1000000 DIV $k AS BIGINT)"))
  }

  /** Recall@k of the PQ-ADC ranking ([[pqTopK]]) against the exact
    * cosine baseline — the 4-bit budget's evidence, the way the q110
    * report justifies the plane budget: compression is only a win if
    * this report says the recall survives it. Quantifies the two
    * approximation sources at once (code-word granularity and the
    * ADC distance surrogate).
    */
  def pqRecallReport(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int, m: Int = 8,
                     ksub: Int = 16, centStep: Int = 25): DataFrame =
    recallAgainstBrute(corpus, queries, idCol, vecCol, k,
      pqTopK(corpus, queries, idCol, vecCol, k, m, ksub, centStep))

  /** SEMANTIC decontamination — the embedding-space sibling of the 13-gram
    * detector ([[Dedup.contaminatedDocs]]): a corpus item is flagged when
    * its cosine against ANY eval-set embedding reaches `threshold` —
    * catching the leakage n-grams can't (paraphrased eval questions,
    * translated benchmarks), which is how modern decontamination audits
    * actually run alongside the exact-match pass.
    *
    * Asymmetric like the gram detector: the EVAL side broadcasts (eval
    * suites are small), the corpus streams once map-side — a
    * BroadcastNestedLoopJoin, no corpus shuffle, cost linear in corpus ×
    * |eval|. Output per flagged corpus id: the hit count, the best
    * (highest-cosine, lowest-eval-id) match and its cosine.
    */
  def semanticContamination(corpus: DataFrame, evalSet: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    graft.functions.CosineSim.ensureRegistered(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("doc_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val e = evalSet.select(col(idCol).as("eval_id"),
      col(vecCol).cast("array<double>").as("ev"))
    c.join(broadcast(e), col("doc_id") =!= col("eval_id"))
      .withColumn("cos", cosineFast(col("cv"), col("ev")))
      .filter(col("cos") >= threshold)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        max(struct(col("cos"), (-col("eval_id")).as("neg_id"))).as("best"))
      .select(col("doc_id"), col("n_hits"),
        (-col("best.neg_id")).cast("long").as("best_eval_id"),
        round(col("best.cos"), 4).as("best_cos"))
  }

  /** Symmetric INT8 quantization of an embedding column — the 4× storage /
    * bandwidth cut an embedding store applies before similarity search at
    * 100 TB (the vectors, not the text, dominate an embedded corpus's
    * bytes). Per vector: `scale = max(|x|)/127`, `q_i = ⌊x_i/scale + 0.5⌋`
    * (round-half-up — `floor` is IEEE-exact in every engine, unlike
    * `round(double)`, whose half-boundary is engine-divergent; see
    * [[meanPool]]), stored as `array<tinyint>`. `|q_i| ≤ 127` holds by
    * construction: `|x_i| ≤ max|x|` means `x_i/scale` can exceed 127 only
    * by one ulp of rounding, far below the +0.5 needed to reach 128. A
    * zero vector (scale 0) quantizes to zeros rather than dividing by
    * zero.
    *
    * Map-side only, zero shuffle at any scale; the kernel is the
    * codegen'd `graft_quant8` expression (one fused pass building a
    * primitive byte[] — no HOF lambda dispatch; QuantizeSpec pins it
    * bit-identical to the composable [[quantizeInt8Composed]]). Output:
    * (id, v, scale, qvec); [[quantReport]] is the companion error audit.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.functions.Quant8Vec.ensureRegistered(df.sparkSession)
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("r", call_function("graft_quant8", col("v")))
      .select(col("id"), col("v"), col("r.scale").as("scale"),
        col("r.q").as("qvec"))
  }

  /** The composable (HOF) twin of [[quantizeInt8]] — the semantics
    * specification the fused `graft_quant8` kernel is property-tested
    * against.
    */
  private[graft] def quantizeInt8Composed(df: DataFrame, idCol: String,
                                          vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("scale",
        array_max(transform(col("v"), x => abs(x))) / lit(127.0))
      .withColumn("qvec",
        transform(col("v"), x =>
          when(col("scale") === lit(0.0), lit(0L))
            .otherwise(floor(x / col("scale") + lit(0.5))))
          .cast("array<tinyint>"))

  /** Reconstruction-error audit of [[quantizeInt8]]: per vector, the
    * quantized checksums (sum/min/max of q) and the dequantization error
    * `x_i − q_i·scale` in exact integer NANO-units (`⌊|err|·1e9 + 0.5⌋` —
    * the same engine-portable floor idiom), so the whole report is
    * hash-comparable across engines with no float folding anywhere.
    * `sse_nano` sums squared nano-errors: |err| ≤ scale/2, so for unit-ish
    * embeddings err_nano < 10⁷ and 4096 dims stay far under Long overflow.
    *
    * Map-side only (one row out per row in); what a pipeline monitors to
    * decide whether int8 is lossy enough to hurt downstream recall. The
    * kernel is the codegen'd `graft_quant8_report` expression — one fused
    * pass instead of three `CodegenFallback` HOF passes; QuantizeSpec pins
    * it bit-identical to the composable form ([[quantReportComposed]]) for
    * finite non-empty vectors (the operator's input contract; the kernel's
    * scaladoc pins the empty/NaN/overflow edge behaviors).
    */
  def quantReport(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.functions.Quant8Report.ensureRegistered(df.sparkSession)
    df.select(col(idCol).as("id"),
        call_function("graft_quant8_report",
          col(vecCol).cast("array<double>")).as("r"))
      .select(col("id"), col("r.n_dims").as("n_dims"),
        col("r.scale_nano").as("scale_nano"), col("r.q_sum").as("q_sum"),
        col("r.q_min").as("q_min"), col("r.q_max").as("q_max"),
        col("r.max_err_nano").as("max_err_nano"),
        col("r.sse_nano").as("sse_nano"))
  }

  /** The composable (HOF) twin of [[quantReport]] — the semantics
    * specification the fused kernel is property-tested against.
    */
  private[graft] def quantReportComposed(df: DataFrame, idCol: String,
                                         vecCol: String): DataFrame = {
    val errNano = (e: Column) => floor(abs(e) * lit(1e9) + lit(0.5))
    quantizeInt8Composed(df, idCol, vecCol)
      .withColumn("ql", col("qvec").cast("array<long>"))
      .withColumn("err",
        zip_with(col("v"), col("ql"), (x, q) =>
          when(col("scale") === lit(0.0), x)
            .otherwise(x - q * col("scale"))))
      .select(col("id"),
        size(col("v")).cast("long").as("n_dims"),
        floor(col("scale") * lit(1e9) + lit(0.5)).as("scale_nano"),
        aggregate(col("ql"), lit(0L), (acc, q) => acc + q).as("q_sum"),
        array_min(col("ql")).as("q_min"),
        array_max(col("ql")).as("q_max"),
        array_max(transform(col("err"), errNano)).as("max_err_nano"),
        aggregate(transform(col("err"), e => {
          val n = errNano(e); n * n
        }), lit(0L), (acc, x) => acc + x).as("sse_nano"))
  }

  /** Maximal Marginal Relevance (MMR) diversity rerank (Carbonell &
    * Goldstein, SIGIR 1998) — the classic
    * redundancy-aware selection for retrieval-augmented generation: from
    * the `nCandidates` highest-cosine candidates, greedily pick `k`
    * maximizing `λ·relevance − (1−λ)·max-similarity-to-already-picked`,
    * so near-duplicate hits cannot crowd the result list.
    *
    * Arithmetic is gate-exact: relevance and every pairwise similarity
    * floor to integer MICRO-units first (the identical IEEE double
    * sequence both engines produce), λ rides as integer percents, and the
    * greedy objective `lambdaPct·rel − (100−lambdaPct)·maxSim` is pure
    * 64-bit integer math with a total tie-break (score desc, id asc) —
    * the q183 oracle re-runs all `k` unrolled steps in SQL (q126's
    * unrolled-loop recipe) and must agree pick-for-pick.
    *
    * Scale shape: the candidate generation is [[knnBrute]]'s broadcast-
    * queries/one-corpus-scan plan — THAT is the part that touches 100 TB —
    * and the `nCandidates` cut is `orderBy(cos desc, id).limit(n)`, which
    * plans as `TakeOrderedAndProject` (an O(n) heap per scan partition,
    * partials merged on the driver), so NO task ever sorts more than its
    * own partition's rows and no single-partition window exists anywhere
    * in the plan (the key is total, so the heap cut is identical to the
    * global-sort cut — [[graft.operators.Relational.topK]]'s argument;
    * plan-asserted in SimilaritySpec). The greedy selection is inherently
    * sequential (pick t depends on picks 1..t−1), so it runs on the
    * driver over the CAPPED candidate list (`nCandidates ≤
    * MaxMmrCandidates` — the bounded-driver-scalar discipline of
    * [[sampleCentroids]]/canonicalIds), O(k·n) dot products over ≤ 4096
    * rows. First pick's empty-set max-similarity is 0, so one uniform
    * objective covers every step. Output: (rank, doc_id, rel_micro,
    * max_sim_micro, mmr_score).
    */
  def mmrRerank(corpus: DataFrame, query: DataFrame, idCol: String,
                vecCol: String, nCandidates: Int, k: Int,
                lambdaPct: Int = 70): DataFrame = {
    require(k >= 1 && k <= nCandidates, s"need 1 <= k <= nCandidates: $k")
    require(lambdaPct >= 0 && lambdaPct <= 100, s"lambdaPct: $lambdaPct")
    mmrGreedy(corpus.sparkSession,
      mmrCandidates(corpus, query, idCol, vecCol, nCandidates), k, lambdaPct)
  }

  /** [[mmrRerank]]'s candidate generation, exposed for the plan gate: the
    * broadcast-query cosine scan cut to the top `nCandidates` by
    * `(cos desc, id asc)` via orderBy+limit — `TakeOrderedAndProject`,
    * per-partition heaps, never a global window over the corpus.
    */
  private[graft] def mmrCandidates(corpus: DataFrame, query: DataFrame,
                                   idCol: String, vecCol: String,
                                   nCandidates: Int): DataFrame = {
    require(nCandidates >= 1 && nCandidates <= MaxMmrCandidates,
      s"nCandidates must be in [1, $MaxMmrCandidates]: $nCandidates")
    graft.functions.CosineSim.ensureRegistered(corpus.sparkSession)
    val q = query.limit(1)
      .select(col(vecCol).cast("array<double>").as("qv"))
    corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .crossJoin(broadcast(q))
      .withColumn("cos", cosineFast(col("v"), col("qv")))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(nCandidates)
      .select(col("id"), col("v"),
        floor(col("cos") * lit(1e6) + lit(0.5)).cast("long").as("rel_micro"))
  }

  /** [[mmrRerank]] over a PRE-SCORED candidate frame — the composition
    * point for retrieval stacks whose relevance is not raw cosine (q200
    * feeds RRF-fused scores in): `candidates` carries (idCol, vecCol:
    * vectors for the pairwise-diversity term, relCol: integer relevance),
    * already cut to ≤ [[MaxMmrCandidates]] rows by its producer (the
    * fused top-N — enforced here too).
    */
  def mmrRerankScored(candidates: DataFrame, idCol: String, vecCol: String,
                      relCol: String, k: Int,
                      lambdaPct: Int = 70): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(lambdaPct >= 0 && lambdaPct <= 100, s"lambdaPct: $lambdaPct")
    mmrGreedy(candidates.sparkSession,
      candidates.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"),
        col(relCol).cast("long").as("rel_micro")),
      k, lambdaPct)
  }

  /** The shared greedy core: collect the (bounded) candidate frame and
    * run the k sequential picks on the driver.
    */
  private def mmrGreedy(sp: SparkSession, candFrame: DataFrame,
                        k: Int, lambdaPct: Int): DataFrame = {
    val cand = candFrame
      .collect()                    // bounded: ≤ MaxMmrCandidates rows
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    require(cand.length <= MaxMmrCandidates,
      s"candidate set ${cand.length} exceeds MaxMmrCandidates=$MaxMmrCandidates")
    // driver-side greedy: the same left-to-right double folds the engine
    // and oracle use everywhere, floored to micro BEFORE the max
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def simMicro(a: Array[Double], b: Array[Double]): Long =
      math.floor(dotd(a, b) / (math.sqrt(dotd(a, a)) * math.sqrt(dotd(b, b)))
        * 1e6 + 0.5).toLong
    val remaining = scala.collection.mutable.ArrayBuffer(cand: _*)
    // true running max — similarities can be NEGATIVE, so the max must
    // not clamp at 0; only the FIRST pick's empty-set max is defined 0
    val maxSim = scala.collection.mutable.Map(
      cand.map(c => c._1 -> Long.MinValue).toSeq: _*)
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)]
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      def msimOf(id: Long): Long = if (rank == 1) 0L else maxSim(id)
      val best = remaining.minBy { case (id, _, rel) =>
        (-(lambdaPct * rel - (100L - lambdaPct) * msimOf(id)), id)
      }
      val score = lambdaPct * best._3 - (100L - lambdaPct) * msimOf(best._1)
      picks += ((rank.toLong, best._1, best._3, msimOf(best._1), score))
      remaining -= best
      remaining.foreach { case (id, v, _) =>
        val s = simMicro(v, best._2)
        if (s > maxSim(id)) maxSim(id) = s
      }
      rank += 1
    }
    import sp.implicits._
    picks.toSeq
      .toDF("rank", "doc_id", "rel_micro", "max_sim_micro", "mmr_score")
  }

  /** Driver-materialization cap for [[mmrRerank]]'s candidate list. */
  val MaxMmrCandidates = 4096

  // ------------------------------------------------------------------
  // Binary (1-bit sign) quantization — the cheapest compressed scan
  // ------------------------------------------------------------------

  /** 1-bit sign signature of an embedding: bit `i` is set iff `v[i] > 0`,
    * packed 32 dims per 64-bit word (`array<bigint>` of ⌈dim/32⌉ words —
    * bits land in the word's LOW half, so the sign bit never comes into
    * play and the oracle's `1::BIGINT << (i-1)` agrees without two's-
    * complement reasoning). A 64-dim float corpus compresses 32× to 8
    * bytes/vector; at 100 TB of embeddings the signature table is the
    * only thing a Hamming scan ever reads. Map-side only — one row out
    * per row in, zero Exchange at any scale (plan-asserted in
    * BinarySigSpec). Output: (id, sig).
    *
    * This is the storage-minimal end of the quantization ladder the
    * engine now covers end to end: float64 → int8 ([[quantizeInt8]], 4×)
    * → PQ ([[pqEncode]], ~64×) → sign bits (this, 256× vs float64) —
    * each step trading recall for scan bytes, each gated against an
    * oracle that rebuilds the identical codes.
    */
  def binarySig(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("sig", expr(
        // the empty-vector guard matters: sequence(0, -1) is a DESCENDING
        // range in Spark, which would feed slice() a negative start
        """if(size(v) = 0, array(),
          |transform(sequence(0, (size(v) - 1) div 32), w ->
          |  aggregate(slice(v, w * 32 + 1, 32),
          |    struct(cast(0 as bigint) as s, 0 as i),
          |    (acc, x) -> struct(
          |      acc.s + if(x > 0D, shiftleft(cast(1 as bigint), acc.i),
          |                 cast(0 as bigint)) as s,
          |      acc.i + 1 as i),
          |    acc -> acc.s)))""".stripMargin))
      // a NULL embedding has no signs: drop it here, or every Hamming
      // consumer would rank its null distance FIRST (ascending windows
      // put nulls first in Spark)
      .filter(col("sig").isNotNull)
      .select("id", "sig")

  /** Hamming distance between two packed sign signatures: per-word
    * `bit_count(xor)` (both codegen'd built-ins), summed left to right —
    * exact integer arithmetic end to end, nothing for engines to disagree
    * on.
    */
  def hammingDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, h) => acc + h).cast("long")

  /** Exact top-k by Hamming distance over the binary-sign signatures —
    * [[knnBrute]]'s broadcast-queries/scan-corpus-once plan run against
    * the 32×-compressed signature table instead of the float vectors:
    * the coarse first pass of a billion-vector search (sign-bit Hamming
    * is a monotone proxy for angular distance), with the same two-stage
    * per-partition top-k so no task holds a query's full candidate set.
    * Self-pairs excluded; order key (hamming asc, neighbor_id asc) is
    * total. Output: (query_id, neighbor_id, hamming).
    */
  def hammingTopK(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = binarySig(corpus, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("sig").as("csig"))
    val q = binarySig(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("sig").as("qsig"))
    val wPart = Window.partitionBy("query_id", "scan_pid")
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", hammingDist(col("qsig"), col("csig")))
      .withColumn("scan_pid", spark_partition_id())
      .withColumn("prk", row_number().over(wPart))
      .filter(col("prk") <= k)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "hamming")
  }

  /** BANDED Hamming radius search — the sublinear scale path for the
    * binary signatures, where [[hammingTopK]] scans the whole corpus per
    * query: signatures split into 16-bit BANDS (two slices per packed
    * 32-bit word), candidates generated by an equi-join on
    * (band index, band value), then exact-Hamming verified and ranked.
    * By pigeonhole the result is EXACT for `maxHamming < bands`: a pair
    * within the radius differs in ≤ maxHamming bits, which cannot touch
    * all `bands` disjoint slices, so some band matches intact and the
    * join finds the pair — the same guarantee [[graft.streaming
    * .StreamingPHash]] rests on, here as a query-time top-k. Work per
    * query ∝ its bands' bucket occupancy, not corpus size; band values
    * are near-uniform for embedding sign bits, so the join is skew-free.
    * Output: (query_id, neighbor_id, hamming), ranked (hamming asc, id
    * asc), ≤ k rows per query, pairs beyond `maxHamming` never emitted.
    */
  def hammingTopKBanded(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        maxHamming: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxHamming >= 0, s"maxHamming must be >= 0: $maxHamming")
    // the pigeonhole exactness precondition maxHamming < bands depends on
    // the DATA's dimensionality (bands = 2 per packed word), so it is
    // enforced per row at runtime: silently-incomplete results are the
    // one failure mode a radius search must not have
    def guarded(sig: DataFrame) = sig.withColumn("sig",
      when(lit(maxHamming) >= size(col("sig")) * 2,
        raise_error(concat(lit(s"hammingTopKBanded: maxHamming=$maxHamming needs < "),
          size(col("sig")) * 2, lit(" bands — use hammingTopK for wider radii"))))
        .otherwise(col("sig")))
    def banded(sig: DataFrame) = sig
      .select(col("id"), col("sig"),
        posexplode(flatten(transform(col("sig"), w =>
          array(w.bitwiseAND(lit(0xFFFFL)),
            shiftright(w, 16).bitwiseAND(lit(0xFFFFL)))))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
    val csig = CacheScope.persisted(guarded(binarySig(corpus, idCol, vecCol)))
    val qsig = CacheScope.persisted(guarded(binarySig(queries, idCol, vecCol)))
    val cand = banded(qsig.select(col("id"), col("sig")))
      .select(col("id").as("query_id"), col("band_idx"), col("band_val"))
      .join(banded(csig).select(col("id").as("neighbor_id"),
        col("band_idx"), col("band_val"), col("sig").as("csig")),
        Seq("band_idx", "band_val"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "csig").distinct()
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    cand
      .join(qsig.select(col("id").as("query_id"), col("sig").as("qsig")),
        "query_id")
      .withColumn("hamming", hammingDist(col("qsig"), col("csig")))
      .filter(col("hamming") <= maxHamming)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "hamming")
  }

  /** Symmetric int8 top-k: both sides quantized by [[quantizeInt8]], the
    * candidate score an EXACT integer dot product of the two code vectors
    * (|q|≤127 ⇒ 64-dim dots bounded by 127²·64 ≈ 2²⁰ — no overflow for
    * any realistic dim), ranked by the cosine OF THE CODES. The
    * per-vector scale cancels out of cosine exactly (dequant = scale·q
    * with scale > 0), so code-cosine EQUALS dequantized-vector cosine —
    * the int8 store loses magnitude resolution, never angular order
    * beyond the rounding itself. The only doubles are one sqrt per norm
    * and one divide, identical IEEE sequences in both engines
    * (`int_dot / (sqrt(qn) · sqrt(cn))`), floored to micro under the
    * hash. Zero-norm codes score 0. Same broadcast-queries /
    * scan-corpus-once / two-stage top-k plan as [[knnBrute]] — at scale
    * the scan reads 1 byte per dim instead of 4. Output: (query_id,
    * neighbor_id, int_dot, icos_micro).
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = quantizeInt8(corpus, idCol, vecCol)
      .select(col("id").as("neighbor_id"),
        col("qvec").cast("array<long>").as("cq"))
      .withColumn("cn", aggregate(col("cq"), lit(0L), (a, x) => a + x * x))
    val q = quantizeInt8(queries, idCol, vecCol)
      .select(col("id").as("query_id"),
        col("qvec").cast("array<long>").as("qq"))
      .withColumn("qn", aggregate(col("qq"), lit(0L), (a, x) => a + x * x))
    val wPart = Window.partitionBy("query_id", "scan_pid")
      .orderBy(col("icos").desc, col("neighbor_id").asc)
    val w = Window.partitionBy("query_id")
      .orderBy(col("icos").desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("int_dot",
        aggregate(zip_with(col("qq"), col("cq"), (x, y) => x * y),
          lit(0L), (a, v) => a + v))
      .withColumn("icos",
        when(col("qn") === 0L || col("cn") === 0L, lit(0.0))
          .otherwise(col("int_dot").cast("double") /
            (sqrt(col("qn").cast("double")) * sqrt(col("cn").cast("double")))))
      .withColumn("scan_pid", spark_partition_id())
      .withColumn("prk", row_number().over(wPart))
      .filter(col("prk") <= k)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("int_dot"),
        floor(col("icos") * lit(1e6) + lit(0.5)).cast("long").as("icos_micro"))
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ) — the billion-vector compression path
  // ------------------------------------------------------------------

  /** Deterministic PQ codebook: the `ksub` sampled vectors (every
    * `centStep`-th id, lowest ids win — [[sampleCentroids]]' exact
    * discipline with the cap set to `ksub`), in id-rank order. Subspace
    * `s`'s centroid `j` is the slice `[s·sub, (s+1)·sub)` of sampled
    * vector `j` — the codebook-choice POLICY is deliberately the same
    * deterministic-sampling rule as the IVF family (and refinable by the
    * same [[kmeans]] loop); the PQ machinery below (encode, ADC search)
    * is policy-agnostic.
    */
  def pqCodebook(df: DataFrame, idCol: String, vecCol: String,
                 ksub: Int, centStep: Int): Seq[Array[Double]] =
    sampleCentroids(df, idCol, vecCol, centStep, maxCentroids = ksub)
      .map(_._2)

  /** Per-subspace (centroid matrix, centroid self-dot) pairs derived from
    * the full-vector codebook. `dcc(j) = Σ c_j[i]² ` is a LEFT-TO-RIGHT
    * double fold over the slice — the same order `list_dot_product`
    * evaluates, so the oracle reproduces each self-dot bit-for-bit.
    */
  private def pqSubspaces(full: Seq[Array[Double]], m: Int)
      : Seq[(Seq[Seq[Double]], Seq[Double])] = {
    require(full.nonEmpty, "PQ codebook is empty")
    val dim = full.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    (0 until m).map { s =>
      val cmat = full.map(c => c.slice(s * sub, (s + 1) * sub).toSeq)
      val dcc = full.map { c =>
        var acc = 0.0
        var i = s * sub
        while (i < (s + 1) * sub) { acc += c(i) * c(i); i += 1 }
        acc
      }
      (cmat, dcc)
    }
  }

  /** One subspace's squared-distance SCORES against all `ksub` centroids:
    * `score(j) = dot(c_j, c_j) − 2·dot(v_s, c_j)` — equal to
    * `‖v_s − c_j‖²` minus the per-row constant `‖v_s‖²`, so argmin over
    * `j` is the nearest-centroid code without ever materializing the
    * per-row self-dot. The centroid dots ride through the codegen'd
    * `graft_matvec_dots` kernel (matrix as ONE literal); the combination
    * `c − 2·d` is the exact expression shape the oracle evaluates. The
    * matrix and the norms are carried by reference, as [[pqLut]]'s are.
    */
  private def pqScores(v: Column, s: Int, sub: Int,
                       cmat: Seq[Seq[Double]], dcc: Seq[Double]): Column = {
    val dots = call_function("graft_matvec_dots", slice(v, s * sub + 1, sub),
      PlanConstant.matrix(s"pq_sub$s", cmat.map(_.toArray)), lit(1.0))
    zip_with(PlanConstant.vector(s"pq_sub${s}_norms", dcc.toArray), dots,
      (c, d) => c - lit(2.0) * d)
  }

  /** The packed PQ code word of one vector: subspace `s`'s 4-bit code in
    * bits `[4s, 4s+4)`. Ties (equal scores) take the lowest centroid
    * index — `array_position(scores, array_min(scores))` returns the
    * FIRST occurrence, matching the oracle's `ORDER BY score, j` pick.
    */
  private def pqCodeWord(v: Column, full: Seq[Array[Double]], m: Int): Column = {
    val sub = full.head.length / m
    val subs = pqSubspaces(full, m)
    val codes = subs.zipWithIndex.map { case ((cmat, dcc), s) =>
      val scores = pqScores(v, s, sub, cmat, dcc)
      (array_position(scores, array_min(scores)) - 1).cast("long")
    }
    codes.zipWithIndex
      .map { case (c, s) => c * lit(1L << (4 * s)) }
      .reduce(_ + _)
  }

  /** Subspace `s`'s code extracted from a packed word — shift + mask on a
    * non-negative word (no sign hazard: m ≤ 15 keeps the word < 2⁶⁰).
    */
  private def pqSubCode(word: Column, s: Int): Column =
    shiftright(word, 4 * s).bitwiseAND(lit(15L))

  /** PQ-encode a corpus: each `dim`-float vector becomes ONE BIGINT
    * packing `m` 4-bit nearest-centroid codes (`ksub ≤ 16`) — for the
    * default 64-dim/8-subspace shape that is 256 bytes → 4 bytes, the
    * 64× compression that lets a 100 TB embedding corpus's search
    * structure live in cluster memory. Output: (vec_id, code_word).
    *
    * Scale shape: map-side only — the codebook rides as m ONE-node
    * matrix literals through the codegen'd kernel, every row is encoded
    * independently, and NO shuffle exists in the plan at any corpus size
    * (SimilaritySpec plan-asserts zero Exchange). Reference analog: the
    * reference keeps whole vectors and has no compression story —
    * product quantization (Jégou et al., TPAMI 2011) is table stakes for
    * billion-vector ANN and composes with the IVF family below.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               m: Int = 8, ksub: Int = 16, centStep: Int = 25): DataFrame = {
    require(ksub >= 1 && ksub <= 16, s"ksub must be in [1,16]: $ksub")
    require(m >= 1 && m <= 15, s"m must be in [1,15]: $m")
    graft.functions.GraftExtensions.ensureRegistered(df.sparkSession,
      "graft_matvec_dots")
    val full = pqCodebook(df, idCol, vecCol, ksub, centStep)
    df.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("vec_id"), pqCodeWord(col("v"), full, m).as("code_word"))
  }

  /** A query vector's ADC lookup table against the codebook (each
    * subspace's matrix and norms carried by reference,
    * [[graft.functions.PlanConstant]]): an m × ksub
    * `array<array<bigint>>` where `lut[s][j] = ⌊(dot(c_j,c_j) −
    * 2·dot(q_s,c_j))·10⁶⌋` — each entry is the subspace-s distance
    * contribution of code j, shifted by the per-query constant `‖q_s‖²`
    * (rank-irrelevant) and ROUNDED TO INTEGER MICRO-UNITS BEFORE any
    * summation, so the per-candidate ADC total is an exact 64-bit sum in
    * any order — the float-fold rule every gate relies on.
    */
  private def pqLut(qv: Column, full: Seq[Array[Double]], m: Int): Column = {
    val sub = full.head.length / m
    val subs = pqSubspaces(full, m)
    val rows = subs.zipWithIndex.map { case ((cmat, dcc), s) =>
      val dots = call_function("graft_matvec_dots",
        slice(qv, s * sub + 1, sub),
        PlanConstant.matrix(s"pq_sub$s", cmat.map(_.toArray)), lit(1.0))
      zip_with(PlanConstant.vector(s"pq_sub${s}_norms", dcc.toArray), dots,
        (c, d) => floor((c - lit(2.0) * d) * lit(1e6)).cast("long"))
    }
    array(rows: _*)
  }

  /** The ADC (asymmetric distance computation) total of one candidate:
    * m integer table lookups — the entire per-candidate scan cost, no
    * floating point, no vector access. Integer adds in static subspace
    * order (sum of exact longs — order-free anyway).
    */
  private def pqAdc(lut: Column, word: Column, m: Int): Column =
    (0 until m).map { s =>
      element_at(element_at(lut, s + 1), (pqSubCode(word, s) + 1).cast("int"))
    }.reduce(_ + _)

  /** PQ top-k by asymmetric distance: encode the corpus once (4 bytes a
    * vector), build each query's m×ksub micro-integer lookup table on the
    * (tiny, broadcast) query side, and rank candidates by the exact
    * integer ADC total — `Σ_s lut[s][code_s]`, m table lookups per
    * candidate instead of a dim-length float dot. Smaller adc_micro =
    * nearer (the omitted `‖q‖²` shift is constant per query). Self-pairs
    * excluded; two-stage top-k (the [[knnBrute]] scan-partition trick) so
    * no task holds a query's full candidate stream. Output: (query_id,
    * neighbor_id, adc_micro), deterministic total order.
    *
    * Scale: the corpus pass reads 8 bytes of id + 8 of code word per
    * row — memory-bandwidth-bound at ~1/16th the byte volume of raw
    * vectors; compose with [[ivfPqTopK]] to also prune WHICH codes are
    * scanned.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 8, ksub: Int = 16,
             centStep: Int = 25): DataFrame = {
    require(ksub >= 1 && ksub <= 16, s"ksub must be in [1,16]: $ksub")
    require(m >= 1 && m <= 15, s"m must be in [1,15]: $m")
    graft.functions.GraftExtensions.ensureRegistered(corpus.sparkSession,
      "graft_matvec_dots")
    val full = pqCodebook(corpus, idCol, vecCol, ksub, centStep)
    val codes = pqEncode(corpus, idCol, vecCol, m, ksub, centStep)
      .select(col("vec_id").as("neighbor_id"), col("code_word"))
    val q = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .select(col("query_id"), pqLut(col("qv"), full, m).as("lut"))
    val wPart = Window.partitionBy("query_id", "scan_pid")
      .orderBy(col("adc_micro").asc, col("neighbor_id").asc)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_micro").asc, col("neighbor_id").asc)
    codes.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_micro", pqAdc(col("lut"), col("code_word"), m))
      .withColumn("scan_pid", spark_partition_id())
      .withColumn("prk", row_number().over(wPart))
      .filter(col("prk") <= k)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_micro"))
  }

  /** IVF-PQ with RESIDUAL encoding — the FAISS `IVFPQ` configuration,
    * the standard billion-vector layout: vectors are assigned to IVF
    * cells ([[ivfAssign]] over the deterministic codebook), each vector's
    * RESIDUAL against its cell centroid is PQ-encoded (residuals are
    * smaller and better-centered than raw vectors, so the same 4-bit
    * budget quantizes finer), and a query probes only its `nprobe`
    * best-cosine cells, ADC-scanning the 4-byte codes of those cells
    * alone. The query's lookup table is built PER PROBED CELL (against
    * the query residual `q − c_cell`), so both pruning and compression
    * apply: work per query = `nprobe · (cell population) · m` integer
    * lookups.
    *
    * Everything under the oracle hash: cell assignment (argmax cosine,
    * tie → lowest cid), the residual subtraction (per-element double),
    * the residual PQ codebook (every `pqStep`-th id's residual, lowest
    * ids win, rank order — [[sampleCentroids]]' discipline applied to
    * residuals), the encode argmin, and the micro-integer ADC totals.
    * Output: (query_id, neighbor_id, adc_micro).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nprobe: Int = 2, m: Int = 8,
                ksub: Int = 16, ivfStep: Int = 25, pqStep: Int = 7,
                maxCentroids: Int = 4096): DataFrame = {
    require(ksub >= 1 && ksub <= 16, s"ksub must be in [1,16]: $ksub")
    require(m >= 1 && m <= 15, s"m must be in [1,15]: $m")
    val sp = corpus.sparkSession
    graft.functions.CosineSim.ensureRegistered(sp)
    graft.functions.GraftExtensions.ensureRegistered(sp, "graft_matvec_dots")
    val cents = sampleCentroids(corpus, idCol, vecCol, ivfStep, maxCentroids)
    val withRes = ivfResiduals(corpus, idCol, vecCol, cents)
    val full = residualCodebook(withRes, pqStep, ksub, idCol)
    val codes = withRes
      .select(col("id").as("neighbor_id"), col("cell"),
        pqCodeWord(col("r"), full, m).as("code_word"))
    ivfPqScan(codes, queries, idCol, vecCol, cents, full, k, nprobe, m)
  }

  /** Residuals of a corpus against a centroid codebook — one map-side
    * pass (broadcast centroid join, no shuffle): (id, cell, r).
    */
  private def ivfResiduals(df: DataFrame, idCol: String, vecCol: String,
                           cents: Seq[(Long, Array[Double])]): DataFrame = {
    val sp = df.sparkSession
    val centDf = {
      import sp.implicits._
      cents.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cid", "cv")
    }
    ivfAssign(df, idCol, vecCol, cents)
      .join(broadcast(centDf), col("cell") === col("cid"))
      .withColumn("r", zip_with(col("v"), col("cv"), (x, c) => x - c))
      .select(col("id"), col("cell"), col("r"))
  }

  /** Residual PQ codebook: every `pqStep`-th id's NONZERO residual,
    * lowest ids win, id-rank order — [[sampleCentroids]]' discipline
    * applied to residuals. Bounded collect (≤ ksub rows).
    *
    * The nonzero filter is load-bearing, not cosmetic: an id that is
    * itself an IVF centroid has residual exactly 0 (it assigns to its own
    * cell — cosine 1 beats every other centroid), and when `pqStep`
    * shares ids with `ivfStep` (the defaults do), an unfiltered codebook
    * collapses to all-zero vectors — every score ties, every code is 0,
    * and ADC ranking degenerates to id order. A zero residual carries no
    * quantization information, so it is never a useful codeword; the
    * exact `Σr² > 0` test is engine-stable (v − v is exactly 0 per
    * element in IEEE arithmetic, both here and in the oracle).
    */
  private def residualCodebook(withRes: DataFrame, pqStep: Int, ksub: Int,
                               idCol: String): Seq[Array[Double]] = {
    val full = withRes.filter(col("id") % pqStep === 0)
      .filter(aggregate(col("r"), lit(0.0), (acc, x) => acc + x * x) > 0)
      .orderBy("id").limit(ksub)
      .select(col("r")).collect()
      .map(_.getSeq[Double](0).toArray).toSeq
    require(full.nonEmpty,
      s"residual PQ codebook is empty: no $idCol divisible by $pqStep " +
        "has a nonzero residual")
    full
  }

  /** The probe + ADC-scan half shared by [[ivfPqTopK]] (codes in memory)
    * and [[searchIvfPqIndex]] (codes from disk): rank each query's
    * `nprobe` best-cosine cells, build the per-(query, cell) LUT against
    * the query RESIDUAL, and take the integer-ADC top-k over the probed
    * cells' codes. `codes` must carry (neighbor_id, cell, code_word).
    */
  private def ivfPqScan(codes: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String,
                        cents: Seq[(Long, Array[Double])],
                        full: Seq[Array[Double]], k: Int, nprobe: Int,
                        m: Int, allow: Option[DataFrame] = None): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val probes = probeCells(q, cents, nprobe)
      .withColumn("qr", zip_with(col("qv"), col("cv"), (x, c) => x - c))
      .select(col("query_id"), col("cell"),
        pqLut(col("qr"), full, m).as("lut"))
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("adc_micro").asc, col("neighbor_id").asc)
    val candidates0 = codes.join(broadcast(probes), "cell")
    // eligibility AFTER the cell cut, with NO broadcast hint: the allowed
    // set is caller-supplied and unbounded ("language = en" is half a
    // corpus) — AQE broadcasts a small one and shuffle-semi-joins a huge
    // one, instead of force-feeding billions of ids through the driver
    val candidates = allow match {
      case Some(a) => candidates0.join(
        a.select(col(a.columns.head).as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
      case None => candidates0
    }
    candidates
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_micro", pqAdc(col("lut"), col("code_word"), m))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_micro"))
  }

  // ------------------------------------------------------------------
  // Persisted IVF-PQ index — the on-disk FAISS-IVFPQ layout
  // ------------------------------------------------------------------

  /** Persist an IVF-PQ index — [[buildIvfIndex]]'s build-once/query-many
    * treatment applied to [[ivfPqTopK]], with the decisive difference
    * that the postings hold 4-BYTE CODE WORDS, NOT VECTORS: a row is
    * (id, code_word) under a cell partition — 16 bytes against the raw
    * index's `8 + 8·dim` (~64× smaller at dim 64), which is what lets a
    * billion-vector corpus's scan structure fit where the raw postings
    * cannot. Layout:
    *
    *  - `dir/centroids`   (cid, cv) — the IVF codebook (≤ maxCentroids);
    *  - `dir/pq_codebook` (j, cv)   — the residual PQ codebook, `ksub`
    *    full-dim residuals in id-rank order (the model [[searchIvfPqIndex]]
    *    and [[appendIvfPqIndex]] reload);
    *  - `dir/pq_meta`     (m, ksub, dim) — one row, so the index is
    *    self-describing (a search never has to guess the build's shape);
    *  - `dir/postings/cell=…` (id, code_word) — the inverted file.
    *
    * The postings keep [[buildIvfIndex]]'s exact (id, …, cell-partition)
    * contract, so the WHOLE deletion family composes unchanged:
    * [[deleteFromIvfIndex]] tombstones, [[compactIvfIndex]] rewrites
    * affected cells, [[ivfIndexAudit]] fscks — none of them care whether
    * a posting carries a vector or a code word.
    */
  /** [[buildIvfPqIndex]] under the [[sqrtCentStep]] IVF-codebook policy —
    * [[buildIvfIndexAdaptive]]'s treatment for the compressed store: a
    * fixed `ivfStep` grows the codebook linearly with the corpus, so the
    * assignment's per-row FLOPs grow ~n (measured ~5× at 10× for the
    * fixed build, SCALE.md); at ⌈√n⌉ the codebook and expected cell
    * population both track √n until the cap. The residual PQ codebook
    * stays a fixed-size model (ksub entries) either way. Gated q165 with
    * the oracle recomputing ⌈√n⌉ from its own count (q105's recipe).
    */
  def buildIvfPqIndexAdaptive(df: DataFrame, idCol: String, vecCol: String,
                              dir: String, m: Int = 8, ksub: Int = 16,
                              pqStep: Int = 7,
                              maxCentroids: Int = 4096): Unit =
    buildIvfPqIndex(df, idCol, vecCol, dir, m, ksub,
      ivfStep = sqrtCentStep(df, idCol), pqStep = pqStep,
      maxCentroids = maxCentroids)

  def buildIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
                      dir: String, m: Int = 8, ksub: Int = 16,
                      ivfStep: Int = 25, pqStep: Int = 7,
                      maxCentroids: Int = 4096): Unit =
      Par.described(df.sparkSession, s"ivfpq build $dir") {
    require(ksub >= 1 && ksub <= 16, s"ksub must be in [1,16]: $ksub")
    require(m >= 1 && m <= 15, s"m must be in [1,15]: $m")
    val sp = df.sparkSession
    graft.functions.GraftExtensions.ensureRegistered(sp, "graft_matvec_dots")
    val cents = sampleCentroids(df, idCol, vecCol, ivfStep, maxCentroids)
    val withRes = ivfResiduals(df, idCol, vecCol, cents)
    val full = residualCodebook(withRes, pqStep, ksub, idCol)
    val dim = full.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    import sp.implicits._
    buildVectorStore(df, idCol, vecCol, dir, ivfPqIndex,
      VecModel(cents, Some(full -> m)), Seq(
        "centroids" ->
          cents.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cid", "cv"),
        "pq_codebook" -> full.zipWithIndex
          .map { case (cv, j) => (j, cv.toSeq) }.toDF("j", "cv"),
        "pq_meta" -> Seq((m, ksub, dim)).toDF("m", "ksub", "dim")))
  }

  /** The IVF codebook sorted by `cid` — one bounded driver collect,
    * sorted on the driver (an `orderBy` would add a sampling and a
    * shuffle job for ≤ maxCentroids rows).
    */
  private def centroidRows(spark: SparkSession, dir: String,
                           e: StoreSegments.Entry): Seq[(Long, Array[Double])] = {
    val cents = StoreSegments.scan(spark, dir, e, "centroids", "",
        Model.centroids).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    require(cents.nonEmpty, s"no centroids at $dir/centroids — build first")
    cents
  }

  /** Both frozen models + the build shape at `e` — the bounded driver
    * reads every IVF-PQ maintenance/search call starts with, reused while
    * the three model segments are the same ([[StoreFs.frozen]]).
    */
  private def readIvfPqModel(spark: SparkSession, dir: String,
                             e: StoreSegments.Entry)
      : (Seq[(Long, Array[Double])], Seq[Array[Double]], Int) =
    StoreFs.frozen("ivfpq model", dir +: e.ids(ivfPqIndex.model: _*)) {
      // three INDEPENDENT bounded driver reads (different component
      // files) — overlapped (§2.6, r16): sequentially a cold read is
      // three full job latencies of pure wait on kilobyte files
      var cents: Seq[(Long, Array[Double])] = null
      var full: Seq[Array[Double]] = null
      var m = -1
      Par.run(
        () => cents = centroidRows(spark, dir, e),
        () => full = StoreSegments.scan(spark, dir, e, "pq_codebook", "",
            Model.pqCodebook).collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1).map(_._2).toSeq,
        () => m = StoreSegments.scan(spark, dir, e, "pq_meta", "",
            Model.pqMeta).select("m").head.getInt(0))
      require(full.nonEmpty,
        s"no PQ codebook at $dir/pq_codebook — build first")
      (cents, full, m)
    }

  /** INCREMENTAL IVF-PQ maintenance — [[appendIvfIndex]]'s contract for
    * the compressed store: assign the batch to the FROZEN IVF codebook,
    * encode its residuals against the FROZEN PQ codebook, and append the
    * 4-byte codes to only the cells the batch lands in. Cost ∝ batch;
    * both codebooks stay the consistent model ([[cellOccupancy]] still
    * owns the rebuild decision), so build(even) + append(odd) answers
    * bit-identically to the oracle's from-scratch assignment of the
    * union against the even-corpus codebooks (gated q155).
    */
  def appendIvfPqIndex(spark: SparkSession, dir: String, batch: DataFrame,
                       idCol: String, vecCol: String): Unit =
    Tombstones.append(ivfPqStore(spark, dir),
      Tombstones.Batch(batch, idCol, vecCol))

  /** [[ivfStore]] of a store that must be IVF-PQ. */
  private[graft] def ivfPqStore(sp: SparkSession,
                                root: String): Tombstones.Store = {
    val s = ivfStore(sp, root)
    require(s.family == ivfPqIndex, s"the store at $root is not an IVF-PQ " +
      "store: its log entry names no pq_codebook")
    s
  }

  /** DELETION from a [[buildIvfPqIndex]] store — the takedown verb for
    * the COMPRESSED index, so a removal request against the store a
    * billion-vector corpus actually serves from never means a full
    * rebuild (the reference's SDFS `delete`, daemon/daemon.go:116-133,
    * applied to the store that matters most at scale). The same
    * [[Tombstones]] verb as [[deleteFromIvfIndex]]: [[ivfPqIndex]] shares
    * [[ivfIndex]]'s component table, and the lifecycle only touches
    * (id, cell), never the payload column. Tombstones append (cost ∝
    * delete set) and the searches filter them out; both codebooks stay
    * frozen. Gated: q205 (≡ a from-scratch build over the survivors).
    */
  def deleteFromIvfPqIndex(spark: SparkSession, dir: String,
                           ids: DataFrame, idCol: String): Unit =
    deleteFromIvfIndex(spark, dir, ids, idCol)

  /** COMPACTION of a tombstoned [[buildIvfPqIndex]] store — the same
    * [[Tombstones]] drain as [[compactIvfIndex]]: it moves rows by
    * (id, cell) and copies the 4-byte code words opaquely (gated: q159 ≡
    * q205's tombstone-era answer).
    */
  def compactIvfPqIndex(spark: SparkSession, dir: String): Unit =
    compactIvfIndex(spark, dir)

  /** Query a [[buildIvfPqIndex]] index: [[ivfPqTopK]]'s probe + integer-
    * ADC semantics bit-for-bit (gated), but the scan side is the on-disk
    * 4-byte code file, pruned as [[searchIvfIndex]]'s is: the probe
    * broadcast doubles as the dynamic-pruning filter of the `cell=` scan,
    * so files read ∝ probed cells × live segments, and what those cells'
    * files yield per candidate is 16 bytes, not a vector. The codebooks
    * (IVF and the per-subspace LUT matrices) ride by reference
    * ([[graft.functions.PlanConstant]]), so the plan text names them
    * instead of printing their doubles. Tombstoned ids
    * ([[deleteFromIvfIndex]] — shared layout) are filtered out exactly
    * as [[searchIvfIndex]] does.
    */
  def searchIvfPqIndex(spark: SparkSession, dir: String, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       nprobe: Int = 2): DataFrame =
    searchIvfPqIndexImpl(spark, dir, queries, idCol, vecCol, None, k, nprobe)

  private def searchIvfPqIndexImpl(spark: SparkSession, dir: String,
                                   queries: DataFrame, idCol: String,
                                   vecCol: String, allow: Option[DataFrame],
                                   k: Int, nprobe: Int): DataFrame = {
    graft.functions.CosineSim.ensureRegistered(spark)
    graft.functions.GraftExtensions.ensureRegistered(spark, "graft_matvec_dots")
    StoreFs.retryTornReads() {
      val e = StoreSegments.latest(spark, dir)
      val (cents, full, m) = readIvfPqModel(spark, dir, e)
      val codes = livePostings(spark, dir, e).select(
        col("id").as("neighbor_id"), col("cell").cast("long").as("cell"),
        col("code_word"))
      ivfPqScan(codes, queries, idCol, vecCol, cents, full, k, nprobe, m,
        allow)
    }
  }

  /** Deterministic variance-BALANCING dimension permutation — the
    * rotation-free OPQ (Ge et al., CVPR 2013 motivate a learned rotation;
    * the zero-training version is a permutation that equalizes per-
    * subspace energy): PQ quantization error concentrates in whichever
    * subspace holds the high-variance dims, so rank dims by variance and
    * SNAKE-assign them round-robin (round j gives subspace s its j-th
    * dim, alternating direction) — every subspace gets one dim from each
    * variance stratum.
    *
    * Everything under the gate hash: per-dim values floor to MILLI
    * integers, the variance surrogate is the exact integer
    * `n·Σq² − (Σq)²` computed in DECIMAL(38,0) (DuckDB's HUGEINT twin —
    * a Long would overflow at ~10⁵ rows), ranking ties break on the dim
    * index, and the snake arithmetic is integer div/mod on non-negative
    * ranks. Returns `perm` where `perm(s·sub + j)` = the source dim of
    * permuted position (s, j); one bounded driver collect (`dim` rows).
    */
  def pqBalancedPerm(df: DataFrame, vecCol: String, m: Int): Seq[Int] = {
    val ranked = df
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .withColumn("q", floor(col("x") * lit(1000)).cast("decimal(38,0)"))
      .groupBy("d").agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("q")).as("sq"), sum(col("q") * col("q")).as("sqq"))
      .select(col("d"),
        (col("n") * col("sqq") - col("sq") * col("sq")).as("vnum"))
      .orderBy(col("vnum").desc, col("d").asc)
      .select("d").collect().map(_.getInt(0))
    val dim = ranked.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    val perm = Array.ofDim[Int](dim)
    ranked.zipWithIndex.foreach { case (d, r) =>
      val round = r / m
      val pos = r % m
      val s = if (round % 2 == 0) pos else m - 1 - pos
      perm(s * sub + round) = d
    }
    perm.toSeq
  }

  /** [[pqEncode]] under the [[pqBalancedPerm]] permutation: vectors are
    * re-ordered map-side (pure element_at projection — the permutation is
    * a driver constant), then the standard PQ pipeline runs on the
    * permuted layout. Output: (vec_id, code_word) like [[pqEncode]].
    */
  def pqEncodeBalanced(df: DataFrame, idCol: String, vecCol: String,
                       m: Int = 8, ksub: Int = 16,
                       centStep: Int = 25): DataFrame = {
    val perm = pqBalancedPerm(df, vecCol, m)
    val v0 = col(vecCol).cast("array<double>")
    val permDf = df.select(col(idCol).as("vec_id"),
      array(perm.map(i => element_at(v0, i + 1)): _*).as("pv"))
    pqEncode(permDf, "vec_id", "pv", m, ksub, centStep)
  }

  /** MULTI-VECTOR (late-interaction) retrieval — the ColBERT-family
    * shape: a document is MANY chunk vectors, and its score against a
    * query vector is the MAX cosine over its chunks (MaxSim), so a long
    * document matches on its best passage instead of its diluted mean.
    * Output: (query_id, doc_id, maxsim_micro) top-k docs per query,
    * micro-floored AFTER the max (max of identical doubles is
    * engine-stable; the float-fold rule applies to sums, and there are
    * none). Chunks belonging to the query's own chunk id are excluded
    * (the knnBrute self-pair rule).
    *
    * Scale shape: the query side broadcasts (bounded probe set — the
    * operator's contract), the chunk corpus streams once map-side; the
    * per-(query, doc) max is one partial-aggregating shuffle on
    * (query_id, doc_id); the top-k is two-stage so no task holds a
    * query's full doc list.
    */
  def maxSimTopK(chunks: DataFrame, chunkIdCol: String, docCol: String,
                 vecCol: String, queries: DataFrame, qIdCol: String,
                 qVecCol: String, k: Int): DataFrame = {
    graft.functions.CosineSim.ensureRegistered(chunks.sparkSession)
    val c = chunks.select(col(chunkIdCol).cast("long").as("chunk_id"),
      col(docCol).cast("long").as("doc_id"),
      col(vecCol).cast("array<double>").as("v"))
    val q = queries.select(col(qIdCol).cast("long").as("query_id"),
      col(qVecCol).cast("array<double>").as("qv"))
    val scored = c.join(broadcast(q), col("chunk_id") =!= col("query_id"))
      .withColumn("cos", cosineFast(col("qv"), col("v")))
      .groupBy("query_id", "doc_id").agg(max(col("cos")).as("mx"))
      .withColumn("maxsim_micro", floor(col("mx") * lit(1e6)).cast("long"))
    val wPart = Window.partitionBy("query_id", "scan_pid")
      .orderBy(col("maxsim_micro").desc, col("doc_id").asc)
    val w = Window.partitionBy("query_id")
      .orderBy(col("maxsim_micro").desc, col("doc_id").asc)
    scored.withColumn("scan_pid", spark_partition_id())
      .withColumn("prk", row_number().over(wPart))
      .filter(col("prk") <= k)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("maxsim_micro"))
  }

  /** [[searchIvfIndexFiltered]] for the compressed store: the eligible-id
    * semi-join applied to the probed-cell 4-byte code candidates before
    * the ADC rank window — same pre-rank semantics (k survivors are k
    * ELIGIBLE survivors), same tombstone filter, same cell pruning (files
    * read ∝ probed cells × live segments), ~1/16th the scan bytes. The
    * eligibility join carries NO broadcast hint (the allowed set is
    * unbounded by contract — AQE sizes it); tombstones stay a
    * driver-constant filter (bounded by compaction cadence).
    */
  def searchIvfPqIndexFiltered(spark: SparkSession, dir: String,
                               queries: DataFrame, idCol: String,
                               vecCol: String, allowed: DataFrame,
                               k: Int, nprobe: Int = 2): DataFrame =
    searchIvfPqIndexImpl(spark, dir, queries, idCol, vecCol,
      Some(eligibleIds(allowed)), k, nprobe)

  /** PQ-code COLLISION buckets — the 4-byte semantic-dedup candidate
    * generator: two vectors sharing the full `m`-subspace code word
    * quantize identically in every subspace, the coarsest (and cheapest)
    * near-duplicate signal an embedding corpus has. Emits one row per
    * member of a ≥ 2 bucket: (vec_id, code_word, canon_id = bucket min).
    * The SemDeDup-style pre-filter at 100 TB: grouping 4-byte words is a
    * skew-free hash agg over codes produced map-side, and only colliding
    * buckets (a tiny fraction of the corpus) ever reach the exact-cosine
    * verification an actual purge would run — the same
    * candidates-then-verify shape as every dedup family here.
    */
  def pqDupBuckets(df: DataFrame, idCol: String, vecCol: String,
                   m: Int = 8, ksub: Int = 16, centStep: Int = 25): DataFrame = {
    val enc = pqEncode(df, idCol, vecCol, m, ksub, centStep)
    val groups = enc.groupBy("code_word")
      .agg(count(lit(1)).as("n_bucket"), min(col("vec_id")).as("canon_id"))
      .filter(col("n_bucket") >= 2)
    enc.join(groups, "code_word")
      .select(col("vec_id"), col("code_word"), col("canon_id"))
  }

  /** The COMPLETE SemDeDup pipeline with PQ candidates: code-word
    * collision buckets ([[pqDupBuckets]]'s signal) generate candidate
    * pairs, exact cosine ≥ `threshold` VERIFIES them (the quantizer only
    * nominates — a coarse 4-bit bucket never condemns a document by
    * itself), and connected components over the verified edges
    * ([[graft.operators.Dedup.canonicalIds]] — A≈B, B≈C ⇒ one group)
    * resolve each clustered vector to its canonical representative (group
    * min). Output: (vec_id, canon_id), one row per clustered vector.
    *
    * Scale shape: candidates-then-verify end to end — the pair join is
    * equi on the 4-byte code word (never all-pairs; |bucket|²-bounded,
    * and bucket granularity is the `m`/`ksub` budget), exact cosine is
    * paid ONLY on colliding pairs, and the CC step is O(log diameter)
    * pointer-jumping past the driver cap. The cheap-candidate twin of
    * [[semanticDupes]] (IVF-cell candidates): codes are 4 bytes against
    * the cell pipeline's full vectors, so the candidate join moves ~64×
    * less data — the right trade when the corpus is too large to shuffle
    * vectors at all.
    */
  def pqDupGroups(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double, m: Int = 8, ksub: Int = 2,
                  centStep: Int = 25): DataFrame = {
    graft.functions.CosineSim.ensureRegistered(df.sparkSession)
    val full = pqCodebook(df, idCol, vecCol, ksub, centStep)
    val withCode = df
      .select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("code_word", pqCodeWord(col("v"), full, m))
    val pairs = withCode.as("a")
      .join(withCode.as("b").hint("SHUFFLE_HASH"),
        col("a.code_word") === col("b.code_word") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosineFast(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
    graft.operators.Dedup.canonicalIds(pairs)
      .select(col("doc_id").as("vec_id"), col("canon_id"))
  }
}

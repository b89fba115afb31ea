package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.Encoders
import graft.Tables

/** Vector/similarity surface: dot products via codegen'd higher-order
  * functions (`zip_with` + `aggregate` — no UDF in the scalar path), a typed
  * Aggregator for element-wise array sums (BigCLAM's sumF/grad kernel,
  * /root/reference/codes/Bigclamv2.scala:95,121-133), and blocked cosine
  * top-k ANN.
  *
  * Scale stance: cosine top-k never does a bare crossJoin — candidates are
  * blocked on `label` (stand-in for an IVF/LSH bucket id at 100 TB) and the
  * probe side is a bounded deterministic subset, so the pair count is
  * (probes × bucket size), not N².
  */
object VectorOps {

  /** Element-wise sum of equal-length double arrays in ONE shuffle (vs the
    * oracle-checkable posexplode+regroup form in q_agg_array_sum). */
  object ArraySumAgg extends Aggregator[Array[Double], Array[Double], Array[Double]] {
    def zero: Array[Double] = Array.emptyDoubleArray
    def reduce(acc: Array[Double], x: Array[Double]): Array[Double] = merge(acc, x)
    def merge(a: Array[Double], b: Array[Double]): Array[Double] =
      if (a.isEmpty) b else if (b.isEmpty) a
      else { val out = new Array[Double](a.length); var i = 0
             while (i < a.length) { out(i) = a(i) + b(i); i += 1 }; out }
    def finish(r: Array[Double]): Array[Double] = r
    def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** dot(a, b) for array<double> columns — the fused native expression
    * (graft.functions.DotProduct, single codegen loop). Left-to-right
    * summation, bit-identical to the HOF form below. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  /** The composable higher-order-function dot (what a user would write
    * without the native function); DotFusionRule rewrites this shape into
    * DotProduct when installed. */
  def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Blocked brute-force cosine top-5: probes (vec_id < 100) vs same-label
    * candidates. Ranking happens on the 6-dp-rounded cosine with an id
    * tiebreak so Spark and DuckDB order identically. */
  def q_sim_cosine_topk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val withNorm = emb.select(col("vec_id"), col("label"), col("v"), l2norm(col("v")).as("nrm"))
    val probes = withNorm.filter(col("vec_id") < 100)
      .select(col("vec_id").as("u"), col("label"), col("v").as("uv"), col("nrm").as("unrm"))
    val cands = withNorm
      .select(col("vec_id").as("w"), col("label"), col("v").as("wv"), col("nrm").as("wnrm"))
    val pairs = probes.join(cands, Seq("label")).filter(col("u") =!= col("w"))
      .select(col("u"), col("w"),
        round(dot(col("uv"), col("wv")) / (col("unrm") * col("wnrm")), 6).as("cosine"))
    val win = Window.partitionBy("u").orderBy(col("cosine").desc, col("w").asc)
    pairs.select(col("u"), col("w"), col("cosine"), row_number().over(win).as("rn"))
      .filter(col("rn") <= 5)
      .select(col("u").as("vec_id"), col("w").as("neighbor_id"), col("cosine"),
        col("rn").cast("int").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs in the same
    * label block whose 6-dp-rounded cosine >= 0.35 (the synthetic
    * embeddings top out near 0.51 — 0.35 is the upper tail, the "same
    * content re-embedded" stand-in). This is the dedup-by-embedding mode of
    * the pipeline: where q_sim_cosine_topk answers "nearest k", this
    * answers "which pairs ARE duplicates" for a downstream keep-one pass.
    *
    * Scale: the pair space is blocked on `label` (at 100 TB: an LSH/IVF
    * bucket id, cf. lshBucket/ivfAssign), so the join is (block size)^2 per
    * block, never N^2 global; the threshold filter sits directly on the
    * joined rows before any further shuffle. Rounding BEFORE the threshold
    * compare keeps the predicate bit-identical to the DuckDB oracle. */
  def q_sim_neardup_cosine(s: SparkSession, d: String): DataFrame = {
    val withNorm = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("label"), col("v"), l2norm(col("v")).as("nrm"))
    val a = withNorm.select(col("vec_id").as("u"), col("label"),
      col("v").as("uv"), col("nrm").as("unrm"))
    val b = withNorm.select(col("vec_id").as("w"), col("label"),
      col("v").as("wv"), col("nrm").as("wnrm"))
    a.join(b, Seq("label")).filter(col("u") < col("w"))
      .select(col("u").as("vec_id_a"), col("w").as("vec_id_b"),
        round(dot(col("uv"), col("wv")) / (col("unrm") * col("wnrm")), 6).as("cosine"))
      .filter(col("cosine") >= 0.35)
      .orderBy("vec_id_a", "vec_id_b")
  }

  /** Deterministic random-hyperplane family for sign-LSH: `nBits` fixed
    * 64-dim hyperplanes from a seeded PRNG, embedded as plan literals (the
    * broadcast-small-model pattern — at 100 TB the planes would ship the
    * same way). */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id of a vector column: bit j = sign(v · plane_j). */
  def lshBucket(v: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val lp = array(p.map(lit).toIndexedSeq: _*)
      when(dot(v, lp) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Deterministic seed selection shared by the spherical k-means and PQ
    * trainers: the k DISTINCT vectors with the smallest vec_ids PRESENT in
    * the frame — no assumption that ids 0..k-1 exist (filtered/offset
    * embedding frames train fine), and planted exact copies don't waste
    * codebook capacity on identical seeds that would start and stay dead.
    *
    * Mechanics: a bounded id-ranked pool (k·64 rows via TakeOrdered — a
    * map-side top-k, no full shuffle; seeding must not cost a pass keyed
    * on a 64-dim array at 100 TB) is de-duplicated by vector content on
    * the driver in id order. A degenerate pool with fewer than k distinct
    * vectors falls back to filling with the smallest remaining ids —
    * duplicate-seeded cells then behave exactly like empty cells (keep
    * their centroid), so training still runs. On a frame whose smallest k
    * ids are contiguous and distinct (every declared fixture) this is
    * bit-identical to the historical `vec_id < k` rule. */
  private[graft] def seedVectors(emb: DataFrame, k: Int): Array[(Long, Array[Double])] = {
    val pool = emb.select(col("vec_id"), col("v"))
      .orderBy(col("vec_id")).limit(k * 64).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
    pool.foreach { case (id, v) =>
      if (out.length < k && seen.add(v.toSeq)) out += ((id, v)) }
    if (out.length < k) {
      // degenerate pool: fewer than k distinct vectors in the id-ranked
      // window. Fill with duplicate-content rows so training still runs
      // (duplicate-seeded cells behave like empty cells), but say so —
      // a quietly duplicate-seeded codebook trains dead entries.
      System.err.println(s"[seedVectors] WARN: only ${out.length} distinct " +
        s"vectors in the ${pool.length}-row seed pool; filling the remaining " +
        s"${k - out.length} of $k seeds with duplicates (dead-cell risk)")
      val have = out.map(_._1).toSet
      pool.foreach { case (id, v) =>
        if (out.length < k && !have.contains(id)) out += ((id, v)) }
    }
    require(out.length == k,
      s"need at least $k vectors to seed, found ${out.length}")
    out.sortBy(_._1).toArray
  }

  /** IVF coarse quantizer seeds: deterministic centroids ([[seedVectors]] —
    * the k distinct vectors with smallest present ids), refined by
    * [[kmeansCentroids]] before use. Returns (cell_id, centroid, norm);
    * the cell id is the seed's vec_id.
    *
    * The centroid table is MODEL STATE, not data — nCentroids × dim doubles
    * — so it is collected once and embedded as plan literals (the same
    * broadcast-small-model pattern as the LSH hyperplanes). Assignment is
    * then a single narrow projection: all nCentroids cosines in one
    * `greatest(struct(sim, -cent_id)…)` argmax — ZERO shuffles and no
    * ×nCentroids row expansion (the round-2 form paid a full shuffle of
    * every vector through a groupBy argmax after a ×16 broadcast join). */
  private def centroids(emb: DataFrame, nCentroids: Int): Array[(Long, Array[Double], Double)] =
    seedVectors(emb, nCentroids).map { case (id, cv) =>
      (id, cv, math.sqrt(cv.map(x => x * x).sum))
    }

  /** Distributed spherical k-means (Lloyd): assign every vector to its
    * nearest centroid by cosine (the zero-shuffle literal-centroid argmax
    * projection), recompute each centroid as its cell's element-wise mean
    * (direction of the mean = the spherical centroid), repeat. Per
    * iteration: ONE map-side-combining shuffle keyed by cell (ArraySumAgg)
    * and one k-row collect — centroids stay model state (k × dim doubles),
    * vectors never leave the executors. Empty cells keep their previous
    * centroid (deterministic; no re-seeding randomness). This is the real
    * coarse quantizer the IVF path trains at scale — same dataflow at 100 TB,
    * with k·dim doubles the only driver-side object. */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int): Array[(Long, Array[Double], Double)] = {
    val vsum = udaf(ArraySumAgg)
    var cents = centroids(emb, k)
    for (_ <- 1 to iters) {
      val assigned = emb.select(col("v"),
        graft.functions.NearestCentroid.nearest(col("v"), cents.toSeq)
          .getField("cell").as("cell"))
      val next = assigned.groupBy("cell")
        .agg(vsum(col("v")).as("sum"), count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val sum = r.getSeq[Double](1).toArray
          val n = r.getLong(2).toDouble
          val mean = sum.map(_ / n)
          (r.getLong(0), mean, math.sqrt(mean.map(x => x * x).sum))
        }
      val byId = next.map(t => t._1 -> t).toMap
      cents = cents.map { case old @ (cid, _, _) => byId.getOrElse(cid, old) }
    }
    cents
  }

  private def centroidSims(cents: Array[(Long, Array[Double], Double)]): Seq[Column] =
    cents.toIndexedSeq.map { case (cid, cv, cnrm) =>
      val lcv = array(cv.map(lit).toIndexedSeq: _*)
      struct((dot(col("v"), lcv) / (col("nrm") * lit(cnrm))).as("sim"),
        lit(-cid).as("nid"))
    }

  def ivfAssign(emb: DataFrame, nCentroids: Int): DataFrame =
    ivfAssignWith(emb, centroids(emb, nCentroids))

  private[graft] def ivfAssignWith(emb: DataFrame, cents: Array[(Long, Array[Double], Double)]): DataFrame =
    emb.select(col("vec_id"), col("v"), col("nrm"),
      graft.functions.NearestCentroid.nearest(col("v"), cents.toSeq)
        .getField("cell").as("cell"))

  /** Multiprobe cell assignment: `nprobe` rows per vector — its nprobe
    * NEAREST cells by centroid cosine (the IVF search-quality knob: probe
    * the neighboring cells a boundary vector's true neighbors may live in).
    * Same zero-shuffle shape as ivfAssign: all centroid sims in one
    * projection, descending sort of the 16-struct array, slice + explode.
    * Ties break toward the smaller centroid id (nid = -cid). */
  def ivfProbeCells(emb: DataFrame, nCentroids: Int, nprobe: Int): DataFrame =
    ivfProbeCellsWith(emb, centroids(emb, nCentroids), nprobe)

  private[graft] def ivfProbeCellsWith(emb: DataFrame, cents: Array[(Long, Array[Double], Double)],
      nprobe: Int): DataFrame = {
    val sims = centroidSims(cents)
    emb.select(col("vec_id"), col("v"), col("nrm"),
      explode(transform(
        slice(reverse(array_sort(array(sims: _*))), 1, nprobe),
        s => -s.getField("nid"))).as("cell"))
  }

  /** IVF top-k ANN: candidates live in their one nearest cell, each probe
    * searches its `nprobe` nearest cells, exact cosine + top-3 within the
    * probed set. A candidate appears in exactly one cell, so the
    * (probe, candidate) pairs are duplicate-free by construction. */
  private[graft] def ivfTopK(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v")))
    // Lloyd-refined coarse quantizer (2 rounds): ONE k-row model-state
    // collect per round, shared across assignment and probing stages
    val cents = kmeansCentroids(emb, 16, iters = 2)
    val cands = ivfAssignWith(emb, cents)
      .select(col("vec_id").as("w"), col("v").as("wv"), col("nrm").as("wnrm"), col("cell"))
    val probes = ivfProbeCellsWith(emb.filter(col("vec_id") < 100), cents, nprobe)
      .select(col("vec_id").as("u"), col("v").as("uv"), col("nrm").as("unrm"), col("cell"))
    val pairs = probes.join(cands, Seq("cell")).filter(col("u") =!= col("w"))
      .select(col("u"), col("w"),
        round(dot(col("uv"), col("wv")) / (col("unrm") * col("wnrm")), 6).as("cosine"))
    val win = Window.partitionBy("u").orderBy(col("cosine").desc, col("w").asc)
    pairs.select(col("u"), col("w"), col("cosine"), row_number().over(win).as("rn"))
      .filter(col("rn") <= 3)
      .select(col("u").as("vec_id"), col("w").as("neighbor_id"), col("cosine"),
        col("rn").cast("int").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** [no-oracle] The IVF ANN path: assign all vectors to 16 coarse cells,
    * search each probe through its 2 nearest cells (multiprobe — recall
    * can only improve over nprobe=1, cost scales on the probe side only),
    * top-3 by cosine. Complements q_sim_ann_lsh: IVF adapts cell shapes to
    * the data where LSH planes are data-independent. Tests measure recall
    * vs the exact baseline and vs the single-probe run. */
  def q_sim_ann_ivf(s: SparkSession, d: String): DataFrame =
    ivfTopK(s, d, nprobe = 2)

  /** Exact GLOBAL top-k for the bounded probe sample — probes × N pairs
    * (a fixed sample times one linear candidate scan; the offline ground
    * truth an ANN audit ranks against, NOT an N² all-pairs). */
  private[graft] def bruteTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v")))
    val probes = emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("u"), col("v").as("uv"), col("nrm").as("unrm"))
    val cands = emb.select(col("vec_id").as("w"), col("v").as("wv"), col("nrm").as("wnrm"))
    // the PROBE side is the broadcast build side (bounded sample); building
    // on the candidate side would broadcast the whole lake at scale
    val pairs = broadcast(probes).crossJoin(cands).filter(col("u") =!= col("w"))
      .select(col("u"), col("w"),
        round(dot(col("uv"), col("wv")) / (col("unrm") * col("wnrm")), 6).as("cosine"))
    val win = Window.partitionBy("u").orderBy(col("cosine").desc, col("w").asc)
    pairs.select(col("u"), col("w"), col("cosine"), row_number().over(win).as("rn"))
      .filter(col("rn") <= k)
      .select(col("u").as("vec_id"), col("w").as("neighbor_id"))
  }

  /** [no-oracle] ANN recall audit — the offline recall@k estimate a
    * production deployment runs before trusting an index: exact global
    * top-3 for the 100-probe sample ([[bruteTopK]]) vs the declared
    * IVF(nprobe=2) top-3, one row per probe with the overlap count and
    * recall. Both rankings use the same (rounded-cosine desc, id asc)
    * tiebreak, so the set comparison is deterministic.
    *
    * Scale stance: the exact side costs |sample| × N (linear in the lake
    * for a fixed sample — this is how recall IS estimated at scale), the
    * IVF side is the index's own bounded probe; the compare is a
    * probe-keyed join over ≤ k·|sample| rows. TextAnalysisSpec pins
    * recall ∈ [0,1], determinism, and that probing ALL cells snaps recall
    * to exactly 1.0 for every probe (the audit audits itself). */
  def q_sim_ann_recall(s: SparkSession, d: String): DataFrame = {
    val truth = bruteTopK(s, d, k = 3)
    val approx = ivfTopK(s, d, nprobe = 2)
      .select(col("vec_id"), col("neighbor_id"))
    val found = truth.join(approx, Seq("vec_id", "neighbor_id"), "left_semi")
      .groupBy("vec_id").agg(count(lit(1)).as("n_found"))
    truth.groupBy("vec_id").agg(count(lit(1)).as("n_true"))
      .join(found, Seq("vec_id"), "left")
      .select(col("vec_id"), col("n_true"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        round(coalesce(col("n_found"), lit(0L)) / col("n_true"), 6).as("recall"))
      .orderBy("vec_id")
  }

  /** [no-oracle] Embedding clustering — the diversity-sampling /
    * coverage-analysis primitive of a training-data pipeline: 2-round
    * spherical k-means over all vectors, reporting per-cluster size and
    * mean cosine-to-centroid (the cohesion statistic). Scale: each Lloyd
    * round is one map-combining shuffle + a k-row collect; the final stats
    * pass is one more narrow projection + groupBy. KmeansSpec asserts the
    * partition property, count preservation, and that Lloyd refinement
    * does not lose cohesion vs the unrefined seeds. */
  def q_cluster_kmeans(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v")))
    val cents = kmeansCentroids(emb, 16, iters = 2)
    val nc = graft.functions.NearestCentroid.nearest(col("v"), cents.toSeq)
    emb.select(col("vec_id"),
        nc.getField("sim").as("cos"),
        nc.getField("cell").as("cluster"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("cos")), 6).as("avg_cos"))
      .orderBy("cluster")
  }

  /** [no-oracle] The ANN *scale path*: bucket every vector with 6-bit
    * sign-LSH, self-join per bucket, brute-force cosine only within the
    * bucket, top-3 per probe. Versus q_sim_cosine_topk (the exact baseline)
    * this replaces the label-blocked N_probe x N_label pair count with
    * N_probe x (N / 2^bits) — the knob that keeps 100 TB ANN sub-quadratic.
    * Tests measure recall against the exact baseline. */
  def q_sim_ann_lsh(s: SparkSession, d: String): DataFrame = {
    val planes = hyperplanes(nBits = 6, dim = 64)
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"), l2norm(col("v")).as("nrm"),
        lshBucket(col("v"), planes).as("bucket"))
    val probes = emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("u"), col("v").as("uv"), col("nrm").as("unrm"), col("bucket"))
    val cands = emb.select(col("vec_id").as("w"), col("v").as("wv"),
      col("nrm").as("wnrm"), col("bucket"))
    val pairs = probes.join(cands, Seq("bucket")).filter(col("u") =!= col("w"))
      .select(col("u"), col("w"),
        round(dot(col("uv"), col("wv")) / (col("unrm") * col("wnrm")), 6).as("cosine"))
    val win = Window.partitionBy("u").orderBy(col("cosine").desc, col("w").asc)
    pairs.select(col("u"), col("w"), col("cosine"), row_number().over(win).as("rn"))
      .filter(col("rn") <= 3)
      .select(col("u").as("vec_id"), col("w").as("neighbor_id"), col("cosine"),
        col("rn").cast("int").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** Int8 embedding quantization audit — the storage/serving compression
    * step of an embedding pipeline: symmetric per-vector int8 (scale =
    * max|v|/127, q = floor(v/scale + 0.5)), reporting the reconstruction
    * error profile per vector. floor(x + 0.5), not round(): engines
    * disagree on .5 ties (half-up vs banker's) but floor is IEEE-identical
    * everywhere, so the quantized integers — and hence the errors — match
    * DuckDB bit-for-bit before the display rounding.
    *
    * Scale stance: purely narrow column math over the array — zero
    * shuffles before the output sort; at 100 TB this is a map-only pass
    * whose output is one short row per vector (the audit report), never
    * the quantized payload itself. */
  def q_embed_quantize(s: SparkSession, d: String): DataFrame =
    quantizeAudit(Tables.embeddings(s, d))

  /** Core of [[q_embed_quantize]] over any (vec_id, label, embedding)
    * frame — separated so specs can drive the all-zero-vector path (maxabs
    * = 0 has no valid scale; such vectors are excluded, not NaN-poisoned),
    * which the synthetic embeddings never exercise. */
  private[graft] def quantizeAudit(raw: DataFrame): DataFrame = {
    val emb = raw
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("maxabs",
        aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))))
      // internal name `scale0` ≠ output alias `scale`: Spark 4 resolves a
      // same-named lateral alias in the select below in favor of the
      // ROUNDED output column, silently quantizing against the display
      // value (caught by the DuckDB oracle: max_err 0.00118 vs 0.001178)
      .withColumn("scale0", col("maxabs") / lit(127.0))
    val err = transform(col("v"),
      x => abs(floor(x / col("scale0") + lit(0.5)) * col("scale0") - x))
    emb.filter(col("maxabs") > 0)
      .select(col("vec_id"), col("label"),
        round(col("scale0"), 6).as("scale"),
        round(array_max(err), 6).as("max_err"),
        round(aggregate(err, lit(0.0), (a, e) => a + e * e) / size(col("v")), 9).as("mse"))
      .orderBy("vec_id")
      .limit(2000)
  }

  /** Train PQ codebooks: for each of `m` subspaces (dsub dims each), a
    * k-centroid EUCLIDEAN Lloyd fit (PQ quantizes raw subvectors, so the
    * geometry is L2, not the spherical k-means the IVF coarse quantizer
    * uses). ALL m subspaces train in ONE shuffle per iteration: the vector
    * explodes to (vec_id, j, subvector) rows, the assignment is a per-j
    * argmin projection over plan-literal centroids, and the update is a
    * single groupBy(j, code) array-sum — m·k rows of model state to the
    * driver per round, never the vectors. Seeds: [[seedVectors]] — the k
    * DISTINCT vectors with smallest present ids (deterministic, no id
    * contiguity assumed); empty cells keep their previous centroid.
    * Returns codebooks(j)(code) = centroid. */
  private[graft] def pqCodebooks(emb: DataFrame, m: Int, dsub: Int, k: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val s = emb.sparkSession
    val vsum = udaf(ArraySumAgg)
    val seeds = seedVectors(emb, k).map(_._2)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seeds.map(_.slice(j * dsub, (j + 1) * dsub)))
    for (_ <- 1 to iters) {
      // ONE kernel call codes every subspace; the update regroups on the
      // exploded (subspace, code) key with the subvector sliced in-plan
      val pc = graft.functions.PqFns.pqCodes(col("v"), books)
      val next = emb
        .select(col("v"), posexplode(pc.getField("codes")).as(Seq("j", "code")))
        .select(col("j"), col("code"),
          slice(col("v"), col("j") * dsub + 1, lit(dsub)).as("sv"))
        .groupBy("j", "code")
        .agg(vsum(col("sv")).as("sum"), count(lit(1)).as("n"))
        .collect()
      val byCell = next.map(r => (r.getInt(0), r.getLong(1).toInt) ->
        (r.getSeq[Double](2).toArray, r.getLong(3))).toMap
      books = Array.tabulate(m)(j => Array.tabulate(k)(c =>
        byCell.get((j, c)).map { case (sum, n) => sum.map(_ / n) }
          .getOrElse(books(j)(c))))
    }
    books
  }

  /** [no-oracle] Product-quantization audit — the OTHER embedding
    * compression next to [[q_embed_quantize]]'s int8, and the PQ half of
    * the IVF+PQ pairing that makes billion-vector ANN storable: 64 dims →
    * 8 subspaces × 8 dims, each subvector snapped to one of 16 per-subspace
    * Euclidean centroids (2 Lloyd rounds), i.e. 8 bytes... here 8 nibbles —
    * a 64× compression of the vector. Per vector: the joined code string
    * and the reconstruction MSE.
    *
    * Scale stance: training is one shuffle per Lloyd round with m·k·dsub
    * doubles of driver model state (the codebooks); the audit itself is a
    * single narrow projection over plan-literal codebooks — map-only, like
    * the int8 audit. PqSpec pins determinism, exact-copy code equality,
    * MSE ≥ 0, and Lloyd's monotone within-cluster-SS property (2 rounds
    * reconstruct no worse than the raw seeds). */
  def q_embed_pq(s: SparkSession, d: String): DataFrame =
    pqAudit(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      iters = 2)
      .orderBy("vec_id")
      .limit(5000)

  /** The audit over any (vec_id, v) frame with a training-round knob
    * (PqSpec compares iters=0 vs 2 for the Lloyd-monotonicity pin). */
  private[graft] def pqAudit(emb0: DataFrame, iters: Int): DataFrame = {
    val m = 8; val dsub = 8; val k = 16
    val emb = graft.graph.GraphOps.cutLineage(emb0)
    val books = pqCodebooks(emb, m, dsub, k, iters)
    // the native kernel ([[graft.functions.PqCodes]]) replaces the m·k
    // nested aggregate/zip_with least-struct trees the first cut used —
    // that form spent seconds in whole-stage codegen COMPILATION alone
    // (the two slowest bench rows); PqSpec pins bit-equality against it
    emb.select(col("vec_id"),
        graft.functions.PqFns.pqCodes(col("v"), books).as("pq"))
      .select(col("vec_id"),
        array_join(transform(col("pq.codes"), c => c.cast("string")), ",")
          .as("pq_code"),
        round(col("pq.err") / (m * dsub), 9).as("mse"))
  }

  /** [no-oracle] IVF+PQ ANN with asymmetric distance computation — the
    * composition that makes billion-vector search storable AND fast, and
    * the reason [[q_embed_pq]] exists: candidates live in their coarse
    * cell carrying only their 8-nibble PQ code (64× smaller than the
    * vector), probes search their 2 nearest cells, and ranking uses ADC —
    * the EXACT probe subvector against the candidate's RECONSTRUCTED
    * centroid, Σ_j ‖u_j − codebook_j[code_j]‖² — so only the quantization
    * error of the candidate side enters the estimate (the standard
    * IVF-ADC trade). Top-3 per probe by (ADC distance asc, id asc).
    *
    * Scale stance: the shuffled candidate payload is (cell, vec_id,
    * 8 codes) — the raw vectors never move; the ADC expression indexes
    * plan-literal codebooks (`element_at` on an array-of-arrays literal)
    * per candidate code, all inside one codegen projection; cells bound
    * the pair count exactly as in [[q_sim_ann_ivf]]. PqSpec pins
    * determinism and recall vs the exact-L2 baseline. */
  def q_sim_ann_ivfpq(s: SparkSession, d: String): DataFrame = {
    val m = 8; val dsub = 8; val k = 16
    val emb = graft.graph.GraphOps.cutLineage(
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", l2norm(col("v"))))
    val cents = kmeansCentroids(emb, 16, iters = 2)
    val books = pqCodebooks(emb, m, dsub, k, iters = 2)
    // candidate side: (cell, id, m nibble codes) — vectors stay behind;
    // the native PqCodes/AdcDistance kernels replace the first cut's m·k
    // HOF trees (seconds of codegen compile per query, see pqAudit note)
    val cands = ivfAssignWith(emb, cents)
      .select(col("vec_id").as("w"), col("cell"),
        graft.functions.PqFns.pqCodes(col("v"), books)
          .getField("codes").as("codes"))
    val probes = ivfProbeCellsWith(emb.filter(col("vec_id") < 100), cents, 2)
      .select(col("vec_id").as("u"), col("v").as("uv"), col("cell"))
    val pairs = probes.join(cands, Seq("cell")).filter(col("u") =!= col("w"))
      .select(col("u"), col("w"),
        round(graft.functions.PqFns.adcDistance(col("uv"), col("codes"), books), 9)
          .as("adc_dist"))
    val win = Window.partitionBy("u").orderBy(col("adc_dist").asc, col("w").asc)
    pairs.select(col("u"), col("w"), col("adc_dist"), row_number().over(win).as("rn"))
      .filter(col("rn") <= 3)
      .select(col("u").as("vec_id"), col("w").as("neighbor_id"),
        col("adc_dist"), col("rn").cast("int").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** [no-oracle] Semantic dedup — the SemDeDup shape (Abbas et al. 2023):
    * where the lexical family (exact/shingle/MinHash/SimHash) catches
    * copies of the same BYTES, this merges items whose EMBEDDINGS nearly
    * coincide (re-phrasings, re-crawls through format churn, translations
    * under a multilingual encoder). Pipeline: spherical k-means buckets
    * the space (the SemDeDup approximation — candidate pairs only within
    * a cluster), exact within-cluster cosine >= `threshold` proposes dup
    * edges, connected components canonicalize (label = min vec_id, the
    * deterministic keep-one rule), and every vector gets a row — members
    * of no dup pair are their own canonical.
    *
    * Scale stance: pair space is (cluster size)² per cluster, never N²
    * global — the cluster count is the knob (SemDeDup ran 50k clusters at
    * LAION scale); centroids are k×dim model state, assignment is the
    * zero-shuffle literal-centroid argmax, pairs are lineage-cut once
    * before the CC fixpoint, labels stay distributed end-to-end. A skewed
    * mega-cluster bounds at (its size)² — production either raises k or
    * sub-buckets hot cells (the LSH/IVF composition), both plan-level
    * knobs; this fixture needs neither. */
  def q_dedup_semantic(s: SparkSession, d: String): DataFrame =
    semanticDedupLabels(
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      nClusters = 16, threshold = 0.35)
      .orderBy("vec_id")
      .limit(5000)

  /** [no-oracle] The sub-bucketed twin of [[q_dedup_semantic]] — the
    * declared 100 TB shape: candidate blocks are (k-means cell, 4-bit
    * sign-LSH sub-bucket) instead of the cell alone, the hot-cell knob a
    * lake-scale run needs (Σ(block size)² drops ~16×; `graft.Run
    * semantic` measures it at 1M vectors). Sub-bucketing only REMOVES candidate
    * pairs, so its labeling REFINES the unbucketed one — every bucketed
    * cluster is contained in exactly one unbucketed cluster, and exact
    * copies (identical vectors → identical sign patterns, deterministically
    * the same sub-bucket) still merge; borderline near-threshold pairs may
    * split across sub-buckets, the recall trade the knob buys its
    * quadratic savings with. Both invariants are pinned in KmeansSpec. */
  def q_dedup_semantic_bucketed(s: SparkSession, d: String): DataFrame =
    semanticDedupLabels(
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      nClusters = 16, threshold = 0.35,
      subPlanes = hyperplanes(nBits = 4, dim = 64))
      .orderBy("vec_id")
      .limit(5000)

  /** The uncapped labeling over any (vec_id, v ARRAY<DOUBLE>) frame —
    * [[q_dedup_semantic]] adds only the display sort + limit. Zero-norm
    * vectors have no direction (cosine undefined): they join no pair and
    * come out as their own singleton canonicals.
    *
    * `subPlanes` is the hot-cell knob for lake-scale corpora: when
    * non-empty, the candidate block is (k-means cell, sign-LSH bucket
    * over these hyperplanes) instead of the cell alone — Σ(block size)²
    * drops by ~2^bits while near-identical vectors (the ≥ threshold
    * pairs a DEDUP cares about) still share every sign bit w.h.p.
    * `graft.Run semantic` measures the effect at 1M vectors. */
  private[graft] def semanticDedupLabels(emb0: DataFrame, nClusters: Int,
      threshold: Double, subPlanes: Seq[Array[Double]] = Nil): DataFrame =
    semanticDedupWithBlocks(emb0, nClusters, threshold, subPlanes)._1

  /** [[semanticDedupLabels]] plus the block assignment it used —
    * (vec_id, cell, blk) for every nonzero-norm vector. The assignment
    * frame is the labeler's own lineage-cut intermediate (no recompute);
    * `graft.Run semantic` reads it to DECOMPOSE recall losses into
    * cross-cell vs same-cell/cross-sub-bucket vs in-block misses. */
  private[graft] def semanticDedupWithBlocks(emb0: DataFrame, nClusters: Int,
      threshold: Double, subPlanes: Seq[Array[Double]] = Nil): (DataFrame, DataFrame) = {
    // cut once: the normalized frame is consumed by FIVE subtrees (two
    // Lloyd assignment passes, the cell assignment, both pair-join sides)
    // — without the cut each re-reads the source and recomputes norms
    val emb = graft.graph.GraphOps.cutLineage(
      emb0.withColumn("nrm", l2norm(col("v"))))
    val directed = emb.filter(col("nrm") > 0)
    val cents = kmeansCentroids(directed, nClusters, iters = 2)
    // cut the assignment too: both pair-join sides consume it, and the
    // nClusters-way argmax projection is the most expensive narrow stage
    val assigned = graft.graph.GraphOps.cutLineage(
      if (subPlanes.isEmpty)
        ivfAssignWith(directed, cents).withColumn("blk", col("cell"))
      else ivfAssignWith(directed, cents)
        .withColumn("blk", struct(col("cell"),
          lshBucket(col("v"), subPlanes).as("sub"))))
    val a = assigned.select(col("blk"), col("vec_id").as("u"),
      col("v").as("uv"), col("nrm").as("unrm"))
    val b = assigned.select(col("blk"), col("vec_id").as("w"),
      col("v").as("wv"), col("nrm").as("wnrm"))
    // 6-dp rounding BEFORE the threshold keeps the predicate reproducible
    // across plan changes (same convention as q_sim_neardup_cosine)
    val pairs = graft.graph.GraphOps.cutLineage(
      a.join(b, Seq("blk")).filter(col("u") < col("w"))
        .filter(round(dot(col("uv"), col("wv")) / (col("unrm") * col("wnrm")), 6)
          >= threshold)
        .select(col("u"), col("w")))
    val edges = pairs.select(col("u").as("src"), col("w").as("dst"))
      .union(pairs.select(col("w").as("src"), col("u").as("dst")))
    val labels = graft.graph.GraphOps.connectedComponents(edges)
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("n"))
    val out = emb.select(col("vec_id"))
      .join(labels.select(col("node").as("vec_id"), col("comp")), Seq("vec_id"), "left")
      .join(sizes.withColumnRenamed("comp", "comp2"),
        col("comp") === col("comp2"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("canonical_id"),
        coalesce(col("n"), lit(1L)).as("n_cluster"),
        (coalesce(col("comp"), col("vec_id")) === col("vec_id")).as("is_canonical"))
    (out, assigned.select(col("vec_id"), col("cell"), col("blk")))
  }
}

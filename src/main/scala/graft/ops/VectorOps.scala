package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline; MinHash-free LSH
  * (random-hyperplane signatures) and a centroid-bucketed IVF variant as
  * the 100 TB scale path (probe a few buckets instead of all vectors).
  * Dot products are pure `zip_with`/`aggregate` expressions. They are
  * CodegenFallback (interpreted lambdas), but a closure/UDF form is NOT
  * faster here: the per-call Catalyst→Scala array conversion costs more
  * than the interpreted per-element multiply it saves (measured 2.3×
  * SLOWER in the 16-centroid IVF shape, 0.273 → 0.619 s,
  * OPTIMIZATION_r07.md §9) — so the optimization lever for this family
  * is the aggregate CALL COUNT, not the per-call form (see the
  * redundancy-free building blocks below).
  */
object VectorOps {

  /** Σ aᵢ·bᵢ as a double, sequential fold in index order (deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** dot(a, b) / (‖a‖·‖b‖) with both norms supplied by the caller: the
    * one cosine body (see the building blocks below). */
  private[ops] def cosine(a: Column, aNorm: Column, b: Column, bNorm: Column): Column =
    dot(a, b) / (aNorm * bNorm)

  // --------------------------------------------------------------------
  // Redundancy-free cosine building blocks. Spark's higher-order array
  // functions (`aggregate`, `zip_with`) are CodegenFallback — every call
  // evaluates its lambda interpreted, per row — so the lever is not the
  // per-call cost (an unrolled element-wise expression chain was tried
  // and REGRESSED: 16 centroids × 64 unrolled terms made the expression
  // tree ~400× bigger and optimizer+codegen time dwarfed the interpreted
  // eval it saved) but the NUMBER of aggregate calls per row:
  //  - ‖v‖ of a stored vector is scored-constant-independent → compute it
  //    once per row/vector, not once per centroid or per candidate pair;
  //  - ‖c‖ of a constant (query vector, centroid, LSH plane) is a
  //    driver-side double, not a per-row aggregate.
  // Both substitutions are IEEE-identical to dot(a, c) / (norm(a) *
  // norm(c)): same fold order from 0.0, same float→double widening, same
  // ‖a‖·‖c‖ product order, correctly-rounded sqrt on both sides.
  // --------------------------------------------------------------------

  /** Driver-side [[dot]] with the same IEEE sequence (sequential sum from
    * 0.0 in index order, over `a.length` elements): the one local
    * accumulation loop of the vector operators. */
  def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Driver-side ‖q‖ with the same IEEE sequence as [[norm]] over the
    * equivalent literal array (correctly-rounded sqrt of [[dotLocal]]). */
  def normLocal(q: Array[Double]): Double = math.sqrt(dotLocal(q, q))

  /** [[cosine]] against a constant vector c, with ‖a‖ supplied by the
    * caller (compute it once per row) and ‖c‖ folded to a literal. */
  private def cosineLit(a: Column, aNorm: Column, c: Array[Float]): Column =
    cosine(a, aNorm, typedlit(c), lit(normLocal(c.map(_.toDouble))))

  /** Exact brute-force cosine top-k against one query vector (broadcast as
    * a literal array — no shuffle, one scan, TakeOrderedAndProject). */
  def cosineTopK(emb: DataFrame, query: Array[Float], k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val scored = emb.select(col("vec_id"), col("label"),
      round(cosineLit(col("embedding"), norm(col("embedding")), query), 4).as("cos"))
    excludeId.fold(scored)(id => scored.filter(col("vec_id") =!= id))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  // --------------------------------------------------------------------
  // Text → vector featurizer (hashing trick), deterministic + portable.
  // The reference's flagship `?q=` path embeds query + chunks with a model
  // (`/root/reference/sidecar/indexer.py:180-220`); offline we substitute a
  // seed-free hashed n-gram projection with the same pipeline shape:
  // embed(text) → score(query, doc) → min_score filter → top-k → meta join.
  // --------------------------------------------------------------------

  /** Sparse hashed word features: one row per (doc_id, bucket) with an
    * integer weight (signed counts — the hashing-trick sign bit keeps the
    * expectation of dot products unbiased). Pure expressions; md5-based so
    * DuckDB reproduces it bit-for-bit. Scale shape: only (doc_id, bucket,
    * wgt) triples shuffle — never text — and the aggregate is map-side
    * combinable. */
  def hashedFeatures(docs: DataFrame, dim: Int): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(TextOps.words(col("text"))).as("w"))
    val h = conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long")
    words.select(col("doc_id"), pmod(h, lit(dim)).as("bucket"),
        when(shiftright(h, 8).bitwiseAND(1) === 1, 1L).otherwise(-1L).as("s"))
      .groupBy("doc_id", "bucket").agg(sum("s").as("wgt"))
      .filter(col("wgt") =!= 0) // zero weights contribute nothing to dot or norm
  }

  /** Dense variant of [[hashedFeatures]] — an `array<double>` embedding
    * column usable by [[lshSignature]]/[[ivfAssign]] for the ANN scale
    * path. */
  def hashedDense(docs: DataFrame, dim: Int): DataFrame =
    hashedFeatures(docs, dim)
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("wgt")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i.cast("long")), lit(0L)).cast("double"))
          .as("embedding"))

  /** Driver-side featurization of a query string — EXACTLY the expression
    * pipeline of [[hashedFeatures]], operation for operation:
    * `lower` (Unicode simple mapping, locale-independent → Locale.ROOT),
    * `trim` (ASCII space 0x20 ONLY — Java's String.trim also strips
    * tabs/newlines and would diverge), `split("\\s+")` with limit -1
    * (keeps empty edge tokens exactly like Spark's split). */
  def featurizeLocal(text: String, dim: Int): Map[Int, Long] = {
    val lowered = text.toLowerCase(java.util.Locale.ROOT)
    var a = 0; var b = lowered.length
    while (a < b && lowered.charAt(a) == ' ') a += 1
    while (b > a && lowered.charAt(b - 1) == ' ') b -= 1
    val words = java.util.regex.Pattern.compile("\\s+")
      .split(lowered.substring(a, b), -1)
    words.foldLeft(Map.empty[Int, Long].withDefaultValue(0L)) { (m, w) =>
      val h = java.lang.Long.parseLong(graft.extract.TextUtil.md5Hex(w).take(8), 16)
      val bkt = (h % dim).toInt
      m.updated(bkt, m(bkt) + (if (((h >> 8) & 1) == 1) 1L else -1L))
    }.filter(_._2 != 0L)
  }

  /** End-to-end semantic search: embed the query (hashing trick), cosine
    * against hashed doc features, min_score filter, top-k, then join the
    * page meta — the reference's search pipeline shape
    * (`/root/reference/sidecar/main.py:501-591`). All-integer dot/norms so
    * the score is engine-portable; top-k runs BEFORE the meta join so the
    * k-row side broadcasts (J1 shape). */
  def searchTopK(docs: DataFrame, query: String, dim: Int = 64, k: Int = 20,
      minScoreX10000: Int = 0): DataFrame = {
    val qw = featurizeLocal(query, dim)
    require(qw.nonEmpty, "query has no features")
    val qn2 = qw.values.map(v => v * v).sum.toDouble
    val qwMap = typedlit(qw.map { case (b, w) => (b.toLong, w) })
    val scored = hashedFeatures(docs.select("doc_id", "text"), dim)
      .withColumn("qw", coalesce(element_at(qwMap, col("bucket")), lit(0L)))
      .groupBy("doc_id")
      .agg(sum(col("wgt") * col("qw")).as("dot"),
        sum(col("wgt") * col("wgt")).as("na2"))
      .withColumn("score_x10000",
        round(col("dot") / (sqrt(col("na2")) * sqrt(lit(qn2))) * 10000).cast("long"))
      .filter(col("score_x10000") >= minScoreX10000)
      .select("doc_id", "score_x10000")
      .orderBy(desc("score_x10000"), asc("doc_id"))
      .limit(k)
    docs.drop("text").join(broadcast(scored), Seq("doc_id"))
      .orderBy(desc("score_x10000"), asc("doc_id"))
  }

  /** Deterministic pseudo-random hyperplane component: plane `p`, dim `d`.
    * Same closed form is reproducible in any engine (public so the oracle
    * SQL generator can inline the identical constants). */
  def planeComponent(p: Int, d: Int): Double = {
    var h = (p * 131071L + d * 524287L + 12345L)
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    ((h & 0xFFFFL).toDouble / 65535.0) - 0.5
  }

  /** Hyperplane `p` in `dim` dimensions: the LSH planes and, from
    * `p = 1000`, the deterministic IVF centroids. */
  def plane(p: Int, dim: Int): Array[Double] = Array.tabulate(dim)(planeComponent(p, _))

  /** nPlanes-bit LSH signature per vector (sign of dot with each plane). */
  def lshSignature(emb: DataFrame, dim: Int, nPlanes: Int = 16): DataFrame = {
    val sig = (0 until nPlanes).map { p =>
      when(dot(col("embedding"), typedlit(plane(p, dim))) >= 0, shiftleft(lit(1L), p))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    emb.withColumn("lsh_sig", sig)
  }

  /** ANN via LSH buckets: candidates share a signature within `probeBits`
    * Hamming distance of the query's bucket (multi-probe), then exact
    * cosine re-rank. At scale this prunes the scan to a small fraction of
    * buckets — partition the stored table by `lsh_sig` for pushdown.
    * Near-orthogonal (random) vectors are the worst case for hyperplane
    * LSH; clustered real embeddings recall far better at the same probes. */
  def lshTopK(emb: DataFrame, dim: Int, query: Array[Float], k: Int,
      nPlanes: Int = 8, probeBits: Int = 3,
      excludeId: Option[Long] = None): DataFrame = {
    val sigd = lshSignature(emb, dim, nPlanes)
      .filter(col("lsh_sig").isin(lshProbes(dim, query, nPlanes, probeBits): _*))
    cosineTopK(sigd, query, k, excludeId)
  }

  /** The signatures [[lshTopK]] probes: every bucket within `probeBits`
    * Hamming distance of the query's own [[lshSignature]]. */
  private[ops] def lshProbes(dim: Int, query: Array[Float], nPlanes: Int,
      probeBits: Int): Seq[Long] = {
    val q = query.map(_.toDouble)
    val qSig = (0 until nPlanes).map { p =>
      if (dotLocal(plane(p, dim), q) >= 0) 1L << p else 0L
    }.reduce(_ | _)
    (0L until (1L << nPlanes))
      .filter(sig => java.lang.Long.bitCount(sig ^ qSig) <= probeBits)
  }

  /** IVF-style coarse quantization: assign each vector to the nearest of
    * `centroids` (small broadcast list); queries probe `nProbe` nearest
    * cells. Centroids here are data-independent deterministic probes — a
    * k-means step can swap in without changing the plan shape. */
  def ivfAssign(emb: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    // ‖embedding‖ is centroid-independent: compute it once per row in a
    // projection instead of once per centroid (k× fewer aggregate chains),
    // and fold each constant ‖c‖ to a driver-computed literal — both
    // IEEE-identical to recomputing norm(embedding) and norm(c) per cell.
    val scores = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosineLit(col("embedding"), col("_ne"), c).as("s"), lit(i).as("cell"))
    }
    emb.withColumn("_ne", norm(col("embedding")))
      .withColumn("cell", greatest(scores: _*).getField("cell"))
      .drop("_ne")
  }

  /** Deterministic unit-ish centroids from the hyperplane generator. */
  def deterministicCentroids(nCells: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(nCells)(c => plane(c + 1000, dim).map(_.toFloat))

  /** One Lloyd (spherical k-means) refinement pass: assign every vector to
    * its nearest centroid by cosine, recompute each cell's mean, and
    * L2-normalize it; cells that captured no vectors keep their previous
    * centroid. One distributed pass — per-dim partial sums via `dim`
    * element_at aggregates (map-side combinable, NO explode: only k rows
    * of (cell, dim sums) shuffle) — then the k×dim codebook collects to
    * the driver, which is correct at any corpus size because the IVF
    * codebook must broadcast anyway. Repeat for more iterations. */
  def lloydRefine(emb: DataFrame, centroids: Array[Array[Float]]): Array[Array[Float]] = {
    val dim = centroids.head.length
    val assigned = ivfAssign(emb, centroids)
    val aggs = (0 until dim).map(i =>
      sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i")) :+
      count(lit(1)).as("n")
    val rows = assigned.groupBy("cell").agg(aggs.head, aggs.tail: _*).collect()
    val out = centroids.map(_.clone())
    rows.foreach { r =>
      val cell = r.getInt(0)
      val n = r.getLong(dim + 1).toDouble
      val mean = Array.tabulate(dim)(i => r.getDouble(i + 1) / n)
      val norm = normLocal(mean)
      if (norm > 0) out(cell) = mean.map(v => (v / norm).toFloat)
    }
    out
  }

  /** IVF ANN: assign vectors to cells once (store partitioned by `cell` at
    * scale → partition pruning), probe the `nProbe` cells nearest to the
    * query, exact-rerank inside them. `lloydIters` Lloyd passes refine the
    * deterministic seed centroids into data-dependent ones (real recall on
    * clustered data); the oracle-checked query keeps `lloydIters = 0` so
    * the DuckDB mirror can inline the same constants. */
  def ivfTopK(emb: DataFrame, dim: Int, query: Array[Float], k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      excludeId: Option[Long] = None, lloydIters: Int = 0): DataFrame = {
    val centroids = (0 until lloydIters).foldLeft(
      deterministicCentroids(nCells, dim))((c, _) => lloydRefine(emb, c))
    val assigned = ivfAssign(emb, centroids)
      .filter(col("cell").isin(probeCells(centroids, query, nProbe).toSeq: _*))
    cosineTopK(assigned, query, k, excludeId)
  }

  /** The `nProbe` cells [[ivfTopK]] probes, most similar first: driver-side
    * cosine on [[dotLocal]], bit-for-bit the expression cosine, so the
    * probe-cell selection agrees with the oracle. */
  private[ops] def probeCells(centroids: Array[Array[Float]], query: Array[Float],
      nProbe: Int): Array[Int] = {
    val q = query.map(_.toDouble)
    val nq = normLocal(q)
    centroids.map(_.map(_.toDouble)).zipWithIndex
      .sortBy { case (c, _) => -(dotLocal(c, q) / (normLocal(c) * nq)) }
      .take(nProbe).map(_._2)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection (shingle → minhash → band →
  * bucket-join), the standard web-scale dedup pipeline. Signatures are
  * k min-aggregations over xxhash64(shingle ⊕ seed) — pure expressions,
  * map-side combinable, one shuffle of (doc_id, 8-byte hashes).
  */
object Dedup {

  /** k-permutation MinHash signature per document over word n-gram
    * shingles. `maxDfPct` drops shingles in more than that percent of the
    * documents before hashing (boilerplate shingles both skew LSH buckets
    * quadratic and inflate similarity of unrelated docs — dropping them is
    * the standard web-scale setup; see TextOps.shingles). */
  def minHashSignatures(docs: DataFrame, n: Int = 3, k: Int = 16,
      portable: Boolean = false, maxDfPct: Option[Int] = None): DataFrame = {
    val shingled = TextOps.shingles(docs, n, maxDfPct)
    val mins = (0 until k).map(j => min(perm(j, portable)).as(s"mh$j"))
    shingled.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** j-th permutation hash of a shingle hash. Production: xxhash64(sh, j).
    * Portable: 60-bit md5 prefix of "j:sh" — bit-identical in DuckDB
    * (`('0x'||substr(md5(j||':'||sh),1,15))::BIGINT`), used so the whole
    * minhash pipeline can be oracle-checked. */
  private def perm(j: Int, portable: Boolean): Column =
    if (portable)
      conv(substring(md5(concat(lit(s"$j:"), col("sh"))), 1, 15), 16, 10).cast("long")
    else xxhash64(col("sh"), lit(j))

  /** LSH banding: `bands` bands of `k/bands` rows each; two docs are
    * candidates if any band agrees fully. Returns exact-verified pairs with
    * estimated Jaccard = fraction of agreeing minhashes (x1000, integer).
    *
    * Scale shape: the band self-join shuffles ONLY the narrow
    * (doc_id, band, key) triple — full k-element signatures are re-joined
    * for the (much smaller) candidate set afterwards, so a hot band bucket
    * costs 24 bytes/row instead of 24 + 8k. The signature table is
    * persisted (doc_id + k longs ≈ 140 B/doc — disk-spillable, tiny next
    * to the corpus) so shingling runs once, not three times. */
  def minHashPairs(docs: DataFrame, n: Int = 3, k: Int = 16, bands: Int = 4,
      minEstJaccardX1000: Int = 500, portable: Boolean = false,
      maxDfPct: Option[Int] = None): DataFrame =
    minHashPairsPlanned(docs, n, k, bands, minEstJaccardX1000, portable,
      maxDfPct) match { case (frame, sigs) =>
        try frame.localCheckpoint(true) finally sigs.unpersist()
      }

  /** [[minHashPairs]] WITHOUT the final eager checkpoint, plus the live
    * signature cache handle — dev/plan-inspection seam (the checkpointed
    * public result hides the interesting physical plan behind a Scan
    * ExistingRDD). Caller owns the returned cache's lifecycle. */
  private[graft] def minHashPairsPlanned(docs: DataFrame, n: Int = 3,
      k: Int = 16, bands: Int = 4, minEstJaccardX1000: Int = 500,
      portable: Boolean = false, maxDfPct: Option[Int] = None)
      : (DataFrame, DataFrame) = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    // persisted, reused three times (band explode + both candidate joins);
    // the operator owns the lifecycle: the small above-threshold pair
    // result is materialized via localCheckpoint and the signature cache
    // is released before returning — see ngramJaccardPairs.
    val sigs = minHashSignatures(docs, n, k, portable, maxDfPct)
      .select(col("doc_id"), array((0 until k).map(j => col(s"mh$j")): _*).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val frame = {
      def bandKey(b: Int): Column = {
        val parts = (b * r until (b + 1) * r).map(j => element_at(col("sig"), j + 1))
        if (portable) substring(md5(concat_ws(",", parts: _*)), 1, 16)
        else xxhash64(parts: _*).cast("string")
      }
      val cand = bandJoin(sigs, Nil, (0 until bands).map(bandKey))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val agree = (0 until k).map(j =>
        when(element_at(col("sa"), j + 1) === element_at(col("sb"), j + 1), 1)
          .otherwise(0)).reduce(_ + _)
      cand
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (agree * 1000 / k).cast("long").as("est_jaccard_x1000"))
        .filter(col("est_jaccard_x1000") >= minEstJaccardX1000)
    }
    (frame, sigs)
  }

  /** The LSH band self-join: explode one `(band, key)` struct per band
    * (`keys(b)` is band b's key), project `doc_id`, the `carried` columns
    * and the band and key, and join the rows with themselves on equal band
    * and key with `a.doc_id < b.doc_id`. Callers select from sides `a`
    * and `b`; a pair agreeing in several bands appears once per band. */
  private[ops] def bandJoin(rows: DataFrame, carried: Seq[String],
      keys: Seq[Column]): DataFrame = {
    val kept = col("doc_id") +: carried.map(col)
    val bk = explode(array(keys.zipWithIndex.map { case (k, b) =>
      struct(lit(b).as("band"), k.as("key")) }: _*)).as("bk")
    val banded = rows.select(kept :+ bk: _*)
      .select(kept :+ col("bk.band") :+ col("bk.key"): _*)
    banded.as("a").join(banded.as("b"),
      col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
  }

  /** Connected components over a near-dup pair set — the step that turns
    * pairwise candidates into DEDUP CLUSTERS so a curation pipeline can
    * keep one canonical per cluster (pairs alone under-delete: a≈b, b≈c
    * must collapse to ONE survivor even when a≉c directly).
    * Input: (doc_a, doc_b) pairs (any extra columns ignored). Output:
    * (doc_id, cluster_id) for every doc that appears in a pair, with
    * cluster_id = min doc_id of its component.
    *
    * Algorithm: alternating large-star / small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", ACM SoCC
    * 2014; the same public algorithm family behind GraphFrames' default
    * CC). Round count is O(log n) in the largest component size,
    * INDEPENDENT of its diameter, so a chain-shaped family (a document
    * edited iteratively d times) costs ~2·log₂ d rounds. Round shape:
    * each round is two edge rewrites over the canonical (big, small)
    * edge set —
    *
    *  - large-star: every node attaches its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node attaches its smaller-or-equal neighbors
    *    (and itself) to that minimum —
    *
    * each a (groupBy min + join + distinct) over narrow (long, long)
    * rows, localCheckpointed so iterative lineage stays flat. The edge
    * set monotonically contracts toward disjoint stars centered at each
    * component's minimum id; convergence = edge-set fixpoint, detected
    * distributed (count + except-limit-1, no collect). A depth-200
    * chain converges in ~14 rounds (pinned in OpsSpec); 10⁵-node chains
    * in ~2·17 (see ScaleSmoke). Non-convergence within `maxIters`
    * fails loudly — truncated contraction would return wrong labels. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    starRounds(pairs, maxIters)._1

  /** [[connectedComponents]] plus the round count it took (for tests
    * and smoke stages that pin the O(log n) convergence bound). */
  private[graft] def starRounds(pairs: DataFrame, maxIters: Int)
      : (DataFrame, Int) = {
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // LAZY localCheckpoint + count(): the count materializes the
    // checkpoint, so each round costs ONE job instead of an eager
    // checkpoint job followed by a count job
    var cur = pairs.select(
        greatest(col("doc_a"), col("doc_b")).as("big"),
        least(col("doc_a"), col("doc_b")).as("small"))
      .filter(col("big") =!= col("small"))
      .distinct()
      .localCheckpoint(false)
    var rounds = 0
    var curCount = cur.count()
    var converged = curCount == 0
    while (!converged) {
      rounds += 1
      if (rounds > maxIters)
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxIters rounds; " +
            "star contraction needs ~2·log2(component size) rounds — raise maxIters")
      val next = starRound(cur).localCheckpoint(false)
      // exact fixpoint test: both sides are distinct sets, so equal
      // cardinality + empty one-sided difference ⇒ set equality (the
      // previous round's count is carried, not recomputed — one count
      // job per round, not two)
      val nextCount = next.count()
      converged = nextCount == curCount && next.except(cur).limit(1).isEmpty
      curCount = nextCount
      cur = next
    }
    // at the fixpoint the edge set is a disjoint union of stars rooted at
    // each component's min id: every non-root node has exactly one edge
    // (node, root). The min() is belt-and-braces, not load-bearing.
    val roots = cur.groupBy(col("big").as("doc_id"))
      .agg(min(col("small")).as("cluster_id"))
    val labels = nodes.join(roots, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    (labels, rounds)
  }

  /** One contraction round — the per-iteration plan unit (exposed for
    * plan inspection; see plans/r07/inner_cc_round_*.txt). */
  private[graft] def starRound(edges: DataFrame): DataFrame =
    smallStar(largeStar(edges))

  /** Large-star rewrite: for each node u (over symmetrized edges), emit
    * (v, min(Γ⁺(u))) for every neighbor v > u. Output stays canonical
    * (big, small) since min ≤ u < v.
    *
    * Shape: the neighborhood min is a `min() OVER (PARTITION BY u)`
    * window instead of the groupBy+self-join it replaces — ONE exchange
    * of the symmetrized edges instead of two (the join's probe side
    * re-shuffled sym a second time) and no join operator at all; a
    * sort-merge join would have paid the same per-partition sort the
    * window pays. Output is NOT deduplicated: duplicates cannot arise
    * here (one output row per canonical input edge), and the downstream
    * [[smallStar]] is duplicate-insensitive (its aggregate is a min; its
    * own output dedups), so the standalone `.distinct()` exchange this
    * stage used to pay was pure overhead. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("big").as("u"), col("small").as("v"))
      .unionByName(edges.select(col("small").as("u"), col("big").as("v")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u")
    sym.withColumn("m", least(col("u"), min(col("v")).over(w)))
      .filter(col("v") > col("u"))
      .select(col("v").as("big"), col("m").as("small"))
  }

  /** Small-star rewrite: for each node u over its smaller neighbors N
    * (edges arrive canonical big→small, so grouping by `big` IS the
    * smaller-neighborhood view), emit (v, min(N)) for v ∈ N ∪ {u},
    * v ≠ min(N). min(N) < u and min(N) < v, so output stays canonical.
    *
    * Same window-instead-of-groupBy+join shape as [[largeStar]]; the
    * center edge (u, min(N)) is emitted once per input row rather than
    * once per group, which the closing `.distinct()` (needed anyway for
    * the canonical edge-set semantics the fixpoint test relies on)
    * already absorbs. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("big")
    // leaves and centers are emitted from ONE pass via explode — a
    // leaves.union(centers) would duplicate the whole upstream
    // large-star pipeline into both branches (AQE reuses the shuffle
    // stages, but the window/sort above them would still run twice)
    val withM = edges.withColumn("m", min(col("small")).over(w))
    val center = struct(col("big"), col("m").as("small"))
    val leaf = struct(col("small").as("big"), col("m").as("small"))
    withM.select(explode(when(col("small") =!= col("m"), array(leaf, center))
        .otherwise(array(center))).as("e"))
      .select(col("e.big").as("big"), col("e.small").as("small"))
      .distinct()
  }

  /** [[connectedComponents]] over [[minHashPairs]], labeling EVERY
    * document (singletons keep their own id) — the canonical-selection
    * input for near-dup curation: keep `doc_id == cluster_id`. */
  def neardupClusters(docs: DataFrame, n: Int = 3, k: Int = 16,
      bands: Int = 4, minEstJaccardX1000: Int = 500,
      portable: Boolean = false, maxDfPct: Option[Int] = None): DataFrame = {
    val cc = connectedComponents(
      minHashPairs(docs, n, k, bands, minEstJaccardX1000,
        portable = portable, maxDfPct = maxDfPct))
    docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Embedding-cosine near-dup: pairs with cosine ≥ threshold among LSH
    * bucket collisions (scale path: no O(n²) cross join; the signature
    * bucket join prunes candidates). */
  def embeddingNearDups(emb: DataFrame, dim: Int, thresholdX10000: Int = 9500,
      nPlanes: Int = 12): DataFrame = {
    // ‖v‖ is computed once per VECTOR before the bucket self-join instead
    // of twice per candidate PAIR (bucket collisions are quadratic in
    // bucket size — the pair side is the expensive place to do per-vector
    // work): one interpreted aggregate per pair instead of three.
    // IEEE-identical to recomputing both norms per pair: same fold
    // order, ‖a‖·‖b‖ product order preserved.
    val sigd = VectorOps.lshSignature(emb, dim, nPlanes)
      .select(col("vec_id"), col("embedding"), col("lsh_sig"),
        VectorOps.norm(col("embedding")).as("_n"))
    val cos = VectorOps.cosine(col("a.embedding"), col("a._n"),
      col("b.embedding"), col("b._n"))
    sigd.as("a").join(sigd.as("b"),
        col("a.lsh_sig") === col("b.lsh_sig") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cos * 10000).cast("long").as("cos_x10000"))
      .filter(col("cos_x10000") >= thresholdX10000)
  }
}

package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("ops-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def docsOf(texts: (Long, String)*) = {
    val s = spark; import s.implicits._
    texts.toSeq.toDF("doc_id", "text")
  }

  test("occurrences counts literal substrings exactly") {
    val s = spark; import s.implicits._
    val df = Seq(("xmergeymergez", 1L)).toDF("text", "id")
    val n = df.select(TextOps.occurrences(col("text"), "merge")).collect().head.getInt(0)
    assert(n == 2)
  }

  test("exact dedup: dup_count sums to table size; identical texts collapse") {
    val d = docsOf(1L -> "alpha beta  gamma", 2L -> "alpha beta gamma", 3L -> "other words")
    val out = TextOps.exactDedup(d).collect()
    assert(out.map(_.getLong(2)).sum == 3) // whitespace-normalized 1 and 2 collapse
    assert(out.length == 2)
    val dup = out.find(_.getLong(2) == 2).get
    assert(dup.getLong(1) == 1L) // canonical = min doc_id
  }

  test("n-gram jaccard: identical docs => 1000; disjoint absent") {
    val text = "one two three four five six seven eight"
    val d = docsOf(1L -> text, 2L -> text, 3L -> "completely different words entirely here now ok")
    val pairs = TextOps.ngramJaccardPairs(d, n = 3, thresholdX1000 = 300).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getLong(2) == 1000L)
  }

  test("wordNgrams: docs shorter than n yield empty shingle sets (no ANSI error)") {
    val d = docsOf(1L -> "one two", 2L -> "", 3L -> " ",
      4L -> "one two three four five six")
    // none of these may throw INVALID_INDEX_OF_ZERO under Spark 4 ANSI mode
    val pairs = TextOps.ngramJaccardPairs(d, n = 3, thresholdX1000 = 0).collect()
    assert(pairs.isEmpty) // doc 4 is the only one with shingles
    val sigs = Dedup.minHashSignatures(d, n = 3, k = 4).collect()
    assert(sigs.map(_.getLong(0)).toSet == Set(4L))
  }

  test("wordNgramsFromWords: single-pass closure == the transform expression (fuzz)") {
    // the r07 closure swap must be output-identical to the higher-order
    // expression it replaced, for every n and every word-count edge
    import org.apache.spark.sql.functions._
    def legacy(words: org.apache.spark.sql.Column, n: Int) = {
      val idx = sequence(lit(0), size(words) - n)
      when(size(words) >= n,
        transform(idx, i => concat_ws(" ", (0 until n).map(j => element_at(words, i + j + 1)): _*)))
        .otherwise(array().cast("array<string>"))
    }
    val rnd = new scala.util.Random(7)
    val texts = (1 to 200).map { i =>
      val words = Seq.fill(rnd.nextInt(12))(rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString)
      i.toLong -> words.mkString(" ")
    } ++ Seq(201L -> "", 202L -> " ", 203L -> "solo", 204L -> "twoé wörds")
    val d = docsOf(texts: _*)
    for (n <- 1 to 4) {
      val ws = split(trim(lower(col("text"))), "\\s+")
      val rows = d.select(col("doc_id"),
          TextOps.wordNgramsFromWords(ws, n).as("got"), legacy(ws, n).as("want"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n doc=${r.getLong(0)}")
      }
    }
    // NULL words never come out of split, but wordNgramsFromWords is
    // public: concat_ws skips a NULL with no separator, so must the closure
    val s = spark; import s.implicits._
    val nullWords: Seq[(Long, Seq[String])] = (1 to 100).map { i =>
      i.toLong -> Seq.fill(rnd.nextInt(8))(
        if (rnd.nextInt(3) == 0) null else rnd.alphanumeric.take(1 + rnd.nextInt(4)).mkString)
    } ++ Seq(101L -> Seq[String](null, null, null), 102L -> Seq("", null, "x"),
      103L -> Seq[String](null, "a", "b"), 104L -> null)
    val wd = nullWords.toDF("doc_id", "ws")
    for (n <- 1 to 4) {
      wd.select(col("doc_id"), TextOps.wordNgramsFromWords(col("ws"), n).as("got"),
          legacy(col("ws"), n).as("want"))
        .collect().foreach { r =>
          assert(r.getSeq[String](1) == r.getSeq[String](2),
            s"n=$n null-word doc=${r.getLong(0)}")
        }
    }
  }

  test("df-capped shingles drop boilerplate from the pair join") {
    val boiler = "subscribe to our newsletter today"
    val d = docsOf(
      1L -> s"alpha beta gamma delta epsilon $boiler",
      2L -> s"alpha beta gamma delta epsilon zeta $boiler",
      3L -> s"totally different content one $boiler",
      4L -> s"other unrelated words entirely $boiler")
    // uncapped: the shared boilerplate phrase links all six pairs
    val uncapped = TextOps.ngramJaccardPairs(d, n = 3, thresholdX1000 = 1).collect()
    assert(uncapped.length == 6)
    // 5% cap over 4 docs = greatest(floor(4·5/100), 2) = 2: boilerplate
    // shingles (df=4) drop; only the real near-dup pair (1,2) survives,
    // with Jaccard over the retained sets (3/8)
    val capped = TextOps.ngramJaccardPairs(d, n = 3, thresholdX1000 = 300,
      maxDfPct = Some(5)).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(capped.head.getLong(2) == 375L)
  }

  test("minhash LSH: identical docs are candidates with est 1000") {
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    val d = docsOf(10L -> text, 20L -> text,
      30L -> "unrelated content about spark shuffle partitions and codegen stages")
    val pairs = Dedup.minHashPairs(d, n = 3, k = 16, bands = 4, minEstJaccardX1000 = 500)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((10L, 20L)))
    assert(pairs.head.getLong(2) == 1000L)
  }

  test("near-dup operators own their cache lifecycle (no cacheManager residue)") {
    val text = "one two three four five six seven eight"
    val d = docsOf(1L -> text, 2L -> text,
      3L -> "completely different words entirely here now ok")
    TextOps.ngramJaccardPairs(d, n = 3, thresholdX1000 = 0).collect()
    Dedup.minHashPairs(d, n = 3, k = 16, bands = 4, minEstJaccardX1000 = 0).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "pair operators must release their persisted intermediates")
  }

  test("minhash est jaccard correlates with true jaccard on real docs") {
    val est = Dedup.minHashPairs(docs, n = 3, k = 16, bands = 4, minEstJaccardX1000 = 0)
      .limit(50).collect()
    // bucket-collision candidates on near-random docs should still have
    // nonnegative estimates and valid ranges
    est.foreach { r => assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000) }
  }

  test("simhash: identical text => identical hash; near-identical => small hamming") {
    val a = "spark partitions shuffle codegen tungsten catalyst optimizer rows columns"
    val d = docsOf(1L -> a, 2L -> a, 3L -> (a + " extra"))
    val out = TextOps.simHash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(java.lang.Long.bitCount(out(1L) ^ out(3L)) <= 16)
    val pairs = TextOps.simHashPairs(d, maxHamming = 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getInt(2) == 0))
  }

  test("portable simhash/minhash agree with the fast path's structure") {
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    val d = docsOf(10L -> text, 20L -> text,
      30L -> "unrelated content about spark shuffle partitions and codegen stages")
    // portable simhash: identical docs get identical (hi, lo) halves in [0, 2^32)
    val sh = TextOps.simHash(d, portable = true).collect()
      .map(r => r.getLong(0) -> (r.getLong(1) >>> 32, r.getLong(1) & 0xFFFFFFFFL)).toMap
    assert(sh(10L) == sh(20L))
    assert(sh.values.forall { case (hi, lo) =>
      hi >= 0 && hi < (1L << 32) && lo >= 0 && lo < (1L << 32) })
    // portable minhash finds the identical pair with est 1000, like fast mode
    val pairs = Dedup.minHashPairs(d, n = 3, k = 16, bands = 4,
      minEstJaccardX1000 = 500, portable = true).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((10L, 20L)))
    assert(pairs.head.getLong(2) == 1000L)
  }

  test("one Lloyd pass pulls IVF centroids toward real clusters and keeps recall") {
    val s = spark; import s.implicits._
    val dim = 16; val nClusters = 4
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def baseVec(c: Int) = Array.tabulate(dim)(d => VectorOps.planeComponent(c + 500, d).toFloat)
    // 200 vectors in 4 tight-ish clusters with deterministic jitter
    val vecs = (0 until 200).map { i =>
      val c = i % nClusters
      val v = Array.tabulate(dim)(d =>
        (baseVec(c)(d) + 0.25 * VectorOps.planeComponent(i + 9000, d)).toFloat)
      (i.toLong, s"c$c", v)
    }
    val emb = vecs.toDF("vec_id", "label", "embedding")
    val seed = VectorOps.deterministicCentroids(8, dim)
    val refined = VectorOps.lloydRefine(emb, seed)
    // each cluster's best-matching centroid improves (centroids moved
    // toward per-cell means of the actual data)
    def fit(cents: Array[Array[Float]]): Double =
      (0 until nClusters).map(c => cents.map(ct => cos(ct, baseVec(c))).max).min
    assert(fit(refined) > fit(seed), s"fit ${fit(refined)} !> ${fit(seed)}")
    // recall vs brute force does not regress and is high after refinement
    val query = vecs(4)._3
    val exact = VectorOps.cosineTopK(emb, query, k = 10, excludeId = Some(4L))
      .collect().map(_.getLong(0)).toSet
    def recall(iters: Int): Double = {
      val got = VectorOps.ivfTopK(emb, dim, query, k = 10, nCells = 8, nProbe = 2,
        excludeId = Some(4L), lloydIters = iters)
        .collect().map(_.getLong(0)).toSet
      got.intersect(exact).size / 10.0
    }
    val r0 = recall(0); val r1 = recall(1)
    assert(r1 >= r0, s"refined recall $r1 < unrefined $r0")
    assert(r1 >= 0.8, s"refined recall $r1 (unrefined $r0)")
  }

  test("hashed featurizer: query matches its own text with score 10000") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, "spark merge hash table scan", "en", "src0", 27L),
      (2L, "completely unrelated prose about gardening and flowers", "en", "src1", 54L),
      (3L, "spark hash table merge scan extras appended here", "en", "src2", 48L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = VectorOps.searchTopK(d, "spark merge hash table scan",
      dim = 64, k = 3, minScoreX10000 = 0).collect()
    // doc 1 IS the query (word-order invariant) => cosine exactly 1
    assert(out.head.getLong(0) == 1L)
    assert(out.head.getLong(4) == 10000L)
    // doc 3 shares all query words => ranks right behind the exact match;
    // unrelated doc 2 either scores below it or is cut by the min_score 0
    // filter (signed hashing can go negative)
    val ranks = out.map(_.getLong(0)).toSeq
    assert(ranks.take(2) == Seq(1L, 3L))
  }

  test("hashedDense feeds the ANN path: identical text => identical vector") {
    val d = docsOf(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "something else entirely")
    val vecs = VectorOps.hashedDense(d, dim = 32).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(vecs(1L) == vecs(2L))
    assert(vecs(1L) != vecs(3L))
    assert(vecs(1L).length == 32)
  }

  test("cosineTopK: hand-computed ordering") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 0), (4L, Array(-1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val top = VectorOps.cosineTopK(df, Array(1.0f, 0.0f), k = 3).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(top.head.getDouble(2) == 1.0)
  }

  test("lsh top-k recall vs brute force on real embeddings") {
    val q = emb.filter(col("vec_id") === 7).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    val exact = VectorOps.cosineTopK(emb, q, 20, excludeId = Some(7L))
      .collect().map(_.getLong(0)).toSet
    val approx = VectorOps.lshTopK(emb, 64, q, 20, nPlanes = 8, probeBits = 3,
      excludeId = Some(7L)).collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(approx.size <= 20)
    // these synthetic embeddings are near-random (max pairwise cos ~0.5) —
    // LSH's worst case; clustered real data recalls far higher
    assert(recall >= 0.35, s"recall $recall too low")
  }

  test("ivf top-k: cell partition is total; probing recalls a fair share") {
    val centroids = VectorOps.deterministicCentroids(16, 64)
    val assigned = VectorOps.ivfAssign(emb, centroids)
    assert(assigned.count() == emb.count()) // every vector in exactly one cell
    val cells = assigned.select("cell").distinct().collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < 16))
    val q = emb.filter(col("vec_id") === 3).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    val exact = VectorOps.cosineTopK(emb, q, 20, excludeId = Some(3L))
      .collect().map(_.getLong(0)).toSet
    val approx = VectorOps.ivfTopK(emb, 64, q, 20, nCells = 16, nProbe = 6,
      excludeId = Some(3L)).collect().map(_.getLong(0)).toSet
    assert(approx.size <= 20 && approx.nonEmpty)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"ivf recall $recall") // random vectors: worst case
  }

  test("connected components collapse transitive near-dup chains (star contraction)") {
    val s = spark; import s.implicits._
    // chain 1-2-3 (1≈2, 2≈3, but 1 never pairs with 3 directly),
    // separate pair 7-9, singleton edge-less docs absent from pairs
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    val cc = Dedup.connectedComponents(pairs, 50).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == expected)
    // a longer path exercises multi-round behavior: star alternates
    val chain = (0 until 6).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val cc2 = Dedup.connectedComponents(chain, 50).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc2.values.toSet == Set(0L) && cc2.size == 7)
    assert(spark.sharedState.cacheManager.isEmpty,
      "operator must release every persisted generation")
    // an iteration cap that would truncate the contraction must fail
    // loudly, never return partial (wrong) labels
    val ex = intercept[IllegalStateException](
      Dedup.connectedComponents(chain, maxIters = 1))
    assert(ex.getMessage.contains("did not converge"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "the failure path must release caches too")
  }

  test("star contraction converges in O(log n) rounds on a depth-200 chain") {
    val s = spark; import s.implicits._
    // level-synchronous label propagation would need 201 rounds here;
    // star needs ~2·log2(200) ≈ 15
    val chain = (0 until 200).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.starRounds(chain, maxIters = 50)
    val cc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 201 && cc.values.toSet == Set(0L))
    assert(rounds <= 16, s"star contraction took $rounds rounds on a depth-200 chain")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("neardupClusters labels every doc; canonical = min id per cluster") {
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    val d = docsOf(10L -> text, 20L -> text, 30L -> (text + " extra tail"),
      40L -> "completely unrelated content about catalyst plans and shuffles")
    val out = Dedup.neardupClusters(d, minEstJaccardX1000 = 400).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(10L, 20L, 30L, 40L), "every doc labeled")
    assert(out(10L) == 10L && out(20L) == 10L, "identical docs share the min-id cluster")
    assert(out(40L) == 40L, "singleton labels itself")
    // curation selection: keep doc_id == cluster_id → one survivor per cluster
    val survivors = out.collect { case (id, c) if id == c => id }.toSet
    assert(survivors.contains(10L) && !survivors.contains(20L))
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val pairs = Dedup.embeddingNearDups(emb, dim = 64, thresholdX10000 = 3000,
      nPlanes = 6).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 3000)
    }
  }

  test("multimodal: real PNG/WAV/MJPNG round trip + features + resize + frame sampling") {
    val meta = Multimodal.decode(Multimodal.synthesize(docs)).collect()
    assert(meta.length == docs.count())
    meta.foreach { m =>
      assert(m.n_bytes > 0)
      m.kind match {
        case "image" =>
          // JDK PNG decoder must recover the generator's exact dimensions
          assert(m.width == 8 * (1 + (m.doc_id % 16).toInt))
          assert(m.height == 5 * (1 + (m.doc_id % 16).toInt))
          assert(m.sample_rate == 0)
          // luminance histogram preserves pixel mass
          assert(m.feature.sum == (m.width * m.height).toFloat)
        case "audio" =>
          assert(m.sample_rate == 16000 && m.width == 0)
          assert(m.n_frames == 160 * (1 + (m.doc_id % 20).toInt))
          // amplitude histogram preserves sample mass
          assert(m.feature.sum == m.n_frames.toFloat)
        case "video" =>
          assert(m.n_frames == 1 + (m.doc_id % 10).toInt)
          assert(m.width == 16 && m.height == 9)
          assert(m.feature.sum == (16 * 9).toFloat)
          // AVI carries its header fps in sample_rate; MJPNG has none
          assert(m.sample_rate == (if (m.doc_id % 6 == 5) 12 else 0))
      }
    }
    // real resize: thumbnail decodes back at the target dimensions
    val thumb = Multimodal.thumbnail(Multimodal.synthImage(7L), 8, 8)
    val timg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(thumb))
    assert(timg.getWidth == 8 && timg.getHeight == 8)
    // frame sampling over the real frame counts
    val frames = Multimodal.sampleFrames(
      Multimodal.decode(Multimodal.synthesize(docs)), everyNth = 2)
    assert(frames.count() > 0)
    val one = frames.filter(col("doc_id") === 5).collect().map(_.getInt(1)).toSeq
    assert(one == (0 until (1 + 5 % 10) by 2).toSeq)
  }

  test("AVI/MJPEG: standard RIFF container round trip; truncation degrades, not crashes") {
    // doc 11 -> video (11 % 3 = 2), AVI flavor (11 % 6 = 5), 2 frames (1 + 11 % 10)
    val avi = Multimodal.synthVideoAvi(11L)
    assert(new String(avi, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(avi, 8, 4, "US-ASCII") == "AVI ")
    val m = Multimodal.decodeOne(Multimodal.MediaRow(11L, "video", avi))
    assert(m.width == 16 && m.height == 9)
    assert(m.sample_rate == 12) // fps from strh dwRate/dwScale
    assert(m.n_frames == 2)     // movi '00dc' chunk count
    assert(m.feature.sum == (16 * 9).toFloat) // first JPEG frame decoded
    // truncated container degrades to a zeroed row (the per-codec contract)
    val trunc = java.util.Arrays.copyOfRange(avi, 0, 40)
    val mt = Multimodal.decodeOne(Multimodal.MediaRow(11L, "video", trunc))
    assert(mt.n_frames == 0 && mt.width == 0 && mt.sample_rate == 0)
    def zeroed(m: Multimodal.MediaMeta, nBytes: Int, nFrames: Int): Unit = {
      assert(m.n_bytes == nBytes && m.n_frames == nFrames)
      assert(m.width == 0 && m.height == 0 && m.sample_rate == 0)
      assert(m.feature.toSeq == Seq.fill(8)(0f))
    }
    // a truncated PNG (ImageIO throws on it) and garbage bytes as image
    // or audio degrade to the zeroed row
    val png = Multimodal.synthImage(15L).take(60)
    zeroed(Multimodal.decodeOne(Multimodal.MediaRow(15L, "image", png)), 60, 0)
    val junk = Array.tabulate[Byte](64)(i => (i * 37 + 11).toByte)
    zeroed(Multimodal.decodeOne(Multimodal.MediaRow(1L, "image", junk)), 64, 0)
    zeroed(Multimodal.decodeOne(Multimodal.MediaRow(1L, "audio", junk)), 64, 0)
    // an MJPNG whose first frame is corrupt still counts its 9 frames
    val mjpng = Multimodal.synthVideo(8L)
    val idat = mjpng.indices.find(i => new String(mjpng, i, 4, "US-ASCII") == "IDAT").get
    val bad = mjpng.clone()
    (idat + 4 until idat + 12).foreach(bad(_) = 0xFF.toByte)
    zeroed(Multimodal.decodeOne(Multimodal.MediaRow(8L, "video", bad)), bad.length, 9)
  }

  test("langId picks the max-hit language deterministically") {
    val d = docsOf(1L -> "x the y and z of w", 2L -> "a le b la c et d les e")
      .withColumn("lang", lit("??"))
    val out = TextOps.langId(d).collect().map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "fr")
  }

  test("quality features integer-exact invariants") {
    val out = TextOps.qualityFeatures(docs).collect()
    out.foreach { r =>
      val nChars = r.getInt(1); val nWords = r.getInt(2)
      assert(r.getLong(6) == nChars.toLong * 100 / math.max(nWords, 1))
    }
  }
}

package graft.ops

import java.io.ByteArrayInputStream
import scala.util.{Random, Try}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.JUnitSafe.same
import Multimodal.{MediaMeta, MediaRow}

/** Equivalence of the ops layer's one-body rules — one [[VectorOps.dotLocal]]
  * under the driver-side norm, cosine and LSH side tests, one hyperplane
  * builder, one column cosine, one LSH band join ([[Dedup.bandJoin]]) and
  * one frame decoder in [[Multimodal]] — against the code they replaced.
  * The [[Legacy]] bodies below are verbatim copies of the replaced code;
  * the legacy `decodeOne` takes its image reader as a parameter so it can
  * also run with the reader that maps a decode failure to null. */
class OpsEquivSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("ops-equiv-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private object Legacy {
    import VectorOps.{dot, norm, planeComponent}

    def normLocal(q: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < q.length) { s += q(i) * q(i); i += 1 }
      math.sqrt(s)
    }

    private def cosineLit(a: Column, aNorm: Column, c: Array[Float]): Column =
      dot(a, typedlit(c)) / (aNorm * lit(normLocal(c.map(_.toDouble))))

    def lshSignature(emb: DataFrame, dim: Int, nPlanes: Int = 16): DataFrame = {
      val sig = (0 until nPlanes).map { p =>
        val plane = typedlit((0 until dim).map(d => planeComponent(p, d)).toArray)
        when(dot(col("embedding"), plane) >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
      emb.withColumn("lsh_sig", sig)
    }

    /** `lshTopK`'s query signature and probe set. */
    def lshProbes(dim: Int, query: Array[Float], nPlanes: Int, probeBits: Int): Seq[Long] = {
      val qSig = (0 until nPlanes).map { p =>
        val d = (0 until dim).map(i => planeComponent(p, i) * query(i)).sum
        if (d >= 0) 1L << p else 0L
      }.reduce(_ | _)
      (0L until (1L << nPlanes))
        .filter(sig => java.lang.Long.bitCount(sig ^ qSig) <= probeBits)
    }

    def ivfAssign(emb: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
      val scores = centroids.zipWithIndex.map { case (c, i) =>
        struct(cosineLit(col("embedding"), col("_ne"), c).as("s"), lit(i).as("cell"))
      }
      emb.withColumn("_ne", norm(col("embedding")))
        .withColumn("cell", greatest(scores: _*).getField("cell"))
        .drop("_ne")
    }

    def deterministicCentroids(nCells: Int, dim: Int): Array[Array[Float]] =
      Array.tabulate(nCells)(c =>
        Array.tabulate(dim)(d => planeComponent(c + 1000, d).toFloat))

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
        val norm = math.sqrt(mean.map(v => v * v).sum)
        if (norm > 0) out(cell) = mean.map(v => (v / norm).toFloat)
      }
      out
    }

    /** `ivfTopK`'s probe-cell selection. */
    def probeCells(centroids: Array[Array[Float]], query: Array[Float],
        nProbe: Int): Array[Int] = {
      // double-precision accumulation, matching the SQL/expression cosine
      // bit-for-bit so probe-cell selection agrees with the oracle
      def cosLocal(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      centroids.zipWithIndex
        .sortBy { case (c, _) => -cosLocal(c, query) }
        .take(nProbe).map(_._2)
    }

    def embeddingNearDups(emb: DataFrame, dim: Int, thresholdX10000: Int = 9500,
        nPlanes: Int = 12): DataFrame = {
      val sigd = lshSignature(emb, dim, nPlanes)
        .select(col("vec_id"), col("embedding"), col("lsh_sig"),
          VectorOps.norm(col("embedding")).as("_n"))
      val cos = VectorOps.dot(col("a.embedding"), col("b.embedding")) /
        (col("a._n") * col("b._n"))
      sigd.as("a").join(sigd.as("b"),
          col("a.lsh_sig") === col("b.lsh_sig") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(cos * 10000).cast("long").as("cos_x10000"))
        .filter(col("cos_x10000") >= thresholdX10000)
    }

    def minHashPairsPlanned(docs: DataFrame, n: Int = 3,
        k: Int = 16, bands: Int = 4, minEstJaccardX1000: Int = 500,
        portable: Boolean = false, maxDfPct: Option[Int] = None)
        : (DataFrame, DataFrame) = {
      require(k % bands == 0, "k must be divisible by bands")
      val r = k / bands
      val sigs = Dedup.minHashSignatures(docs, n, k, portable, maxDfPct)
        .select(col("doc_id"), array((0 until k).map(j => col(s"mh$j")): _*).as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val frame = {
        def bandKey(b: Int): Column = {
          val parts = (b * r until (b + 1) * r).map(j => element_at(col("sig"), j + 1))
          if (portable) substring(md5(concat_ws(",", parts: _*)), 1, 16)
          else xxhash64(parts: _*).cast("string")
        }
        val banded = sigs.select(col("doc_id"),
            explode(array((0 until bands).map(b =>
              struct(lit(b).as("band"), bandKey(b).as("key"))): _*)).as("bk"))
          .select(col("doc_id"), col("bk.band"), col("bk.key"))
        val cand = banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.doc_id") < col("b.doc_id"))
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

    def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
      val sh = TextOps.simHash(docs)
      val banded = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("key"))): _*)).as("bk"))
        .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
      val ham = {
        val x = col("a.simhash").bitwiseXOR(col("b.simhash"))
        bit_count(x)
      }
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          ham.as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
    }

    /** `decodeOne` with each `javax.imageio.ImageIO.read(new
      * ByteArrayInputStream(x))` call replaced by `read(x)`. */
    def decodeOne(r: MediaRow, read: Array[Byte] => java.awt.image.BufferedImage)
        : MediaMeta = {
      import Multimodal.{countPngFrames, decodeAvi, isRiffAvi, lumaHistogram}
      r.kind match {
        case "image" =>
          val img = read(r.payload)
          if (img == null)
            MediaMeta(r.doc_id, r.kind, r.payload.length, 0, 0, 0, 0, new Array[Float](8))
          else
            MediaMeta(r.doc_id, r.kind, r.payload.length, img.getWidth, img.getHeight,
              0, 0, lumaHistogram(img))
        case "audio" =>
          try {
            val in = new ByteArrayInputStream(r.payload)
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(in)
            val fmt = ais.getFormat
            val nFrames = ais.getFrameLength.toInt
            val pcm = ais.readAllBytes()
            // 8-bin absolute-amplitude histogram over 16-bit little-endian samples
            val feat = new Array[Float](8)
            var i = 0
            while (i + 1 < pcm.length) {
              val v = ((pcm(i) & 0xFF) | (pcm(i + 1) << 8)).toShort
              feat(math.min(math.abs(v.toInt) * 8 / 32768, 7)) += 1.0f
              i += 2
            }
            MediaMeta(r.doc_id, r.kind, r.payload.length, 0, 0,
              fmt.getSampleRate.toInt, nFrames, feat)
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException |
                 _: java.io.IOException =>
              MediaMeta(r.doc_id, r.kind, r.payload.length, 0, 0, 0, 0, new Array[Float](8))
          }
        case _ if isRiffAvi(r.payload) => // video: standard AVI/MJPEG container
          decodeAvi(r.payload) match {
            case Some((w, h, fps, nFrames, firstJpeg)) =>
              val first = read(firstJpeg)
              val feat = if (first == null) new Array[Float](8) else lumaHistogram(first)
              MediaMeta(r.doc_id, r.kind, r.payload.length, w, h, fps, nFrames, feat)
            case None =>
              MediaMeta(r.doc_id, r.kind, r.payload.length, 0, 0, 0, 0, new Array[Float](8))
          }
        case _ => // video: MJPNG frame count + first-frame decode
          val nFrames = countPngFrames(r.payload)
          val first = read(r.payload)
          if (first == null)
            MediaMeta(r.doc_id, r.kind, r.payload.length, 0, 0, 0, nFrames, new Array[Float](8))
          else
            MediaMeta(r.doc_id, r.kind, r.payload.length, first.getWidth,
              first.getHeight, 0, nFrames, lumaHistogram(first))
      }
    }
  }

  // ---- seeded vectors ---------------------------------------------------

  /** A component that is a zero of either sign, a subnormal, a large
    * magnitude (up to Float.MaxValue) or an ordinary Gaussian. */
  private def component(r: Random): Float = {
    val sign = if (r.nextBoolean()) 1f else -1f
    r.nextInt(10) match {
      case 0 => 0.0f
      case 1 => -0.0f
      case 2 => sign * java.lang.Float.MIN_VALUE * (1 + r.nextInt(1 << 20))
      case 3 => sign * 1e18f * (1 + r.nextFloat())
      case 4 => sign * Float.MaxValue
      case _ => r.nextGaussian().toFloat
    }
  }

  private def vectors(r: Random, n: Int, dim: Int): Seq[Array[Float]] =
    Seq(Array.fill(dim)(0.0f), Array.fill(dim)(-0.0f)) ++
      Seq.fill(n)(Array.fill(dim)(component(r)))

  /** The vectors the Spark-side operators accept: under ANSI mode a zero
    * norm divides by zero and an infinite cosine fails its cast. */
  private def nonZero(vs: Seq[Array[Float]]): Seq[Array[Float]] =
    vs.filter(_.exists(_ != 0f))

  private def bits(v: Array[Float]): Seq[Int] = v.toSeq.map(java.lang.Float.floatToRawIntBits)
  private def show(v: Array[Float]): String = v.mkString("[", ",", "]")

  test("normLocal, the LSH probe set and the IVF probe-cell order equal the old loops") {
    val r = new Random(20261019L)
    // cos(c0, q) is 0.0 from a 0.0 start but -0.0 from the first product
    // (two -0.0 products), tying c0 with c1 only on the 0.0 start
    val crafted = Array(Array(1f, -0.0f), Array(1f, 0.0f))
    same(VectorOps.probeCells(crafted, Array(-0.0f, 1f), 2).toSeq,
      Legacy.probeCells(crafted, Array(-0.0f, 1f), 2).toSeq, "crafted sign-of-zero tie")
    for (dim <- Seq(1, 2, 3, 8, 64)) {
      val vs = vectors(r, 200, dim)
      vs.foreach { v =>
        val d = v.map(_.toDouble)
        same(java.lang.Double.doubleToRawLongBits(VectorOps.normLocal(d)),
          java.lang.Double.doubleToRawLongBits(Legacy.normLocal(d)), show(v))
      }
      for (q <- vs.take(60); (nPlanes, probeBits) <- Seq((8, 3), (4, 0), (6, 6))) {
        same(VectorOps.lshProbes(dim, q, nPlanes, probeBits),
          Legacy.lshProbes(dim, q, nPlanes, probeBits), show(q))
      }
      val codebooks = Seq(VectorOps.deterministicCentroids(16, dim), vs.slice(2, 18).toArray,
        (VectorOps.deterministicCentroids(4, dim) ++ vs.take(6)).toArray)
      for (cents <- codebooks; q <- vs.take(60); nProbe <- Seq(1, 6, cents.length)) {
        same(VectorOps.probeCells(cents, q, nProbe).toSeq,
          Legacy.probeCells(cents, q, nProbe).toSeq, show(q))
      }
    }
  }

  test("planes, centroids and the Lloyd codebook after 1-3 passes equal the old bodies") {
    for (dim <- Seq(1, 8, 64); p <- Seq(0, 7, 1003))
      same(VectorOps.plane(p, dim).toSeq,
        (0 until dim).map(d => VectorOps.planeComponent(p, d)), (p, dim))
    same(VectorOps.deterministicCentroids(16, 64).map(bits).toSeq,
      Legacy.deterministicCentroids(16, 64).map(bits).toSeq, "centroids")
    val s = spark; import s.implicits._
    val r = new Random(7L)
    val dim = 8
    // one input partition: the per-cell double sums merge in one order
    val emb = nonZero(vectors(r, 300, dim)).zipWithIndex
      .map { case (v, i) => (i.toLong, s"l$i", v) }
      .toDF("vec_id", "label", "embedding").coalesce(1)
    var got = VectorOps.deterministicCentroids(6, dim)
    var want = Legacy.deterministicCentroids(6, dim)
    for (pass <- 1 to 3) {
      got = VectorOps.lloydRefine(emb, got)
      want = Legacy.lloydRefine(emb, want)
      same(got.map(bits).toSeq, want.map(bits).toSeq, s"pass $pass")
    }
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))

  test("embeddingNearDups equals the old inline cosine body") {
    val s = spark; import s.implicits._
    val r = new Random(11L)
    val dim = 16
    val base = nonZero(vectors(r, 40, dim))
    val vs = base ++ base.map(_.map(x =>
      if (r.nextInt(4) == 0 && math.abs(x) < 1e30f) x * 1.01f else x))
    val emb = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val got = sorted(Dedup.embeddingNearDups(emb, dim, 9000, nPlanes = 6))
    same(got, sorted(Legacy.embeddingNearDups(emb, dim, 9000, nPlanes = 6)), "embeddings")
    assert(got.nonEmpty)
  }

  /** 240 seeded documents in families of near-duplicates: each family
    * shares a base text, its members differ in 0-3 substituted words. */
  private lazy val docs: DataFrame = {
    val s = spark; import s.implicits._
    val r = new Random(20261019L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "spark", "shuffle", "join",
      "window", "the", "and", "of", "café", "日本語", "x", "y", "zz", "partition",
      "codegen", "quick", "fox")
    val texts = (0 until 40).flatMap { _ =>
      val base = Vector.fill(20 + r.nextInt(30))(vocab(r.nextInt(vocab.size)))
      Seq.fill(6)((0 until r.nextInt(4)).foldLeft(base)((ws, _) =>
        ws.updated(r.nextInt(ws.size), vocab(r.nextInt(vocab.size)))).mkString(" "))
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("simHashPairs equals the old inline band join") {
    val got = sorted(TextOps.simHashPairs(docs))
    same(got, sorted(Legacy.simHashPairs(docs)), "simHashPairs")
    assert(got.nonEmpty)
    for (h <- Seq(0, 8)) same(sorted(TextOps.simHashPairs(docs, h)),
      sorted(Legacy.simHashPairs(docs, h)), s"maxHamming $h")
  }

  test("minHashPairs equals the old inline band join") {
    for (portable <- Seq(false, true); maxDfPct <- Seq(None, Some(5))) {
      val (frame, sigs) = Legacy.minHashPairsPlanned(docs, bands = 4,
        minEstJaccardX1000 = 250, portable = portable, maxDfPct = maxDfPct)
      val want = try sorted(frame) finally sigs.unpersist()
      val got = sorted(Dedup.minHashPairs(docs, bands = 4, minEstJaccardX1000 = 250,
        portable = portable, maxDfPct = maxDfPct))
      same(got, want, (portable, maxDfPct))
      assert(got.nonEmpty)
    }
  }

  // ---- multimodal rows --------------------------------------------------

  private def row(m: MediaMeta) = (m.doc_id, m.kind, m.n_bytes, m.width, m.height,
    m.sample_rate, m.n_frames, m.feature.toSeq)

  /** Overwrites `n` bytes from `at` with 0xFF. */
  private def spoil(b: Array[Byte], at: Int, n: Int): Array[Byte] = {
    val c = b.clone()
    (at until math.min(at + n, c.length)).foreach(c(_) = 0xFF.toByte)
    c
  }

  private def indexOf(b: Array[Byte], tag: String): Int =
    b.indices.find(i => new String(b, i, math.min(4, b.length - i), "US-ASCII") == tag)
      .getOrElse(-1)

  /** Truncated, garbage and corrupt payloads of every kind. */
  private def malformed: Seq[MediaRow] = {
    val r = new Random(5L)
    def garbage(n: Int) = { val b = new Array[Byte](n); r.nextBytes(b); b }
    val png = Multimodal.synthImage(15L)
    val mjpng = Multimodal.synthVideo(8L) // 9 frames
    val avi = Multimodal.synthVideoAvi(11L)
    val wav = Multimodal.synthAudio(4L)
    val idat = indexOf(mjpng, "IDAT") + 4
    val jpeg = indexOf(avi, "00dc") + 8
    Seq(8, 20, 33, 60, png.length / 2, png.length - 13, png.length - 1)
      .map(n => MediaRow(1000L + n, "image", png.take(n))) ++
    Seq("image", "audio", "video").flatMap(k => Seq(
      MediaRow(2000L, k, Array.emptyByteArray), MediaRow(2001L, k, garbage(64)),
      MediaRow(2002L, k, garbage(4096)))) ++
    Seq(
      MediaRow(3000L, "video", spoil(mjpng, idat, 8)),
      MediaRow(3001L, "video", spoil(mjpng, idat - 12, 4)),
      MediaRow(3002L, "video", mjpng.take(mjpng.length / 2)),
      MediaRow(3003L, "video", mjpng.take(idat + 20)),
      MediaRow(3004L, "video", avi.take(40)),
      MediaRow(3005L, "video", avi.take(avi.length - 9)),
      MediaRow(3006L, "video", spoil(avi, jpeg + 2, 64)),
      MediaRow(3007L, "video", spoil(avi, jpeg + 160, 200)),
      MediaRow(3008L, "audio", wav.take(30)),
      MediaRow(3009L, "audio", wav.take(wav.length / 2)),
      MediaRow(3010L, "image", mjpng),
      MediaRow(3011L, "image", avi))
  }

  test("decodeOne rows equal the old decoder, which crashed where a frame does not decode") {
    val synth = Multimodal.synthesize(spark.range(600).toDF("doc_id")).collect().toSeq
    val imageIoRead = (b: Array[Byte]) => javax.imageio.ImageIO.read(new ByteArrayInputStream(b))
    val readOrNull = (b: Array[Byte]) =>
      try imageIoRead(b) catch { case _: java.io.IOException => null }
    var crashed = 0
    (synth ++ malformed).foreach { m =>
      val got = row(Multimodal.decodeOne(m))
      Try(Legacy.decodeOne(m, imageIoRead)).toOption match {
        case Some(old) => same(got, row(old), (m.doc_id, m.kind, m.payload.length))
        case None => crashed += 1
      }
      // the zeroed-row contract: a frame that does not decode reads as null
      same(got, row(Legacy.decodeOne(m, readOrNull)), (m.doc_id, m.kind, m.payload.length))
    }
    assert(crashed >= 5, s"only $crashed inputs crashed the old decoder")
  }
}

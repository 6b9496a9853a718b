package perfbench

import java.io.File
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.job.{ExtractJob, Transcripts}
import graft.model.Turn
import Main.{Ctx, Metric, Result}

/** `extract_job`: one op is one full `ExtractJob.run` (scan, extract,
  * `turn_pos` window, pages/chunks/metrics/lineage commits for 64 buckets
  * in 4 groups) into a fresh directory, on a seeded corpus in
  * `graft.Bench`'s shape. */
object ExtractBench {

  /** graft.Bench's shape (regular conversations with its size pattern plus
    * one mega-conversation) at a twentieth of its size, so that a run fits
    * the benchmark's time budget; see NOTES.md for the sizing. */
  val Convs = 3200L
  val MegaTurns = 1000
  val Files = 16
  val Turns: Long = Transcripts.expectedCount(Convs, MegaTurns)
  val Buckets = 64
  /** turns compared field by field with `ExtractJob.extractOne` per op */
  val SampleTurns = 200

  /** Turn count of regular conversation `c`, from the public size pattern. */
  private def turnsOf(c: Long): Int =
    (Transcripts.expectedCount(c + 1) - Transcripts.expectedCount(c)).toInt

  /** The seed offsets every conversation id; timestamps follow the id, so
    * the offset is kept modest (ids stay below 3.3M, years below 2400). */
  def corpus(spark: SparkSession, seed: Long): Dataset[Turn] = {
    import spark.implicits._
    val base = (seed % 1000) * (Convs + 1)
    // generated directly in Files partitions (no shuffle of the payloads)
    val regular = spark.range(0, Convs, 1, Files - 4).as[Long].flatMap { c =>
      (0 until turnsOf(c)).map(t => Transcripts.mkTurn(base + c, t, "conv-"))
    }
    val mega = spark.range(0, MegaTurns.toLong, 1, 4).as[Long]
      .map(t => Transcripts.mkTurn(base + Convs, t.toInt, "mega-"))
    regular.union(mega)
  }

  /** Writes the corpus afresh on every run, so that `setup_s` always
    * includes its cost and never depends on what an earlier run left. */
  private def materialise(ctx: Ctx): String = {
    val path = s"${ctx.workDir}/corpus"
    Main.deleteRecursively(new File(path))
    corpus(ctx.spark, ctx.seed).write.parquet(path)
    path
  }

  private def secs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }

  final case class Expected(title: String, summary: String, texts: Seq[String], types: Seq[String])

  /** Output checks for one op; returns the failures (empty = correct) and
    * the exact pages totals (rows, bytes_in, bytes_out, chunks, kept, dropped).
    * Four Spark jobs: pages (totals, `turn_pos` order, sampled rows),
    * metrics, lineage, chunks (count, sampled rows). */
  def check(spark: SparkSession, outDir: String, runId: String, written: Long,
      sample: Map[String, Expected]): (Seq[String], Seq[Long]) = {
    import spark.implicits._
    val errs = ArrayBuffer.empty[String]
    val inSample = $"url".isin(sample.keys.toSeq: _*)
    val w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    val p = ExtractJob.readPages(spark, outDir)
      .withColumn("rn", row_number().over(w))
      .agg(count(lit(1)), sum("bytes_in"), sum("bytes_out"), sum("n_chunks"),
        sum("blocks_kept"), sum("blocks_dropped"), count(when($"rn" =!= $"turn_pos", 1)),
        collect_list(when(inSample, struct($"url", $"title", $"summary", $"chunks.text",
          $"chunks.chunk_type"))))
      .as[(Long, Long, Long, Long, Long, Long, Long,
        Seq[(String, String, String, Seq[String], Seq[String])])].head()
    val totals = Seq(p._1, p._2, p._3, p._4, p._5, p._6)
    if (p._1 != Turns || written != Turns) errs += s"pages rows ${p._1}, written $written, input $Turns"
    if (p._7 != 0) errs += s"${p._7} turns out of turn_pos order"
    // per-turn text equality on a seeded sample, in both tables
    if (p._8.size != sample.size) errs += s"${p._8.size} of ${sample.size} sampled pages found"
    p._8.foreach { case (url, title, summary, texts, types) =>
      if (Expected(title, summary, texts, types) != sample(url)) errs += s"page $url differs from extractOne"
    }
    val m = spark.read.parquet(s"$outDir/metrics").filter($"run_id" === runId)
      .agg(sum("rows_out"), sum("bytes_in"), sum("bytes_out"), sum("chunks_emitted"),
        sum("blocks_kept"), sum("blocks_dropped")).head()
    val metricTotals = (0 until 6).map(i => if (m.isNullAt(i)) -1L else m.getLong(i))
    if (metricTotals != totals) errs += s"metrics sums $metricTotals != pages totals $totals"
    val done = spark.read.parquet(s"$outDir/lineage")
      .filter($"run_id" === runId && $"status" === "done")
      .select("conv_bucket").distinct().as[Int].collect().toSet
    if (done != (0 until Buckets).toSet) errs += s"lineage marks ${done.size} of $Buckets buckets done"
    val c = ExtractJob.readChunks(spark, outDir)
      .agg(count(lit(1)), collect_list(when(inSample,
        struct($"url", $"chunk_index", $"text", $"chunk_type"))))
      .as[(Long, Seq[(String, Int, String, String)])].head()
    if (c._1 != p._4) errs += s"chunks rows ${c._1} != n_chunks sum ${p._4}"
    val gotChunks = c._2.groupBy(_._1)
    sample.foreach { case (url, e) =>
      val cs = gotChunks.getOrElse(url, Nil).sortBy(_._2)
      if (cs.map(_._3) != e.texts || cs.map(_._4) != e.types)
        errs += s"chunks of $url differ from extractOne"
    }
    (errs.toSeq, totals)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val path = materialise(ctx)
    System.err.println(f"perfbench: corpus ready at ${ctx.sinceStartS}%.1f s")
    val turns = spark.read.parquet(path).as[Turn]
    // seeded sample for per-turn equality, expected values from the driver
    val stride = math.max(1L, Turns / SampleTurns)
    val sample: Map[String, Expected] = turns
      .filter(pmod(xxhash64($"conv_id", $"turn_idx", lit(ctx.seed)), lit(stride)) === 0)
      .limit(SampleTurns).collect().map { t =>
        val e = ExtractJob.extractOne(t)
        e.url -> Expected(e.title, e.summary, e.chunks.map(_.text), e.chunks.map(_.chunk_type))
      }.toMap
    require(sample.nonEmpty, "empty equality sample")

    var opNo = 0
    def op(traced: Boolean): (Double, Seq[String], Seq[Long]) = {
      val i = opNo; opNo += 1
      val out = s"${ctx.workDir}/out/op$i"
      Main.deleteRecursively(new File(out))
      val runId = s"op$i"
      var written = -1L
      val (t, failure) =
        try {
          val t = if (!traced) secs { written = ExtractJob.run(turns, ExtractJob.Config(out, runId = runId)) }
            else ctx.tracer.span("graft.job.ExtractJob.run", i, "job.run") {
              secs { written = ExtractJob.run(turns, ExtractJob.Config(out, runId = runId)) }
            }
          (t, None)
        } catch { case e: Exception => (Double.PositiveInfinity, Some(s"op $i threw $e")) }
      val (errs, totals) =
        if (failure.nonEmpty) (failure.toSeq, Seq.empty[Long])
        else try check(spark, out, runId, written, sample)
          catch { case e: Exception => (Seq(s"check of op $i threw $e"), Seq.empty[Long]) }
      Main.deleteRecursively(new File(out))
      System.err.println(f"perfbench: op $i took $t%.3f s, checked at ${ctx.sinceStartS}%.1f s")
      errs.foreach(e => System.err.println(s"perfbench: FAILED $e"))
      (t, errs, totals)
    }

    // warm-up (JIT, Spark's codegen caches), paid in setup_s: one full
    // run. After one group of a run, or a run over a quarter of the corpus,
    // the next run was still 10-20% slower than later ones.
    locally {
      val out = s"${ctx.workDir}/out/warmup"
      ExtractJob.run(turns, ExtractJob.Config(out, runId = "warmup"))
      Main.deleteRecursively(new File(out))
    }
    System.err.println(f"perfbench: warm-up done at ${ctx.sinceStartS}%.1f s")
    val setupS = ctx.sinceStartS

    val heap = new HeapPeak
    heap.sample() // the warm-up's garbage must not be collected inside op 0
    val times = ArrayBuffer.empty[Double]
    var failed = 0L
    var lastTotals = Seq.empty[Long]
    // ops until the timed time reaches --seconds (checks excluded); in a
    // traced run every op of this loop is traced
    ctx.attach(ctx.traced)
    do {
      val (t, errs, totals) = op(ctx.traced)
      heap.sample()
      if (errs.nonEmpty) failed += 1 else lastTotals = totals
      times += t
    } while (times.sum < ctx.seconds)
    ctx.attach(false)
    val heapMb = heap.peakMb
    val attempted = times.size.toLong

    if (!ctx.traced) {
      val opS = Stats.median(times.toSeq)
      return Result(attempted, failed, failed == 0, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_s", opS, "s"),
        Metric("throughput_per_s", Turns / opS, "1/s"),
        Metric("heap_live_peak_mb", heapMb, "MB")))
    }

    // ---- traced run: per-layer metrics ----
    val jobAgg = ctx.counters.total(spark.sparkContext)(_ == "job.run")
    val n = times.size.toDouble
    val layer = ArrayBuffer.empty[Metric]
    layer += Metric("failed_op_share", failed.toDouble / attempted, "ratio")
    layer ++= Seq(
      Metric("job.jobs", jobAgg.jobs / n, "count"),
      Metric("job.tasks", jobAgg.tasks / n, "count"),
      Metric("job.executor_cpu_ms", jobAgg.cpuNs / 1e6 / n, "ms"),
      Metric("job.gc_ms", jobAgg.gcMs / n, "ms"),
      Metric("job.input_bytes", jobAgg.inputBytes / n, "bytes"),
      Metric("job.shuffle_write_bytes", jobAgg.shuffleWriteBytes / n, "bytes"),
      Metric("job.spill_bytes", jobAgg.spillBytes / n, "bytes"),
      Metric("job.task_skew", jobAgg.taskSkew, "ratio"))
    if (lastTotals.size == 6) {
      layer += Metric("extract.bytes_out_per_byte_in", lastTotals(2).toDouble / lastTotals(1), "ratio")
      layer += Metric("extract.blocks_kept_share",
        lastTotals(4).toDouble / (lastTotals(4) + lastTotals(5)), "ratio")
    }

    // nested layers on one cached input: count <= encode <= turn_pos <= run.
    // The three cheap ones run interleaved (host drift hits them alike):
    // rep 0 warms their plan shapes up, reps 1-4 alternate with (odd) and
    // without (even) the listener and spans, which gives the tracing
    // overhead. Each reports its min (noise only adds time, and they are
    // compared with each other; count and encode differ by ~5%).
    val cached = turns.cache()
    cached.count()
    val cheap: Seq[(String, String, () => Unit)] = Seq(
      ("job.extract_count_s", "graft.job.ExtractJob.extract+count",
        () => ExtractJob.extract(cached).count()),
      ("job.extract_encode_s", "graft.job.ExtractJob.extract+noop",
        () => ExtractJob.extract(cached).write.format("noop").mode("overwrite").save()),
      ("job.turn_pos_s", "graft.job.ExtractJob.withTurnPos+noop",
        () => ExtractJob.withTurnPos(ExtractJob.extract(cached)).write.format("noop")
          .mode("overwrite").save()))
    val nestedTimes = cheap.map(_._1 -> ArrayBuffer.empty[(Boolean, Double)]).toMap
    for (rep <- 0 to 4; (metric, span, f) <- cheap) {
      val traced = rep % 2 == 1
      ctx.attach(traced)
      val t = if (traced) ctx.tracer.span(span, 1000L + rep, "nested")(secs(f())) else secs(f())
      ctx.attach(false)
      if (rep > 0) nestedTimes(metric) += (traced -> t)
    }
    val runOut = s"${ctx.workDir}/out/nested"
    ctx.attach(true)
    val runS = ctx.tracer.span("graft.job.ExtractJob.run", 1005L, "nested") {
      secs { ExtractJob.run(cached, ExtractJob.Config(runOut, runId = "nested")) } }
    ctx.attach(false)
    Main.deleteRecursively(new File(runOut))
    layer ++= cheap.map { case (m, _, _) => Metric(m, nestedTimes(m).map(_._2).min, "s") }
    layer += Metric("job.run_s", runS, "s")
    val all = nestedTimes.values.flatten
    layer += Metric("trace.overhead_share",
      all.filter(_._1).map(_._2).sum / all.filterNot(_._1).map(_._2).sum - 1.0, "ratio")
    cached.unpersist(blocking = true)

    layer ++= scalarLayer(ctx)
    val extra = nestedTimes.map { case (m, ts) =>
      s""""$m":[${ts.map { case (tr, t) => s"""{"traced":$tr,"s":${Stats.fmt(t)}}""" }.mkString(",")}]"""
    }.mkString("""{"nested":{""", ",", "}}")
    Main.writeTrace(ctx, "extract_job", extra)

    layer ++= scaling(ctx, path)
    Result(attempted, failed, failed == 0, Main.fillPerLayer(layer.toSeq))
  }

  /** `graft.extract` alone: one thread, no Spark, a fixed sample of each
    * `Transcripts.payload` kind through `ExtractJob.extractOne`. */
  private def scalarLayer(ctx: Ctx): Seq[Metric] = {
    val ts = new Timestamp(Transcripts.EpochStart * 1000L)
    def sampleOf(kind: Int, tool: String): IndexedSeq[Turn] = (0 until 64).map { i =>
      val conv = 7000L + i * 13L
      Turn(s"conv-$conv", i, "assistant",
        Transcripts.payload(if (kind < 0) i % 10 else kind, conv, i), tool, ts)
    }
    val sets = (0 until 10).map(k => s"extract.ns_per_turn.kind$k" -> sampleOf(k, "")) :+
      ("extract.ns_per_turn.raw_fallback" -> sampleOf(-1, ExtractJob.RawFallbackTools.head))
    var sink = 0L
    val out = sets.map { case (name, turns) =>
      def pass(): Unit = turns.foreach(t => sink += ExtractJob.extractOne(t).n_chunks)
      (1 to 20).foreach(_ => pass())
      val reps = (0 until 7).map { rep =>
        ctx.tracer.span(s"graft.extract:$name", 2000L + rep) {
          var n = 0L
          val t0 = System.nanoTime()
          while (System.nanoTime() - t0 < 50000000L) { pass(); n += turns.size }
          (System.nanoTime() - t0).toDouble / n
        }
      }
      Metric(name, Stats.median(reps), "ns")
    }
    blackhole = sink // keeps the extraction results alive
    out
  }
  @volatile private var blackhole = 0L

  /** N -> 4N: a quarter of the corpus files at local[1] against the whole
    * corpus at local[m], m = min(4, cores), extraction + count, hot. Each
    * level runs in a session of its own, started after the benchmark's
    * session is stopped. */
  private def scaling(ctx: Ctx, path: String): Seq[Metric] = {
    val m = math.min(4, ctx.cores)
    val files = new File(path).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted
    val Reps = 2
    /** (turns, extraction + count times) on `fs` at local[cores] */
    def level(cores: Int, fs: Seq[String]): (Long, Seq[Double]) = {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val s = Main.session(cores, ctx.workDir)
      import s.implicits._
      val in = s.read.parquet(fs: _*).as[Turn].cache()
      val n = in.count()
      ExtractJob.extract(in).count()
      (n, (1 to Reps).map(_ => secs { ExtractJob.extract(in).count() }))
    }
    val (nm, tm) = level(m, files.toIndexedSeq)
    val (n1, t1) = level(1, files.take(math.max(1, files.length / m)).toIndexedSeq)
    val effs = tm.zip(t1).map { case (a, b) => (nm / a) / (m * (n1 / b)) }
    val med = Stats.median(effs)
    Seq(Metric("job.scaling_eff_1to4", med, "ratio"),
      Metric("job.scaling_eff_1to4_spread", (effs.max - effs.min) / med, "ratio"))
  }

  val perLayerUnits: Seq[(String, String)] =
    (0 until 10).map(k => s"extract.ns_per_turn.kind$k" -> "ns") ++ Seq(
      "extract.ns_per_turn.raw_fallback" -> "ns",
      "extract.bytes_out_per_byte_in" -> "ratio", "extract.blocks_kept_share" -> "ratio",
      "job.extract_count_s" -> "s", "job.extract_encode_s" -> "s", "job.turn_pos_s" -> "s",
      "job.run_s" -> "s", "job.jobs" -> "count", "job.tasks" -> "count",
      "job.executor_cpu_ms" -> "ms", "job.gc_ms" -> "ms", "job.input_bytes" -> "bytes",
      "job.shuffle_write_bytes" -> "bytes", "job.spill_bytes" -> "bytes", "job.task_skew" -> "ratio",
      "job.scaling_eff_1to4" -> "ratio", "job.scaling_eff_1to4_spread" -> "ratio")
}

package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point; see `perfbench/NOTES.md` for the workloads, the
  * metrics and why they were chosen.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work-dir <dir>
  *  --data-dir <query tables> --start-ms <epoch ms at launch>`
  *
  * Prints one JSON line last on stdout:
  * `{"correct":..,"attempted":..,"failed":..,"metrics":{name:{"value":..,"unit":..}}}`
  * with the end-to-end metrics when untraced and the per-layer metrics when
  * traced. Every metric of the other set that a workload does not exercise
  * is reported as 0 there (see NOTES.md).
  */
object Main {

  final case class Metric(name: String, value: Double, unit: String)

  final case class Result(attempted: Long, failed: Long, correct: Boolean, metrics: Seq[Metric]) {
    def json: String = metrics.map(m =>
      s""""${m.name}":{"value":${Stats.fmt(m.value)},"unit":"${m.unit}"}""")
      .mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")
  }

  /** Everything a workload needs from the launcher. */
  final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, traced: Boolean,
      workDir: String, dataDir: String, startMs: Long, cores: Int) {
    val tracer = new Tracer(traced, spark.sparkContext)
    val counters = new Counters
    def sinceStartS: Double = (System.currentTimeMillis() - startMs) / 1000.0
    def attach(on: Boolean): Unit =
      if (on) spark.sparkContext.addSparkListener(counters)
      else spark.sparkContext.removeSparkListener(counters)
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the same session settings as the project's graft.Bench
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
      .config("spark.ui.enabled", "false")
      // keep every file the run writes inside the checkout
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val cores = Runtime.getRuntime.availableProcessors()
    val workDir = new File(opt("work-dir")).getAbsolutePath
    Files.createDirectories(Paths.get(workDir, "spark-local"))
    val spark = session(cores, workDir)
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1",
      workDir, new File(opt("data-dir")).getAbsolutePath, opt("start-ms").toLong, cores)
    val result =
      try workload match {
        case "extract_job" => ExtractBench.run(ctx)
        case "analytics" => QueryBench.run(ctx)
        case other => sys.error(s"unknown workload $other")
      } finally {
        SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
      }
    println(result.json)
  }

  /** Writes the traced run's spans and listener counters. */
  def writeTrace(ctx: Ctx, workload: String, extra: String): Unit = {
    val dir = Paths.get(ctx.workDir, "trace")
    Files.createDirectories(dir)
    val body = s"""{"workload":"$workload","seed":${ctx.seed},"spans":${ctx.tracer.json},""" +
      s""""counters":${ctx.counters.json(ctx.spark.sparkContext)},"extra":$extra}"""
    Files.writeString(dir.resolve(s"$workload-seed${ctx.seed}.json"), body + "\n")
  }

  /** The per-layer names of every workload, so that each traced run
    * reports all of them (0 where the layer is not on its path). */
  def perLayerNames: Seq[(String, String)] =
    ExtractBench.perLayerUnits ++ QueryBench.perLayerUnits ++
      Seq("failed_op_share" -> "ratio", "trace.overhead_share" -> "ratio")

  def fillPerLayer(measured: Seq[Metric]): Seq[Metric] = {
    val have = measured.map(m => m.name -> m).toMap
    require(have.keySet.subsetOf(perLayerNames.map(_._1).toSet),
      s"unlisted per-layer metrics: ${have.keySet -- perLayerNames.map(_._1)}")
    perLayerNames.map { case (n, u) => have.getOrElse(n, Metric(n, 0.0, u)) }
  }
}

package graft.job

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Processes created on the host during each `ExtractJob.run`: the
  * `processes` line of `/proc/stat` (Linux) read before and after a run.
  * The count is host-wide, so run it on a quiet host:
  *
  * {{{
  * sbt -batch "Test/runMain graft.job.ForkCount [convs] [runs]"
  * }}}
  *
  * Prints one `FORKS run=<i> forks=<n> threads=<t> s=<seconds>` line per
  * run, the first on a cold JVM, over `convs` generated conversations
  * (default 3200, perfbench's count) at the default 64 buckets in 4
  * groups. The kernel counts thread creation as a fork too: `threads` is
  * this JVM's share of `forks`, so `forks - threads` is child processes
  * plus whatever else the host started. */
object ForkCount {

  private def processes(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).asScala
      .collectFirst { case l if l.startsWith("processes ") => l.split(' ')(1).toLong }
      .getOrElse(sys.error("no processes line in /proc/stat"))

  def main(args: Array[String]): Unit = {
    val convs = args.headOption.fold(3200L)(_.toLong)
    val runs = args.lift(1).fold(3)(_.toInt)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cores]").appName("fork-count")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-forks").toString
    Transcripts.generate(spark, convs).write.parquet(s"$dir/corpus")
    val turns = spark.read.parquet(s"$dir/corpus").as[graft.model.Turn]
    val jvmThreads = java.lang.management.ManagementFactory.getThreadMXBean
    for (i <- 1 to runs) {
      val (before, threads) = (processes(), jvmThreads.getTotalStartedThreadCount)
      val t = System.nanoTime()
      ExtractJob.run(turns, ExtractJob.Config(s"$dir/out$i"))
      val s = (System.nanoTime() - t) / 1e9
      println(f"FORKS run=$i forks=${processes() - before} " +
        f"threads=${jvmThreads.getTotalStartedThreadCount - threads} s=$s%.2f")
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}

package perfbench

import java.lang.management.{ManagementFactory, MemoryPoolMXBean, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's calls into the program's layers.
  * Kept in memory; written once when the run ends. A no-op when tracing
  * is off, so untraced runs pay nothing but a branch. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  val t0: Long = System.nanoTime()

  /** Runs `f` inside a span; Spark jobs it starts are attributed to `scope`
    * by the listener. */
  def span[T](name: String, op: Long, scope: String = null)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val prevScope = sc.getLocalProperty(Counters.ScopeKey)
      if (scope != null) sc.setLocalProperty(Counters.ScopeKey, scope)
      val s = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, op, name, s - t0, System.nanoTime() - t0)
        sc.setLocalProperty(Counters.ScopeKey, prevScope)
        stack = stack.tail
      }
    }

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long)
}

/** Task-metric totals for one scope (a job-group-like label the benchmark
  * sets as a local property before calling into the program). */
final class ScopeAgg {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** per stage: task durations and wall time (ms) */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageWall = mutable.Map.empty[Int, Long]

  /** max/median task time of the stage with the longest wall time. */
  def taskSkew: Double =
    if (stageWall.isEmpty) 1.0
    else {
      val slowest = stageWall.maxBy(_._2)._1
      val ds = stageTasks.getOrElse(slowest, mutable.ArrayBuffer(1L)).map(_.toDouble)
      ds.max / math.max(Stats.median(ds.toSeq), 1.0)
    }

  def add(o: ScopeAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    runMs += o.runMs; gcMs += o.gcMs; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    o.stageTasks.foreach { case (k, v) => stageTasks.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
    stageWall ++= o.stageWall
  }

  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"executor_cpu_ms":${cpuNs / 1000000},""" +
      s""""executor_run_ms":$runMs,"gc_ms":$gcMs,"input_bytes":$inputBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""spill_bytes":$spillBytes,"task_skew":${Stats.fmt(taskSkew)}}"""
}

/** SparkListener that aggregates task metrics per scope. Attached only in
  * traced runs. */
final class Counters extends SparkListener {
  private val byScope = mutable.Map.empty[String, ScopeAgg]
  private val stageScope = mutable.Map.empty[Int, String]

  private def agg(scope: String): ScopeAgg = byScope.getOrElseUpdate(scope, new ScopeAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.ScopeKey)))
      .getOrElse("unscoped")
    agg(scope).jobs += 1
    e.stageIds.foreach(stageScope(_) = scope)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageScope.get(info.stageId).foreach { scope =>
      val a = agg(scope)
      a.stages += 1
      for (s <- info.submissionTime; c <- info.completionTime) a.stageWall(info.stageId) = c - s
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageScope.getOrElse(e.stageId, "unscoped"))
    a.tasks += 1
    a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime; a.runMs += m.executorRunTime; a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Totals over every scope whose name satisfies `p`, after the listener
    * has seen every event posted so far. */
  def total(sc: SparkContext)(p: String => Boolean): ScopeAgg = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val out = new ScopeAgg
      byScope.foreach { case (k, v) => if (p(k)) out.add(v) }
      out
    }
  }

  def json(sc: SparkContext): String = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      byScope.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${v.json}""" }.mkString("{", ",\n", "}")
    }
  }
}

object Counters {
  val ScopeKey = "perfbench.scope"
}

/** Peak old-generation occupancy right after a full GC (live data, not GC
  * timing), from `MemoryPoolMXBean.getCollectionUsage`. Sampled only
  * after a collection the benchmark forces between ops or passes, outside
  * the timed section: occupancy after the collections that happen inside
  * an op depends on when they hit and varied by ±25% between runs. */
final class HeapPeak {
  private val old: Option[MemoryPoolMXBean] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  private var peak = 0L

  private def afterGc(): Long = {
    System.gc()
    old.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).getOrElse(0L)
  }

  /** Collects until occupancy stops falling: Spark's ContextCleaner frees
    * cached blocks and broadcasts of dead Datasets only after a GC has
    * queued them, so one collection still sees some of them. */
  def sample(): Unit = {
    var prev = afterGc()
    var next = prev
    var rounds = 0
    do {
      prev = next
      Thread.sleep(200)
      next = afterGc()
      rounds += 1
    } while (next < prev * 0.99 && rounds < 5)
    peak = math.max(peak, next)
  }

  def peakMb: Double = peak / 1048576.0
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; +Inf entries (failed ops) sort last. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    if (s(hi).isInfinite || s(lo).isInfinite) s(hi) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def fmt(d: Double): String =
    if (d.isNaN) "null" else if (d.isInfinite) "1e300" else java.lang.Double.toString(d)
}

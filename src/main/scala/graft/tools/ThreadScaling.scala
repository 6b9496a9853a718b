package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev-only thread-scaling harness of [[MemProbe]] and [[ParseProbe]]:
  * 400,000 Transcripts turn texts, and a stage timer that runs a per-turn
  * function over all of them from 8 and from 32 threads. */
private[tools] object ThreadScaling {
  val texts: Array[String] =
    Array.tabulate(400000)(i => graft.job.Transcripts.mkTurn(i / 8, i % 8, "c").text)

  private val sink = new AtomicLong

  /** Seconds for `threads` threads to apply `f` to every turn index. */
  private def run(threads: Int, f: Int => Long): Double = {
    val idx = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(_ => new Thread(() => {
      var acc = 0L
      var i = idx.getAndIncrement()
      while (i < texts.length) { acc += f(i); i = idx.getAndIncrement() }
      sink.addAndGet(acc)
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** One warm-up run at 8 threads, then the best of two at 8 and at 32,
    * printed with the 8→32 efficiency. */
  def stage(label: String, f: Int => Long): Unit = {
    run(8, f)
    val t8 = Seq(run(8, f), run(8, f)).min
    val t32 = Seq(run(32, f), run(32, f)).min
    println(f"$label: t8=$t8%.3f t32=$t32%.3f eff=${(t8 / t32) / 4.0}%.2f")
  }
}

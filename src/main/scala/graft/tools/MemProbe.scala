package graft.tools

import ThreadScaling.{stage, texts}

/** Dev-only: host memory-bandwidth ceiling check. Scales a read-only char
  * scan and an allocation-only workload 8->32 threads to separate "our
  * code doesn't scale" from "the machine is bandwidth-bound". */
object MemProbe {
  def main(args: Array[String]): Unit = {
    // read-only: sum every char (touches each byte once, zero allocation)
    stage("read-only-scan", { i =>
      val s = texts(i); var j = 0; var a = 0L
      while (j < s.length) { a += s.charAt(j); j += 1 }; a
    })
    // substring copies (allocation + write traffic, like HText building)
    stage("substring-copy", { i =>
      val s = texts(i); var a = 0L; var j = 0
      while (j + 64 <= s.length) { a += s.substring(j, j + 64).hashCode; j += 64 }; a
    })
    // pure CPU (no memory): xorshift iterations proportional to length
    stage("pure-cpu", { i =>
      var x = i.toLong | 1L; var k = 0
      val lim = texts(i).length * 10
      while (k < lim) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }; x
    })
  }
}

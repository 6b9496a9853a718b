package graft

import org.scalactic.source.Position
import org.scalatest.Assertions.fail

/** Failure messages sbt's JUnit XML report can write. The report aborts
  * the forked test run, losing every later suite's results, when a
  * message holds a lone surrogate; so these helpers print values with
  * controls and non-ASCII (lone surrogates included) as hex escapes,
  * each cut to its first 200 units. Specs that print generated strings
  * on failure report through them. */
object JUnitSafe {

  private def show(x: Any): String = String.valueOf(x).take(200).flatMap { c =>
    if (c >= ' ' && c < '\u007F') c.toString else f"\\u${c.toInt}%04x"
  }

  /** Fails unless `got == want`, printing both sides and the input. */
  def same[A](got: A, want: A, input: Any)(implicit pos: Position): Unit =
    if (got != want) fail(s"${show(got)} != ${show(want)} on ${show(input)}")

  /** Fails unless `ok`, printing `what` and the input. */
  def check(ok: Boolean, what: String, input: Any)(implicit pos: Position): Unit =
    if (!ok) fail(s"$what on ${show(input)}")
}

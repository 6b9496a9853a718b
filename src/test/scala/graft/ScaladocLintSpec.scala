package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: a Scaladoc block directly followed by another Scaladoc
  * block documents nothing (scaladoc attaches only the second one to the
  * definition below), so its text is lost from the API docs. */
class ScaladocLintSpec extends AnyFunSuite {

  private val scaladoc = "(?s)/\\*\\*.*?\\*/".r

  /** `file:line` of every Scaladoc block followed, after whitespace only,
    * by another Scaladoc block. */
  def orphanedScaladoc(root: Path): Seq[String] =
    Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        scaladoc.findAllMatchIn(src)
          .filter(m => src.startsWith("/**", src.indexWhere(!_.isWhitespace, m.end)))
          .map(m => s"${root.relativize(p)}:${src.substring(0, m.start).count(_ == '\n') + 1}")
      }

  test("no Scaladoc block in src/main is directly followed by another") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (${root.toAbsolutePath})")
    val orphans = orphanedScaladoc(root)
    assert(orphans.isEmpty, orphans.mkString("orphaned Scaladoc blocks:\n  ", "\n  ", ""))
  }
}

package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every `main` under src/main shares Harness's session: one
  * `SparkSession.builder`, so tool configs cannot drift apart again. */
class SessionLintSpec extends AnyFunSuite {

  private val sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")

  test("SparkSession.builder appears only in Harness.scala") {
    val offenders = sources.filter(p => text(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString)
    assert(offenders == Seq("Harness.scala"))
  }

  test("every main gets its session from Harness.session()") {
    val mains = sources.filter(p => text(p).contains("def main(args"))
    assert(mains.nonEmpty)
    for (p <- mains) assert(text(p).contains("Harness.session()"), p.toString)
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession.local is the one place graft builds a SparkSession, so
  * every main plans and runs on the same session shape. A hand-built
  * session elsewhere in the library drifts from it (cores, shuffle
  * width, extensions) without any test noticing; this guard does. */
class SessionFactorySpec extends AnyFunSuite {

  test("only GraftSession.scala calls SparkSession.builder in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    assert(files.exists(_.endsWith("GraftSession.scala")))
    def builds(p: Path): Boolean =
      new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder")
    val offenders = files.filter(builds)
      .filterNot(_.getFileName.toString == "GraftSession.scala")
    assert(offenders.isEmpty,
      s"build the session through GraftSession.local, not in: ${offenders.mkString(", ")}")
  }
}

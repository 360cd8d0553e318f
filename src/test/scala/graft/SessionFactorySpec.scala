package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession.local is the one place graft builds a SparkSession, so
  * every main plans and runs on the same session shape. A hand-built
  * session elsewhere in the library drifts from it (cores, shuffle
  * width, extensions) without any test noticing; this guard does.
  * Likewise GraftSession.configure is the one place graft binds its SQL
  * functions on a session: operators build the expressions directly,
  * so none of them mutates the caller's function registry. And
  * graft.functions.Wire is the one place a kernel's key is chosen
  * between a string and its xxhash64: a `hashed` flag or a `…Hashed`
  * copy of a kernel would re-decide it. */
class SessionFactorySpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq
  }

  private def offenders(text: String, allowedIn: Set[String] = Set.empty)
      : Seq[Path] =
    sources.collect { case (p, src) if src.contains(text) => p }
      .filterNot(p => allowedIn(p.getFileName.toString))

  test("only GraftSession.scala calls SparkSession.builder in src/main") {
    assert(sources.exists(_._1.endsWith("GraftSession.scala")))
    val found = offenders("SparkSession.builder", Set("GraftSession.scala"))
    assert(found.isEmpty,
      s"build the session through GraftSession.local, not in: ${found.mkString(", ")}")
  }

  test("only GraftSession.scala registers functions; no operator looks one up by name") {
    val registers = offenders("Registry.register(", Set("GraftSession.scala"))
    assert(registers.isEmpty,
      s"register through GraftSession.configure, not in: ${registers.mkString(", ")}")
    val lookups = offenders("call_function(\"graft_")
    assert(lookups.isEmpty,
      s"build the expression through GraftShim, not by name in: ${lookups.mkString(", ")}")
  }

  test("the string-or-hash wire is one Wire parameter: no hashed flag, no *Hashed twin") {
    val flag = """hashed\s*:\s*Boolean""".r
    val twin = """def\s+\w+Hashed\b""".r
    val found = sources.collect {
      case (p, src) if flag.findFirstIn(src).isDefined ||
                       twin.findFirstIn(src).isDefined => p
    }
    assert(found.isEmpty,
      s"take a graft.functions.Wire instead, in: ${found.mkString(", ")}")
  }
}

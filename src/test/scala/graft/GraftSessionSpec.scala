package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]] is the engine's only SparkSession builder: a second
  * hand-copied builder in `src/main` is how the per-site settings drifted
  * apart before (core counts 4/8/32, AQE and log quieting on in some mains
  * and not others). Comments may still show a builder. */
class GraftSessionSpec extends AnyFunSuite {

  private def code(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  test("no SparkSession.builder in src/main outside GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = files
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => code(p).contains("SparkSession.builder"))
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession: ${offenders.mkString(", ")}")
    // the scan sees real code: the factory itself is found
    assert(files.exists(p =>
      p.getFileName.toString == "GraftSession.scala" &&
        code(p).contains("SparkSession.builder")))
  }
}

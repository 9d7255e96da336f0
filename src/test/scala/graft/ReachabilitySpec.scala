package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every file in `src/main` is reached from an entry point. The scan starts
  * at every object with a `def main(` and at the [[ReachabilitySpec.Roots]]
  * entries, and follows the top-level names that each reached file's code
  * mentions, with comments stripped. A name counts as mentioned when it is
  * a word of the code, so the scan may over-count a reference but does not
  * miss one. A file that only its specs run fails here: wire it into an
  * entry point or delete it. */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private def code(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  /** A class, trait, object or type defined at the top of a file. */
  private val TopLevel = ("(?m)^(?:(?:final|sealed|abstract|case|implicit|" +
    "private(?:\\[[\\w.]+\\])?|protected(?:\\[[\\w.]+\\])?)\\s+)*" +
    "(?:object|class|trait|type)\\s+([A-Za-z_]\\w*)").r
  private val Word = "[A-Za-z_]\\w*".r
  private val Main = "def\\s+main\\s*\\(".r

  test("every src/main file is reached from an entry point") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val codes = files.map(p => p -> code(p)).toMap
    val defines = codes.map { case (p, c) =>
      p -> TopLevel.findAllMatchIn(c).map(_.group(1)).toSet }
    val mentions = codes.map { case (p, c) => p -> Word.findAllIn(c).toSet }
    def definedBy(name: String): Seq[Path] = files.filter(defines(_)(name))
    def show(ps: Iterable[Path]): String =
      ps.map(root.relativize(_).toString).toSeq.sorted.mkString(", ")

    val unknown = (Roots.keys ++ Pending.keys).filter(definedBy(_).isEmpty)
    assert(unknown.isEmpty,
      s"allow-list entries that no src/main file defines: ${unknown.mkString(", ")}")
    (Roots ++ Pending).toSeq.sorted.foreach { case (n, why) =>
      info(s"allowed $n: $why") }
    val mains = files.filter(p => Main.findFirstIn(codes(p)).nonEmpty)
    val reached = scala.collection.mutable.Set[Path]()
    var frontier = mains ++ Roots.keys.flatMap(definedBy)
    while (frontier.nonEmpty) {
      reached ++= frontier
      frontier = files.filter(q => !reached(q) &&
        frontier.exists(p => defines(q).exists(mentions(p))))
    }
    val pending = Pending.keys.flatMap(definedBy).toSet
    val unreached = files.filterNot(reached).filterNot(pending)
    assert(unreached.isEmpty,
      s"no entry point reaches these src/main files: ${show(unreached)}")
    val nowReached = pending.filter(reached)
    assert(nowReached.isEmpty,
      s"take these off ReachabilitySpec.Pending, an entry point reaches " +
        s"them now: ${show(nowReached)}")
    // the scan sees real code: the engine's mains are found
    assert(Set("Cli.scala", "Bench.scala", "Verify.scala", "ScaleProbe.scala",
      "ExplainAudit.scala").subsetOf(mains.map(_.getFileName.toString).toSet),
      s"mains found: ${show(mains)}")
  }
}

object ReachabilitySpec {

  /** Roots that no `src/main` code names, each with the reason it stays. */
  val Roots: Map[String, String] = Map(
    "GraftExtensions" ->
      "Spark loads it by class name from spark.sql.extensions",
    "CodegenBridge" -> ("the test seam for codegen-versus-interpreted " +
      "parity of the custom Catalyst expressions"))

  /** Reached only from their specs when this scan was added; each is to be
    * wired into an entry point or deleted, and then taken off this list. */
  val Pending: Map[String, String] = Seq(
    "Bucketing", "StreamingCuration", "StreamingDayStats", "StreamingHll",
    "StreamingIvf", "StreamingKmv", "StreamingOffload", "StreamingSketch")
    .map(_ -> "run only by its spec; no CLI command or REST route calls it")
    .toMap
}

package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Json]] is the engine's one JSON codec. Before it, five hand-copied
  * escapers rendered control characters three different ways and four
  * regex readers lost data on a `]` inside a string; a new copy in
  * `src/main` fails here. */
class JsonSpec extends AnyFunSuite {

  private def code(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  private def isCodec(p: Path): Boolean =
    p.endsWith(Paths.get("graft", "Json.scala"))

  test("no JSON string escaper or unescaper in src/main outside " +
      "graft/Json.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def escapes(p: Path): Boolean = {
      val c = code(p)
      c.contains("%04x") || "def\\s+unescape\\b".r.findFirstIn(c).nonEmpty
    }
    val offenders = files.filterNot(isCodec).filter(escapes)
    assert(offenders.isEmpty,
      s"quote and parse JSON through graft.Json: ${offenders.mkString(", ")}")
    // the scan sees real code: the codec's own escaper is found
    assert(files.exists(p => isCodec(p) && escapes(p)))
  }

  test("quote output parses back to the same string for every UTF-16 " +
      "code unit") {
    val all = (0 until 0x10000).map(_.toChar).mkString
    assert(Json.parseStrings(Json.strings(Seq(all, ""))) == Seq(all, ""))
    val quoted = Json.quote(all)
    assert(!quoted.exists(_ < ' '))
    assert(quoted.contains("\\u0009") && quoted.contains("\\u000a"))
  }

  test("typed reads: missing, null and mistyped fields read as absent; " +
      "malformed or trailing text is rejected") {
    val o = Json.parse(
      """{"s": "x", "n": 12, "d": 1.5E-3, "b": true, "nul": null,
        | "a": ["p", "q"], "objs": [{"k": "v"}, 3]}""".stripMargin)
    assert(o.str("s").contains("x") && o.str("n").isEmpty)
    assert(o.long("n").contains(12L) && o.long("s").isEmpty)
    assert(o.double("d").contains(0.0015))
    assert(o.values("b") == Seq("true") && o.values("s") == Seq("x"))
    assert(o.values("a") == Seq("p", "q") && o.values("nul") == Nil)
    intercept[IllegalArgumentException](o.values("n"))
    assert(o.str("nul").isEmpty && o.str("missing").isEmpty)
    assert(o.strs("a") == Seq("p", "q") && o.strs("s") == Nil)
    assert(o.objs("objs").flatMap(_.str("k")) == Seq("v"))
    assert(o.bool("b").contains(true) && o.bool("s").isEmpty)
    assert(Json.parse("""{"m": {"k": 1}}""").obj("m").flatMap(_.long("k"))
      .contains(1L) && o.obj("objs").isEmpty && o.obj("missing").isEmpty)
    Seq("", "{", "[1]", "{\"a\": 1} {}", "{\"a\": 1}x", "not json")
      .foreach(t => assert(scala.util.Try(Json.parse(t)).isFailure, t))
  }
}

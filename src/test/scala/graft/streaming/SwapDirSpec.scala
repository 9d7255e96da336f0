package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[SwapDir]] is the only code in `streaming/` that moves a store
  * generation aside or installs one. Hand-copied swaps had drifted into
  * three naming schemes and two recovery rules, and readers that renamed
  * the aside back could make a live writer's install nest its new
  * generation inside the old one (the batch then committed without its
  * data). Comments may still mention a rename. */
class SwapDirSpec extends AnyFunSuite {

  private def code(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  test("no rename in streaming/ outside Hwm.scala, and no " +
      "Compaction.recover in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val streaming = files.filter(_.startsWith(root.resolve("graft/streaming")))
    val renamers = streaming
      .filterNot(_.getFileName.toString == "Hwm.scala")
      .filter(p => code(p).contains(".rename("))
    assert(renamers.isEmpty,
      s"swap store generations through SwapDir: ${renamers.mkString(", ")}")
    val healers = files.filter(p => code(p).contains("Compaction.recover"))
    assert(healers.isEmpty,
      s"recover with SwapDir.recover, read with SwapDir.resolveForRead: " +
        healers.mkString(", "))
    // the scan sees real code: SwapDir's own renames are found
    assert(streaming.exists(p =>
      p.getFileName.toString == "Hwm.scala" &&
        code(p).contains("fs.rename(t.temp, t.current)") &&
        code(p).contains("fs.rename(t.current, t.aside)")))
  }
}

package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path => HPath}
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

  private val local = FileSystem.getLocal(new Configuration())

  /** The local filesystem with every rename going through `onRename(fs,
    * src, dst)`, where `fs` is the plain local one: another writer can
    * act inside an install's window. */
  private def racing(onRename: (FileSystem, HPath, HPath) => Boolean) =
    new FilterFileSystem(local) {
      override def rename(src: HPath, dst: HPath): Boolean =
        onRename(fs, src, dst)
    }

  /** A store holding generation "g1", and a reader of one generation. */
  private def store(): (Path, SwapDir.Target, String => String) = {
    val root = Files.createTempDirectory("graft_swapdir")
    val t = SwapDir.target(new HPath(root.resolve("store").toUri))
    SwapDir.install(local, t)(gen(local, "g1"))
    (root, t, name => Files.readString(root.resolve(name).resolve("part")))
  }

  private def gen(fs: FileSystem, text: String)(dir: HPath): Unit = {
    val out = fs.create(new HPath(dir, "part"))
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** After a failed install: nothing nested, the old generation live, the
    * new one back in the temp; the replay then installs it. */
  private def assertReplayable(root: Path, t: SwapDir.Target,
                               read: String => String): Unit = {
    assert(!Files.exists(root.resolve("store").resolve("store__tmp")))
    assert(read("store") == "g1" && read("store__tmp") == "g2")
    SwapDir.install(local, t)(gen(local, "g2"))
    assert(read("store") == "g2" && read("store__old") == "g1")
  }

  test("install fails, nesting nothing, when current is back before " +
      "its second rename") {
    val (root, t, read) = store()
    // a concurrent writer's recover renames the aside straight back
    val fs = racing { (fs, src, dst) =>
      val moved = fs.rename(src, dst)
      if (moved && src == t.current) assert(fs.rename(dst, src))
      moved
    }
    val e = intercept[IllegalStateException](
      SwapDir.install(fs, t)(gen(fs, "g2")))
    assert(e.getMessage.contains("cannot install"))
    assertReplayable(root, t, read)
  }

  test("install moves a generation nested under a resurrected current " +
      "back out to the temp and fails") {
    val (root, t, read) = store()
    // the recover lands right before install's second rename
    val fs = racing { (fs, src, dst) =>
      if (src == t.temp) assert(fs.rename(t.aside, t.current))
      fs.rename(src, dst)
    }
    intercept[IllegalStateException](SwapDir.install(fs, t)(gen(fs, "g2")))
    assertReplayable(root, t, read)
  }
}

package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Contract gate on the committed scale-probe artifact
  * (`bench/scale_probe.json`, written by [[ScaleProbe]]): every recorded
  * scaling exponent must stay ≤ [[ScaleProbeSpec.MaxExponent]]. The probe
  * itself runs manually (x32 data explosion is minutes, not CI material),
  * so this gate holds the INVARIANT on the committed evidence: a re-run
  * that records a super-linear query fails the build until the plan is
  * fixed or the regression is consciously adjudicated here. The r16-r17
  * history is the cautionary tale — q190 measured exponent 3.5 while its
  * allowlist comment promised linearity; the artifact now has to AGREE
  * with the promise.
  */
class ScaleProbeSpec extends AnyFunSuite {

  /** Measured-linear ceiling: ≈1 is linear, the margin absorbs fixed
    * overhead amortization and timer noise on a shared machine. */
  val MaxExponent = 1.25

  test("every committed scale-probe exponent is at or below the " +
      "measured-linear ceiling") {
    val path = Paths.get("bench/scale_probe.json")
    assume(Files.exists(path), "no probe artifact committed yet")
    val txt = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
    val re = """"(q[0-9][^"]*)": \{[^}]*"exponent": (-?[0-9.]+)""".r
    val entries = re.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
    assert(entries.nonEmpty, "artifact present but no query entries parsed")
    val bad = entries.filter(_._2 > MaxExponent)
    assert(bad.isEmpty,
      s"super-linear probe entries (> $MaxExponent): " +
        bad.map { case (q, e) => f"$q=$e%.2f" }.mkString(", ") +
        " — fix the plan or adjudicate here with a review comment")
  }

  test("a focused re-probe keeps every other committed entry line as " +
      "it was written; a torn artifact keeps nothing") {
    val txt = new String(Files.readAllBytes(
      Paths.get("bench/scale_probe.json")), StandardCharsets.UTF_8)
    val lines = txt.linesIterator.map(_.stripSuffix(","))
      .filter(_.startsWith("    \"q")).toSeq
    val redone = lines.head.trim.drop(1).takeWhile(_ != '"')
    assert(ScaleProbe.keptEntries(txt, Set(redone)) == lines.tail)
    assert(ScaleProbe.keptEntries(txt.take(txt.length / 2), Set.empty).isEmpty)
  }
}

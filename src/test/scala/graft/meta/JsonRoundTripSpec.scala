package graft.meta

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.Json

/** The persisted documents round-trip every string exactly: offload
  * metadata (the HWM is the incremental-correctness contract), copied
  * stats, the command audit, and the JDBC store's array columns. The
  * values include the ones that broke the earlier regex readers: an HWM
  * of `a]b` read back as an empty list, and one `[x]` low value dropped
  * every column. Documents captured from those earlier writers
  * (`src/test/resources/graft/meta/legacy-docs`) must still read back
  * as written. */
class JsonRoundTripSpec extends AnyFunSuite {

  private val hostile = Seq("]", "[", "{", "}", "\"", "\\", "\t", "\r",
    "\n", "\u2028", "\uD83D\uDE00", "", "a]b", "[x]", "\\u0041",
    "\"k\": [\"v\"]}")

  private def derbyUrl(): String =
    "jdbc:derby:" +
      Files.createTempDirectory("graft_json_repo").resolve("db").toString

  private def meta(table: String, xs: Seq[String]) = OffloadMetadata(
    sourceTable = table, backendTable = "lake." + xs.mkString,
    offloadType = "INCREMENTAL",
    incrementalKey = xs.map("k" + _),
    incrementalHighValue = xs,
    incrementalPredicateType = Some(xs.mkString("|")),
    incrementalPredicateValue = xs.reverse,
    bucketColumns = xs.take(1), sortColumns = xs.takeRight(2),
    snapshotId = Some(9L),
    pendingChunkKeys = xs.map(_ + "]"), pendingChunkHwm = xs,
    writerTimeZone = Some(xs.mkString))

  test("offload metadata round-trips hostile strings through the file " +
      "and JDBC stores") {
    val dir = Files.createTempDirectory("graft_json_meta").toString
    val url = derbyUrl()
    val cases = hostile.map(Seq(_)) ++ Seq(hostile, Nil)
    cases.zipWithIndex.foreach { case (xs, i) =>
      val m = meta(s"t$i", xs)
      assert(MetadataStore.fromJson(MetadataStore.toJson(m)) == m, xs)
      MetadataStore.save(dir, m)
      MetadataStore.save(url, m)
      assert(MetadataStore.load(dir, s"t$i").contains(m), xs)
      assert(MetadataStore.load(url, s"t$i").contains(m), xs)
    }
    val none = meta("bare", Nil).copy(incrementalPredicateType = None,
      snapshotId = None, writerTimeZone = None)
    assert(MetadataStore.fromJson(MetadataStore.toJson(none)) == none)
  }

  private def stats(xs: Seq[String]) = TableStatsRecord(
    table = "s" + xs.length, numRows = 1000L, numBytes = 64000L,
    avgRowLen = 64.5,
    columns = xs.zipWithIndex.map { case (x, i) =>
      ColumnStatsRec("c" + x, ndv = i + 1L, numNulls = i.toLong,
        avgColLen = 0.1 * i, lowValue = x, highValue = x + "z") },
    partitions = xs.zipWithIndex.map { case (x, i) =>
      PartitionStatsRec("p" + x, highValue = x, rows = 10L * i,
        bytes = 100L * i, hwmLow = "[" + x, hwmHigh = x + "]") })

  test("copied stats round-trip hostile strings in column and partition " +
      "values") {
    val dir = Files.createTempDirectory("graft_json_stats").toString
    (hostile.map(Seq(_)) :+ hostile).foreach { xs =>
      val r = stats(xs)
      assert(StatsStore.fromJson(StatsStore.toJson(r)) == r, xs)
      StatsStore.save(dir, r)
      assert(StatsStore.load(dir, r.table).contains(r), xs)
    }
    // a non-finite average renders as NaN and reads back as NaN
    val nan = StatsStore.fromJson(
      StatsStore.toJson(stats(Nil).copy(avgRowLen = Double.NaN)))
    assert(nan.avgRowLen.isNaN)
  }

  private def recordRun(audit: CommandAudit, xs: Seq[String]): String = {
    val exec = "exec" + xs.mkString
    val cid = audit.startCommand(exec, "OFFLOAD", xs.mkString("input", "|", ""),
      xs.map(x => x -> x).toMap)
    xs.foreach { x =>
      val s = audit.startStep(exec, "OFFLOAD", "step" + x)
      audit.endStep(s, CommandAudit.Success, "detail" + x)
    }
    val ch = audit.startChunk(exec, 1, xs)
    audit.endChunk(ch, CommandAudit.Success, Some(xs.length.toLong))
    audit.endCommand(cid, CommandAudit.Success)
    exec
  }

  private def checkRun(run: CommandAudit.CommandRun, xs: Seq[String]) = {
    assert(run.commandInput == xs.mkString("input", "|", ""))
    assert(run.status == CommandAudit.Success)
    assert(run.steps.map(s => (s.step, s.status, s.details)) ==
      xs.map(x => ("step" + x, CommandAudit.Success, "detail" + x)))
    assert(run.chunks.map(c => (c.partitions, c.rowCount)) ==
      Seq((xs, Some(xs.length.toLong))))
  }

  test("command audit runs() return hostile step details and chunk " +
      "partitions as written, from the file and JDBC backends") {
    val dir = Files.createTempDirectory("graft_json_audit").toString
    val file = new FileCommandAudit(dir)
    val jdbc = CommandAudit.open(derbyUrl())
    Seq(file, jdbc).foreach { audit =>
      val execs = (hostile.map(Seq(_)) :+ hostile).map { xs =>
        recordRun(audit, xs) -> xs
      }
      execs.foreach { case (exec, xs) =>
        checkRun(audit.run(exec).get, xs)
      }
    }
    // a fresh reader folds the same history from the file
    assert(new FileCommandAudit(dir).runs() == file.runs())
  }

  private def legacyDoc(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/meta/legacy-docs/$name")
    assert(in != null, s"missing test resource $name")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** The values the earlier writers were given for the captured docs. */
  private val captured = Seq("a]b", "[x]", "{", "}", "q\"q", "b\\s", "t\tb",
    "c\rr", "l\nf", "ls\u2028x", "smile\uD83D\uDE00", "")

  test("metadata and JDBC arrays written by the earlier writers read back " +
      "as written") {
    assert(MetadataStore.fromJson(legacyDoc("metadata.json")) ==
      OffloadMetadata(
        sourceTable = "sales", backendTable = "lake.sales",
        offloadType = "INCREMENTAL",
        incrementalKey = Seq("k]1", "k2"),
        incrementalHighValue = captured,
        incrementalPredicateType = Some("RANGE\t]"),
        incrementalPredicateValue = captured.reverse,
        bucketColumns = Seq("b[0]"), sortColumns = Seq("s}", "{s"),
        snapshotId = Some(7L),
        pendingChunkKeys = Seq("p]"),
        pendingChunkHwm = Seq("2024-01-31]", "\""),
        writerTimeZone = Some("Europe/Berlin")))
    // from before the pending-chunk marker and the writer time zone
    assert(MetadataStore.fromJson(legacyDoc("metadata_pre_pending.json")) ==
      OffloadMetadata(
        sourceTable = "orders", backendTable = "lake.orders",
        offloadType = "INCREMENTAL",
        incrementalKey = Seq("o_orderdate"),
        incrementalHighValue = Seq("1998-08-02]"),
        snapshotId = Some(12L)))
    assert(Json.parseStrings(legacyDoc("jdbc_array.txt")) == captured)
  }

  test("stats written by the earlier writers read back as written") {
    val cols = captured.zipWithIndex.map { case (x, i) =>
      ColumnStatsRec(s"c$i$x", i + 1L, i.toLong, 1.5 * i, x, x + "z") }
    val parts = captured.zipWithIndex.map { case (x, i) =>
      PartitionStatsRec("p" + x, x + "~", 10L * i, 100L * i, "[" + x, x + "]") }
    val r = TableStatsRecord("sales", 1000L, 64000L, 64.5, cols, parts)
    assert(StatsStore.fromJson(legacyDoc("stats.json")) == r)
    // from before partitions carried hwm_low / hwm_high
    assert(StatsStore.fromJson(legacyDoc("stats_pre_hwm.json")) ==
      r.copy(table = "old", columns = cols.take(2),
        partitions = parts.take(2).map(_.copy(hwmLow = "", hwmHigh = ""))))
  }

  test("an audit log written by the earlier writer reads back as " +
      "written, skipping a torn line") {
    val dir = Files.createTempDirectory("graft_json_parent_audit")
    val lines = legacyDoc("command_audit.jsonl").linesIterator.toSeq
    // a crash cut this event short: it ends in '}' but is not a document
    val torn = lines.head.stripSuffix("}").replace("\"id\":1,", "\"id\":90,")
    Files.write(dir.resolve("command_audit.jsonl"),
      (lines.take(3) ++ Seq(torn) ++ lines.drop(3)).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8), StandardOpenOption.CREATE_NEW)
    val runs = new FileCommandAudit(dir.toString).runs()
    assert(runs.map(_.commandId) == Seq(1L))
    val run = runs.head
    assert(run.executionId == "exec-]1")
    assert(run.commandInput == "sales [x] \"q\"\t\n")
    assert(run.status == CommandAudit.Success && run.endTs.nonEmpty)
    assert(run.steps.map(s => (s.step, s.status, s.details)) ==
      captured.map(x => ("step" + x, CommandAudit.Success, "detail" + x)))
    assert(run.chunks.map(c => (c.chunkNumber, c.partitions, c.status,
      c.rowCount)) == Seq(
      (1, captured, CommandAudit.Success, Some(42L)),
      (2, Seq("]"), CommandAudit.Error, None)))
  }
}

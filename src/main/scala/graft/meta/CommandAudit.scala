package graft.meta

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.Json
import graft.Json.{quote => q}

/** Persisted orchestration command audit — the reference's command-execution
  * history (`orchestration/orchestration_runner.py:139-226` begin/end/fail,
  * `persistence/orchestration_repo_client.py:306-390` start_command /
  * end_command / start_command_step / end_command_step / start_offload_chunk
  * / end_offload_chunk, `orchestration/execution_id.py` UUID execution ids).
  * The reference writes rows into GOE_REPO tables; here each event is one
  * JSON line appended to `<dir>/command_audit.jsonl` — durable across JVMs,
  * foldable into run histories, and a swap-in point for a JDBC-backed repo.
  *
  * Write shape: append-one-line-and-flush per event. The driver is the only
  * writer (orchestration runs on the Spark driver), appends are synchronized
  * within the JVM, and the reader tolerates a torn final line, so a crash
  * mid-event loses at most that event — never corrupts history. Event ids
  * are seeded from the existing file so they keep increasing across
  * restarts, matching the reference's repo-sequence semantics.
  */
object CommandAudit {

  /** Command status codes (`orchestration_constants.py:54-56`). */
  val Executing = "EXECUTING"
  val Success = "SUCCESS"
  val Error = "ERROR"

  /** New execution id — the reference's `ExecutionId()` UUID. */
  def newExecutionId(): String = java.util.UUID.randomUUID().toString

  final case class StepRun(
      stepId: Long, step: String, status: String,
      startTs: Long, endTs: Option[Long], details: String)
  final case class ChunkRun(
      chunkId: Long, chunkNumber: Int, partitions: Seq[String],
      status: String, rowCount: Option[Long],
      startTs: Long, endTs: Option[Long])
  final case class CommandRun(
      commandId: Long, executionId: String, commandType: String,
      commandInput: String, status: String,
      startTs: Long, endTs: Option[Long],
      steps: Seq[StepRun], chunks: Seq[ChunkRun])

  /** One instance per metadata dir, process-wide. Two concurrent commands
    * (the listener's thread pool locks per-*table*, so offloads of
    * different tables into one metadata dir overlap) must share the id
    * counter and the append lock — separate instances would seed the same
    * max id from the file and emit colliding event ids, cross-wiring run
    * histories when `runs()` folds end events by id. Keyed on the
    * canonical absolute path so `dir` spelling variants can't split.
    *
    * A `jdbc:` URL instead of a directory selects the transactional
    * repository backend ([[JdbcMetaRepo]]) — the reference's GOE_REPO
    * tables — where id uniqueness comes from database identity columns
    * rather than this JVM's counter, so MULTIPLE driver processes can
    * share one store. */
  private val instances =
    new java.util.concurrent.ConcurrentHashMap[String, CommandAudit]()

  def open(dir: String): CommandAudit = {
    val key =
      if (JdbcMetaRepo.isJdbc(dir)) dir
      else Paths.get(dir).toAbsolutePath.normalize.toString
    instances.computeIfAbsent(key, k =>
      if (JdbcMetaRepo.isJdbc(k)) new JdbcCommandAudit(k)
      else new FileCommandAudit(k))
  }
}

/** The audit surface both backends serve — the reference repo-client
  * API (`persistence/orchestration_repo_client.py:306-390`). */
abstract class CommandAudit {
  import CommandAudit._
  def startCommand(executionId: String, commandType: String,
                   commandInput: String,
                   parameters: Map[String, String] = Map.empty): Long
  def endCommand(commandId: Long, status: String): Unit
  def startStep(executionId: String, commandType: String,
                step: String): Long
  def endStep(stepId: Long, status: String, details: String = ""): Unit
  def startChunk(executionId: String, chunkNumber: Int,
                 partitions: Seq[String]): Long
  def endChunk(chunkId: Long, status: String,
               rowCount: Option[Long] = None): Unit
  def runs(): Seq[CommandRun]
  def run(executionId: String): Option[CommandRun] =
    runs().find(_.executionId == executionId)
}

final class FileCommandAudit private[meta] (dir: String)
    extends CommandAudit {
  import CommandAudit._

  // Active segment plus rotated, immutable predecessors (the reference's
  // `bin/logmgr` log-management analogue): `command_audit.jsonl` takes
  // appends; [[rotate]] seals it as `command_audit.NNNNNN.jsonl`. The id
  // sequence is global across segments — a reopen seeds past the max id
  // found in ANY segment, so ids stay monotone over rotations and
  // restarts, and `runs()` folds rotated history and active appends into
  // one timeline.
  private val path = Paths.get(dir, "command_audit.jsonl")
  private val SegName = """command_audit\.(\d{6})\.jsonl""".r

  /** Auto-rotation fence (bytes); Long.MaxValue = manual [[rotate]] only.
    * Read once per instance from `graft.audit.segment.bytes`. */
  private val maxSegmentBytes: Long =
    sys.props.get("graft.audit.segment.bytes").map(_.toLong)
      .getOrElse(Long.MaxValue)

  private def segmentPaths(): Seq[java.nio.file.Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => SegName.pattern.matcher(p.getFileName.toString)
            .matches())
          .toSeq.sortBy(_.getFileName.toString)
      } finally s.close()
    }
  }

  /** Seal the active segment: fold any unread bytes, then atomically
    * rename it to the next numbered segment. The next append starts a
    * fresh active file; event ids keep counting (the in-memory sequence
    * is untouched, and a later reopen re-seeds from all segments). A
    * torn trailing line (crash evidence) blocks rotation — sealing it
    * would strand the fragment where its continuation can never land. */
  def rotate(): Unit = synchronized {
    ingestNew()
    if (!Files.exists(path) || Files.size(path) == 0) return
    if (pendingTail.nonEmpty) return
    val seq = segmentPaths().lastOption
      .map(_.getFileName.toString match {
        case SegName(n) => n.toInt + 1
      }).getOrElse(1)
    val seg = f"command_audit.$seq%06d.jsonl"
    Files.move(path, Paths.get(dir, seg),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ingestedSegments += seg // already folded while it was the active file
    ingestedOffset = 0L
  }

  // seeded from the existing file at the END of the class body, after the
  // fold-index fields below are initialized
  private val nextId: AtomicLong = new AtomicLong(1)

  private def append(fields: Seq[(String, String)]): Long = synchronized {
    Files.createDirectories(Paths.get(dir))
    val eid = nextId.getAndIncrement()
    val all = Seq("id" -> eid.toString,
      "ts" -> System.currentTimeMillis().toString) ++ fields
    val line = all.map { case (k, v) => q(k) + ":" + v }
      .mkString("{", ",", "}") + "\n"
    Files.write(path, line.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    // fold the event straight into the in-memory index (reads only the
    // bytes this append produced)
    ingestNew()
    if (Files.size(path) >= maxSegmentBytes) rotate()
    eid
  }

  /** `start_command` — returns the history-record id for [[endCommand]]. */
  override def startCommand(executionId: String, commandType: String,
                            commandInput: String,
                            parameters: Map[String, String]): Long =
    append(Seq(
      "kind" -> q("command_begin"),
      "execution_id" -> q(executionId),
      "command_type" -> q(commandType),
      "command_input" -> q(commandInput),
      "parameters" -> parameters.toSeq.sortBy(_._1)
        .map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}")))

  override def endCommand(commandId: Long, status: String): Unit =
    append(Seq("kind" -> q("command_end"),
      "command_id" -> commandId.toString, "status" -> q(status)))

  /** `start_command_step` — returns the step-record id for [[endStep]]. */
  override def startStep(executionId: String, commandType: String,
                         step: String): Long =
    append(Seq("kind" -> q("step_begin"),
      "execution_id" -> q(executionId),
      "command_type" -> q(commandType), "step" -> q(step)))

  override def endStep(stepId: Long, status: String,
                       details: String): Unit =
    append(Seq("kind" -> q("step_end"), "step_id" -> stepId.toString,
      "status" -> q(status), "details" -> q(details)))

  /** `start_offload_chunk` — returns the chunk-record id for [[endChunk]]. */
  override def startChunk(executionId: String, chunkNumber: Int,
                          partitions: Seq[String]): Long =
    append(Seq("kind" -> q("chunk_begin"),
      "execution_id" -> q(executionId),
      "chunk_number" -> chunkNumber.toString,
      "partitions" -> Json.strings(partitions)))

  override def endChunk(chunkId: Long, status: String,
                        rowCount: Option[Long]): Unit =
    append(Seq("kind" -> q("chunk_end"), "chunk_id" -> chunkId.toString,
      "status" -> q(status),
      "row_count" -> rowCount.map(_.toString).getOrElse("null")))

  // ---- incremental fold index ----
  //
  // `runs()` used to re-read and re-parse the entire JSONL per call — O(full
  // history) per listener GET, flagged before any long-lived deployment.
  // Instead the instance keeps a fold of everything ingested so far and a
  // byte offset into the file; each call reads only appended bytes. Begin
  // events insert EXECUTING records; end events overwrite their record's
  // status in place (ids only increase, so an end always follows its begin
  // in file order). Guarded by the instance lock shared with [[append]].
  private var ingestedOffset: Long = 0L
  private var pendingTail: Array[Byte] = Array.emptyByteArray
  private val ingestedSegments = mutable.HashSet.empty[String]
  private var maxSeenId: Long = 0L
  private val cmds = mutable.LinkedHashMap.empty[Long, CommandRun]
  private val stepsById = mutable.LinkedHashMap.empty[Long, StepRun]
  private val chunksById = mutable.LinkedHashMap.empty[Long, ChunkRun]
  private val stepIdsByExec =
    mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
  private val chunkIdsByExec =
    mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]

  /** Bytes of the audit file folded into the index so far (test seam). */
  private[meta] def ingestedBytes: Long = synchronized(ingestedOffset)

  /** Read file bytes past `ingestedOffset`, fold complete lines into the
    * index. A partial final line (torn by a crash, or mid-append from
    * another JVM) is carried in `pendingTail` until its newline arrives —
    * '\n' cannot occur inside a UTF-8 multibyte sequence, so splitting on
    * bytes before decoding is safe. */
  private def ingestNew(sweepSegments: Boolean = false): Unit =
      synchronized {
    // A WRITER in another JVM may have rotated the file this reader's
    // byte offset points into. The EXACT signal is a segment file this
    // instance hasn't recorded (each rotation seals exactly one): fold
    // it (the fold is an id-keyed upsert, so re-ingesting bytes already
    // folded from the pre-rotation active file is harmless) and restart
    // the FRESH active file from byte 0 with the carried tail cleared —
    // a size comparison alone would misread a fresh file that has
    // already grown past the stale offset, silently skipping its head
    // and fusing the stale tail fragment onto a new record. The sweep
    // costs a directory listing, so it runs on READ entry points
    // (runs(), construction), not on the writer's per-event hot path —
    // the writer records its own rotations directly.
    if (sweepSegments) {
      var rotatedAway = false
      segmentPaths().foreach { p =>
        val name = p.getFileName.toString
        if (!ingestedSegments.contains(name)) {
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
            .linesIterator.foreach(ingestLine)
          ingestedSegments += name
          rotatedAway = true
        }
      }
      if (rotatedAway) {
        ingestedOffset = 0L
        pendingTail = Array.emptyByteArray
      }
    }
    if (!Files.exists(path)) return
    val ch = FileChannel.open(path, StandardOpenOption.READ)
    try {
      val size = ch.size()
      if (size < ingestedOffset) {
        // defense in depth (e.g. external truncation): never read from
        // beyond the end of the file
        ingestedOffset = 0L
        pendingTail = Array.emptyByteArray
      }
      if (size <= ingestedOffset) return
      val buf = ByteBuffer.allocate((size - ingestedOffset).toInt)
      ch.position(ingestedOffset)
      while (buf.hasRemaining && ch.read(buf) >= 0) {}
      ingestedOffset = size
      val bytes = pendingTail ++ buf.array()
      var from = 0
      var nl = bytes.indexOf('\n'.toByte, from)
      while (nl >= 0) {
        ingestLine(new String(bytes, from, nl - from, StandardCharsets.UTF_8))
        from = nl + 1
        nl = bytes.indexOf('\n'.toByte, from)
      }
      pendingTail = bytes.drop(from)
    } finally ch.close()
  }

  private def ingestLine(raw: String): Unit = {
    // a torn line (a crash mid-append) does not parse; skip it
    val js =
      try Json.parse(raw.stripSuffix("\r"))
      catch { case scala.util.control.NonFatal(_) => return }
    val eid = js.long("id").getOrElse(0L)
    maxSeenId = math.max(maxSeenId, eid)
    def exec = js.str("execution_id").getOrElse("")
    def ts = js.long("ts").getOrElse(0L)
    def status = js.str("status").getOrElse(Executing)
    js.str("kind").getOrElse("") match {
      case "command_begin" =>
        cmds(eid) = CommandRun(
          commandId = eid, executionId = exec,
          commandType = js.str("command_type").getOrElse(""),
          commandInput = js.str("command_input").getOrElse(""),
          status = Executing, startTs = ts, endTs = None,
          steps = Nil, chunks = Nil)
      case "command_end" =>
        for (cid <- js.long("command_id"); c <- cmds.get(cid))
          cmds(cid) = c.copy(status = status, endTs = Some(ts))
      case "step_begin" =>
        stepsById(eid) = StepRun(
          stepId = eid, step = js.str("step").getOrElse(""),
          status = Executing, startTs = ts, endTs = None, details = "")
        stepIdsByExec.getOrElseUpdate(exec, mutable.ArrayBuffer.empty) += eid
      case "step_end" =>
        for (sid <- js.long("step_id"); s <- stepsById.get(sid))
          stepsById(sid) = s.copy(status = status, endTs = Some(ts),
            details = js.str("details").getOrElse(""))
      case "chunk_begin" =>
        chunksById(eid) = ChunkRun(
          chunkId = eid,
          chunkNumber = js.long("chunk_number").getOrElse(0L).toInt,
          partitions = js.strs("partitions"),
          status = Executing, rowCount = None, startTs = ts, endTs = None)
        chunkIdsByExec.getOrElseUpdate(exec, mutable.ArrayBuffer.empty) += eid
      case "chunk_end" =>
        for (cid <- js.long("chunk_id"); c <- chunksById.get(cid))
          chunksById(cid) = c.copy(status = status,
            rowCount = js.long("row_count"), endTs = Some(ts))
      case _ => ()
    }
  }

  /** Per-command run histories, newest first. A command with no
    * `command_end` event is still `EXECUTING` (or was killed — exactly the
    * reference's semantics, where an abandoned run stays EXECUTING until
    * reconciled). Cost: bytes appended since the last call, plus assembly
    * over live records — never a full-file re-read. */
  override def runs(): Seq[CommandRun] = synchronized {
    ingestNew(sweepSegments = true)
    cmds.values.toSeq.map { c =>
      c.copy(
        steps = stepIdsByExec.getOrElse(c.executionId, Nil)
          .map(stepsById).toSeq.sortBy(_.stepId),
        chunks = chunkIdsByExec.getOrElse(c.executionId, Nil)
          .map(chunksById).toSeq.sortBy(_.chunkId))
    }.sortBy(-_.commandId)
  }

  // constructor tail: fold rotated segments (immutable, whole-file; the
  // ingestNew segment sweep records them) then the active file, and seed
  // the id sequence past the max id seen in ANY segment so ids keep
  // increasing across rotations and restarts (reference repo-sequence
  // semantics)
  ingestNew(sweepSegments = true)
  nextId.set(maxSeenId + 1)
}

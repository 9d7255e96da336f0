package graft.meta

import java.sql.{Connection, DriverManager, SQLException, Statement}

import scala.collection.mutable

import graft.Json

/** Transactional JDBC-backed orchestration repository — the reference's
  * GOE_REPO schema (`sql/oracle/source/sql/create_offload_repo_100.sql`:
  * `offload_metadata` :304, `command_execution` :51,
  * `command_execution_step` :99, `offload_chunk` :257;
  * `src/goe/persistence/oracle/oracle_orchestration_repo_client.py`)
  * behind the SAME interfaces the file backend serves
  * ([[MetadataStore]].save/load, [[CommandAudit]]): any `dir` argument
  * that is a `jdbc:` URL routes here, so every caller — the offload
  * runner, the listener, the CLI — gets the repository by changing one
  * string.
  *
  * What the database buys over atomic-rename JSON:
  *  - **Atomic HWM commit.** A metadata save is one single-row
  *    transaction (UPDATE-else-INSERT under a unique key); concurrent
  *    drivers serialize on the row lock, and a reader can never observe
  *    a half-written HWM tuple.
  *  - **Database-allocated audit ids.** Event ids come from `GENERATED
  *    ALWAYS AS IDENTITY` columns, not a JVM counter, so ids stay
  *    monotone and collision-free across every connection to the repo
  *    (the file backend's per-dir singleton only guarantees that within
  *    one JVM).
  *
  * **Deployment rule — multi-process sharing needs a SERVER-mode
  * database.** The id/transaction design above is process-agnostic, but
  * EMBEDDED Derby (the in-sandbox database, same engine the JDBC source
  * tests run against) locks the database directory to ONE JVM via
  * `db.lck`: a second process cannot even connect — it fails with
  * SQLState XJ040/XSDB6 ("another instance of Derby may have already
  * booted"), which `JdbcMetaRepoSpec` pins by forking a real second JVM.
  * To share one repo between driver processes, point the SAME URL-string
  * contract at a server database (Derby network server `jdbc:derby://…`
  * — requires the derbynet/derbyclient jars, absent from this sandbox —
  * or Postgres/Oracle/…); the reference's shared repo is server-mode
  * Oracle for exactly this reason
  * (`src/goe/persistence/oracle/oracle_orchestration_repo_client.py`).
  * The SQL below sticks to entry-level DDL/DML (no MERGE, no dialect
  * sequences) so any such engine works.
  *
  * Within one process, READS (metadata load, table listing, audit
  * history) run on their OWN connection: the listener's full-history
  * `runs()` scan must not serialize behind a live offload's audit
  * writes on the shared write connection.
  */
object JdbcMetaRepo {

  /** Engine version recorded in the repo's `goe_version` table and
    * stamped on every command row (reference `goe_version` /
    * `command_execution.goe_version_id`,
    * create_offload_repo_100.sql:220) — a repo shared by rolling
    * deployments can attribute every run to the binary that wrote it. */
  val EngineVersion = "0.1.0"

  def isJdbc(dir: String): Boolean = dir.startsWith("jdbc:")

  // one repo (and one connection) per URL, process-wide — id integrity
  // across processes comes from the database, this cache is just
  // connection reuse
  private val repos =
    new java.util.concurrent.ConcurrentHashMap[String, JdbcMetaRepo]()

  def forUrl(url: String): JdbcMetaRepo =
    repos.computeIfAbsent(url, u => new JdbcMetaRepo(u))

  /** Filesystem scratch root for the path-shaped artifacts that ride
    * alongside a metadata dir (advisory locks, log files, DDL output)
    * when the metadata "dir" is a JDBC URL and cannot host files itself:
    * a Derby on-disk database uses `<dbpath>_aux`, anything else (e.g.
    * `memory:` databases) a URL-keyed directory under the JVM tmpdir.
    * For a plain directory this is the identity — callers can wrap
    * unconditionally. */
  def fsScratch(dir: String): String =
    if (!isJdbc(dir)) dir
    else {
      val body = dir.stripPrefix("jdbc:derby:").takeWhile(_ != ';')
      if (dir.startsWith("jdbc:derby:") && body.nonEmpty &&
        !body.startsWith("memory:")) body + "_aux"
      else java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        "graft_repo_" + Integer.toHexString(dir.hashCode)).toString
    }
}

final class JdbcMetaRepo private (url: String) {

  // Derby creates the database on first connect when asked; appending
  // create=true is idempotent (a warning, not an error, if it exists).
  private val connectUrl =
    if (url.startsWith("jdbc:derby:") && !url.contains("create="))
      url + ";create=true"
    else url

  private var connRef: Connection = null

  private def conn: Connection = {
    if (connRef == null || connRef.isClosed) {
      connRef = DriverManager.getConnection(connectUrl)
      ensureSchema(connRef)
    }
    connRef
  }

  // Dedicated READ connection + its own lock: history/inventory reads
  // (listener `runs()`, metadata loads) would otherwise serialize behind
  // live audit writes on the shared write connection's monitor. Reads
  // are autocommit READ_COMMITTED — they see committed rows only.
  // NOTE embedded Derby has NO MVCC: a READ_COMMITTED reader still
  // blocks on a writer's uncommitted ROW LOCKS, so a read landing under
  // a long write transaction waits (up to derby.locks.waitTimeout,
  // default 60 s) rather than reading around it. Read statements
  // therefore carry a short query timeout ([[ReadQueryTimeoutSecs]]) so
  // a lock-blocked read fails fast, and the listener maps the resulting
  // lock/timeout SQLStates to 503 retry-later — never a hung route or a
  // generic 500.
  private val readLock = new Object
  private var readConnRef: Connection = null

  private def readConn: Connection = {
    if (readConnRef == null || readConnRef.isClosed) {
      readConnRef = DriverManager.getConnection(connectUrl)
      ensureSchema(readConnRef) // idempotent; first contact may be a read
    }
    readConnRef
  }

  /** Derby offers no per-connection lock timeout (waitTimeout is
    * database-wide), so reads bound their lock waits with a statement
    * query timeout instead: a read blocked behind a writer's
    * uncommitted row locks aborts after this many seconds (SQLState
    * XCL52) instead of hanging a listener route for the full
    * database-wide 60 s. */
  val ReadQueryTimeoutSecs: Int = 5

  private def readStatement(): Statement = {
    val st = readConn.createStatement()
    st.setQueryTimeout(ReadQueryTimeoutSecs)
    st
  }

  /** Idempotent DDL: Derby has no IF NOT EXISTS, so an already-exists
    * error (SQLState X0Y32) is the success path on reconnect. */
  private def ensureSchema(c: Connection): Unit = {
    val ddl = Seq(
      // reference offload_metadata (create_offload_repo_100.sql:304) with
      // object names inlined in place of the id-normalized FK tables
      """CREATE TABLE offload_metadata (
           frontend_object         VARCHAR(256) NOT NULL PRIMARY KEY,
           backend_object          VARCHAR(256) NOT NULL,
           offload_type            VARCHAR(30) NOT NULL,
           offload_key             VARCHAR(1000),
           offload_high_value      CLOB,
           offload_predicate_type  VARCHAR(128),
           offload_predicate_value CLOB,
           offload_snapshot        BIGINT,
           offload_hash_column     VARCHAR(1000),
           offload_sort_columns    VARCHAR(1000),
           pending_chunk_keys      CLOB,
           pending_chunk_hwm       CLOB,
           writer_time_zone        VARCHAR(64)
         )""",
      // reference command_execution (create_offload_repo_100.sql:51)
      """CREATE TABLE command_execution (
           id                 BIGINT GENERATED ALWAYS AS IDENTITY
                              PRIMARY KEY,
           uuid               VARCHAR(64) NOT NULL,
           start_time         BIGINT NOT NULL,
           end_time           BIGINT,
           status             VARCHAR(30) NOT NULL,
           command_type       VARCHAR(128) NOT NULL,
           command_input      CLOB NOT NULL,
           command_parameters CLOB,
           goe_version        VARCHAR(64)
         )""",
      // reference command_execution_step (create_offload_repo_100.sql:99)
      """CREATE TABLE command_execution_step (
           id             BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
           execution_uuid VARCHAR(64) NOT NULL,
           command_type   VARCHAR(128),
           command_step   VARCHAR(256) NOT NULL,
           status         VARCHAR(30) NOT NULL,
           step_details   CLOB,
           start_time     BIGINT NOT NULL,
           end_time       BIGINT
         )""",
      // reference offload_chunk (create_offload_repo_100.sql:257)
      """CREATE TABLE offload_chunk (
           id                 BIGINT GENERATED ALWAYS AS IDENTITY
                              PRIMARY KEY,
           execution_uuid     VARCHAR(64) NOT NULL,
           chunk_number       INTEGER NOT NULL,
           offload_partitions CLOB,
           status             VARCHAR(30) NOT NULL,
           chunk_rows         BIGINT,
           start_time         BIGINT NOT NULL,
           end_time           BIGINT
         )""",
      // reference goe_version (create_offload_repo_100.sql:220)
      """CREATE TABLE goe_version (
           id          BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
           version     VARCHAR(64) NOT NULL,
           create_time BIGINT NOT NULL
         )""")
    val st = c.createStatement()
    def tableExists(name: String): Boolean =
      try {
        val probe = c.createStatement()
        try { probe.executeQuery(s"SELECT 1 FROM $name WHERE 1 = 0")
          .close(); true }
        finally probe.close()
      } catch { case _: SQLException => false }
    try ddl.foreach { sql =>
      try { st.executeUpdate(sql); () }
      catch {
        // already-exists is the success path on reconnect. Derby says
        // SQLState X0Y32; other engines use different states (Postgres
        // 42P07, H2 42S01/42101), so the dialect-free check is a probe:
        // if the table answers, the CREATE failure is benign
        case e: SQLException =>
          val name = sql.split("\\s+")
            .dropWhile(!_.equalsIgnoreCase("TABLE")).drop(1).headOption
            .map(_.takeWhile(ch => ch.isLetterOrDigit || ch == '_'))
            .getOrElse("")
          if (e.getSQLState != "X0Y32" &&
            (name.isEmpty || !tableExists(name))) throw e
      }
    } finally st.close()
    // register this engine version once (reference goe_version rows)
    val chk = c.prepareStatement(
      "SELECT COUNT(*) FROM goe_version WHERE version = ?")
    val present = try {
      chk.setString(1, JdbcMetaRepo.EngineVersion)
      val rs = chk.executeQuery(); rs.next()
      val n = rs.getLong(1); rs.close(); n > 0
    } finally chk.close()
    if (!present) {
      val ins = c.prepareStatement(
        "INSERT INTO goe_version (version, create_time) VALUES (?, ?)")
      try {
        ins.setString(1, JdbcMetaRepo.EngineVersion)
        ins.setLong(2, System.currentTimeMillis())
        ins.executeUpdate(); ()
      } finally ins.close()
    }
  }

  // ---- offload metadata ----

  private val MetaCols = Seq(
    "backend_object", "offload_type", "offload_key", "offload_high_value",
    "offload_predicate_type", "offload_predicate_value",
    "offload_snapshot", "offload_hash_column", "offload_sort_columns",
    "pending_chunk_keys", "pending_chunk_hwm", "writer_time_zone")

  private def bindMeta(ps: java.sql.PreparedStatement,
                       m: OffloadMetadata, tableAt: Int): Unit = {
    // list fields (multi-column incremental keys, HWM tuples) ride one
    // column each as a JSON string array, the shape of the reference's
    // delimited offload_key / offload_high_value
    def setOpt(i: Int, v: Option[String]): Unit =
      v match {
        case Some(s) => ps.setString(i, s)
        case None => ps.setNull(i, java.sql.Types.VARCHAR)
      }
    ps.setString(1, m.backendTable)
    ps.setString(2, m.offloadType)
    ps.setString(3, Json.strings(m.incrementalKey))
    ps.setString(4, Json.strings(m.incrementalHighValue))
    setOpt(5, m.incrementalPredicateType)
    ps.setString(6, Json.strings(m.incrementalPredicateValue))
    m.snapshotId match {
      case Some(v) => ps.setLong(7, v)
      case None => ps.setNull(7, java.sql.Types.BIGINT)
    }
    ps.setString(8, Json.strings(m.bucketColumns))
    ps.setString(9, Json.strings(m.sortColumns))
    ps.setString(10, Json.strings(m.pendingChunkKeys))
    ps.setString(11, Json.strings(m.pendingChunkHwm))
    setOpt(12, m.writerTimeZone)
    ps.setString(tableAt, m.sourceTable)
  }

  /** Atomic single-row upsert: UPDATE, and if the row is new, INSERT —
    * a loser of the rare concurrent-first-insert race (duplicate key,
    * SQLState 23505) retries as an UPDATE. One transaction either way:
    * the HWM tuple, pending-chunk marker, and predicate state commit
    * together or not at all. */
  def saveMetadata(m: OffloadMetadata): Unit = synchronized {
    val c = conn
    c.setAutoCommit(false)
    try {
      val upd = c.prepareStatement(
        s"UPDATE offload_metadata SET ${MetaCols.map(_ + " = ?").mkString(", ")} " +
          "WHERE frontend_object = ?")
      val n = try { bindMeta(upd, m, 13); upd.executeUpdate() }
        finally upd.close()
      if (n == 0) {
        val ins = c.prepareStatement(
          s"INSERT INTO offload_metadata (${MetaCols.mkString(", ")}, frontend_object) " +
            s"VALUES (${Seq.fill(13)("?").mkString(", ")})")
        try { bindMeta(ins, m, 13); ins.executeUpdate(); () }
        catch {
          case e: SQLException if e.getSQLState == "23505" =>
            ins.close()
            val upd2 = c.prepareStatement(
              s"UPDATE offload_metadata SET ${MetaCols.map(_ + " = ?").mkString(", ")} " +
                "WHERE frontend_object = ?")
            try { bindMeta(upd2, m, 13); upd2.executeUpdate(); () }
            finally upd2.close()
        } finally if (!ins.isClosed) ins.close()
      }
      c.commit()
    } catch {
      case e: Throwable => c.rollback(); throw e
    } finally c.setAutoCommit(true)
  }

  def loadMetadata(table: String): Option[OffloadMetadata] =
      readLock.synchronized {
    val ps = readConn.prepareStatement(
      s"SELECT ${MetaCols.mkString(", ")} FROM offload_metadata " +
        "WHERE frontend_object = ?")
    try {
      ps.setQueryTimeout(ReadQueryTimeoutSecs)
      ps.setString(1, table)
      val rs = ps.executeQuery()
      if (!rs.next()) None
      else {
        def optStr(col: String) = Option(rs.getString(col))
        def arrCol(col: String) =
          Json.parseStrings(Option(rs.getString(col)).getOrElse("[]"))
        val snap = rs.getLong("offload_snapshot")
        val snapOpt = if (rs.wasNull()) None else Some(snap)
        Some(OffloadMetadata(
          sourceTable = table,
          backendTable = rs.getString("backend_object"),
          offloadType = rs.getString("offload_type"),
          incrementalKey = arrCol("offload_key"),
          incrementalHighValue = arrCol("offload_high_value"),
          incrementalPredicateType = optStr("offload_predicate_type"),
          incrementalPredicateValue = arrCol("offload_predicate_value"),
          bucketColumns = arrCol("offload_hash_column"),
          sortColumns = arrCol("offload_sort_columns"),
          snapshotId = snapOpt,
          pendingChunkKeys = arrCol("pending_chunk_keys"),
          pendingChunkHwm = arrCol("pending_chunk_hwm"),
          writerTimeZone = optStr("writer_time_zone")))
      }
    } finally ps.close()
  }

  /** Tables with a metadata row, sorted (the file backend's directory
    * listing, as a repo query). */
  def listTables(): Seq[String] = readLock.synchronized {
    val st = readStatement()
    try {
      val rs = st.executeQuery(
        "SELECT frontend_object FROM offload_metadata ORDER BY frontend_object")
      val out = mutable.ArrayBuffer.empty[String]
      while (rs.next()) out += rs.getString(1)
      rs.close()
      out.toSeq
    } finally st.close()
  }

  // ---- command audit (shared by JdbcCommandAudit) ----

  private def now(): Long = System.currentTimeMillis()

  private def insertReturningId(sql: String)
                               (bind: java.sql.PreparedStatement => Unit)
      : Long = synchronized {
    val ps = conn.prepareStatement(sql, Statement.RETURN_GENERATED_KEYS)
    try {
      bind(ps)
      ps.executeUpdate()
      val keys = ps.getGeneratedKeys
      try { keys.next(); keys.getLong(1) } finally keys.close()
    } finally ps.close()
  }

  private def update(sql: String)
                    (bind: java.sql.PreparedStatement => Unit): Unit =
    synchronized {
      val ps = conn.prepareStatement(sql)
      try { bind(ps); ps.executeUpdate(); () } finally ps.close()
    }

  private[meta] def auditStartCommand(executionId: String,
      commandType: String, commandInput: String,
      parameters: Map[String, String]): Long =
    insertReturningId(
      "INSERT INTO command_execution (uuid, start_time, status, " +
        "command_type, command_input, command_parameters, goe_version) " +
        "VALUES (?, ?, ?, ?, ?, ?, ?)") { ps =>
      ps.setString(1, executionId)
      ps.setLong(2, now())
      ps.setString(3, CommandAudit.Executing)
      ps.setString(4, commandType)
      ps.setString(5, commandInput)
      ps.setString(6, parameters.toSeq.sortBy(_._1)
        .map { case (k, v) => k + "=" + v }.mkString("\n"))
      ps.setString(7, JdbcMetaRepo.EngineVersion)
    }

  private[meta] def auditEndCommand(commandId: Long,
                                    status: String): Unit =
    update("UPDATE command_execution SET status = ?, end_time = ? " +
      "WHERE id = ?") { ps =>
      ps.setString(1, status); ps.setLong(2, now())
      ps.setLong(3, commandId)
    }

  private[meta] def auditStartStep(executionId: String,
      commandType: String, step: String): Long =
    insertReturningId(
      "INSERT INTO command_execution_step (execution_uuid, command_type, " +
        "command_step, status, start_time) VALUES (?, ?, ?, ?, ?)") { ps =>
      ps.setString(1, executionId)
      ps.setString(2, commandType)
      ps.setString(3, step)
      ps.setString(4, CommandAudit.Executing)
      ps.setLong(5, now())
    }

  private[meta] def auditEndStep(stepId: Long, status: String,
                                 details: String): Unit =
    update("UPDATE command_execution_step SET status = ?, end_time = ?, " +
      "step_details = ? WHERE id = ?") { ps =>
      ps.setString(1, status); ps.setLong(2, now())
      ps.setString(3, details); ps.setLong(4, stepId)
    }

  private[meta] def auditStartChunk(executionId: String,
      chunkNumber: Int, partitions: Seq[String]): Long =
    insertReturningId(
      "INSERT INTO offload_chunk (execution_uuid, chunk_number, " +
        "offload_partitions, status, start_time) " +
        "VALUES (?, ?, ?, ?, ?)") { ps =>
      ps.setString(1, executionId)
      ps.setInt(2, chunkNumber)
      ps.setString(3, Json.strings(partitions))
      ps.setString(4, CommandAudit.Executing)
      ps.setLong(5, now())
    }

  private[meta] def auditEndChunk(chunkId: Long, status: String,
                                  rowCount: Option[Long]): Unit =
    update("UPDATE offload_chunk SET status = ?, end_time = ?, " +
      "chunk_rows = ? WHERE id = ?") { ps =>
      ps.setString(1, status); ps.setLong(2, now())
      rowCount match {
        case Some(v) => ps.setLong(3, v)
        case None => ps.setNull(3, java.sql.Types.BIGINT)
      }
      ps.setLong(4, chunkId)
    }

  private[meta] def auditRuns(): Seq[CommandAudit.CommandRun] =
    readLock.synchronized {
      import CommandAudit.{ChunkRun, CommandRun, StepRun}
      val st = readStatement()
      try {
        def optLong(rs: java.sql.ResultSet, col: String): Option[Long] = {
          val v = rs.getLong(col)
          if (rs.wasNull()) None else Some(v)
        }
        val steps =
          mutable.HashMap.empty[String, mutable.ArrayBuffer[StepRun]]
        val rs1 = st.executeQuery(
          "SELECT id, execution_uuid, command_step, status, " +
            "step_details, start_time, end_time " +
            "FROM command_execution_step ORDER BY id")
        while (rs1.next()) {
          steps.getOrElseUpdate(rs1.getString("execution_uuid"),
            mutable.ArrayBuffer.empty) += StepRun(
            stepId = rs1.getLong("id"),
            step = rs1.getString("command_step"),
            status = rs1.getString("status"),
            startTs = rs1.getLong("start_time"),
            endTs = optLong(rs1, "end_time"),
            details = Option(rs1.getString("step_details")).getOrElse(""))
        }
        rs1.close()
        val chunks =
          mutable.HashMap.empty[String, mutable.ArrayBuffer[ChunkRun]]
        val rs2 = st.executeQuery(
          "SELECT id, execution_uuid, chunk_number, offload_partitions, " +
            "status, chunk_rows, start_time, end_time " +
            "FROM offload_chunk ORDER BY id")
        while (rs2.next()) {
          chunks.getOrElseUpdate(rs2.getString("execution_uuid"),
            mutable.ArrayBuffer.empty) += ChunkRun(
            chunkId = rs2.getLong("id"),
            chunkNumber = rs2.getInt("chunk_number"),
            partitions = Json.parseStrings(
              Option(rs2.getString("offload_partitions")).getOrElse("[]")),
            status = rs2.getString("status"),
            rowCount = optLong(rs2, "chunk_rows"),
            startTs = rs2.getLong("start_time"),
            endTs = optLong(rs2, "end_time"))
        }
        rs2.close()
        val out = mutable.ArrayBuffer.empty[CommandRun]
        val rs3 = st.executeQuery(
          "SELECT id, uuid, command_type, command_input, status, " +
            "start_time, end_time FROM command_execution ORDER BY id DESC")
        while (rs3.next()) {
          val uuid = rs3.getString("uuid")
          out += CommandRun(
            commandId = rs3.getLong("id"),
            executionId = uuid,
            commandType = rs3.getString("command_type"),
            commandInput = rs3.getString("command_input"),
            status = rs3.getString("status"),
            startTs = rs3.getLong("start_time"),
            endTs = optLong(rs3, "end_time"),
            steps = steps.getOrElse(uuid, Nil).toSeq,
            chunks = chunks.getOrElse(uuid, Nil).toSeq)
        }
        rs3.close()
        out.toSeq
      } finally st.close()
    }
}

/** [[CommandAudit]] over the JDBC repository: every event is a row with
  * a database-allocated id; end events update their begin row in place,
  * so a run's live status is the row itself (the reference's
  * `end_command` UPDATE, `oracle_orchestration_repo_client.py`). */
final class JdbcCommandAudit private[meta] (url: String)
    extends CommandAudit {
  private def repo = JdbcMetaRepo.forUrl(url)

  override def startCommand(executionId: String, commandType: String,
      commandInput: String, parameters: Map[String, String]): Long =
    repo.auditStartCommand(executionId, commandType, commandInput,
      parameters)
  override def endCommand(commandId: Long, status: String): Unit =
    repo.auditEndCommand(commandId, status)
  override def startStep(executionId: String, commandType: String,
      step: String): Long =
    repo.auditStartStep(executionId, commandType, step)
  override def endStep(stepId: Long, status: String,
      details: String): Unit =
    repo.auditEndStep(stepId, status, details)
  override def startChunk(executionId: String, chunkNumber: Int,
      partitions: Seq[String]): Long =
    repo.auditStartChunk(executionId, chunkNumber, partitions)
  override def endChunk(chunkId: Long, status: String,
      rowCount: Option[Long]): Unit =
    repo.auditEndChunk(chunkId, status, rowCount)
  override def runs(): Seq[CommandAudit.CommandRun] = repo.auditRuns()
}

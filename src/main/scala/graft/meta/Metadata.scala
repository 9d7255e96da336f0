package graft.meta

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.Json

/** Offload orchestration metadata — the persisted per-table state machine.
  *
  * Mirrors `OrchestrationMetadata`
  * (`src/goe/persistence/orchestration_metadata.py:56-113`): backend
  * identity, offload type, incremental key + high-water-mark, predicate
  * state, bucket/sort columns, snapshot id. The reference persists to Oracle
  * repo tables; here it is a JSON document per table on the metadata path —
  * swap-in point for a JDBC/Delta-backed store, same interface. Writes are
  * atomic (temp file + move) because the metadata IS the incremental
  * correctness contract: a torn HWM would re- or under-offload a slice.
  */
final case class OffloadMetadata(
    sourceTable: String,
    backendTable: String,
    offloadType: String,                  // FULL | INCREMENTAL
    incrementalKey: Seq[String] = Nil,
    incrementalHighValue: Seq[String] = Nil, // rendered literals, in key order
    incrementalPredicateType: Option[String] = None,
    incrementalPredicateValue: Seq[String] = Nil,
    bucketColumns: Seq[String] = Nil,
    sortColumns: Seq[String] = Nil,
    snapshotId: Option[Long] = None,
    // In-flight chunk marker: written BEFORE a chunk's final-table append,
    // cleared by the same save that commits its HWM. A retry that finds a
    // marker reconciles against the final table instead of re-appending —
    // closes the append-committed-but-HWM-write-died duplication window.
    pendingChunkKeys: Seq[String] = Nil,
    pendingChunkHwm: Seq[String] = Nil,
    // Session timezone the table was WRITTEN under. Synthetic date keys on
    // instant-typed columns are rendered in the writer's session TZ, so a
    // reader under a different TZ would mis-derive injected partition-key
    // literals (see SyntheticPartitionPruning's timezone contract) — the
    // guard in graft.plans.TimeZoneGuard enforces the match.
    writerTimeZone: Option[String] = None)

object MetadataStore {

  def toJson(m: OffloadMetadata): String = {
    def opt(v: Option[String]) = v.map(Json.quote).getOrElse("null")
    val fields = Seq(
      "source_table" -> Json.quote(m.sourceTable),
      "backend_table" -> Json.quote(m.backendTable),
      "offload_type" -> Json.quote(m.offloadType),
      "incremental_key" -> Json.strings(m.incrementalKey),
      "incremental_high_value" -> Json.strings(m.incrementalHighValue),
      "incremental_predicate_type" -> opt(m.incrementalPredicateType),
      "incremental_predicate_value" ->
        Json.strings(m.incrementalPredicateValue),
      "bucket_columns" -> Json.strings(m.bucketColumns),
      "sort_columns" -> Json.strings(m.sortColumns),
      "snapshot_id" -> m.snapshotId.map(_.toString).getOrElse("null"),
      "pending_chunk_keys" -> Json.strings(m.pendingChunkKeys),
      "pending_chunk_hwm" -> Json.strings(m.pendingChunkHwm),
      "writer_time_zone" -> opt(m.writerTimeZone))
    fields.map { case (k, v) => "\"" + k + "\": " + v }
      .mkString("{", ", ", "}")
  }

  def fromJson(js: String): OffloadMetadata = {
    val o = Json.parse(js)
    OffloadMetadata(
      sourceTable = o.str("source_table").getOrElse(""),
      backendTable = o.str("backend_table").getOrElse(""),
      offloadType = o.str("offload_type").getOrElse("FULL"),
      incrementalKey = o.strs("incremental_key"),
      incrementalHighValue = o.strs("incremental_high_value"),
      incrementalPredicateType = o.str("incremental_predicate_type"),
      incrementalPredicateValue = o.strs("incremental_predicate_value"),
      bucketColumns = o.strs("bucket_columns"),
      sortColumns = o.strs("sort_columns"),
      snapshotId = o.long("snapshot_id"),
      pendingChunkKeys = o.strs("pending_chunk_keys"),
      pendingChunkHwm = o.strs("pending_chunk_hwm"),
      writerTimeZone = o.str("writer_time_zone"))
  }

  private def fileFor(dir: String, table: String) =
    Paths.get(dir, table.replaceAll("[^A-Za-z0-9_.]", "_") + ".json")

  /** Persist one table's offload metadata. `dir` selects the backend:
    * a filesystem path → one atomically-renamed JSON document per table;
    * a `jdbc:` URL → the transactional repository ([[JdbcMetaRepo]],
    * the reference's OFFLOAD_METADATA table) where the HWM commit is a
    * single-row transaction shared safely by multiple driver processes. */
  def save(dir: String, m: OffloadMetadata): Unit =
    if (JdbcMetaRepo.isJdbc(dir)) JdbcMetaRepo.forUrl(dir).saveMetadata(m)
    else {
      Files.createDirectories(Paths.get(dir))
      val target = fileFor(dir, m.sourceTable)
      val tmp = Paths.get(target.toString + ".tmp")
      Files.write(tmp, toJson(m).getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

  def load(dir: String, table: String): Option[OffloadMetadata] =
    if (JdbcMetaRepo.isJdbc(dir)) JdbcMetaRepo.forUrl(dir).loadMetadata(table)
    else {
      val p = fileFor(dir, table)
      if (Files.exists(p))
        Some(fromJson(
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
      else None
    }

  /** Every table with persisted offload metadata, sorted — the listener
    * and status-report inventory, backend-dispatched like save/load
    * (a repo query on `jdbc:`, a directory listing otherwise). */
  def listTables(dir: String): Seq[String] =
    if (JdbcMetaRepo.isJdbc(dir)) JdbcMetaRepo.forUrl(dir).listTables()
    else {
      val d = Paths.get(dir)
      if (!Files.isDirectory(d)) Nil
      else {
        val s = Files.list(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .map(_.getFileName.toString)
            .filter(n => n.endsWith(".json") && !n.endsWith(".stats.json"))
            .map(_.stripSuffix(".json")).toSeq.sorted
        } finally s.close()
      }
    }
}

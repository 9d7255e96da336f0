package graft.meta

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.Json
import graft.Json.{quote => q}
import graft.plan.{Boundary, PartitionPlanner, SourcePartition}

/** Copied statistics — the engine's analogue of the reference's
  * stats-copy path (`operation/stats_controls.py:37-210`
  * `copy_rdbms_stats_to_backend`, stats model from
  * `util/hive_table_stats.py` — `num_rows/num_bytes/avg_row_len` table
  * stats, `ndv/num_nulls/avg_col_len/low_val/high_val` column stats,
  * per-partition rows/bytes).
  *
  * Stats are collected ONCE from the source (one aggregate job —
  * [[graft.source.TableStats.collectStats]]), persisted next to the offload
  * metadata, and from then on PLANNING CONSUMES THE COPY: chunking,
  * bucket-column choice and the status report's retention analysis all read
  * this record instead of re-scanning data — at 100 TB that is the
  * difference between a metadata lookup and a full-table aggregate per
  * offload run.
  *
  * Incremental appends merge ADDITIVELY (the reference's `additive_stats`
  * branch): table rows/bytes accumulate, partition rows upsert by name,
  * column NDV takes max, null counts add, low/high widen.
  */
final case class ColumnStatsRec(
    name: String,
    ndv: Long,
    numNulls: Long,
    avgColLen: Double,
    lowValue: String,
    highValue: String)

final case class PartitionStatsRec(
    name: String,
    highValue: String, // rendered boundary literal (sortable form)
    rows: Long,
    bytes: Long,
    // observed min/max of the HWM column inside this partition (rendered):
    // lets chunk slices carry a PUSHABLE range conjunct on the physical
    // column alongside the non-pushable derived-key filter
    hwmLow: String = "",
    hwmHigh: String = "")

final case class TableStatsRecord(
    table: String,
    numRows: Long,
    numBytes: Long,
    avgRowLen: Double,
    columns: Seq[ColumnStatsRec] = Nil,
    partitions: Seq[PartitionStatsRec] = Nil)

object StatsStore {

  def toJson(r: TableStatsRecord): String = {
    val cols = r.columns.map { c =>
      s"""{"name": ${q(c.name)}, "ndv": ${c.ndv}, "num_nulls": ${c.numNulls}, """ +
      s""""avg_col_len": ${c.avgColLen}, "low_value": ${q(c.lowValue)}, """ +
      s""""high_value": ${q(c.highValue)}}"""
    }.mkString("[", ", ", "]")
    val parts = r.partitions.map { p =>
      s"""{"name": ${q(p.name)}, "high_value": ${q(p.highValue)}, """ +
      s""""rows": ${p.rows}, "bytes": ${p.bytes}, """ +
      s""""hwm_low": ${q(p.hwmLow)}, "hwm_high": ${q(p.hwmHigh)}}"""
    }.mkString("[", ", ", "]")
    s"""{"table": ${q(r.table)}, "num_rows": ${r.numRows}, """ +
    s""""num_bytes": ${r.numBytes}, "avg_row_len": ${r.avgRowLen}, """ +
    s""""columns": $cols, "partitions": $parts}"""
  }

  def fromJson(js: String): TableStatsRecord = {
    val o = Json.parse(js)
    def num(o: Json.Obj, key: String) = o.long(key).getOrElse(0L)
    TableStatsRecord(
      table = o.str("table").getOrElse(""),
      numRows = num(o, "num_rows"),
      numBytes = num(o, "num_bytes"),
      avgRowLen = o.double("avg_row_len").getOrElse(0.0),
      columns = o.objs("columns").map(c => ColumnStatsRec(
        name = c.str("name").getOrElse(""),
        ndv = num(c, "ndv"),
        numNulls = num(c, "num_nulls"),
        avgColLen = c.double("avg_col_len").getOrElse(0.0),
        lowValue = c.str("low_value").getOrElse(""),
        highValue = c.str("high_value").getOrElse(""))),
      partitions = o.objs("partitions").map(p => PartitionStatsRec(
        name = p.str("name").getOrElse(""),
        highValue = p.str("high_value").getOrElse(""),
        rows = num(p, "rows"),
        bytes = num(p, "bytes"),
        hwmLow = p.str("hwm_low").getOrElse(""),
        hwmHigh = p.str("hwm_high").getOrElse(""))))
  }

  // A jdbc: metadata "dir" cannot host files; stats land in the repo's
  // filesystem scratch home (beside a derby database) — Paths.get on the
  // raw URL would otherwise create a literal "jdbc:..." directory under
  // the process CWD and strand the stats where no reader looks.
  private def fileFor(dir: String, table: String) =
    Paths.get(JdbcMetaRepo.fsScratch(dir),
      table.replaceAll("[^A-Za-z0-9_.]", "_") + ".stats.json")

  def save(dir: String, r: TableStatsRecord): Unit = {
    Files.createDirectories(Paths.get(JdbcMetaRepo.fsScratch(dir)))
    val target = fileFor(dir, r.table)
    val tmp = Paths.get(target.toString + ".tmp")
    Files.write(tmp, toJson(r).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def load(dir: String, table: String): Option[TableStatsRecord] = {
    val p = fileFor(dir, table)
    if (Files.exists(p))
      Some(fromJson(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
    else None
  }

  /** Additive merge for a partition-append increment (the reference's
    * `additive_stats = True` branch): table-level counters accumulate,
    * partition rows/bytes upsert by partition name, NDV takes the max (an
    * append can only widen), null counts add, low/high widen
    * lexicographically on the rendered literal. */
  def additiveMerge(base: TableStatsRecord, delta: TableStatsRecord)
      : TableStatsRecord = {
    val mergedParts = {
      val byName = scala.collection.mutable.LinkedHashMap
        .from(base.partitions.map(p => p.name -> p))
      delta.partitions.foreach { p =>
        byName.get(p.name) match {
          case Some(prev) => byName(p.name) =
            prev.copy(rows = prev.rows + p.rows, bytes = prev.bytes + p.bytes)
          case None => byName(p.name) = p
        }
      }
      byName.values.toSeq
    }
    val mergedCols = {
      val deltaBy = delta.columns.map(c => c.name -> c).toMap
      base.columns.map { c =>
        deltaBy.get(c.name) match {
          case Some(d) =>
            val totalRows = math.max(base.numRows + delta.numRows, 1L)
            ColumnStatsRec(c.name,
              ndv = math.max(c.ndv, d.ndv),
              numNulls = c.numNulls + d.numNulls,
              avgColLen = (c.avgColLen * base.numRows +
                d.avgColLen * delta.numRows) / totalRows,
              lowValue =
                if (d.lowValue.nonEmpty &&
                    (c.lowValue.isEmpty || d.lowValue < c.lowValue))
                  d.lowValue else c.lowValue,
              highValue =
                if (d.highValue > c.highValue) d.highValue else c.highValue)
          case None => c
        }
      } ++ delta.columns.filterNot(d => base.columns.exists(_.name == d.name))
    }
    TableStatsRecord(base.table,
      numRows = base.numRows + delta.numRows,
      numBytes = base.numBytes + delta.numBytes,
      avgRowLen =
        if (base.numRows + delta.numRows == 0) 0.0
        else (base.avgRowLen * base.numRows + delta.avgRowLen * delta.numRows) /
          (base.numRows + delta.numRows),
      columns = mergedCols, partitions = mergedParts)
  }

  /** Bridge into the planner model: the copied partition stats ARE the
    * catalog — chunking and retention analysis run off this with no data
    * scan. */
  def toCatalog(r: TableStatsRecord): Seq[SourcePartition] =
    r.partitions.zipWithIndex.map { case (p, i) =>
      SourcePartition(p.name, i, Seq(Boundary.Value(p.highValue)),
        bytes = p.bytes, rows = p.rows)
    }

  /** Chunk plan straight from copied stats (zero I/O planning). */
  def chunkFromStats(r: TableStatsRecord, maxBytes: Long, maxCount: Int) =
    PartitionPlanner.chunk(toCatalog(r), maxBytes, maxCount)

  private def parseLiteral(s: String): Any = {
    val t = s.trim
    t.toLongOption.getOrElse(t.toDoubleOption.getOrElse(t): Any)
  }

  /** Copied partitions strictly beyond a rendered HWM (single-key chunk
    * plans): literals are parsed before comparison so numeric keys order
    * numerically, string keys (ISO dates/months) lexicographically. */
  /** Offloaded-vs-residual split estimate for the hybrid-view drilldown
    * (the reference's hybrid-view service reports frontend/backend row and
    * size detail per view — `src/goe/conductor/hybrid_view_service.py`,
    * `_get_backend_detail`). Partition-granular from copied stats: residual
    * = partitions strictly beyond the committed HWM's FIRST key (a
    * boundary partition whose upper bound equals the HWM counts as
    * offloaded — with a multi-key HWM landing mid-partition this
    * undercounts residual by at most that one partition, which is the
    * right bias for an *estimate* labeled as such). None when no partition
    * stats were copied (nothing to split on).
    *
    * @return (offloadedRows, offloadedBytes, residualRows, residualBytes)
    */
  def hybridSplit(r: TableStatsRecord, hwm: Seq[String])
      : Option[(Long, Long, Long, Long)] =
    if (r.partitions.isEmpty) None
    else {
      val beyond = hwm.headOption match {
        case Some(h) => partitionsBeyond(r, Seq(h)).map(_.name).toSet
        case None => Set.empty[String]
      }
      val (res, off) = r.partitions.partition(p => beyond.contains(p.name))
      Some((off.map(_.rows).sum, off.map(_.bytes).sum,
        res.map(_.rows).sum, res.map(_.bytes).sum))
    }

  def partitionsBeyond(r: TableStatsRecord, hwm: Seq[String])
      : Seq[SourcePartition] = {
    val cat = toCatalog(r)
    hwm match {
      case Seq(h) =>
        cat.filter(p => p.highValues.headOption.exists {
          case Boundary.Value(v) =>
            PartitionPlanner.compareAny(
              parseLiteral(String.valueOf(v)), parseLiteral(h)) > 0
          case Boundary.MaxValue => true
        })
      case _ => cat // no committed HWM: everything is in scope
    }
  }
}

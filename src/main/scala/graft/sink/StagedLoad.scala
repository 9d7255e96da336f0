package graft.sink

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.types.{CanonicalColumn, TypeMapper}

/** Staged load: staging write → staged-data validation → typed final insert.
  *
  * Mirrors the reference's load phase: staging files exposed to the backend
  * (`bigquery_backend_table.py:116-149`), validation scans over staged data
  * (`backend_table.py:1209-1505`), SAFE_CAST probes
  * (`backend_table.py:281-313, 1120-1208`), and the final typed
  * INSERT…SELECT with per-column cast expressions
  * (`bigquery_backend_table.py:290-454`). The violation probes are capped
  * filters over staging (no read at all when every mapping is safe and
  * nullable); the final insert's scan also observes the staged row count
  * and HWM ([[Staged]]), so staging is never read back to count it.
  */
object StagedLoad {

  /** Observed on the final load's scan of staging: the row count and the
    * lexicographic `max(struct(hwmKeys))`, i.e. what
    * [[graft.verify.CrossValidator.maxProbe]] gives over the staged files
    * (`None` for an empty slice or no keys). */
  final case class Staged(rows: Long, hwm: Option[Seq[Any]])

  /** Observed metrics arrive over the listener bus in milliseconds; the
    * bound turns a wedged bus into an error instead of a hang. */
  private val ObservedMetricsTimeout: FiniteDuration = 120.seconds

  /** NaN/Inf → NULL policy for float columns
    * (`--allow-floating-point-conversions`; CASE projection at
    * `oracle_offload_transport_rdbms_api.py:412-417`). */
  def nanToNull(c: Column): Column =
    when(isnan(c) || c === Double.PositiveInfinity ||
         c === Double.NegativeInfinity, lit(null)).otherwise(c)

  /** Cast projection for the final insert: plain `cast` for safe mappings,
    * `try_cast` (SAFE_CAST analogue) for unsafe ones. */
  def castProjection(cols: Seq[CanonicalColumn]): Seq[Column] =
    cols.map { cc =>
      val target: DataType = TypeMapper.toSpark(cc.ctype)
      val base = col(cc.name)
      val casted =
        if (cc.safeMapping) base.cast(target)
        else base.try_cast(target)
      casted.as(cc.name)
    }

  /** Violation probe: staged rows whose value fails the target cast while
    * being non-null at the source — the reference's
    * `_validate_final_table_casts` raises with offending rows; we return them
    * (`.limit(k)`) so the caller can raise with examples. */
  def castViolations(staged: DataFrame, cols: Seq[CanonicalColumn], k: Int = 10)
      : DataFrame = {
    val unsafe = cols.filterNot(_.safeMapping)
    if (unsafe.isEmpty) staged.limit(0)
    else {
      val bad = unsafe
        .map { cc =>
          val t = TypeMapper.toSpark(cc.ctype)
          col(cc.name).isNotNull && col(cc.name).try_cast(t).isNull
        }
        .reduce(_ || _)
      staged.filter(bad).limit(k)
    }
  }

  /** NOT NULL violations per declared non-nullable column
    * (`backend_table.py:1209-1505`). */
  def notNullViolations(staged: DataFrame, cols: Seq[CanonicalColumn], k: Int = 10)
      : DataFrame = {
    val required = cols.filterNot(_.nullable)
    if (required.isEmpty) staged.limit(0)
    else staged.filter(required.map(c => col(c.name).isNull).reduce(_ || _))
      .limit(k)
  }

  /** Decimal precision/scale overflow probe: |x| must fit in
    * (precision-scale) integral digits (ABS/ROUND range check in the
    * reference). */
  def decimalOverflow(staged: DataFrame, name: String, precision: Int,
                      scale: Int, k: Int = 10): DataFrame = {
    val limit = BigDecimal(10).pow(precision - scale)
    staged.filter(abs(col(name)) >= lit(limit.underlying)).limit(k)
  }

  /** Column transformations (`--transform-column` DSL:
    * null / suppress / translate(a,b) / regexp_replace(pat, rep) —
    * `goe.py:756-833`, `offload_xform_functions.py:29-100`). */
  sealed trait Transform
  object Transform {
    case object Null extends Transform
    case object Suppress extends Transform
    final case class Translate(from: String, to: String) extends Transform
    final case class RegexpReplace(pattern: String, rep: String) extends Transform
  }

  def applyTransforms(df: DataFrame, transforms: Map[String, Transform])
      : DataFrame = {
    val out = df.columns.toSeq.flatMap { c =>
      transforms.get(c) match {
        case Some(Transform.Suppress) => None
        case Some(Transform.Null) =>
          Some(lit(null).cast(df.schema(c).dataType).as(c))
        case Some(Transform.Translate(f, t)) =>
          Some(translate(col(c), f, t).as(c))
        case Some(Transform.RegexpReplace(p, r)) =>
          Some(regexp_replace(col(c), p, r).as(c))
        case None => Some(col(c))
      }
    }
    df.select(out: _*)
  }

  /** Error text for a failed validation: the probes are `limit`-capped, so
    * `violations` is a sample, not a count. */
  def violationMessage(violations: DataFrame): String = {
    val sample = violations.collect()
    s"staged-data validation failed: ${sample.length} offending rows in a " +
      "sample capped at 10 per check; e.g. " + sample.take(3).mkString("; ")
  }

  /** Stage then load: write staging parquet, probe it for violations, write
    * the final table (partitioned by synthetic keys when given). Kept
    * two-phase like the reference so the staged slice is an auditable,
    * atomic retry unit. Returns `Left(violations)` (a capped sample; nothing
    * written to `finalPath`) or `Right(Staged)` observed on the final
    * write's scan. Staging is read with the schema just written, so no
    * footer inference runs. */
  def stageAndLoad(
      df: DataFrame,
      stagingPath: String,
      finalPath: String,
      schema: Seq[CanonicalColumn],
      hwmKeys: Seq[String],
      partitionCols: Seq[String] = Nil,
      finalMode: String = "overwrite",
      sortCols: Seq[String] = Nil): Either[DataFrame, Staged] = {
    df.write.mode("overwrite").parquet(stagingPath)
    val staged = df.sparkSession.read.schema(df.schema).parquet(stagingPath)
    val bad = castViolations(staged, schema)
      .unionByName(notNullViolations(staged, schema), allowMissingColumns = true)
    if (!bad.isEmpty) Left(bad)
    else {
      val obs = Observation()
      val hwmMax = Option.when(hwmKeys.nonEmpty)(
        max(struct(hwmKeys.map(col): _*)).as("hwm")).toSeq
      val projected = staged.observe(obs, count(lit(1)).as("rows"), hwmMax: _*)
        .select(castProjection(schema): _*)
      // Sort/cluster columns (reference operation/sort_columns.py; BigQuery
      // clustering): sortWithinPartitions gives per-file clustering ->
      // better min/max pruning on the sorted columns, no extra shuffle.
      val clustered =
        if (sortCols.nonEmpty)
          projected.sortWithinPartitions(sortCols.map(col): _*)
        else projected
      val writer = clustered.write.mode(finalMode)
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
       else writer).parquet(finalPath)
      val row = try Await.result(obs.future, ObservedMetricsTimeout)
        catch { case e: TimeoutException => throw new IllegalStateException(
          s"staged load $stagingPath -> $finalPath: observed row count and " +
            s"HWM did not arrive within $ObservedMetricsTimeout", e) }
      val hwm = if (hwmKeys.isEmpty) None
        else Option(row.getStruct(1)).map(s => hwmKeys.indices.map(s.get))
      Right(Staged(row.getLong(0), hwm))
    }
  }
}

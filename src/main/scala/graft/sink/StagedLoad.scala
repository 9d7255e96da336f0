package graft.sink

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.types.{CanonicalColumn, TypeMapper}

/** Staged load: one typed write to staging, then a move into the final
  * table.
  *
  * Mirrors the reference's load phase: staging files exposed to the backend
  * (`bigquery_backend_table.py:116-149`), validation over the staged slice
  * (`backend_table.py:1209-1505`), SAFE_CAST probes
  * (`backend_table.py:281-313, 1120-1208`), and the final typed
  * INSERT…SELECT with per-column cast expressions
  * (`bigquery_backend_table.py:290-454`). Here both sides are Parquet
  * directories, so the INSERT…SELECT is done the way Hive does an INSERT:
  * staging is written once, already in the final table's form (cast
  * projection, clustering, partitioning), and its files are renamed into
  * the table. The row count, the HWM and the violation count are observed
  * on the write's input ([[Staged]]); the capped violation probes run only
  * when that count says a row failed. Staging does not outlive a
  * successful load.
  */
object StagedLoad {

  /** Observed on the staging write's input, the slice before the cast: the
    * row count and the lexicographic `max(struct(hwmKeys))`, i.e. what
    * [[graft.verify.CrossValidator.maxProbe]] gives over the slice
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

  /** Rows whose non-null value fails an unsafe target cast; `None` when
    * every mapping is safe. */
  private def castViolation(cols: Seq[CanonicalColumn]): Option[Column] =
    cols.filterNot(_.safeMapping).map { cc =>
      col(cc.name).isNotNull &&
        col(cc.name).try_cast(TypeMapper.toSpark(cc.ctype)).isNull
    }.reduceOption(_ || _)

  /** Rows with a NULL in a declared non-nullable column; `None` when every
    * column is nullable. */
  private def notNullViolation(cols: Seq[CanonicalColumn]): Option[Column] =
    cols.filterNot(_.nullable).map(c => col(c.name).isNull).reduceOption(_ || _)

  /** Violation probe: staged rows whose value fails the target cast while
    * being non-null at the source — the reference's
    * `_validate_final_table_casts` raises with offending rows; we return them
    * (`.limit(k)`) so the caller can raise with examples. */
  def castViolations(staged: DataFrame, cols: Seq[CanonicalColumn], k: Int = 10)
      : DataFrame =
    castViolation(cols).fold(staged.limit(0))(staged.filter(_).limit(k))

  /** NOT NULL violations per declared non-nullable column
    * (`backend_table.py:1209-1505`). */
  def notNullViolations(staged: DataFrame, cols: Seq[CanonicalColumn], k: Int = 10)
      : DataFrame =
    notNullViolation(cols).fold(staged.limit(0))(staged.filter(_).limit(k))

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

  /** Stage then load, with one write: the slice, cast to the final
    * table's types, clustered and partitioned as the final table, is
    * written to staging, then its files are moved into `finalPath` — the
    * Hive INSERT pattern, so every row is encoded once. One `observe` on
    * the slice below the cast gathers the row count, the HWM (over the
    * pre-cast values) and the number of rows that fail a cast or a NOT
    * NULL; the write runs it, so on success nothing reads staging or the
    * slice again. Returns `Left(violations)` (a capped sample taken over
    * the slice, so it shows source values; nothing moved, `finalPath`
    * untouched) or `Right(Staged)`. In overwrite mode staging replaces
    * `finalPath`; in append mode each data file moves to its relative
    * path under it. Staging does not outlive a successful load, and it
    * must be on the same filesystem as `finalPath` (checked before the
    * write). */
  def stageAndLoad(
      df: DataFrame,
      stagingPath: String,
      finalPath: String,
      schema: Seq[CanonicalColumn],
      hwmKeys: Seq[String],
      partitionCols: Seq[String] = Nil,
      finalMode: String = "overwrite",
      sortCols: Seq[String] = Nil): Either[DataFrame, Staged] = {
    require(finalMode == "overwrite" || finalMode == "append",
      s"staged load: final mode must be overwrite or append: $finalMode")
    val spark = df.sparkSession
    val (staging, target) = (new Path(stagingPath), new Path(finalPath))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = staging.getFileSystem(conf)
    val finalFs = target.getFileSystem(conf)
    if (fs.getUri != finalFs.getUri)
      throw new IllegalArgumentException(s"staged load: staging " +
        s"$stagingPath (${fs.getUri}) and final $finalPath " +
        s"(${finalFs.getUri}) are on different filesystems; the load " +
        "moves staged files by rename")
    val obs = Observation()
    val hwmMax = Option.when(hwmKeys.nonEmpty)(
      max(struct(hwmKeys.map(col): _*)).as("hwm"))
    val violating = (castViolation(schema) ++ notNullViolation(schema))
      .reduceOption(_ || _).map(bad => count(when(bad, lit(1))).as("violations"))
    val projected = df
      .observe(obs, count(lit(1)).as("rows"), hwmMax.toSeq ++ violating: _*)
      .select(castProjection(schema): _*)
    // Sort/cluster columns (reference operation/sort_columns.py; BigQuery
    // clustering): sortWithinPartitions gives per-file clustering ->
    // better min/max pruning on the sorted columns, no extra shuffle.
    val clustered =
      if (sortCols.nonEmpty)
        projected.sortWithinPartitions(sortCols.map(col): _*)
      else projected
    val writer = clustered.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(stagingPath)
    val row = try Await.result(obs.future, ObservedMetricsTimeout)
      catch { case e: TimeoutException => throw new IllegalStateException(
        s"staged load $stagingPath -> $finalPath: observed row count and " +
          s"HWM did not arrive within $ObservedMetricsTimeout", e) }
    val failed = violating.isDefined && row.getLong(row.length - 1) > 0
    if (failed)
      Left(castViolations(df, schema)
        .unionByName(notNullViolations(df, schema), allowMissingColumns = true))
    else {
      if (finalMode == "append") moveFiles(fs, staging, target)
      else install(fs, staging, target)
      spark.catalog.refreshByPath(finalPath)
      val hwm = hwmMax.flatMap(_ => Option(row.getStruct(1)))
        .map(s => hwmKeys.indices.map(s.get))
      Right(Staged(row.getLong(0), hwm))
    }
  }

  /** Overwrite: staging replaces `target`. Hadoop's rename onto an
    * existing directory nests the source inside it and still returns
    * true, so a `target` that came back after the delete is an error. */
  private def install(fs: FileSystem, staging: Path, target: Path): Unit = {
    fs.delete(target, true)
    fs.mkdirs(target.getParent)
    val nested = new Path(target, staging.getName)
    if (!fs.rename(staging, target) || fs.exists(nested)) {
      if (fs.exists(nested)) fs.rename(nested, staging)
      throw new IllegalStateException(s"staged load: cannot move $staging " +
        s"onto $target")
    }
  }

  /** Append: every data file under `staging` moves to the same relative
    * path under `target`, then staging is deleted. Every directory is
    * walked, whatever its name: a partition directory is `<col>=<value>`,
    * and the column may start with `_`. Only plain files named `_…`/`.…`
    * (`_SUCCESS`, checksums) stay behind; staging is kept, and the load
    * fails, if a data file is still in it after the move. */
  private def moveFiles(fs: FileSystem, staging: Path, target: Path): Unit = {
    def move(from: Path, to: Path): Unit = {
      fs.mkdirs(to)
      fs.listStatus(from).foreach { st =>
        val dst = new Path(to, st.getPath.getName)
        if (st.isDirectory) move(st.getPath, dst)
        else if (isDataFile(st.getPath) &&
                 (fs.exists(dst) || !fs.rename(st.getPath, dst)))
          throw new IllegalStateException(
            s"staged load: cannot move ${st.getPath} to $dst")
      }
    }
    move(staging, target)
    val left = fs.listFiles(staging, true)
    while (left.hasNext) {
      val f = left.next().getPath
      if (isDataFile(f)) throw new IllegalStateException(
        s"staged load: $f is still in staging after the move to $target")
    }
    fs.delete(staging, true)
  }

  private def isDataFile(p: Path): Boolean =
    !p.getName.startsWith("_") && !p.getName.startsWith(".")
}

package graft.plan

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Synthetic partition-key expressions.
  *
  * The reference synthesizes backend partition columns from a source column
  * (`src/goe/offload/backend_table.py:828-987`,
  * `src/goe/offload/bigquery/bigquery_backend_table.py:209-273`,
  * client-side literal mirror `synthetic_partition_literal.py:61-249`):
  * date truncation at Y/M/D granularity, `FLOOR(col/g)*g` numeric range
  * buckets, and string prefixes. Here each is a plain `Column` function so it
  * participates in codegen and (for file sinks) in `partitionBy` pruning; at
  * 100 TB the synthetic column IS the physical partition layout, so these
  * expressions are the engine's partition-pruning contract.
  */
object SyntheticPartition {

  /** String-form date partition key, zero-padded — the `GOE_PART_M_...`
    * string shape (`LPAD(EXTRACT(...))` in the reference,
    * `backend_table.py:1878-1927`). "Y" -> "2024", "M" -> "2024-01",
    * "D" -> "2024-01-31". */
  def dateStringKey(src: Column, granularity: String): Column =
    granularity.toUpperCase match {
      case "Y" => date_format(src, "yyyy")
      case "M" => date_format(src, "yyyy-MM")
      case "D" => date_format(src, "yyyy-MM-dd")
      case g   => throw new IllegalArgumentException(s"granularity $g")
    }

  /** Numeric range bucket: `FLOOR(col / g) * g` as LONG — the reference's
    * `CAST(FLOOR(col/g)*g AS INT64)` / BigQuery `RANGE_BUCKET` analogue
    * (`bigquery_backend_table.py:209-273`, `bigquery_backend_api.py:1474-1529`). */
  def numericRangeKey(src: Column, granularity: Long): Column = {
    require(granularity > 0, "granularity must be positive")
    (floor(src / granularity) * granularity).cast("long")
  }

  /** String prefix bucket: `SUBSTR(col, 1, n)` (`backend_table.py:828-987`). */
  def stringPrefixKey(src: Column, length: Int): Column =
    substring(src, 1, length)

  /** MOD-hash batch/bucket key — the extraction-split column
    * (`MOD(ORA_HASH(col), N)` in the reference,
    * `oracle_offload_transport_rdbms_api.py:754-775`). On numeric keys we use
    * the key itself (deterministic across engines); for arbitrary columns use
    * [[hashBucketKey]]. */
  def modBucketKey(src: Column, buckets: Int): Column =
    pmod(src.cast("long"), lit(buckets.toLong))

  /** Hash bucket over arbitrary columns (xxhash64 — codegen'd, no UDF). */
  def hashBucketKey(buckets: Int, cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(buckets.toLong))

  /** User partition-function transform: a registered (deterministic) UDF
    * applied as the partition key — the reference's BigQuery-SQL-UDF
    * partition functions (`backend_table.py:1594-1651`,
    * `bigquery_backend_api.py:1060-1096`) become registered Spark functions.
    * [[validatePartitionFunction]] is the registration check
    * (`check_partition_function` analogue): the function must exist and be
    * deterministic, else pruning/evolution would be inconsistent. */
  def functionKey(spark: org.apache.spark.sql.SparkSession, fnName: String,
                  src: Column): Column = {
    validatePartitionFunction(spark, fnName).left.foreach(e =>
      throw new IllegalArgumentException(e))
    org.apache.spark.sql.functions.call_udf(fnName, src)
  }

  def validatePartitionFunction(spark: org.apache.spark.sql.SparkSession,
                                fnName: String): Either[String, Unit] = {
    if (!spark.catalog.functionExists(fnName))
      Left(s"partition function $fnName is not registered")
    else {
      // resolve through a dummy plan to reach the analyzed Expression
      val analyzed = spark.range(1)
        .select(org.apache.spark.sql.functions.call_udf(fnName,
          org.apache.spark.sql.functions.lit(0)))
        .queryExecution.analyzed
      if (!analyzed.expressions.forall(_.deterministic))
        Left(s"partition function $fnName must be deterministic")
      else Right(())
    }
  }

  /** DuckDB/ANSI SQL renderings of the same expressions, for the
    * verification oracle (same AST, two engines — reference keeps a python
    * literal mirror for exactly this reason). */
  object Sql {
    def dateStringKey(src: String, granularity: String): String =
      granularity.toUpperCase match {
        case "Y" => s"strftime($src, '%Y')"
        case "M" => s"strftime($src, '%Y-%m')"
        case "D" => s"strftime($src, '%Y-%m-%d')"
        case g   => throw new IllegalArgumentException(s"granularity $g")
      }
    def numericRangeKey(src: String, granularity: Long): String =
      s"CAST(FLOOR($src / $granularity) * $granularity AS BIGINT)"
    def stringPrefixKey(src: String, length: Int): String =
      s"substr($src, 1, $length)"
  }
}

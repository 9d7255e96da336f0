package graft.sink

import graft.types.{CanonicalColumn, CanonicalType, TypeMapper}

/** DDL-file generation: render the canonical schema as CREATE TABLE text
  * instead of executing it — the reference's `--ddl-file` path
  * (`src/goe/offload/operation/ddl_file.py`, `offload.py:66-87`), kept
  * because change-controlled environments apply DDL out-of-band.
  *
  * Legacy-backend decision (reference `goe.py:2689-2691` lists BigQuery as
  * the only non-legacy backend): the Hive and Snowflake backend *APIs*
  * (DML, stats, UDFs, transport) are a documented non-goal, but their DDL
  * **render surface** is kept behind this seam because the `--ddl-file`
  * workflow is exactly the case where a user still targets a legacy
  * warehouse out-of-band. Type mappings mirror
  * `hadoop/hadoop_backend_api.py:1639-1780` (`from_canonical_column`) and
  * `snowflake/snowflake_backend_api.py:2119-2244`; CREATE TABLE shapes
  * mirror `hadoop/hive_backend_api.py:244-339` and
  * `snowflake/snowflake_backend_api.py:728-795`.
  */
object DdlRenderer {

  sealed trait Dialect
  object Dialect {
    case object SparkSql extends Dialect
    case object BigQuery extends Dialect
    case object Hive extends Dialect
    case object Snowflake extends Dialect
    case object Synapse extends Dialect
    case object Impala extends Dialect

    /** The dialect an offload request's `ddl_dialect` names. */
    def parse(name: String): Dialect = Map[String, Dialect](
      "spark" -> SparkSql, "sparksql" -> SparkSql, "bigquery" -> BigQuery,
      "bq" -> BigQuery, "hive" -> Hive, "snowflake" -> Snowflake,
      "synapse" -> Synapse, "impala" -> Impala)
      .getOrElse(name.toLowerCase(java.util.Locale.ROOT),
        throw new IllegalArgumentException(s"unknown ddl_dialect: $name " +
          "(spark|bigquery|hive|snowflake|synapse|impala)"))
  }

  private def sparkType(c: CanonicalColumn): String =
    TypeMapper.toSpark(c.ctype).sql

  private def bigqueryType(c: CanonicalColumn): String = {
    import CanonicalType._
    c.ctype match {
      case FixedString | VariableString | LargeString => "STRING"
      case Binary | LargeBinary => "BYTES"
      case Integer1 | Integer2 | Integer4 | Integer8 => "INT64"
      case Integer38 => "BIGNUMERIC(38, 0)"
      case Decimal(p, s) =>
        // NUMERIC covers (p-s) <= 29 integral digits and scale <= 9, else
        // BIGNUMERIC (reference bigquery_backend_api.py:2344-2503)
        val prec = p.getOrElse(38)
        val sc = s.getOrElse(9)
        if (prec - sc <= 29 && sc <= 9) s"NUMERIC($prec, $sc)"
        else s"BIGNUMERIC($prec, $sc)"
      case Float4 | Double8 => "FLOAT64"
      case Date => "DATE"
      case Time => "TIME"
      case Timestamp => "DATETIME"
      case TimestampTz => "TIMESTAMP"
      case IntervalDs | IntervalYm => "STRING"
      case Boolean1 => "BOOL"
    }
  }

  /** Hive decimal UDF alignment (reference
    * `hadoop_backend_api.py:259-302`): scale rounds up to even (UDFs exist
    * for even scales only), precision absorbs the bump, then precision
    * lands on 18 or 38.
    */
  private[sink] def hiveAlignedDecimal(p: Option[Int], s: Option[Int]): (Int, Int) = {
    val prec0 = p.getOrElse(38)
    // bare DECIMAL (no precision, no scale) is the reference's "default
    // numeric column": precision 38, scale 18 (columns.py
    // gen_default_numeric_column, data_scale=18) — NOT (38,0), which would
    // silently truncate fractional digits
    val sc0 = s.getOrElse(if (p.isEmpty) 18 else 0)
    val (prec1, sc1) =
      if (prec0 < 38) (prec0 + sc0 % 2, sc0 + sc0 % 2) else (prec0, sc0)
    val prec2 = if (prec1 < 19) math.max(prec1, 18) else math.max(prec1, 38)
    (prec2, sc1)
  }

  private def hiveType(c: CanonicalColumn): String = {
    import CanonicalType._
    c.ctype match {
      // all strings widen to STRING; TIME and intervals have no Hive type
      // (hadoop_backend_api.py:1670-1776)
      case FixedString | VariableString | LargeString => "STRING"
      case Binary | LargeBinary => "BINARY"
      // all four native integer widths map to BIGINT on Hadoop
      // (hadoop_backend_api.py:1697-1700 — override path excepted)
      case Integer1 | Integer2 | Integer4 | Integer8 => "BIGINT"
      case Integer38 => "DECIMAL(38,0)"
      case Decimal(p, s) =>
        val (prec, sc) = hiveAlignedDecimal(p, s)
        s"DECIMAL($prec,$sc)"
      case Float4 => "FLOAT"
      case Double8 => "DOUBLE"
      case Date => "DATE"
      case Time => "STRING"
      case Timestamp | TimestampTz => "TIMESTAMP"
      case IntervalDs | IntervalYm => "STRING"
      case Boolean1 => "BOOLEAN"
    }
  }

  /** Impala shares the Hadoop canonical mapping with Hive except binaries:
    * Impala has no usable BINARY type, so both binary widths carry as
    * STRING (`impala_backend_api.py:484-489` — the only override of the
    * shared `from_canonical_column`). */
  private def impalaType(c: CanonicalColumn): String = {
    import CanonicalType._
    c.ctype match {
      case Binary | LargeBinary => "STRING"
      case _ => hiveType(c)
    }
  }

  private def snowflakeType(c: CanonicalColumn): String = {
    import CanonicalType._
    c.ctype match {
      case FixedString | VariableString | LargeString => "TEXT"
      case Binary | LargeBinary => "BINARY"
      // integer widths pin NUMBER precision (snowflake_backend_api.py:2169-2208)
      case Integer1 => "NUMBER(3,0)"
      case Integer2 => "NUMBER(5,0)"
      case Integer4 => "NUMBER(10,0)"
      case Integer8 => "NUMBER(19,0)"
      case Integer38 => "NUMBER(38,0)"
      // bare DECIMAL → (38,18), the reference's default numeric column
      case Decimal(p, s) =>
        s"NUMBER(${p.getOrElse(38)},${s.getOrElse(if (p.isEmpty) 18 else 0)})"
      case Float4 | Double8 => "FLOAT"
      case Date => "DATE"
      case Time => "TIME"
      case Timestamp => "TIMESTAMP_NTZ"
      case TimestampTz => "TIMESTAMP_TZ"
      // intervals carry as TEXT, flagged unsafe (snowflake_backend_api.py:2238-2241)
      case IntervalDs | IntervalYm => "TEXT"
      case Boolean1 => "BOOLEAN"
    }
  }

  /** Synapse (T-SQL) types, mirroring
    * `microsoft/synapse_backend_api.py:2648-2768` (`from_canonical_column`)
    * and `synapse_column.py:100-124` (`(max)` rendering for unlengthed
    * variable types). The canonical model carries no char lengths, so
    * variable strings/binaries render at `(max)` — the reference's shape
    * for a length-less column. */
  private def synapseType(c: CanonicalColumn): String = {
    import CanonicalType._
    c.ctype match {
      case FixedString => "CHAR"
      case VariableString | LargeString => "VARCHAR(max)"
      case Binary | LargeBinary => "VARBINARY(max)"
      // tinyint is UNSIGNED on the MSSQL family — INTEGER_1 must widen to
      // smallint or negative byte values overflow (":2676-2678")
      case Integer1 | Integer2 => "SMALLINT"
      case Integer4 => "INT"
      case Integer8 => "BIGINT"
      case Integer38 => "NUMERIC(38,0)"
      // bare DECIMAL → (38,18), the reference's default numeric column
      case Decimal(p, s) =>
        s"NUMERIC(${p.getOrElse(38)},${s.getOrElse(if (p.isEmpty) 18 else 0)})"
      case Float4 => "REAL"
      // T-SQL FLOAT is the 8-byte type (REAL is the 4-byte one)
      case Double8 => "FLOAT"
      case Date => "DATE"
      case Time => "TIME"
      case Timestamp => "DATETIME2"
      case TimestampTz => "DATETIMEOFFSET"
      // intervals carry as bounded VARCHAR, flagged unsafe (":2762-2765")
      case IntervalDs | IntervalYm => "VARCHAR(100)"
      case Boolean1 => "BIT"
    }
  }

  /** Public type-rendering seam (also the q77/q83 contract surface). */
  def renderType(c: CanonicalColumn, dialect: Dialect): String =
    dialect match {
      case Dialect.SparkSql => sparkType(c)
      case Dialect.BigQuery => bigqueryType(c)
      case Dialect.Hive => hiveType(c)
      case Dialect.Snowflake => snowflakeType(c)
      case Dialect.Synapse => synapseType(c)
      case Dialect.Impala => impalaType(c)
    }

  def createTable(
      table: String,
      cols: Seq[CanonicalColumn],
      dialect: Dialect,
      partitionBy: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil,
      /** Synapse-only: DISTRIBUTION option (`ROUND_ROBIN`, `HASH(col)`,
        * `REPLICATE`) — the MPP placement axis, orthogonal to sort order
        * (`synapse_backend_table.py` creates with
        * `WITH (DISTRIBUTION = ROUND_ROBIN)` by default). */
      distribution: Option[String] = None): String = {
    require(distribution.isEmpty || dialect == Dialect.Synapse,
      "distribution is a Synapse-only table option")
    val typeOf: CanonicalColumn => String = renderType(_, dialect)
    // Hive moves partition keys out of the column list into PARTITIONED BY
    // with their types (hive_backend_api.py:275-306); other dialects keep
    // them in the projection.
    val projected = dialect match {
      case Dialect.Hive | Dialect.Impala =>
        cols.filterNot(c => partitionBy.contains(c.name))
      case _ => cols
    }
    // Synapse encloses identifiers in brackets (synapse_backend_api.py
    // enclose_identifier, ":1271-1274"); other dialects emit bare names
    val identOf: String => String = dialect match {
      case Dialect.Synapse => n => s"[${n.replace("]", "]]")}]"
      case _ => identity
    }
    val colDefs = projected.map { c =>
      val nn = if (c.nullable) "" else " NOT NULL"
      s"  ${identOf(c.name)} ${typeOf(c)}$nn"
    }.mkString(",\n")
    dialect match {
      case Dialect.SparkSql =>
        val part =
          if (partitionBy.isEmpty) ""
          else s"\nPARTITIONED BY (${partitionBy.mkString(", ")})"
        val clust =
          if (clusterBy.isEmpty) ""
          else s"\nCLUSTERED BY (${clusterBy.mkString(", ")}) INTO 32 BUCKETS"
        s"CREATE TABLE $table (\n$colDefs\n) USING parquet$part$clust;"
      case Dialect.BigQuery =>
        val part =
          if (partitionBy.isEmpty) ""
          else s"\nPARTITION BY ${partitionBy.head}"
        val clust =
          if (clusterBy.isEmpty) ""
          // BigQuery caps clustering at 4 columns (backend_api max,
          // operation/sort_columns.py)
          else s"\nCLUSTER BY ${clusterBy.take(4).mkString(", ")}"
        s"CREATE TABLE $table (\n$colDefs\n)$part$clust;"
      case Dialect.Hive | Dialect.Impala =>
        // PARTITIONED BY carries the column type; storage format defaults
        // to ORC on Hive and PARQUET on Impala (hive_backend_api.py:359,
        // impala_backend_api.py:426 — default_storage_format)
        val byName = cols.map(c => c.name -> c).toMap
        val part =
          if (partitionBy.isEmpty) ""
          else {
            val pairs = partitionBy.map { p =>
              val c = byName.getOrElse(p, throw new IllegalArgumentException(
                s"Partition column is not in table columns: $p"))
              s"$p ${typeOf(c)}"
            }
            s"\nPARTITIONED BY (${pairs.mkString(", ")})"
          }
        val fmt = if (dialect == Dialect.Impala) "PARQUET" else "ORC"
        s"CREATE TABLE $table (\n$colDefs\n)$part\nSTORED AS $fmt;"
      case Dialect.Snowflake =>
        // Snowflake has no column partitioning (snowflake_backend_api.py:761-763);
        // sort columns become CLUSTER BY (…) (":773-777")
        require(partitionBy.isEmpty,
          "Partitioning by column is not supported in Snowflake")
        val clust =
          if (clusterBy.isEmpty) ""
          else s"\nCLUSTER BY (${clusterBy.mkString(", ")})"
        s"CREATE TABLE $table (\n$colDefs\n)$clust;"
      case Dialect.Synapse =>
        // No column partitioning on Synapse (synapse_backend_api.py:393-396
        // raises NotImplementedError); sort columns become a CLUSTERED
        // COLUMNSTORE INDEX ORDER and distribution joins them in ONE
        // WITH (...) options clause (":404-443")
        require(partitionBy.isEmpty,
          "Partitioning by column is not supported for Synapse")
        val withClauses =
          (if (clusterBy.isEmpty) Nil
           else Seq("CLUSTERED COLUMNSTORE INDEX ORDER " +
             s"(${clusterBy.map(c => s"[$c]").mkString(", ")})")) ++
          Seq(s"DISTRIBUTION = ${distribution.getOrElse("ROUND_ROBIN")}")
        s"CREATE TABLE $table (\n$colDefs\n)\nWITH (\n    " +
          withClauses.mkString("\n,   ") + "\n);"
    }
  }
}

package graft.types

import org.apache.spark.sql.types._

/** Canonical ⇄ Spark type mapping — the three-hop pipeline of the reference
  * (frontend → canonical → staging → backend,
  * `src/goe/offload/staging/avro/avro_staging_file.py:149-210`,
  * `src/goe/offload/bigquery/bigquery_backend_api.py:2344-2503`) collapsed to
  * a single `StructType` conversion layer: under Spark the staging format and
  * the execution format are the same thing, so only canonical⇄Spark remains.
  */
object TypeMapper {
  import CanonicalType._

  def toSpark(c: CanonicalType): DataType = c match {
    case FixedString | VariableString | LargeString => StringType
    case Binary | LargeBinary => BinaryType
    case Integer1  => ByteType
    case Integer2  => ShortType
    case Integer4  => IntegerType
    case Integer8  => LongType
    case Integer38 => DecimalType(38, 0)
    case Decimal(p, s) => DecimalType(p.getOrElse(38), s.getOrElse(18))
    case Float4  => FloatType
    case Double8 => DoubleType
    case Date => DateType
    // Spark has no TIME type: carry as micros-of-day (lossless, sortable).
    case Time => LongType
    case Timestamp   => TimestampNTZType
    case TimestampTz => TimestampType
    case IntervalDs  => DayTimeIntervalType()
    case IntervalYm  => YearMonthIntervalType()
    case Boolean1    => BooleanType
  }

  /** Reverse mapping used when adopting an existing Spark/parquet schema as
    * the canonical model (e.g. file-source offloads where there is no RDBMS
    * catalog to read). Every Spark scalar type has a canonical home; nested
    * types are carried as LargeString(JSON)/Binary at the canonical layer —
    * the reference supports only scalars (`SURVEY.md` §1.1) but our engine
    * must not crash on arrays (embeddings table). */
  def fromSpark(d: DataType): CanonicalType = d match {
    case StringType => VariableString
    case BinaryType => Binary
    case ByteType => Integer1
    case ShortType => Integer2
    case IntegerType => Integer4
    case LongType => Integer8
    case dt: DecimalType if dt.scale == 0 && dt.precision == 38 => Integer38
    case dt: DecimalType => Decimal(Some(dt.precision), Some(dt.scale))
    case FloatType => Float4
    case DoubleType => Double8
    case DateType => Date
    case TimestampNTZType => Timestamp
    case TimestampType => TimestampTz
    case _: DayTimeIntervalType => IntervalDs
    case _: YearMonthIntervalType => IntervalYm
    case BooleanType => Boolean1
    case _ => LargeString // nested/exotic: opaque
  }

  def fromStructType(s: StructType): Seq[CanonicalColumn] =
    s.fields.toSeq.map { f =>
      CanonicalColumn(f.name, fromSpark(f.dataType), f.nullable,
        // A round-trippable Spark type is by construction safe; the opaque
        // fallback is not.
        safeMapping = toSpark(fromSpark(f.dataType)) == f.dataType)
    }
}

package graft.types

/** Data-type override controls.
  *
  * Re-expression of the reference's per-type-class column override flags
  * ([[TypeOverrides.fromFields]]) with the same wildcard expansion
  * (`offload_functions.py:128-160`), conflict
  * detection and type-class validation
  * (`operation/data_type_controls.py:70-135,151-200`), applied over the
  * canonical schema before the typed load.
  *
  * Overridden columns are marked `safeMapping = false`: a user decree can
  * narrow the physical type, so the load path must go through `try_cast` +
  * the cast-violation probe ([[graft.sink.StagedLoad.castViolations]])
  * rather than trusting the declaration — same posture as the reference,
  * which funnels unsafe mappings into sampling and SAFE_CAST.
  */
final case class TypeOverrides(
    integer1: Seq[String] = Nil,
    integer2: Seq[String] = Nil,
    integer4: Seq[String] = Nil,
    integer8: Seq[String] = Nil,
    integer38: Seq[String] = Nil,
    /** Repeatable (patterns, precision, scale) groups — the paired
      * `--decimal-columns`/`--decimal-columns-type` lists. */
    decimals: Seq[TypeOverrides.DecimalOverride] = Nil,
    dates: Seq[String] = Nil,
    doubles: Seq[String] = Nil,
    variableStrings: Seq[String] = Nil,
    timestampTz: Seq[String] = Nil,
    unicodeStrings: Seq[String] = Nil) {
  def isEmpty: Boolean =
    integer1.isEmpty && integer2.isEmpty && integer4.isEmpty &&
    integer8.isEmpty && integer38.isEmpty && decimals.isEmpty &&
    dates.isEmpty && doubles.isEmpty && variableStrings.isEmpty &&
    timestampTz.isEmpty && unicodeStrings.isEmpty
}

object TypeOverrides {
  import CanonicalType._

  final case class DecimalOverride(patterns: Seq[String], precision: Int,
                                   scale: Int) {
    require(precision >= 1 && precision <= 38 && scale >= 0 && scale <= 38 &&
      scale <= precision,
      s"decimal override must satisfy 1<=precision<=38, 0<=scale<=38, " +
      s"scale<=precision: got ($precision,$scale)")
  }

  final class OverrideException(msg: String)
      extends IllegalArgumentException(msg)

  /** The overrides an offload request's fields give, the reference's
    * flag names (`src/goe/offload/offload.py:532-603`) in snake_case:
    * `integer_{1,2,4,8,38}_columns`, paired `decimal_columns` and
    * `decimal_columns_type`, `date_columns`, `double_columns`,
    * `variable_string_columns`, `timestamp_tz_columns` and
    * `unicode_string_columns`. `lists(k)` is field k's values, each as
    * its parsed comma list; the n-th `decimal_columns` list takes the
    * n-th `decimal_columns_type` (precision, scale). */
  def fromFields(lists: String => Seq[Seq[String]]): TypeOverrides = {
    val (decCols, decTypes) =
      (lists("decimal_columns"), lists("decimal_columns_type"))
    require(decCols.length == decTypes.length,
      "decimal_columns and decimal_columns_type must appear in pairs")
    val decimals = decCols.zip(decTypes).map {
      case (cols, Seq(p, s)) => DecimalOverride(cols, p.toInt, s.toInt)
      case (_, t) => throw new IllegalArgumentException("decimal_columns_" +
        s"type must be \"precision,scale\": ${t.mkString(",")}")
    }
    def list(k: String) = lists(k).flatten
    TypeOverrides(list("integer_1_columns"), list("integer_2_columns"),
      list("integer_4_columns"), list("integer_8_columns"),
      list("integer_38_columns"), decimals, list("date_columns"),
      list("double_columns"), list("variable_string_columns"),
      list("timestamp_tz_columns"), list("unicode_string_columns"))
  }

  /** Case-insensitive `*`-wildcard expansion of column patterns against the
    * reference column list (`expand_columns_csv`). A pattern that matches
    * nothing is an error — silently ignoring a user's explicit type decree
    * is how wrong schemas ship. */
  def expand(patterns: Seq[String], refNames: Seq[String]): Seq[String] =
    patterns.flatMap { p =>
      val rx = ("(?i)^" + java.util.regex.Pattern.quote(p)
        .replace("*", "\\E.*\\Q") + "$").r
      val hits = refNames.filter(n => rx.findFirstIn(n).isDefined)
      if (hits.isEmpty)
        throw new OverrideException(s"No columns match pattern: $p")
      hits
    }.distinct

  /** Apply the overrides to a canonical schema. Throws [[OverrideException]]
    * on unmatched patterns, cross-flag conflicts, or invalid type-class
    * conversions (numeric flags on non-numeric columns etc. — the
    * reference's INVALID_DATA_TYPE_CONVERSION guard). */
  def apply(cols: Seq[CanonicalColumn], o: TypeOverrides)
      : Seq[CanonicalColumn] = {
    if (o.isEmpty) return cols
    val names = cols.map(_.name)
    val byName = cols.map(c => c.name.toLowerCase -> c).toMap

    // (flag label, expanded column names, target type for each)
    val groups: Seq[(String, Seq[String], CanonicalType)] =
      Seq(
        ("integer-1-columns", o.integer1, Integer1),
        ("integer-2-columns", o.integer2, Integer2),
        ("integer-4-columns", o.integer4, Integer4),
        ("integer-8-columns", o.integer8, Integer8),
        ("integer-38-columns", o.integer38, Integer38),
        ("date-columns", o.dates, Date),
        ("double-columns", o.doubles, Double8),
        ("variable-string-columns", o.variableStrings, VariableString),
        ("timestamp-tz-columns", o.timestampTz, TimestampTz))
        .filter(_._2.nonEmpty)
        .map { case (label, pats, t) => (label, expand(pats, names), t) } ++
      o.decimals.map(d =>
        ("decimal-columns", expand(d.patterns, names),
          Decimal(Some(d.precision), Some(d.scale)): CanonicalType))

    // conflict: one column claimed by two different override flags
    val claims = groups.flatMap { case (label, ns, _) => ns.map(_ -> label) }
    claims.groupBy(_._1.toLowerCase).foreach { case (n, cs) =>
      if (cs.map(_._2).distinct.size > 1)
        throw new OverrideException(
          s"Data type conflict for column $n: ${cs.map(_._2).distinct.mkString(", ")}")
    }

    val overrideMap: Map[String, CanonicalType] = groups.flatMap {
      case (label, ns, t) =>
        ns.map { n =>
          val src = byName(n.toLowerCase)
          t match {
            case Integer1 | Integer2 | Integer4 | Integer8 | Integer38 |
                 Double8 | _: Decimal =>
              if (!src.isNumberBased)
                throw new OverrideException(
                  s"--$label ${src.name}: ${src.ctype.name} is not number based")
            case Date | TimestampTz | VariableString =>
              // variable-string conversion is the reference's date→string
              // path ("only effective for date based columns")
              if (!src.isDateBased)
                throw new OverrideException(
                  s"--$label ${src.name}: ${src.ctype.name} is not date based")
            case _ => ()
          }
          n.toLowerCase -> t
        }
    }.toMap

    val unicode = expand(o.unicodeStrings, names)
      .map { n =>
        val src = byName(n.toLowerCase)
        if (!src.isStringBased)
          throw new OverrideException(
            s"--unicode-string-columns ${src.name}: ${src.ctype.name} is not string based")
        n.toLowerCase
      }.toSet

    cols.map { c =>
      val key = c.name.toLowerCase
      val typed = overrideMap.get(key) match {
        case Some(t) => c.copy(ctype = t, safeMapping = false)
        case None => c
      }
      if (unicode(key))
        typed.copy(charSemantics = Some(CharSemantics.Unicode))
      else typed
    }
  }

  /** Map an Oracle NUMBER(p,s) declaration to its canonical type, with the
    * reference's edge-case normalization
    * (`oracle_offload_source_table.py:1405-1435`): scale > precision (e.g.
    * NUMBER(3,5)) widens precision to the scale; negative scale (e.g.
    * NUMBER(10,-5)) clamps scale to 0; both-unknown NUMBER maps to an
    * unbounded DECIMAL with `safeMapping=false` (drives sampling). Returns
    * (canonical type, safeMapping). */
  def oracleNumber(precision: Option[Int], scale: Option[Int],
                   safe: Boolean = true): (CanonicalType, Boolean) = {
    val (p, s) = (precision, scale) match {
      case (Some(p0), Some(s0)) if s0 > p0 => (Some(s0), Some(s0))
      case (Some(p0), Some(s0)) if s0 < 0  => (Some(p0), Some(0))
      case other => other
    }
    decimalToIntegral(p, s, safe) match {
      case Some(t) => (t, safe)
      case None =>
        val safeOut = !(precision.isEmpty && scale.isEmpty) && safe
        (Decimal(p, s), safeOut)
    }
  }

  /** The reference's `_frontend_decimal_to_integral_type`
    * (`offload_source_table.py:268-290`): a scale-0 decimal maps to the
    * narrowest integer that provably holds it; an UNSAFE mapping sitting
    * right on the INTEGER_8 edge (precision 17-18) rounds up to INTEGER_38
    * because sampled precision may under-observe. */
  def decimalToIntegral(precision: Option[Int], scale: Option[Int],
                        safe: Boolean = true): Option[CanonicalType] =
    if (!scale.contains(0)) None
    else precision.getOrElse(0) match {
      case d if d >= 1 && d <= 2 => Some(Integer1)
      case d if d >= 3 && d <= 4 => Some(Integer2)
      case d if d >= 5 && d <= 9 => Some(Integer4)
      case d if d >= 17 && d <= 18 && !safe => Some(Integer38)
      case d if d >= 10 && d <= 18 => Some(Integer8)
      case d if d >= 19 && d <= 38 => Some(Integer38)
      case _ => None
    }
}

package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper

/** The engine's one JSON codec. Offload metadata, copied stats, the
  * command audit, the REST listener and the bench/verify artifacts all
  * quote strings with [[quote]] and read documents with [[parse]].
  * Jackson comes from Spark's own jars (spark-core depends on
  * jackson-databind), so the codec adds no dependency.
  *
  * Writers still lay out their documents as text: key order and spacing
  * are part of what clients and specs match, so only string values go
  * through the quoter. Readers parse to a tree and read typed fields. A
  * field that is missing, `null` or of another type reads as None (or
  * Nil), so documents written before a field existed still load.
  */
object Json {

  /** One shared mapper. NaN and ±Infinity are accepted because that is
    * how a non-finite Double renders; trailing text after the document
    * is an error. */
  private val mapper: JsonMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** `s` as a JSON string literal, quotes included. `"` and `\` are
    * backslash-escaped; every control character, tab and newline too,
    * becomes a four-hex-digit unicode escape, so a rendered value never
    * breaks a line-oriented log. Everything else, U+2028 and non-BMP
    * characters included, passes through. Bench ring lines are matched
    * by re-rendering their `sf` value, so this output must stay
    * byte-stable. */
  def quote(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** A JSON array of string literals. */
  def strings(xs: Seq[String]): String = xs.map(quote).mkString("[", ",", "]")

  /** Parse one JSON object. Malformed text, trailing text or a document
    * that is not an object raises an exception. */
  def parse(text: String): Obj = mapper.readTree(text) match {
    case n if n != null && n.isObject => new Obj(n)
    case n => throw new IllegalArgumentException(
      s"expected a JSON object, got ${Option(n).map(_.getNodeType).orNull}")
  }

  /** Parse a JSON array of strings; raises like [[parse]]. */
  def parseStrings(text: String): Seq[String] = {
    val n = mapper.readTree(text)
    if (n == null || !n.isArray) throw new IllegalArgumentException(
      s"expected a JSON array, got ${Option(n).map(_.getNodeType).orNull}")
    texts(n)
  }

  private def texts(arr: JsonNode): Seq[String] =
    arr.elements.asScala.map(_.asText).toSeq

  /** Typed field reads over one parsed JSON object. */
  final class Obj private[Json] (node: JsonNode) {
    private def field(key: String): Option[JsonNode] =
      Option(node.get(key)).filterNot(_.isNull)
    def str(key: String): Option[String] =
      field(key).filter(_.isTextual).map(_.textValue)
    def long(key: String): Option[Long] =
      field(key).filter(_.isNumber).map(_.longValue)
    def double(key: String): Option[Double] =
      field(key).filter(_.isNumber).map(_.doubleValue)
    def bool(key: String): Option[Boolean] =
      field(key).filter(_.isBoolean).map(_.booleanValue)
    /** An array field's elements as text; Nil when it is not an array. */
    def strs(key: String): Seq[String] =
      field(key).filter(_.isArray).map(texts).getOrElse(Nil)
    /** An array field's object elements. */
    def objs(key: String): Seq[Obj] =
      field(key).filter(_.isArray)
        .map(_.elements.asScala.filter(_.isObject).map(new Obj(_)).toSeq)
        .getOrElse(Nil)
  }
}

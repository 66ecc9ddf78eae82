package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{DecimalNode, JsonNodeFactory}
import org.apache.spark.sql.Row

/** The one JSON codec: the JSON lines, files and response bodies the
  * program writes go through [[write]] (the integer-only forget
  * summaries of `StandingLayouts` are built as literals), and every
  * JSON document it reads goes through [[read]]. Jackson does the
  * escaping and the parsing; it ships with the Spark jars.
  */
object Json {

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private val nodes = JsonNodeFactory.instance

  /** `v` as one line of JSON. A `SeqMap` (`ListMap`, `LinkedHashMap`)
    * keeps its field order and any other map is written with sorted
    * keys; a Spark `Row` is an object in schema order; `None` and null
    * are null; numbers (a `java.math.BigDecimal` with its digits as
    * given), booleans, strings, sequences, arrays and parsed
    * [[JsonNode]]s are themselves; any other value is written as its
    * `toString`.
    */
  def write(v: Any): String = mapper.writeValueAsString(node(v))

  /** The JSON value `s` holds. A malformed document is an
    * `IllegalArgumentException`, the error every caller already
    * answers for bad outside input.
    */
  def read(s: String): JsonNode =
    try mapper.readTree(s)
    catch { case e: JacksonException =>
      throw new IllegalArgumentException(s"malformed JSON: ${e.getOriginalMessage}", e) }

  private def node(v: Any): JsonNode = v match {
    case null | None => nodes.nullNode()
    case Some(x) => node(x)
    case n: JsonNode => n
    case s: String => nodes.textNode(s)
    case b: Boolean => nodes.booleanNode(b)
    case i: Int => nodes.numberNode(i)
    case l: Long => nodes.numberNode(l)
    case s: Short => nodes.numberNode(s)
    case b: Byte => nodes.numberNode(b)
    case d: Double => nodes.numberNode(d)
    case f: Float => nodes.numberNode(f)
    case d: java.math.BigDecimal => DecimalNode.valueOf(d)
    case r: Row if r.schema != null =>
      obj(r.schema.fieldNames.toSeq.zipWithIndex.map { case (f, i) =>
        f -> (if (r.isNullAt(i)) null else r.get(i)) })
    case m: scala.collection.SeqMap[_, _] =>
      obj(m.toSeq.map { case (k, x) => String.valueOf(k) -> x })
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => String.valueOf(k) -> x }.sortBy(_._1))
    case a: Array[_] => nodes.arrayNode().addAll(a.toSeq.map(node).asJava)
    case it: Iterable[_] => nodes.arrayNode().addAll(it.toSeq.map(node).asJava)
    case other => nodes.textNode(other.toString)
  }

  private def obj(fields: Seq[(String, Any)]): JsonNode = {
    val o = nodes.objectNode()
    fields.foreach { case (k, x) => o.set[JsonNode](k, node(x)) }
    o
  }
}

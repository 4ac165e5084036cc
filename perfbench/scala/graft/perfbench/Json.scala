package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Minimal JSON writing for the run record, and reading of the inputs
  * file through the Jackson tree model Spark already ships.
  */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  def read(path: String): JsonNode = new ObjectMapper().readTree(new java.io.File(path))

  def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
  def strings(n: JsonNode): Seq[String] = elems(n).map(_.asText)
  def fieldsOf(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq
}

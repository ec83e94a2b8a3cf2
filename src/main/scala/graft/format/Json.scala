package graft.format

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** Thin Jackson wrapper for the metadata JSON model (table metadata,
  * manifests, manifest lists). The reference serializes metadata with
  * hand-rolled Jackson tree code too (core/.../TableMetadataParser.java,
  * core/.../SnapshotParser.java); we mirror that style but with a JSON
  * manifest format instead of Avro (SURVEY.md §7.0).
  */
object Json {
  val mapper = new ObjectMapper()

  def obj(): ObjectNode = mapper.createObjectNode()
  def arr(): ArrayNode = mapper.createArrayNode()

  def parse(s: String): JsonNode = mapper.readTree(s)
  def write(n: JsonNode): String = mapper.writeValueAsString(n)
  def pretty(n: JsonNode): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)

  def fields(n: JsonNode): Iterator[(String, JsonNode)] =
    n.properties().asScala.iterator.map(e => e.getKey -> e.getValue)

  def elems(n: JsonNode): Iterator[JsonNode] = n.elements().asScala

  def getStr(n: JsonNode, f: String): String = n.get(f).asText()
  def getLong(n: JsonNode, f: String): Long = n.get(f).asLong()
  def optLong(n: JsonNode, f: String): Option[Long] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asLong())
  def getInt(n: JsonNode, f: String): Int = n.get(f).asInt()
  def getBool(n: JsonNode, f: String): Boolean = n.get(f).asBoolean()

  def strMap(n: JsonNode): Map[String, String] =
    if (n == null || n.isNull) Map.empty
    else fields(n).map { case (k, v) => k -> v.asText() }.toMap

  def putStrMap(o: ObjectNode, f: String, m: Map[String, String]): Unit = {
    val mo = o.putObject(f)
    m.toSeq.sortBy(_._1).foreach { case (k, v) => mo.put(k, v) }
  }
}

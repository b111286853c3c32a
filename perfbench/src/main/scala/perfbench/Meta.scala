package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Read access to the generator's meta.json. */
final case class Meta(node: JsonNode) {
  private def get(k: String): JsonNode =
    Option(node.get(k)).getOrElse(sys.error(s"meta.json: missing $k"))
  def str(k: String): String = get(k).asText
  def long(k: String): Long = get(k).asLong
  def strs(k: String): Seq[String] = get(k).elements.asScala.map(_.asText).toSeq
  def obj(k: String): Meta = Meta(get(k))
  def objs(k: String): Seq[Meta] = get(k).elements.asScala.map(Meta(_)).toSeq
  def rows(k: String): Seq[Seq[String]] =
    get(k).elements.asScala.map(_.elements.asScala.map(_.asText).toSeq).toSeq
  def keys: Seq[String] = node.fieldNames.asScala.toSeq
}

object Meta {
  def parseFile(path: String): Meta = Meta(new ObjectMapper().readTree(new java.io.File(path)))
}

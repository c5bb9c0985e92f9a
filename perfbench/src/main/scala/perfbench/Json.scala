package perfbench

import java.io.File
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._

/** JSON in (the generator's manifest) and out (the raw run record). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(f: File): JsonNode = mapper.readTree(f)

  def write(f: File, v: Any): Unit = mapper.writeValue(f, v)

  implicit class Node(val n: JsonNode) extends AnyVal {
    def str(k: String): String = n.get(k).asText
    def long(k: String): Long = n.get(k).asLong
    def int(k: String): Int = n.get(k).asInt
    def list(k: String): Seq[JsonNode] = n.get(k).elements.asScala.toSeq
    def strs(k: String): Seq[String] = list(k).map(_.asText)
  }
}

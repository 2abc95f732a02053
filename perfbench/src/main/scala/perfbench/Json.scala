package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON through the Jackson that Spark already ships. Values written are
  * Scala maps, sequences, options and numbers; callers turn decimals into
  * exact strings and missing times into `None` before writing. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
}

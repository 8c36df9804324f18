package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** JSON through Jackson, with a finiteness check on metric values. */
object Json {
  val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def obj(): ObjectNode = mapper.createObjectNode()

  def write(node: JsonNode): String = mapper.writeValueAsString(node)

  /** A finite double, kept with all its digits. */
  def finite(d: Double): Double = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not finite")
    d
  }
}

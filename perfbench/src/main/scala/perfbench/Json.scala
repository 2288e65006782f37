package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON rendering for the result lines, and reply parsing. */
object Json {
  private val mapper = new ObjectMapper()

  def parse(s: String): JsonNode = mapper.readTree(s)

  def str(s: String): String = mapper.writeValueAsString(s)

  /** Numbers keep all their digits; a non-finite number is a bug upstream. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

package graftbench

import com.fasterxml.jackson.databind.ObjectMapper

/** JSON for the result lines, through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  /** An object with its fields in the given order; values may be numbers,
    * booleans, strings or further `obj`s. */
  def obj(fields: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def write(v: Any): String = mapper.writeValueAsString(v)
}

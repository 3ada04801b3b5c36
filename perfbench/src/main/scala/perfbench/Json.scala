package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.annotation.JsonValue
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** An ordered JSON object for the run's result file, written with the
  * Jackson Scala module that Spark ships. */
final class Json {
  private val fields = mutable.LinkedHashMap.empty[String, Any]

  def put(k: String, v: Any): Json = { fields(k) = v; this }

  @JsonValue def value: collection.Map[String, Any] = fields

  def render: String = Json.mapper.writeValueAsString(this)
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

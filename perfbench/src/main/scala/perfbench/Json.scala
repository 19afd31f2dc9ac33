package perfbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the benchmark's record files (Jackson, as shipped with Spark). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def value(v: Any): String = mapper.writeValueAsString(v)

  /** One object, keys in the given order. */
  def obj(kv: (String, Any)*): String = value(ListMap(kv: _*))
}

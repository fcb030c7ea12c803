package lcbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON through the Jackson that Spark ships (Scala collections included). */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(value: Any): String = mapper.writeValueAsString(value)
}

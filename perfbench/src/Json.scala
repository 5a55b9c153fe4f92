package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the files the Python side reads, by the Jackson that ships
  * with Spark. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def render(v: Any): String = mapper.writeValueAsString(v)
}

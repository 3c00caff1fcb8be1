package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the harness's records, through the Jackson that Spark ships. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def write(v: Any): String = mapper.writeValueAsString(v)
}

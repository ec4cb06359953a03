package graft.bench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def pretty(v: Any): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)
  def read(s: String): Map[String, Any] =
    mapper.readValue(s, classOf[Map[String, Any]])
}

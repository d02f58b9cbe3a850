package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out: the manifest the generator writes, and the results
  * the runner reads back. Scala maps, sequences and options are written
  * by Jackson's Scala module. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def save(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}

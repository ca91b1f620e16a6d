package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The JSON writer of the harness artifacts (Bench, Verify). Scala maps
  * keep their iteration order, so a `ListMap` fixes the key order. */
private[graft] object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}

package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The result file: ordered maps and buffers, written with the Jackson
  * that ships with Spark.
  */
object Json {
  type Obj = mutable.LinkedHashMap[String, Any]
  type Arr = mutable.ArrayBuffer[Any]

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  def spans(all: Seq[Span]): Seq[Obj] = all.map { s =>
    mutable.LinkedHashMap[String, Any](
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "op" -> s.op, "start" -> s.start, "end" -> (if (s.end.isNaN) s.start else s.end),
      "attrs" -> s.attrs)
  }
}

package graft.perfbench

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, JsonSerializer, ObjectMapper,
  SerializerProvider}
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON through Jackson and its Scala module; a NaN or infinite double is
  * written as null.
  */
object Json {
  private object FiniteOrNull extends JsonSerializer[java.lang.Double] {
    override def serialize(d: java.lang.Double, g: JsonGenerator,
        p: SerializerProvider): Unit =
      if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d)
  }

  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .registerModule(new SimpleModule()
      .addSerializer(classOf[java.lang.Double], FiniteOrNull)
      .addSerializer(java.lang.Double.TYPE.asInstanceOf[Class[java.lang.Double]],
        FiniteOrNull))

  def read(path: String): JsonNode =
    mapper.readTree(new java.io.File(path))

  def write(v: Any): String = mapper.writeValueAsString(v)
}

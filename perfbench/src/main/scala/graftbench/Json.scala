package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Minimal JSON in and out: Jackson ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)

  def elems(n: JsonNode): Seq[JsonNode] =
    if (n == null || n.isNull) Nil else n.elements().asScala.toSeq

  def strings(n: JsonNode): Seq[String] = elems(n).map(_.asText)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}

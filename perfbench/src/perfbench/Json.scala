package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Minimal JSON: reads the generator's truth file (Jackson ships with
  * Spark) and writes the run's result objects.
  */
object Json {
  final case class Node(n: JsonNode) {
    def apply(k: String): Node = Node(n.get(k))
    def int: Int = n.asInt()
    def long: Long = n.asLong()
    def string: String = n.asText()
    def items: Seq[Node] = n.elements().asScala.map(Node).toSeq
    def fields: Seq[(String, Node)] =
      n.fields().asScala.map(e => e.getKey -> Node(e.getValue)).toSeq
  }

  def read(path: String): Node = Node(new ObjectMapper().readTree(new java.io.File(path)))

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}: ${write(x)}" }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Minimal JSON writer for the harness's result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').result()
  }

  def value(v: Any): String = v match {
    case null                         => "null"
    case d: Double                    => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                     => value(f.toDouble)
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case b: Boolean                   => b.toString
    case s: String                    => str(s)
    case m: collection.Map[_, _]      =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_]              => xs.map(value).mkString("[", ",", "]")
    case r: Row                       => value(r.toSeq)
    case o                            => str(o.toString)
  }

  /** A collected result: column names with Spark SQL type names, and rows. */
  def result(schema: StructType, rows: Array[Row]): String =
    s"""{"columns":${value(schema.fields.toSeq.map(f => Seq(f.name, f.dataType.simpleString)))},""" +
      s""""rows":${rows.map(r => value(r.toSeq)).mkString("[", ",\n", "]")}}"""
}

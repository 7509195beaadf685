package graftbench

import scala.language.implicitConversions

/** Minimal JSON values and writer for the run's raw output file. */
object Json {
  sealed trait Value
  final case class Num(v: Double) extends Value
  final case class Str(v: String) extends Value
  final case class Bool(v: Boolean) extends Value
  case object Null extends Value
  final case class Arr(items: Seq[Value]) extends Value
  final case class Obj(fields: Seq[(String, Value)]) extends Value {
    def ++(o: Obj): Obj = Obj(fields ++ o.fields)
  }

  implicit def fromInt(v: Int): Value = Num(v.toDouble)
  implicit def fromLong(v: Long): Value = Num(v.toDouble)
  implicit def fromDouble(v: Double): Value = Num(v)
  implicit def fromString(v: String): Value = if (v == null) Null else Str(v)
  implicit def fromBoolean(v: Boolean): Value = Bool(v)
  implicit def fromSeq[T](v: Seq[T])(implicit f: T => Value): Value = Arr(v.map(f))
  implicit def fromMap[T](v: Map[String, T])(implicit f: T => Value): Value =
    Obj(v.toSeq.sortBy(_._1).map { case (k, x) => k -> f(x) })

  def obj(fields: (String, Value)*): Obj = Obj(fields)
  def arr(items: Value*): Arr = Arr(items)

  private def quote(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  private def write(v: Value, sb: java.lang.StringBuilder): Unit = v match {
    case Num(d) =>
      if (d.isNaN || d.isInfinite) sb.append("null")
      else if (d == math.rint(d) && math.abs(d) < 1e15) sb.append(d.toLong)
      else sb.append(d)
    case Str(s) => quote(s, sb)
    case Bool(b) => sb.append(b)
    case Null => sb.append("null")
    case Arr(xs) =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(x, sb) }
      sb.append(']')
    case Obj(fs) =>
      sb.append('{')
      fs.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        quote(k, sb); sb.append(':'); write(x, sb)
      }
      sb.append('}')
  }

  def render(v: Value): String = {
    val sb = new java.lang.StringBuilder
    write(v, sb)
    sb.toString
  }
}

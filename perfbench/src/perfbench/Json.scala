package perfbench

/** Tiny JSON renderer for the benchmark's artifacts. A non-finite double is
  * written as `null`, so no artifact ever carries `NaN` or `Infinity`.
  */
object Json {
  def render(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x)     => write(sb, x)
    case b: Boolean  => sb.append(b)
    case d: Double   => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case n: Int      => sb.append(n)
    case n: Long     => sb.append(n)
    case s: String   =>
      sb.append('"')
      s.foreach {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c    => sb.append(c)
      }
      sb.append('"')
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        write(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(sb, x) }
      sb.append(']')
    case other       => write(sb, other.toString)
  }
}

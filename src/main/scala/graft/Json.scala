package graft

/** Minimal JSON string escaping shared by the [[Bench]]/[[Verify]]
  * emitters (no JSON library on the classpath by design): backslash,
  * quote, and ALL control chars (<0x20) — exception messages and
  * builder-authored SQL routinely carry newlines/tabs, and one raw
  * control char makes the driver's json.load fail, silently zeroing a
  * round's results. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap(escape) + "\""

  /** [[quote]] cut to at most `max` chars, quotes included. The cut falls
    * between two escapes, so the result is always a valid JSON string. */
  def quote(s: String, max: Int): String = {
    val b = new StringBuilder("\"")
    s.iterator.map(escape).takeWhile(e => b.length + e.length < max).foreach(b ++= _)
    b.append('"').result()
  }

  private def escape(c: Char): String = c match {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}

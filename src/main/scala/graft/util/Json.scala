package graft.util

/** Correct, lossless JSON string escaping shared by the JSON writers
  * (job store, HttpApi, embedding API requests). Escapes backslash,
  * quote, and all control characters; [[MiniJson]] reads it back.
  */
object Json {
  def escape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** A JSON string literal. */
  def quote(s: String): String = "\"" + escape(s) + "\""

  /** A JSON array of string literals. */
  def strArray(xs: Seq[String]): String = xs.map(quote).mkString("[", ",", "]")
}

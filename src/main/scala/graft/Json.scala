package graft

/** JSON string escaping shared by every hand-written JSON emitter
  * (App's reference output, Verify's oracle_sql.json, the commit
  * manifest): backslash, quote and ALL control chars (< 0x20). A raw tab,
  * quote or backslash would otherwise produce invalid JSON that readers
  * reject or, like Spark's JSON source, silently turn into null rows.
  */
object Json {
  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** `s` as a quoted JSON string literal. */
  def quote(s: String): String = "\"" + escape(s) + "\""
}

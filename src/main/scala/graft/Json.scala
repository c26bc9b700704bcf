package graft

/** The one JSON string-literal writer for the hand-built JSON this
  * project emits (the Bench line, `oracle_sql.json`, the pipeline metrics
  * report, tokenizer models). */
object Json {
  /** `s` as a quoted JSON string: backslash, quote and every control
    * character below 0x20 escaped (`\n`, `\r`, `\t` by name, the rest as
    * `\u00XX`), so the literal never breaks a one-line artifact. */
  def quote(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

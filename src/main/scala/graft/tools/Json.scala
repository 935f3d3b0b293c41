package graft.tools

/** The one JSON string literal writer for the hand-built artifacts
  * (`oracle_sql.json`, `errors.json`, `REHEARSAL.json`, Bench's stage
  * names). */
object Json {

  /** `s` as a quoted JSON string: backslash, quote and every control
    * character (< 0x20) escaped — a tab or CR in hand-written SQL
    * would otherwise make a consumer's `json.load` fail. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

package graft.core

/** The one JSON string literal (oracle files, `pipeline_stats.json`): every
  * control char is escaped, as one left raw makes the whole file unparseable. */
object Json {
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

package graft

/** JSON text for the mains' output files. */
private[graft] object Json {
  /** `s` as a JSON string literal. Quote, backslash and ALL control chars
    * (<0x20) are escaped: a tab or CR left raw in builder-authored SQL
    * makes a strict parser (Python's `json.load`) reject the file.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

package graft.core

object Json {
  /** `s` as a JSON string literal: quoted, with the quote, the backslash
    * and every control character (< 0x20) escaped — a tab or CR in
    * builder-authored SQL, or a quote in a gate name, would otherwise
    * make the consumer's JSON parse fail. */
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

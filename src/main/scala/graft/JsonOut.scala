package graft

/** JSON string escaping shared by every main that hand-assembles its
  * one-line JSON output (Verify, Bench, BenchBig, BenchTfRecord):
  * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
  * hand-written SQL (or a quote in a data-dir path) would otherwise
  * make a consumer's json.load fail. */
private[graft] object JsonOut {
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

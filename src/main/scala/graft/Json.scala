package graft

/** JSON rendering shared by the machine-readable records the mains write. */
private[graft] object Json {

  /** JSON string literal. Escapes backslash, quote, and ALL control chars
    * (<0x20): one tab or CR in the oracle SQL would otherwise make a JSON
    * reader reject the whole file. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{query: [exception class, message]}`; `{}` when nothing failed. A
    * null message renders as "". */
  def failures(fs: Iterable[(String, Throwable)]): String =
    fs.map { case (k, e) =>
      s"${str(k)}:[${str(e.getClass.getName)},${str(Option(e.getMessage).getOrElse(""))}]"
    }.mkString("{", ",", "}")
}

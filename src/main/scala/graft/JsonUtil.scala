package graft

/** Minimal JSON rendering shared by the mains (Bench, Verify, Probe),
  * which emit hand-assembled one-line JSON records. Every char < 0x20
  * is escaped: a tab in a Spark stack summary once made a record
  * invalid.
  */
object JsonUtil {
  /** `s` as a quoted JSON string literal, all control chars escaped. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `v` with `digits` decimals, locale-independent (a JSON number). */
  def num(v: Double, digits: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", java.lang.Double.valueOf(v))
}

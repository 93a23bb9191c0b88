package graft

/** A query (or Bench's warmup) that threw, recorded as data: both JSON
  * lines of [[Bench]] and [[Verify]]'s `failed.json` carry a list of these.
  * `message` is the exception message's first line, so a Spark error
  * that embeds a whole plan still fits the compact totals line. */
final case class QueryFailure(name: String, errorClass: String,
                              message: String) {
  import QueryFailure.jsonString

  def json: String =
    s"""{"name":${jsonString(name)},"error_class":${jsonString(errorClass)},""" +
      s""""message":${jsonString(message)}}"""
}

object QueryFailure {
  def apply(name: String, e: Throwable): QueryFailure =
    QueryFailure(name, e.getClass.getName,
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse(""))

  def jsonArray(fs: Seq[QueryFailure]): String =
    fs.map(_.json).mkString("[", ",", "]")

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in a twin's SQL would otherwise make the
    * DuckDB compare's json.load fail and silently check nothing. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

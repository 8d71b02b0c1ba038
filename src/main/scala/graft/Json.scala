package graft

import com.fasterxml.jackson.core.io.JsonStringEncoder

object Json {

  /** `v.toString` as a JSON string literal (quote, backslash and every
    * control character escaped), or `null`. Free-form values (SQL text,
    * paths, document fields) must not break a machine-read report.
    */
  def str(v: Any): String =
    if (v == null) "null"
    else "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(v.toString)) + "\""
}

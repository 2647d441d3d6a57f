package graft.core

/** Minimal JSON (no deps): a writer for strings, numbers, arrays and ordered
  * objects, and the one reader for what it writes. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def arr(items: IterableOnce[String]): String =
    items.iterator.mkString("[", ",", "]")
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** Parse one JSON document. An object decodes to `Map[String, Any]`, an
    * array to `Vector[Any]`, a string to its escape-decoded `String`, a
    * number to its source text (also a `String`: callers convert per field,
    * so `12` and `"12"` read alike), `true`/`false` to `Boolean`, `null` to
    * null. Malformed, truncated or trailing text fails loudly
    * (IllegalArgumentException). */
  def parse(text: String): Any = {
    val r = new Reader(text, complete = true)
    val v = r.value()
    r.ws()
    require(r.i == text.length, s"trailing text at ${r.i} of ${text.length}")
    v
  }

  /** The fields of a top-level object that precede its first key named
    * `stop`; that key's value and everything after it are never scanned
    * (a bounded-prefix read of a document with a large tail). None when
    * `text` ends first: it is a truncated prefix, so read more and retry. */
  def parsePrefix(text: String, stop: String): Option[Map[String, Any]] =
    try Some(new Reader(text, complete = false).obj(stop))
    catch { case Truncated => None }

  private object Truncated extends RuntimeException(null, null, false, false)

  /** Recursive-descent reader over `s` from position `i`. `complete = false`
    * marks `s` as a prefix of the document: running off its end throws
    * [[Truncated]] instead of failing. */
  private final class Reader(s: String, complete: Boolean) {
    var i = 0

    private def end(): Nothing =
      if (complete) throw new IllegalArgumentException(s"unexpected end of JSON at $i")
      else throw Truncated

    private def peek: Char = { if (i >= s.length) end(); s.charAt(i) }

    def ws(): Unit =
      while (i < s.length && " \t\n\r".indexOf(s.charAt(i)) >= 0) i += 1

    /** Consume `c` if it is the next non-blank character. */
    private def at(c: Char): Boolean = {
      ws()
      val hit = peek == c
      if (hit) i += 1
      hit
    }

    private def expect(c: Char): Unit =
      require(at(c), s"expected '$c' at $i, got '${s.charAt(i)}'")

    def value(): Any = {
      ws()
      peek match {
        case '{' => obj(null)
        case '[' =>
          i += 1
          val b = Vector.newBuilder[Any]
          var more = !at(']')
          while (more) { b += value(); more = at(','); if (!more) expect(']') }
          b.result()
        case '"' => string()
        case 't' => word("true", true)
        case 'f' => word("false", false)
        case 'n' => word("null", null)
        case _ => number()
      }
    }

    /** An object; stops before the value of the first key equal to `stop`. */
    def obj(stop: String): Map[String, Any] = {
      expect('{')
      val b = Map.newBuilder[String, Any]
      var more = !at('}')
      while (more) {
        ws()
        val k = string()
        if (k == stop) return b.result()
        expect(':')
        b += k -> value()
        more = at(',')
        if (!more) expect('}')
      }
      b.result()
    }

    private def string(): String = {
      require(peek == '"', s"expected string at $i")
      i += 1
      val start = i
      while (peek != '"' && s.charAt(i) != '\\') i += 1
      if (s.charAt(i) == '"') { i += 1; return s.substring(start, i - 1) }
      val sb = new java.lang.StringBuilder().append(s, start, i)
      while (peek != '"') {
        if (s.charAt(i) != '\\') sb.append(s.charAt(i))
        else {
          i += 1
          peek match {
            case c @ ('"' | '\\' | '/') => sb.append(c)
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              if (i + 4 >= s.length) end()
              sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case c => throw new IllegalArgumentException(s"bad escape '\\$c' at $i")
          }
        }
        i += 1
      }
      i += 1
      sb.toString
    }

    private def word(w: String, v: Any): Any = {
      if (i + w.length > s.length) end()
      require(s.startsWith(w, i), s"unexpected '${s.charAt(i)}' at $i")
      i += w.length
      v
    }

    private def number(): String = {
      val start = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      require(i > start, s"unexpected '${s.charAt(i)}' at $i")
      if (i == s.length && !complete) end() // the prefix may cut a number short
      s.substring(start, i)
    }
  }
}

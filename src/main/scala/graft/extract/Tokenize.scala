package graft.extract

/** Frozen tokenizer for mention detection: maximal runs of Unicode
  * letters/digits, with original-text offsets. Normalization = lowercase
  * (ROOT locale — no Turkish-i surprises). Pure function; no regex engine
  * in the hot loop.
  */
object Tokenize {
  final case class Token(start: Int, end: Int, norm: String)

  def tokens(text: String): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    val n = text.length
    var i = 0
    while (i < n) {
      if (Character.isLetterOrDigit(text.charAt(i))) {
        val s = i
        while (i < n && Character.isLetterOrDigit(text.charAt(i))) i += 1
        out += Token(s, i, text.substring(s, i).toLowerCase(java.util.Locale.ROOT))
      } else i += 1
    }
    out.result()
  }

  /** BPE-style pre-tokenizer pattern (GPT-2-like, lookahead-free so the
    * SAME pattern runs under java.util.regex, RE2 (DuckDB) and Spark's
    * regexp_extract_all): an optional leading space glued to a letter run,
    * digit run, or punctuation run; bare whitespace runs are their own
    * token. ASCII classes only — no engine-specific \p{L}/\s drift. */
  val BpePattern: String = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\t\\n\\r\\f ]+|[\\t\\n\\r\\f ]+"

  /** BPE-ish token count: number of [[BpePattern]] matches. Counted with a
    * hand-rolled scanner equivalent to the regex (no engine in the loop);
    * `TokenizeSpec` locks scanner == regex on randomized inputs. */
  def bpeTokenCount(text: String): Int = {
    val n = text.length
    var i = 0
    var count = 0
    def isLetter(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    def isDigit(c: Char) = c >= '0' && c <= '9'
    def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
    while (i < n) {
      val c = text.charAt(i)
      if (c == ' ' && i + 1 < n && !isWs(text.charAt(i + 1))) {
        // space glues to the following run
        i += 1
        val c2 = text.charAt(i)
        if (isLetter(c2)) while (i < n && isLetter(text.charAt(i))) i += 1
        else if (isDigit(c2)) while (i < n && isDigit(text.charAt(i))) i += 1
        else while (i < n && !isLetter(text.charAt(i)) && !isDigit(text.charAt(i)) && !isWs(text.charAt(i))) i += 1
        count += 1
      } else if (isWs(c)) {
        while (i < n && isWs(text.charAt(i))) i += 1
        count += 1
      } else if (isLetter(c)) {
        while (i < n && isLetter(text.charAt(i))) i += 1
        count += 1
      } else if (isDigit(c)) {
        while (i < n && isDigit(text.charAt(i))) i += 1
        count += 1
      } else {
        while (i < n && !isLetter(text.charAt(i)) && !isDigit(text.charAt(i)) && !isWs(text.charAt(i))) i += 1
        count += 1
      }
    }
    count
  }
}

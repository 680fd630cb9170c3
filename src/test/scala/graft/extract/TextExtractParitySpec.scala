package graft.extract

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.synth.PagesSynth
import graft.text.Reference

/** Holds the run-copying extractor to the pre-rewrite v1 scan
  * (`Reference.extractV1`) byte for byte. `FrozenExtractSpec` only sees
  * synthesized pages, which take none of the odd branches; the fragment
  * soups here do: mixed-case and unclosed drop and block tags, `</br>`,
  * unterminated comments, every named entity, `&#9;`/`&#10;`/`&#13;`,
  * Unicode digits in numeric entities, `&` with no `;`, runs of CR and TAB,
  * and non-ASCII text. */
class TextExtractParitySpec extends AnyFunSuite {

  private val fragments = Vector(
    // drop elements, mixed case, closed and unclosed
    "<script>", "</script>", "<SCRIPT type=\"x\">", "</Script>", "<style>", "</STYLE>",
    "<nav>", "</nav>", "<Nav class=a>", "</nAv>", "<header>", "</HEADER>", "<footer>",
    "</footer>", "<aside>", "</aside>", "<script", "</scriptx>",
    // block and inline tags
    "<p>", "</p>", "<P>", "</P >", "<div class=\"x\">", "</DIV>", "<h1>", "</h1>", "</H6>",
    "<li>", "</li>", "<br>", "<BR/>", "<br />", "</br>", "<tr>", "</tr>", "<section>",
    "</Section>", "<article>", "</article>", "<title>", "</title>", "<span>", "</span>",
    "<a href=x>", "</a>", "< p>", "<1>", "</>", "<>", "<", ">", "<p", "</div", "<b>", "<İ>",
    // comments, closed and unterminated
    "<!-- c -->", "<!---->", "<!--", "-->", "<!- x ->", "<!-- <p> -->",
    // entities
    "&amp;", "&lt;", "&gt;", "&quot;", "&nbsp;", "&#39;", "&#9;", "&#10;", "&#13;",
    "&#32;", "&#65;", "&#65546;", "&#999999;", "&#0;", "&#\u0663\u0669;", "&#\uff14\uff12;",
    "&#x41;", "&#;", "&#", "&;", "&", "&a", "&amp", "&AMP;", "&Amp;", "&toolongname;",
    "&nbsp", "&lt;p&gt;", "&&amp;;", "&#1234567;", "&#12a;", ";",
    // whitespace runs
    " ", "  ", "\t", "\t\t", "\n", "\r", "\r\r", "\r\n", "\n\n\n", " \t \r\n ", "\u00a0", "\f",
    // text, ASCII and not
    "word", "Hello", "a", "x;y", "Grüße", "日本語", "İstanbul", "ΣΟΦΙΑ", "\ud83d\ude00", "é",
    "1 < 2", "a&b", "#", "/", "!", "-")

  private val singles = "<>&;#/!- \t\r\nAzé"

  private def soup(rnd: scala.util.Random): String = {
    val sb = new java.lang.StringBuilder
    var k = rnd.nextInt(30)
    while (k > 0) {
      if (rnd.nextInt(8) == 0) sb.append(singles.charAt(rnd.nextInt(singles.length)))
      else sb.append(fragments(rnd.nextInt(fragments.size)))
      k -= 1
    }
    sb.toString
  }

  test("the extractor equals v1 on 200,000 random fragment soups") {
    val rnd = new scala.util.Random(0x7E47)
    var i = 0
    while (i < 200000) {
      val html = soup(rnd)
      val got = TextExtract.extract(html)
      val want = Reference.extractV1(html)
      if (got != want) fail(s"soup $i diverged on ${html.map(c => f"\\u${c.toInt}%04x").mkString}:\n got <$got>\nwant <$want>")
      i += 1
    }
  }

  test("the extractor equals v1 on 20,000 synthesized pages, through the byte overload") {
    val n = 20000L
    var i = 0L
    while (i < n) {
      val html = PagesSynth.pageAt(i, n).page.html
      val got = TextExtract.extract(html)
      assert(got == Reference.extractV1(new String(html, UTF_8)), s"page $i diverged")
      i += 1
    }
  }

  test("decoded whitespace entities keep their v1 meaning") {
    // a raw tab is a space, a decoded &#9; is a tab; a decoded &nbsp;,
    // &#10; or &#13; only sets the pending separator
    assert(TextExtract.extract("a\tb&#9;c") == "a b\tc")
    assert(TextExtract.extract("a&nbsp;&nbsp;b&#10;c&#13; d") == "a b\nc\nd")
    assert(TextExtract.extract("&nbsp;&#10;a&#13;") == "a")
    // a comment is skipped even inside a drop element
    assert(TextExtract.extract("<script><!-- </script> -->x</script>y") == "y")
  }

  test("a 2,000,000-char page of `&` without `;` extracts in linear time") {
    // no `;` anywhere, so v1 keeps every `&` literal: its output is the page
    val small = "&a" * 10000
    assert(Reference.extractV1(small) == small)
    assert(TextExtract.extract(small) == small)
    val big = "&a" * 1000000
    val t0 = System.nanoTime()
    val got = TextExtract.extract(big)
    val s = (System.nanoTime() - t0) / 1e9
    assert(got == big)
    assert(s < 2.0, f"took $s%.2f s")
  }
}

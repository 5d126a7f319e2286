package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.Frontier
import graft.html.{Doc, DocRender}

/** Url keys and extracted text must not depend on the JVM default locale:
  * under Turkish rules "I".toLowerCase is the dotless "ı", which would
  * change a host's canonical key (and so its url_hash) and stop upper-case
  * tags from matching. Forked suites run sequentially, so switching the
  * default inside try/finally affects no other test. */
class LocaleSpec extends AnyFunSuite {

  private val url = "HTTP://WIKI.EXAMPLE.COM/I"
  private val page =
    "<HTML><HEAD><TITLE>INDEX</TITLE></HEAD><BODY><H1>LIST IT</H1>" +
      "<P>SEE <A HREF=\"/INFO\">INFO</A></P><UL><LI>ITEM I</LI></UL></BODY></HTML>"

  private def outputs(): (String, Long, String, Seq[String]) = {
    val key = Frontier.canonicalKey(url)
    (key, Frontier.keyHash(key), DocRender.toMarkdown(Doc.fromHtml(page, url)),
      graft.search.Bm25.normalizeQuery(Seq("LIST", " ITEM ")))
  }

  test("canonical url key, url_hash, markdown and BM25 query terms are the same under a Turkish default locale") {
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.ROOT)
      val want = outputs()
      assert(want._1 == "http://wiki.example.com/I")
      assert(want._3.contains("# INDEX") && want._3.contains("# LIST IT") &&
        want._3.contains("- ITEM I"), want._3)
      assert(want._4 == Seq("item", "list"))
      Locale.setDefault(new Locale("tr", "TR"))
      assert(outputs() == want)
    } finally Locale.setDefault(saved)
  }
}

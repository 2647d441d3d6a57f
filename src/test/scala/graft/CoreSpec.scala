package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

class CoreSpec extends AnyFunSuite {

  test("PyStr.splitOnce: absent separator is None (IndexError path)") {
    assert(PyStr.splitOnce("abc", "X").isEmpty)
    assert(PyStr.splitOnce("aXbXc", "X").contains(("a", "bXc")))
    assert(PyStr.splitOnce("Xb", "X").contains(("", "b")))
  }

  test("PyStr.partition matches Python semantics") {
    assert(PyStr.partition("a:b:c", ":") == ("a", ":", "b:c"))
    assert(PyStr.partition("abc", ":") == ("abc", "", ""))
  }

  test("PyStr.strip strips the Python whitespace set incl. NBSP/NEL") {
    assert(PyStr.strip("  x \t\r\n") == "x")
    assert(PyStr.strip("") == "")
    assert(PyStr.strip(" abc ") == "abc")
  }

  test("RuleFsm: full page emits; chatter page is seen-suppressed; repeat re-emits") {
    val fsm = new RuleFsm(RuleFsm.compile(DocType.LinuxPattern))
    val page = "1.1.1 Ensure x (Automated)\nProfile Applicability:\n L1\n" +
      "Description:\n d\nRationale:\n r\nAudit:\n a\nRemediation:\n m\n" +
      "Default Value:\n v\nCIS Controls:\n c\n3 | P a g e"
    val (spans1, rec1) = fsm.feed(page)
    assert(rec1.isDefined)
    assert(spans1.map(_.label) == Vector("rule", "profile_applicability",
      "description", "rationale", "audit", "remediation", "default_value",
      "cis_controls"))
    val (_, rec2) = fsm.feed("no markers here")
    assert(rec2.isEmpty) // counters frozen → seenList suppression
    val (_, rec3) = fsm.feed(page) // all counters advance equally → new emission
    assert(rec3.isDefined)
    assert(rec3.get == rec1.get)
  }

  test("RuleFsm: defval backfill only when CIS advances without Default Value") {
    val fsm = new RuleFsm(RuleFsm.compile(DocType.LinuxPattern))
    val page = "1.1.1 Ensure x (Manual)\nProfile Applicability: L\nDescription: d\n" +
      "Rationale: r\nAudit: a\nRemediation: m\nCIS Controls: c\nP a g e"
    val (_, rec) = fsm.feed(page)
    assert(rec.get.default_value == "")
    assert(rec.get.cis_controls == "c")
  }

  test("RuleFsm: absent marker keeps stale value (cross-turn carry)") {
    val fsm = new RuleFsm(RuleFsm.compile(DocType.LinuxPattern))
    fsm.feed("1.1.1 Ensure a (Automated)\nProfile Applicability: P1\nDescription: D1\n")
    val (_, rec) = fsm.feed("Rationale: r\nAudit: a\nRemediation: m\n" +
      "Default Value: v\nCIS Controls: c\nP a g e")
    assert(rec.isDefined)
    assert(rec.get.profile_applicability == "P1")
    assert(rec.get.description == "D1")
  }

  test("DocType dispatch incl. no-cover-match quirk") {
    assert(DocType.classify("CIS Red Hat Enterprise Linux 7\nBenchmark")
      == DocType.Classified("rhel7", DocType.LinuxPattern))
    assert(DocType.classify("CIS Microsoft Windows 10 Enterprise Benchmark")
      == DocType.Classified("win10", DocType.Win10Pattern))
    assert(DocType.classify("CIS FooOS Benchmark") == DocType.UnknownName("FooOS"))
    // quirk: no cover match → the cover regex itself becomes the rule pattern
    val c = DocType.classify("nothing matching")
    assert(c.isInstanceOf[DocType.Classified])
    assert(c.asInstanceOf[DocType.Classified].pattern == "(?<=CIS).*(?=Benchmark)")
  }

  test("DocType.firstContentOrdinal takes the LAST gate hit") {
    val pages = Seq("a", "Recommendations 1 x", "b", "Recommendations 1 y", "c")
    assert(DocType.firstContentOrdinal(pages).contains(3))
    assert(DocType.firstContentOrdinal(Seq("a", "b")).isEmpty)
  }

  test("LineFsm: section naming from the line, accumulation, null padding") {
    val out = LineFsm.parseDocument(Seq(
      "Description: first\ncontinues here\nRationale: because\nImpact Audit: x"))
    val m = out.groupBy(_.section)
    assert(m("Description").head.value == "first continues here")
    assert(m("Rationale").head.value == "because")
    // the section NAME comes from the line's text before ':', not the keyword list
    assert(m.contains("Impact Audit"))
    // padding: all sections padded to same max length
    assert(out.groupBy(_.section).values.map(_.size).toSet.size == 1)
  }

  test("KeywordWindows: per-pair findall with row alignment and page key") {
    val text = "Header line one\nline two\ndescription A rationale B impact C " +
      "audit D remediation E cis control (6.1 something)"
    val rows = KeywordWindows.parsePage(text)
    assert(rows.size == 1)
    assert(rows.head.key == "Header line one line two")
    assert(rows.head.values("description") == "A")
    assert(rows.head.values("cis control") == "6.1 something")
  }

  test("Boilerplate: drops nav/header/footer/script, keeps main text") {
    val html = """<html><head><style>x{}</style></head><body>
<nav><a href="/">home</a><a href="/b">b</a></nav>
<header><h1>Site</h1></header>
<div><p>This is the real main content of the page, long enough to keep.</p></div>
<footer><a href="/a">about</a></footer></body></html>"""
    val out = Boilerplate.stripHtml(html)
    assert(out.contains("real main content"))
    assert(!out.contains("home"))
    assert(!out.contains("about"))
    // non-HTML text passes through unchanged
    assert(Boilerplate.stripHtml("plain a < b text") == "plain a < b text")
  }

  test("TextStats: langId, quality bounds, hamming, jaccard, determinism") {
    assert(TextStats.langId("the cat and the dog of the house") == "en")
    assert(TextStats.langId("el perro y la casa de los gatos es") == "es")
    assert(TextStats.langId("zzz qqq") == "und")
    val q = TextStats.qualityScore("A reasonably long and clean English sentence for the scorer.")
    assert(q > 0.3 && q <= 1.0)
    assert(TextStats.hamming64(0L, -1L) == 64)
    assert(TextStats.ngramJaccard("a b c", "a b c", 2) == 1.0)
    assert(TextStats.ngramJaccard("a b c", "x y z", 2) == 0.0)
    val r = new java.util.Random(7)
    (1 to 200).foreach { _ =>
      val s = (1 to r.nextInt(20)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      assert(TextStats.hash64(s) == TextStats.hash64(s))
      val jq = TextStats.ngramJaccard(s, s.reverse, 2)
      assert(jq >= 0.0 && jq <= 1.0)
      val q2 = TextStats.qualityScore(s)
      assert(q2 >= 0.0 && q2 <= 1.0)
    }
  }

  test("Clean.stripLeadingPageNum: text_preprocessing3.py strip_numbers inputs (F5)") {
    // reference pattern r'^\.\d+(?:\.\d+)* ' (text_preprocessing3.py:6) plus
    // the repo's documented broader page/number variants
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      ".1 Ensure telnet is removed" -> "Ensure telnet is removed",
      ".5.2.18 Ensure SSH is configured" -> "Ensure SSH is configured",
      ".10.1.1.2 rule text" -> "rule text",
      "1.2.3 plain leading number" -> "plain leading number",
      "Page 12 something" -> "something",
      "page 3.1 lowercase page" -> "lowercase page",
      "no prefix here" -> "no prefix here",
      "middle .1.2 stays .1.2" -> "middle .1.2 stays .1.2",
      "" -> "")
    val got = cases.map(_._1).toDF("t")
      .select(graft.functions.Clean.stripLeadingPageNum(col("t")))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
  }

  test("Clean.normalizeText: controls dropped, punctuation canonicalized, whitespace collapsed") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      // curly quotes / dashes / NBSP / ellipsis canonicalized
      "‘a’ “b” – — c d…" -> "'a' \"b\" - - c d...",
      // C0 controls vanish (not replaced by space): SOH/BEL/NUL dropped, "ab" joins
      "a\u0001\u0007b\u0000c" -> "abc",
      // a control char between spaces must not survive as a separator:
      // drop-then-collapse yields ONE space
      "x \u0001 y" -> "x y",
      // space/tab runs -> one space; 3+ newlines -> blank line; \n\t kept
      "a\t\t b   c\n\n\n\nd\ne" -> "a b c\n\nd\ne",
      // two newlines stay; trim ends
      "  hi\n\nthere  " -> "hi\n\nthere",
      "" -> "")
    val got = cases.map(_._1).toDF("t")
      .select(graft.functions.Clean.normalizeText(col("t")))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got ${got.map(s => s.replace("\n", "\\n"))}")
  }

  test("FSM spans are within bounds with start<=end (property over fixtures)") {
    val turns = FixtureGen.turns(FixtureGen.Profile(numConvs = 40, monsterEvery = 13,
      monsterTurns = 60, invalidEvery = 7))
    val results = ConvParser.parseAll(turns)
    val byKey = turns.map(t => (t.conv_id, t.turn_idx) -> t.text).toMap
    results.foreach { tr =>
      val text = byKey((tr.conv_id, tr.turn_idx))
      tr.spans.foreach { sp =>
        assert(sp.start >= 0 && sp.end <= text.length && sp.start <= sp.end,
          s"span out of bounds: $sp in turn ${tr.conv_id}/${tr.turn_idx}")
      }
    }
    // determinism: parse twice → identical
    assert(results == ConvParser.parseAll(turns))
  }

  test("Json reader: decodes what the writer escapes; prefix reads stop or ask for more") {
    val nasty = "k\"x\\y\n\t\u0001/é"
    val doc = Json.obj("tag" -> Json.str(nasty), "n" -> "12", "neg" -> "-3",
      "ok" -> "true", "none" -> "null",
      "m" -> Json.obj("filestats" -> "5"), // a NESTED key never stops a prefix read
      "filestats" -> Json.arr(Seq(Json.obj("file" -> Json.str("0/a")))),
      "tail" -> Json.str("t"))
    val all = Json.parse(doc).asInstanceOf[Map[String, Any]]
    assert(all("tag") == nasty && all("n") == "12" && all("neg") == "-3")
    assert(all("ok") == true && all("none") == null)
    assert(all("m") == Map("filestats" -> "5"))
    assert(all("filestats") == Vector(Map("file" -> "0/a")))
    assert(Json.parse(" [ 1 , \"\\u0041\" ] ") == Vector("1", "A"))
    // every cut before the top-level key is a truncated prefix: None, never
    // a short answer; from the key on, the head is complete
    val keyEnd = doc.indexOf("\"filestats\":[") + "\"filestats\"".length
    val head = all -- Seq("filestats", "tail")
    (0 to doc.length).foreach { cut =>
      val got = Json.parsePrefix(doc.substring(0, cut), "filestats")
      assert(got == (if (cut < keyEnd) None else Some(head)), s"cut $cut")
    }
    assert(Json.parsePrefix(doc.substring(0, keyEnd + 2) + "{garbage", "filestats")
      .contains(head))
    for (bad <- Seq("[1,]", "{\"a\":1} x", "{\"a\" 1}", "\"\\q\"", "[1", "{\"a\":tru}"))
      intercept[IllegalArgumentException](Json.parse(bad))
  }
}

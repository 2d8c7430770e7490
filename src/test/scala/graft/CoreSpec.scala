package graft

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

class TextNormSpec extends AnyFunSuite {
  test("normalize: NFC + whitespace collapse + trim") {
    assert(TextNorm.normalize("  a\n b\t\tc  ") == "a b c")
    // NFC: combining diaeresis composed
    assert(TextNorm.normalize("ä") == "ä")
  }
  test("normalize: replacement table (chars.py:42-65)") {
    assert(TextNorm.normalize("“quote”") == "''quote''")
    assert(TextNorm.normalize("a–b—c") == "a-b-c")
    assert(TextNorm.normalize("ﬁne ﬂow") == "fine flow")
    assert(TextNorm.normalize("x_y#z~w") == "x~y~z~w")
    assert(TextNorm.normalize("a…b") == "a...b")
  }
  test("normalize fast path is byte-identical to the reference slow path (fuzz)") {
    // the fast identity check must NEVER diverge from the regex chain —
    // the e2e byte-identity invariant rides on it
    val rng = new java.util.Random(20260817L)
    val alphabet = "abc XYZ 09!?.,;:-_~#\"`'“”‘’„…–—ﬁﬂµ′\n\täßü  <>&"
    (0 until 5000).foreach { _ =>
      val len = rng.nextInt(40)
      val s = (0 until len).map(_ => alphabet.charAt(rng.nextInt(alphabet.length))).mkString
      assert(TextNorm.normalize(s) == TextNorm.normalizeSlow(s),
        s"fast/slow divergence on ${s.map(_.toInt).mkString("[", ",", "]")}")
    }
    // plus every block text of real generator pages (incl. the garble range)
    Seq(0L, 1L, 17L, 333L, 501L, 650L).foreach { i =>
      val html = new String(graft.fixtures.PagesGen.page(i).row.html, "UTF-8")
      graft.core.HtmlBlocks.segment(graft.fixtures.PagesGen.page(i).row.html)
        .foreach { b =>
          assert(TextNorm.normalize(b.text) == TextNorm.normalizeSlow(b.text))
        }
      assert(TextNorm.normalize(html) == TextNorm.normalizeSlow(html))
    }
  }

  test("project: comparison alphabets (common.py:56-78)") {
    assert(TextNorm.project("a b1c!", "letdig") == "ab1c")
    assert(TextNorm.project("a b1c!", "letters") == "abc")
    assert(TextNorm.project("a b1c!", "digits") == "1")
    assert(TextNorm.project("a b1c!", "lnc") == "ABC")
    // the dot-row regex consumes surrounding spaces, like the reference's
    // re.sub(r'( *[.] *){4,}','....',s)
    assert(TextNorm.project("a . . . . b") == "a....b")
  }
  test("tokenize: digits/punct stripped, lowered (aio.py:454-460)") {
    assert(TextNorm.tokenize("Hello, World! 123 foo-bar") ==
      Seq("hello", "world", "foo", "bar"))
  }
  test("detectLanguage: stopword overlap argmax (aio.py:462-477)") {
    val sw = Seq(
      "de" -> Set("und", "der", "die"),
      "en" -> Set("the", "and", "of"))
    assert(TextNorm.detectLanguage("the cat and the dog", sw) == "en")
    assert(TextNorm.detectLanguage("und der Hund", sw) == "de")
    // tie -> first language (python max insertion-order semantics)
    assert(TextNorm.detectLanguage("xyz", sw) == "de")
  }
}

class HtmlBlocksSpec extends AnyFunSuite {
  test("segmentLayoutOpt: None for non-conforming pages, strict variant names the counts") {
    // real HTML mixes positioned and flow content: 1 positioned div but 2
    // text blocks — the row-local tolerant path must skip, not throw
    val mixed = """<html><body><div style="position:absolute;left:0px;top:0px;width:100px;height:20px">boxed</div><p>flow paragraph</p></body></html>"""
    assert(HtmlBlocks.segmentLayoutOpt(mixed).isEmpty)
    val e = intercept[IllegalArgumentException](HtmlBlocks.segmentLayout(mixed))
    assert(e.getMessage.contains("1 positioned divs") &&
      e.getMessage.contains("2 text blocks"), e.getMessage)
    // a conforming page parses identically through both variants
    val ok = graft.fixtures.LayoutGen.html(3L)
    assert(HtmlBlocks.segmentLayoutOpt(ok).contains(HtmlBlocks.segmentLayout(ok)))
  }

  test("segments paragraphs with byte spans") {
    val html = "<html><body><p>Hello world</p><p>Second block</p></body></html>"
    val blocks = HtmlBlocks.segmentString(html)
    val text = blocks.filter(_.kind == "text")
    assert(text.map(_.text) == Seq("Hello world", "Second block"))
    // span lineage: slicing the original bytes reproduces the raw text
    val bytes = html.getBytes("UTF-8")
    val b0 = text.head
    assert(new String(bytes, b0.span.start.toInt,
      (b0.span.stop - b0.span.start).toInt, "UTF-8") == "Hello world")
  }
  test("byte spans are exact for multi-byte chars") {
    val html = "<p>Säugethiere один</p>"
    val bytes = html.getBytes("UTF-8")
    val b = HtmlBlocks.segmentString(html).head
    assert(new String(bytes, b.span.start.toInt,
      (b.span.stop - b.span.start).toInt, "UTF-8") == "Säugethiere один")
  }
  test("nav/header/footer are boilerplate (ignore mask role)") {
    val html = "<body><nav><a href='/'>Home</a> About</nav><p>Main content here</p>" +
      "<footer>legal stuff</footer></body>"
    val blocks = HtmlBlocks.segmentString(html)
    assert(HtmlBlocks.extractText(blocks) == "Main content here")
    assert(blocks.exists(b => b.kind == "boilerplate" && b.text.contains("Home")))
  }
  test("high link density is boilerplate (Boilerpipe heuristic)") {
    val html = "<p><a href='/a'>one</a> <a href='/b'>two</a> x</p><p>real text without links at all</p>"
    val blocks = HtmlBlocks.segmentString(html)
    assert(blocks.head.kind == "boilerplate")
    assert(blocks(1).kind == "text")
  }
  test("script/style content skipped, entities decoded") {
    val html = "<style>p{color:red}</style><p>a &amp; b &lt;c&gt; &#65;</p>"
    assert(HtmlBlocks.extractText(HtmlBlocksSpecHelper.seg(html)) == "a & b <c> A")
  }
  test("hr and img become sep/img blocks") {
    val html = "<p>a1</p><hr/><img src='x.png'/><p>b2</p>"
    val kinds = HtmlBlocks.segmentString(html).map(_.kind)
    assert(kinds == Seq("text", "sep", "img", "text"))
  }
  test("latin-1 fallback for non-utf8 bytes") {
    val bytes = "<p>café</p>".getBytes("ISO-8859-1")
    val blocks = HtmlBlocks.segment(bytes)
    assert(blocks.head.text == "café")
  }
}
object HtmlBlocksSpecHelper {
  def seg(html: String): Seq[Block] = HtmlBlocks.segmentString(html)
}

class MultiAlignSpec extends AnyFunSuite {
  import MultiAlign._

  test("alignLineVersions: identical versions align word-for-word") {
    val was = alignLineVersions(Seq("the quick fox", "the quick fox"))
    assert(was.map(_.master) == Seq("the", "quick", "fox"))
    assert(was.map(_.alignments.head.mkString(" ")) == Seq("the", "quick", "fox"))
  }
  test("alignLineVersions: substitution stays in its word") {
    val was = alignLineVersions(Seq("the quick fox", "the quiek fox"))
    assert(was(1).alignments.head == Seq("quiek"))
  }
  test("alignLineVersions: merged word in support maps to both masters") {
    val was = alignLineVersions(Seq("ab cd", "abcd"))
    // support "abcd" split across master words: chars project to both ranges
    assert(was.map(_.master) == Seq("ab", "cd"))
    val all = was.flatMap(_.alignments.head)
    assert(all.mkString == "abcd")
  }
  test("findWord: 3-tier matching (align/cli.py:174-245)") {
    val regions = IndexedSeq("the", "quick", "brown", "fox")
    // tier 1: containment
    assert(findWord(Seq("qui"), regions)._1.contains((1, 2)))
    // tier 2: levenshtein d<=3
    assert(findWord(Seq("quak"), regions)._1.contains((1, 2)))
    // no match
    assert(findWord(Seq("zzzzzzzzzz"), regions)._1.isEmpty)
  }
  test("alignLine: TextEquiv index/provenance rules (align/cli.py:82-172)") {
    val versions = Seq(
      LineVersion("x-master", "b0001", "the quick fox", 0.9),
      LineVersion("x-alt", "b0001", "the quiek fox", 0.8))
    val al = alignLine(versions, Span(0, 13))
    assert(al.variants.map(_.index) == Seq(1, 2))
    assert(al.variants.head.source == "ocrd-cis-line-alignment-master-ocr:x-master/b0001")
    assert(al.variants(1).source == "ocrd-cis-line-alignment:x-alt/b0001")
    assert(al.variants(1).text == "the quiek fox")
    assert(al.words.length == 3)
    val w1 = al.words(1)
    assert(w1.variants.head.text == "quick")
    assert(w1.variants.head.source.startsWith("ocrd-cis-word-alignment-master-ocr:x-master/"))
    assert(w1.variants(1).text == "quiek")
    assert(w1.variants(1).source.startsWith("ocrd-cis-word-alignment:x-alt/"))
  }
}

class CorrectorSpec extends AnyFunSuite {
  import graft.fixtures.PagesGen

  val lexEn: Lexicon = PagesGen.lexiconFor("en")
  val lexDe: Lexicon = PagesGen.lexiconFor("de")

  test("profiler: exact lexicon hit is distance-0 candidate") {
    val cs = Profiler.candidates("stream", lexEn)
    assert(cs.head.suggestion == "stream")
    assert(cs.head.distance == 0)
  }
  test("profiler: OCR confusion candidate (e->c)") {
    val cs = Profiler.candidates("strcam", lexEn)
    assert(cs.exists(c => c.suggestion == "stream" && c.distance == 1))
    val c = cs.find(_.suggestion == "stream").get
    assert(c.ocrPatterns.nonEmpty || c.dict == "dict_modern")
  }
  test("profiler: respects maxCandidates=10 (config.json:9)") {
    assert(Profiler.candidates("te", lexEn).length <= 10)
  }
  test("profiler: canonical historical-pattern shape (run_training_test.bash:36-45)") {
    // 'säugetiere' modern; historical spelling 'säugethiere' via t->th at
    // position 5 — the canonical profiler fixture
    val cs = Profiler.candidates("säugethiere", lexDe)
    val hist = cs.find(_.dict == "dict_modern_hypothetic_errors")
    assert(hist.isDefined)
    assert(hist.get.suggestion == "säugethiere")
    assert(hist.get.modern == "säugetiere")
    assert(hist.get.histPatterns == Seq(Pattern("t", "th", 5)))
  }
  test("corrector: fixes OCR-corrupted token, keeps lexicon tokens") {
    val (fixed, changed) = Corrector.correctToken("strcam", Seq("stream"), 0.9, 0.5, lexEn)
    assert(changed && fixed == "stream")
    val (kept, ch2) = Corrector.correctToken("stream", Seq("stream"), 0.9, 0.5, lexEn)
    assert(!ch2 && kept == "stream")
  }
  test("corrector: preserves case and punctuation shell") {
    val (fixed, changed) = Corrector.correctToken("Strcam,", Seq("stream"), 0.9, 0.0, lexEn)
    assert(changed && fixed == "Stream,")
  }
  test("corrector: empty candidate set leaves token unchanged (stub {} fixture)") {
    val emptyLex = Lexicon(Map.empty, Nil, Nil, Map.empty)
    val (kept, changed) = Corrector.correctToken("anything", Nil, 0.9, 0.0, emptyLex)
    assert(!changed && kept == "anything")
  }
}

class ConfusionProfileSpec extends AnyFunSuite {
  test("pairsOf extracts (truth, misread) patterns with context=0") {
    assert(ConfusionProfile.pairsOf("wafser", "wasser") == Seq(("s", "f")))
    assert(ConfusionProfile.pairsOf("strcam", "stream") == Seq(("e", "c")))
    assert(ConfusionProfile.pairsOf("frorn", "from") == Seq(("m", "rn")))
    // truth's trailing n captures the corrupted rn's second n: the run
    // splits into (m, r) + a bare insertion, which is filtered as unusable
    assert(ConfusionProfile.pairsOf("colurnn", "column") == Seq(("m", "r")))
    // line-start capitalized corruption survives the edist boundary quirk
    assert(ConfusionProfile.pairsOf("Rneer und", "Meer und") == Seq(("M", "Rn")))
    assert(ConfusionProfile.pairsOf("same", "same") == Nil)
  }
  test("space-crossing and long pairs are filtered") {
    assert(ConfusionProfile.usable("m", "rn"))
    assert(!ConfusionProfile.usable("a b", "ab"))
    assert(!ConfusionProfile.usable("", "x"))
    assert(!ConfusionProfile.usable("abcd", "x"))
  }
}

class LearnedProfileSpec extends AnyFunSuite {
  test("learnProfile recovers the injected corruption channel from aligned data") {
    val spark = SparkTestSession.spark
    val profile = graft.pipeline.Pipeline.learnProfile(spark, 200)
    // the three injected patterns must dominate (PagesGen.ocrPatterns is
    // the generator's channel; the engine must rediscover it, not read it)
    assert(profile.patterns.take(3).toSet == Set(("e", "c"), ("s", "f"), ("m", "rn")),
      s"learned profile: $profile")
    // channel probabilities are relative confusion frequencies
    assert(profile.probs.values.sum > 0.999 && profile.probs.values.sum < 1.001)
    assert(profile.probs(("e", "c")) > profile.probs(("m", "rn")))
    // deterministic: count desc, then lexicographic
    assert(profile == graft.pipeline.Pipeline.learnProfile(spark, 200))
  }
}

class EdgePageSpec extends AnyFunSuite {
  test("pages with no text blocks flow through segment/align/correct") {
    import graft.core._
    val empty = PageRow("https://edge.example/p0",
      new java.sql.Timestamp(0L), "<html><body></body></html>".getBytes("UTF-8"), "", "en")
    val noText = PageRow("https://edge.example/p1",
      new java.sql.Timestamp(0L),
      "<html><body><nav><a href=\"/\">only boilerplate</a></nav><img src=\"x\"/></body></html>"
        .getBytes("UTF-8"), "", "en")
    Seq(empty, noText).foreach { p =>
      val sp = graft.pipeline.Pipeline.segmentPage(p)
      assert(!sp.blocks.exists(_.kind == "text"))
      val ap = graft.pipeline.Pipeline.alignPage(sp)
      assert(ap.lines.isEmpty)
      val cp = graft.pipeline.Pipeline.correctPage(ap,
        graft.fixtures.PagesGen.lexiconFor("de"), graft.fixtures.PagesGen.lexiconFor("en"))
      assert(cp.text == "" && cp.nCorrections == 0)
    }
  }

  test("malformed bytes fall back to Latin-1 and still segment") {
    val bad = Array[Byte]('<'.toByte, 'p'.toByte, '>'.toByte, 0xff.toByte, 0xfe.toByte,
      'a'.toByte, 'b'.toByte, '<'.toByte, '/'.toByte, 'p'.toByte, '>'.toByte)
    val blocks = graft.core.HtmlBlocks.segment(bad)
    assert(blocks.nonEmpty) // no exception; Latin-1 decode path
  }
}

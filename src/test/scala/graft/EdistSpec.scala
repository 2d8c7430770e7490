package graft

import graft.core.Edist
import org.scalatest.funsuite.AnyFunSuite

/** Parity tests for the edist port against vectors generated by executing
  * the reference implementation's exact semantics
  * (/root/reference/ocrd_cis/ocropy/ocrolib/edist.py) — see
  * src/test/resources/edist_vectors.json.
  */
class EdistSpec extends AnyFunSuite {

  /** minimal JSON reader for the fixed vector shape (no deps). */
  private def vectors: Seq[(String, String, Int, Seq[(String, String)])] = {
    val raw = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/edist_vectors.json"), "UTF-8").mkString
    // shape: [{"a":..,"b":..,"cost":..,"conf":[[x,y],..]},..]
    val objs = raw.trim.stripPrefix("[").stripSuffix("]").split("\\},\\s*\\{").toSeq
    objs.map { o0 =>
      val o = o0.stripPrefix("{").stripSuffix("}")
      def str(key: String): String = {
        val m = ("\"" + key + "\": \"((?:[^\"\\\\]|\\\\.)*)\"").r.findFirstMatchIn(o)
        m.map(g => unescape(g.group(1))).getOrElse("")
      }
      def num(key: String): Int = {
        val m = ("\"" + key + "\": (-?\\d+)").r.findFirstMatchIn(o)
        m.map(_.group(1).toInt).getOrElse(-1)
      }
      val conf: Seq[(String, String)] = {
        val m = "\"conf\": \\[(.*?)\\](?=, \"|$)".r.findFirstMatchIn(o)
        val body = m.map(_.group(1)).getOrElse("")
        if (body.trim.isEmpty) Nil
        else
          "\\[\"((?:[^\"\\\\]|\\\\.)*)\", \"((?:[^\"\\\\]|\\\\.)*)\"\\]".r
            .findAllMatchIn(body)
            .map(g => (unescape(g.group(1)), unescape(g.group(2))))
            .toSeq
      }
      (str("a"), str("b"), num("cost"), conf)
    }
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  test("levenshtein matches reference vectors") {
    assert(vectors.nonEmpty)
    vectors.foreach { case (a, b, cost, _) =>
      assert(Edist.levenshtein(a, b) == cost, s"lev($a, $b)")
    }
  }

  test("xlevenshtein cost + confusions match reference vectors") {
    vectors.foreach { case (a, b, cost, conf) =>
      val r = Edist.xlevenshtein(a, b)
      assert(r.cost == cost, s"cost($a, $b)")
      assert(r.confusions == conf, s"confusions($a, $b): got ${r.confusions} want $conf")
    }
  }

  test("canonical fixture: Säugethiere vs Säugetiere") {
    val r = Edist.xlevenshtein("Säugethiere", "Säugetiere")
    assert(r.cost == 1)
    assert(r.confusions == Seq(("thi", "t_i")))
  }

  // seeded pseudo-random property loops (scalacheck bridge unavailable in
  // the offline cache — deterministic samples give the same guarantees here)
  private def randWords(n: Int, seed: Long): Seq[String] = {
    val rng = new java.util.Random(seed)
    val alpha = "abcdet h"
    Seq.fill(n) {
      val len = rng.nextInt(13)
      (0 until len).map(_ => alpha.charAt(rng.nextInt(alpha.length))).mkString
    }
  }

  test("property: levenshtein metric axioms") {
    val ws = randWords(300, 11L)
    ws.grouped(3).foreach {
      case Seq(a, b, c) =>
        assert(Edist.levenshtein(a, b) == Edist.levenshtein(b, a))
        assert((Edist.levenshtein(a, b) == 0) == (a == b))
        assert(Edist.levenshtein(a, c) <= Edist.levenshtein(a, b) + Edist.levenshtein(b, c))
      case _ =>
    }
  }

  test("property: banded levenshtein == full rolling DP") {
    val rng = new java.util.Random(14L)
    def rs(alpha: String, len: Int): String =
      (0 until len).map(_ => alpha.charAt(rng.nextInt(alpha.length))).mkString
    (1 to 2000).foreach { x =>
      // short words, then lines long enough for several band doublings
      val len = if (x % 10 == 0) 100 + rng.nextInt(400) else rng.nextInt(20)
      val a = rs("abcdet h", len)
      val b = if (rng.nextBoolean()) rs("abcdet h", rng.nextInt(len + 1) + len / 2)
        else a.map(c => if (rng.nextInt(12) == 0) 'e' else c)
      assert(Edist.levenshtein(a, b) == FullDp.levenshtein(a, b), s"lev($a, $b)")
      val k = rng.nextInt(40)
      assert(Edist.atMost(a, b, k) == math.min(FullDp.levenshtein(a, b), k + 1),
        s"atMost($a, $b, $k)")
    }
  }

  test("property: xlevenshtein cost equals levenshtein") {
    randWords(200, 12L).grouped(2).foreach {
      case Seq(a, b) if b.nonEmpty =>
        assert(Edist.xlevenshtein(a, b).cost == Edist.levenshtein(a, b))
      case _ =>
    }
  }

  test("property: aligned strings have equal length, b suffix-preserved") {
    randWords(200, 13L).grouped(2).foreach {
      case Seq(a, b) if b.nonEmpty && a != b =>
        val r = Edist.xlevenshtein(a, b)
        assert(r.aAligned.length == r.bAligned.length)
        // gap-stripped bAligned is a contiguous substring of b (the
        // reference's DP-boundary quirk can drop chars at BOTH ends,
        // edist.py:48-67 — interior chars are never dropped)
        val stripped = r.bAligned.replace("_", "")
        assert(b.contains(stripped))
      case _ =>
    }
  }
}

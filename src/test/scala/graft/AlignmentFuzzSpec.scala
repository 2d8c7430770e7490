package graft

import graft.core._
import graft.fixtures.PagesGen
import graft.pipeline.Pipeline
import org.scalatest.funsuite.AnyFunSuite

/** Seeded fuzz of the alignment layer: the banded char alignment must give
  * exactly the buckets (and so the word alignments) of the full-table DP
  * it replaced ([[FullDp.charAlign]]), on random, PagesGen-style, long and
  * adversarial line pairs; and a giant block must align in bounded memory.
  */
class AlignmentFuzzSpec extends AnyFunSuite {
  test("alignLine + correctPage never throw on random line soup (seeded fuzz)") {
    import graft.core.MultiAlign.LineVersion
    val rng = new java.util.Random(20260816L)
    val alphabet = "abc defgh ij _~#\"ü ß…–ﬁ 0123!?.,;<>&"
    def randLine(): String = {
      val len = rng.nextInt(60)
      (0 until len).map(_ => alphabet.charAt(rng.nextInt(alphabet.length))).mkString
    }
    val lexDe = PagesGen.lexiconFor("de"); val lexEn = PagesGen.lexiconFor("en")
    (1 to 400).foreach { i =>
      val master = TextNorm.normalize(randLine())
      if (master.nonEmpty) {
        val alt = TextNorm.normalize(randLine())
        val versions = Seq(
          LineVersion("x-master", f"b$i%04d", master, 0.9),
          LineVersion("x-alt", f"b$i%04d", alt, 0.8))
        val line = MultiAlign.alignLine(versions, Span(0, master.length.toLong))
        // invariants: master line variant first, word variants index from 1
        assert(line.variants.head.text == master)
        line.words.foreach(w => assert(w.variants.head.index == 1))
        // correction never throws and preserves token count
        val ap = AlignedPage(s"https://fuzz.example/p$i", "en", Seq(line))
        val cp = graft.pipeline.Pipeline.correctPage(ap, lexDe, lexEn)
        assert(cp.lines.head.text.split(" ", -1).length ==
          master.split(" ", -1).length)
      }
    }
  }

  /** alignLineVersions' word projection over the full-table buckets. */
  private def fullAlignLineVersions(versions: Seq[String]): Seq[MultiAlign.WordAlignment] = {
    val master = versions.head
    if (master.isEmpty) return Nil
    val supports = versions.tail.map { s =>
      if (s.isEmpty) Array.fill(master.length + 1)("") else FullDp.charAlign(s, master)
    }
    var pos = 0
    master.split(" ", -1).toSeq.flatMap { w =>
      val start = pos
      pos += w.length + 1
      if (w.isEmpty) None
      else Some(MultiAlign.WordAlignment(w, supports.map { b =>
        b.slice(start, start + w.length).mkString.split("\\s+").toSeq.filter(_.nonEmpty)
      }))
    }
  }

  /** Banded == full table, bucket by bucket and word alignment by word
    * alignment, in both directions.
    */
  private def assertSame(master: String, support: String): Unit = {
    Seq((master, support), (support, master)).foreach { case (m, s) =>
      val banded = MultiAlign.charAlign(s, m).map(_.toString).toSeq
      assert(banded == FullDp.charAlign(s, m).toSeq, s"charAlign(support=$s, master=$m)")
      assert(Edist.levenshtein(s, m) == FullDp.levenshtein(s, m), s"levenshtein($s, $m)")
      assert(MultiAlign.alignLineVersions(Seq(m, s)) == fullAlignLineVersions(Seq(m, s)),
        s"alignLineVersions($m, $s)")
    }
  }

  private def randString(rng: java.util.Random, alphabet: String, len: Int): String =
    (0 until len).map(_ => alphabet.charAt(rng.nextInt(alphabet.length))).mkString

  /** `s` with about `rate` of its chars substituted, inserted or deleted. */
  private def mutate(rng: java.util.Random, s: String, alphabet: String, rate: Double): String = {
    val sb = new StringBuilder
    s.foreach { c =>
      if (rng.nextDouble() >= rate) sb.append(c)
      else rng.nextInt(3) match {
        case 0 => sb.append(alphabet.charAt(rng.nextInt(alphabet.length)))
        case 1 => sb.append(c).append(alphabet.charAt(rng.nextInt(alphabet.length)))
        case _ => // deleted
      }
    }
    sb.toString
  }

  test("banded charAlign == full-table DP on random pairs") {
    val rng = new java.util.Random(7L)
    (1 to 3000).foreach { _ =>
      val alphabet = if (rng.nextBoolean()) "ab " else "abcdefg hij"
      val master = randString(rng, alphabet, rng.nextInt(40))
      val support =
        if (rng.nextBoolean()) randString(rng, alphabet, rng.nextInt(40))
        else mutate(rng, master, alphabet, 0.2)
      assertSame(master, support)
    }
  }

  test("banded charAlign == full-table DP on PagesGen-style mutated lines") {
    val rng = new java.util.Random(11L)
    val alt = Pipeline.extractors(1).transform
    (0L until 300L).foreach { i =>
      val page = PagesGen.page(i)
      (page.titlePair +: page.linePairs).foreach { case (truth, corrupted) =>
        assertSame(truth, corrupted)
        assertSame(corrupted, alt(corrupted))
        assertSame(truth, mutate(rng, corrupted, "aceimnrs ", 0.05))
      }
    }
  }

  test("banded charAlign == full-table DP on lines over 400 chars with ~3% edits") {
    val rng = new java.util.Random(13L)
    val words = PagesGen.lexiconFor("de").unigrams.keys.toIndexedSeq.sorted
    (1 to 40).foreach { _ =>
      val sb = new StringBuilder
      val len = 400 + rng.nextInt(1200)
      while (sb.length < len) sb.append(words(rng.nextInt(words.size))).append(' ')
      val master = sb.toString.trim
      assertSame(master, mutate(rng, master, "aceimnrs ", 0.03))
      assertSame(master, master.replace("rn", "m").replace("c", "e"))
    }
  }

  test("banded charAlign == full-table DP on adversarial pairs") {
    // prefix trimming would move the second b; suffix trimming must keep
    // the bucket order of the full traceback
    Seq(("ab", "abb"), ("b", "ab"), ("a", ""), ("", "a"), ("a", "b"), ("a", "a"),
      ("ab", "ba"), ("aaaa", "aa"), ("abcabc", "cba"), ("x", "yyyyyyyyyyyyyyyyyyyyyyyyyyyyyyyy"))
      .foreach { case (m, s) => assertSame(m, s) }
    // all-different strings of unequal length
    Seq((1, 50), (17, 33), (40, 300), (300, 299)).foreach { case (lm, ls) =>
      assertSame("a" * lm, "b" * ls)
      assertSame(("xy" * lm).take(lm), ("zw" * ls).take(ls))
    }
    // distances exactly k - 1, k and k + 1 for each doubling step. With
    // '#' edits (every '#' costs one edit, nothing else differs) the char
    // count bound is exact and the first band fits; with swaps of unequal
    // adjacent chars (two edits each, char counts unchanged) the band
    // starts at 16 and doubles.
    val rng = new java.util.Random(17L)
    def hashed(master: String, d: Int): String = {
      val sb = new StringBuilder(master)
      val positions = rng.ints(0, master.length).distinct().limit(d.toLong).toArray.sorted.reverse
      positions.zipWithIndex.foreach { case (p, x) =>
        if (x % 2 == 0) sb.setCharAt(p, '#') else sb.insert(p, '#')
      }
      sb.toString
    }
    def swapped(master: String, d: Int): String = {
      val sb = new StringBuilder(master)
      val slots = scala.util.Random.javaRandomToRandom(rng).shuffle(
        (0 until master.length / 8 - 1).map(_ * 8).filter(p => master(p) != master(p + 1)))
      slots.take(d / 2 + d % 2).zipWithIndex.foreach { case (p, x) =>
        if (x == 0 && d % 2 == 1) sb.setCharAt(p, '#')
        else { sb.setCharAt(p, master(p + 1)); sb.setCharAt(p + 1, master(p)) }
      }
      sb.toString
    }
    Seq(16, 32, 64, 128, 256).foreach { k =>
      Seq(k - 1, k, k + 1).foreach { d =>
        val master = randString(rng, "abcde", 12 * k)
        val support = hashed(master, d)
        assert(FullDp.levenshtein(support, master) == d)
        assertSame(master, support)
        val shuffled = Iterator.continually(swapped(master, d)).take(20)
          .find(s => FullDp.levenshtein(s, master) == d)
        assert(shuffled.isDefined, s"no swap pair at distance $d")
        assertSame(master, shuffled.get)
      }
    }
  }

  test("giant block: a 50k-char line with ~1% edits aligns in bounded memory") {
    // the full table would be 50k * 50k ints (~10 GB); the band is ~1k wide
    val rng = new java.util.Random(19L)
    val words = PagesGen.lexiconFor("en").unigrams.keys.toIndexedSeq.sorted
    val sb = new StringBuilder
    while (sb.length < 50000) sb.append(words(rng.nextInt(words.size))).append(' ')
    val master = sb.toString.trim
    val support = mutate(rng, master, "aceimnrs", 0.01)
    assert(master.length >= 50000)
    val buckets = MultiAlign.charAlign(support, master)
    assert(buckets.mkString == support) // every support char, in order
    val aligned = MultiAlign.alignLineVersions(Seq(master, support))
    assert(aligned.map(_.master) == master.split(" ").toSeq)
    val exact = aligned.count(wa => wa.alignments.head == Seq(wa.master))
    assert(exact > aligned.size * 9 / 10)
  }
}

package graft.core

import scala.collection.mutable.ArrayBuffer

/** Multi-sequence line/word alignment — the Spark-side re-expression of the
  * reference's alignment stage:
  *
  *  - the Java aligner's protocol (k versions of a line in, per-line
  *    `wordAlignments: [{master, alignments: [[tok…]…]}]` out) is specified
  *    at /root/reference/ocrd_cis/align/cli.py:282-293 (input shape) and
  *    :115-139 (consumption); we re-implement the alignment itself as a
  *    Needleman-Wunsch-style char alignment + word-boundary projection,
  *  - `alignLines` / `alignWords` / `findWord` port the TextEquiv
  *    index/provenance rules and the 3-tier fuzzy token matcher from
  *    align/cli.py:82-172 and :174-245 (containment -> Levenshtein d<=3 ->
  *    containment-within, with the stateful skip-ahead quirk of
  *    match_tokens_lambda:224-245).
  *
  * Everything is row-local (one line tuple at a time) — at cluster scale this
  * runs inside `Dataset.map` with no shuffle.
  */
object MultiAlign {

  /** Precompiled whitespace splitter (TextNorm's shared Pattern):
    * alignLineVersions splits once per (word, support extractor) — a
    * per-call Pattern.compile in the hottest loop without it.
    */
  private val WsPattern = TextNorm.WsPattern

  /** One word alignment: the master token and, per support extractor, the
    * list of its tokens aligned to that master token.
    */
  final case class WordAlignment(master: String, alignments: Seq[Seq[String]])

  /** Char-level global alignment of `support` against `master` with the same
    * move preference as the reference DP (add -> delete -> change strict
    * improvement, edist.py:36-45) but full-boundary traceback, used for word
    * projection. Returns, for each master char index, the support char
    * indices aligned to it plus insertions attached to the preceding master
    * position.
    */
  private[graft] def charAlign(support: String, master: String): Array[StringBuilder] = {
    // buckets(i) collects support chars aligned to master char i (0..m-1),
    // insertions included (leading ones go to bucket 0); buckets(m) stays
    // empty. Chars are appended in traceback order (reversed) into
    // lazily-created buckets and flipped once per touched bucket at the end.
    val buckets = new Array[StringBuilder](master.length + 1)
    def bucket(k: Int): StringBuilder = {
      if (buckets(k) == null) buckets(k) = new StringBuilder(1)
      buckets(k)
    }
    // a common suffix is exact to trim: with equal last chars
    // D(i, j) == D(i-1, j-1), so the traceback always takes the diagonal
    // there. This also aligns a support line byte-equal to the master (the
    // common case: extractor transforms only rewrite lines containing their
    // confusion patterns) without a table. A common prefix is not exact to
    // trim: for master "ab", support "abb" the full DP puts the second b in
    // bucket 1, a trimmed one in bucket 0.
    var m = master.length; var n = support.length
    while (m > 0 && n > 0 && master.charAt(m - 1) == support.charAt(n - 1)) {
      bucket(m - 1).append(support.charAt(n - 1))
      m -= 1; n -= 1
    }
    val move = Edist.moves(support, n, master, m)
    // traceback, preferring diagonal, then up (gap in support), then left
    var ii = m; var jj = n
    while (ii > 0 || jj > 0) {
      val mv = if (ii == 0) 2 else if (jj == 0) 1 else move(ii, jj)
      if (mv == 0) {
        bucket(ii - 1).append(support.charAt(jj - 1))
        ii -= 1; jj -= 1
      } else if (mv == 1) {
        ii -= 1 // deletion: master char with no support char
      } else {
        // insertion: support char attached to current master position
        val slot = if (ii == 0) 0 else ii - 1
        bucket(slot).append(support.charAt(jj - 1))
        jj -= 1
      }
    }
    var k = 0
    while (k <= master.length) {
      if (buckets(k) == null) buckets(k) = new StringBuilder
      else if (buckets(k).length > 1) buckets(k) = buckets(k).reverseInPlace()
      k += 1
    }
    buckets
  }

  /** Align k line versions (versions(0) = master). Produces the aligner
    * protocol output: one WordAlignment per master word, where the support
    * tokens are the support substring aligned (by char projection) to the
    * master word's char range, split on whitespace.
    */
  def alignLineVersions(versions: Seq[String]): Seq[WordAlignment] = {
    val master = versions.head
    if (master.isEmpty) return Nil
    // master word char ranges [start, stop)
    val ranges = ArrayBuffer[(Int, Int, String)]()
    var pos = 0
    master.split(" ", -1).foreach { w =>
      if (w.nonEmpty) ranges += ((pos, pos + w.length, w))
      pos += w.length + 1
    }
    val supports = versions.tail.map { s =>
      if (s.isEmpty) Array.fill(master.length + 1)(new StringBuilder)
      else charAlign(s, master)
    }
    ranges.toSeq.map { case (ws, we, w) =>
      val aligned = supports.map { buckets =>
        val sb = new StringBuilder
        var i = ws
        while (i < we) { sb.append(buckets(i)); i += 1 }
        WsPattern.split(sb).toSeq.filter(_.nonEmpty)
      }
      WordAlignment(w, aligned)
    }
  }

  // ---- find_word: the 3-tier fuzzy matcher (align/cli.py:174-245) ----

  /** match_tokens_lambda port (align/cli.py:224-245), including the
    * i-increment skip quirk after a first-token match. Returns one past the
    * last matched index, or 0 for no match.
    */
  private def matchTokensLambda(
      tokens: Seq[String],
      regions: IndexedSeq[String],
      i0: Int,
      f: (String, String) => Boolean
  ): Int = {
    var i = i0
    var j = 0
    while (j < tokens.length) {
      val token = tokens(j)
      if (j + i >= regions.length) return 0
      if (regions(i + j).isEmpty) return 0
      if (!f(token, regions(i + j))) {
        if (j == 0) return 0
        i += 1 // skip this region and retry the next token (reference quirk)
      }
      j += 1
    }
    i + tokens.length
  }

  private def matchTokens(tokens: Seq[String], regions: IndexedSeq[String], i: Int): Int =
    matchTokensLambda(tokens, regions, i, (a, b) => b.contains(a))

  private def matchTokensLev(tokens: Seq[String], regions: IndexedSeq[String], i: Int): Int =
    matchTokensLambda(tokens, regions, i, (a, b) => {
      val d = Edist.levenshtein(a, b)
      d <= 1 || d <= 3 // align/cli.py:211-217 (k = 3)
    })

  /** find_word (align/cli.py:174-201): locate the token sequence in the word
    * stream; 3 passes; on success returns (matched slice [i, n), rest from i
    * — the rest deliberately re-includes the match start, a reference
    * behavior later stages rely on). Indices into `regions`.
    */
  def findWord(tokens: Seq[String], regions: IndexedSeq[String]): (Option[(Int, Int)], Int) = {
    var i = 0
    while (i < regions.length) {
      val n = matchTokens(tokens, regions, i)
      if (n != 0) return (Some((i, n)), i)
      i += 1
    }
    i = 0
    while (i < regions.length) {
      val n = matchTokensLev(tokens, regions, i)
      if (n != 0) return (Some((i, n)), i)
      i += 1
    }
    i = 0
    while (i < regions.length) {
      val n = matchTokens(tokens, regions, i) // containment-within pass
      if (n != 0) return (Some((i, n)), i)
      i += 1
    }
    (None, 0)
  }

  // ---- alignment application: TextEquiv index/provenance rules ----

  /** Input: one line as seen by each extractor. `source` is the extractor's
    * file-group tag, `lineId` the master line id, `conf` the line
    * confidence ((min+max)/2 fold over word confidences,
    * recognize.py:262-265). `wordConfs`/`wordCharConfs` carry the
    * per-word and per-glyph confidence lineage aligned with the version's
    * own whitespace tokens (empty = legacy constant-conf mode).
    */
  final case class LineVersion(
      source: String, lineId: String, text: String, conf: Double,
      wordConfs: IndexedSeq[Double] = IndexedSeq.empty,
      wordCharConfs: IndexedSeq[Seq[Double]] = IndexedSeq.empty) {
    def wordConfAt(i: Int): Double =
      if (i >= 0 && i < wordConfs.length) wordConfs(i) else conf
    def charConfsAt(i: Int): Seq[Double] =
      if (i >= 0 && i < wordCharConfs.length) wordCharConfs(i) else Nil
  }

  /** (min+max)/2 — the reference's confidence fold (recognize.py:262-265). */
  def confFold(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else (xs.min + xs.max) / 2

  /** Build the aligned line: line-level variants per align_lines
    * (align/cli.py:82-109) and word-level variants per align_words /
    * align_word_regions (:111-172) with findWord consumption semantics.
    */
  def alignLine(versions: Seq[LineVersion], span: Span): AlignedLine = {
    val master = versions.head
    val lineVariants = versions.zipWithIndex.map { case (v, i) =>
      val ddt = v.source + "/" + v.lineId
      if (i == 0)
        TextEquiv(i + 1, v.text, v.conf, "ocrd-cis-line-alignment-master-ocr:" + ddt)
      else
        TextEquiv(i + 1, v.text, v.conf, "ocrd-cis-line-alignment:" + ddt)
    }

    val wordAligns = alignLineVersions(versions.map(_.text))
    // word streams; findWord consumes a prefix of each. Offsets track each
    // stream's drop count so matched words map back to their original
    // token index for the per-word confidence lineage.
    var mwords: IndexedSeq[String] = WsPattern.split(master.text).toIndexedSeq.filter(_.nonEmpty)
    var mOff = 0
    val owords = Array.tabulate(versions.length - 1) { i =>
      WsPattern.split(versions(i + 1).text).toIndexedSeq.filter(_.nonEmpty)
    }
    val oOff = new Array[Int](versions.length - 1)
    val outWords = ArrayBuffer[AlignedWord]()
    var gaveUp = false
    wordAligns.foreach { wa =>
      if (!gaveUp) {
        val (mMatch, _) = findWord(Seq(wa.master), mwords)
        mMatch match {
          case Some((mi, mn)) if mn - mi == 1 =>
            mwords = mwords.drop(mi) // rest = regions[i:]
            mOff += mi
            val variants = ArrayBuffer[TextEquiv]()
            val masterWord = mwords.take(mn - mi)
            variants += TextEquiv(
              1,
              masterWord.mkString(" "),
              master.wordConfAt(mOff),
              "ocrd-cis-word-alignment-master-ocr:" + master.source + "/" + wa.master
            )
            var ok = true
            wa.alignments.zipWithIndex.foreach { case (other, i) =>
              if (ok) {
                if (other.isEmpty) {
                  // empty word alignment (align/cli.py:145-153)
                  variants += TextEquiv(
                    i + 2,
                    "",
                    0.0,
                    "ocrd-cis-empty-word-alignment:" + versions(i + 1).source
                  )
                } else {
                  val (oMatch, _) = findWord(other, owords(i))
                  oMatch match {
                    case Some((oi, on)) =>
                      val matched = owords(i).slice(oi, on)
                      // conf fold over the matched words (recognize.py fold)
                      val mc = (oi until on).map(k => versions(i + 1).wordConfAt(oOff(i) + k))
                      owords(i) = owords(i).drop(oi)
                      oOff(i) += oi
                      variants += TextEquiv(
                        i + 2,
                        matched.mkString(" "),
                        confFold(mc),
                        "ocrd-cis-word-alignment:" + versions(i + 1).source + "/" + matched.mkString(",")
                      )
                    case None =>
                      ok = false; gaveUp = true // "cannot find; giving up" (align/cli.py:126-128)
                  }
                }
              }
            }
            if (ok) outWords += AlignedWord(variants.toSeq, master.charConfsAt(mOff))
          case _ =>
            gaveUp = true // align/cli.py:119-122
        }
      }
    }
    AlignedLine(master.lineId, span, lineVariants, outWords.toSeq)
  }
}

package graft.core

import scala.collection.mutable.ArrayBuffer

/** Edit-distance kernels — exact semantic port of
  * /root/reference/ocrd_cis/ocropy/ocrolib/edist.py.
  *
  * `xlevenshtein`'s tie-breaking (the strict `<` update order
  * add -> delete -> change, edist.py:36-45) determines gap placement and
  * therefore the confusion profile; the port preserves it bit-for-bit,
  * including the reference's boundary quirk where a path that reaches
  * row/column 0 early drops leading characters from the aligned strings
  * (sources[0,:] stays None, edist.py:27-54).
  *
  * These run row-local inside Dataset.map, and no line-length cap bounds
  * their input: a line is a whole DOM block. `levenshtein` and
  * `Lev.bounded` run the exact band-doubling DP [[band]] in O((n+m)*d) time
  * and O(min(n, m)) memory for distance d; MultiAlign's char alignment runs
  * the same DP with an O(m*d) byte table of moves. `xlevenshtein` keeps
  * the full O(n*m) table; it only runs on (short) training lines.
  */
object Edist {

  /** Precompiled gap splitter — String.split("~+") is not on the JDK
    * single-char fast path, so it compiled a Pattern per confusion call.
    */
  private val TildePattern = java.util.regex.Pattern.compile("~+")

  /** Levenshtein distance (edist.py:6-19). Equal strings short-circuit to
    * 0 — the common case in the hot paths that compare support
    * lines/tokens against a master that the extractor transform did not
    * touch.
    */
  def levenshtein(a: String, b: String): Int = atMost(a, b, Int.MaxValue)

  /** min(levenshtein(a, b), bound + 1): the distance when it is at most
    * `bound`, else bound + 1. A common prefix and suffix never change the
    * distance, so they are trimmed; the rest runs [[band]] from the band
    * [[startBand]] picks, doubling it until the distance fits (Ukkonen
    * 1985), or the band reaches `bound` or covers the whole table.
    */
  def atMost(a0: String, b0: String, bound: Int): Int = {
    if (bound < 0) return bound + 1
    if (a0 == b0) return 0
    // columns run over the shorter string: the two rows are O(min(n, m))
    val (a, b) = if (a0.length <= b0.length) (a0, b0) else (b0, a0)
    val la = a.length; val lb = b.length
    var p = 0
    while (p < la && a.charAt(p) == b.charAt(p)) p += 1
    var s = 0
    while (s < la - p && a.charAt(la - 1 - s) == b.charAt(lb - 1 - s)) s += 1
    val n = la - p - s; val m = lb - p - s
    if (m - n > bound) return bound + 1
    val kMax = math.min(bound, m)
    var k = math.min(kMax, startBand(a, p, n, b, p, m))
    var d = band(a, p, n, b, p, m, k, null)
    while (d > k && k < kMax) {
      k = math.min(kMax, 2 * k)
      d = band(a, p, n, b, p, m, k, null)
    }
    d
  }

  /** Band half-width to start the doubling from: a lower bound on the
    * distance of a[aOff, aOff+n) and b[bOff, bOff+m), and at least 16. Each
    * edit raises the count of at most one char (bucket) and lowers at most
    * one, so the distance is at least the larger of the two strings' excess
    * counts — exact for pure substitution and contraction rewrites such as
    * the support extractor's c -> e and rn -> m, so one band pass usually
    * suffices. Never below |m - n|.
    */
  private[graft] def startBand(a: String, aOff: Int, n: Int, b: String, bOff: Int, m: Int): Int = {
    if (math.max(n, m) <= 16) return 16
    val counts = new Array[Int](256)
    for (j <- 0 until n) counts(a.charAt(aOff + j) & 255) += 1
    for (j <- 0 until m) counts(b.charAt(bOff + j) & 255) -= 1
    math.max(16, math.max(counts.filter(_ > 0).sum, -counts.filter(_ < 0).sum))
  }

  /** The traceback moves of the DP of a[0, n) (columns j) against b[0, m)
    * (rows i), as [[band]] records them, for cells 1 <= i <= m, 1 <= j <= n
    * on an optimal path. The band doubles from [[startBand]] until
    * D(m, n) <= k: a traceback from (m, n) only visits cells with
    * D <= D(m, n), which all lie in the band, so the O(m*k) byte table
    * replaces the (m+1)*(n+1) one.
    */
  private[graft] def moves(a: String, n: Int, b: String, m: Int): (Int, Int) => Int = {
    val kMax = math.max(m, n)
    var k = math.min(kMax, startBand(a, 0, n, b, 0, m))
    var dirs = new Array[Byte](m * (math.min(2 * k, n) + 1))
    while (band(a, 0, n, b, 0, m, k, dirs) > k) {
      k = math.min(kMax, 2 * k)
      dirs = new Array[Byte](m * (math.min(2 * k, n) + 1))
    }
    val table = dirs; val kk = k; val w = math.min(2 * k, n) + 1
    (i, j) => table((i - 1) * w + j - math.max(0, i - kk))
  }

  /** Banded Levenshtein DP of a[aOff, aOff+n) (columns j) against
    * b[bOff, bOff+m) (rows i) over the cells |i - j| <= k; requires
    * k >= |m - n|. Returns D(m, n) when it is at most k, else k + 1.
    *
    * Exact: every cell on an optimal path to (i, j) has D <= D(i, j) and
    * |i - j| <= D, so a cell with D <= k gets its true value from in-band
    * neighbours alone; a cell with D > k gets a value > k. Out-of-band
    * cells read as +inf through one sentinel slot on each side of the row
    * band, so no row reads slots another row left behind.
    *
    * With `dirs` non-null it also records, per in-band cell of rows 1..m,
    * which move the traceback takes there: 0 = diagonal, 1 = up (gap in
    * a), 2 = left (gap in b), preferring them in that order. Row i stores
    * column j at (i-1)*w + j - max(0, i-k), with w = min(2k, n) + 1.
    */
  private[graft] def band(a: String, aOff: Int, n: Int, b: String, bOff: Int, m: Int,
      k: Int, dirs: Array[Byte]): Int = {
    val inf = Int.MaxValue / 2
    val w = math.min(2 * k, n) + 1
    var prev = new Array[Int](n + 2)
    var cur = new Array[Int](n + 2)
    var hi = math.min(n, k)
    var j = 0
    while (j <= hi) { prev(j) = j; j += 1 }
    prev(hi + 1) = inf
    var i = 1
    while (i <= m) {
      val lo = math.max(0, i - k)
      hi = math.min(n, i + k)
      var rowMin = inf
      if (lo == 0) { cur(0) = i; rowMin = i; j = 1 }
      else { cur(lo - 1) = inf; j = lo }
      val bc = b.charAt(bOff + i - 1)
      val base = (i - 1) * w - lo
      while (j <= hi) {
        val diag = prev(j - 1) + (if (a.charAt(aOff + j - 1) == bc) 0 else 1)
        val up = prev(j) + 1
        val left = cur(j - 1) + 1
        val v = math.min(diag, math.min(up, left))
        cur(j) = v
        if (v < rowMin) rowMin = v
        if (dirs != null) dirs(base + j) = if (v == diag) 0 else if (v == up) 1 else 2
        j += 1
      }
      cur(hi + 1) = inf
      if (rowMin > k) return k + 1 // every path to (m, n) crosses this row
      val t = prev; prev = cur; cur = t
      i += 1
    }
    math.min(prev(n), k + 1)
  }

  /** Result of xlevenshtein: edit cost + confusion pairs (got, want). */
  final case class XLev(cost: Int, confusions: Seq[(String, String)], aAligned: String, bAligned: String)

  /** xlevenshtein(a, b, context) — edist.py:21-83.
    * `b` is the ground-truth/master string and must be non-empty.
    * Returns cost, the gap-padded aligned strings (`_` gaps) and the
    * confusion pairs split on `~`-masked common context.
    */
  def xlevenshtein(a: String, b: String, context: Int = 1): XLev = {
    val n = a.length; val m = b.length
    require(m > 0, "xlevenshtein requires non-empty b (ground truth)")
    if (a == b) return XLev(0, Nil, a, b)

    // sources(i)(j) = packed predecessor (pi * (n+2) + pj), -1 = None
    val W = n + 2
    val sources = Array.fill((m + 1) * (n + 1))(-1)
    val dists = Array.fill(2, n + 1)(99999)
    // dists row 0 = 0..n
    var j = 0
    while (j <= n) { dists(0)(j) = j; j += 1 }
    var cur = 0 // index of row i in dists ring
    var i = 1
    while (i <= m) {
      val previous = dists(cur); cur ^= 1
      val current = dists(cur)
      java.util.Arrays.fill(current, 99999)
      current(0) = i
      var jj = 1
      while (jj <= n) {
        var best = current(jj)
        var src = -1
        if (previous(jj) + 1 < best) { src = (i - 1) * W + jj; best = previous(jj) + 1 }
        if (current(jj - 1) + 1 < best) { src = i * W + (jj - 1); best = current(jj - 1) + 1 }
        val delta = if (a.charAt(jj - 1) != b.charAt(i - 1)) 1 else 0
        if (previous(jj - 1) + delta < best) { src = (i - 1) * W + (jj - 1); best = previous(jj - 1) + delta }
        current(jj) = best
        sources(i * (n + 1) + jj) = src
        jj += 1
      }
      i += 1
    }
    val cost = dists(cur)(n)

    // reconstruct path (edist.py:48-67), incl. the (n+2, m+2) sentinel
    val path = ArrayBuffer[(Int, Int)]((n + 2, m + 2))
    var l = sources(m * (n + 1) + n)
    while (l >= 0) {
      val pi = l / W; val pj = l % W
      path += ((pi, pj))
      l = sources(pi * (n + 1) + pj)
    }
    val al = new StringBuilder; val bl = new StringBuilder
    var k = 0
    while (k < path.length - 1) {
      val (ii, jj) = path(k)
      val (i0, j0) = path(k + 1)
      var u = '_'; var v = '_'
      if (jj != j0 && j0 < n) u = a.charAt(j0)
      if (ii != i0 && i0 < m) v = b.charAt(i0)
      al.append(u); bl.append(v)
      k += 1
    }
    val aAln = al.reverse.toString
    val bAln = bl.reverse.toString

    XLev(cost, confusionsOf(aAln, bAln, context), aAln, bAln)
  }

  /** Split two aligned strings into confusion pairs on `~`-masked common
    * context (edist.py:69-83). The `same` mask is eroded with a centered
    * minimum filter of width 1+2*context (scipy minimum_filter, reflect
    * boundary == clamp for this radius).
    */
  def confusionsOf(aAln0: String, bAln0: String, context: Int): Seq[(String, String)] = {
    require(aAln0.length == bAln0.length)
    val pad = " " * context
    val al = pad + aAln0 + pad
    val bl = pad + bAln0 + pad
    val len = al.length
    val same = Array.tabulate(len)(idx => if (al.charAt(idx) == bl.charAt(idx)) 1 else 0)
    val eroded = new Array[Int](len)
    var idx = 0
    while (idx < len) {
      var mn = 1
      var w = idx - context
      while (w <= idx + context) {
        val c = if (w < 0) -w - 1 else if (w >= len) 2 * len - w - 1 else w // scipy 'reflect'
        val cc = math.max(0, math.min(len - 1, c))
        if (same(cc) < mn) mn = same(cc)
        w += 1
      }
      eroded(idx) = mn
      idx += 1
    }
    val als = new StringBuilder; val bls = new StringBuilder
    idx = 0
    while (idx < len) {
      als.append(if (eroded(idx) == 0) al.charAt(idx) else '~')
      bls.append(if (eroded(idx) == 0) bl.charAt(idx) else '~')
      idx += 1
    }
    val ags = TildePattern.split(als, -1)
    val bgs = TildePattern.split(bls, -1)
    ags.zip(bgs).filter { case (x, y) => x.nonEmpty || y.nonEmpty }.toSeq
  }
}

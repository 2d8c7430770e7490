package graft

/** Test-local full-table oracles for the banded edit-distance kernels:
  * the plain O(n*m) DPs the engine ran before banding, kept independent of
  * `Edist.band` so the distance and alignment tests do not compare a kernel
  * with itself.
  */
object FullDp {

  /** Levenshtein distance by a full rolling DP (edist.py:6-19). */
  def levenshtein(a: String, b: String): Int = {
    val n = a.length; val m = b.length
    var previous = Array.tabulate(n + 1)(identity)
    var current = new Array[Int](n + 1)
    var i = 1
    while (i <= m) {
      current(0) = i
      var j = 1
      while (j <= n) {
        val change = previous(j - 1) + (if (a.charAt(j - 1) != b.charAt(i - 1)) 1 else 0)
        current(j) = math.min(previous(j) + 1, math.min(current(j - 1) + 1, change))
        j += 1
      }
      val t = previous; previous = current; current = t
      i += 1
    }
    previous(n)
  }

  /** MultiAlign.charAlign as a full (m+1)*(n+1) table with the same
    * traceback preference (diagonal, then up, then left).
    */
  def charAlign(support: String, master: String): Array[String] = {
    val n = support.length; val m = master.length
    val w = n + 1
    val dp = new Array[Int]((m + 1) * w)
    var j = 0
    while (j <= n) { dp(j) = j; j += 1 }
    var i = 1
    while (i <= m) {
      val row = i * w; val prev = row - w
      dp(row) = i
      var jj = 1
      while (jj <= n) {
        val delta = if (support.charAt(jj - 1) != master.charAt(i - 1)) 1 else 0
        dp(row + jj) = math.min(dp(prev + jj) + 1,
          math.min(dp(row + jj - 1) + 1, dp(prev + jj - 1) + delta))
        jj += 1
      }
      i += 1
    }
    val buckets = Array.fill(m + 1)(new StringBuilder)
    var ii = m; var jj = n
    while (ii > 0 || jj > 0) {
      val delta = if (ii > 0 && jj > 0 && support.charAt(jj - 1) != master.charAt(ii - 1)) 1 else 0
      if (ii > 0 && jj > 0 && dp(ii * w + jj) == dp((ii - 1) * w + jj - 1) + delta) {
        buckets(ii - 1).append(support.charAt(jj - 1))
        ii -= 1; jj -= 1
      } else if (ii > 0 && dp(ii * w + jj) == dp((ii - 1) * w + jj) + 1) {
        ii -= 1
      } else {
        buckets(if (ii == 0) 0 else ii - 1).append(support.charAt(jj - 1))
        jj -= 1
      }
    }
    buckets.map(_.reverse.toString)
  }
}

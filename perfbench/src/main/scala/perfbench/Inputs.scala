package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.core.PageRow
import graft.fixtures.PagesGen
import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded input generators. Every row is a pure function of (index, seed),
  * so the same seed gives the same tables.
  */
object Inputs {

  private def rng(seed: Long, salt: Long, i: Long) =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + salt * 1000003L + i)

  private def words(lang: String): IndexedSeq[String] =
    (if (lang == "de") PagesGen.lexiconDe else PagesGen.lexiconEn).map(_._1).toIndexedSeq

  // ---- extract_longtail ----

  /** Pages of the long-tail workload. */
  val LongTailPages = 1600
  /** Every TailEvery-th page carries one extra long paragraph. */
  val TailEvery = 20
  val TailMinChars = 400
  /** Cap on a tail paragraph. The aligner's DP table is quadratic in the
    * block length; a 50k-char block does not fit the heap today, and that
    * robustness case is not what this workload measures.
    */
  val TailMaxChars = 4000
  private val TailAlpha = 1.1

  /** The k-th tail paragraph's length, a Pareto(TailMinChars, TailAlpha)
    * quantile capped at TailMaxChars. Lengths come from a fixed quantile
    * grid (the seed only decides which page gets which length and the
    * words), so the total alignment work is nearly the same for every
    * seed.
    */
  private def tailChars(k: Int, nTail: Int): Int = {
    val u = (k + 0.5) / nTail
    math.min(TailMaxChars, (TailMinChars / math.pow(1 - u, 1 / TailAlpha)).toInt)
  }

  /** A PagesGen page; every TailEvery-th page (in a seeded order) gets a
    * long paragraph of lexicon words with PagesGen's OCR corruptions,
    * inserted into the same page frame.
    */
  def longTailPage(i: Long, seed: Long): PageRow = {
    val base = PagesGen.page(i, seed).row
    tailRank(i, seed).fold(base) { k =>
      val r = rng(seed, 1, i)
      val lex = PagesGen.lexiconFor(base.lang)
      val ws = words(base.lang)
      val target = tailChars(k, LongTailPages / TailEvery)
      val sb = new StringBuilder
      while (sb.length < target) {
        val w = ws(r.nextInt(ws.length))
        val out = if (r.nextDouble() < 0.15) PagesGen.corrupt(w, r, lex).getOrElse(w) else w
        if (sb.nonEmpty) sb.append(' ')
        sb.append(out)
      }
      val para = sb.toString.capitalize
      val html = new String(base.html, UTF_8)
        .replace("<img src=", s"<p>$para</p>\n<img src=")
      base.copy(html = html.getBytes(UTF_8), text = base.text + " " + para)
    }
  }

  /** The tail rank of page `i`, if it carries a tail paragraph: a seeded
    * permutation of page slots, in which tail rank k goes to the page whose
    * shuffled position is k * TailEvery.
    */
  private def tailRank(i: Long, seed: Long): Option[Int] = {
    val pos = Math.floorMod(i * 7919L + seed * 104729L, LongTailPages.toLong)
    if (pos % TailEvery == 0) Some((pos / TailEvery).toInt) else None
  }

  /** The long-tail pages in `files` partitions, so that written out they
    * make `files` parquet files. Tail pages go to files round robin by tail
    * rank, the other pages by index, so every seed puts the same tail
    * lengths, and so nearly the same alignment work, in each file. A table
    * of at most defaultParallelism small files is read as one task per
    * file, so the seed does not decide which read task gets the longest
    * blocks.
    */
  def longTail(spark: SparkSession, seed: Long, files: Int): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(0L, files.toLong, 1L, files).flatMap { f =>
      (0L until LongTailPages).filter(i => tailFile(i, seed, files) == f).map(i => longTailPage(i, seed))
    }
  }

  def tailFile(i: Long, seed: Long, files: Int): Long = tailRank(i, seed).fold(i)(_.toLong) % files

  // ---- run_dedup ----

  val DedupBasePages = 600
  val DedupCopies = 60
  val DedupNearCopies = 60

  /** Rows [0, DedupBasePages) are PagesGen pages; then copies (same html
    * under a new url) and near copies (one to three words of one
    * paragraph replaced) of seeded source pages.
    */
  def dedupPage(i: Long, seed: Long): PageRow = {
    if (i < DedupBasePages) PagesGen.page(i, seed).row
    else {
      val j = i - DedupBasePages
      val r = rng(seed, 2, j)
      val src = PagesGen.page(r.nextInt(DedupBasePages).toLong, seed).row
      if (j < DedupCopies)
        src.copy(url = s"https://mirror${j % 7}.example/copy$j")
      else {
        val html = new String(src.html, UTF_8)
        val paras = "<p>([^<]*)</p>".r.findAllMatchIn(html).toIndexedSeq
        val m = paras(r.nextInt(paras.length))
        val toks = m.group(1).split(" ")
        val ws = words(src.lang)
        (0 until 1 + r.nextInt(3)).foreach(_ => toks(r.nextInt(toks.length)) = ws(r.nextInt(ws.length)))
        val edited = html.substring(0, m.start(1)) + toks.mkString(" ") + html.substring(m.end(1))
        src.copy(url = s"https://near${j % 5}.example/near$j", html = edited.getBytes(UTF_8))
      }
    }
  }

  def dedup(spark: SparkSession, seed: Long, parts: Int): Dataset[PageRow] = {
    import spark.implicits._
    val n = (DedupBasePages + DedupCopies + DedupNearCopies).toLong
    spark.range(0L, n, 1L, parts).map(i => dedupPage(i, seed))
  }
}

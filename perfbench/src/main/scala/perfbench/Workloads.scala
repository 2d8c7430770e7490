package perfbench

import scala.collection.mutable

import graft.{Run, SparkEntry}
import graft.core.{CorrectedPage, PageRow, TextNorm}
import graft.operators.Dedup
import graft.pipeline.{GraftConfig, Pipeline}
import graft.plans.Checkpoint
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** What one run of the benchmark shares with its workload. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  /** Seconds of the last cold profile learn. */
  var profileS: Double = 0.0
  def path(p: String): String = s"$work/$p"
  def read(p: String): DataFrame = spark.read.parquet(p)
}

/** One closed-loop operation's outcome: work items completed and whether
  * its output passed every check.
  */
final case class Outcome(items: Long, ok: Boolean)

trait Workload {
  def name: String
  /** Generates and materialises the inputs (and, where the workload uses
    * it, learns the correction profile cold). `rep` numbers the repeated
    * set-ups of one run; the last one's inputs are used.
    */
  def setup(ctx: Ctx, rep: Int): Unit
  /** The untimed warm pass: fills the engine's caches and JIT and fixes
    * the expected digests (the recorded ones when this seed has them).
    */
  def warm(ctx: Ctx): Outcome
  def op(ctx: Ctx, k: Int): Outcome
  /** The operation as the traced run times it. */
  def tracedOp(ctx: Ctx, t: Tracer, k: Int): Outcome = op(ctx, k)
  /** Operations of the timed region for `--seconds`, or 0 to time
    * operations until `seconds` have passed.
    */
  def timedOps(seconds: Double): Int = 0
  /** (workload, key, digest) of the current seed, for recording. */
  def digests(ctx: Ctx): Seq[(String, String, String)]
  /** Per-layer probes, run after the untraced and traced operations. */
  def probe(ctx: Ctx, t: Tracer): Unit
  /** Operations of the untimed warm-up after [[warm]] (without it the
    * first timed operations are still measurably slower than later ones),
    * and of each side of the traced run's overhead comparison.
    */
  def passOps: Int = 6
}

object Workloads {
  val all: Seq[Workload] = Seq(ExtractLongtail, QueryBoard)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (${all.map(_.name).mkString(", ")})"))

  def delete(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  def bytesUnder(p: String): (Long, Long) = {
    val files = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(p), null, true).toArray(Array.empty[java.io.File])
    (files.map(_.length).sum, files.length.toLong)
  }

  /** Cold profile learn: drop the JVM-wide cache and learn it again. */
  def learnProfile(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    Pipeline.invalidateProfileCache()
    Pipeline.defaultProfile(spark)
    (System.nanoTime() - t0) / 1e9
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The production per-page kernel chain of
  * `Pipeline.run(pages, GraftConfig.default)`, called from the
  * benchmark so each call can be timed and its work counted. Its output is
  * the same table `Pipeline.run` returns.
  */
object Kernels {
  type Report = (Int, Int, KernelStats)

  def chain(spark: SparkSession, pages: Dataset[PageRow],
      acc: org.apache.spark.util.CollectionAccumulator[Report]): Dataset[CorrectedPage] = {
    import spark.implicits._
    val cfg = GraftConfig.default
    val profile = Pipeline.profileFor(spark, cfg)
    val bde = spark.sparkContext.broadcast(Pipeline.lexiconWith("de", profile))
    val ben = spark.sparkContext.broadcast(Pipeline.lexiconWith("en", profile))
    pages.mapPartitions { it =>
      var st = KernelStats()
      val tc = TaskContext.get()
      tc.addTaskCompletionListener[Unit] { ctx =>
        if (!ctx.isFailed() && !ctx.isInterrupted())
          acc.add((ctx.partitionId(), ctx.attemptNumber(), st))
      }
      it.map { p =>
        val t0 = System.nanoTime()
        val sp = Pipeline.segmentPage(p, cfg)
        val t1 = System.nanoTime()
        val ap = Pipeline.alignPage(sp, cfg.extractors)
        val t2 = System.nanoTime()
        val cp = Pipeline.correctPage(ap, bde.value, ben.value, cfg.runLE,
          Set.empty, cfg.maxCandidates)
        val t3 = System.nanoTime()
        // alignment work, derived from the inputs: a (line, support) pair
        // whose normalised texts differ fills a (m+1)(n+1) DP table
        var pairs, fast, cells, maxCells = 0L
        val text = sp.blocks.filter(_.kind == "text")
        text.foreach { b =>
          val norm = cfg.extractors.map(ex => TextNorm.normalize(ex.transform(b.text)))
          norm.tail.foreach { s =>
            pairs += 1
            if (s == norm.head) fast += 1
            else {
              val c = (norm.head.length + 1).toLong * (s.length + 1)
              cells += c
              maxCells = math.max(maxCells, c)
            }
          }
        }
        st = st + KernelStats(pages = 1, blocks = sp.blocks.size, textBlocks = text.size,
          segmentNs = t1 - t0, alignNs = t2 - t1, correctNs = t3 - t2,
          lines = ap.lines.size, pairs = pairs, fastPairs = fast,
          dpCells = cells, maxCells = maxCells,
          tokens = ap.lines.map(_.variants.head.text.split(" ", -1).length.toLong).sum,
          corrections = cp.nCorrections)
        cp
      }
    }
  }

  /** Runs the instrumented chain once over `pages` and records the core.*
    * metrics; returns the output digest.
    */
  def probe(ctx: Ctx, t: Tracer, pages: Dataset[PageRow]): String = {
    val acc = ctx.spark.sparkContext.collectionAccumulator[Report]("perfbench.kernels")
    val d = t.span("core.chain") { Digest.of(chain(ctx.spark, pages, acc).toDF()) }
    val s = KernelStats.fromAttempts(acc.value)
    t.set("core.segment.busy_s", s.segmentNs / 1e9)
    t.set("core.segment.pages", s.pages)
    t.set("core.segment.blocks", s.blocks)
    t.set("core.segment.text_ratio", s.textBlocks.toDouble / math.max(s.blocks, 1L))
    t.set("core.align.busy_s", s.alignNs / 1e9)
    t.set("core.align.lines", s.lines)
    t.set("core.align.dp_cells", s.dpCells)
    t.set("core.align.fastpath_ratio", s.fastPairs.toDouble / math.max(s.pairs, 1L))
    t.set("core.align.max_cells", s.maxCells)
    t.set("core.correct.busy_s", s.correctNs / 1e9)
    t.set("core.correct.tokens", s.tokens)
    t.set("core.correct.corrections", s.corrections)
    t.set("core.correct.correction_ratio", s.corrections.toDouble / math.max(s.tokens, 1L))
    d
  }

  /** sources.scan_s and the prefix-chain deltas of Pipeline.segment /
    * align / run, each the median of three noop-sink passes.
    */
  def prefixes(ctx: Ctx, t: Tracer, path: String): Unit = {
    import ctx.spark.implicits._
    def pages = ctx.read(path).as[PageRow]
    def med(name: String)(f: => Unit): Double = {
      val xs = (1 to 3).map { _ => t.span(name) { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 } }
      xs.sorted.apply(1)
    }
    val cfg = GraftConfig.default
    val scan = med("sources.scan")(Workloads.noop(ctx.read(path)))
    val seg = med("pipeline.segment")(Workloads.noop(Pipeline.segment(pages, cfg).toDF()))
    val aln = med("pipeline.align")(Workloads.noop(Pipeline.align(Pipeline.segment(pages, cfg), cfg.extractors).toDF()))
    val run = med("pipeline.run")(Workloads.noop(Pipeline.run(pages, cfg).toDF()))
    t.set("sources.scan_s", scan)
    t.set("pipeline.prefix_segment_s", seg - scan)
    t.set("pipeline.prefix_align_s", aln - seg)
    t.set("pipeline.prefix_correct_s", run - aln)
  }
}

object ExtractLongtail extends Workload {
  val name = "extract_longtail"
  private var pages: String = _
  private var expected: String = _

  private def run(ctx: Ctx): String = {
    import ctx.spark.implicits._
    Digest.of(Pipeline.run(ctx.read(pages).as[PageRow], GraftConfig.default).toDF())
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    if (pages != null) Workloads.delete(pages)
    pages = ctx.path(s"pages-$rep")
    Inputs.longTail(ctx.spark, ctx.seed, ctx.cpus).write.parquet(pages)
    ctx.profileS = Workloads.learnProfile(ctx.spark)
  }

  def warm(ctx: Ctx): Outcome = {
    val d = run(ctx)
    expected = Recorded.digest(name, ctx.seed.toString).getOrElse(d)
    Outcome(Inputs.LongTailPages, d == expected)
  }

  def op(ctx: Ctx, k: Int): Outcome = Outcome(Inputs.LongTailPages, run(ctx) == expected)

  /** The same pass through the instrumented kernel chain. */
  override def tracedOp(ctx: Ctx, t: Tracer, k: Int): Outcome = {
    import ctx.spark.implicits._
    Outcome(Inputs.LongTailPages, Kernels.probe(ctx, t, ctx.read(pages).as[PageRow]) == expected)
  }

  def digests(ctx: Ctx): Seq[(String, String, String)] = Seq(
    (name, ctx.seed.toString, run(ctx)), (RunProbe.Key, ctx.seed.toString, RunProbe.digest(ctx)))

  def probe(ctx: Ctx, t: Tracer): Unit = {
    Kernels.prefixes(ctx, t, pages)
    RunProbe.probe(ctx, t)
  }
}

/** One production Run (dedup + near-dup, fresh output root) over the
  * copy/near-copy input, run inside `extract_longtail`'s traced run for the
  * plans.checkpoint.* and operators.dedup.* layers. A workload timing such
  * Runs end to end does not fit the benchmark's time budget on a 4-core
  * host: each Run costs about 15 s there, mostly fixed per-job overhead.
  */
object RunProbe {
  /** Key of the recorded Run digests. */
  val Key = "run_dedup"
  /** Checkpoint buckets of the Run, fixed so the plan does not depend on
    * the host's core count.
    */
  val Buckets = 4
  val cfg: GraftConfig = GraftConfig.default.copy(dedup = true, nearDup = true)
  val Stages = Seq("segment", "align", "correct", "dedup", "neardup")

  /** One Run into a fresh output root. */
  private def execute(ctx: Ctx, pages: String, outRoot: String): Unit =
    Run.execute(ctx.spark, pages, outRoot, Buckets, cfg)

  /** The digest of a Run's output, or None when a lineage invariant or the
    * row count fails. The checks and the digest share one aggregation job.
    */
  private def checked(ctx: Ctx, outRoot: String): Option[String] = {
    val out = ctx.read(s"$outRoot/neardup/data").drop("p_bucket")
    val dupTarget = out.select(col("url").as("t_url"), col("text").as("t_text"),
      col("keep").as("t_keep"))
    val ndTarget = out.select(col("url").as("n_url"), col("nd_keep").as("n_nd_keep"))
    // a flagged row's dup_of is a kept row with the same text and a smaller
    // url; a kept row has no dup_of; every nd_dup_of target survives both
    // gates
    val bad =
      when(!col("keep") && (col("t_url").isNull || !col("t_keep") ||
        col("t_text") =!= col("text") || col("dup_of") >= col("url")), 1)
        .when(col("keep") && col("dup_of").isNotNull, 1)
        .when(col("nd_dup_of").isNotNull && (col("n_url").isNull || !col("n_nd_keep")), 1)
        .otherwise(0)
    val digest = Digest.aggs(col("h"))
    val r = out.withColumn("h", Digest.rowHash(out))
      .join(dupTarget, col("dup_of") === col("t_url"), "left")
      .join(ndTarget, col("nd_dup_of") === col("n_url"), "left")
      .agg(sum(bad), digest: _*)
      .first()
    val rows = Inputs.DedupBasePages + Inputs.DedupCopies + Inputs.DedupNearCopies
    if (r.getLong(0) == 0 && r.getLong(1) == rows) Some(Digest.render(r, 1)) else None
  }

  private def writeInput(ctx: Ctx): String = {
    val pages = ctx.path("dedup-pages")
    Inputs.dedup(ctx.spark, ctx.seed, ctx.cpus * 4).write.parquet(pages)
    pages
  }

  def digest(ctx: Ctx): String = {
    val pages = writeInput(ctx)
    execute(ctx, pages, ctx.path("record"))
    val d = checked(ctx, ctx.path("record"))
    Workloads.delete(ctx.path("record"))
    Workloads.delete(pages)
    d.getOrElse("invariant-failed")
  }

  def probe(ctx: Ctx, t: Tracer): Unit = {
    val spark = ctx.spark
    val pages = writeInput(ctx)
    val outRoot = ctx.path("run")
    val jobs0 = t.engine.settled(spark).jobs.get
    t.span("run.execute") { execute(ctx, pages, outRoot) }
    t.set("plans.checkpoint.jobs", t.engine.settled(spark).jobs.get - jobs0)
    val d = checked(ctx, outRoot)
    t.check(d.isDefined && Recorded.digest(Key, ctx.seed.toString).forall(d.contains))
    Stages.foreach { st =>
      val ledger = Checkpoint.readLedger(spark, outRoot, st)
      t.set(s"plans.checkpoint.${st}_s", ledger.map(_.wallMs).sum / 1e3)
      t.set(s"plans.checkpoint.${st}_rows", ledger.map(_.rows).sum)
    }
    val (bytes, files) = Workloads.bytesUnder(outRoot)
    t.set("plans.checkpoint.bytes_written", bytes)
    t.set("plans.checkpoint.files", files)
    t.set("plans.checkpoint.write_amp", bytes.toDouble / Workloads.bytesUnder(pages)._1)

    // the near-dup labels decomposed over the committed survivors
    val dedupOut = ctx.read(s"$outRoot/dedup/data")
    t.set("operators.dedup.exact_dups", dedupOut.filter(!col("keep")).count())
    val withId = dedupOut.filter(col("keep")).select(col("url"), col("text"))
      .withColumn("doc_id", xxhash64(col("url")))
    val pairs = t.span("operators.dedup.band_pairs") {
      Dedup.minhashBandPairs(Dedup.minhashSig(withId.select("doc_id", "text")),
        "doc_id", cfg.nearDupDfGuard).persist()
    }
    val nPairs = pairs.count()
    val t0 = System.nanoTime()
    val (comp, rounds) = t.span("operators.dedup.cc") {
      Dedup.connectedComponentsWithRounds(withId.select(col("doc_id").as("id")).distinct(),
        pairs.toDF("src", "dst"), edgesDistinct = true)
    }
    val labeled = comp.join(withId.select(col("doc_id").as("id"), col("url")), Seq("id")).persist()
    labeled.count()
    t.set("operators.dedup.cc_s", (System.nanoTime() - t0) / 1e9)
    val reps = labeled.groupBy("comp").agg(min("url").as("rep"))
    val labels = labeled.join(reps, Seq("comp")).filter(col("url") =!= col("rep")).count()
    // the decomposed pass must flag exactly the rows the Run flagged
    t.check(labels == ctx.read(s"$outRoot/neardup/data").filter(col("nd_dup_of").isNotNull).count())
    t.set("operators.dedup.band_pairs", nPairs)
    t.set("operators.dedup.cc_rounds", rounds)
    t.set("operators.dedup.labels", labels)
    t.set("operators.dedup.pair_yield", labels.toDouble / math.max(nPairs, 1L))
    labeled.unpersist(); pairs.unpersist()
    Workloads.delete(outRoot)
    Workloads.delete(pages)
  }
}

object QueryBoard extends Workload {
  val name = "query_board"
  /** Queries a ROADMAP item targets (CC outside Run, the band join, the
    * overlap window, top-k, the write path), then a cheap control.
    * The whole board, or every targeted query, does not fit the run's time
    * budget on a 4-core host: a board run of these six already takes about
    * a minute there (a cold pass, a warm pass and two timed passes).
    */
  val Targets = Seq("q50_dedup_clusters", "q18_minhash_lsh", "q23_overlap_join",
    "q11_rank_limit", "p10_checkpoint_ledger")
  val Controls = Seq("q13_token_count")
  private lazy val fns = SparkEntry.queries
  private var dir: String = _
  private val Queries = Targets ++ Controls
  private var seed = 0L
  private val expected = mutable.HashMap.empty[String, String]

  private def run(ctx: Ctx, q: String): String = Digest.of(fns(q)(ctx.spark, dir))

  /** The board reads the reference sf0.01 tables (`documents`, `events`,
    * `lineitem`, one parquet file each) kept in perfbench/data, the
    * tables graft.Verify checks against DuckDB. They are the same for
    * every seed, so the recorded result digests apply to all seeds.
    */
  def setup(ctx: Ctx, rep: Int): Unit = {
    dir = sys.props.getOrElse("perfbench.data", throw new IllegalStateException(
      "-Dperfbench.data=<table dir> is required (perfbench/run.py sets it)"))
    Seq("documents", "events", "lineitem").foreach { t =>
      require(new java.io.File(s"$dir/$t.parquet").isFile, s"missing table $dir/$t.parquet")
    }
    seed = ctx.seed
  }

  def warm(ctx: Ctx): Outcome = {
    // the warm pass also fills SparkEntry's per-table size and count caches
    val ok = order(0).map { q =>
      val t0 = System.nanoTime()
      val d = run(ctx, q)
      System.err.println(f"[perfbench] warm $q ${(System.nanoTime() - t0) / 1e9}%.3f s")
      expected(q) = Recorded.digest(name, q).getOrElse(d)
      d == expected(q)
    }
    Outcome(0, ok.forall(identity))
  }

  /** The query order of board pass `r`: a seeded permutation, another one
    * each pass, so that what a query's position does to its time (which
    * query ran just before it) averages out over a run's passes.
    */
  private def order(r: Int): IndexedSeq[String] =
    new scala.util.Random(seed * 1000003L + r).shuffle(Queries).toIndexedSeq

  def query(k: Int): String = order(k / Queries.size)(k % Queries.size)

  def op(ctx: Ctx, k: Int): Outcome = {
    val q = query(k)
    Outcome(1, run(ctx, q) == expected(q))
  }

  /** Seconds a board pass takes on a 4-core host. */
  val PassSeconds = 7.0

  /** Whole board passes, as many as fit `seconds` at [[PassSeconds]] each,
    * so every seed times the same multiset of queries and every run the
    * same number of passes. A time-based end would make the pass count,
    * and with it how warm the timed passes are, depend on the host's speed
    * at the moment.
    */
  override def timedOps(seconds: Double): Int =
    math.max(1, math.round(seconds / PassSeconds).toInt) * Queries.size

  override def passOps: Int = Queries.size

  def digests(ctx: Ctx): Seq[(String, String, String)] = Queries.sorted.map(q => (name, q, run(ctx, q)))

  def probe(ctx: Ctx, t: Tracer): Unit = {
    // per-query latency and shuffle bytes over one traced pass; one query
    // runs at a time, so the listener's shuffle delta belongs to it
    val ex0 = t.plans.exchanges.get
    val re0 = t.plans.reused.get
    order(0).foreach { q =>
      val w0 = t.engine.settled(ctx.spark).shuffleWrite.get
      val t0 = System.nanoTime()
      val d = t.span(s"SparkEntry.$q") { run(ctx, q) }
      val s = (System.nanoTime() - t0) / 1e9
      t.check(d == expected(q))
      if (Targets.contains(q)) {
        t.set(s"SparkEntry.${q}_s", s)
        t.set(s"SparkEntry.$q.shuffle_bytes", t.engine.settled(ctx.spark).shuffleWrite.get - w0)
      }
    }
    // exchanges of the executed plans, each query's digest aggregate
    // included (one exchange per query)
    t.set("SparkEntry.exchanges", t.plans.exchanges.get - ex0)
    t.set("SparkEntry.reused_exchanges", t.plans.reused.get - re0)
  }
}

package perfbench

import scala.collection.mutable

import graft.SparkBoot
import org.apache.spark.sql.SparkSession

/** The metrics the benchmark reports, in output order. BENCHMARK.json at
  * the repository root lists the same names and units.
  */
object Catalog {
  val endToEnd: Seq[(String, String)] = Seq(
    "items_per_s" -> "1/s", "wall_s" -> "s", "p90_s" -> "s",
    "cpu_s_per_op" -> "s", "live_heap_mb" -> "MB", "setup_s" -> "s")

  val perLayer: Seq[(String, String)] = Seq(
    "trace.overhead_s" -> "s",
    "sources.scan_s" -> "s",
    "core.segment.busy_s" -> "s", "core.segment.pages" -> "count",
    "core.segment.blocks" -> "count", "core.segment.text_ratio" -> "ratio",
    "core.align.busy_s" -> "s", "core.align.lines" -> "count",
    "core.align.dp_cells" -> "count", "core.align.fastpath_ratio" -> "ratio",
    "core.align.max_cells" -> "count",
    "core.correct.busy_s" -> "s", "core.correct.tokens" -> "count",
    "core.correct.corrections" -> "count", "core.correct.correction_ratio" -> "ratio",
    "pipeline.prefix_segment_s" -> "s", "pipeline.prefix_align_s" -> "s",
    "pipeline.prefix_correct_s" -> "s", "pipeline.profile_s" -> "s") ++
    RunProbe.Stages.flatMap(st => Seq(
      s"plans.checkpoint.${st}_s" -> "s", s"plans.checkpoint.${st}_rows" -> "count")) ++
    Seq("plans.checkpoint.bytes_written" -> "bytes", "plans.checkpoint.files" -> "count",
      "plans.checkpoint.jobs" -> "count", "plans.checkpoint.write_amp" -> "ratio",
      "operators.dedup.exact_dups" -> "count", "operators.dedup.band_pairs" -> "count",
      "operators.dedup.cc_rounds" -> "count", "operators.dedup.cc_s" -> "s",
      "operators.dedup.labels" -> "count", "operators.dedup.pair_yield" -> "ratio") ++
    QueryBoard.Targets.flatMap(q => Seq(
      s"SparkEntry.${q}_s" -> "s", s"SparkEntry.$q.shuffle_bytes" -> "bytes")) ++
    Seq("SparkEntry.exchanges" -> "count", "SparkEntry.reused_exchanges" -> "count",
      "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.busy_ratio" -> "ratio",
      "spark.task_skew" -> "ratio", "spark.task_retries" -> "count")
}

/** Recorded result digests (resource perfbench/digests.tsv): one
  * `workload<TAB>key<TAB>digest` line each, keyed by seed for the pipeline
  * workloads and by query for the board.
  */
object Recorded {
  private lazy val table: Map[(String, String), String] = {
    val in = getClass.getResourceAsStream("/perfbench/digests.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => (a(0), a(1)) -> a(2)).toMap
    finally in.close()
  }
  def digest(workload: String, key: String): Option[String] = table.get((workload, key))
}

/** Spans and per-layer values of a traced run, kept in memory and written
  * out once at the end together with the listener totals.
  */
final class Tracer(spark: SparkSession) {
  val engine = new EngineListener
  val plans = new PlanListener
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val spans = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  private var open: List[String] = List("run")
  private var t0 = 0L
  var checks = 0
  var failedChecks = 0

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plans)
    t0 = System.nanoTime()
  }

  def span[T](name: String)(f: => T): T = {
    val parent = open.head
    open = name :: open
    val s = System.nanoTime()
    try f finally {
      spans += ((name, parent, s - t0, System.nanoTime() - t0))
      open = open.tail
    }
  }

  def set(name: String, v: Double): Unit = values(name) = v
  def check(ok: Boolean): Unit = { checks += 1; if (!ok) failedChecks += 1 }

  /** Engine totals since [[attach]]. */
  def finish(): Unit = {
    val e = engine.settled(spark)
    val wall = (System.nanoTime() - t0) / 1e9
    val taskS = e.taskNs.get / 1e9
    set("spark.shuffle_write_bytes", e.shuffleWrite.get)
    set("spark.shuffle_read_bytes", e.shuffleRead.get)
    set("spark.spill_bytes", e.spill.get)
    set("spark.jobs", e.jobs.get)
    set("spark.tasks", e.tasks.get)
    set("spark.task_s", taskS)
    set("spark.gc_s", e.gcMs.get / 1e3)
    set("spark.busy_ratio", taskS / (wall * spark.sparkContext.defaultParallelism))
    set("spark.task_skew", e.skew)
    set("spark.task_retries", e.retries.get)
  }

  def value(name: String): Double = values.getOrElse(name, 0.0)

  def json: String = {
    val vs = values.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    val ss = spans.map { case (n, p, s, e) =>
      s"""{"name":"$n","parent":"$p","start_ns":$s,"end_ns":$e}""" }.mkString(",\n")
    s"""{"values":{$vs},\n"spans":[\n$ss]}\n"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

object Main {
  /** Input set-ups per run; setup_s counts their median. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      record: Option[(Long, Long)])

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), m.getOrElse("seed", "0").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1",
      m.get("record").map { r => val Array(a, b) = r.split("-"); (a.toLong, b.toLong) })
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  private def now = System.nanoTime()
  private val t00 = now
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(now - t00) / 1e9}%7.2f s  $msg")

  /** Operation walls, per-operation peak post-GC heaps and the process CPU
    * seconds of the operations (the forced collections between them left
    * out) of a loop.
    */
  final case class Loop(walls: Seq[Double], heapsMb: Seq[Double], items: Long, failed: Int,
      cpuS: Double)

  /** Closed loop, one client: the next operation starts when the previous
    * one has finished and been checked. The loop runs `ops` operations, or,
    * when `ops` is 0, until `seconds` have passed.
    */
  private def loop(w: Workload, seconds: Double, ops: Int = 0)(
      op: Int => Outcome): Loop = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val heaps = mutable.ArrayBuffer.empty[Double]
    var items = 0L
    var failed = 0
    var cpuS = 0.0
    val start = now
    var k = 0
    def more = if (ops > 0) k < ops else k == 0 || (now - start) / 1e9 < seconds
    while (more) {
      // each operation starts from a collected heap, so the post-GC peaks
      // below are its own live data, not old garbage awaiting a mixed cycle
      System.gc()
      HeapWatch.reset()
      val cpu0 = Cpu.seconds
      val t = now
      val o = try op(k) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] ${w.name} op $k failed: $e")
          e.printStackTrace()
          Outcome(0, ok = false)
      }
      walls += (now - t) / 1e9
      cpuS += Cpu.seconds - cpu0
      heaps += HeapWatch.peakMb
      if (o.ok) items += o.items else failed += 1
      k += 1
    }
    Loop(walls.toSeq, heaps.toSeq, items, failed, cpuS)
  }

  private def result(attempted: Int, failed: Int, metrics: Seq[(String, String, Double)]): String = {
    val ms = metrics.map { case (n, u, v) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val started = now
    val a = parse(args)
    val w = Workloads.byName(a.workload)
    val work = sys.props.getOrElse("perfbench.work", throw new IllegalStateException(
      "-Dperfbench.work=<scratch dir> is required (perfbench/run.py sets it)"))
    HeapWatch.install
    val spark = SparkBoot.session(Runtime.getRuntime.availableProcessors.toString)
    val sessionS = (now - started) / 1e9
    val ctx = new Ctx(spark, work, a.seed)
    val line =
      try {
        if (a.record.isDefined) record(ctx, w, a.record.get)
        else {
          log("session started")
          val setups = (1 to SetupReps).map { r =>
            val t = now
            w.setup(ctx, r)
            log(s"set-up $r done")
            (now - t) / 1e9
          }
          val t = now
          val warm = w.warm(ctx)
          val warm2 = loop(w, 0, w.passOps)(k => w.op(ctx, k))
          log("warm passes done")
          val setupS = sessionS + median(setups) + (now - t) / 1e9
          val warmFailed = (if (warm.ok) 0 else 1) + warm2.failed
          if (a.trace) traced(ctx, w, warmFailed)
          else timed(ctx, w, a, setupS, warmFailed)
        }
      } finally {
        log("measurement done")
        spark.stop()
      }
    log("session stopped")
    println(line)
  }

  private def timed(ctx: Ctx, w: Workload, a: Args, setupS: Double, warmFailed: Int): String = {
    val l = loop(w, a.seconds, w.timedOps(a.seconds))(k => w.op(ctx, k))
    val n = l.walls.size
    val values = Map(
      "items_per_s" -> l.items / l.walls.sum,
      "wall_s" -> median(l.walls),
      "p90_s" -> pct(l.walls, 0.9),
      "cpu_s_per_op" -> l.cpuS / n,
      "live_heap_mb" -> l.heapsMb.max,
      "setup_s" -> setupS)
    System.err.println(f"[perfbench] ${w.name} seed ${a.seed}: $n ops, walls " +
      l.walls.map(x => f"$x%.3f").mkString(" ") + ", heaps MB " + l.heapsMb.map(x => f"$x%.0f").mkString(" "))
    result(n + 1 + w.passOps, l.failed + warmFailed,
      Catalog.endToEnd.map { case (m, u) => (m, u, values(m)) })
  }

  private def traced(ctx: Ctx, w: Workload, warmFailed: Int): String = {
    val untraced = loop(w, 0, w.passOps)(k => w.op(ctx, k))
    val t = new Tracer(ctx.spark)
    t.attach()
    val traced = t.span("ops") { loop(w, 0, w.passOps)(k => t.span("op") { w.tracedOp(ctx, t, k) }) }
    t.span("probe") { w.probe(ctx, t) }
    t.set("trace.overhead_s", median(traced.walls) - median(untraced.walls))
    t.set("pipeline.profile_s", ctx.profileS)
    t.finish()
    sys.props.get("perfbench.trace").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p), t.json.getBytes("UTF-8"))
    }
    val attempted = 1 + w.passOps + untraced.walls.size + traced.walls.size + t.checks
    val failed = warmFailed + untraced.failed + traced.failed + t.failedChecks
    result(attempted, failed, Catalog.perLayer.map { case (m, u) => (m, u, t.value(m)) })
  }

  /** Prints `workload<TAB>key<TAB>digest` lines for a range of seeds, in
    * the format of the recorded-digest resource.
    */
  private def record(ctx0: Ctx, w: Workload, seeds: (Long, Long)): String =
    (seeds._1 to seeds._2).flatMap { s =>
      val ctx = new Ctx(ctx0.spark, ctx0.work, s)
      w.setup(ctx, 1)
      w.digests(ctx).map { case (wn, k, d) => s"$wn\t$k\t$d" }
    }.mkString("\n")
}

package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.sql.util.QueryExecutionListener

/** Order-independent digest of a result table: row count, XOR and sum of
  * per-row xxhash64. Each row of a pipeline output is one url, so this is
  * the per-url (url, output) digest. Floating-point columns are rendered
  * with 9 significant digits first, because the merge order of partial
  * aggregates (and so the last bits of a sum) may differ between runs.
  */
object Digest {
  /** The per-row hash over every column of `df`, in column order. */
  def rowHash(df: DataFrame): Column = xxhash64(df.schema.fields.toSeq.map { f =>
    val c = df.col(s"`${f.name}`")
    f.dataType match {
      case DoubleType | FloatType => format_string("%.9g", c)
      case _ => c
    }
  }: _*)

  /** Aggregates of a row-hash column `h`; [[render]] reads them back. */
  def aggs(h: Column): Seq[Column] = Seq(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
    coalesce(sum(pmod(h, lit(1000000007L))), lit(0L)))

  def render(r: Row, at: Int): String = f"${r.getLong(at)}:${r.getLong(at + 1)}%016x:${r.getLong(at + 2)}"

  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val a = aggs(col("h"))
    render(named.select(rowHash(named).as("h")).agg(a.head, a.tail: _*).first(), 0)
  }
}

/** Peak heap in use right after a collection, over every collection the
  * JVM reports (the collection usage of the heap memory pools), so the
  * figure is live data, not garbage awaiting collection.
  */
object HeapWatch {
  private val peak = new AtomicLong(0L)
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }

  lazy val install: Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = peak.set(0L)
  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}

object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds: Double = os.getProcessCpuTime / 1e9
}

/** Engine counters from a benchmark-registered SparkListener. Counters are
  * read only after the listener bus has drained ([[settled]]).
  */
final class EngineListener extends SparkListener {
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskNs = new AtomicLong
  val gcMs = new AtomicLong
  val retries = new AtomicLong
  private val durations = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  @volatile private var worstSkew = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskInfo.attemptNumber > 0) retries.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      gcMs.addAndGet(m.jvmGCTime)
      durations.synchronized {
        durations.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    val ds = durations.synchronized(durations.remove(key)).getOrElse(mutable.ArrayBuffer.empty)
    if (ds.size >= 2) {
      val sorted = ds.sorted
      val med = sorted((sorted.size - 1) / 2)
      // stages of near-zero tasks say nothing about skew
      if (sorted.last >= 50) worstSkew = math.max(worstSkew, sorted.last.toDouble / math.max(med, 1L))
    }
  }

  def settled(spark: SparkSession): this.type = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    this
  }

  def skew: Double = worstSkew
}

/** Exchanges in each executed plan, from a benchmark-registered
  * QueryExecutionListener; the final adaptive plan is walked, including
  * its query stages and subqueries.
  */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val exchanges = new AtomicLong
  val reused = new AtomicLong

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    collectWithSubqueries(qe.executedPlan) {
      case _: ReusedExchangeExec => reused.incrementAndGet()
      case _: Exchange => exchanges.incrementAndGet()
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Per-page kernel spans and counts, summed in tasks and reported through
  * an accumulator keyed by (partitionId, attempt): only successful
  * attempts report, and one attempt per partition is kept when the reports
  * are summed, so a retried task is not counted twice (the ledger pattern
  * of graft.plans.Checkpoint).
  */
final case class KernelStats(
    pages: Long = 0, blocks: Long = 0, textBlocks: Long = 0,
    segmentNs: Long = 0, alignNs: Long = 0, correctNs: Long = 0,
    lines: Long = 0, pairs: Long = 0, fastPairs: Long = 0,
    dpCells: Long = 0, maxCells: Long = 0,
    tokens: Long = 0, corrections: Long = 0) {
  def +(o: KernelStats): KernelStats = KernelStats(
    pages + o.pages, blocks + o.blocks, textBlocks + o.textBlocks,
    segmentNs + o.segmentNs, alignNs + o.alignNs, correctNs + o.correctNs,
    lines + o.lines, pairs + o.pairs, fastPairs + o.fastPairs,
    dpCells + o.dpCells, math.max(maxCells, o.maxCells),
    tokens + o.tokens, corrections + o.corrections)
}

object KernelStats {
  def fromAttempts(reports: java.util.List[(Int, Int, KernelStats)]): KernelStats = {
    val rs = reports.asScala.toSeq
    val last = rs.groupBy(_._1).map { case (pid, xs) => pid -> xs.map(_._2).max }
    rs.filter { case (pid, att, _) => last(pid) == att }
      .map(_._3).foldLeft(KernelStats())(_ + _)
  }
}

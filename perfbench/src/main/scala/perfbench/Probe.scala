package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Percentiles and digests shared by the workloads. */
object Stats {
  /** Nearest-rank percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  private val jobUuid = """part-\d+-([0-9a-f-]{36})""".r
  /** Median number of partition directories one write job touched:
    * the files of one job share its UUID. */
  def partitionsPerWriteJob(files: Seq[java.nio.file.Path]): Double =
    median(files.flatMap { p =>
      jobUuid.findFirstMatchIn(p.getFileName.toString).map(m => m.group(1) -> p.getParent)
    }.groupBy(_._1).values.map(_.map(_._2).distinct.size.toDouble).toSeq)

  /** Order-independent digest of a row multiset: the wrapping sum of a
    * 64-bit hash of each row's canonical text, plus the row count.
    * Doubles are rendered with 10 significant digits so the last-bit
    * drift of a re-ordered floating sum does not flip the digest. */
  def rowText(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else f"$d%.10g"
    case f: Float => f"${f.toDouble}%.7g"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(rowText).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => rowText(k) + ":" + rowText(x) }.sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(rowText).mkString("(", ",", ")")
    case other => other.toString
  }
  def hash64(s: String): Long = {
    val b = s.getBytes("UTF-8")
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    Otlp.splitmix(h)
  }
  final case class Digest(rows: Long, sum: Long) {
    def hex: String = f"$rows:$sum%016x"
  }
  def digest(texts: Iterator[String]): Digest = {
    var n = 0L; var s = 0L
    texts.foreach { t => n += 1; s += hash64(t) }
    Digest(n, s)
  }
  /** Digest of a DataFrame result with columns taken in name order. */
  def digestRows(rows: Array[org.apache.spark.sql.Row], columns: Seq[String]): Digest = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    digest(rows.iterator.map(r => order.map(i => rowText(r.get(i))).mkString("|")))
  }
}

/** Heap over a window: the heap used after each collection in it (GC
  * notifications, young and mixed collections included; the peak is the
  * largest sample), the live heap when it closes, and GC time and count. */
final class GcWatch {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  @volatile private var armed = false
  private val peak = new AtomicLong(0L)
  private val samples = new AtomicLong(0L)
  private var gc0 = (0L, 0L)

  private def totals: (Long, Long) =
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)

  beans.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (armed && n.getType ==
          com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
            .filter { case (pool, _) => heapPools(pool) }.map(_._2.getUsed).sum
          peak.accumulateAndGet(used, (a, b) => math.max(a, b))
          samples.incrementAndGet()
        }
      }, null, null)
    case _ =>
  }
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  /** Full GC so the window starts from the live set, then arm. */
  def start(): Unit = {
    System.gc(); gc0 = totals; peak.set(0L); samples.set(0L); armed = true
  }

  /** Close the window. A window in which nothing was collected is closed
    * with one full collection, so the peak has a sample. The live heap is
    * measured by full collections repeated until two in a row agree within
    * 1 % (at most six): Spark's ContextCleaner frees the blocks of released
    * plans only after a collection has found them unreachable. */
  def stop(): GcWatch.Window = {
    val (t, c) = totals
    if (samples.get == 0L) {
      System.gc()
      Thread.sleep(200) // notifications arrive on a JMX thread
    }
    armed = false
    val mem = ManagementFactory.getMemoryMXBean
    def full(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var prev = full()
    var live = prev
    var i = 0
    do {
      Thread.sleep(200)
      prev = live; live = full(); i += 1
    } while (i < 6 && math.abs(live - prev) > prev / 100)
    GcWatch.Window(peak.get / 1048576.0, live / 1048576.0,
      (t - gc0._1) / 1000.0, c - gc0._2)
  }
}

object GcWatch {
  final case class Window(peakMb: Double, liveMb: Double, gcS: Double, gcN: Long) {
    def layer: Map[String, Double] =
      Map("jvm.gc_s" -> gcS, "jvm.gc_count" -> gcN.toDouble, "jvm.heap_peak_mb" -> peakMb)
  }
}

/** Streaming progress events: the one listener the untraced run keeps,
  * because freshness needs each micro-batch's end time. */
final class ProgressLog extends StreamingQueryListener {
  final case class Batch(id: Long, startMs: Long, durations: Map[String, Long],
                         inputRows: Long) {
    def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }
  val batches = new ConcurrentLinkedQueue[Batch]()
  val inputRows = new AtomicLong(0L)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.add(Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        d, p.numInputRows))
      inputRows.addAndGet(p.numInputRows)
    }
  }
  def all: Seq[Batch] = batches.asScala.toSeq.sortBy(_.id)
}

/** Tracing for the traced run: spans around each call into a layer's
  * public function, plus Spark task/stage/plan counters attributed to
  * the scope that was open when the work ran. Everything stays in
  * memory until [[Tracer.write]]. With tracing off every call is a
  * plain pass-through. */
final class Tracer(val enabled: Boolean, runId: String) {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)
  final class Counters {
    var jobs = 0L; var stages = 0L; var inputBytes = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var exchanges = 0L
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  @volatile private var scope = "-"
  private val counters = mutable.HashMap.empty[String, Counters]
  private def cnt(s: String): Counters = counters.synchronized(counters.getOrElseUpdate(s, new Counters))
  private val stageScope = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Attribute the Spark work of `body` to `name`. */
  def scoped[T](spark: SparkSession, name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain(spark); scope = name
      try span(name)(body)
      finally { drain(spark); scope = "-" }
    }

  def counters(name: String): Counters = cnt(name)

  private def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val s = scope
        cnt(s).synchronized { cnt(s).jobs += 1 }
        e.stageIds.foreach(id => stageScope.put(id, s))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = stageScope.getOrDefault(e.stageInfo.stageId, scope)
        cnt(s).synchronized { cnt(s).stages += 1 }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val c = cnt(stageScope.getOrDefault(e.stageId, scope))
          c.synchronized {
            c.inputBytes += m.inputMetrics.bytesRead
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.diskBytesSpilled
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        val c = cnt(scope)
        val n = Tracer.exchanges(qe.executedPlan)
        c.synchronized { c.exchanges += n }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Spans (a layer's self time is its duration minus its children's),
    * then one line of Spark counters per scope. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map(s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""") ++
      counters.synchronized(counters.toSeq.sortBy(_._1)).map { case (n, c) =>
        s"""{"run":"$runId","scope":"$n","jobs":${c.jobs},"stages":${c.stages},""" +
        s""""input_bytes":${c.inputBytes},"shuffle_read_bytes":${c.shuffleRead},""" +
        s""""shuffle_write_bytes":${c.shuffleWrite},"spill_bytes":${c.spill},""" +
        s""""exchanges":${c.exchanges}}""" }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Exchange nodes in the final (post-AQE) plan, subqueries included. */
  def exchanges(plan: SparkPlan): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: Exchange => 1L + e.children.map(walk).sum
      case other =>
        other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(plan)
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call: `name` is `<layer>.<call>` (layer = graft package), `op`
  * the operation it belongs to, `parent` the enclosing span's id or -1. */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Span recorder. The untraced run uses [[Tracer.off]], whose `span` is a
  * plain call, so traced and untraced operations run the same code. */
class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** (op, name, value): counts a traced call reports besides its time */
  val counts = mutable.ArrayBuffer.empty[(Int, String, Double)]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        spans += Span(id, name, op, parent, t0, t1)
      }
    }

  def count(name: String, value: Double): Unit = if (enabled) counts += ((op, name, value))

  /** Self time (ns) per span name, per operation: a span's duration minus
    * the durations of its direct children. */
  def selfTimes: Map[Int, Map[String, Long]] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.ns)
    spans.groupBy(_.op).map { case (op, ss) =>
      op -> ss.groupBy(_.name).map { case (n, xs) => n -> xs.map(s => s.ns - childNs(s.id)).sum }
    }
  }

  def toJson: String =
    spans
      .map(s =>
        s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val off = new Tracer(false)
}

/** Per-operation Spark counters. `reset` before the measured calls,
  * `snapshot` after them (the snapshot drains the listener bus first). */
class PerfListener extends SparkListener {
  private var jobs = 0L
  private var tasks = 0L
  private var schedDelayMs = 0L
  private var shuffleWriteBytes = 0L
  private var fetchWaitMs = 0L
  private var spillBytes = 0L
  private var gcMs = 0L
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def reset(sc: SparkContext): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      jobs = 0; tasks = 0; schedDelayMs = 0; shuffleWriteBytes = 0; fetchWaitMs = 0
      spillBytes = 0; gcMs = 0; stageTaskMs.clear()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      val run = m.executorRunTime
      // the Spark UI's definition of scheduler delay
      schedDelayMs += math.max(0L, info.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += run
    }
  }

  def snapshot(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      // skew of the heaviest stage: max / median task run time
      val skew = if (stageTaskMs.isEmpty) 1.0 else {
        val heaviest = stageTaskMs.values.maxBy(_.sum)
        val med = Stats.median(heaviest.map(_.toDouble).toSeq)
        if (med > 0) heaviest.max / med else 1.0
      }
      Map(
        "spark.jobs_per_op" -> jobs.toDouble,
        "spark.tasks_per_op" -> tasks.toDouble,
        "spark.sched_delay_ms" -> schedDelayMs.toDouble,
        "spark.shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
        "spark.fetch_wait_ms" -> fetchWaitMs.toDouble,
        "spark.spill_mb" -> spillBytes / 1048576.0,
        "spark.gc_ms" -> gcMs.toDouble,
        "spark.task_skew" -> skew
      )
    }
  }
}

object PerfListener {
  private val registered = new java.util.WeakHashMap[SparkContext, PerfListener]()

  /** Idempotent per-context registration: a second call on the same
    * SparkContext returns the listener already on its bus. */
  def setup(sc: SparkContext): PerfListener = synchronized {
    Option(registered.get(sc)).getOrElse {
      val l = new PerfListener
      sc.addSparkListener(l)
      registered.put(sc, l)
      l
    }
  }
}

/** Peak JVM heap over a region, from the GC notifications: the heap
  * grows until a collection, so the largest "used before GC" (or the
  * current use, if larger) is the peak. Local mode runs the executors in
  * this JVM, so this covers them too. */
class HeapPeak {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L
  private def used: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.toArray.toSeq.collect {
    case e: NotificationEmitter => e
  }
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        var before = 0L
        info.getGcInfo.getMemoryUsageBeforeGc.values.forEach(u => before += u.getUsed)
        HeapPeak.this.synchronized { if (before > peak) peak = before }
      }
  }

  def start(): Unit = {
    peak = used
    emitters.foreach(_.addNotificationListener(listener, null, null))
  }

  def stopMb(): Double = {
    emitters.foreach(e => try e.removeNotificationListener(listener) catch { case _: Exception => () })
    synchronized { math.max(peak, used) / 1048576.0 }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

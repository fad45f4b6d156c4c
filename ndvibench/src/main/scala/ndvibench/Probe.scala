package ndvibench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._


import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Whole-process JVM counters at one instant. */
final case class JvmSnap(wallNs: Long, cpuNs: Long, allocBytes: Long,
                         gcMs: Long, jitMs: Long) {
  def -(o: JvmSnap): JvmSnap = JvmSnap(wallNs - o.wallNs, cpuNs - o.cpuNs,
    allocBytes - o.allocBytes, gcMs - o.gcMs, jitMs - o.jitMs)
  def wallS: Double = wallNs / 1e9
  def cpuS: Double = cpuNs / 1e9
  def allocMb: Double = allocBytes / 1e6
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = Option(ManagementFactory.getCompilationMXBean)

  /** Process CPU of all threads, bytes allocated by all threads (live and
    * ended), and cumulative GC and JIT time. */
  def snap(): JvmSnap = JvmSnap(System.nanoTime(), os.getProcessCpuTime,
    threads.getTotalThreadAllocatedBytes, gcs.map(_.getCollectionTime).sum,
    jit.filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L))

  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1e6
}

/** Peak heap still in use right after a collection, over a window: the
  * sum of the heap pools' after-GC usage, maximised over every collection
  * the JVM reports while the window is open. */
final class HeapPeak {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var open = false
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (open && n.getType == "com.sun.management.gc.notification") {
        val info = n.getUserData.asInstanceOf[CompositeData]
        val after = info.get("gcInfo").asInstanceOf[CompositeData]
          .get("memoryUsageAfterGc").asInstanceOf[javax.management.openmbean.TabularData]
        var used = 0L
        after.values().asScala.foreach { row =>
          val e = row.asInstanceOf[CompositeData]
          if (heapPools.contains(e.get("key").asInstanceOf[String]))
            used += e.get("value").asInstanceOf[CompositeData].get("used")
              .asInstanceOf[java.lang.Long].longValue
        }
        synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def start(): Unit = synchronized { peak = 0L; open = true }
  def stopMb(): Double = synchronized { open = false; peak / 1e6 }
}

/** CPU steal share of the whole machine from `/proc/stat`, between two
  * reads; NaN where the file is absent. */
object Steal {
  /** (steal jiffies, total jiffies) */
  def read(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }.toOption

  def percent(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        100.0 * (s1 - s0) / (t1 - t0)
      case _ => Double.NaN
    }
}

/** Spark work counters, keyed by job group. The tracer sets the job group
  * to the current span, so each job, stage and task is charged to the span
  * whose layer call launched it. Task intervals are kept for driver-gap and
  * slot-utilisation figures. Catalyst planning time per query comes from a
  * query-execution listener. */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  final class Acc {
    var jobs = 0; var tasks = 0
    var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L
    def add(o: Acc): Unit = {
      jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; cpuNs += o.cpuNs
      gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
      shuffleRead += o.shuffleRead
    }
  }
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)
  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    acc(g).synchronized { acc(g).jobs += 1 }
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("-")
    val a = acc(g)
    a.synchronized {
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      }
    }
    intervals.synchronized {
      intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  // the listener runs on the bus thread, where the job group is not set,
  // so planning time is charged by when it happened: (phase start, ms)
  private val qel = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get)
      if (ph.nonEmpty) plans.synchronized {
        plans += ((ph.map(_.startTimeMs).min,
          ph.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
      }
    }
    def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(qel)

  def drain(): Unit = org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)

  /** Catalyst planning milliseconds of the queries that started planning
    * within [t0, t1] (epoch ms). */
  def planMs(t0: Long, t1: Long): Double = plans.synchronized(
    plans.filter { case (t, _) => t >= t0 && t <= t1 }.map(_._2).sum)

  /** Counters of one group. */
  def group(g: String): Acc = {
    val out = new Acc
    Option(byGroup.get(g)).foreach(a => a.synchronized(out.add(a)))
    out
  }

  /** Counters of every group whose id starts with `prefix`. */
  def sum(prefix: String): Acc = {
    val out = new Acc
    byGroup.asScala.foreach { case (g, a) =>
      if (g.startsWith(prefix)) a.synchronized(out.add(a))
    }
    out
  }

  /** Milliseconds of [t0, t1] (epoch ms) during which at least one task ran. */
  def busyMs(t0: Long, t1: Long): Long = {
    val iv = intervals.synchronized(intervals.toSeq)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) busy += curB - curA
    busy
  }

  def close(): Unit = {
    spark.listenerManager.unregister(qel)
    spark.sparkContext.removeSparkListener(this)
  }
}

/** One span: a layer call made by the benchmark, with the work charged to
  * it. `selfS` is its wall time minus the part its child spans cover. */
final case class Span(op: Int, name: String, parent: Option[String],
                      startMs: Long, endMs: Long, startS: Double, wallS: Double, var selfS: Double,
                      allocMb: Double, jobs: Int, tasks: Int, taskS: Double,
                      cpuS: Double, gcS: Double, shuffleWriteMb: Double,
                      shuffleReadMb: Double, planS: Double) {
  def json: Workload.Obj = Workload.obj("op" -> op, "name" -> name, "parent" -> parent,
    "start_s" -> startS, "wall_s" -> wallS, "self_s" -> selfS,
    "alloc_mb" -> allocMb, "jobs" -> jobs, "tasks" -> tasks,
    "task_s" -> taskS, "executor_cpu_s" -> cpuS, "task_gc_s" -> gcS,
    "shuffle_write_mb" -> shuffleWriteMb, "shuffle_read_mb" -> shuffleReadMb,
    "plan_s" -> planS)
}

/** Spans around layer calls. A span sets the Spark job group to its own
  * id for its duration, so the listener charges the jobs it launches to
  * it. Spans nest; the job group returns to the parent's on exit. */
final class Tracer(spark: SparkSession, counters: SparkCounters, t0Ns: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[String]
  private var op = 0

  def beginOp(ordinal: Int): Unit = op = ordinal
  private def group(name: String) = s"op$op/$name"

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val sc = spark.sparkContext
    sc.setJobGroup(group(name), name, interruptOnCancel = false)
    stack.push(name)
    val s0 = Jvm.snap()
    val m0 = System.currentTimeMillis()
    try body
    finally {
      val d = Jvm.snap() - s0
      stack.pop()
      parent match {
        case Some(p) => sc.setJobGroup(group(p), p, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      val m1 = System.currentTimeMillis()
      counters.drain()
      val a = counters.group(group(name))
      spans += Span(op, name, parent, m0, m1, (s0.wallNs - t0Ns) / 1e9, d.wallS,
        d.wallS, d.allocMb, a.jobs, a.tasks, a.taskMs / 1e3, a.cpuNs / 1e9,
        a.gcMs / 1e3, a.shuffleWrite / 1e6, a.shuffleRead / 1e6,
        counters.planMs(m0, m1) / 1e3)
    }
  }

  /** Fill in self times: wall minus the children's wall. */
  def finishSelfTimes(): Unit = spans.foreach { s =>
    val kids = spans.filter(k => k.op == s.op && k.parent.contains(s.name))
    s.selfS = s.wallS - kids.map(_.wallS).sum
  }

  def of(opNo: Int, name: String): Option[Span] =
    spans.find(s => s.op == opNo && s.name == name)
}

package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval. `busyNs` is `endNs - startNs` for a plain span; a
  * span that sums many short calls (per-row writes) carries the sum. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
                      busyNs: Long, thread: String, pass: Int)

/** In-memory span recorder. Spans are kept until the benchmark ends and
  * are written out then. Executor tasks run in this JVM (`local[4]`), so
  * the benchmark's own task code records into the same queue, naming its
  * parent span explicitly. */
object Trace {
  @volatile var enabled = false
  @volatile var pass = -1
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def currentId: Long = stack.get.headOption.getOrElse(0L)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent = currentId
      stack.set(id :: stack.get)
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, s, e, e - s, Thread.currentThread.getName, pass))
      }
    }

  /** Records a span measured by the caller; returns its id. */
  def record(name: String, parent: Long, startNs: Long, endNs: Long, busyNs: Long,
             forPass: Int): Long = {
    val id = ids.getAndIncrement()
    spans.add(Span(id, parent, name, startNs, endNs, busyNs, Thread.currentThread.getName, forPass))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Busy time minus the busy time of children on the same thread. */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val byId = all.map(s => s.id -> s).toMap
    val childBusy = all.filter(s => byId.get(s.parent).exists(_.thread == s.thread))
      .groupMapReduce(_.parent)(_.busyNs)(_ + _)
    all.map(s => s.id -> (s.busyNs - childBusy.getOrElse(s.id, 0L))).toMap
  }
}

/** Wall clock shared by every source of events: Spark stamps tasks, jobs
  * and planning phases in epoch ms, spans use `nanoTime`. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

final case class TaskRec(stage: Int, attempt: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long, schedDelayMs: Long)
final case class JobRec(id: Int, startMs: Long, endMs: Long)
final case class PlanRec(func: String, startMs: Long, analysisMs: Long, optimizationMs: Long,
                         planningMs: Long) {
  def totalMs: Long = analysisMs + optimizationMs + planningMs
}
final case class ProgressRec(timestampMs: Long, batchId: Long, durations: Map[String, Long])
final case class GcRec(startMs: Double, durationMs: Long, collector: String)

/** Spark's public listeners, read by the traced run: tasks and jobs
  * (`SparkListener`), query planning phases (`QueryExecutionListener`
  * over `QueryExecution.tracker`), and micro-batch durations
  * (`StreamingQueryListener`). Events arrive on Spark's listener bus
  * threads and are matched to ops afterwards by their timestamps. The two
  * session-level listeners are registered through static confs, so the
  * isolated sessions the streaming replays create report here too. */
final class SparkRecorder(spark: SparkSession) {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  def plans: ConcurrentLinkedQueue[PlanRec] = SparkRecorder.plans
  def progress: ConcurrentLinkedQueue[ProgressRec] = SparkRecorder.progress

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        val dur = i.finishTime - i.launchTime
        val sched = dur - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime
        tasks.add(TaskRec(e.stageId, e.stageAttemptId, i.launchTime, i.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime, math.max(0L, sched)))
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
  })
}

object SparkRecorder {
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()

  /** Session builder confs that attach [[PlanListener]] and
    * [[ProgressListener]] to every session of the context. */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.queryExecutionListeners" -> classOf[PlanListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[ProgressListener].getName)
}

final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def d(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    SparkRecorder.plans.add(PlanRec(funcName, start, d("analysis"), d("optimization"), d("planning")))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

final class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    SparkRecorder.progress.add(ProgressRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.batchId, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

/** JVM and host context: GC pauses from the collectors' notifications,
  * heap after the full GC the benchmark forces between ops, process CPU
  * time, and the host's `/proc/stat` window. */
object Host {
  import java.lang.management.ManagementFactory
  val gcs = new ConcurrentLinkedQueue[GcRec]()
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def installGcListener(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            gcs.add(GcRec((jvmStartMs + info.getGcInfo.getStartTime).toDouble,
              info.getGcInfo.getDuration, info.getGcName))
          }
        }, null, null)
      case _ => ()
    }

  /** Heap in use after a full GC. The first collection lets Spark's
    * ContextCleaner see what became unreachable; after a pause for it to
    * release those blocks, a second collection frees them too. */
  def heapAfterFullGcMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Aggregate `cpu` line of /proc/stat: user nice system idle iowait irq
    * softirq steal. Empty where the file does not exist. */
  def procStat(): Array[Long] = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists) Array.empty
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong))
        .getOrElse(Array.empty[Long])
      finally src.close()
    }
  }

  /** steal% and sys% of all host cpus between two /proc/stat readings. */
  def window(a: Array[Long], b: Array[Long]): Map[String, Double] =
    if (a.length < 8 || b.length < 8) Map.empty
    else {
      val d = a.indices.take(8).map(i => (b(i) - a(i)).toDouble)
      val tot = math.max(d.sum, 1.0)
      Map("steal_pct" -> 100 * d(7) / tot, "sys_pct" -> 100 * d(2) / tot,
        "user_pct" -> 100 * (d(0) + d(1)) / tot, "idle_pct" -> 100 * (d(3) + d(4)) / tot)
    }

  def context(): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "gc_collectors" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}")
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock span kept in memory until the run ends. `parent` is the
  * index of the enclosing span, -1 for a root; spans of one op share
  * its `op` number.
  */
final case class Span(name: String, op: Int, parent: Int,
    startMs: Double, endMs: Double)

/** Step timers and spans. Every run times its ops with these; only a
  * traced run also attaches the Spark listeners below.
  */
final class Spans {
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  /** Run `f` inside span `name`, returning its result and duration. */
  def apply[A](name: String, op: Int)(f: => A): (A, Double) = {
    val idx = spans.size
    val start = nowMs
    spans += Span(name, op, open.headOption.getOrElse(-1), start, start)
    open = idx :: open
    try {
      val a = f
      (a, nowMs - start)
    } finally {
      open = open.tail
      spans(idx) = spans(idx).copy(endMs = nowMs)
    }
  }

  def total(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => s.endMs - s.startMs).sum

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.zipWithIndex.map { case (s, i) =>
      Json.obj("id" -> i, "name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark-side counters for the traced run, gathered through Spark's
  * public listener interfaces. Only jobs that start inside a timed-op
  * window count, so set-up and the untimed result dumps stay out.
  */
final class SparkTrace(spark: SparkSession) {
  private val windows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var openSince = -1L
  /** On from the first timed op until [[settle]] returns: listener
    * callbacks without an event time count while it is on.
    */
  @volatile private var phaseOn = false
  private val jobStage = new ConcurrentHashMap[Int, Boolean]()
  private val jobSpans = new ConcurrentHashMap[Int, Array[Long]]()
  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private val planningMs = new DoubleAdder()

  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  def get(k: String): Long = Option(c.get(k)).map(_.get).getOrElse(0L)

  def opStart(): Unit = {
    phaseOn = true; openSince = System.currentTimeMillis()
  }
  def opEnd(): Unit = {
    windows.add((openSince, System.currentTimeMillis())); openSince = -1L
  }
  private def inWindow(t: Long): Boolean =
    (openSince >= 0 && t >= openSince) ||
      windows.asScala.exists { case (a, b) => t >= a && t <= b }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (inWindow(e.time)) {
        jobSpans.put(e.jobId, Array(e.time, -1L))
        e.stageIds.foreach(s => jobStage.put(s, true))
        add("spark.jobs", 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.get(e.jobId)).foreach(_(1) = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (jobStage.containsKey(e.stageInfo.stageId)) add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (jobStage.containsKey(e.stageId)) {
        add("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("task_run_ms", m.executorRunTime)
          add("spark.task_cpu_ms", m.executorCpuTime / 1000000L)
          add("spark.task_gc_ms", m.jvmGCTime)
          add("spark.shuffle_read_bytes",
            m.shuffleReadMetrics.totalBytesRead)
          add("spark.shuffle_write_bytes",
            m.shuffleWriteMetrics.bytesWritten)
          add("spark.spill_bytes",
            m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      if (phaseOn) {
        add("catalyst.actions", 1)
        planningMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  }

  private val phases = Seq("addBatch", "queryPlanning", "walCommit",
    "latestOffset", "getBatch")
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (phaseOn) {
        add("streaming.triggers", 1)
        val d = e.progress.durationMs
        phases.foreach { p =>
          Option(d.get(p)).foreach(v => add(s"streaming.${p}_ms", v.longValue))
        }
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the asynchronous listener buses have delivered every
    * event of the timed ops (all counted jobs ended and no counter moved
    * for 300 ms), then stop counting. Call after the last timed op and
    * before any untimed Spark work.
    */
  def settle(): Unit = {
    def snapshot = (c.asScala.map { case (k, v) => k -> v.get }.toMap,
      planningMs.sum, jobSpans.asScala.values.count(_(1) < 0))
    var last = snapshot
    var stableSince = System.currentTimeMillis()
    val deadline = stableSince + 10000
    while (System.currentTimeMillis() < deadline &&
        (last._3 > 0 || System.currentTimeMillis() - stableSince < 300)) {
      Thread.sleep(50)
      val now = snapshot
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
    }
    phaseOn = false
  }

  /** Union of counted job intervals, clipped to the op windows. */
  def jobBusyMs: Double = {
    val ivs = jobSpans.asScala.values.filter(_(1) >= 0)
      .map(a => (a(0), a(1))).toSeq.sortBy(_._1)
    val merged = mutable.ArrayBuffer.empty[(Long, Long)]
    ivs.foreach { case (a, b) =>
      if (merged.nonEmpty && a <= merged.last._2)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, b))
      else merged += ((a, b))
    }
    val ws = windows.asScala.toSeq
    merged.map { case (a, b) =>
      ws.map { case (wa, wb) => math.max(0L, math.min(b, wb) - math.max(a, wa)) }.sum
    }.sum.toDouble
  }

  def metrics(opWallMs: Double): Seq[(String, Double)] = {
    val busy = jobBusyMs
    Seq("spark.jobs", "spark.stages", "spark.tasks")
      .map(k => k -> get(k).toDouble) ++ Seq(
      "spark.job_busy_ms" -> busy,
      "spark.driver_only_ms" -> math.max(0.0, opWallMs - busy),
      "spark.cores_busy" ->
        (if (busy > 0) get("task_run_ms") / busy else 0.0)) ++
      Seq("spark.task_cpu_ms", "spark.task_gc_ms", "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes", "spark.spill_bytes", "catalyst.actions")
        .map(k => k -> get(k).toDouble) ++ Seq(
      "catalyst.planning_ms" -> planningMs.sum,
      "streaming.triggers" -> get("streaming.triggers").toDouble) ++
      phases.map(p => s"streaming.${p}_ms" -> get(s"streaming.${p}_ms").toDouble)
  }
}

/** JVM-level readings: GC time, heap peak and resident memory. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (VmHWM). */
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0
  private def statusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key)).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  def dirMb(p: java.nio.file.Path): Double =
    if (!java.nio.file.Files.exists(p)) 0.0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => try java.nio.file.Files.size(f) catch { case _: Throwable => 0L })
        .sum / 1048576.0
      finally s.close()
    }
}

/** Minimal JSON rendering for the run's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

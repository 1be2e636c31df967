package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Span recorder for the traced run. Spans are taken only around the
  * benchmark's own calls into the program; they are held in memory and
  * written out once, when the run ends. Disabled, `span` just runs its body.
  */
final class Tracer {
  import Tracer.Span

  @volatile var enabled = false
  @volatile var iter = 0
  private val nextId = new AtomicInteger(1)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val counts = mutable.Map.empty[(Int, String), Double]

  /** Id of the innermost open span on this thread (0 = none), so work
    * handed to another thread can name its parent explicitly.
    */
  def current: Int = stack.get.headOption.getOrElse(0)

  def span[A](name: String, parent: Int = -1)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val p = if (parent >= 0) parent else current
      val saved = stack.get
      stack.set(id :: saved)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, p, iter, t0, System.nanoTime()))
        stack.set(saved)
      }
    }

  /** Adds `v` to a per-iteration counter. */
  def count(name: String, v: Double): Unit =
    if (enabled) counts.synchronized {
      counts((iter, name)) = counts.getOrElse((iter, name), 0.0) + v
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Seconds spent in spans called `name`, per traced iteration. */
  def seconds(name: String): Map[Int, Double] =
    spans.filter(_.name == name).groupBy(_.iter)
      .map { case (i, ss) => i -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum }

  def counter(name: String): Map[Int, Double] = counts.synchronized {
    counts.collect { case ((i, n), v) if n == name => i -> v }.toMap
  }

  /** Self time per span name: each span's duration minus the part of its
    * interval covered by its children, summed over all traced iterations.
    */
  def selfSeconds: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
            if (b <= end) (sum, end)
            else (sum + b - math.max(a, end), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""iter":${s.iter},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, iter: Int,
      startNs: Long, endNs: Long)
}

/** Spark-side counters for the traced run: jobs, stages, tasks, executor
  * time, shuffle and spill, task skew and failures. Totals only grow;
  * callers take differences of [[snapshot]]s around the work they measure,
  * after [[drain]] has delivered every pending event.
  */
final class SparkCounters extends SparkListener {
  import SparkCounters.Snapshot

  private var s = Snapshot(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, Vector.empty)

  def snapshot: Snapshot = synchronized(s)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { s = s.copy(jobs = s.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { s = s.copy(stages = s.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val failed = e.reason != org.apache.spark.Success
    s = s.copy(
      tasks = s.tasks + 1,
      runMs = s.runMs + m.map(_.executorRunTime).getOrElse(0L),
      cpuNs = s.cpuNs + m.map(_.executorCpuTime).getOrElse(0L),
      gcMs = s.gcMs + m.map(_.jvmGCTime).getOrElse(0L),
      shuffleWrite = s.shuffleWrite + m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      shuffleRead = s.shuffleRead + m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      spill = s.spill + m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      failedTasks = s.failedTasks + (if (failed) 1 else 0),
      taskMs = s.taskMs :+ e.taskInfo.duration)
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drain(sc)
}

object SparkCounters {
  final case class Snapshot(jobs: Long, stages: Long, tasks: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, failedTasks: Long, taskMs: Vector[Long]) {
    def -(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
      shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
      spill - o.spill, failedTasks - o.failedTasks, taskMs.drop(o.taskMs.size))
  }

  private var registeredOn: SparkContext = _
  private var current: SparkCounters = _

  /** The counters attached to `sc`, registering them on first use. Sessions
    * are recreated during set-up, so the guard is per SparkContext.
    */
  def on(sc: SparkContext): SparkCounters = synchronized {
    if (!(registeredOn eq sc)) {
      current = new SparkCounters
      sc.addSparkListener(current)
      registeredOn = sc
    }
    current
  }
}

/** Memory and leak counters read at the end of an iteration. */
object Memory {
  def heapRetainedMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), 0 where /proc is absent. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) 0.0
    else scala.util.Using.resource(scala.io.Source.fromFile(f)) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
    }
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

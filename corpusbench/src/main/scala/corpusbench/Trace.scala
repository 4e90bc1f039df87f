package corpusbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed call into one layer. `name` is `layer.operation`. Times are
  * epoch milliseconds with sub-millisecond digits. */
final case class Span(id: Int, name: String, parent: Int,
                      startMs: Double, endMs: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Spark work attributed to one span: the jobs run under its job group and
  * the tasks of their stages. */
final class SpanWork {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  val jobIntervals = ArrayBuffer.empty[(Double, Double)]
}

/** Collects per-job-group counters. Registered only in a traced run; the
  * spans themselves are recorded in both modes, so the runs differ only by
  * this listener. */
final class LayerListener extends SparkListener {
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val work = new ConcurrentHashMap[String, SpanWork]()
  @volatile var lastEndedJobGroup: String = ""

  private def of(group: String): SpanWork =
    work.computeIfAbsent(group, _ => new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.getOrDefault(e.jobId, "")
    val w = of(g)
    w.synchronized {
      w.jobs += 1
      w.jobIntervals += ((jobStart.getOrDefault(e.jobId, e.time).toDouble,
        e.time.toDouble))
    }
    lastEndedJobGroup = g
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val w = of(stageGroup.getOrDefault(e.stageId, ""))
    w.synchronized {
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.gcMs += m.jvmGCTime
    }
  }
}

/** Records spans around the benchmark's calls into the engine and gives
  * each span its own Spark job group, so a [[LayerListener]] can attribute
  * jobs and tasks to the innermost span. Spans are opened on one thread;
  * threads the engine starts inside a span inherit its job group. */
final class Tracer(sc: SparkContext) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private val stack = scala.collection.mutable.Stack[Int]()
  val spans = ArrayBuffer.empty[Span]
  private val names = ArrayBuffer.empty[String]

  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def span[A](name: String)(body: => A): A = {
    val id = names.length
    names += name
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    sc.setJobGroup(group(id), name)
    val start = nowMs
    try body
    finally {
      spans += Span(id, name, parent, start, nowMs)
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), names(p))
        case None => sc.clearJobGroup()
      }
    }
  }

  def group(spanId: Int): String = s"corpusbench-span-$spanId"

  /** Tab-separated span file: id, name, parent, start, end, run id. */
  def write(path: java.nio.file.Path, runId: String): Unit = {
    val lines = "id\tname\tparent\tstart_ms\tend_ms\trun_id" +:
      spans.sortBy(_.id).map(s =>
        f"${s.id}\t${s.name}\t${s.parent}\t${s.startMs}%.3f\t${s.endMs}%.3f\t$runId")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {

  /** Total length of the union of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Per-layer counters summed over the layer's spans. `driver_gap_s` is
    * a span's wall minus the union of its own jobs' intervals and its child
    * spans: driver work (planning, collects) and scheduling gaps. */
  def layerMetrics(layers: Seq[String], spans: Seq[Span],
                   listener: LayerListener, tracer: Tracer): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    layers.flatMap { layer =>
      val ws = spans.filter(_.layer == layer).map(s =>
        s -> Option(listener.work.get(tracer.group(s.id))).getOrElse(new SpanWork))
      def sum(f: SpanWork => Double): Double = ws.map(w => f(w._2)).sum
      val gapMs = ws.map { case (s, w) =>
        val covered = (w.jobIntervals.toSeq ++
          children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
          .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
          .filter { case (a, b) => b > a }
        math.max(0.0, (s.endMs - s.startMs) - unionLength(covered))
      }.sum
      Seq(
        s"$layer.jobs" -> sum(_.jobs.toDouble),
        s"$layer.tasks" -> sum(_.tasks.toDouble),
        s"$layer.executor_cpu_s" -> sum(_.cpuNs / 1e9),
        s"$layer.shuffle_write_bytes" -> sum(_.shuffleWriteBytes.toDouble),
        s"$layer.spill_bytes" -> sum(_.spillBytes.toDouble),
        s"$layer.gc_s" -> sum(_.gcMs / 1e3),
        s"$layer.driver_gap_s" -> gapMs / 1e3)
    }.toMap
  }
}

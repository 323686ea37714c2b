package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder for the traced run.
  *
  * A span covers one call into a layer. The benchmark opens it around the
  * call and tags every Spark job the call submits with the span's id through
  * the `perfbench.span` local property, so the listener can charge the
  * job's tasks to the span. Spans are kept in memory and written as JSON at
  * exit.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private var selfNanos = 0L

  private def timedSelf[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally synchronized { selfNanos += System.nanoTime() - t0 }
  }

  def open(name: String, layer: String, parent: Option[Span] = None): Span = timedSelf {
    synchronized {
      val s = Span(spans.size, name, layer, parent.map(_.id), System.currentTimeMillis())
      spans += s
      sc.setLocalProperty(SpanKey, s.id.toString)
      s
    }
  }

  /** Close `s`; jobs submitted afterwards on this thread carry `resume`. */
  def close(s: Span, resume: Option[Span] = None): Unit = timedSelf {
    synchronized {
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, resume.map(_.id.toString).orNull)
    }
  }

  /** Name `s` after the fact, then close it (see [[close]]). */
  def closeAs(s: Span, name: String, layer: String, resume: Option[Span] = None): Unit = {
    synchronized { s.name = name; s.layer = layer }
    close(s, resume)
  }

  def span[T](name: String, layer: String, parent: Option[Span] = None)(body: => T): T = {
    val s = open(name, layer, parent)
    try body finally close(s, parent)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timedSelf {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    synchronized {
      id.map(_.toInt).filter(_ < spans.size).map(spans(_)).foreach { s =>
        s.counters.jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedSelf {
    val m = e.taskMetrics
    synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val c = s.counters
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def selfSeconds: Double = synchronized(selfNanos / 1e9)

  /** Layers that have at least one closed span. */
  def closedLayers: Set[String] = synchronized(spans.filter(_.endMs >= 0).map(_.layer).toSet)

  /** Jobs charged to spans of no layer in `layers`. */
  def jobsOutside(layers: Seq[String]): Long = synchronized(
    spans.filterNot(s => layers.contains(s.layer)).map(_.counters.jobs).sum)

  /** Per-layer totals over closed spans whose layer is in `layers`. */
  def layerMetrics(layers: Seq[String], cores: Int): Seq[(String, Double, String)] =
    synchronized {
      layers.flatMap { layer =>
        val ss = spans.filter(s => s.layer == layer && s.endMs >= 0)
        val wall = ss.map(s => (s.endMs - s.startMs) / 1e3).sum
        val c = ss.map(_.counters).foldLeft(new Counters)(_ + _)
        Seq(
          (s"$layer.wall_s", wall, "s"),
          (s"$layer.jobs", c.jobs.toDouble, "count"),
          (s"$layer.tasks", c.tasks.toDouble, "count"),
          (s"$layer.cpu_s", c.cpuNs / 1e9, "s"),
          (s"$layer.busy_frac", if (wall > 0) c.runMs / 1e3 / (wall * cores) else 0.0, "frac"),
          (s"$layer.gc_s", c.gcMs / 1e3, "s"),
          (s"$layer.shuffle_mb", c.shuffleBytes / 1e6, "MB"),
          (s"$layer.spill_mb", c.spillBytes / 1e6, "MB"),
          (s"$layer.out_mb", c.outBytes / 1e6, "MB"))
      }
    }

  def toJson: String = synchronized {
    spans.map { s =>
      val c = s.counters
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""parent":${s.parent.getOrElse("null")},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"run_ms":${c.runMs},"cpu_ns":${c.cpuNs},""" +
        s""""gc_ms":${c.gcMs},"shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
        s""""out_bytes":${c.outBytes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, var name: String, var layer: String, parent: Option[Int],
      startMs: Long, var endMs: Long = -1L, counters: Counters = new Counters)

  final class Counters {
    var jobs, tasks, runMs, cpuNs, gcMs, shuffleBytes, spillBytes, outBytes = 0L
    def +(o: Counters): Counters = {
      val r = new Counters
      r.jobs = jobs + o.jobs; r.tasks = tasks + o.tasks; r.runMs = runMs + o.runMs
      r.cpuNs = cpuNs + o.cpuNs; r.gcMs = gcMs + o.gcMs
      r.shuffleBytes = shuffleBytes + o.shuffleBytes
      r.spillBytes = spillBytes + o.spillBytes; r.outBytes = outBytes + o.outBytes
      r
    }
  }

  def install(sc: SparkContext): Trace = {
    val t = new Trace(sc)
    sc.addSparkListener(t)
    t
  }
}

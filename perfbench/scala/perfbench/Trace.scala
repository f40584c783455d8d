package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer, and the Spark
  * job/task metrics attributed to them. A span names itself in a Spark
  * local property, so every job it submits (AQE and broadcast threads
  * inherit local properties) carries the name in its JobStart event; tasks
  * inherit the span of their stage. Everything stays in memory until
  * [[Tracer.finish]]. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  final case class Span(name: String, parent: String, t0Ns: Long, t1Ns: Long, t0Ms: Long, t1Ms: Long) {
    def wallS: Double = (t1Ns - t0Ns) / 1e9
  }
  final case class Job(span: String, startMs: Long, var endMs: Long)
  final case class Task(span: String, stageId: Int, runMs: Long, cpuNs: Long, shuffleWrite: Long, spill: Long)

  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private var open: List[String] = Nil

  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption.orNull
    open = name :: open
    sc.setLocalProperty(SpanKey, name)
    val (t0Ms, t0) = (System.currentTimeMillis(), System.nanoTime())
    try body
    finally {
      val (t1, t1Ms) = (System.nanoTime(), System.currentTimeMillis())
      spans += Span(name, parent, t0, t1, t0Ms, t1Ms)
      open = open.tail
      sc.setLocalProperty(SpanKey, parent)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val name = Option(e.properties).map(_.getProperty(SpanKey)).orNull
    jobs(e.jobId) = Job(name, e.time, e.time)
    e.stageIds.foreach(s => stageSpan(s) = name)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(stageSpan.getOrElse(e.stageId, null), e.stageId,
      m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  /** Waits until every event posted so far has reached this listener. */
  def finish(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Span names are unique within one traced run. */
  def get(name: String): Span = spans.find(_.name == name).get

  /** Jobs, task CPU, shuffle write, spill and skew of one span.
    * `task_skew` is max over median task run time within the span's
    * heaviest stage; 0 when the span ran no tasks. */
  def stats(name: String): Map[String, Double] = synchronized {
    val s = get(name)
    val js = jobs.values.filter(_.span == name)
    val ts = tasks.filter(_.span == name)
    val skew = if (ts.isEmpty) 0.0 else {
      val heaviest = ts.groupBy(_.stageId).values.maxBy(_.map(_.runMs).sum).map(_.runMs).sorted
      heaviest.last.toDouble / math.max(1L, heaviest(heaviest.size / 2))
    }
    Map(
      "wall_s" -> s.wallS,
      "jobs" -> js.size.toDouble,
      "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / Mb,
      "spill_mb" -> ts.map(_.spill).sum / Mb,
      "task_skew" -> skew)
  }

  /** Wall time inside `span` during which no Spark job was running. */
  def noJobS(name: String): Double = synchronized {
    val s = get(name)
    val intervals = jobs.values.toSeq
      .map(j => (math.max(j.startMs, s.t0Ms), math.min(j.endMs, s.t1Ms)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var busy = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    intervals.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    math.max(0.0, s.wallS - busy / 1e3)
  }

  def spansJson: String = spans.map { s =>
    s"""{"name":"${s.name}","parent":${Option(s.parent).map("\"" + _ + "\"").getOrElse("null")},""" +
      s""""start_ms":${s.t0Ms},"wall_s":${s.wallS}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Mb: Double = 1024.0 * 1024.0
}

package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its own calls into each layer.
  * Single-threaded: every span opens and closes on the benchmark's main thread,
  * so nesting is a stack. Spans stay in memory until [[toJson]]. */
final class Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Spans are recorded only while on; the benchmark alternates traced and
    * untraced operations to measure what tracing costs. */
  var on = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var lastSpan = 0
  private var lastOp = 0
  private var currentOp = 0

  /** A top-level operation: its spans share one operation id. */
  def op[T](name: String)(body: => T): T = {
    lastOp += 1
    val prev = currentOp
    currentOp = lastOp
    try span(name)(body) finally currentOp = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      lastSpan += 1
      val id = lastSpan
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        done += Span(id, parent, currentOp, name, t0, t1)
      }
    }

  /** Durations in ms of every span with this name. */
  def durations(name: String): Seq[Double] = done.filter(_.name == name).map(_.ms).toSeq

  /** Self time of each span: its duration minus the part of its interval
    * that its child spans cover. */
  def selfMs: Map[Int, Double] = {
    val children = done.groupBy(_.parent)
    done.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  def toJson: String = {
    val self = selfMs
    val base = done.headOption.map(_.startNs).getOrElse(0L)
    done.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> (s.startNs - base) / 1e6, "end_ms" -> (s.endNs - base) / 1e6,
        "self_ms" -> self(s.id)))
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Stage profile from a listener the benchmark attaches: jobs, stages,
  * tasks, task time, shuffle bytes, GC and spill, attributed to the scope
  * the benchmark set as a local property when the job was submitted. */
final class StageListener extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var gcMs = 0L; var spill = 0L
  }

  private val stageScope = mutable.Map.empty[Int, String]
  private val aggs = mutable.LinkedHashMap.empty[String, Agg]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def agg(scope: String): Agg = aggs.getOrElseUpdate(scope, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val scope = Option(e.properties).flatMap(p =>
      Option(p.getProperty(StageListener.ScopeKey))).getOrElse("-")
    agg(scope).jobs += 1
    e.stageIds.foreach(stageScope(_) = scope)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageScope.get(e.stageId).foreach(agg(_).tasks += 1)
    if (e.taskMetrics != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageScope.get(info.stageId).foreach { scope =>
      val a = agg(scope)
      a.stages += 1
      val m = info.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.gcMs += m.jvmGCTime
        a.spill += m.diskBytesSpilled
      }
    }
  }

  /** Totals over every scope that starts with `prefix`. */
  def total(prefix: String): Agg = synchronized {
    val t = new Agg
    aggs.foreach { case (s, a) =>
      if (s.startsWith(prefix)) {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.taskMs += a.taskMs; t.shuffleWrite += a.shuffleWrite
        t.shuffleRead += a.shuffleRead; t.gcMs += a.gcMs; t.spill += a.spill
      }
    }
    t
  }

  /** Max ÷ median task time of the busiest stage in the scope. */
  def taskSkew(scope: String): Double = synchronized {
    val stages = stageScope.collect { case (id, s) if s == scope && taskMs.contains(id) => id }
    require(stages.nonEmpty, s"no completed tasks in scope $scope")
    val busiest = stages.maxBy(id => taskMs(id).sum)
    val ts = taskMs(busiest).map(_.toDouble).toSeq
    ts.max / math.max(1.0, Stats.median(ts))
  }
}

object StageListener {
  /** The local property that names the scope of the jobs a thread submits. */
  val ScopeKey = "perfbench.scope"
}

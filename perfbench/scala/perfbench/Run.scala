package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: its arguments, its Spark session, and everything it
  * reports — metrics, operations attempted and failed, and the trace. */
final class Run(val workload: String, val seed: Long, val seconds: Int,
                val traced: Boolean, val work: Path, val plant: Option[String]) {

  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer
  val listener = new StageListener
  private val metricsOut = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private var ops = 0
  private val failedOps = mutable.LinkedHashMap.empty[Int, String]

  private var session: Option[SparkSession] = None
  def spark: SparkSession = session.getOrElse(sys.error("no Spark session"))

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!metricsOut.contains(name), s"metric $name reported twice")
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metricsOut(name) = (value, unit)
  }
  /** An end-to-end metric: reported by untraced runs only. */
  def endToEnd(name: String, value: => Double, unit: String): Unit =
    if (!traced) metric(name, value, unit)

  def metrics: Seq[(String, Double, String)] =
    metricsOut.toSeq.map { case (k, (v, u)) => (k, v, u) }

  def attempted: Int = ops
  def failed: Int = failedOps.size
  def failures: Seq[String] = failedOps.toSeq.map { case (id, m) => s"op $id: $m" }

  /** Run one operation; an exception fails it. Returns its id (for output
    * checks made later) and its result. */
  def operation[T](name: String)(body: => T): (Int, Option[T]) = {
    ops += 1
    val id = ops
    try (id, Some(tracer.op(name)(body)))
    catch {
      case NonFatal(e) =>
        fail(id, s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        (id, None)
    }
  }

  /** An output check of operation `id`; a false condition fails it. */
  def check(id: Int, ok: Boolean, what: => String): Boolean = {
    if (!ok) fail(id, what)
    ok
  }

  private def fail(id: Int, what: String): Unit = {
    System.err.println(s"[perfbench] FAILED op $id: $what")
    if (!failedOps.contains(id)) failedOps(id) = what.take(300)
  }

  /** True when this run was asked to plant the named wrong answer. */
  def planted(name: String): Boolean = plant.contains(name)

  /** Tracing is on only in a traced run, and there only for the operations
    * that [[traceAlternate]] selects. */
  def setTracing(on: Boolean): Unit = {
    val want = on && traced
    if (want != tracer.on) {
      tracer.on = want
      if (want) spark.sparkContext.addSparkListener(listener)
      else {
        org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    }
  }

  /** In a traced run every other operation is traced: the untraced ones
    * give the baseline for `<part>.trace_overhead`. */
  def traceAlternate(i: Int): Boolean = traced && i % 2 == 1

  private val opTimes = mutable.LinkedHashMap.empty[String,
    (mutable.ArrayBuffer[Double], mutable.ArrayBuffer[Double])]

  /** Record an operation time by kind, split by whether it was traced. */
  def recordOpTime(kind: String, ms: Double): Unit = {
    val (t, u) = opTimes.getOrElseUpdate(kind,
      (mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double]))
    (if (tracer.on) t else u) += ms
  }

  /** Σ median traced time ÷ Σ median untraced time − 1, over the kinds
    * named `<part>.…` that have both. */
  def traceOverhead(part: String): Double = {
    val both = opTimes.collect {
      case (k, (t, u)) if k.startsWith(part + ".") && t.nonEmpty && u.nonEmpty => (t, u)
    }
    require(both.nonEmpty, s"no $part operation kind was measured both traced and untraced")
    both.map(x => Stats.median(x._1.toSeq)).sum /
      both.map(x => Stats.median(x._2.toSeq)).sum - 1.0
  }

  /** Stage-profile metrics `<part>.…` of the traced operations in
    * `scopePrefix`. */
  def stageMetrics(part: String, scopePrefix: String): Unit = {
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    val a = listener.total(scopePrefix)
    val mb = 1024.0 * 1024.0
    metric(s"$part.jobs", a.jobs.toDouble, "count")
    metric(s"$part.stages", a.stages.toDouble, "count")
    metric(s"$part.tasks", a.tasks.toDouble, "count")
    metric(s"$part.task_s", a.taskMs / 1000.0, "s")
    metric(s"$part.shuffle_write_mb", a.shuffleWrite / mb, "MB")
    metric(s"$part.shuffle_read_mb", a.shuffleRead / mb, "MB")
    metric(s"$part.gc_s", a.gcMs / 1000.0, "s")
    metric(s"$part.spill_mb", a.spill / mb, "MB")
    metric(s"$part.trace_overhead", traceOverhead(part), "ratio")
  }

  /** (Re)start the Spark session at `local[cpus]`. The settings follow
    * graft.Bench's sessions; local dirs stay inside the run's temp root. */
  def startSession(cpus: Int): SparkSession = {
    stopSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (2L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (128L * 1024).toString)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    session = Some(s)
    s
  }

  def stopSession(): Unit = {
    session.foreach { s =>
      if (tracer.on) setTracing(false)
      s.stop()
    }
    session = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** A fresh directory under the run's scratch area. */
  def scratchDir(name: String): Path = {
    val d = work.resolve("scratch").resolve(name)
    deleteTree(d)
    Files.createDirectories(d)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
}

object Run {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

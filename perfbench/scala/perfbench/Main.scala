package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark JVM entry, started by perfbench/run.py:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *                  <resultFile> <traceFile> [plant]
  *
  * Writes the run's metrics, operation counts and failures to `resultFile`
  * and, in a traced run, the spans to `traceFile`. Exits non-zero only when
  * the run itself could not complete; failed output checks are reported in
  * the result for run.py to act on. An untraced run runs the named
  * workload; a traced run runs both, so that it reports every per-layer
  * metric. */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 7, "usage: Main workload seed seconds trace workDir resultFile traceFile [plant]")
    val r = new Run(args(0), args(1).toLong, args(2).toInt, args(3) == "1",
      Paths.get(args(4)), args.lift(7).filter(_.nonEmpty))
    val parts = Map[String, Run => Unit](
      "ingest" -> IngestWorkload.run, "catalog" -> CatalogWorkload.run)
    require(parts.contains(r.workload), s"unknown workload ${r.workload}")
    // a traced run measures every layer, so it runs both workloads, the
    // named one first
    val order = if (r.traced) r.workload +: parts.keys.filter(_ != r.workload).toSeq.sorted
      else Seq(r.workload)
    order.foreach(w => parts(w)(r))
    r.stopSession()
    val result = Json.obj(Seq(
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "failures" -> r.failures,
      "metrics" -> r.metrics.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "info" -> r.info.toMap))
    Files.write(Paths.get(args(5)), result.getBytes(StandardCharsets.UTF_8))
    if (r.traced)
      Files.write(Paths.get(args(6)), r.tracer.toJson.getBytes(StandardCharsets.UTF_8))
  }
}

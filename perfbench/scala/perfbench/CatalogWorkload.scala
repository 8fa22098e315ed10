package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import graft.SparkEntry

/** `catalog`: sequential passes over oracle-checked `SparkEntry` queries.
  * The first pass, each query's first run in the JVM, is an untimed warm-up
  * (its time swings with code generation and the JIT); the timed passes
  * follow. The operators and Spark's per-stage fixed costs do all the work;
  * no image kernel runs. Each timed pass writes every query's output to
  * parquet; run.py compares them with the queries' DuckDB `oracleSql` after
  * the JVM exits, outside the timed section. */
object CatalogWorkload {

  /** Temporal, dedup, text, selection and embedding queries, among them the
    * open perf items (keep-best dedup, stupid-backoff trigram scoring, regex
    * counting in the Gopher rules) and the DSIR totals item. Each query pays
    * Spark's per-stage fixed costs (~0.1 s a stage on four cores whatever
    * the data size), so a pass costs ~11 s warm and ~17 s cold; more queries
    * would not fit the benchmark's run-time budget. */
  val queries: Seq[String] = Seq(
    "q_asof_join", "q_backfill",
    "q_dedup_keep_best",
    "q_gopher_quality", "q_sb_trigram",
    "q_dsir_select",
    "q_embed_ivfpq")
  val setupReps = 3
  /** The set-up warm-up query, not a measured one: it reads the events
    * table through a shuffle and a window; its output is thrown away. */
  val warmUp = "q_lag_lead"
  /** A traced run makes the warm-up pass and two timed passes that trace
    * every other query, so each query runs once each way, for the tracing
    * overhead. An untraced run's window starts with the warm-up pass and
    * holds at least one timed pass. */
  val tracedPasses = 3

  def run(r: Run): Unit = {
    val dataDir = r.work.resolve("cache").resolve(s"catalog-s${r.seed}").toString
    require(Files.exists(java.nio.file.Paths.get(dataDir, "documents.parquet")),
      s"catalog input missing in $dataDir")
    val order = new scala.util.Random(r.seed).shuffle(queries)
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    queries.foreach(q => require(fns.contains(q) && oracle.contains(q), s"$q has no oracle"))

    val setupTimes = (1 to (if (r.traced) 1 else setupReps)).map { _ =>
      val t0 = System.nanoTime()
      r.startSession(r.cpus)
      fns(warmUp)(r.spark, dataDir).write.format("noop").mode("overwrite").save()
      Run.secondsSince(t0)
    }
    r.endToEnd("setup_s", Stats.median(setupTimes), "s")
    r.info("catalog.setup_s.samples") = setupTimes

    val outRoot = r.scratchDir("catalog-out")
    val outputs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passTotals = mutable.ArrayBuffer.empty[Double]
    val heap = mutable.ArrayBuffer.empty[Double]
    val sc = r.spark.sparkContext
    val deadline = System.nanoTime() + (if (r.traced) 0L else r.seconds * 1000000000L)
    var pass = 0
    while (pass < (if (r.traced) tracedPasses else 2) || System.nanoTime() < deadline) {
      var total = 0.0
      order.zipWithIndex.foreach { case (q, i) =>
        r.setTracing(pass > 0 && r.traceAlternate(pass + i))
        sc.setLocalProperty(StageListener.ScopeKey, s"catalog/$q")
        val out = outRoot.resolve(s"pass$pass").resolve(q)
        val t0 = System.nanoTime()
        val (op, _) = r.operation(s"catalog.$q") {
          val w = fns(q)(r.spark, dataDir).write
          // the warm-up pass's output is not checked
          if (pass == 0) w.format("noop").mode("overwrite").save() else w.parquet(out.toString)
        }
        val sec = Run.secondsSince(t0)
        sc.setLocalProperty(StageListener.ScopeKey, null)
        if (pass > 0) r.recordOpTime(s"catalog.$q", sec * 1000)
        r.setTracing(false)
        total += sec
        if (pass > 0) perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += sec
        if (pass > 0) outputs += Map("op" -> op, "query" -> q, "dir" -> out.toString, "pass" -> pass)
      }
      passTotals += total
      heap += Stats.heapAfterGcMb()
      pass += 1
    }

    Files.write(outRoot.resolve("oracle_sql.json"), Json.value(
      queries.map(q => q -> oracle(q)).toMap).getBytes(StandardCharsets.UTF_8))
    r.info("catalog.outputs") = outputs.toSeq
    r.info("catalog.order") = order
    r.info("catalog.pass_totals_s") = passTotals.toSeq
    r.info("catalog.query_s") = perQuery.map { case (q, xs) => q -> xs.toSeq }.toMap
    r.endToEnd("pass_s", Stats.median(passTotals.tail.toSeq), "s")
    r.endToEnd("heap_mb", heap.tail.max, "MB")
    if (r.traced) {
      org.apache.spark.BenchBridge.drainListeners(sc)
      queries.foreach { q =>
        r.metric(s"catalog.${q}_s", Stats.median(perQuery(q).toSeq), "s")
        val traced = r.tracer.durations(s"catalog.$q").length
        r.metric(s"catalog.$q.stages",
          r.listener.total(s"catalog/$q").stages.toDouble / math.max(1, traced), "count")
      }
      r.stageMetrics("catalog", "catalog/")
    }
    r.stopSession()
  }
}

package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.data.Synth
import graft.functions.PqExpressions
import graft.kernels.Kernels
import graft.pipeline.FeaturePipeline
import graft.sink.SnapshotSink
import graft.streaming.StreamingOps
import graft.temporal.Temporal

/** The live-ingest layers, measured in every traced run: a table
  * partitioned by `list_id` is pre-seeded; micro-batches of new images (plus
  * a share of ids already committed, redelivered) go through
  * `featurizeStream` → `sinkToSnapshot`, and after each commit the benchmark
  * issues an IVFPQ top-10 query over `SnapshotSink.read`. Many small
  * commits, a growing manifest chain, the anti-join probe and reads beside
  * writes: per-job fixed costs dominate and the kernels do a small share of
  * the work. (A workload of its own did not fit the run-time budget: a
  * commit costs ~2 s whatever the batch size.) */
object StreamPhase {

  /** Pool files pre-seeded (1,000 images) and streamed from (300). */
  val preseedFiles = 10
  val streamFiles = 3
  val batchNew = 40
  val batchRedelivered = 10
  val commits = 6
  /** Coarse lists probed per query (of Synth's 8). */
  val probe = 2

  private type In = (String, Array[Byte], String, Long, Timestamp, String)
  private val cfg = Synth.defaultConfig

  def run(r: Run, m: Images.Minted): Unit = {
    val chosen = Images.chooseFiles(r.seed, preseedFiles + streamFiles)
    val preseedPaths = Images.paths(r, chosen.take(preseedFiles))
    val rows: Map[String, In] = r.spark.read.parquet(Images.paths(r, chosen): _*)
      .where(col("fmt").isin("png", "jpeg"))
      .select("image_id", "bytes", "caption", "phash", "ts", "entity_id")
      .collect().map(x => x.getString(0) ->
        (x.getString(0), x.getAs[Array[Byte]](1), x.getString(2), x.getLong(3),
          x.getTimestamp(4), x.getString(5))).toMap
    val preseedIds = Images.ids(chosen.take(preseedFiles)).filter(rows.contains)
    val streamIds = Images.ids(chosen.drop(preseedFiles)).filter(rows.contains)
    require(streamIds.length >= commits * batchNew, s"${streamIds.length} images to stream")
    val dir = r.scratchDir("stream")
    val table = dir.resolve("t").toString
    val bound = Temporal.asOfJoin(r.spark.read.parquet(preseedPaths: _*)
      .where(col("fmt").isin("png", "jpeg")), m.modelDf(r), "ts", "valid_from")
    SnapshotSink.append(FeaturePipeline.featurize(bound, m.bundles, cfg), table, "image_id",
      Seq("list_id"), Map("preseed" -> s"pool files ${chosen.take(preseedFiles).mkString(",")}"))
    val spark = r.spark
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[In]
    val query = StreamingOps.sinkToSnapshot(
      StreamingOps.featurizeStream(
        input.toDF().toDF("image_id", "bytes", "caption", "phash", "ts", "entity_id"),
        m.modelDf(r), m.bundles, cfg),
      table, "image_id", Seq("list_id"), dir.resolve("checkpoint").toString)

    val rnd = new scala.util.Random(r.seed)
    val committed = mutable.ArrayBuffer.from(preseedIds)
    val delivered = mutable.ArrayBuffer.empty[String]
    val recall = mutable.ArrayBuffer.empty[Double]
    val files = mutable.ArrayBuffer.empty[Double]
    val scanned = mutable.ArrayBuffer.empty[Double]
    r.setTracing(true)
    (0 until commits).foreach { c =>
      val fresh = streamIds.slice(c * batchNew, (c + 1) * batchNew)
      val again = Seq.fill(batchRedelivered)(committed(rnd.nextInt(committed.length)))
      val batch = rnd.shuffle(fresh ++ again)
      r.operation("stream.commit") {
        input.addData(batch.map(rows): _*)
        query.processAllAvailable()
      }
      delivered ++= batch
      committed ++= fresh
      r.setTracing(false)
      val truth = SnapshotSink.read(r.spark, table).where(col("vector").isNotNull)
        .select("image_id", "model_version", "vector").collect()
        .map(x => (x.getString(0), x.getInt(1), x.getSeq[Double](2).toArray))
      r.setTracing(true)
      val (qid, qver, qv) = truth(rnd.nextInt(truth.length))
      val (op, got) = r.operation("stream.query")(search(r, m, table, qv, qver, qid))
      got.foreach { case (ids, df, top) =>
        files += df.inputFiles.length
        scanned += scanRows(top.queryExecution.executedPlan).toDouble /
          SnapshotSink.allSnapshots(table).map(_.rowCount).sum
        val exact = truth.filter(t => t._2 == qver && t._1 != qid)
          .map(t => t._1 -> Kernels.squaredL2(t._3, qv))
          .sortBy(t => (t._2, t._1)).take(10).map(_._1).toSet
        r.check(op, ids.length == math.min(10, exact.size), s"query returned ${ids.length} rows")
        recall += ids.count(exact).toDouble / exact.size
      }
    }
    r.setTracing(false)
    query.stop()

    // every delivered id is in the table exactly once
    val counts = SnapshotSink.read(r.spark, table).groupBy("image_id").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val planted = if (r.planted("stream.once")) Map(delivered.head -> 2L) else Map.empty
    val wrong = delivered.distinct.filter(id => (counts ++ planted).getOrElse(id, 0L) != 1L)
    val (checkOp, _) = r.operation("stream.check")(())
    r.check(checkOp, wrong.isEmpty,
      s"${wrong.length} delivered ids not committed exactly once, e.g. ${wrong.take(3)}")

    val progress = query.recentProgress.filter(_.numInputRows > 0)
    def progressMedian(key: String): Double = Stats.median(progress.toSeq.map(
      _.durationMs.asScala.get(key).map(_.toDouble).getOrElse(0.0)))
    val snaps = SnapshotSink.allSnapshots(table)
    val streamSnaps = snaps.filter(_.lineage.contains("stream_batch_id"))
    r.metric("streaming.commit_ms", Stats.median(r.tracer.durations("stream.commit")), "ms")
    r.metric("streaming.trigger_ms", progressMedian("triggerExecution"), "ms")
    r.metric("streaming.add_batch_ms", progressMedian("addBatch"), "ms")
    r.metric("streaming.planning_ms", progressMedian("queryPlanning"), "ms")
    r.metric("streaming.wal_ms", progressMedian("walCommit"), "ms")
    r.metric("streaming.rows_delivered", delivered.length.toDouble, "count")
    r.metric("streaming.rows_committed", streamSnaps.map(_.rowCount).sum.toDouble, "count")
    r.metric("sink.append_ms", Stats.median(streamSnaps.map(_.lineage("commit_millis").toDouble)), "ms")
    r.metric("sink.fs_ms", Stats.median(streamSnaps.map(_.lineage("fs_millis").toDouble)), "ms")
    r.metric("sink.read_plan_ms", Stats.median(r.tracer.durations("sink.read")), "ms")
    r.metric("sink.snapshots", snaps.length.toDouble, "count")
    r.metric("sink.files_per_query", Stats.median(files.toSeq), "count")
    r.metric("search.query_ms", Stats.median(r.tracer.durations("stream.query")), "ms")
    r.metric("functions.lut_ms", Stats.median(r.tracer.durations("functions.lut")), "ms")
    r.metric("search.job_ms", Stats.median(r.tracer.durations("search.job")), "ms")
    r.metric("search.rows_scanned_frac", Stats.median(scanned.toSeq), "ratio")
    r.metric("search.recall_at_10", recall.sum / recall.length, "ratio")
    r.deleteTree(dir)
  }

  /** IVFPQ top-10 among the rows of model version `version`: probe the
    * nearest coarse lists, build their ADC lookup tables in this JVM, and
    * scan only those lists with `adc_distance`. */
  private def search(r: Run, m: Images.Minted, table: String, qv: Array[Double],
                     version: Int, qid: String): (Seq[String], DataFrame, DataFrame) = {
    val bundle = m.bundles(version)
    val (probed, luts) = r.tracer.span("functions.lut") {
      val probed = Kernels.kNearestCentroids(qv, bundle.coarseQuantizer, probe)
      probed -> probed.map { li =>
        li -> Kernels.adcLookupTable(
          bundle.transform(Kernels.residual(qv, bundle.coarseQuantizer(li))), bundle.pq)
      }.toMap
    }
    val df = r.tracer.span("sink.read")(SnapshotSink.read(r.spark, table))
    val top = df.where(col("model_version") === version && col("image_id") =!= qid &&
        col("list_id").isin(probed.map(Integer.valueOf): _*))
      .withColumn("adc", PqExpressions.adc_distance(col("pq_code"), col("list_id"),
        r.spark.sparkContext.broadcast(luts)))
      .orderBy(col("adc"), col("image_id"))
      .limit(10)
      .select("image_id")
    val ids = r.tracer.span("search.job")(top.collect().map(_.getString(0)).toSeq)
    (ids, df, top)
  }

  /** Rows the file scans of an executed plan produced. */
  private def scanRows(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
    val p = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    p.collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }.sum
  }
}

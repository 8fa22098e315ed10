package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.data.Synth
import graft.pipeline.FeaturePipeline
import graft.sink.SnapshotSink
import graft.temporal.Temporal

/** `ingest`: batch backfill of seeded synthetic images into an empty
  * snapshot table through the flagship path — scan → as-of bind against
  * two model versions → featurize → salted repartition →
  * `SnapshotSink.append`. The per-image kernels do almost all the work and
  * the sink makes one large commit; no query operator runs. */
object IngestWorkload {

  /** Pool files per ingest job (1,600 images): PNG and JPEG rows in five
    * sizes on both sides of the scaling threshold, ~20% hot-phash skew, a
    * GIF every 37th row, and the corrupt, grey and uniform edge rows. */
  val jobFiles = 16
  /** The `local[1]` jobs for the scaling metric ingest the first quarter. */
  val quarterFiles: Int = jobFiles / 4
  /** Rows compared with the single-thread kernel loop after every job. */
  val checkedRows = 12
  /** Images timed kernel by kernel in a traced run. */
  val kernelSample = 160
  /** Set-up runs per untraced run; each mints the models again (~5 s warm,
    * ~11 s in the first, cold, run). A traced run sets up once. */
  val setupReps = 3
  /** Full-width jobs at least; an untraced run fills its window with them.
    * A traced run makes the minimum, alternately traced and untraced. */
  val minJobs = 3
  val minTracedJobs = 4
  /** Untimed full-width jobs before an untraced run's window: job times
    * keep falling over the first few jobs as the JIT settles. */
  val warmJobs = 2
  val minLocal1Jobs = 2

  private val cfg = Synth.defaultConfig

  /** The timed flagship job (graft.Bench's runPipeline shape). */
  def ingest(r: Run, input: DataFrame, m: Images.Minted, table: String,
             cpus: Int, lineage: String): SnapshotSink.Snapshot = {
    val images = input.where(col("fmt").isin("png", "jpeg"))
    val bound = Temporal.asOfJoin(images, m.modelDf(r), "ts", "valid_from")
    val numSalts = 16
    val k = math.max(2, cpus / 4)
    val features = FeaturePipeline.featurize(bound, m.bundles, cfg)
      .withColumn("salt", pmod(col("phash"), lit(numSalts)).cast("int"))
      .repartition(numSalts * k, col("salt") * k + pmod(xxhash64(col("image_id")), lit(k)))
    r.tracer.span("sink.append")(SnapshotSink.append(features, table, "image_id",
      Seq("salt"), Map("input" -> lineage)))
  }

  def run(r: Run): Unit = {
    val cpus = r.cpus
    r.startSession(cpus)
    val files = Images.chooseFiles(r.seed, jobFiles)
    val inputPaths = Images.paths(r, files)
    val quarterPaths = inputPaths.take(quarterFiles)
    val quarterIds = Images.ids(files.take(quarterFiles)).toSet
    val lineage = s"pool files ${files.mkString(",")}"
    def read(paths: Seq[String]): DataFrame = r.spark.read.parquet(paths: _*)
    val inputRows = read(inputPaths).select("image_id", "bytes", "fmt", "ts").collect()
    val ingestable = inputRows.filter(x => Set("png", "jpeg")(x.getString(2)))
      .sortBy(_.getString(0))
    val expectedRows = ingestable.length.toLong
    val expectedQuarter = ingestable.count(x => quarterIds(x.getString(0))).toLong
    val trainIds = Images.ids(files).take(Images.trainImages)

    // set-up, repeated: session start, model minting, one warm-up ingest of
    // the quarter-size input
    var minted: Images.Minted = null
    val setupTimes = (1 to (if (r.traced) 1 else setupReps)).map { i =>
      val t0 = System.nanoTime()
      r.startSession(cpus)
      val t1 = System.nanoTime()
      minted = Images.mint(r, inputPaths, trainIds)
      val t2 = System.nanoTime()
      ingest(r, read(quarterPaths), minted,
        r.scratchDir(s"warm$i").resolve("t").toString, cpus, "warm-up")
      r.info(s"ingest.setup.$i") = Seq((t1 - t0) / 1e9, (t2 - t1) / 1e9, Run.secondsSince(t2))
      Run.secondsSince(t0)
    }
    r.endToEnd("setup_s", Stats.median(setupTimes), "s")
    r.info("ingest.setup_s.samples") = setupTimes

    // the kernel-loop reference for the checked rows: the edge rows plus a
    // seeded pick of the rest
    val rnd = new scala.util.Random(r.seed)
    val picked = (Seq(0, 1, 2) ++ rnd.shuffle((3 until ingestable.length).toList)
      .take(checkedRows - 3)).map(ingestable(_))
    val noTimes = new Images.KernelTimes
    val expected = picked.map { row =>
      val v = minted.versionAt(row.getTimestamp(3).getTime)
      row.getString(0) -> Images.reference(row.getAs[Array[Byte]](1),
        minted.bundles(v), cfg, noTimes)
    }.toMap
    val plantedExpected =
      if (!r.planted("ingest.vector")) expected
      else expected.map { case (id, e) =>
        id -> e.copy(vector = e.vector.map(v => v.updated(0, v.head + 1e-9)))
      }
    val versionOf: Map[String, Int] = ingestable.map(x =>
      x.getString(0) -> minted.versionAt(x.getTimestamp(3).getTime)).toMap

    def checkTable(op: Int, table: String, rows: Long, quarter: Boolean): Unit = {
      val t = SnapshotSink.read(r.spark, table)
      val got = t.select("image_id", "model_version", "vector", "error").collect()
      val committed = got.length.toLong + (if (r.planted("ingest.rows")) 1 else 0)
      r.check(op, committed == rows, s"committed $committed rows, input has $rows PNG/JPEG rows")
      r.check(op, got.forall(x => x.isNullAt(2) != x.isNullAt(3)),
        "a row is neither exactly a vector nor a typed error")
      r.check(op, got.find(_.getString(0) == "img_00000001").exists(_.getString(3) == "decode_failed"),
        "the corrupt row is not decode_failed")
      val wrongVersion = got.count(x => !versionOf.get(x.getString(0)).contains(x.getInt(1)))
      r.check(op, wrongVersion == 0, s"$wrongVersion rows carry the wrong model version")
      val want = if (quarter) plantedExpected.filter(x => quarterIds(x._1))
        else plantedExpected
      val bad = Images.mismatches(t, want)
      r.check(op, bad.isEmpty, s"featurize differs from the kernel loop: ${bad.mkString("; ")}")
    }

    // measured: full-width jobs, after the warm-up ones
    val warm = if (r.traced) 0 else warmJobs
    var deadline = Long.MaxValue
    val jobS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val vecPerS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val heap = scala.collection.mutable.ArrayBuffer.empty[Double]
    var bytesPerVec = 0.0
    var i = 0
    while (i < warm + (if (r.traced) minTracedJobs else minJobs) ||
        System.nanoTime() < deadline) {
      if (i == warm) deadline = System.nanoTime() + (if (r.traced) 0L else r.seconds * 1000000000L)
      val timed = i >= warm
      r.setTracing(r.traceAlternate(i))
      val table = r.scratchDir(s"job$i").resolve("t").toString
      val tj = System.nanoTime()
      r.spark.sparkContext.setLocalProperty(StageListener.ScopeKey, "measure")
      val (op, snap) = r.operation("ingest.job") {
        ingest(r, read(inputPaths), minted, table, cpus, lineage)
      }
      val sec = Run.secondsSince(tj)
      r.spark.sparkContext.setLocalProperty(StageListener.ScopeKey, null)
      r.recordOpTime("ingest.job", sec * 1000)
      r.setTracing(false)
      snap.foreach { s =>
        if (timed) {
          jobS += sec
          vecPerS += s.rowCount / sec
        }
        val root = java.nio.file.Paths.get(table)
        bytesPerVec = s.files.map(f => java.nio.file.Files.size(root.resolve(f))).sum.toDouble /
          s.rowCount
        checkTable(op, table, expectedRows, quarter = false)
      }
      if (timed) heap += Stats.heapAfterGcMb()
      r.deleteTree(java.nio.file.Paths.get(table).getParent)
      i += 1
    }
    r.info("ingest.job_s_samples") = jobS.toSeq
    r.info("ingest.vec_per_s_samples") = vecPerS.toSeq
    r.info("ingest.rows_per_job") = expectedRows
    r.endToEnd("pass_s", Stats.median(jobS.toSeq), "s")
    r.endToEnd("heap_mb", heap.max, "MB")
    r.endToEnd("bytes_per_row", bytesPerVec, "B")
    if (!r.traced) {
      r.stopSession()
      return
    }

    kernelMetrics(r, read(inputPaths), minted)
    phaseMetrics(r, read(inputPaths), minted)
    r.stageMetrics("ingest", "measure")
    StreamPhase.run(r, minted)

    // scaling: the quarter-size input at local[1]; the first job in the new
    // session is a warm-up, not timed
    r.startSession(1)
    ingest(r, read(quarterPaths), minted, r.scratchDir("one-warm").resolve("t").toString, 1,
      "warm-up")
    val oneCore = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until minLocal1Jobs).foreach { j =>
      val table = r.scratchDir(s"one$j").resolve("t").toString
      val tj = System.nanoTime()
      val (op, snap) = r.operation("ingest.job.local1") {
        ingest(r, read(quarterPaths), minted, table, 1, lineage)
      }
      val sec = Run.secondsSince(tj)
      snap.foreach { s =>
        oneCore += s.rowCount / sec
        checkTable(op, table, expectedQuarter, quarter = true)
      }
      r.deleteTree(java.nio.file.Paths.get(table).getParent)
    }
    r.stopSession()
    r.info("ingest.vec_per_s_local1_samples") = oneCore.toSeq
    r.metric("ingest.scaling_eff",
      Stats.median(vecPerS.toSeq) / (cpus * Stats.median(oneCore.toSeq)), "ratio")
  }

  /** Per-kernel µs per image over a fixed sample, single-threaded. */
  private def kernelMetrics(r: Run, input: DataFrame, m: Images.Minted): Unit = {
    val rows = input.where(col("fmt").isin("png", "jpeg"))
      .orderBy("image_id").limit(kernelSample).select("bytes", "ts").collect()
    val t = new Images.KernelTimes
    r.tracer.on = true
    r.tracer.op("kernels.loop") {
      rows.foreach(x => Images.reference(x.getAs[Array[Byte]](0),
        m.bundles(m.versionAt(x.getTimestamp(1).getTime)), cfg, t))
    }
    r.tracer.on = false
    Images.KernelTimes.names.zip(t.ns).foreach { case (name, ns) =>
      r.metric(name, ns / 1e3 / t.images, "us")
    }
    r.metric("extract.descriptors_per_image",
      t.descriptors.toDouble / math.max(1, t.images - t.decodeFailed), "count")
    r.metric("kernels.decode_failed", t.decodeFailed.toDouble, "count")
  }

  /** The ingest phases, each materialized on its own (the sink's own
    * `write_millis` covers the whole lazy job). */
  private def phaseMetrics(r: Run, input: DataFrame, m: Images.Minted): Unit = {
    val sc = r.spark.sparkContext
    r.setTracing(true)
    def phase[A](scope: String)(body: => A): (A, Double) = {
      sc.setLocalProperty(StageListener.ScopeKey, scope)
      val t0 = System.nanoTime()
      val a = r.tracer.span(scope)(body)
      val s = Run.secondsSince(t0)
      sc.setLocalProperty(StageListener.ScopeKey, null)
      (a, s)
    }
    def materialize(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    r.tracer.op("ingest.phases") {
      val (scanned, scanS) = phase("phase/scan")(materialize(
        input.where(col("fmt").isin("png", "jpeg"))))
      val (bound, asofS) = phase("phase/asof")(materialize(
        Temporal.asOfJoin(scanned, m.modelDf(r), "ts", "valid_from")))
      val (feats, featS) = phase("phase/featurize")(materialize(
        FeaturePipeline.featurize(bound, m.bundles, cfg)))
      val k = math.max(2, r.cpus / 4)
      val table = r.scratchDir("phases").resolve("t").toString
      val (snap, writeS) = phase("phase/write")(SnapshotSink.append(
        feats.withColumn("salt", pmod(col("phash"), lit(16)).cast("int"))
          .repartition(16 * k, col("salt") * k + pmod(xxhash64(col("image_id")), lit(k))),
        table, "image_id", Seq("salt")))
      org.apache.spark.BenchBridge.drainListeners(sc)
      r.metric("ingest.scan_s", scanS, "s")
      r.metric("temporal.asof_s", asofS, "s")
      r.metric("pipeline.featurize_s", featS, "s")
      r.metric("pipeline.task_skew", r.listener.taskSkew("phase/featurize"), "ratio")
      r.metric("sink.write_s", writeS, "s")
      r.metric("sink.commit_ms", snap.lineage("fs_millis").toDouble, "ms")
      Seq(feats, bound, scanned).foreach(_.unpersist(blocking = true))
      r.deleteTree(java.nio.file.Paths.get(table).getParent)
    }
    r.setTracing(false)
  }
}

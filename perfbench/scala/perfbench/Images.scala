package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.data.Synth
import graft.kernels.{Imaging, Kernels}
import graft.model.ModelBundle
import graft.pipeline.FeaturePipeline.PipelineConfig

/** Seeded image inputs, models and the single-thread kernel reference. */
object Images {

  /** Rows 0 until [[poolImages]] of Synth's image table (seed 42), written
    * once per checkout as [[poolFiles]] parquet files of [[perFile]]
    * consecutive ids each. A run's input is a seeded choice of whole pool
    * files, so a new seed costs no copying; the generation time goes to the
    * run's `info`. Files of ~310 KB pack four to a 2 MB scan split, so a
    * 16-file input scans as four equal partitions whatever the seed. */
  val poolImages = 3000L
  val poolFiles = 30
  val perFile: Int = (poolImages / poolFiles).toInt

  /** The pool's files, file `f` holding the ids `f * perFile` until
    * `(f + 1) * perFile`. */
  def poolPaths(r: Run): IndexedSeq[String] = {
    val dir = r.work.resolve("cache").resolve(s"pool-n$poolImages-f$poolFiles")
    def files = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toIndexedSeq.sorted
      finally s.close()
    }
    if (!Files.exists(dir.resolve("_VERIFIED"))) {
      val t0 = System.nanoTime()
      r.deleteTree(dir)
      Synth.imageTable(r.spark, poolImages, seed = 42L, partitions = poolFiles, jpegBias = true)
        .write.parquet(dir.toString)
      val got = r.spark.read.parquet(dir.toString)
        .select(input_file_name().as("file"), col("image_id")).collect()
        .groupBy(_.getString(0)).map { case (f, rs) =>
          new java.io.File(new java.net.URI(f)).getPath -> rs.map(_.getString(1)).sorted.toSeq
        }
      val paths = files
      require(paths.length == poolFiles && paths.zipWithIndex.forall { case (p, f) =>
        got.get(p).contains(ids(Seq(f)))
      }, s"pool files in $dir do not hold $perFile consecutive ids each")
      Files.createFile(dir.resolve("_VERIFIED"))
      r.info("input.pool_generate_s") = Run.secondsSince(t0)
    }
    files
  }

  def id(i: Long): String = f"img_$i%08d"

  /** A seeded choice of `n` pool files: file 0 first (it holds the uniform,
    * corrupt and grey edge rows 0, 1 and 2), then a seeded shuffle of the
    * rest. */
  def chooseFiles(seed: Long, n: Int): Seq[Int] =
    (0 +: new scala.util.Random(seed).shuffle((1 until poolFiles).toList)).take(n)

  /** The image ids in pool files `files`, in file order. */
  def ids(files: Seq[Int]): Seq[String] =
    files.flatMap(f => (f * perFile until (f + 1) * perFile).map(i => id(i.toLong)))

  def paths(r: Run, files: Seq[Int]): Seq[String] = {
    val all = poolPaths(r)
    files.map(all)
  }

  /** Two model versions minted from the images with ids `train`, and the
    * model table the as-of join binds against. Version 2 is valid from 60%
    * of the way through the pool's timestamps. */
  def mint(r: Run, input: Seq[String], train: Seq[String]): Minted = {
    val images = r.spark.read.parquet(input: _*).where(col("image_id").isin(train: _*))
    val (modelDf, bundles) = Synth.mintModels(r.spark, images, poolImages, iterations = 1)
    Minted(modelDf.collect(), bundles)
  }

  /** Images the models are minted from. */
  val trainImages = 96

  final case class Minted(modelRows: Array[Row], bundles: Map[Int, ModelBundle]) {
    def modelDf(r: Run): DataFrame = r.spark.createDataFrame(
      java.util.Arrays.asList(modelRows: _*), modelRows.head.schema)

    /** The model version valid at `tsMillis`. */
    def versionAt(tsMillis: Long): Int = modelRows
      .filter(_.getTimestamp(1).getTime <= tsMillis)
      .maxBy(_.getTimestamp(1).getTime).getInt(0)
  }

  /** What featurize must produce for one image, computed by calling the
    * public kernels one at a time, single-threaded. */
  final case class Expected(nDescriptors: Int, vector: Option[Seq[Double]],
                            listId: Option[Int], pqCode: Option[Seq[Int]])

  /** Per-kernel nanoseconds summed over a [[reference]] pass. */
  final class KernelTimes {
    val ns: Array[Long] = new Array[Long](KernelTimes.names.length)
    var images = 0
    var descriptors = 0L
    var decodeFailed = 0
  }
  object KernelTimes {
    val names: Seq[String] = Seq("kernels.decode_us", "kernels.scale_us",
      "extract.extract_us", "kernels.vlad_us", "kernels.pca_us",
      "kernels.assign_us", "kernels.pq_us")
  }

  /** Single-thread kernel loop: decode → scale → extract → multiVLAD → PCA →
    * assign → residual + transform + PQ, each public call timed. */
  def reference(bytes: Array[Byte], bundle: ModelBundle, cfg: PipelineConfig,
                t: KernelTimes): Expected = {
    def timed[A](k: Int)(body: => A): A = {
      val t0 = System.nanoTime()
      val a = body
      t.ns(k) += System.nanoTime() - t0
      a
    }
    t.images += 1
    timed(0)(Imaging.decode(bytes)) match {
      case None =>
        t.decodeFailed += 1
        Expected(0, None, None, None)
      case Some(raster) =>
        val scaled = timed(1)(Imaging.maxPixelsScaling(raster, cfg.maxPixels))
        val desc = timed(2)(cfg.extractor.extract(scaled))
        t.descriptors += desc.length
        val vlad = timed(3)(Kernels.multiVlad(desc, bundle.codebooks))
        val vec = timed(4)(
          if (bundle.projectedLength < bundle.vladLength) Kernels.pcaProject(vlad, bundle.pca)
          else vlad)
        val li = timed(5)(Kernels.nearestCentroid(vec, bundle.coarseQuantizer))
        val code = timed(6)(Kernels.pqEncode(
          bundle.transform(Kernels.residual(vec, bundle.coarseQuantizer(li))), bundle.pq))
        Expected(desc.length, Some(vec.toSeq), Some(li), Some(code.toSeq))
    }
  }

  /** Table rows whose vector, list id, PQ code or descriptor count differ
    * from the kernel loop, for the ids in `expected`. */
  def mismatches(table: DataFrame, expected: Map[String, Expected]): Seq[String] = {
    val got = table.where(col("image_id").isin(expected.keys.toSeq: _*))
      .select("image_id", "n_descriptors", "vector", "list_id", "pq_code")
      .collect().map { row =>
        row.getString(0) -> Expected(row.getInt(1),
          Option(row.getSeq[Double](2)).map(_.toSeq),
          if (row.isNullAt(3)) None else Some(row.getInt(3)),
          Option(row.getSeq[Int](4)).map(_.toSeq))
      }.toMap
    expected.toSeq.sortBy(_._1).collect {
      case (id, want) if !got.get(id).contains(want) =>
        s"$id: table ${got.get(id)} != kernel loop $want"
    }
  }
}

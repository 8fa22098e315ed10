package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Iceberg-shaped snapshot table on Parquet (SURVEY.md §7 step 7 — no Iceberg
 * runtime jar offline, so the layout is reproduced: partitioned data files +
 * an append-only `_snapshots/v{N}.json` manifest chain; a real Iceberg writer
 * would be a thin adapter over this seam).
 *
 * Guarantees:
 *  - atomic RENAME-FREE commit: tasks write their final paths directly — each
 *    snapshot owns a unique `_snapdir=snap{N}-<uuid>/` subtree under the table
 *    root, and the manifest (the commit point) lists exactly the files that
 *    subtree produced. No driver-side file moves ever happen, so commit cost
 *    does not scale with file count (at a 10⁵-file commit a move loop — even
 *    16-wide — is the bottleneck; real table formats avoid renames entirely).
 *    A crash before the manifest leaves an unreferenced subtree that readers
 *    never see; [[vacuumOrphans]] sweeps it. (The reference's single-writer
 *    BDB sink, ds/AbstractSearchStructure.java:229–257, becomes concurrent
 *    partitioned file commits with a manifest-last protocol.)
 *  - resume: `appendMissing` left-anti-joins the input against already-
 *    committed keys (the F2 already-indexed dedup,
 *    ds/AbstractSearchStructure.java:537–546);
 *  - lineage + metrics per snapshot (north rule): per-partition row counts,
 *    key column, model versions present, wall-clock, parent snapshot id.
 */
object SnapshotSink {

  final case class Snapshot(
      id: Int,
      parentId: Int,
      files: Seq[String],
      rowCount: Long,
      partitionRowCounts: Map[String, Long],
      keyCol: String,
      lineage: Map[String, String])

  private def snapshotsDir(table: String): Path = Paths.get(table, "_snapshots")

  /** Synthetic partition column carrying the snapshot-unique data-subtree
    * name; written into paths by [[append]], dropped by readers. */
  private val snapDirCol = "_snapdir"

  /** Materialize a directory listing and CLOSE the stream (Files.list leaks a
    * directory fd otherwise — it accumulates in a long-lived driver). */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def walkFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq finally s.close()
  }

  def lastSnapshot(table: String): Option[Snapshot] = {
    val dir = snapshotsDir(table)
    if (!Files.isDirectory(dir)) return None
    val ids = listDir(dir)
      .map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d+\\.json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
    if (ids.isEmpty) None
    else Some(readSnapshot(table, ids.max))
  }

  def readSnapshot(table: String, id: Int): Snapshot = {
    val text = new String(
      Files.readAllBytes(snapshotsDir(table).resolve(s"v$id.json")),
      StandardCharsets.UTF_8)
    manifestParses.incrementAndGet()
    parseSnapshot(text)
  }

  /** Manifest-parse counter — the read-planning cost seam SnapshotSinkSpec
    * asserts against (reads must NOT parse history below a compaction). */
  private[graft] val manifestParses = new java.util.concurrent.atomic.AtomicLong

  /**
   * Append `df` to the table partitioned by `partitionCols`, committing a new
   * snapshot. Returns the committed snapshot. `keyCol` is the resume identity.
   */
  def append(df: DataFrame, table: String, keyCol: String,
             partitionCols: Seq[String],
             lineage: Map[String, String] = Map.empty): Snapshot = {
    val spark = df.sparkSession
    val t0 = System.currentTimeMillis()
    val parent = lastSnapshot(table)
    val snapId = parent.map(_.id + 1).getOrElse(1)
    val tableRoot = Paths.get(table)
    Files.createDirectories(tableRoot)

    // rename-free: tasks write FINAL paths directly into a snapshot-unique
    // subtree. The subtree is itself named as a partition dir
    // (`_snapdir=snap{N}-<uuid>`) so that multi-snapshot reads present ONE
    // consistent directory structure to partition inference (a non-k=v dir
    // level would make each snapshot its own conflicting partition root);
    // readers drop the synthetic `_snapdir` column. The `_` prefix hides the
    // subtree from naive recursive discovery, and until the manifest below is
    // written nothing references these files — a crashed attempt is invisible
    // and [[vacuumOrphans]] reclaims it.
    val dataDir = tableRoot.resolve(
      s"$snapDirCol=snap$snapId-${java.util.UUID.randomUUID().toString}")
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(dataDir.toString)
    val tWrite = System.currentTimeMillis()

    val written: Seq[String] = walkFiles(dataDir)
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => tableRoot.relativize(p).toString)

    // per-partition row counts from parquet footers — metadata-only, O(files)
    // not O(rows). Small commits read footers on a bounded driver pool; above
    // the threshold the footer pass runs as a distributed Spark job so no
    // O(files) driver loop survives at a 10⁵-file commit.
    val counts: Seq[(String, Long)] =
      if (written.sizeIs <= driverFooterThreshold)
        inParallel(written)(f => f -> parquetRowCount(tableRoot.resolve(f)))
      else distributedRowCounts(spark, tableRoot, written)
    val partCounts: Map[String, Long] = counts
      .groupBy { case (f, _) =>
        val dir = Option(Paths.get(f).getParent).map(_.toString).getOrElse("")
        // "salt=3/salt2=…" → "3/…" (values only, matching groupBy output);
        // the synthetic snapshot-dir level is not a data partition
        dir.split("/")
          .filter(s => s.contains("=") && !s.startsWith(snapDirCol + "="))
          .map(_.split("=", 2)(1)).mkString("/")
      }
      .map { case (part, fs) => part -> fs.map(_._2).sum }
    val rowCount = partCounts.values.sum

    val snap = Snapshot(snapId, parent.map(_.id).getOrElse(0), written, rowCount,
      partCounts, keyCol,
      lineage ++ Map(
        "commit_millis" -> (System.currentTimeMillis() - t0).toString,
        "write_millis" -> (tWrite - t0).toString,
        "fs_millis" -> (System.currentTimeMillis() - tWrite).toString))
    // manifest write IS the commit point (write temp + atomic rename)
    val dir = snapshotsDir(table)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".v$snapId.json.tmp")
    Files.write(tmp, renderSnapshot(snap).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(s"v$snapId.json"), StandardCopyOption.ATOMIC_MOVE)
    snap
  }

  /** Read the current committed state. */
  def read(spark: SparkSession, table: String): DataFrame =
    readAsOf(spark, table, Int.MaxValue)

  /**
   * Time travel: the table state as of snapshot `asOf` (inclusive) — the
   * union of the files of all snapshots ≤ asOf that are not subsumed by a
   * compaction ≤ asOf. Manifests are immutable and data files are only
   * removed by [[vacuum]], so any retained snapshot id reproduces its exact
   * historical state (the Iceberg `VERSION AS OF` semantics over our
   * manifest chain).
   */
  def readAsOf(spark: SparkSession, table: String, asOf: Int): DataFrame = {
    val snaps = snapshotsForRead(table, asOf)
    require(snaps.nonEmpty, s"no snapshots in $table at or before v$asOf")
    val root = Paths.get(table)
    val files = activeFiles(snaps).map(f => root.resolve(f).toString)
    spark.read.option("basePath", table).parquet(files: _*).drop(snapDirCol)
  }

  /**
   * The manifests a read at `asOf` actually needs: walk ids NEWEST-FIRST and
   * stop descending once a compaction's `compacts_through` horizon covers the
   * rest — manifests below the horizon contribute no active files, so they
   * are never opened or parsed. This bounds read planning to O(commits since
   * the last compaction) manifest parses + one directory listing, instead of
   * O(all history): with the documented compact-regularly operational
   * contract (any long-lived ingest should [[compact]] periodically anyway
   * for the small-file problem), planning cost stays flat as history grows —
   * at 10⁴ historical commits a reader parses only the few manifests above
   * the newest compaction. [[vacuum]]/[[vacuumOrphans]] still read full
   * history (maintenance ops, by design).
   */
  private def snapshotsForRead(table: String, asOf: Int): Seq[Snapshot] = {
    val dir = snapshotsDir(table)
    if (!Files.isDirectory(dir)) return Seq.empty
    val ids = listDir(dir)
      .map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d+\\.json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .filter(_ <= asOf)
      .sorted(Ordering[Int].reverse)
    var cutoff = 0
    val out = Seq.newBuilder[Snapshot]
    val it = ids.iterator
    var go = true
    while (go && it.hasNext) {
      val id = it.next()
      if (id <= cutoff) go = false
      else {
        val s = readSnapshot(table, id)
        out += s
        s.lineage.get("compacts_through")
          .foreach(t => cutoff = math.max(cutoff, t.toInt))
      }
    }
    out.result()
  }

  /** Files visible for the state defined by `snaps` (ids ≤ some asOf):
    * newest-first walk; a compaction snapshot subsumes every snapshot with
    * id ≤ its `compacts_through`. */
  private def activeFiles(snaps: Seq[Snapshot]): Seq[String] = {
    var cutoff = 0
    val out = Seq.newBuilder[String]
    snaps.sortBy(-_.id).foreach { s =>
      if (s.id > cutoff) {
        out ++= s.files
        s.lineage.get("compacts_through")
          .foreach(t => cutoff = math.max(cutoff, t.toInt))
      }
    }
    out.result()
  }

  /**
   * Compaction: rewrite the CURRENT state as one snapshot whose manifest
   * carries `compacts_through = <previous head id>` — readers at or after
   * the compaction see only the rewritten files, while time travel below it
   * still resolves the original small files (they stay on disk until
   * [[vacuum]]). The small-file problem of a many-append ingest (one file
   * per writer task per commit) is repaired without breaking atomicity:
   * the compaction is itself an ordinary manifest-last commit.
   */
  def compact(spark: SparkSession, table: String, keyCol: String,
              partitionCols: Seq[String],
              filesPerPartition: Int = 1): Snapshot = {
    val head = lastSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no snapshots to compact in $table"))
    val current = read(spark, table)
    val compacted =
      if (partitionCols.isEmpty) current.repartition(filesPerPartition)
      else if (filesPerPartition <= 1) current.repartition(partitionCols.map(col): _*)
      else current.repartition( // up-to-k files per partition dir (hash split on the key)
        partitionCols.map(col) :+
          pmod(xxhash64(col(keyCol)), lit(filesPerPartition)): _*)
    append(compacted, table, keyCol, partitionCols,
      Map("compacts_through" -> head.id.toString))
  }

  /**
   * Snapshot expiry: delete the data files and manifests of snapshots that
   * are invisible to every read at `retainAsOf` or later — i.e. snapshots
   * subsumed by a compaction with id ≤ retainAsOf. Time travel below the
   * horizon is forfeited (the Iceberg `expire_snapshots` contract); reads at
   * or after it are untouched. Returns the deleted data-file paths.
   */
  def vacuum(table: String, retainAsOf: Int): Seq[String] = {
    val snaps = allSnapshots(table)
    val horizon = snaps
      .filter(s => s.id <= retainAsOf && s.lineage.contains("compacts_through"))
      .map(_.lineage("compacts_through").toInt)
      .foldLeft(0)(math.max)
    val obsolete = snaps.filter(_.id <= horizon)
    val root = Paths.get(table)
    val deleted = obsolete.flatMap { s =>
      // manifest FIRST (the commit point of expiry): a crash mid-vacuum then
      // leaves data files with no manifest — invisible, reclaimed by a re-run
      // or [[vacuumOrphans]] — never a manifest referencing deleted files,
      // which would turn time travel at the horizon into a missing-parquet
      // error instead of a clean expiry signal.
      Files.deleteIfExists(snapshotsDir(table).resolve(s"v${s.id}.json"))
      s.files.filter(f => Files.deleteIfExists(root.resolve(f)))
    }
    deleted
  }

  /**
   * Sweep data subtrees no manifest references — the leftovers of append
   * attempts that crashed before their manifest (their files were never
   * visible). Only subtrees whose embedded snapshot id is ≤ the committed
   * head are candidates: an id above the head may be an IN-FLIGHT append
   * (single-writer protocol), so it is never touched. Returns deleted dirs.
   */
  def vacuumOrphans(table: String): Seq[String] = {
    val root = Paths.get(table)
    if (!Files.isDirectory(root)) return Seq.empty
    val head = lastSnapshot(table).map(_.id).getOrElse(0)
    val referenced = allSnapshots(table).flatMap(_.files)
    val DataDir = (java.util.regex.Pattern.quote(snapDirCol) + "=snap(\\d+)-.*").r
    listDir(root).flatMap { p =>
      p.getFileName.toString match {
        case name @ DataDir(id) if id.toInt <= head &&
            !referenced.exists(_.startsWith(name + "/")) =>
          deleteRecursively(p)
          Some(name)
        case _ => None
      }
    }
  }

  def allSnapshots(table: String): Seq[Snapshot] = {
    val dir = snapshotsDir(table)
    if (!Files.isDirectory(dir)) return Seq.empty
    listDir(dir)
      .map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d+\\.json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .sorted
      .map(readSnapshot(table, _))
  }

  /**
   * Resumable append: write only input rows whose `keyCol` is not yet in the
   * table (left-anti join — the F2 pattern). Returns None when nothing new.
   */
  def appendMissing(df: DataFrame, table: String, keyCol: String,
                    partitionCols: Seq[String],
                    lineage: Map[String, String] = Map.empty): Option[Snapshot] =
    appendMissingImpl(df, table, keyCol, partitionCols, None, lineage)

  /**
   * Partition-scoped resume: like [[appendMissing]] but the anti-join probes
   * only committed rows matching `scope` (a predicate on the partition
   * columns → the probe scan partition-prunes). This bounds the per-batch
   * probe of a long-lived stream, which otherwise grows O(table) over the
   * stream's lifetime. CONTRACT: the caller guarantees incoming keys can
   * only collide with rows INSIDE `scope` (e.g. keys arrive within a bounded
   * time-bucket window); a key whose duplicate lives outside the scope is
   * appended again — scoping trades the cross-run global guarantee for a
   * bounded probe, it does not preserve it.
   */
  def appendMissingScoped(df: DataFrame, table: String, keyCol: String,
                          partitionCols: Seq[String], scope: org.apache.spark.sql.Column,
                          lineage: Map[String, String] = Map.empty): Option[Snapshot] =
    appendMissingImpl(df, table, keyCol, partitionCols, Some(scope), lineage)

  private def appendMissingImpl(df: DataFrame, table: String, keyCol: String,
                                partitionCols: Seq[String],
                                scope: Option[org.apache.spark.sql.Column],
                                lineage: Map[String, String]): Option[Snapshot] = {
    val spark = df.sparkSession
    val fresh = lastSnapshot(table) match {
      case None => df
      case Some(_) =>
        val committed = read(spark, table)
        val existing = scope.fold(committed)(committed.where(_)).select(col(keyCol))
        df.join(existing, Seq(keyCol), "left_anti")
    }
    if (fresh.isEmpty) None
    else Some(append(fresh, table, keyCol, partitionCols, lineage))
  }

  /** Commits with at most this many files read footers on the driver pool;
    * larger commits run the footer pass as a distributed Spark job. Test
    * override via -Dgraft.snapshot.driverCountThreshold. */
  private def driverFooterThreshold: Int =
    sys.props.get("graft.snapshot.driverCountThreshold").map(_.toInt).getOrElse(256)

  /** Per-file row counts as a Spark job: the file list is itself distributed
    * and each executor reads its footers — no O(files) driver loop, which is
    * what a 10⁵-file commit needs. */
  private def distributedRowCounts(spark: SparkSession, root: Path,
                                   files: Seq[String]): Seq[(String, Long)] = {
    val rootStr = root.toString
    import spark.implicits._
    spark.createDataset(files)
      .repartition(math.min(files.size,
        spark.sparkContext.defaultParallelism * 2))
      .map(f => (f, parquetRowCount(Paths.get(rootStr, f))))
      .collect().toSeq
  }

  /** Order-preserving parallel map on a bounded driver pool (commit metadata
    * I/O: small-commit footer reads). */
  private def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.sizeIs <= 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, items.size))
    try {
      val futures = items.map(a => pool.submit(
        new java.util.concurrent.Callable[B] { override def call(): B = f(a) }))
      try futures.map(_.get())
      catch {
        case e: java.util.concurrent.ExecutionException =>
          // first failure wins: cancel everything still queued/running so no
          // further moves mutate the table dir after the commit has failed,
          // and surface the real cause (not the ExecutionException wrapper)
          futures.foreach(_.cancel(true))
          pool.shutdownNow()
          throw Option(e.getCause).getOrElse(e)
      }
    } finally { pool.shutdown(); () }
  }

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Row count from a parquet file footer (driver-side, no Spark job). */
  private def parquetRowCount(file: Path): Long = {
    val input = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString), hadoopConf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(input)
    try reader.getRecordCount finally reader.close()
  }

  // ------------------------------------------------------------- json (flat)

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def renderSnapshot(s: Snapshot): String = {
    val files = s.files.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")
    val parts = s.partitionRowCounts.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")
    val lin = s.lineage.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }.mkString("{", ",", "}")
    s"""{"id":${s.id},"parent_id":${s.parentId},"row_count":${s.rowCount},""" +
      s""""key_col":"${esc(s.keyCol)}","files":$files,""" +
      s""""partition_row_counts":$parts,"lineage":$lin}"""
  }

  /** Minimal parser for the flat JSON we render (no nested objects beyond the
    * two maps, no arrays of objects). */
  private def parseSnapshot(text: String): Snapshot = {
    def intField(name: String): Long = {
      val m = ("\"" + name + "\":(-?\\d+)").r.findFirstMatchIn(text)
      m.get.group(1).toLong
    }
    def strField(name: String): String = {
      val m = ("\"" + name + "\":\"((?:[^\"\\\\]|\\\\.)*)\"").r.findFirstMatchIn(text)
      unesc(m.get.group(1))
    }
    def block(name: String, open: Char, close: Char): String = {
      val start = text.indexOf("\"" + name + "\":") + name.length + 3
      var depth = 0; var i = start; val sb = new StringBuilder
      while (i < text.length) {
        val c = text.charAt(i)
        if (c == open) depth += 1
        if (depth > 0) sb.append(c)
        if (c == close) { depth -= 1; if (depth == 0) return sb.toString }
        i += 1
      }
      sb.toString
    }
    val filesBlock = block("files", '[', ']')
    val files = "\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(filesBlock).map(m => unesc(m.group(1))).toSeq
    val partsBlock = block("partition_row_counts", '{', '}')
    val parts = "\"((?:[^\"\\\\]|\\\\.)*)\":(\\d+)".r
      .findAllMatchIn(partsBlock).map(m => unesc(m.group(1)) -> m.group(2).toLong).toMap
    val linBlock = block("lineage", '{', '}')
    val lin = "\"((?:[^\"\\\\]|\\\\.)*)\":\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(linBlock).map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
    Snapshot(intField("id").toInt, intField("parent_id").toInt, files,
      intField("row_count"), parts, strField("key_col"), lin)
  }

  /** Single-pass inverse of [[esc]]: sequential String.replace corrupted
    * "\\n" (escaped backslash + n → backslash-newline) and never decoded the
    * \WWWW control escapes — paths/lineage with backslashes or control chars
    * must round-trip exactly for resume to work. */
  private def unesc(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case _ => sb.append(c); i += 1 // not one of ours: keep literally
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  implicit private class IterAsScala[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      override def hasNext: Boolean = it.hasNext
      override def next(): T = it.next()
    }
  }
}

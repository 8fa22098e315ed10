package graft.temporal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Point-in-time / as-of join + windowed feature engineering, composed from
 * Catalyst built-ins (SURVEY.md §2.5 J4, §4 item 3 — a custom Strategy is not
 * needed: one window shuffle on the version side + one equi-join).
 *
 * The reference's analog of "model version" is which codebook/PCA/PQ files a
 * job was launched with (exm/YFCC100MExample.java:72–78). This module makes
 * that binding explicit and leakage-free: a left row at time t binds the
 * right row with the greatest `valid_from <= t` for its key.
 */
object Temporal {

  /** Derive validity intervals on the version side:
    * valid_to = lead(valid_from) over (partition by keys order by valid_from).
    * Null valid_to = open-ended (latest version). One shuffle of the (small)
    * version side only. */
  def withValidity(versions: DataFrame, tsCol: String, keyCols: Seq[String],
                   validToCol: String = "valid_to"): DataFrame = {
    // Keyless case: Spark logs "No Partition Defined for Window" here — that
    // is EXPECTED and harmless: the keyless version side is the model table
    // (a handful of rows, broadcast downstream in asOfJoin), so the single-
    // partition window touches O(versions), never the event side.
    val w =
      if (keyCols.isEmpty) Window.partitionBy().orderBy(col(tsCol))
      else Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    versions.withColumn(validToCol, lead(col(tsCol), 1).over(w))
  }

  /**
   * As-of (backward) join: for each left row, attach the latest right row with
   * `right.tsCol <= left.tsCol` (strictly no future rows → zero temporal
   * leakage), matching on equi `keys` when given.
   *
   * Plan shape: right side gets validity intervals (window over the small
   * side), then an equi-join on keys with the range predicate
   * `r.valid_from <= l.ts < r.valid_to` — Catalyst picks broadcast-hash when
   * the version side is small (the common case: O(versions) rows), sort-merge
   * otherwise; AQE handles skewed keys. With no keys the right side must be
   * small (model-version style) and is broadcast explicitly.
   *
   * Column collision rule: right's ts column is exposed as `asof_<tsRight>`.
   *
   * `lookback`: optional staleness bound — a version older than
   * `left.ts − lookback` does NOT bind (feature-engineering "max staleness":
   * a 2-year-old price is worse than no price). SQL-interval expression,
   * e.g. `expr("INTERVAL 30 DAYS")`.
   */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      leftTs: String,
      rightTs: String,
      keys: Seq[String] = Seq.empty,
      joinType: String = "inner",
      lookback: Option[Column] = None): DataFrame = {
    val validTo = "__asof_valid_to"
    val r0 = withValidity(right, rightTs, keys, validTo)
      .withColumnRenamed(rightTs, s"asof_$rightTs")
    val rightKeyed = keys.foldLeft(r0)((df, k) => df.withColumnRenamed(k, s"__asof_k_$k"))
    val r = if (keys.isEmpty) broadcast(rightKeyed) else rightKeyed
    val rangeCond0 = col(s"asof_$rightTs") <= col(leftTs) &&
      (col(validTo).isNull || col(leftTs) < col(validTo))
    val rangeCond = lookback match {
      case None => rangeCond0
      case Some(lb) => rangeCond0 && col(leftTs) <= col(s"asof_$rightTs") + lb
    }
    val cond = keys
      .map(k => col(k) === col(s"__asof_k_$k"))
      .foldLeft(rangeCond)(_ && _)
    left.join(r, cond, joinType)
      .drop(validTo)
      .drop(keys.map(k => s"__asof_k_$k"): _*)
  }

  /**
   * Forward as-of join: for each left row, attach the EARLIEST right row with
   * `right.tsCol >= left.tsCol` — the "next scheduled version" binding (next
   * model retrain, next calibration window). Mirror image of [[asOfJoin]]:
   * a right row at time r is valid for left timestamps in
   * (previous right ts, r], derived with lag() over the same small-side
   * window; then the identical equi+range join shape (broadcast when
   * keyless). `lookahead` bounds how far in the future a binding may be.
   */
  def asOfJoinForward(
      left: DataFrame,
      right: DataFrame,
      leftTs: String,
      rightTs: String,
      keys: Seq[String] = Seq.empty,
      joinType: String = "inner",
      lookahead: Option[Column] = None): DataFrame = {
    val validFrom = "__asof_valid_prev"
    val w =
      if (keys.isEmpty) Window.partitionBy().orderBy(col(rightTs))
      else Window.partitionBy(keys.map(col): _*).orderBy(col(rightTs))
    val r0 = right.withColumn(validFrom, lag(col(rightTs), 1).over(w))
      .withColumnRenamed(rightTs, s"asof_$rightTs")
    val rightKeyed = keys.foldLeft(r0)((df, k) => df.withColumnRenamed(k, s"__asof_k_$k"))
    val r = if (keys.isEmpty) broadcast(rightKeyed) else rightKeyed
    val rangeCond0 = col(s"asof_$rightTs") >= col(leftTs) &&
      (col(validFrom).isNull || col(leftTs) > col(validFrom))
    val rangeCond = lookahead match {
      case None => rangeCond0
      case Some(la) => rangeCond0 && col(s"asof_$rightTs") <= col(leftTs) + la
    }
    val cond = keys
      .map(k => col(k) === col(s"__asof_k_$k"))
      .foldLeft(rangeCond)(_ && _)
    left.join(r, cond, joinType)
      .drop(validFrom)
      .drop(keys.map(k => s"__asof_k_$k"): _*)
  }

  /**
   * Typed sort-merge as-of join — the explicit "range-partitioned sorted-merge"
   * formulation (north rule): both sides are hash-partitioned by key via
   * `cogroupSorted` (one shuffle each), each group's iterators arrive sorted by
   * event time, and a single merge pass carries the latest version whose
   * `valid_from <= ts` forward. Semantically identical to [[asOfJoin]] with
   * `joinType="left"` restricted to (key, ts) columns + the bound version —
   * asserted in TemporalSpec.
   *
   * CONTRACT — this is the demonstration of the merge formulation, not the
   * general operator: the payload is pinned to (String key, Long leftId,
   * Int version) and the inputs are projected/cast to exactly those columns.
   * Reach for [[asOfJoin]] for arbitrary schemas, extra payload columns,
   * lookback bounds, or join types — it plans the same single-shuffle shape
   * through Catalyst and is the supported API. This variant exists for the
   * regime where the PER-KEY version history is itself large (the window in
   * [[asOfJoin]] shuffles the version side; here both sides stream through
   * one merge pass per key) — at that point, bind the id column and join the
   * full payload back by (key, version).
   *
   * left: (key, ts, leftId); right: (key, valid_from, version).
   * Returns (key, leftId, ts, version: null when no version is valid yet).
   */
  def asOfJoinSortMerge(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, leftId: String,
      rightTs: String, versionCol: String): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    val l = left.select(col(key).cast("string"), col(leftId).cast("long"),
      col(leftTs).cast("timestamp").cast("long"))
      .toDF("_1", "_2", "_3").as[(String, Long, Long)]
    val r = right.select(col(key).cast("string"), col(versionCol).cast("int"),
      col(rightTs).cast("timestamp").cast("long"))
      .toDF("_1", "_2", "_3").as[(String, Int, Long)]
    val merged = l.groupByKey(_._1).cogroupSorted(r.groupByKey(_._1))(
      $"_3")($"_3", $"_2") { (k, lefts, rights) =>
      // both iterators sorted by ts; merge with carry of the latest version
      val rIt = rights.buffered
      var carry: java.lang.Integer = null
      lefts.map { case (_, id, ts) =>
        while (rIt.hasNext && rIt.head._3 <= ts) {
          carry = rIt.next()._2
        }
        (k, id, ts, Option(carry).map(_.toInt))
      }
    }
    merged.toDF(key, leftId, leftTs, versionCol)
      .withColumn(leftTs, col(leftTs).cast("timestamp"))
  }

  /**
   * Forward-fill: propagate the last non-null observation forward in time
   * within each entity. `last(_, ignoreNulls = true)` over
   * unbounded-preceding..current — values flow strictly forward (no leakage).
   */
  def backfill(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
               valueCols: Seq[String], suffix: String = "_filled"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(df) { (d, c) =>
      d.withColumn(c + suffix, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Per-entity lag/lead feature columns over event time. */
  def lagLead(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
              valueCol: String, offsets: Seq[Int] = Seq(1)): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(col): _*)
    offsets.foldLeft(df) { (d, k) =>
      d.withColumn(s"${valueCol}_lag$k", lag(col(valueCol), k).over(w))
        .withColumn(s"${valueCol}_lead$k", lead(col(valueCol), k).over(w))
    }
  }

  /**
   * Sessionize: a new session starts when the gap to the previous event of the
   * same entity exceeds `gapSeconds` — exactly, to the microsecond (a gap of
   * gapSeconds + 0.4 s is a new session). session_seq = running count of
   * session-starts (1-based); session_id = "<entity>#<seq>".
   */
  def sessionize(df: DataFrame, keys: Seq[String], tsCol: String,
                 gapSeconds: Long,
                 sessionCol: String = "session_id",
                 tieBreakCols: Seq[String] = Seq.empty): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((tsCol +: tieBreakCols).map(col): _*)
    val prevTs = lag(col(tsCol), 1).over(w)
    // TIMESTAMP_NTZ → TIMESTAMP (UTC session) → epoch microseconds: a cast
    // to long would floor both sides to whole seconds first
    val isNew = when(prevTs.isNull, 1)
      .when(unix_micros(col(tsCol).cast("timestamp")) -
        unix_micros(prevTs.cast("timestamp")) > gapSeconds * 1000000L, 1)
      .otherwise(0)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__is_new_session", isNew)
      .withColumn(s"${sessionCol}_seq", sum(col("__is_new_session")).over(wRun))
      .withColumn(sessionCol,
        concat_ws("#", keys.map(col) :+ col(s"${sessionCol}_seq").cast("string"): _*))
      .drop("__is_new_session")
  }

  /** Explicit skew salt: `pmod(saltSource, buckets)` — used as a partition /
    * pre-aggregation column for hot phash/fmt keys (SURVEY.md §4 shuffle plan).
    * Two-phase aggregate: groupBy(key, salt).agg(partial) then groupBy(key). */
  def withSalt(df: DataFrame, saltSource: Column, buckets: Int,
               saltCol: String = "salt"): DataFrame =
    df.withColumn(saltCol, pmod(saltSource, lit(buckets)).cast("int"))
}

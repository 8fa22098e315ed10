package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.temporal.Temporal

/** As-of join / backfill / sessionize semantics vs a straight-line scalar
  * oracle computed in-test (SURVEY.md §5.2): zero temporal leakage, latest-
  * version-wins, forward-only flow. */
class TemporalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(minutes: Long) = new Timestamp(1700000000000L + minutes * 60000L)

  // deterministic pseudo-random event set: 5 entities × 40 events
  private val rnd = new scala.util.Random(99)
  private val events = (0 until 200).map { i =>
    (i.toLong, s"u${i % 5}", ts(rnd.nextInt(10000).toLong),
      if (rnd.nextInt(4) == 0) Some(rnd.nextDouble() * 100) else None)
  }
  private val versions = (1 to 6).map(v => (v, s"u${v % 5}", ts(v * 1500L)))

  test("asOfJoin binds the latest version with valid_from <= ts — zero leakage") {
    val left = events.toDF("event_id", "entity", "ts", "opt_value")
    val right = versions.toDF("version", "entity", "valid_from")
    val got = Temporal.asOfJoin(left, right, "ts", "valid_from", keys = Seq("entity"))
      .select("event_id", "version").as[(Long, Int)].collect().toMap

    // scalar oracle
    val byEntity = versions.groupBy(_._2)
    events.foreach { case (id, entity, t, _) =>
      val eligible = byEntity.getOrElse(entity, Seq.empty)
        .filter(v => !v._3.after(t)) // valid_from <= ts ONLY — no future models
      val expected = if (eligible.isEmpty) None
        else Some(eligible.maxBy(_._3.getTime)._1)
      assert(got.get(id) == expected,
        s"event $id at $t: got ${got.get(id)}, want $expected")
    }
    // inner join drops rows with no eligible version
    val expectedCount = events.count { case (_, e, t, _) =>
      byEntity.getOrElse(e, Seq.empty).exists(v => !v._3.after(t)) }
    assert(got.size == expectedCount)
  }

  test("asOfJoinForward binds the EARLIEST version with valid_from >= ts " +
    "(mirror of the backward join, scalar oracle)") {
    val left = events.toDF("event_id", "entity", "ts", "opt_value")
    val right = versions.toDF("version", "entity", "valid_from")
    val got = Temporal.asOfJoinForward(left, right, "ts", "valid_from",
      keys = Seq("entity"))
      .select("event_id", "version").as[(Long, Int)].collect()
    assert(got.map(_._1).distinct.length == got.length, "at most one binding per event")
    val gotMap = got.toMap
    val byEntity = versions.groupBy(_._2)
    events.foreach { case (id, entity, t, _) =>
      val eligible = byEntity.getOrElse(entity, Seq.empty)
        .filter(v => !v._3.before(t)) // valid_from >= ts ONLY — no past rows
      val expected = if (eligible.isEmpty) None
        else Some(eligible.minBy(_._3.getTime)._1)
      assert(gotMap.get(id) == expected, s"event $id")
    }
  }

  test("asOfJoin left join keeps unmatched rows with null version") {
    val left = Seq((1L, "a", ts(0)), (2L, "a", ts(100))).toDF("id", "k", "ts")
    val right = Seq((7, "a", ts(50))).toDF("version", "k", "valid_from")
    val got = Temporal.asOfJoin(left, right, "ts", "valid_from", Seq("k"), "left")
      .select("id", "version").collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(got == Map(1L -> -1, 2L -> 7))
  }

  test("asOfJoin keyless (global model versions) broadcasts and binds correctly") {
    val left = Seq((1L, ts(10)), (2L, ts(20)), (3L, ts(35))).toDF("id", "ts")
    val right = Seq((1, ts(0)), (2, ts(15)), (3, ts(30))).toDF("version", "valid_from")
    val got = Temporal.asOfJoin(left, right, "ts", "valid_from")
      .select("id", "version").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 2, 3L -> 3))
  }

  test("asOfJoinSortMerge (cogroupSorted merge) ≡ interval-join asOfJoin") {
    val left = events.map { case (id, e, t, _) => (e, t, id) }
      .toDF("entity", "ts", "event_id")
    val right = versions.map { case (v, e, t) => (e, t, v) }
      .toDF("entity", "valid_from", "version")
    val viaIntervals = Temporal.asOfJoin(left, right, "ts", "valid_from",
      keys = Seq("entity"), joinType = "left")
      .select("event_id", "version").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    val viaSortMerge = Temporal.asOfJoinSortMerge(left, right,
      key = "entity", leftTs = "ts", leftId = "event_id",
      rightTs = "valid_from", versionCol = "version")
      .select("event_id", "version").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(viaSortMerge == viaIntervals)
    assert(viaSortMerge.size == events.size)
  }

  test("backfill: last non-null flows forward only; leading nulls stay null") {
    val df = events.toDF("event_id", "entity", "ts", "opt_value")
    val got = Temporal.backfill(df, Seq("entity"), Seq("ts", "event_id"), Seq("opt_value"))
      .select("event_id", "opt_value_filled")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // scalar oracle: per entity, sort by (ts, id), carry last observed
    events.groupBy(_._2).foreach { case (_, evs) =>
      var carry: Option[Double] = None
      evs.sortBy(e => (e._3.getTime, e._1)).foreach { case (id, _, _, v) =>
        if (v.isDefined) carry = v
        assert(got(id) == carry, s"event $id: got ${got(id)}, want $carry")
      }
    }
  }

  test("sessionize: gap > threshold ⇔ new session id (scalar oracle)") {
    val df = events.toDF("event_id", "entity", "ts", "opt_value")
    val gap = 600L // 10 minutes
    val got = Temporal.sessionize(df, Seq("entity"), "ts", gap, tieBreakCols = Seq("event_id"))
      .select("event_id", "session_id_seq")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    events.groupBy(_._2).foreach { case (_, evs) =>
      var seq = 0L
      var prev: Option[Long] = None
      evs.sortBy(e => (e._3.getTime, e._1)).foreach { case (id, _, t, _) =>
        if (prev.isEmpty || (t.getTime - prev.get) / 1000 > gap) seq += 1
        prev = Some(t.getTime)
        assert(got(id) == seq, s"event $id: got ${got(id)}, want $seq")
      }
    }
  }

  test("sessionize compares elapsed time exactly, not in whole seconds") {
    // gaps of exactly 1800 s (same session), 1800.4 s and 1800.6 s (new
    // sessions); flooring each timestamp to whole seconds would read the
    // 1800.4 s gap as 1800 s
    val t0 = 1700000000000L
    val df = Seq((1L, t0), (2L, t0 + 1800000L), (3L, t0 + 3600400L),
        (4L, t0 + 5401000L))
      .map { case (id, ms) => (id, "e", new Timestamp(ms)) }
      .toDF("event_id", "entity", "ts")
    val got = Temporal.sessionize(df, Seq("entity"), "ts", 1800L,
        tieBreakCols = Seq("event_id"))
      .select("event_id", "session_id_seq").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L), s"got $got")
  }

  test("lagLead matches per-entity neighbors") {
    val df = Seq((1L, "a", ts(1), 10.0), (2L, "a", ts(2), 20.0), (3L, "a", ts(3), 30.0))
      .toDF("event_id", "entity", "ts", "value")
    val got = Temporal.lagLead(df, Seq("entity"), Seq("ts", "event_id"), "value")
      .select("event_id", "value_lag1", "value_lead1")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(got == Set((1L, null, 20.0), (2L, 10.0, 30.0), (3L, 20.0, null)))
  }

  test("withSalt: pmod salt bounded and deterministic") {
    val df = Seq.tabulate(100)(i => (i.toLong, i.toLong * 7919)).toDF("id", "phash")
    val salted = Temporal.withSalt(df, col("phash"), 8).select("salt").as[Int].collect()
    assert(salted.forall(s => s >= 0 && s < 8))
  }

  test("asOfJoin lookback: versions staler than the bound do not bind; " +
    "fresh ones bind exactly as without it") {
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val left = Seq((1L, "k", ts(0)), (2L, "k", ts(30)), (3L, "k", ts(200)))
      .toDF("event_id", "key", "ts")
    val versions = Seq(("k", 7, ts(-5)), ("k", 8, ts(25)))
      .toDF("key", "version", "valid_from")
    val bound = Temporal.asOfJoin(left, versions, "ts", "valid_from",
      keys = Seq("key"), lookback = Some(expr("INTERVAL 1 HOUR")))
      .select("event_id", "version").as[(Long, Int)].collect().toMap
    // event 1: v7 is 5 min old → binds; event 2: v8 is 5 min old → binds;
    // event 3: v8 is 175 min old → exceeds 1h bound, row drops (inner)
    assert(bound == Map(1L -> 7, 2L -> 8))
  }
}

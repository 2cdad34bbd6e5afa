package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The q100–q102 warehouse-ops family: gap-fill grid, SCD2 merge, and
  * ordered session funnel — invariants + brute-force recomputes on
  * sf0.001; exact cross-engine parity is the DuckDB gate's job.
  */
class WarehouseOpsSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val StepUs = 21600000000L

  test("q100 grid is aligned, spans each user's range, forward-fills correctly") {
    val rows = RelationalQueries.q100GapFillGrid(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 % StepUs == 0), "grid points must be step-aligned")
    assert(rows.forall(r => r._3 <= r._2), "filled event must be at-or-before the grid point")
    // brute-force forward fill per user from the raw events
    val ev = graft.core.Tables.load(spark, sf, "events")
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("value"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    rows.foreach { case (u, g, evTs, v) =>
      val latest = ev(u).takeWhile(_._2 <= g).last
      assert(latest._2 == evTs && latest._3 == v, s"user $u grid $g: wrong fill")
    }
    // grid covers [ceil-aligned first, last] per user exactly
    ev.foreach { case (u, es) =>
      val t0 = es.head._2; val t1 = es.last._2
      val start = ((t0 + StepUs - 1) / StepUs) * StepUs
      val expected = (start to t1 by StepUs).toSeq
      val got = rows.filter(_._1 == u).map(_._2).sorted
      assert(got == expected, s"user $u grid mismatch")
    }
  }

  test("q101 SCD2 rows follow the merge rules per key") {
    val rows = AnalyticsOpsQueries.q101ScdMerge(spark, sf)
      .as[(Long, String, Int, Option[Int])].collect().toSeq
    val byKey = rows.groupBy(_._1)
    val curKeys = graft.core.Tables.load(spark, sf, "customer")
      .select(col("c_custkey")).as[Long].collect().toSet
    assert(byKey.keySet == curKeys ++ curKeys.filter(_ % 25 == 7).map(_ + 1000000))
    byKey.foreach { case (k, rs) =>
      if (k > 1000000) { // pure insert
        assert(rs.map(r => (r._3, r._4)) == Seq((2, None)) && rs.head._2 == "NEW", s"$k")
      } else if (k % 10 == 0) { // changed: closed v1 + open v2
        assert(rs.sortBy(_._3).map(r => (r._3, r._4)) == Seq((1, Some(2)), (2, None)), s"$k")
        assert(rs.exists(r => r._3 == 2 && r._2.startsWith("CHG-")), s"$k")
      } else { // untouched: one open v1 row
        assert(rs.map(r => (r._3, r._4)) == Seq((1, None)), s"$k")
      }
    }
    // exactly one OPEN row per surviving key — the SCD2 core invariant
    assert(rows.filter(_._4.isEmpty).groupBy(_._1).forall(_._2.size == 1))
  }

  test("Scd2.merge recognizes equal-value no-ops and leaves absent keys untouched") {
    import graft.relational.Scd2
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Int, Option[Int])] =
      df.select($"key", $"segment", $"valid_from", $"valid_to")
        .as[(Long, String, Int, Option[Int])].collect().toSet
    val h1 = Scd2.init(Seq(1L -> "AUTO", 2L -> "BIKE", 3L -> "SHIP").toDF("key", "segment"),
      "key", "segment")
    val noop = Scd2.merge(h1, Seq(2L -> "BIKE").toDF("key", "segment"), "key", "segment", 2)
    assert(rows(noop) === rows(h1))
    val empty = Scd2.merge(h1, Seq.empty[(Long, String)].toDF("key", "segment"),
      "key", "segment", 2)
    assert(rows(empty) === rows(h1))
  }

  test("q103 cohorts: offset-0 retention is 100%, bps bounded, users conserved") {
    val rows = AnalyticsOpsQueries.q103RetentionCohorts(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    rows.filter(_._2 == 0L).foreach { case (cw, _, active, size, bps) =>
      assert(active == size && bps == 10000L, s"cohort $cw offset 0 must be full")
    }
    assert(rows.forall { case (_, off, active, size, bps) =>
      off >= 0 && active <= size && bps == active * 10000 / size
    })
    val nUsers = graft.core.Tables.load(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(rows.filter(_._2 == 0L).map(_._4).sum == nUsers,
      "cohort sizes must partition the user base")
  }

  test("q104 transition rows sum to per-type occurrences; (end) rows = sessions") {
    val rows = RelationalQueries.q104EventTransitions(spark, sf)
      .as[(String, String, Long)].collect().toSeq
    val ev = graft.core.Tables.load(spark, sf, "events")
    val typeCounts = ev.groupBy("event_type").count().as[(String, Long)].collect().toMap
    // every event emits exactly one transition (to next or to (end))
    rows.groupBy(_._1).foreach { case (from, ts) =>
      assert(ts.map(_._3).sum == typeCounts(from), s"$from row sum")
    }
    assert(rows.map(_._3).sum == ev.count(), "one transition per event")
    // (end) transitions count sessions (each session ends exactly once)
    val nSessions = RelationalQueries.q102SessionFunnel(spark, sf).count()
    assert(rows.filter(_._2 == "(end)").map(_._3).sum == nSessions)
  }

  test("q105 salted rollup ≡ plain group-by for any salt assignment") {
    val got = AnalyticsOpsQueries.q105SaltedRollup(spark, sf)
      .as[(String, Long, Long)].collect().toSeq.sorted
    val got2 = AnalyticsOpsQueries.q105SaltedRollup(spark, sf)
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(got == got2, "salt assignment must never leak into the result")
    val plain = graft.core.Tables.load(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(sum(expr("cast(floor(value * 1e6 + 0.5) as bigint)")).as("sum_vq6"),
        count(lit(1)).as("n_rows"))
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(got == plain, "two-phase salted sum must equal the one-phase sum")
  }

  test("q108 sketch retention ≡ exact q103; the probe never rescans events") {
    val sketched = AnalyticsOpsQueries.q108RetentionSketches(spark, sf)
    // the probe plan reads only the stored sketch table
    assert(!sketched.queryExecution.executedPlan.toString.contains("events.parquet"),
      "probe must merge stored sketches, not rescan raw events")
    val est = sketched.as[(Long, Long, Long)].collect().toSeq
      .map(r => (r._1, r._2) -> r._3).toMap
    // at this corpus's per-cell cardinalities (<< 2^12 registers) the
    // HLL estimate is exact — cell-for-cell equal to the exact anchor
    val exact = AnalyticsOpsQueries.q103RetentionCohorts(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(est == exact, s"sketch cells diverge from exact: ${est.size}/${exact.size}")
  }

  test("q102 funnel stages are ordered, null-chained, and session-complete") {
    val rows = RelationalQueries.q102SessionFunnel(spark, sf)
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("t_view"), col("t_click"), col("t_purchase"), col("stage"))
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (u, s0, n, tv, tc, tp, stage) =>
      assert(n > 0)
      // null chaining: a later stage implies every earlier one
      assert(tc.isEmpty || tv.nonEmpty, s"$u/$s0 click without view")
      assert(tp.isEmpty || tc.nonEmpty, s"$u/$s0 purchase without click")
      // order: view <= click <= purchase when present
      for (a <- tv; b <- tc) assert(a <= b, s"$u/$s0")
      for (a <- tc; b <- tp) assert(a <= b, s"$u/$s0")
      val expected = if (tp.nonEmpty) 3 else if (tc.nonEmpty) 2 else if (tv.nonEmpty) 1 else 0
      assert(stage == expected, s"$u/$s0 stage")
    }
    // every session from the sessionizer appears exactly once
    val nSessions = rows.map(r => (r._1, r._2)).distinct.size
    assert(nSessions == rows.size)
    // the stage column discriminates on this corpus (sf0.001 sessions
    // are short — full 3-stage conversion only appears at larger SFs,
    // where the DuckDB gate checks it exactly)
    assert(rows.exists(_._7 >= 1) && rows.exists(_._7 == 0))
  }
}

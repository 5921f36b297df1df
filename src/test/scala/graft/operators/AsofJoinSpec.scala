package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Boundary semantics of the time-predicate joins on a CRAFTED fixture —
  * the shipped testdata never overlaps events (2024) with orders
  * (1995-2001), so the DuckDB gate passes those queries vacuously (every
  * range count 0, every as-of match trivially the last order). This spec
  * writes orders/events parquet where the boundaries actually bind:
  * equal timestamps (>= tie), ±1µs around the as-of point and the 24h
  * upper bound, multiple orders per user, and a user with no orders.
  */
class AsofJoinSpec extends SparkSpec {

  import spark.implicits._

  private val H = 3600L * 1000000L // one hour in micros

  // orders: user 1 at 10:00 and 12:00; user 2 at 10:00; user 3 none
  private lazy val dir: String = {
    val tmp = suiteTempDir("graft-asof")
    val base = java.time.Instant.parse("2024-01-01T10:00:00Z")
    def ts(offsetMicros: Long) =
      new java.sql.Timestamp(base.toEpochMilli + offsetMicros / 1000)
    Seq(
      (101L, 1L, "O", 10.0, ts(0), "1-URGENT"),
      (102L, 1L, "O", 20.0, ts(2 * H), "1-URGENT"),
      (201L, 2L, "F", 30.0, ts(0), "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$tmp/orders.parquet")
    val baseNanos = base.toEpochMilli * 1000000L
    def nanos(offsetMicros: Long) = baseNanos + offsetMicros * 1000L
    Seq(
      (1L, nanos(0), 1L, "t", 1.0, "{}"), //         == first order (>= tie)
      (2L, nanos(-1), 1L, "t", 1.0, "{}"), //        1µs BEFORE any order
      (3L, nanos(2 * H - 1), 1L, "t", 1.0, "{}"), // 1µs before second order
      (4L, nanos(2 * H), 1L, "t", 1.0, "{}"), //     == second order
      (5L, nanos(24 * H - 1), 2L, "t", 1.0, "{}"), //just inside 24h window
      (6L, nanos(24 * H), 2L, "t", 1.0, "{}"), //    at the exclusive bound
      (7L, nanos(0), 3L, "t", 1.0, "{}")) //         user with no orders
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    tmp
  }

  test("asof_join: >= tie matches, pre-first-order is null, latest order wins") {
    val got = AsofJoin.asof.run(spark, dir)
      .select($"event_id", $"matched_odate").as[(Long, Option[String])]
      .collect().toMap
    assert(got(1L) === Some("2024-01-01")) // equal timestamp counts (>=)
    assert(got(2L) === None) // 1µs before any order
    assert(got(3L) === Some("2024-01-01")) // still the first order
    assert(got(4L) === Some("2024-01-01")) // second order (same date) at tie
    assert(got(7L) === None) // user without orders survives (left)
  }

  test("range_join: 24h window is inclusive at start, exclusive at end") {
    val got = AsofJoin.rangeJoin.run(spark, dir)
      .select($"o_orderkey", $"n_events_24h").as[(Long, Long)]
      .collect().toMap
    // user 1, first order 10:00: events at 0, 2h-1µs, 2h (ids 1,3,4) → 3
    assert(got(101L) === 3L)
    // user 1, second order 12:00: events at 2h (id 4) → 1
    assert(got(102L) === 1L)
    // user 2: event at 24h-1µs inside, event at exactly +24h EXCLUDED
    assert(got(201L) === 1L)
  }

  test("crafted fixture agrees with the DuckDB-oracle semantics end-to-end") {
    // replay the oracle semantics in Spark SQL over real timestamps as an
    // independent check of the union+window formulation
    graft.sources.Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    graft.sources.Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    val expect = spark.sql(
      """SELECT e.event_id,
        |  max(CASE WHEN timestamp_micros((ts - pmod(ts, 1000)) div 1000) >= o.o_orderdate
        |      THEN date_format(o.o_orderdate, 'yyyy-MM-dd') END) AS matched
        |FROM (SELECT * FROM events) e
        |LEFT JOIN orders o ON e.user_id = o.o_custkey
        |GROUP BY e.event_id""".stripMargin)
      .as[(Long, Option[String])].collect().toMap
    val got = AsofJoin.asof.run(spark, dir)
      .select($"event_id", $"matched_odate").as[(Long, Option[String])]
      .collect().toMap
    assert(got === expect)
  }

  test("range_join CDF form matches the direct interval join on nulls/ties/dups") {
    // the O(n·m)-per-key formulation the round-19 rewrite replaced — an
    // in-engine independent replay over a fixture where every edge binds:
    // NULL user/event_id/ts events, NULL custkey and NULL date orders,
    // duplicate timestamps (a pileup at one instant, the Zipf-gate shape),
    // duplicate orderkeys, and a user with events but no orders
    withTempDir("graft-rangejoin") { tmp =>
      val base = java.time.Instant.parse("2024-01-01T10:00:00Z")
      def ts(offsetMicros: Long) =
        new java.sql.Timestamp(base.toEpochMilli + offsetMicros / 1000)
      Seq[(java.lang.Long, java.lang.Long, String, java.lang.Double, java.sql.Timestamp, String)](
        (301L, 1L, "O", 1.0, ts(0), "1-URGENT"),
        (302L, 1L, "O", 1.0, ts(0), "1-URGENT"), // same user, same date twice
        (301L, 1L, "O", 1.0, ts(2 * H), "1-URGENT"), // DUPLICATE orderkey
        (303L, null, "O", 1.0, ts(0), "1-URGENT"), // NULL custkey → 0
        (304L, 2L, "O", 1.0, null, "1-URGENT"), //    NULL date → 0
        (305L, 9L, "O", 1.0, ts(0), "1-URGENT")) //   user with no events
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .write.parquet(s"$tmp/orders.parquet")
      val baseNanos = base.toEpochMilli * 1000000L
      def nanos(offsetMicros: Long) = baseNanos + offsetMicros * 1000L
      Seq[(java.lang.Long, java.lang.Long, java.lang.Long, String, java.lang.Double, String)](
        (1L, nanos(0), 1L, "t", 1.0, "{}"), //  == order instant (inclusive)
        (2L, nanos(0), 1L, "t", 1.0, "{}"), //  pileup at the same instant
        (3L, nanos(0), 1L, "t", 1.0, "{}"),
        (4L, nanos(24 * H - 1), 1L, "t", 1.0, "{}"), // inside first window
        (5L, nanos(24 * H), 1L, "t", 1.0, "{}"), //     exclusive bound
        (null, nanos(1), 1L, "t", 1.0, "{}"), // NULL event_id — not counted
        (6L, null, 1L, "t", 1.0, "{}"), //      NULL ts — never matches
        (7L, nanos(0), null, "t", 1.0, "{}"), //NULL user — never matches
        (8L, nanos(0), 5L, "t", 1.0, "{}")) //  user with no orders
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$tmp/events.parquet")

      val orders = graft.sources.Tables.load(spark, tmp, "orders").select(
        $"o_orderkey", $"o_custkey",
        org.apache.spark.sql.functions.unix_micros($"o_orderdate").as("t0"))
      val events = graft.sources.Tables.load(spark, tmp, "events").select(
        $"user_id", $"event_id", graft.sources.Tables.nanosToMicros("ts").as("et"))
      val expect = orders.join(events,
          $"user_id" === $"o_custkey" &&
            $"et" >= $"t0" && $"et" < $"t0" + 86400L * 1000000L, "left")
        .groupBy($"o_orderkey")
        .agg(org.apache.spark.sql.functions.count($"event_id").as("n"))
        .as[(Long, Long)].collect().toMap
      val got = AsofJoin.rangeJoin.run(spark, tmp)
        .as[(Long, Long)].collect().toMap
      assert(got === expect)
      // the boundary arithmetic binds on this fixture — pin the key rows
      assert(got(302L) === 4L) // 3 pileup events + the 24h−1µs one
      assert(got(301L) === 6L) // duplicate orderkey: both orders' counts sum
      assert(got(303L) === 0L)
      assert(got(304L) === 0L)
      assert(got(305L) === 0L)
    }
  }

  test("range_join never joins events against orders — one window pass instead") {
    val p = AsofJoin.rangeJoin.run(spark, dir).queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"range_join must count through the CDF window, not a pair join:\n$p")
    assert(p.contains("Window"), s"expected the running-count window:\n$p")
  }

  test("band_join plans as an equi-join on bands, never a nested loop") {
    val df = AsofJoin.bandJoin.run(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banding failed to produce an equi-join plan:\n$p")
  }

  test("band_join matches a direct inequality self-join") {
    // the O(n²) formulation Spark would otherwise plan — fine at test SF,
    // and an in-engine independent check of the banded rewrite
    val ev = graft.sources.Tables.load(spark, dir, "events")
      .select($"event_id", graft.sources.Tables.nanosToMicros("ts").as("t"))
    val w = 600L * 1000000L
    val expect = ev.as("a").join(ev.as("b"),
        $"b.event_id" =!= $"a.event_id" &&
          org.apache.spark.sql.functions.abs($"b.t" - $"a.t") <= w)
      .groupBy($"a.event_id").count()
      .as[(Long, Long)].collect().toMap
    val got = AsofJoin.bandJoin.run(spark, dir)
      .as[(Long, Long)].collect().toMap
    got.foreach { case (id, n) => assert(n === expect.getOrElse(id, 0L), s"event $id") }
  }

  test("scd2_history run-length compresses state and chains intervals gaplessly") {
    val d = sf("sf0.001")
    val got = AsofJoin.scd2.run(spark, d)
      .as[(Long, Long, String, Long, Option[Long])].collect().toSeq

    // scalar replay: per user, ordered (tus, event_id), compress runs
    val raw = graft.sources.Tables.load(spark, d, "events")
      .select($"user_id", graft.sources.Tables.nanosToMicros("ts"),
        $"event_id", $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val expect = raw.groupBy(_._1).toSeq.flatMap { case (uid, evs) =>
      val sorted = evs.sortBy(e => (e._2, e._3))
      val kept = sorted.zipWithIndex.collect {
        case ((_, tus, _, st), i)
          if i == 0 || sorted(i - 1)._4 != st => (tus, st)
      }
      kept.zipWithIndex.map { case ((tus, st), i) =>
        (uid, (i + 1).toLong, st, tus,
          if (i + 1 < kept.size) Some(kept(i + 1)._1) else None)
      }
    }.sortBy(r => (r._1, r._2))
    assert(got === expect)

    // invariants: no consecutive equal states; intervals chain exactly
    got.groupBy(_._1).foreach { case (uid, vs) =>
      val s = vs.sortBy(_._2)
      s.sliding(2).foreach {
        case Seq((_, _, st1, _, to1), (_, _, st2, from2, _)) =>
          assert(st1 != st2, s"user $uid: uncompressed run")
          assert(to1.contains(from2), s"user $uid: interval gap")
        case _ =>
      }
      assert(s.last._5.isEmpty, s"user $uid: last version must stay open")
    }
    // one exchange + one sort for both windows, plus the presentation sort
    val plan = AsofJoin.scd2.run(spark, d).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
  }
}

package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions.from_json

/** Plan-shape assertions (SURVEY.md §5): the queries must not just return
  * the right rows — they must plan the way a 100 TB run needs. Row-level
  * correctness is the driver's DuckDB oracle gate (tools/compare.py); these
  * specs pin the physical-plan properties that gate scale.
  */
class AnalyticsSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("top10 plans as TakeOrderedAndProject (per-partition top-k, no global sort)") {
    assert(plan("top10").contains("TakeOrderedAndProject"))
  }

  test("wins pushes the l_linenumber filter into the parquet scan") {
    val p = plan("wins")
    assert(p.contains("PushedFilters: [IsNotNull(l_linenumber), EqualTo(l_linenumber,1)]"), p)
  }

  test("wins prunes the scan to the 3 referenced lineitem columns") {
    val p = plan("wins")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_returnflag") && read.contains("l_shipdate") &&
      read.contains("l_linenumber") && !read.contains("l_extendedprice"), read)
  }

  test("the session exchange ships a slim payload and the two windows share one sort") {
    // sessionEvents orders its windows by the MATERIALIZED tus column;
    // ordering by the nanos→micros EXPRESSION made Spark carry raw ts
    // plus a duplicate _w0 sort column across the user_id exchange (4
    // longs where 2 suffice — 1.6 GB of dead weight at the ×100 smoke's
    // 100M events) and re-sort between the lag window and the running
    // sum. Pin both properties on events_concurrency, whose consumers
    // need only (user_id, tus).
    val p = plan("events_concurrency")
    val lines = p.linesIterator.toSeq
    val ex = lines.filter(_.contains("Exchange hashpartitioning(user_id"))
    assert(ex.nonEmpty, s"expected a user_id exchange:\n$p")
    // the exchange row is printed with its output columns — exactly
    // user_id and tus may cross (no ts, no duplicate _w0)
    ex.foreach { l =>
      assert(!l.contains("ts#"), s"raw ts must not ride the exchange: $l")
      assert(!l.contains("_w"), s"no duplicate sort column may ride: $l")
    }
    // both session windows run off ONE per-partition sort: exactly one
    // Sort node ordered by (user_id, tus)
    val userSorts = lines.count(l =>
      l.trim.startsWith("+- Sort") && l.contains("user_id") && !l.contains("range"))
    assert(userSorts === 1, s"expected one shared user_id sort, got $userSorts:\n$p")
  }

  test("events_clickjoin bands the attribution window onto the user_id equi join") {
    // an equi join on user_id alone scans each user's full clicks×purchases
    // cross product per sort-merge key group — quadratic in per-user
    // history for an append-forever log (the ×100 smoke measured 15.5×
    // growth for 10× data). BandedIntervalJoin must append the 10-minute
    // band key so the join stays an equi join AND per-key work is bounded
    // by window density.
    val p = plan("events_clickjoin")
    assert(!p.contains("NestedLoop"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("__band"), s"interval-window band rewrite did not fire:\n$p")
  }

  test("weather pushes the sargable date-range predicate into the scan") {
    val p = plan("weather")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("combine broadcasts the nation/region dimension joins") {
    val p = plan("combine")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("combine: dims broadcast by hint, fact-fact join shuffles at scale") {
    // At test SF everything fits under the broadcast threshold, so disable
    // size-based broadcasting: what remains models the 100 TB planner state.
    // The explicit broadcast() hints on nation/region must survive; the
    // orders⋈customer fact-fact join (both sides grow with SF) must not.
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val pre = SparkEntry.queries("combine")(spark, sf("sf0.01"))
        .queryExecution.sparkPlan.toString
      assert(pre.contains("BroadcastHashJoin"), pre) // hinted dims
      assert(pre.contains("SortMergeJoin") || pre.contains("ShuffledHashJoin"), pre)
    }
  }

  private def withSQLConf[A](kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("text_keywords top-3 plans as WindowGroupLimit (partial per-partition top-K)") {
    val p = plan("text_keywords")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("events_sessionize shares one user_id exchange across both windows and the agg") {
    // lag + running-sum windows and the per-(user, session) aggregation all
    // key on user_id — one hash exchange must feed the whole stage; the
    // only other exchange is the final presentation sort.
    val p = plan("events_sessionize")
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashExchanges === 1, s"expected 1 hash exchange, plan:\n$p")
  }

  test("text_tfidf joins df by broadcast and keeps no skewed term window") {
    // df must reach tf via a broadcast hash join (a vocabulary is
    // broadcast-sized at any corpus scale) and the plan must contain NO
    // window partitioned by the term — `count(*) over (partition by w)`
    // would funnel every occurrence of a hot term through one task
    val df = SparkEntry.queries("text_tfidf")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("[w#")), s"term-keyed window found:\n$p")
  }

  test("aggregations are two-phase (partial map-side, final after exchange)") {
    val p = plan("wins")
    assert(p.contains("partial_count"), p)
  }

  test("whole-stage codegen covers the scan→filter→project pipeline") {
    // AQE finalizes the plan only on execution — run first, then inspect.
    // "*(n)" is the WholeStageCodegen stage marker in the simple plan string;
    // scan→filter→project→partial-agg must share stage 1.
    val df = SparkEntry.queries("wins")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Filter") && p.contains("*(1) HashAggregate"), p)
  }

  test("cube_agg: the grand-total row (gid=3) equals the orders row count") {
    import spark.implicits._
    val out = SparkEntry.queries("cube_agg")(spark, dir)
    val total = out.filter($"gid" === 3L).select($"n").as[Long].collect()
    assert(total.toSeq === Seq(
      graft.sources.Tables.load(spark, dir, "orders").count()))
    // every grouping set partitions the same universe
    val perGid = out.groupBy($"gid").agg(org.apache.spark.sql.functions.sum($"n"))
      .as[(Long, Long)].collect().toMap
    assert(perGid.values.toSet.size === 1, s"grouping sets disagree: $perGid")
  }

  test("events_json extracts k from every well-formed props payload") {
    import spark.implicits._
    val out = SparkEntry.queries("events_json")(spark, dir)
      .select($"n", $"n_with_k").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    // the synthetic props are all {"k": int} — extraction must never drop
    out.foreach { case (n, withK) => assert(n === withK) }
  }

  test("from_json(k BIGINT) nulls every payload the events_json oracle nulls") {
    import spark.implicits._
    // the shapes the oracle's json_type+TRY_CAST guard must replay: Spark
    // nulls quoted numbers, doubles, uint64 overflow, malformed JSON —
    // expectations here mirror a DuckDB run of the oracle CASE expression
    val payloads = Seq(
      """{"k": 12}""" -> Some(12L),
      """{"k":"12"}""" -> None, // quoted: DuckDB CAST would coerce, Spark won't
      """{"k":1.5}""" -> None, // double: DuckDB CAST would throw
      """{"k": null}""" -> None,
      """{}""" -> None,
      """not json""" -> None,
      """{"k": 18446744073709551615}""" -> None, // uint64 > BIGINT range
      """{"k": -3}""" -> Some(-3L))
    val got = payloads.map(_._1).toDF("props")
      .select(from_json($"props",
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k").as("k"))
      .as[Option[Long]].collect().toSeq
    assert(got === payloads.map(_._2))
  }

  test("text_scrub masks every digit and accounts for each masked char") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_scrub")(spark, dir)
      .select($"props_scrubbed", $"n_digits_masked").as[(String, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (scrubbed, n) =>
      assert(!scrubbed.exists(_.isDigit), s"digit survived scrub: $scrubbed")
      assert(n > 0, "synthetic props always carry a numeric value")
    }
  }

  test("table_stats collects correct per-column catalog statistics in one pass") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.load(spark, dir, "lineitem")
    val stats = SparkEntry.queries("table_stats")(spark, dir)
      .select($"col", $"n", $"nulls", $"min_num", $"max_num", $"ndv_sane")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(stats.size === 5)
    val n = li.count()
    stats.values.foreach { r =>
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === 0L, s"${r.getString(0)}: unexpected nulls")
      assert(r.getBoolean(5), s"${r.getString(0)}: NDV sketch out of bound")
    }
    // exact min/max spot-check + the tight NDV accuracy contract (test-side,
    // so the registered query stays sketch-only — the approx_stats pattern)
    val Seq((qMin, qMax, qD)) = li.agg(min($"l_quantity"), max($"l_quantity"),
      countDistinct($"l_quantity")).as[(Double, Double, Long)].collect().toSeq
    val q = stats("l_quantity")
    assert(q.getDouble(3) === qMin && q.getDouble(4) === qMax)
    val est = li.agg(approx_count_distinct($"l_quantity", 0.02)).as[Long].head()
    assert(math.abs(est - qD).toDouble / qD < 0.1, s"NDV $est vs exact $qD")
    // the single-pass shape: exactly one scan of lineitem in the plan
    val plan = SparkEntry.queries("table_stats")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("lineitem".r.findAllIn(plan).size <= 2,
      "table_stats must scan lineitem once, not once per column")
  }

  test("events_funnel stages are ordered reaches, verified against a replay") {
    import spark.implicits._
    val out = SparkEntry.queries("events_funnel")(spark, dir)
      .select($"stage", $"users", $"conv").as[(Int, Long, Double)].collect()
    assert(out.map(_._1).toSeq === Seq(1, 2, 3))
    val Seq(u1, u2, u3) = out.map(_._2).toSeq
    assert(u1 >= u2 && u2 >= u3, s"funnel must narrow: $u1 >= $u2 >= $u3")
    assert(u1 > 0 && out.head._3 === 1.0)
    // independent replay: per-user in-memory sequence match over raw events
    val events = graft.sources.Tables.load(spark, dir, "events")
      .select($"user_id", $"event_type", $"ts").as[(Long, String, Long)]
      .collect().groupBy(_._1)
    def reach(evs: Array[(Long, String, Long)]): (Boolean, Boolean, Boolean) = {
      val v = evs.filter(_._2 == "view").map(_._3).minOption
      val c = v.flatMap(t0 =>
        evs.filter(e => e._2 == "click" && e._3 > t0).map(_._3).minOption)
      val p = c.exists(t1 => evs.exists(e => e._2 == "purchase" && e._3 > t1))
      (v.isDefined, c.isDefined, p)
    }
    val expected = events.values.map(reach).toSeq
    assert(u1 === expected.count(_._1).toLong)
    assert(u2 === expected.count(_._2).toLong)
    assert(u3 === expected.count(_._3).toLong)
  }

  test("events_retention matches an independent per-user cohort replay") {
    import spark.implicits._
    val W = 7L * 86400L * 1000000000L
    val out = SparkEntry.queries("events_retention")(spark, dir)
      .select($"cohort_week", $"k", $"users").as[(Long, Long, Long)].collect()
    assert(out.nonEmpty && out.forall(r => r._2 >= 0 && r._2 <= 3 && r._3 > 0))
    val byUser = graft.sources.Tables.load(spark, dir, "events")
      .select($"user_id", $"ts").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(e => Math.floorDiv(e._2, W)).toSet)
    val expected = byUser.values.toSeq
      .flatMap { weeks =>
        val c = weeks.min
        weeks.filter(_ - c <= 3).map(w => (c, w - c))
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(out.map(r => (r._1, r._2) -> r._3).toMap === expected)
    // week-0 retention is the full cohort by definition
    val cohortSizes = byUser.values.toSeq.groupBy(_.min).view
      .mapValues(_.size.toLong)
    out.filter(_._2 == 0L).foreach { case (c, _, n) =>
      assert(n === cohortSizes(c), s"cohort $c week-0 reach != cohort size")
    }
  }

  test("events_transitions matches an independent per-user timeline replay") {
    import spark.implicits._
    val out = SparkEntry.queries("events_transitions")(spark, dir)
      .select($"prev_type", $"next_type", $"n", $"p")
      .as[(String, String, Long, Double)].collect()
    assert(out.nonEmpty && out.forall(_._3 > 0))
    // per-source rows must form a probability distribution
    out.groupBy(_._1).foreach { case (prev, rows) =>
      val mass = rows.map(_._4).sum
      assert(math.abs(mass - 1.0) < 1e-9, s"$prev transition mass $mass")
    }
    // independent replay: sort each user's timeline, count adjacent pairs
    val expected = graft.sources.Tables.load(spark, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).values
      .flatMap { evs =>
        val ordered = evs.sortBy(e => (e._2, e._3)).map(_._4)
        ordered.zip(ordered.tail)
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(out.map(r => (r._1, r._2) -> r._3).toMap === expected)
  }

  /** Write a synthetic events table (declared schema, int64-nanos ts) with
    * one event per (type, hour, ordinal) to a fresh suite temp dir, so the
    * data-dependent capability assertions below don't hinge on whether the
    * driver's regenerated corpus happens to contain spikes or silent
    * hours (round 8 regeneration had neither at sf0.001).
    */
  private def syntheticEventsDir(hourCounts: Seq[(String, Long, Int)]): String = {
    import spark.implicits._
    val HourNanos = 3600L * 1000000000L
    val rows = for {
      ((tpe, hour, n), i) <- hourCounts.zipWithIndex
      j <- 0 until n
    } yield (i * 10000L + j, hour * HourNanos + j * 1000000L, j.toLong,
      tpe, 1.0, "{}")
    val tmp = suiteTempDir("graft-events")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    tmp
  }

  test("events_anomaly flags exactly the >3-sigma hours of an exact replay") {
    import spark.implicits._
    val HourNanos = 3600L * 1000000000L
    val out = SparkEntry.queries("events_anomaly")(spark, dir)
      .select($"event_type", $"hour", $"n").as[(String, Long, Long)].collect()
    // exact-integer replay with BigInt (no overflow, no rounding); the
    // replay set may legitimately be empty on a spike-free corpus — the
    // equality below still gates (both sides empty)
    val hourly = graft.sources.Tables.load(spark, dir, "events")
      .select($"event_type", $"ts").as[(String, Long)].collect()
      .groupBy(e => (e._1, Math.floorDiv(e._2, HourNanos)))
      .view.mapValues(_.size.toLong).toMap
    val expected = hourly.keySet.filter { case (tpe, hour) =>
      val cs = hourly.collect { case ((t, _), c) if t == tpe => BigInt(c) }.toSeq
      val (k, s, q) = (BigInt(cs.size), cs.sum, cs.map(c => c * c).sum)
      val c = BigInt(hourly((tpe, hour)))
      (c * k - s).pow(2) > 9 * (k * q - s * s)
    }
    assert(out.map(r => (r._1, r._2)).toSet === expected)
    // flagged hours really deviate: each flagged count differs from its
    // type's mean (never equals it)
    out.foreach { case (tpe, _, n) =>
      val cs = hourly.collect { case ((t, _), c) if t == tpe => c }.toSeq
      assert(n * cs.size != cs.sum, "a flagged hour cannot sit on the mean")
    }
  }

  test("events_anomaly flags a constructed spike and nothing else") {
    import spark.implicits._
    // 20 quiet hours of 1 event + one 60-event spike: (60·21−80)² =
    // 1,392,400 > 9·(21·3620−6400) = 626,580 → flagged; quiet hours are
    // not. A zero-variance type must flag nothing (strict > vs 0).
    val spiky = (0L until 20L).map(h => ("click", h, 1)) :+ (("click", 20L, 60))
    val flat = (0L until 10L).map(h => ("view", h, 2))
    val tmp = syntheticEventsDir(spiky ++ flat)
    val got = SparkEntry.queries("events_anomaly")(spark, tmp)
      .select($"event_type", $"hour", $"n").as[(String, Long, Long)].collect()
    assert(got.toSeq === Seq(("click", 20L, 60L)))
  }

  test("events_resample produces a dense hour axis matching an exact replay") {
    import spark.implicits._
    val hourNanos = 3600L * 1000000000L
    val raw = graft.sources.Tables.load(spark, dir, "events")
      .select($"event_type", $"ts").as[(String, Long)].collect()
    val hourly = raw.groupBy { case (t, ts) => (t, Math.floorDiv(ts, hourNanos)) }
      .view.mapValues(_.length.toLong).toMap
    val (lo, hi) = (hourly.keys.map(_._2).min, hourly.keys.map(_._2).max)
    val types = raw.map(_._1).distinct.sorted
    val got = Analytics.eventsResample.run(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    // dense axis: every (type, hour) in [lo, hi], in order, gaps as zeros
    val expect = for (t <- types; h <- lo to hi)
      yield (t, h, hourly.getOrElse((t, h), 0L))
    assert(got === expect)
    assert(got.map(_._3).sum === raw.length.toLong)
  }

  test("events_dedup keeps the first event per (user, type, minute)") {
    import spark.implicits._
    val MinuteNanos = 60L * 1000000000L
    val raw = graft.sources.Tables.load(spark, dir, "events")
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .as[(Long, String, Long, Long)].collect()
    val expect = raw
      .groupBy(e => (e._1, e._2, Math.floorDiv(e._3, MinuteNanos)))
      .map { case ((u, t, m), es) =>
        (u, t, m, es.map(_._4).min, es.size.toLong)
      }
      .toSeq.sortBy(r => (r._1, r._2, r._3))
    val got = Analytics.eventsDedup.run(spark, dir)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    assert(got.map(_._5).sum === raw.length.toLong)
  }

  test("events_lateness buckets constructed out-of-order arrivals exactly") {
    import spark.implicits._
    val S = 1000000000L // ns per second
    // arrival order = event_id; user 1 sees a 30s regression and a 2h
    // regression, user 2 stays in order — expected: 3 in_order rows
    // (each user's first + user 2's second), one lt_1m, one ge_1h
    val rows = Seq(
      (0L, 1000L * S, 1L, "click", 1.0, "{}"),
      (1L, 970L * S, 1L, "click", 1.0, "{}"), // 30 s late
      (2L, 1000L * S - 7200L * S, 1L, "view", 1.0, "{}"), // 2 h late
      (3L, 500L * S, 2L, "view", 1.0, "{}"),
      (4L, 600L * S, 2L, "view", 1.0, "{}"))
    withTempDir("graft-late") { tmp =>
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$tmp/events.parquet")
      val got = Analytics.eventsLateness.run(spark, tmp)
        .as[(String, Long)].collect().toMap
      assert(got === Map("in_order" -> 3L, "lt_1m" -> 1L, "ge_1h" -> 1L))
    }
  }

  test("tied timestamps at a session break stay in one session") {
    import spark.implicits._
    val M = 60L * 1000000000L // ns per minute
    // user 1: one event at minute 10, then a 31-minute gap into three
    // events TIED at minute 41 and one at minute 43 — sessions {10} and
    // {41, 41, 41, 43}. Spark's sort may put any tied peer first; the
    // peer with brk=1 must still open the session for all three.
    val rows = Seq(
      (0L, 10L * M, 1L, "view", 1.0, "{}"),
      (7L, 41L * M, 1L, "click", 2.0, "{}"),
      (3L, 41L * M, 1L, "view", 3.0, "{}"),
      (5L, 41L * M, 1L, "click", 4.0, "{}"),
      (1L, 43L * M, 1L, "purchase", 5.0, "{}"))
    withTempDir("graft-ties") { tmp =>
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(3).write.parquet(s"$tmp/events.parquet")
      val sessions = SparkEntry.queries("events_sessionize")(spark, tmp)
        .select($"session_no", $"n_events").as[(Long, Long)].collect().toSeq
      assert(sessions === Seq((1L, 1L), (2L, 4L)))
      val active = SparkEntry.queries("events_concurrency")(spark, tmp)
        .as[(Long, Long)].collect().toSeq
      assert(active === Seq((10L, 1L), (11L, 0L), (41L, 1L), (44L, 0L)))
    }
    // the declared SQL of every consumer of the session definition walks
    // both windows in one total order, so DuckDB cannot sort the tied
    // peers differently for the lag and the running sum
    Seq("events_sessionize", "events_session_builtin", "events_sequences",
      "events_concurrency", "events_top_paths").foreach { name =>
      val sql = SparkEntry.oracleSql(name)
      assert(sql.contains("WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)"), name)
      assert(sql.contains("sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id"), name)
    }
  }

  test("events_resample zero-fills constructed silent hours") {
    import spark.implicits._
    // click fires in hours 0,1,3 (hour 2 silent); view only in hour 1 —
    // the dense axis must carry explicit zeros for every gap
    val tmp = syntheticEventsDir(
      Seq(("click", 0L, 2), ("click", 1L, 1), ("click", 3L, 4), ("view", 1L, 3)))
    val got = Analytics.eventsResample.run(spark, tmp)
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("click", 0L, 2L), ("click", 1L, 1L), ("click", 2L, 0L), ("click", 3L, 4L),
      ("view", 0L, 0L), ("view", 1L, 3L), ("view", 2L, 0L), ("view", 3L, 0L)))
  }

  test("winsorize_prices clips at the exact 1st/99th order statistics") {
    import spark.implicits._
    val prices = graft.sources.Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_totalprice").as[(Long, Double)].collect()
    val sorted = prices.map(_._2).sorted
    val n = sorted.length.toLong
    val pLo = sorted(((n - 1) / 100).toInt)          // rank (n-1)//100 + 1, 1-based
    val pHi = sorted((((n - 1) * 99) / 100).toInt)
    val expect = prices.map { case (k, p) =>
      (k, p, math.min(math.max(p, pLo), pHi))
    }.sortBy(_._1).toSeq
    val got = Analytics.winsorize.run(spark, dir)
      .as[(Long, Double, Double)].collect().toSeq
    assert(got === expect)
    val clipped = got.count(r => r._2 != r._3)
    assert(clipped > 0 && clipped <= (n / 50 + 2), s"$clipped clipped of $n")
  }

  test("winsorize_prices cumulates via two-level banding, not a domain window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = Analytics.winsorize.run(spark, dir)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size >= 3, s"expected the three banding windows, got ${wins.size}")
    // the ONLY unpartitioned window is the super-band cumulation — the
    // r17-flagged one-level form ordered the full distinct-price
    // histogram on one task
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.size == 1,
      s"exactly one unpartitioned window (super-band totals), got ${unpart.size}")
    assert(unpart.head.orderSpec.exists(_.child.references.exists(_.name == "sband")),
      "the unpartitioned window must walk super-bands")
  }

  test("late_suppliers aggregations inherit the join partitioning at scale") {
    // at-scale regime: orders too big to broadcast → SMJ shuffled on
    // orderkey; both downstream aggs group on orderkey prefixes so
    // EnsureRequirements must NOT insert an (orderkey, suppkey) exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Analytics.lateSuppliers.run(spark, dir)
      df.collect() // finalize the AQE plan
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.matches("(?s).*hashpartitioning\\(l_orderkey[^)]*l_suppkey.*"),
        "first aggregation must reuse the join's orderkey partitioning")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("group_median picks the exact lower/upper median elements per group") {
    import spark.implicits._
    val vals = graft.sources.Tables.load(spark, dir, "events")
      .select($"event_type", $"value").as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val expect = vals.toSeq.sortBy(_._1).map { case (t, vs) =>
      val n = vs.length
      (t, n.toLong, vs((n + 1) / 2 - 1), vs((n + 2) / 2 - 1))
    }
    val got = Analytics.groupMedian.run(spark, dir)
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(got === expect)
    // even-count groups exercise both ranks; the fixture must contain one
    assert(expect.exists(r => r._2 % 2 == 0 && r._3 != r._4) ||
      expect.exists(_._2 % 2 == 0))
  }

  test("events_concurrency replays the interval-count from scalar sessions") {
    import spark.implicits._
    val minute = 60000000L
    val raw = graft.sources.Tables.load(spark, dir, "events")
      .select($"user_id", graft.sources.Tables.nanosToMicros("ts").as("tus"))
      .as[(Long, Long)].collect()
    // scalar 30-min-gap sessionization → (start, end) intervals
    val intervals = raw.groupBy(_._1).values.flatMap { es =>
      val ts = es.map(_._2).sorted
      val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var (st, en) = (ts.head, ts.head)
      ts.tail.foreach { t =>
        if (t - en > 1800000000L) { sessions += ((st, en)); st = t; en = t }
        else en = t
      }
      sessions += ((st, en))
      sessions
    }.toSeq
    val deltas = scala.collection.mutable.Map.empty[Long, Long]
    intervals.foreach { case (st, en) =>
      deltas(st / minute) = deltas.getOrElse(st / minute, 0L) + 1L
      deltas(en / minute + 1) = deltas.getOrElse(en / minute + 1, 0L) - 1L
    }
    var run = 0L
    val expect = deltas.toSeq.sortBy(_._1).map { case (b, d) => run += d; (b, run) }
    val got = Analytics.eventsConcurrency.run(spark, dir)
      .as[(Long, Long)].collect().toSeq
    assert(got === expect)
    assert(got.forall(_._2 >= 0L))
    assert(got.last._2 === 0L, "all sessions must eventually close")
    assert(got.map(_._2).max >= 2L, "fixture must overlap sessions")
  }

  test("events_top_paths mines session-opening trigrams deterministically") {
    import spark.implicits._
    val raw = graft.sources.Tables.load(spark, dir, "events")
      .select($"user_id", $"event_id", $"event_type",
        graft.sources.Tables.nanosToMicros("ts").as("tus"))
      .as[(Long, Long, String, Long)].collect()
    val paths = raw.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._4, e._2)) // (tus, event_id)
      val sessions = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer(sorted.head))
      sorted.tail.foreach { e =>
        if (e._4 - sessions.last.last._4 > 1800000000L)
          sessions += scala.collection.mutable.ArrayBuffer(e)
        else sessions.last += e
      }
      sessions.map(_.take(3).map(_._3).mkString(">"))
    }.toSeq
    val expect = paths.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(20)
    val q = Analytics.eventsTopPaths.run(spark, dir)
    val got = q.as[(String, Long)].collect().toSeq
    assert(got === expect)
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("every query is registered with a runnable plan and entry smoke-passes") {
    assert(SparkEntry.registry.map(_.name).distinct.size === SparkEntry.registry.size)
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("small_order_revenue scans lineitem once and matches a scalar replay") {
    import spark.implicits._
    val df = SparkEntry.queries("small_order_revenue")(spark, dir)
    val got = df.as[(String, Long, Double)].collect().toSeq
    // window formulation, not the decorrelated self-join: exactly ONE
    // lineitem scan in the executed plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem")) === 1, p)

    val li = graft.sources.Tables.load(spark, dir, "lineitem")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
      .as[(Long, Double, Double)].collect()
    val brand = graft.sources.Tables.load(spark, dir, "part")
      .select($"p_partkey", $"p_brand").as[(Long, String)].collect().toMap
    val stats = li.groupBy(_._1).view.mapValues { rows =>
      (rows.map(r => math.round(r._2 * 100)).sum, rows.size.toLong)
    }.toMap
    val small = li.filter { case (pk, q, _) =>
      val (sq, cnt) = stats(pk); math.round(q * 100) * 5 * cnt < sq
    }
    val expect = small.groupBy(r => brand(r._1)).view.mapValues { rows =>
      val rev = rows.map(r => BigDecimal(r._3)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
      (rows.size.toLong, rev.toDouble)
    }.toSeq.map { case (b, (n, rev)) => (b, n, rev) }.sortBy(_._1)
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("events_ab_lift: digest assignment is deterministic and exhaustive") {
    import spark.implicits._
    val out = SparkEntry.queries("events_ab_lift")(spark, dir)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out.map(_._1) === Seq("A", "B"))
    val users = graft.sources.Tables.load(spark, dir, "events")
      .select($"user_id").distinct().as[Long].collect()
    // replay the assignment rule driver-side: every user lands in exactly
    // one arm and the two arm sizes add up to the distinct-user count
    def arm(u: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      if ("02468ace".contains("%02x".format(h(0)).charAt(0))) "A" else "B"
    }
    val byArm = users.groupBy(arm).view.mapValues(_.length.toLong).toMap
    assert(out.map(r => r._1 -> r._2).toMap === byArm)
    out.foreach { case (_, n, conv, ppm, _) =>
      assert(conv <= n)
      assert(ppm === conv * 1000000L / n)
    }
  }

  test("events_attribution matches a scalar last-touch replay") {
    import spark.implicits._
    val ev = graft.sources.Tables.load(spark, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .as[(Long, Long, Long, String, Double)].collect()
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3))
      var lastClick: Option[Long] = None
      ordered.flatMap { case (_, tns, _, typ, value) =>
        if (typ == "click") { lastClick = Some(tns); None }
        else if (typ == "purchase") {
          val attr = lastClick match {
            case None => "organic"
            case Some(c) if tns - c <= 3600000000000L => "lt_1h"
            case Some(c) if tns - c <= 86400000000000L => "1h_24h"
            case Some(c) if tns - c <= 604800000000000L => "1d_7d"
            case _ => "organic"
          }
          Some(attr -> value)
        } else None
      }
    }.groupBy(_._1).view.mapValues { vs =>
      (vs.size.toLong,
        vs.map(v => BigDecimal(v._2).setScale(2, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble)
    }.toMap
    val got = Analytics.eventsAttribution.run(spark, dir)
      .as[(String, Long, Double)].collect().toSeq
    assert(got.map(_._1) === got.map(_._1).sorted, "ordered by attribution")
    assert(got.map(_._1).toSet === expected.keySet)
    got.foreach { case (attr, n, rev) =>
      assert((n, rev) === expected(attr), s"bucket $attr")
    }
    // simultaneous click+purchase ordering and the organic fallback are
    // both exercised only if more than one bucket materializes
    assert(got.size >= 2, "attribution must discriminate buckets")
  }

  test("basket_pairs expands exactly the C(k,2) per-order pairs with exact lift") {
    import spark.implicits._
    val li = graft.sources.Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect()
    val perOrder = li.distinct.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val nOrders = perOrder.size.toLong
    val sup = perOrder.values.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pairCount = scala.collection.mutable.Map.empty[(Long, Long), Long]
    perOrder.values.foreach { parts =>
      for (i <- parts.indices; j <- i + 1 until parts.size)
        pairCount((parts(i), parts(j))) =
          pairCount.getOrElse((parts(i), parts(j)), 0L) + 1L
    }
    val expected = pairCount.toSeq
      .map { case ((p1, p2), n) =>
        (p1, p2, n, sup(p1), sup(p2),
          Math.floorDiv(n * nOrders * 1000000L, sup(p1) * sup(p2)))
      }
      .sortBy { case (p1, p2, n, _, _, _) => (-n, p1, p2) }
      .take(20)
    val df = Analytics.basketPairs.run(spark, dir)
    val got = df.as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
    assert(got.exists(_._3 > 1), "replicated baskets must yield repeat pairs")
    // per-order aggregation + map-side pair expansion, not the textbook
    // self-join: every consumer (pairs, both support joins, the order
    // total) must read the PERSISTED per-order frame — InMemoryTableScan
    // in the executed plan, one lineitem pass at materialization time.
    // (Counting FileScan lines is a trap here: each InMemoryRelation
    // reference re-prints the cached child plan, FileScan included.)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"), p)
  }

  test("incr_agg_merge: both batches non-empty and merge equals full recompute") {
    import spark.implicits._
    val o = graft.sources.Tables.load(spark, dir, "orders")
      .select($"o_custkey",
        org.apache.spark.sql.functions.expr("unix_micros(o_orderdate) div 86400000000L"),
        $"o_totalprice")
      .as[(Long, Long, Double)].collect()
    val days = o.map(_._2)
    val mid = (days.min + days.max) / 2
    // the cutoff must genuinely split the corpus into two arrivals, or
    // the "incremental" path degenerates to a plain aggregate
    assert(o.exists(_._2 < mid) && o.exists(_._2 >= mid),
      "midpoint cutoff must produce non-empty base AND delta batches")
    val expected = o.groupBy(_._1).view.mapValues { rows =>
      (rows.size.toLong, rows.map(r => math.round(r._3 * 100)).sum)
    }.toMap
    val got = Analytics.incrAgg.run(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) === got.map(_._1).sorted, "ordered by custkey")
    assert(got.size === expected.size)
    got.foreach { case (ck, n, cents) =>
      assert((n, cents) === expected(ck), s"customer $ck")
    }
  }

  test("orders_rfm matches a scalar quintile replay and partitions customers") {
    import spark.implicits._
    val o = graft.sources.Tables.load(spark, dir, "orders")
      .select($"o_custkey",
        org.apache.spark.sql.functions.expr("unix_micros(o_orderdate)").as("us"),
        $"o_totalprice")
      .as[(Long, Long, Double)].collect()
    val dmax = o.map(_._2 / 86400000000L).max
    val rfm = o.groupBy(_._1).map { case (_, rows) =>
      val r = dmax - rows.map(_._2 / 86400000000L).max
      val f = rows.size.toLong
      val mk = rows.map(x => BigDecimal(x._3 * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum / 100000L
      (r, f, mk)
    }.toSeq
    val n = rfm.size.toLong
    def scores(vals: Seq[Long]): Map[Long, Long] = {
      val hist = vals.groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
      hist.scanLeft((0L, 0L)) { case ((_, cum), (v, c)) => (v, cum + c) }
        .drop(1).map { case (v, cum) => v -> ((cum - 1) * 5 / n + 1) }.toMap
    }
    val (rs, fs, ms) =
      (scores(rfm.map(_._1)), scores(rfm.map(_._2)), scores(rfm.map(_._3)))
    val expect = rfm.groupBy { case (r, f, mk) => (rs(r), fs(f), ms(mk)) }
      .view.mapValues(_.size.toLong).toSeq
      .map { case ((a, b, c), k) => (a, b, c, k) }.sortBy(x => (x._1, x._2, x._3))
    val got = SparkEntry.queries("orders_rfm")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    assert(got.map(_._4).sum === n, "segments partition the customer base")
    got.foreach { case (a, b, c, _) =>
      assert(Seq(a, b, c).forall(s => s >= 1 && s <= 5))
    }
  }
  test("cepMatches anchors at clicks, bounds both hops, excludes same-instant ties") {
    import spark.implicits._
    val H = 3600L * 1000000000L // one hour in nanos
    def e(u: Long, t: Long, ty: String) = (u, ty, t)
    val fixture = Seq(
      // user 1: complete pattern inside the band -> 1 match at the click
      e(1, 0, "view"), e(1, 1 * H, "click"), e(1, 2 * H, "purchase"),
      // user 2: click with a prior view but NO purchase after -> no match
      e(2, 0, "view"), e(2, 1 * H, "click"),
      // user 3: right events, wrong order -> no match
      e(3, 0, "purchase"), e(3, 1 * H, "click"), e(3, 2 * H, "view"),
      // user 4: view falls outside the 24h look-back -> no match
      e(4, 0, "view"), e(4, 25 * H, "click"), e(4, 26 * H, "purchase"),
      // user 5: one view/purchase pair sandwiches TWO clicks -> both anchor
      e(5, 0, "view"), e(5, 1 * H, "click"), e(5, 2 * H, "click"),
      e(5, 3 * H, "purchase"),
      // user 6: view at the SAME instant as the click — the look-back frame
      // ends 1µs before the click's ts value, so the tie must NOT count
      e(6, 1 * H, "view"), e(6, 1 * H, "click"), e(6, 2 * H, "purchase"),
      // user 7: view 400ns before the click — distinct raw nanos, but both
      // floor to the SAME microsecond (DuckDB's epoch_ns truncates
      // sub-micro digits), so this tie must not count either
      e(7, 1 * H + 100, "view"), e(7, 1 * H + 500, "click"),
      e(7, 2 * H, "purchase"),
      // user 8: view one full microsecond before the click — counts
      e(8, 1 * H - 1000, "view"), e(8, 1 * H, "click"),
      e(8, 2 * H, "purchase")
    ).map { case (u, ty, t) => (u, ty, t) }
      .toDF("user_id", "event_type", "ts")
    val got = Analytics.cepMatches(fixture)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 1 * H / 1000),
      (5L, 2L, 1 * H / 1000),
      (8L, 1L, 1 * H / 1000)))
  }
  test("col_histogram: scalar equi-depth replay, band-partitioned windows") {
    import spark.implicits._
    val q = Analytics.colHistogram.run(spark, dir)
    // the orders_pareto discipline: any window SORTED on the cents value
    // must be band-partitioned; only the band-total frame goes unpartitioned
    val centWindows = q.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition("))
      .filter(l => "\\bc#\\d+L? ASC".r.findFirstIn(l).isDefined)
      .toSeq
    // name-matched filter: an aliasing refactor would empty the match set
    // and pass the gate vacuously — demand the gated window is present
    assert(centWindows.nonEmpty,
      "plan gate matched no c-sorted window — regex went stale against the plan")
    centWindows.foreach { l =>
      assert(l.contains("band"), s"unpartitioned window over values:\n$l")
    }
    val cents = graft.sources.Tables.load(spark, dir, "lineitem")
      .select($"l_extendedprice").as[Double].collect()
      .map(p => math.round(p * 100))
    val n = cents.length.toLong
    val hist = cents.groupBy(identity).toSeq
      .map { case (c, cs) => (c, cs.length.toLong) }.sortBy(_._1)
    val expect = hist.zip(hist.scanLeft(0L)(_ + _._2))
      .map { case ((c, k), cb) => (cb * 16 / n, c, k) }
      .groupBy(_._1).toSeq.map { case (b, vs) =>
        (b, vs.map(_._2).min, vs.map(_._2).max,
          vs.map(_._3).sum, vs.size.toLong)
      }.sortBy(_._1)
    val got = q.as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    // equi-depth up to the largest single-value mass; ranges are disjoint
    val maxK = hist.map(_._2).max
    got.foreach { case (b, _, _, cnt, _) =>
      assert(cnt <= n / 16 + maxK, s"bucket $b over-deep: $cnt")
    }
    got.sliding(2).foreach {
      case Seq((_, _, hi1, _, _), (_, lo2, _, _, _)) => assert(hi1 < lo2)
      case _ =>
    }
    graft.Scratch.release(spark)
  }

  test("stats_incr_merge: merge path equals direct build; filters push") {
    import spark.implicits._
    val q = Analytics.statsIncrMerge.run(spark, dir)
    val got = q.as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    val direct = Analytics.colHistogram.run(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // the merged-histogram rebucket is bit-identical to the direct build
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)) === direct)
    // merge-grain observables: halves partition every bucket, both occur
    got.foreach { case (b, _, _, cnt, _, nb, nd) =>
      assert(nb + nd === cnt, s"bucket $b: $nb + $nd != $cnt")
    }
    assert(got.map(_._6).sum > 0 && got.map(_._7).sum > 0,
      "both halves must contribute")
    // both half filters reach the parquet scans as pushed filters
    val plan = q.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*l_orderkey[^\\]]*\\]".r
      .findAllIn(plan).toSeq
    assert(pushed.size >= 2, s"expected both half filters pushed:\n$plan")
    graft.Scratch.release(spark)
  }

  test("orders_pareto deciles partition customers and concentrate top revenue") {
    import spark.implicits._
    val q = Analytics.ordersPareto.run(spark, dir)
    // scale gate: every window ordered by the cents histogram must be
    // band-partitioned — an unpartitioned cents window walks a frame that
    // grows ~1:1 with |customers| through one task
    val planLines = q.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    // (the decile-frame windows aggregate cents but ORDER by the ≤10-row
    // decile axis — only a window SORTED on the cents histogram walks a
    // customer-sized frame)
    planLines.filter(l => "cents#\\d+L? DESC".r.findFirstIn(l).isDefined)
      .foreach { l =>
        assert(l.contains("band"), s"unpartitioned window over cents:\n$l")
      }
    val got = q.as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val nCust = graft.sources.Tables.load(spark, dir, "orders")
      .select($"o_custkey").distinct().count()
    assert(got.map(_._2).sum === nCust, "deciles must partition the customers")
    // equal-population up to value-group ties staying together; total is
    // the same whole-corpus figure on every row (the ppm diagnostic)
    val total = got.head._4
    got.foreach { case (d, n, _, t, _, _) =>
      assert(d >= 0 && d <= 9 && n > 0 && t === total)
    }
    assert(got.map(_._3).sum === total, "decile cents must sum to total_cents")
    // decile 0 holds the top customers: its per-customer average revenue
    // must be the maximum across deciles, and shares must fall thereafter
    val avg = got.sortBy(_._1).map(r => r._3.toDouble / r._2)
    assert(avg.zip(avg.tail).forall { case (a, b) => a >= b },
      s"per-customer revenue must fall across deciles: $avg")
    // cumulative share reaches ~100% (floor-division undershoot < 10 ppm)
    val last = got.maxBy(_._1)._6
    assert(last > 999990L && last <= 1000000L, s"cum share end: $last")
  }
  test("sequenceFrame orders by (tus, event_id), truncates at 20, flags it") {
    import spark.implicits._
    // one 25-event session: event types cycle a/b/c/d/e, same-microsecond
    // tie at positions 3 and 4 resolved by event_id
    val rows = (0 until 25).map { i =>
      val tus = if (i == 4) 3L else i.toLong // event 4 ties with event 3
      (1L, 0L, tus, i.toLong, ("abcde" (i % 5)).toString)
    } :+ ((2L, 0L, 0L, 99L, "x")) // a second, 1-event session
    val got = Analytics.sequenceFrame(
        rows.toDF("user_id", "session_no", "tus", "event_id", "event_type"))
      .as[(Long, Long, Long, Long, String, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val (_, _, n, start, seq, trunc) = got(1L)
    assert((n, start, trunc) === ((25L, 0L, true)))
    val toks = seq.split(">")
    assert(toks.length === 20, "sequence must cap at 20 actions")
    // order: 0,1,2,3,4(tie, id 4 after id 3),5,... — types cycle in id order
    assert(toks.take(6).mkString === "abcdea")
    assert(got(2L)._5 === "x" && !got(2L)._6)
  }

  test("events_session_builtin plans the native session operator and agrees with the lag/cumsum form") {
    import spark.implicits._
    val q = Analytics.sessionBuiltin.run(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("UpdatingSessions") || plan.contains("session_window"),
      s"expected the native session-window operator:\n$plan")
    // parity with the hand-rolled sessionizer: same (user, session_start)
    // set and member counts — the corpus has no exact-30min gaps, so the
    // one documented boundary difference cannot bite here
    val builtin = q.select($"user_id", $"session_start_us", $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    val custom = Analytics.sessionize.run(spark, dir)
      .select($"user_id", $"session_start", $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(builtin === custom)
  }

  test("events_forecast: dense day spans and an exact EWMA replay") {
    val out = Analytics.eventsForecast.run(spark, sf("sf0.001"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (tpe, rows) =>
      val series = rows.sortBy(_._2)
      // zero-filled: the day axis is contiguous over the type's span
      assert(series.map(_._2).toSeq ===
        (series.head._2 to series.last._2), s"$tpe days not dense")
      // independent Scala replay of the fixed-point fold
      var s = 8L * series.head._3
      assert(series.head._4 === series.head._3 && series.head._5 === 0L)
      series.tail.foreach { case (_, _, c, forecast, resid) =>
        assert(forecast === Math.floorDiv(s, 8L), s"$tpe forecast drift")
        assert(resid === c - Math.floorDiv(s, 8L))
        s = s + Math.floorDiv(8L * c - s, 8L)
      }
    }
  }

  test("events_forecast: gap days zero-fill instead of throwing under ANSI") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // day 12 is missing: the zero-fill must fabricate c=0 (the ANSI [0]
    // indexing bug the x10 smoke caught) and the EWMA must decay through it
    val counts = Seq(("click", 10L, 8L), ("click", 11L, 8L), ("click", 13L, 8L))
      .toDF("event_type", "day", "c")
    val got = Analytics.forecastSeries(counts)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq === Seq(10L, 11L, 12L, 13L))
    assert(got(2)._2 === 0L, "gap day must count zero")
    // replay: s=64; day11: f=8, s=64; day12: c=0 -> f=8, s=64+floor(-64/8)=56
    // day13: f=floor(56/8)=7, resid=1
    assert(got(2)._3 === 8L && got(2)._4 === -8L)
    assert(got(3)._3 === 7L && got(3)._4 === 1L)
  }

  test("incr_join_merge: quadrant merge equals the one-pass view, cross terms non-empty") {
    import spark.implicits._
    val orders = graft.sources.Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey").as[(Long, Long)].collect().toSeq
    val li = graft.sources.Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_extendedprice").as[(Long, Double)].collect().toSeq
    val mc = (orders.map(_._2).min + orders.map(_._2).max) / 2
    val ml = (li.map(_._1).min + li.map(_._1).max) / 2
    val custOf = orders.toMap
    val expect = li.flatMap { case (ok, p) => custOf.get(ok).map(c => (c, ok, p)) }
      .groupBy(_._1).toSeq.map { case (c, rs) =>
        def quad(f: ((Long, Long, Double)) => Boolean) = rs.count(f).toLong
        (c, rs.size.toLong,
          rs.map(r => BigDecimal(r._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
            .sum.toDouble,
          quad(r => r._1 < mc && r._2 < ml), quad(r => r._1 < mc && r._2 >= ml),
          quad(r => r._1 >= mc && r._2 < ml), quad(r => r._1 >= mc && r._2 >= ml))
      }.sortBy(_._1)
    val got = Analytics.incrJoinMerge.run(spark, dir)
      .as[(Long, Long, Double, Long, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    // the decomposition is total and the split is non-vacuous: every
    // quadrant — including both CROSS terms — carries rows somewhere
    got.foreach { case (c, n, _, bb, bd, db, dd) =>
      assert(n === bb + bd + db + dd, s"custkey $c quadrants don't sum")
    }
    Seq[((Long, Long, Double, Long, Long, Long, Long)) => Long](
      _._4, _._5, _._6, _._7).zip(Seq("bb", "bd", "db", "dd")).foreach {
      case (f, tag) => assert(got.map(f).sum > 0, s"quadrant $tag is empty corpus-wide")
    }
  }

  test("events_gap_locf: scalar forward-fill replay; real gaps get carried values") {
    import spark.implicits._
    val HourNanos = 3600L * 1000000000L
    val ev = graft.sources.Tables.load(spark, dir, "events")
      .select($"event_type", $"ts", $"value")
      .as[(String, Long, Double)].collect().toSeq
    val obs = ev.groupBy(r => (r._1, Math.floorDiv(r._2, HourNanos))).map {
      case ((ty, h), rs) =>
        val sum = rs.map(r => BigDecimal(r._3).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
        // exactAvg semantics: decimal sum cast to DOUBLE, then double-divided
        (ty, h) -> (rs.size.toLong, sum.toDouble / rs.size)
    }
    val hours = obs.keys.map(_._2)
    val (lo, hi) = (hours.min, hours.max)
    val types = ev.map(_._1).distinct.sorted
    val expect = types.flatMap { ty =>
      var src = Option.empty[Long]
      (lo to hi).map { h =>
        val o = obs.get((ty, h))
        if (o.isDefined) src = Some(h)
        (ty, h, o.map(_._1).getOrElse(0L), src,
          src.flatMap(sh => obs.get((ty, sh)).map(_._2)))
      }
    }
    val got = Analytics.eventsGapLocf.run(spark, dir)
      .as[(String, Long, Long, Option[Long], Option[Double])].collect().toSeq
    assert(got === expect)
    // the fixture genuinely exercises the fill: some gap hour carries a
    // non-null value from an EARLIER hour
    assert(got.exists { case (_, h, n, src, f) =>
      n == 0L && src.exists(_ < h) && f.isDefined
    }, "no filled gap in the corpus — the LOCF path never ran")
  }

  test("grouping_sets: the explicit set list replays as three separate aggregates") {
    import spark.implicits._
    val orders = graft.sources.Tables.load(spark, dir, "orders")
      .select($"o_orderstatus", $"o_orderpriority", $"o_totalprice")
      .as[(String, String, Double)].collect().toSeq
    def agg(rows: Seq[(String, String, Double)]): (Long, Double) =
      (rows.size.toLong,
        rows.map(r => BigDecimal(r._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble)
    val detail = orders.groupBy(r => (r._1, r._2)).toSeq.map { case ((st, pr), rs) =>
      val (c, t) = agg(rs); (Option(st), Option(pr), 0L, c, t)
    }
    val byPrio = orders.groupBy(_._2).toSeq.map { case (pr, rs) =>
      val (c, t) = agg(rs); (Option.empty[String], Option(pr), 2L, c, t)
    }
    val grand = { val (c, t) = agg(orders)
      Seq((Option.empty[String], Option.empty[String], 3L, c, t)) }
    val expect = (detail ++ byPrio ++ grand)
      .sortBy { case (st, pr, gid, _, _) => (gid, st.getOrElse(""), pr.getOrElse("")) }
    val got = Analytics.groupingSetsAgg.run(spark, dir)
      .as[(Option[String], Option[String], Long, Long, Double)].collect().toSeq
    assert(got === expect)
    // exactly the three requested sets — no cube/rollup extras
    assert(got.map(_._3).distinct.sorted === Seq(0L, 2L, 3L))
  }

  test("unpivot_long: the melt is exactly the wide aggregate, relabeled") {
    import spark.implicits._
    val wide = graft.sources.Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
      .as[(String, Double, Double)].collect().toSeq
      .groupBy(_._1).toSeq.map { case (rf, rs) =>
        def s(f: ((String, Double, Double)) => Double): Double =
          rs.map(r => BigDecimal(f(r)).setScale(2, BigDecimal.RoundingMode.HALF_UP))
            .sum.toDouble
        (rf, rs.size.toDouble, s(_._2), s(_._3))
      }
    val expect = wide.flatMap { case (rf, n, q, p) =>
      Seq((rf, "n_rows", n), (rf, "sum_price", p), (rf, "sum_qty", q))
    }.sortBy(r => (r._1, r._2))
    val got = Analytics.unpivotLong.run(spark, dir)
      .as[(String, String, Double)].collect().toSeq
    assert(got === expect)
    // long shape: |flags| × 3 metrics, one row each
    assert(got.size === wide.size * 3)
  }
  test("leader_gap: ONE exchange; output leaves in the declared total order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = sf("sf0.001")
    val q = Analytics.leaderGap.run(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // the window rides the range exchange: no second (hash) exchange, no
    // trailing global sort node
    assert("Exchange".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains("rangepartitioning"), plan)
    // the emitted row stream IS ordered by (okey, lineno, price) — the
    // global-sort-equivalence claim, checked on the materialized result
    val rows = q.select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(rows === rows.sortBy(identity), "output not globally ordered")
    assert(rows.nonEmpty)
    graft.Scratch.release(spark)
  }
}

package graft.operators

import graft.Q
import graft.functions.RaceTime
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's nine analytical queries (SURVEY.md §2.4-§2.8), re-keyed
  * onto the driver's TPC-H-ish testdata (mapping table in FIXTURES.md §B).
  * Reference citations `F` = `Lucas files/finalversion`,
  * `LU` = `Lucas files/lastupdate1406`.
  *
  * Cross-engine float determinism: SUM/AVG over 2-decimal money doubles are
  * computed as exact DECIMAL(18,2) sums (order-independent, so safe under
  * shuffle/parallelism at any scale) then cast back to double; the DuckDB
  * oracles spell the identical arithmetic. Every query ends in a total
  * deterministic ORDER BY so row order can never diverge from the oracle.
  */
object Analytics {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Exact order-independent sum of a 2-decimal double column, as double. */
  private def exactSum(c: Column): Column = sum(dec(c)).cast("double")
  /** Exact average: decimal sum / non-null count (both engines: double/int64). */
  private def exactAvg(c: Column): Column = exactSum(c) / count(c)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // Shared event-time nanos constants, interpolated into BOTH each oracle
  // SQL and its Spark builder — one definition per boundary, so a typo
  // cannot skew a bucket on one engine only (declared before first use:
  // object vals initialize in order).
  private val MinuteNanos = 60L * 1000000000L
  // declared with the first constants, not near its first consumer:
  // object vals initialize in order, and a val-interpolated oracle string
  // reading a later-declared constant would silently bake in 0
  private val HourNanos = 3600L * 1000000000L
  private val DayNanos = 86400L * 1000000000L

  /** A1 (wins, F:329-335): filter → groupBy → count → global sort. */
  val wins: Q = Q("wins",
    """SELECT l_returnflag, CAST(year(l_shipdate) AS BIGINT) AS yr, count(*) AS wins
      |FROM lineitem WHERE l_linenumber = 1
      |GROUP BY l_returnflag, yr ORDER BY l_returnflag, yr""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_linenumber") === 1)
      .groupBy(col("l_returnflag"), year(col("l_shipdate")).cast("long").as("yr"))
      .agg(count(lit(1)).as("wins"))
      .orderBy(col("l_returnflag"), col("yr"))
  }

  /** W1 (fastestlap, F:336-347): ROW_NUMBER top-1 per group. */
  val fastestlap: Q = Q("fastestlap",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
      |  SELECT l_orderkey, l_linenumber, l_extendedprice,
      |         row_number() OVER (PARTITION BY l_orderkey
      |                            ORDER BY l_extendedprice, l_linenumber) AS rn
      |  FROM lineitem) t
      |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice"), col("l_linenumber"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("l_orderkey"))
  }

  /** W1 at scale: the same top-1-per-group as [[fastestlap]], reformulated
    * as `min(struct(...))` hash aggregation. The window form shuffles every
    * row then sorts each partition; this form combines map-side to one
    * struct per group before the exchange — at 100 TB the shuffle carries
    * |groups| rows instead of |input| rows. Same oracle: lexicographic
    * struct min ≡ first row under ORDER BY (price, linenumber).
    */
  val fastestlapAgg: Q = Q("fastestlap_agg",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
      |  SELECT l_orderkey, l_linenumber, l_extendedprice,
      |         row_number() OVER (PARTITION BY l_orderkey
      |                            ORDER BY l_extendedprice, l_linenumber) AS rn
      |  FROM lineitem) t
      |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(min(struct(col("l_extendedprice"), col("l_linenumber"))).as("m"))
      .select(col("l_orderkey"), col("m.l_linenumber").as("l_linenumber"),
        col("m.l_extendedprice").as("l_extendedprice"))
      .orderBy(col("l_orderkey"))
  }

  /** A2 (filter, F:345-349): GROUP BY as dedup — `dropDuplicates` semantics. */
  val filterDistinct: Q = Q("filter",
    """SELECT DISTINCT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS BIGINT) AS yr
      |FROM lineitem ORDER BY l_returnflag, l_linestatus, yr""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        year(col("l_shipdate")).cast("long").as("yr"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("yr"))
  }

  /** A3 (weather, F:351-366): range filter + join + MIN/MAX/AVG multi-agg. */
  val weather: Q = Q("weather",
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(c_nationkey AS BIGINT) AS nationkey,
      |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice) AS avg_price,
      |  count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE year(o_orderdate) >= 1998
      |GROUP BY yr, nationkey ORDER BY yr, nationkey""".stripMargin) { (s, dir) =>
    // `year(o_orderdate) >= 1998` mirrors the oracle SQL verbatim; the
    // session-wide SargableYearFilter rule (graft.plans) rewrites it into
    // the pushable range predicate (PushedFilters gains GreaterThanOrEqual
    // → row-group skipping at scale). Asserted in AnalyticsSpec.
    t(s, dir, "orders")
      .filter(year(col("o_orderdate")) >= 1998)
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
        col("c_nationkey").cast("long").as("nationkey"))
      .agg(
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        exactAvg(col("o_totalprice")).as("avg_price"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("yr"), col("nationkey"))
  }

  /** J1+J2 (combine, F:283-293): multi-way equi-join enrichment. The dim
    * tables (nation/region) are broadcast — no shuffle of the fact side for
    * those joins at any scale; orders⋈customer stays a shuffled hash join
    * (both sides scale with SF, AQE picks the strategy).
    */
  val combine: Q = Q("combine",
    """SELECT o_orderkey, c_name, n_name, r_name, o_totalprice
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("o_orderkey"), col("c_name"), col("n_name"), col("r_name"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** U1 (union, F:268-271): N-way UNION ALL of per-slice frames (the
    * reference unions 24 per-city weather frames; Catalyst's CombineUnions
    * collapses the chain into one N-ary union, single stage).
    */
  val unionAllSlices: Q = Q("union", {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
    segs.map(g => s"SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_mktsegment = '$g'")
      .mkString("", "\nUNION ALL\n", "\nORDER BY c_custkey")
  }) { (s, dir) =>
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
    val c = t(s, dir, "customer")
    segs.map(g => c.filter(col("c_mktsegment") === g)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")))
      .reduce(_ unionAll _)
      .orderBy(col("c_custkey"))
  }

  /** A4 (stats, LU:319-326): AVG/MAX/COUNT per key; MAX over a string column
    * is lexicographic — a reference semantic preserved on purpose
    * (SURVEY.md §4, `MAX(fastestLapTime)`).
    */
  val stats: Q = Q("stats",
    """SELECT p_brand,
      |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(p_retailprice) AS avg_price,
      |  max(p_type) AS max_type, count(*) AS total
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
    t(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(
        exactAvg(col("p_retailprice")).as("avg_price"),
        max(col("p_type")).as("max_type"),
        count(lit(1)).as("total"))
      .orderBy(col("p_brand"))
  }

  /** O3 (top10, LU:329-334): ORDER BY + LIMIT — plans as
    * TakeOrderedAndProject (per-partition top-k, no global sort/shuffle of
    * the full table; asserted in AnalyticsSpec).
    */
  val top10: Q = Q("top10",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  /** F4/W2 (evopoints, F:145-147 + F:367-372): running cumulative sum per
    * key — the reference's driver-side Python dict, as a distributed window.
    * Decimal window sum keeps the running total exact at any partition count.
    */
  val evopoints: Q = Q("evopoints",
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS total_points
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("total_points"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** F3/W3 (leader-relative reconstruction, F:152-165): `first` window value
    * + delta — the reference's stateful per-race Python loop, distributed.
    */
  val leaderGap: Q = Q("leader_gap",
    """SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  first_value(l_extendedprice) OVER w AS leader_price,
      |  l_extendedprice - first_value(l_extendedprice) OVER w AS gap
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_extendedprice)
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin) { (s, dir) =>
    // (l_orderkey, l_linenumber) is NOT unique in the testdata; the extra
    // l_extendedprice sort key makes the window total-ordered → deterministic.
    //
    // ONE exchange instead of two: the old shape hash-exchanged for the
    // window and then range-exchanged + re-sorted the full result for the
    // ORDER BY. RangePartitioning(l_orderkey) satisfies the window's
    // ClusteredDistribution(l_orderkey) (the range partitioner assigns
    // equal keys to one partition), and range-ordered partitions + the
    // within-partition (okey, lineno, price) sort ARE the requested total
    // order — partition p's keys ≤ partition q's for p < q with no key
    // straddling — so no trailing orderBy is needed: the window runs on
    // the already-range-partitioned, already-sorted stream and the output
    // leaves in presentation order. This is the at-scale presentation
    // form (global sort = range partition + local sort is exactly what
    // Sort's OrderedDistribution lowers to anyway; here the window rides
    // the same exchange).
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_extendedprice"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .repartitionByRange(col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .withColumn("leader_price", first(col("l_extendedprice")).over(w))
      .withColumn("gap", col("l_extendedprice") - col("leader_price"))
  }

  /** F5 (pitstop counts, F:133-138 + F:188): per-key count joined back with
    * a default of 0 for absent keys (`coalesce`), as the reference defaults
    * missing pitstop counts.
    */
  val pitstop: Q = Q("pitstop",
    """SELECT c_custkey, coalesce(n, 0) AS n_events
      |FROM customer LEFT JOIN
      |  (SELECT user_id, count(*) AS n FROM events GROUP BY user_id) e
      |ON c_custkey = user_id
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    t(s, dir, "customer")
      .join(perUser, col("c_custkey") === col("user_id"), "left")
      .select(col("c_custkey"), coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy(col("c_custkey"))
  }

  /** O2 (F:376-384): ORDER BY a column that is not in the SELECT list —
    * resolved against the child relation, exercised through `spark.sql`
    * exactly like the reference's `sqlContext.sql` path (S9).
    */
  val orderByHidden: Q = Q("orderby_hidden",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_custkey, o_orderkey") { (s, dir) =>
    t(s, dir, "orders").createOrReplaceTempView("graft_orders")
    s.sql("SELECT o_orderkey, o_totalprice FROM graft_orders ORDER BY o_custkey, o_orderkey")
  }

  /** The racetime 5-key presentation sort packed into ONE long (bit
    * budget and isomorphism proof at the use site below). Shared with
    * [[graft.Decomp]]'s stage pricing so a future multiplier change can
    * never desynchronize the decomposition from the shipped query (r17
    * advice).
    */
  val RacetimePackedSortKey: String =
    "l_orderkey * 262144L + l_linenumber * 32768L + " +
      "(CASE WHEN q60 < 10 THEN q60 ELSE q60 div 10 END) * 2048L + " +
      "(CASE WHEN q60 < 10 THEN 10 ELSE q60 % 10 END) * 128L + " +
      "l_partkey % 100"

  /** F1+F2 (racetime, F:33-63): parse + format race-time strings, both the
    * composed-builtin pipeline and the native RaceTimeSeconds expression
    * (`secs_native`), on strings constructed from testdata columns.
    */
  val racetime: Q = Q("racetime",
    """WITH t AS (
      |  SELECT l_orderkey, l_linenumber,
      |    printf('%d:%02d.%03d', CAST(floor(l_quantity) AS INT) % 60,
      |           CAST(l_orderkey % 60 AS INT), CAST((l_partkey % 100) * 10 AS INT)) AS t_str
      |  FROM lineitem),
      |p AS (
      |  SELECT l_orderkey, l_linenumber, t_str,
      |    CAST(split_part(t_str, ':', 1) AS DOUBLE) * 60
      |      + CAST(split_part(t_str, ':', 2) AS DOUBLE) AS secs
      |  FROM t)
      |SELECT l_orderkey, l_linenumber, t_str, secs, secs AS secs_native,
      |  printf('%02d:%02d:%05.2f', CAST(floor(secs / 3600) AS INT),
      |         CAST(floor(fmod(secs, 3600) / 60) AS INT), fmod(secs, 60)) AS fmt
      |FROM p ORDER BY l_orderkey, l_linenumber, t_str""".stripMargin) { (s, dir) =>
    RaceTime.register(s)
    // NOTHING string-typed crosses the global Sort: t_str's lexicographic
    // tie-break is replayed by the numeric key triple derived below, so
    // the sort/shuffle payload is a handful of numeric columns and the
    // ENTIRE parse/format chain (two format_strings + the native parse)
    // runs in the post-sort projection.
    // This is what keeps the ×100 run stable: the old shape materialized a
    // formatted string per row below the range exchange, and the 60M-row
    // allocation storm at the GC boundary made same-code runs swing
    // 40–53 s. A projection above a Sort never reorders rows, so the
    // presentation order (and the hash gate) is unchanged.
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_partkey"))
      // (okey, lineno) is NOT unique in testdata, so the declared tie-break
      // `t_str` must be replayed EXACTLY — but numerically, so nothing
      // string-typed crosses the sort. Within a tie group o = okey%60 is
      // constant and the trailing %03d field is fixed-width (lex ≡
      // numeric), leaving only the variable-width leading %d of
      // q = ⌊qty⌋%60: its lexicographic order is (first digit, then the
      // second digit with the ':' separator sorting AFTER '9' — ASCII
      // ':' = 58 — so single-digit q ranks after q·10+0..9). Two rows tied
      // on ALL four keys have byte-identical output, so the order is total.
      .withColumn("q60", floor(col("l_quantity")).cast("int") % 60)
      // the 5-key tuple packed into ONE long (round 17; Decomp priced the
      // packed sort at −2.1 s of the ×100 sort stage and a 5×-narrower
      // exchange payload): every trailing field is bounded non-negative —
      // lineno 1..7 (<8), lexq1 0..9 and lexq2 0..10 (<16 each), pmod
      // 0..99 (<128) — so the packed integer order is ISOMORPHIC to the
      // tuple order (spec-asserted against the tuple sort AND a driver-
      // side t_str re-sort in RaceTimeSpec). okey rides the high bits:
      // ×262144 overflows long only past okey ≈ 3.5e13, three orders of
      // magnitude beyond the ×100 corpus' offset key domain.
      .withColumn("sk", expr(RacetimePackedSortKey))
      .orderBy(col("sk"))
      .drop("q60", "sk")
      // floor, not bare cast: DuckDB's CAST(double AS INT) ROUNDS while
      // Spark's truncates — floor first so both engines agree even if
      // quantities were ever non-integral.
      // Fused native t_str (round 17; the r16 concat/lpad chain priced by
      // graft.Decomp at ×100: format stage 24.6 s of the 30.9 s query):
      // race_time_str builds '%d:%02d.%03d' in ONE codegen'd static call
      // — byte-identical to the concat/lpad form including its lpad
      // truncation and negative-field edges, pinned in RaceTimeSpec.
      .withColumn("t_str", call_function("race_time_str",
        floor(col("l_quantity")).cast("int") % 60,
        (col("l_orderkey") % 60).cast("int"),
        ((col("l_partkey") % 100) * 10).cast("int")))
      // secs NUMERICALLY, not by re-parsing t_str: parseDouble("oo.ppp")
      // is the nearest double to the exact decimal o.ppp, and
      // (o*1000 + p)/1000.0 is that SAME single correctly-rounded
      // operation (both operands exact in double) — then q*60.0 is exact
      // (≤3540) and the final addition is the one rounding step both the
      // composed split/try_cast path and RaceTimeParse take. Bitwise
      // equality with BOTH parse paths over the full field grid
      // (60×60×100) is spec-asserted in RaceTimeSpec; the DuckDB oracle
      // replays the parse form and the hash gate agrees at 3 SFs.
      .withColumn("secs",
        (floor(col("l_quantity")).cast("int") % 60).cast("double") * 60.0 +
          ((col("l_orderkey") % 60).cast("int") * 1000 +
            ((col("l_partkey") % 100) * 10).cast("int")).cast("double") / 1000.0)
      // the native F1 parse demo stays in-query (one parse, not the two
      // the r16 shape paid: composed split/regexp + native on every row)
      .withColumn("secs_native", expr("race_time_seconds(t_str)"))
      // native formatter (composed formatCol ≡ native, RaceTimeSpec): the
      // per-row java.util.Formatter behind format_string was ~9 s of the
      // ×100 projection — the F2 twin of the F1 native parse above
      .withColumn("fmt", call_function("race_time_format", col("secs")))
      .select(col("l_orderkey"), col("l_linenumber"), col("t_str"),
        col("secs"), col("secs_native"), col("fmt"))
  }

  /** Batch analog of the streaming 5-minute windowed aggregation over
    * `events` (SURVEY.md §2.9 notes the reference has no streaming; the
    * Structured Streaming variant lives in graft.streaming.EventsStream).
    */
  val eventsWindow: Q = Q("events_window",
    """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type""".stripMargin) { (s, dir) =>
    // Exact integer floor-division (pmod is the non-negative remainder, so
    // (ts - pmod)/N rounds toward -inf like DuckDB's floor(epoch/300) —
    // `div` would truncate toward zero for pre-1970 timestamps, and a double
    // division would lose precision on nanosecond-scale longs).
    t(s, dir, "events")
      .groupBy((expr("(ts - pmod(ts, 300000000000)) div 300000000000") * 300)
          .cast("long").as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** First-event-wins dedup per (user, type, minute) — the batch twin of
    * the streaming `dropDuplicatesWithinWatermark` dedup
    * ([[graft.streaming.EventsStream.dedupStream]]): collapse repeated
    * clicks/views inside a minute to their first occurrence and account
    * the replays — the idempotence pass every at-least-once event
    * pipeline runs before aggregation. `min(event_id)` IS the
    * first-arrival rule (ids are assigned in arrival order), so the
    * survivor choice is deterministic on any partitioning. One keyed
    * exchange with map-side partial aggregation; output is bounded by
    * distinct (user, type, minute) keys.
    */
  val eventsDedup: Q = Q("events_dedup",
    s"""SELECT user_id, event_type,
      |  CAST((epoch_ns(ts) - ((epoch_ns(ts) % $MinuteNanos + $MinuteNanos) % $MinuteNanos)) // $MinuteNanos AS BIGINT) AS minute,
      |  min(event_id) AS first_event_id, count(*) AS n_events
      |FROM events GROUP BY 1, 2, 3
      |ORDER BY user_id, event_type, minute""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"),
        expr(s"(ts - pmod(ts, ${MinuteNanos}L)) div ${MinuteNanos}L").as("minute"))
      .agg(min(col("event_id")).as("first_event_id"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("event_type"), col("minute"))
  }

  /** Event-time disorder audit — the measurement that SIZES a watermark:
    * per event, lateness = (max event-time seen so far on its stream
    * partition) − (its own event-time), where arrival order is the
    * event_id sequence and the partition key is user_id (the Kafka-key
    * analog this schema shards by). The bucketed histogram answers "what
    * fraction of events would a 1-minute / 1-hour watermark delay drop?"
    * — the number every `withWatermark` choice in [[graft.streaming]] is
    * implicitly betting on, measured instead of guessed.
    *
    * Shape: one user_id exchange carries a running-max window in arrival
    * order; lateness buckets collapse map-side into a ≤4-row histogram.
    * Integer nanos throughout.
    */
  val eventsLateness: Q = Q("events_lateness",
    s"""WITH l AS (SELECT
      |    CAST(max(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY event_id) - epoch_ns(ts) AS BIGINT) AS late_ns
      |  FROM events),
      |b AS (SELECT CASE
      |    WHEN late_ns = 0 THEN 'in_order'
      |    WHEN late_ns < $MinuteNanos THEN 'lt_1m'
      |    WHEN late_ns < $HourNanos THEN 'lt_1h'
      |    ELSE 'ge_1h' END AS bucket
      |  FROM l)
      |SELECT bucket, count(*) AS n FROM b
      |GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    val byArrival = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    t(s, dir, "events")
      .select((max(col("ts")).over(byArrival) - col("ts")).as("late_ns"))
      .select(when(col("late_ns") === 0, "in_order")
        .when(col("late_ns") < MinuteNanos, "lt_1m")
        .when(col("late_ns") < HourNanos, "lt_1h")
        .otherwise("ge_1h").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Stream-static enrichment, batch-gated: runs the SAME
    * [[graft.streaming.EventsStream.segmentWindowCounts]] transform the
    * streaming side executes per micro-batch (watermarks are no-ops in
    * batch — the events_clickjoin contract), joining each event to its
    * user's market segment (customer dim, broadcast; unmatched → UNKNOWN)
    * and aggregating 5-minute windows per segment. The oracle gates the
    * one shared plan's semantics; stream ≡ batch over micro-batch splits
    * is asserted in EventsStreamSpec.
    */
  val eventsSegmentWindow: Q = Q("events_segment_window",
    """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket,
      |  coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY bucket, segment ORDER BY bucket, segment""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
      .select(timestamp_micros(Tables.nanosToMicros("ts")).as("ts"),
        col("user_id"), col("value"))
    val dim = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    graft.streaming.EventsStream.segmentWindowCounts(ev, dim)
      .orderBy(col("bucket"), col("segment"))
  }

  /** Semi-structured extraction: parse the `props` JSON string column with
    * an explicit schema (`from_json` + field projection — the Spark-native
    * form: the parse is a codegen'd expression, the schema is declared, and
    * malformed/missing keys become NULLs instead of errors) and aggregate
    * the extracted value per event type. The reference ingests nested JSON
    * driver-side (SURVEY.md P2); this is the same capability pushed into
    * the distributed scan-side projection, which is how a 100 TB event log
    * with a JSON payload column actually gets queried.
    */
  val eventsJson: Q = Q("events_json",
    // json_valid guard: DuckDB's json functions THROW on malformed JSON
    // where Spark's from_json yields NULL. The json_type guard + TRY_CAST
    // replay Spark's NULL-on-mismatch for non-integral payloads too:
    // from_json(k BIGINT) nulls a quoted number ({"k":"12"}) and a double
    // ({"k":1.5}), where a bare DuckDB CAST would coerce the former and
    // error on the latter; TRY_CAST nulls uint64 values past the BIGINT
    // range exactly like Spark's overflow-to-null parse.
    """WITH k AS (SELECT event_type,
      |    CASE WHEN json_valid(props) THEN
      |      CASE WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
      |           THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT) END
      |    END AS k
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  min(k) AS min_k,
      |  max(k) AS max_k,
      |  CAST(count(k) AS BIGINT) AS n_with_k
      |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        count(col("k")).as("n_with_k"))
      .orderBy(col("event_type"))
  }

  /** Gap-based sessionization as a batch query — the batch counterpart of
    * `graft.streaming.EventsStream.sessionize` (same session concept,
    * different clock: the streaming form closes a session after 30 min of
    * PROCESSING-time inactivity via state timeout, this batch form splits
    * on >30 min EVENT-time gaps — replaying history through both is not
    * expected to yield identical boundaries):
    * a break flag per event (lag window), a running break-count as the
    * per-user session number, then one row per session with exact-decimal
    * value sums. Both windows share ONE (user_id → ts) partitioning, so at
    * scale there is a single exchange for the whole window stage, plus the
    * final per-(user, session) hash aggregation. All time arithmetic is
    * exact integer MICROseconds: `ts` is int64-nanos on the Spark side but
    * DuckDB coerces the TIMESTAMP(NANOS) parquet column to µs-precision
    * TIMESTAMP, so both engines truncate to µs (`ts div 1000` /
    * `epoch_us`) before any comparison — no float epoch, no sub-µs
    * divergence in gap decisions or session bounds.
    */
  val sessionize: Q = Q("events_sessionize",
    """WITH d AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
      |s AS (SELECT user_id, event_id, tus, value,
      |  CASE WHEN lag(tus) OVER w IS NULL
      |         OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |t AS (SELECT user_id, tus, value,
      |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      |  FROM s)
      |SELECT user_id, session_no, count(*) AS n_events,
      |  min(tus) AS session_start, max(tus) AS session_end,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM t GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin) { (s, dir) =>
    // the SHARED nanos→micros floor conversion (Tables.nanosToMicros):
    // plain `div` truncates toward zero for pre-1970 nanos and would
    // diverge from DuckDB's µs coercion exactly where eventsWindow's
    // bucketing already had to solve this — one helper, one semantics
    sessionFrame(s, dir).orderBy(col("user_id"), col("session_no"))
  }

  /** Daily + trailing-7-day distinct active users (DAU/WAU) — the
    * engagement metric every product dashboard leads with, and a
    * genuinely non-derivable one: WAU is a ROLLING DISTINCT, which no
    * arithmetic over daily counts can produce (summing daily DAU
    * double-counts returning users). The scale form avoids re-scanning
    * 7 days of raw events per output day: the corpus collapses once to
    * the distinct (user, active-day) frame, each activity day then
    * contributes its user to the 7 window-days it can serve (a bounded
    * ×7 explode of the SMALL frame), and the per-window distinct dedups
    * users active on several days of the same window. Day keys are the
    * sign-correct raw-nanos floor shared with [[eventsResample]];
    * trailing windows at the history's start are partial by standard
    * trailing-window semantics. Output days are driven from the WAU side
    * (left join, dau coalesced to 0) so interior zero-activity days keep
    * their well-defined trailing-7-day distinct; only window days beyond
    * the last OBSERVED day are dropped (bounded by the max-day scalar, a
    * broadcast 1-row aggregate).
    */
  val eventsActiveUsers: Q = Q("events_active_users",
    s"""WITH d AS (SELECT DISTINCT user_id,
      |    (epoch_ns(ts) - ((epoch_ns(ts) % $DayNanos + $DayNanos) % $DayNanos)) // $DayNanos AS day
      |  FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM d GROUP BY day),
      |w AS (SELECT user_id, day + o.o AS wday
      |  FROM d, (SELECT unnest(range(7)) AS o) o),
      |wau AS (SELECT wday AS day, count(DISTINCT user_id) AS wau
      |  FROM w GROUP BY wday)
      |SELECT CAST(day AS BIGINT) AS day,
      |  CAST(coalesce(dau, 0) AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau
      |FROM wau LEFT JOIN dau USING (day)
      |WHERE day <= (SELECT max(day) FROM d) ORDER BY day""".stripMargin) { (s, dir) =>
    // persisted: DAU, the window explode AND the max-day scalar all read
    // the (user, day) frame — the only corpus-sized pass happens once
    val d = graft.Scratch.track(t(s, dir, "events")
      .select(col("user_id"),
        expr(s"(ts - pmod(ts, ${DayNanos}L)) div ${DayNanos}L").as("day"))
      .distinct())
    val dau = d.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = d
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("day"))
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
    val maxDay = d.agg(max(col("day")).as("maxday"))
    wau.join(dau, Seq("day"), "left")
      .crossJoin(broadcast(maxDay))
      .filter(col("day") <= col("maxday"))
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
      .orderBy(col("day"))
  }

  /** Events per training sequence cap for [[eventsSequences]]. */
  private val SeqMaxLen = 20

  /** Per-session ordered ACTION SEQUENCES — the behavior-sequence
    * extraction a recommendation / user-model training pipeline runs over
    * the event log: for every 30-minute session, the first [[SeqMaxLen]]
    * event types in event-time order joined into one training string,
    * with the true length and a truncation flag riding along (the
    * sequence-length planning inputs [[graft.operators.Sampling]]'s
    * packing and length-bucket stages consume).
    *
    * Determinism: elements sort by (tus, event_id) — event_id breaks
    * same-microsecond ties identically in both engines. Scale shape: ONE
    * user-keyed exchange (the shared [[sessionEvents]] sort), then a
    * session-keyed aggregation whose per-group state is the session's own
    * event list — the working set ANY sequence builder needs, bounded by
    * session activity, not the corpus; the cap bounds the OUTPUT string.
    */
  val eventsSequences: Q = Q("events_sequences",
    s"""WITH d AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
      |  FROM events),
      |s AS (SELECT user_id, event_id, event_type, tus,
      |  CASE WHEN lag(tus) OVER w IS NULL
      |         OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |t AS (SELECT user_id, event_id, event_type, tus,
      |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      |  FROM s),
      |u AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_no
      |    ORDER BY tus, event_id) AS rn FROM t)
      |SELECT user_id, session_no, count(*) AS n_events,
      |  min(tus) AS session_start_us,
      |  string_agg(CASE WHEN rn <= $SeqMaxLen THEN event_type END, '>'
      |    ORDER BY tus, event_id) AS action_seq,
      |  count(*) > $SeqMaxLen AS truncated
      |FROM u GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin) { (s, dir) =>
    sequenceFrame(sessionEvents(s, dir))
      .orderBy(col("user_id"), col("session_no"))
  }

  /** [[eventsSequences]]' aggregation over any (user_id, session_no, tus,
    * event_id, event_type) frame — separated so specs can pin ordering
    * and the [[SeqMaxLen]] truncation on constructed sessions (the
    * shipped corpora never exceed the cap).
    */
  def sequenceFrame(sessionEv: DataFrame): DataFrame =
    sessionEv
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tus")).as("session_start_us"),
        array_join(slice(expr(
          "transform(array_sort(collect_list(struct(tus, event_id, event_type)))," +
            " x -> x.event_type)"),
          1, SeqMaxLen), ">").as("action_seq"))
      .withColumn("truncated", col("n_events") > SeqMaxLen)
      .select(col("user_id"), col("session_no"), col("n_events"),
        col("session_start_us"), col("action_seq"), col("truncated"))

  /** The BUILT-IN sessionization operator, next to [[sessionize]]'s
    * hand-rolled lag/cumsum form: `session_window(ts, gap)` plans as a
    * native streaming-capable session aggregation (UpdatingSessionsExec +
    * merging buffers — the same operator Structured Streaming state uses),
    * so the engine demonstrably covers both the composed and the built-in
    * route to the same semantics. One boundary difference, replayed
    * exactly in the oracle: session_window intervals are [t, t+gap), so an
    * event at EXACTLY the previous end starts a NEW session (the
    * lag/cumsum form's `> gap` break keeps it) — the oracle breaks on
    * `>= gap` to match. Window end is last event + gap by construction.
    *
    * Scale shape: one user-keyed exchange into the session merge, output
    * one row per session — the operator Spark maintains for exactly this
    * at streaming scale; nothing bespoke rides the plan.
    */
  val sessionBuiltin: Q = Q("events_session_builtin",
    """WITH d AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |s AS (SELECT user_id, event_id, tus,
      |  CASE WHEN lag(tus) OVER w IS NULL
      |         OR tus - lag(tus) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |t AS (SELECT user_id, tus,
      |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |  FROM s)
      |SELECT user_id, CAST(min(tus) AS BIGINT) AS session_start_us,
      |  CAST(max(tus) + 1800000000 AS BIGINT) AS session_end_us,
      |  count(*) AS n_events
      |FROM t GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .withColumn("tss",
        expr(s"timestamp_micros(${Tables.nanosToMicrosSql("ts")})"))
      .groupBy(col("user_id"),
        session_window(col("tss"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        expr("unix_micros(w.start)").as("session_start_us"),
        expr("unix_micros(w.end)").as("session_end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start_us"))
  }

  /** Events with their 30-minute-gap session assignment — the shared
    * upstream of [[sessionize]], [[eventsConcurrency]] and
    * [[eventsTopPaths]] (one definition of "session", three consumers).
    * Tied events are never split across sessions: within a run of
    * equal-tus rows only the FIRST can get brk=1 (the rest see a zero
    * gap), and both windows read that first row's position from ONE sort,
    * so every tied row's running sum includes it. The sum must walk the
    * same tie order the lag walked — the declared SQL therefore orders
    * both windows by (tus, event_id); two independently sorted windows
    * can put a brk=0 peer before its brk=1 twin and leave it in the
    * previous session (observed on the ×10z corpus, AnalyticsSpec). */
  private def sessionEvents(s: SparkSession, dir: String): DataFrame = {
    // The windows order by the MATERIALIZED tus column, never the
    // nanos→micros expression: ordering by the expression makes Spark
    // ship a duplicate `_w0` sort column AND the raw `ts` it derives
    // from across the user_id exchange (4 longs where 2 suffice at 100M+
    // rows), and mint a fresh `_w0` per window — forcing a second
    // per-partition Sort the shared attribute makes unnecessary. With
    // the column form the exchange payload is (user_id, tus [, consumer
    // columns]) and both windows reuse ONE sort (plan-asserted in
    // AnalyticsSpec).
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("tus", Tables.nanosToMicros("ts"))
      .drop("ts") // consumers read tus; raw nanos must not ride the exchange
      .withColumn("brk",
        when(lag(col("tus"), 1).over(w).isNull ||
          col("tus") - lag(col("tus"), 1).over(w) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum(col("brk")).over(wRun))
  }

  /** The sessionized frame [[sessionize]] sorts and [[eventsConcurrency]]
    * consumes: 30-minute-gap sessions per user with start/end/stats. */
  private def sessionFrame(s: SparkSession, dir: String): DataFrame =
    sessionEvents(s, dir)
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tus")).as("session_start"),
        max(col("tus")).as("session_end"),
        exactSum(col("value")).as("sum_value"))

  /** Batch twin of the stream-stream attribution join — and not a
    * re-implementation: it calls the SAME
    * [[graft.streaming.EventsStream.clickPurchaseJoin]] transform the
    * streaming pipeline runs (Catalyst's EliminateEventTimeWatermark drops
    * the watermark nodes in batch, leaving the identical filtered
    * self-join), so the DuckDB oracle gates the one shared plan and the
    * stream≡batch equivalence asserted in EventsStreamSpec rides on code
    * identity rather than on two parallel implementations staying in sync.
    *
    * Timestamps surface as epoch-µs longs (the shared nanos→micros floor,
    * Tables.nanosToMicros) so the oracle's `epoch_us(ts)` replays them
    * exactly; values pass through unaggregated, so no float rules needed.
    * The trailing value columns in the ORDER BY make the sort total even
    * if one user ever clicked twice in the same microsecond.
    */
  val eventsClickJoin: Q = Q("events_clickjoin",
    """WITH c AS (SELECT user_id, epoch_us(ts) AS click_us,
      |             value AS click_value
      |           FROM events WHERE event_type = 'click'),
      |     p AS (SELECT user_id AS p_user_id, epoch_us(ts) AS purchase_us,
      |             value AS purchase_value
      |           FROM events WHERE event_type = 'purchase')
      |SELECT user_id, click_us, purchase_us, click_value, purchase_value
      |FROM c JOIN p ON user_id = p_user_id
      |  AND purchase_us >= click_us AND purchase_us <= click_us + 600000000
      |ORDER BY user_id, click_us, purchase_us, click_value, purchase_value
      |""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events").withColumn("ts",
      expr(s"timestamp_micros(${Tables.nanosToMicrosSql("ts")})"))
    graft.streaming.EventsStream.clickPurchaseJoin(ev)
      .select(col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        col("click_value"), col("purchase_value"))
      .orderBy(col("user_id"), col("click_us"), col("purchase_us"),
        col("click_value"), col("purchase_value"))
  }

  /** Skew-resilient aggregation: `event_type` has a handful of hot keys, so
    * a direct groupBy sends each whole key to one reducer. The salted form
    * splits every key 16 ways (phase 1), then combines the partials
    * (phase 2) — the classic hot-key treatment when AQE's skew handling
    * doesn't apply (it only splits join partitions). Decimal partials keep
    * the two-phase sum bit-identical to the direct form at any parallelism.
    */
  val skewAgg: Q = Q("skew_agg",
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val salted = t(s, dir, "events")
      .groupBy(col("event_type"), pmod(col("event_id"), lit(16)).as("salt"))
      .agg(count(lit(1)).as("n0"), sum(dec(col("value"))).as("s0"))
    salted.groupBy(col("event_type"))
      .agg(sum(col("n0")).as("n"), sum(col("s0")).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** ROLLUP hierarchy aggregation (beyond the reference's plain GROUP BYs):
    * subtotals per (flag, status), per flag, and grand total in one pass —
    * Spark expands the grouping sets before the partial aggregate, so it
    * still two-phases with map-side combine. Data contains no real NULL
    * keys, so coalescing the rollup NULLs to 'ALL' is unambiguous.
    */
  val rollupAgg: Q = Q("rollup",
    """SELECT coalesce(l_returnflag, 'ALL') AS rf,
      |  coalesce(l_linestatus, 'ALL') AS ls,
      |  count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy(col("rf"), col("ls"))
  }

  /** CUBE: all 2² grouping combinations in one pass, disambiguated by
    * GROUPING_ID (0 = both keys live, 3 = grand total) — the generalization
    * of [[rollupAgg]]'s hierarchy to every subset. One two-phase hash
    * aggregation: Spark expands the grouping sets map-side, so the shuffle
    * carries |groups| partial rows per set, never the input ×4.
    */
  val cubeAgg: Q = Q("cube_agg",
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        exactSum(col("o_totalprice")).as("total"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
        col("n"), col("total"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))
  }

  /** GROUPING SETS — the general form [[rollupAgg]]/[[cubeAgg]] are sugar
    * for: an explicit set list that is NEITHER a rollup hierarchy nor the
    * full cube — (status, priority) detail, a priority-only slice, and the
    * grand total, skipping the status-only slice a rollup would force.
    * Spark expands the requested sets map-side exactly as it does for
    * rollup/cube, so the shuffle still carries |groups| partial rows per
    * set; GROUPING_ID disambiguates which keys are live in each output
    * row. At 100 TB the win over running the three aggregations separately
    * is one fact scan instead of three.
    */
  val groupingSetsAgg: Q = Q("grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY GROUPING SETS (
      |  (o_orderstatus, o_orderpriority), (o_orderpriority), ())
      |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        exactSum(col("o_totalprice")).as("total"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
        col("n"), col("total"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))
  }

  /** UNPIVOT (melt): the wide-to-long reshape — a per-flag aggregate with
    * one column per metric becomes (flag, metric, value) rows, the shape a
    * metrics store or plotting layer ingests. Spark's native `unpivot`
    * expands columns to rows MAP-SIDE over the already-aggregated frame
    * (|flags| × |metrics| rows total here), so the reshape itself never
    * touches an exchange; the oracle spells the same thing as the
    * classical UNION ALL. All melted values share one DOUBLE type — the
    * unpivot contract — with sums kept exact via the decimal-partials
    * idiom before the cast.
    */
  val unpivotLong: Q = Q("unpivot_long",
    """WITH a AS (SELECT l_returnflag AS rf,
      |    CAST(count(*) AS DOUBLE) AS n_rows,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |  FROM lineitem GROUP BY 1)
      |SELECT rf, 'n_rows' AS metric, n_rows AS value FROM a
      |UNION ALL SELECT rf, 'sum_qty', sum_qty FROM a
      |UNION ALL SELECT rf, 'sum_price', sum_price FROM a
      |ORDER BY rf, metric""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("rf"))
      .agg(count(lit(1)).cast("double").as("n_rows"),
        exactSum(col("l_quantity")).as("sum_qty"),
        exactSum(col("l_extendedprice")).as("sum_price"))
      .unpivot(Array(col("rf")),
        Array(col("n_rows"), col("sum_qty"), col("sum_price")),
        "metric", "value")
      .orderBy(col("rf"), col("metric"))
  }

  /** PIVOT: spread the status dimension into columns (fixed value list so
    * the schema is static — at scale a dynamic pivot needs a values pass
    * first; pinning the list keeps it one-pass). Oracle spells the same
    * thing as conditional aggregation, which is also exactly how Spark
    * rewrites pivot internally.
    */
  val pivotAgg: Q = Q("pivot",
    """SELECT o_orderpriority,
      |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS st_f,
      |  CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS st_o,
      |  CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS st_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("st_f"),
        coalesce(col("O"), lit(0L)).as("st_o"),
        coalesce(col("P"), lit(0L)).as("st_p"))
      .orderBy(col("o_orderpriority"))
  }

  /** Dynamic PIVOT: the two-pass form a real user needs when the pivot
    * domain isn't known up front — pass 1 collects the DISTINCT values (a
    * tiny driver-side list: the pivot output schema must fit in a schema
    * anyway, so the domain is small by construction; Spark itself caps
    * `pivot(col)` discovery at `spark.sql.pivotMaxValues`), pass 2 is the
    * same one-shuffle conditional aggregation as [[pivotAgg]] with the
    * discovered list pinned. Output columns are derived from the data
    * (`st_<value>`); the DuckDB oracle hardcodes the domain the discovery
    * pass finds on the GATE corpora ({F, O, P} at every shipped SF) — a
    * static oracle cannot follow a truly novel domain, so on data with
    * different statuses only the Spark side adapts (that adaptability is
    * the point of the query; the oracle pins it for the corpora tested).
    */
  val pivotDynamic: Q = Q("pivot_dynamic",
    """SELECT o_orderpriority,
      |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS st_f,
      |  CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS st_o,
      |  CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS st_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    import s.implicits._
    val orders = t(s, dir, "orders")
    // pass 1: discover the pivot domain (sorted for a deterministic
    // schema). NULL can't become a column name — rows with a NULL pivot
    // value simply contribute to no value column, exactly what the
    // conditional-aggregation form does with `CASE WHEN status = v`.
    val values = orders.select(col("o_orderstatus")).distinct()
      .filter(col("o_orderstatus").isNotNull)
      .orderBy(col("o_orderstatus")).as[String].collect().toSeq
    orders
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", values)
      .count()
      .select(col("o_orderpriority") +:
        values.map(v => coalesce(col(s"`$v`"), lit(0L)).as(s"st_${v.toLowerCase}")): _*)
      .orderBy(col("o_orderpriority"))
  }

  /** The wider window-function family the reference never used (SURVEY.md
    * §2.5 notes only ROW_NUMBER appears): lag/lead deltas, rank with ties,
    * ntile quartiles, and an explicit sliding frame — all in one pass over
    * one window partitioning, so the exchange is shared.
    */
  val windowFuncs: Q = Q("window_funcs",
    """SELECT o_custkey, o_orderkey,
      |  lag(o_orderkey) OVER w AS prev_order,
      |  lead(o_orderkey) OVER w AS next_order,
      |  CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS BIGINT) AS price_rank,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sliding_sum
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRank = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc)
    // ONE exchange, not two: range-partitioning by o_custkey up front
    // satisfies the windows' ClusteredDistribution (equal keys never
    // straddle a range boundary) AND is order-compatible with the final
    // presentation ORDER BY (o_custkey, o_orderkey) — so the global sort
    // degenerates to a per-partition SortExec with NO second full-data
    // exchange. The hash-partitioned form re-shuffled the entire 7-column
    // result through a rangepartitioning exchange just to present it
    // (~2× the exchanged bytes at the ×100 smoke's 15M orders); the range
    // sampling pass this trades for reads only the pruned key column.
    t(s, dir, "orders")
      .repartitionByRange(col("o_custkey"))
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        rank().over(wRank).cast("long").as("price_rank"),
        ntile(4).over(w).as("quartile"),
        sum(dec(col("o_totalprice")))
          .over(w.rowsBetween(-2, Window.currentRow))
          .cast("double").as("sliding_sum"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Set operations beyond the reference's UNION ALL (SURVEY.md §2.7 notes
    * it has no INTERSECT/EXCEPT): customers who ordered in 1997 but not
    * 1998 (EXCEPT) and in both years (INTERSECT). Both plan as joins
    * (left-anti / left-semi over distinct keys) — no full-table
    * materialization of either side.
    */
  val setOps: Q = Q("setops",
    """WITH y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
      |     y98 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
      |SELECT 'only_1997' AS grp, o_custkey FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y98)
      |UNION ALL
      |SELECT 'both_years' AS grp, o_custkey FROM (SELECT * FROM y97 INTERSECT SELECT * FROM y98)
      |ORDER BY grp, o_custkey""".stripMargin) { (s, dir) =>
    def custsOf(year: Int) = t(s, dir, "orders")
      .filter(org.apache.spark.sql.functions.year(col("o_orderdate")) === year)
      .select(col("o_custkey")).distinct()
    val y97 = custsOf(1997); val y98 = custsOf(1998)
    y97.except(y98).select(lit("only_1997").as("grp"), col("o_custkey"))
      .unionAll(y97.intersect(y98).select(lit("both_years").as("grp"), col("o_custkey")))
      .orderBy(col("grp"), col("o_custkey"))
  }

  /** Correlated EXISTS / NOT EXISTS subqueries — Catalyst's
    * RewritePredicateSubquery turns both into left-semi / left-anti joins
    * (no per-row subquery execution), exercised through the spark.sql
    * surface like the reference's other SQL paths.
    */
  val existsQ: Q = Q("exists_subquery",
    """SELECT o_orderkey, o_totalprice FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l
      |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders").createOrReplaceTempView("graft_sq_orders")
    t(s, dir, "lineitem").createOrReplaceTempView("graft_sq_lineitem")
    s.sql("""SELECT o_orderkey, o_totalprice FROM graft_sq_orders o
            |WHERE EXISTS (SELECT 1 FROM graft_sq_lineitem l
            |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
            |  AND NOT EXISTS (SELECT 1 FROM graft_sq_lineitem l
            |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
            |ORDER BY o_orderkey""".stripMargin)
  }

  /** Ordered-sequence funnel over the event log — the conversion query
    * every product-analytics engine ships (match view → click → purchase
    * IN ORDER per user, report per-stage reach): a user counts for stage
    * k only if stage k's event happens strictly AFTER their first
    * qualifying stage-(k−1) event.
    *
    * Shape: ONE shuffle on user_id. The stage conditions are running-min
    * windows over each user's timeline (`min_view` = earliest view so
    * far, `min_cav` = earliest click-after-that-view so far), so the
    * whole sequence-match is a single per-user sort — linear in history,
    * no self-joins (an events×events join per stage would be the
    * quadratic attribution-join shape BandedIntervalJoin exists to kill;
    * the funnel's "after MY FIRST view" semantics make the window form
    * exact, not an approximation). The per-user flags aggregate on the
    * window's own partitioning (exchange reuse), leaving three counters.
    *
    * Timestamps stay raw int64 nanos: stages only COMPARE event times, and
    * nanos longs (Spark) order identically to TIMESTAMP_NS (DuckDB).
    * Window default frames include same-ts peers on both engines; the
    * strict `>` keeps same-instant stage pairs out, deterministically.
    */
  val eventsFunnel: Q = Q("events_funnel",
    """WITH s AS (SELECT user_id, event_type, ts,
      |    min(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id ORDER BY ts) AS min_view
      |  FROM events),
      |s2 AS (SELECT user_id, event_type, ts, min_view,
      |    min(CASE WHEN event_type = 'click' AND ts > min_view THEN ts END)
      |      OVER (PARTITION BY user_id ORDER BY ts) AS min_cav
      |  FROM s),
      |u AS (SELECT user_id,
      |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
      |    max(CASE WHEN event_type = 'click' AND ts > min_view THEN 1 ELSE 0 END) AS s2,
      |    max(CASE WHEN event_type = 'purchase' AND ts > min_cav THEN 1 ELSE 0 END) AS s3
      |  FROM s2 GROUP BY user_id),
      |f AS (SELECT CAST(sum(s1) AS BIGINT) AS u1, CAST(sum(s2) AS BIGINT) AS u2,
      |    CAST(sum(s3) AS BIGINT) AS u3 FROM u)
      |SELECT * FROM (
      |  SELECT 1 AS stage, 'view' AS event_type, u1 AS users,
      |    CASE WHEN u1 = 0 THEN NULL ELSE CAST(u1 AS DOUBLE) / u1 END AS conv FROM f
      |  UNION ALL SELECT 2, 'click_after_view', u2,
      |    CASE WHEN u1 = 0 THEN NULL ELSE CAST(u2 AS DOUBLE) / u1 END FROM f
      |  UNION ALL SELECT 3, 'purchase_after_click', u3,
      |    CASE WHEN u1 = 0 THEN NULL ELSE CAST(u3 AS DOUBLE) / u1 END FROM f)
      |ORDER BY stage""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val flags = t(s, dir, "events")
      .withColumn("min_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("is_cav",
        col("event_type") === "click" && col("ts") > col("min_view"))
      .withColumn("min_cav",
        min(when(col("is_cav"), col("ts"))).over(w))
      .withColumn("is_pac",
        col("event_type") === "purchase" && col("ts") > col("min_cav"))
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("s1"),
        max(when(col("is_cav"), 1).otherwise(0)).as("s2"),
        max(when(col("is_pac"), 1).otherwise(0)).as("s3"))
      .agg(sum(col("s1")).as("u1"), sum(col("s2")).as("u2"),
        sum(col("s3")).as("u3"))
    // 0/0 guard: on a corpus with no 'view' events Spark's Divide returns
    // NULL while DuckDB (ieee_floating_point_ops) returns NaN — the CASE
    // pins both engines to NULL
    flags.select(expr(
      """stack(3,
        |  1, 'view', u1, CASE WHEN u1 = 0 THEN NULL ELSE CAST(u1 AS DOUBLE) / u1 END,
        |  2, 'click_after_view', u2, CASE WHEN u1 = 0 THEN NULL ELSE CAST(u2 AS DOUBLE) / u1 END,
        |  3, 'purchase_after_click', u3, CASE WHEN u1 = 0 THEN NULL ELSE CAST(u3 AS DOUBLE) / u1 END
        |) as (stage, event_type, users, conv)""".stripMargin))
      .orderBy(col("stage"))
  }

  /** Cohort retention over the event log — the other product-analytics
    * staple next to [[eventsFunnel]]: users cohort by the week of their
    * FIRST activity, and the cohort's week-k retention is how many of
    * them act in cohort_week + k (k ≤ 3 here).
    *
    * Shape: dedup to (user, week) first — the event log collapses to at
    * most |users|·|weeks| rows before anything else touches it — then the
    * cohort week is a running `min` window per user (no cohort JOIN: a
    * |users|-sized dimension is not broadcastable at 100 TB, and the
    * window form needs only the user-hash exchange), and the final
    * (cohort, k) count is a tiny two-phase agg. Weeks are exact integer
    * floor-division of the raw int64 nanos (pmod form, sign-correct
    * pre-1970 — the [[graft.sources.Tables.nanosToMicrosSql]] idiom), so
    * both engines compute identical cohort keys with no timestamp
    * coercion in play.
    */
  private val WeekNanos = 7L * 86400L * 1000000000L

  val eventsRetention: Q = Q("events_retention",
    s"""WITH uw AS (SELECT DISTINCT user_id,
      |    (epoch_ns(ts) - ((epoch_ns(ts) % $WeekNanos + $WeekNanos) % $WeekNanos)) // $WeekNanos AS week
      |  FROM events),
      |c AS (SELECT user_id, week,
      |    min(week) OVER (PARTITION BY user_id) AS cohort_week
      |  FROM uw)
      |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
      |  CAST(week - cohort_week AS BIGINT) AS k, count(*) AS users
      |FROM c WHERE week - cohort_week <= 3
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val week = expr(s"(ts - pmod(ts, ${WeekNanos}L)) div ${WeekNanos}L")
    t(s, dir, "events")
      .select(col("user_id"), week.as("week")).distinct()
      .withColumn("cohort_week",
        min(col("week")).over(Window.partitionBy(col("user_id"))))
      .withColumn("k", col("week") - col("cohort_week"))
      .filter(col("k") <= 3)
      .groupBy(col("cohort_week"), col("k"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("cohort_week"), col("k"))
  }

  /** First-order Markov transition matrix over each user's event timeline —
    * the "what happens after X" model behind next-action prediction and
    * bot-detection features: per-user `lead` pairs (event_type →
    * next_type), counted, with each transition's probability within its
    * source state.
    *
    * Shape: ONE shuffle on user_id for the lead window (same exchange
    * sessionize uses), then the transition counts collapse map-side to at
    * most |types|² partial rows per partition — the (prev,next) matrix is
    * tiny no matter how large the log, so the probability window runs on a
    * |types|²-row frame, never on corpus rows. The window order carries
    * event_id as tiebreak: same-timestamp events would otherwise make
    * `lead` nondeterministic under shuffle.
    *
    * The probability is the one float: an int64/int64 IEEE division both
    * engines round identically (counts < 2⁵³ are exact doubles).
    */
  val eventsTransitions: Q = Q("events_transitions",
    """WITH o AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |m AS (SELECT event_type AS prev_type, next_type, count(*) AS n
      |  FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
      |FROM m ORDER BY prev_type, next_type""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("prev_type"))).cast("double"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Volume-anomaly detection over the event log: hours whose per-type
    * event count deviates from that type's mean by more than 3σ — the
    * monitoring query a pipeline runs over its own ingest to catch outages
    * and floods.
    *
    * The 3σ test runs in EXACT integer arithmetic, cross-multiplied so no
    * division or sqrt ever happens: with k hours, S = Σc, Q = Σc², the
    * condition (c − S/k)² > 9·(Q/k − (S/k)²) becomes
    * (c·k − S)² > 9·(k·Q − S²) — both engines evaluate identical integers
    * (DECIMAL(38,0) on the Spark side, HUGEINT-widened in DuckDB), so the
    * flag can never diverge on a rounding boundary.
    *
    * Shape: the hourly histogram is a two-phase count (map-side partials,
    * |types|·|hours| rows out), the per-type moments aggregate THAT frame
    * (|types| rows), and the flag is a broadcast join back — corpus rows
    * are touched exactly once, at the first partial count. Hour keys are
    * the raw-nanos pmod floor-division (sign-correct pre-1970), the same
    * idiom as [[eventsRetention]]'s weeks.
    */
  val eventsAnomaly: Q = Q("events_anomaly",
    s"""WITH h AS (SELECT event_type,
      |    (epoch_ns(ts) - ((epoch_ns(ts) % $HourNanos + $HourNanos) % $HourNanos)) // $HourNanos AS hour,
      |    count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, count(*) AS k, CAST(sum(c) AS BIGINT) AS s,
      |    CAST(sum(c * c) AS BIGINT) AS q
      |  FROM h GROUP BY 1)
      |SELECT event_type, CAST(hour AS BIGINT) AS hour, c AS n
      |FROM h JOIN st USING (event_type)
      |WHERE CAST(c * k - s AS HUGEINT) * (c * k - s) > 9 * (CAST(k AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
      |ORDER BY event_type, hour""".stripMargin) { (s, dir) =>
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr(s"(ts - pmod(ts, ${HourNanos}L)) div ${HourNanos}L").as("hour"))
      .agg(count(lit(1)).as("c"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
    val big = (c: Column) => c.cast(DecimalType(38, 0))
    hourly.join(broadcast(stats), Seq("event_type"))
      .filter(big(col("c") * col("k") - col("s")) * big(col("c") * col("k") - col("s")) >
        big(lit(9)) * (big(col("k")) * big(col("q")) - big(col("s")) * big(col("s"))))
      .select(col("event_type"), col("hour"), col("c").as("n"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Concurrent-session load curve — how many sessions were simultaneously
    * active each minute, the capacity-planning signal derived from the
    * SAME session frame [[sessionize]] gates (shared [[sessionFrame]], so
    * the two can never disagree about what a session is). Classic interval
    * counting, done scalably: every session becomes two DELTAS (+1 at its
    * start minute, −1 one past its end minute), deltas collapse into a
    * per-minute histogram (map-side partials, |active minutes| rows), and
    * the running sum over THAT histogram — not over sessions, not over
    * events — yields the concurrency at every change point. The ordered
    * window walks ≤ minutes-in-the-time-range rows (a year is ~526k) on
    * one task regardless of corpus size; a per-event or per-session
    * global sort is the shape this avoids. Output is change-points only
    * (minutes between carry the previous value).
    */
  private val MinuteMicros = 60000000L

  val eventsConcurrency: Q = Q("events_concurrency",
    s"""WITH d AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |s AS (SELECT user_id, event_id, tus,
      |  CASE WHEN lag(tus) OVER w IS NULL
      |         OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |t AS (SELECT user_id, tus,
      |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      |  FROM s),
      |sess AS (SELECT user_id, session_no, min(tus) AS st, max(tus) AS en
      |  FROM t GROUP BY 1, 2),
      |d0 AS (SELECT (st - ((st % $MinuteMicros + $MinuteMicros) % $MinuteMicros)) // $MinuteMicros AS b,
      |         1 AS delta FROM sess
      |  UNION ALL
      |  SELECT (en - ((en % $MinuteMicros + $MinuteMicros) % $MinuteMicros)) // $MinuteMicros + 1,
      |         -1 FROM sess),
      |h AS (SELECT b, CAST(sum(delta) AS BIGINT) AS delta FROM d0 GROUP BY b)
      |SELECT CAST(b AS BIGINT) AS minute,
      |  CAST(sum(delta) OVER (ORDER BY b) AS BIGINT) AS active
      |FROM h ORDER BY minute""".stripMargin) { (s, dir) =>
    def minuteOf(c: Column): Column =
      expr(s"(${c.toString} - pmod(${c.toString}, ${MinuteMicros}L)) div ${MinuteMicros}L")
    val sess = sessionFrame(s, dir)
      .select(col("session_start"), col("session_end"))
    sess
      .select(explode(array(
        struct(minuteOf(col("session_start")).as("b"), lit(1L).as("delta")),
        struct((minuteOf(col("session_end")) + 1L).as("b"), lit(-1L).as("delta"))))
        .as("x"))
      .select(col("x.b").as("b"), col("x.delta").as("delta"))
      .groupBy(col("b")).agg(sum(col("delta")).as("delta"))
      .withColumn("active", sum(col("delta")).over(Window.orderBy(col("b"))))
      .select(col("b").as("minute"), col("active"))
      .orderBy(col("minute"))
  }

  /** Sequential pattern mining over sessions — the top session-opening
    * paths (first three event types, in order): the "how do journeys
    * start" query behind onboarding and bot-shape analysis, and the
    * third consumer of the ONE session definition ([[sessionEvents]]).
    *
    * Determinism under concurrency: the per-session ordering key is
    * (tus, event_id) — event_id breaks same-microsecond ties, so the
    * path string is unique for a given dataset on any partitioning, and
    * DuckDB's `list(... ORDER BY tus, event_id)` replays it exactly.
    * Shape: the collect+sort is per session (bounded by session length,
    * and only the first 3 survive the slice); path counts collapse
    * map-side; the top-20 is a TakeOrdered.
    */
  val eventsTopPaths: Q = Q("events_top_paths",
    """WITH d AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
      |s AS (SELECT user_id, event_id, event_type, tus,
      |  CASE WHEN lag(tus) OVER w IS NULL
      |         OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |t AS (SELECT user_id, event_id, event_type, tus,
      |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      |  FROM s),
      |p AS (SELECT user_id, session_no,
      |    array_to_string(list(event_type ORDER BY tus, event_id)[1:3], '>') AS path
      |  FROM t GROUP BY 1, 2)
      |SELECT path, count(*) AS n_sessions FROM p
      |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin) { (s, dir) =>
    sessionEvents(s, dir)
      .groupBy(col("user_id"), col("session_no"))
      .agg(array_join(
        slice(
          expr("transform(sort_array(collect_list(struct(tus, event_id, event_type)))," +
            " x -> x.event_type)"),
          1, 3),
        ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** Rolling 24-hour per-user activity features over the event log — the
    * time-RANGE window frame ([[windowFuncs]] covers the ROWS frame): each
    * event carries how many events and how much value its user produced in
    * the trailing day, the standard feature-engineering shape for
    * rate-limit, abuse, and engagement features.
    *
    * Shape: ONE shuffle on user_id; the frame is defined over the RAW
    * int64 nanos (`rangeBetween` in nanos on the Spark side, `RANGE ...
    * PRECEDING` over `epoch_ns` in DuckDB — identical inclusive [t−24h, t]
    * bounds, and RANGE peers at the same instant are in-frame on both
    * engines). Spark evaluates a sliding range frame incrementally (each
    * row enters/leaves the running aggregate once), so the per-partition
    * cost is linear in the user's history, not quadratic — a per-event
    * self-join against the trailing day would be the quadratic shape
    * BandedIntervalJoin exists to kill. The value sum is the DECIMAL(18,2)
    * exact-sum idiom, so the incremental add/retract arithmetic is
    * order-independent and replayable.
    */
  val eventsRolling: Q = Q("events_rolling",
    s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS tns,
      |    epoch_us(ts) AS tus, CAST(value AS DECIMAL(18,2)) AS v FROM events)
      |SELECT user_id, event_id, tus AS ts_us,
      |  count(*) OVER w AS n_24h,
      |  CAST(sum(v) OVER w AS DOUBLE) AS sum_24h
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY tns
      |             RANGE BETWEEN $DayNanos PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(-DayNanos, 0)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("n_24h", count(lit(1)).over(w))
      .withColumn("sum_24h", sum(dec(col("value"))).over(w).cast("double"))
      .select(col("user_id"), col("event_id"),
        Tables.nanosToMicros("ts").as("ts_us"), col("n_24h"), col("sum_24h"))
      .orderBy(col("user_id"), col("event_id"))
  }

  // 24h: the corpus' realistic inter-event spacing (30-minute bands match
  // zero patterns even at sf0.01 — users act on day granularity here)
  private val CepBandNanos = 24L * HourNanos
  // the CEP frames run on microsecond-floored event time (see eventsCep)
  private val CepBandMicros = CepBandNanos / 1000L

  // $1000 revenue bands for the Pareto two-level cumulative (the same
  // monetary quantization orders_rfm uses) — bounds every window frame by
  // the value range instead of the customer count
  private val ParetoBandCents = 100000L

  /** Complex-event pattern matching (the MATCH_RECOGNIZE shape): count,
    * per user, the clicks that complete a view → click → purchase pattern
    * with both hops inside a 24-hour band — each match ANCHORED at its
    * click, so the count is well-defined without iterative non-overlap
    * bookkeeping (greedy consume-once semantics need a per-key sequential
    * fold — that variant lives in streaming, [[graft.streaming.EventsStream
    * .sessionize]]-style state; this is its batch, declarative twin).
    *
    * Shape: ONE user-keyed exchange; both existence probes are event-time
    * RANGE frames over the same ordered window (look-back max-flag,
    * look-ahead max-flag), so the whole pattern pass is two frame sweeps
    * on one sort — no self-joins (a join-per-step plan shuffles the events
    * table once PER PATTERN STEP and explodes on hot users). Frames order
    * by the MICROSECOND floor of ts, not raw nanos: DuckDB's `epoch_ns`
    * truncates sub-micro digits, so on a nanos-unit corpus two events
    * inside the same microsecond would satisfy Spark's `1 PRECEDING` raw
    * bound yet collapse to an excluded tie in the oracle — flooring both
    * engines to micros (the [[Tables.nanosToMicros]] idiom every other
    * events consumer uses) makes ties resolve identically on any
    * partitioning, in the oracle, and in the micros-native streaming twin.
    */
  val eventsCep: Q = Q("events_cep",
    s"""WITH e AS (SELECT user_id, event_type,
      |    (epoch_ns(ts) - ((epoch_ns(ts) % 1000 + 1000) % 1000)) // 1000 AS tus
      |  FROM events),
      |f AS (SELECT user_id, event_type, tus,
      |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id ORDER BY tus
      |       RANGE BETWEEN $CepBandMicros PRECEDING AND 1 PRECEDING) AS has_view,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id ORDER BY tus
      |       RANGE BETWEEN 1 FOLLOWING AND $CepBandMicros FOLLOWING) AS has_purch
      |  FROM e),
      |m AS (SELECT user_id, tus FROM f
      |  WHERE event_type = 'click' AND has_view = 1 AND has_purch = 1)
      |SELECT user_id, count(*) AS n_matches,
      |  CAST(min(tus) AS BIGINT) AS first_match_us
      |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    cepMatches(t(s, dir, "events"))
  }

  /** Revenue-concentration (Pareto/Lorenz) deciles: customers ranked by
    * exact lifetime revenue, bucketed into ten equal-population deciles,
    * each reporting its customer count, exact cents, share and cumulative
    * share in integer ppm — the "top 10% of customers drive X% of
    * revenue" readout.
    *
    * Scale shape — the [[rfm]] order-statistics idiom, NOT a global
    * per-customer rank: the per-customer aggregate collapses to a
    * DISTINCT-VALUE histogram (cents value → customer count), and a value
    * group is assigned the decile of its FIRST member (cum_before·10 div
    * n) — ties stay together, which keeps the bucketing deterministic and
    * hash-stable with no (value, custkey) tiebreak sort over all
    * customers. Unlike prices, lifetime-revenue cents are near-unique (the
    * histogram grows ~1:1 with |customers|), so the cumulative count runs
    * TWO-LEVEL: values quantize into $1000 bands (the RFM monetary-band
    * width), a single-task window cumulates only the per-band totals — a
    * frame bounded by the REVENUE SPAN, not the customer count — and a
    * band-partitioned window adds the intra-band offsets (≤100k integer
    * cents values per band by construction). The sum of the two is
    * bit-identical to the flat cumulative the oracle replays, with no
    * unpartitioned window over a customer-sized frame anywhere in the
    * plan. Output is ≤10 rows + `total_cents`, so any future ppm mismatch
    * localizes to one visible division in one look.
    *
    * Oracle ppm arithmetic runs in HUGEINT (int128) single-multiply form —
    * exact at any total, no `//`/`%` base-split chain to diverge across
    * DuckDB versions; the Spark side computes the identical floor via
    * int64 base-split (x·10³ div T)·10³ + ((x·10³ mod T)·10³ div T), exact
    * to totals ≈ 9·10¹⁵ cents ($92T — the int64-safe bound the ×100 smoke
    * needs; the single-multiply int64 form overflowed there).
    */
  val ordersPareto: Q = Q("orders_pareto",
    """WITH cust AS (SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |h AS (SELECT cents, count(*) AS k FROM cust GROUP BY cents),
      |w AS (SELECT cents, k, coalesce(sum(k) OVER (ORDER BY cents DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM h),
      |n AS (SELECT count(*) AS nc, CAST(sum(cents) AS BIGINT) AS total FROM cust),
      |g AS (SELECT CAST(cb * 10 // nc AS BIGINT) AS decile, CAST(sum(k) AS BIGINT) AS n_customers,
      |    CAST(sum(cents * k) AS BIGINT) AS cents
      |  FROM w, n GROUP BY 1),
      |c AS (SELECT g.decile AS decile, g.n_customers AS n_customers,
      |    g.cents AS cents, sum(g.cents) OVER (ORDER BY g.decile) AS cum,
      |    n.total AS total
      |  FROM g, n)
      |SELECT decile, n_customers, cents, CAST(total AS BIGINT) AS total_cents,
      |  CAST(CAST(cents AS HUGEINT) * 1000000 // total AS BIGINT) AS share_ppm,
      |  CAST(CAST(cum AS HUGEINT) * 1000000 // total AS BIGINT) AS cum_share_ppm
      |FROM c ORDER BY decile""".stripMargin) { (s, dir) =>
    val cust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    // persist the distinct-value histogram: THREE consumers (band totals,
    // intra-band offsets, corpus totals) would otherwise each re-run the
    // per-customer fact aggregation — 3 scans of orders at 100 TB
    val h = graft.Scratch.track(
      cust.groupBy(col("cents")).agg(count(lit(1)).as("k"))
        .withColumn("band", expr(s"cents div ${ParetoBandCents}L")))
    // level 1: per-band customer counts, cumulated descending on the
    // band frame alone (occupied bands ≤ revenue span / $1000 — bounded
    // by the value range, never by |customers|)
    val bandCb = h.groupBy(col("band")).agg(sum(col("k")).as("bk"))
      .withColumn("band_cb",
        coalesce(sum(col("bk")).over(Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("band"), col("band_cb"))
    // level 2: intra-band offsets under a band-PARTITIONED window (≤100k
    // distinct integer cents per $1000 band); band_cb + offset replays
    // the flat descending cumulative exactly. Corpus totals fold off the
    // persisted histogram, not a third pass over customers.
    val n = h.agg(sum(col("k")).as("nc"),
      sum(col("cents") * col("k")).as("total"))
    val g = h.join(broadcast(bandCb), Seq("band"))
      .withColumn("cb", col("band_cb") +
        coalesce(sum(col("k")).over(Window.partitionBy(col("band"))
          .orderBy(col("cents").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(n))
      .select(expr("cb * 10 div nc").as("decile"), col("k"),
        (col("cents") * col("k")).as("cs"), col("total"))
      .groupBy(col("decile"), col("total"))
      .agg(sum(col("k")).as("n_customers"), sum(col("cs")).as("cents"))
    def ppm(x: String): Column =
      expr(s"($x * 1000L div total) * 1000L + (($x * 1000L % total) * 1000L) div total")
    g.withColumn("cum",
        sum(col("cents")).over(Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("decile"), col("n_customers"), col("cents"),
        col("total").as("total_cents"),
        ppm("cents").as("share_ppm"),
        ppm("cum").as("cum_share_ppm"))
      .orderBy(col("decile"))
  }

  /** [[eventsCep]]'s pattern pass over any (user_id, event_type, ts-nanos)
    * frame — separated so specs can pin anchor/band semantics on
    * constructed sequences.
    */
  def cepMatches(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tus"))
    val f = events
      .select(col("user_id"), col("event_type"),
        Tables.nanosToMicros("ts").as("tus"))
      .withColumn("has_view",
        max(when(col("event_type") === "view", 1).otherwise(0))
          .over(byUser.rangeBetween(-CepBandMicros, -1)))
      .withColumn("has_purch",
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .over(byUser.rangeBetween(1, CepBandMicros)))
    f.filter(col("event_type") === "click" &&
        col("has_view") === 1 && col("has_purch") === 1)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("tus")).as("first_match_us"))
      .orderBy(col("user_id"))
  }

  /** Time-series resample with gap fill — the hourly per-type event-rate
    * frame a monitoring/forecasting consumer reads, with EXPLICIT zero
    * rows for silent hours (the rows a naive groupBy can never produce,
    * and exactly the ones an outage shows up in). The dense hour axis is
    * `sequence(lo, hi)` exploded from the observed bounds — an engine-side
    * dimension generator, not a scan.
    *
    * Shape: the histogram is a two-phase count (the only pass over the
    * corpus); bounds are a 2-value aggregate of THAT small frame; the
    * dense (type × hour) axis is generated + broadcast, so the gap-fill
    * left join never shuffles the histogram side. Hour keys are the
    * sign-correct raw-nanos floor division shared with [[eventsAnomaly]].
    */
  val eventsResample: Q = Q("events_resample",
    s"""WITH d AS (SELECT event_type,
      |    (epoch_ns(ts) - ((epoch_ns(ts) % $HourNanos + $HourNanos) % $HourNanos)) // $HourNanos AS hour,
      |    count(*) AS n FROM events GROUP BY 1, 2),
      |b AS (SELECT min(hour) AS lo, max(hour) AS hi FROM d),
      |hours AS (SELECT unnest(generate_series(lo, hi)) AS hour FROM b),
      |types AS (SELECT DISTINCT event_type FROM events)
      |SELECT t.event_type, CAST(hour AS BIGINT) AS hour, coalesce(d.n, 0) AS n
      |FROM types t CROSS JOIN hours LEFT JOIN d USING (event_type, hour)
      |ORDER BY event_type, hour""".stripMargin) { (s, dir) =>
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr(s"(ts - pmod(ts, ${HourNanos}L)) div ${HourNanos}L").as("hour"))
      .agg(count(lit(1)).as("n"))
    val hours = hourly.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("hour"))
    val types = hourly.select(col("event_type")).distinct()
    types.crossJoin(broadcast(hours))
      .join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Gap-fill with forward fill (LOCF) — the OTHER imputation
    * [[eventsResample]]'s zero-fill isn't: a feature pipeline reading an
    * hourly metric wants the LAST OBSERVED value carried across silent
    * hours (sensor readings, prices, gauge metrics), not a zero. Engine
    * portability dictates the formulation: instead of
    * `last_value(x IGNORE NULLS)` (dialect-divergent), the carried
    * SOURCE HOUR is a plain running `max(CASE WHEN observed THEN hour
    * END)` over the per-type hour order — exact integers — and the value
    * rides a join back to the observed frame on (type, src_hour). Leading
    * gaps (no prior observation) stay NULL in both engines.
    *
    * Shape: the observed frame collapses map-side to (type × hour) rows;
    * the dense grid is |types| × |hour-span| (broadcast sequence
    * explode); the running-max window partitions by type; the value
    * fetch joins grid-sized frames. Nothing after the first collapse is
    * corpus-sized.
    */
  val eventsGapLocf: Q = Q("events_gap_locf",
    s"""WITH d AS (SELECT event_type,
      |    (epoch_ns(ts) - ((epoch_ns(ts) % $HourNanos + $HourNanos) % $HourNanos)) // $HourNanos AS hour,
      |    count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS avg_value
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(hour) AS lo, max(hour) AS hi FROM d),
      |hours AS (SELECT unnest(generate_series(lo, hi)) AS hour FROM b),
      |types AS (SELECT DISTINCT event_type FROM events),
      |g AS (SELECT t.event_type, h.hour, coalesce(d.n, 0) AS n
      |  FROM types t CROSS JOIN hours h
      |  LEFT JOIN d ON d.event_type = t.event_type AND d.hour = h.hour),
      |f AS (SELECT event_type, hour, n,
      |    max(CASE WHEN n > 0 THEN hour END) OVER (
      |      PARTITION BY event_type ORDER BY hour) AS src_hour
      |  FROM g)
      |SELECT f.event_type, CAST(f.hour AS BIGINT) AS hour, f.n,
      |  CAST(f.src_hour AS BIGINT) AS src_hour, d.avg_value AS filled
      |FROM f LEFT JOIN d ON d.event_type = f.event_type AND d.hour = f.src_hour
      |ORDER BY f.event_type, f.hour""".stripMargin) { (s, dir) =>
    val obs = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr(s"(ts - pmod(ts, ${HourNanos}L)) div ${HourNanos}L").as("hour"))
      .agg(count(lit(1)).as("n"), exactAvg(col("value")).as("avg_value"))
    val hours = obs.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("hour"))
    val types = obs.select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(hours))
      .join(obs.select(col("event_type"), col("hour"), col("n")),
        Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    grid
      .withColumn("src_hour",
        max(when(col("n") > 0, col("hour"))).over(w))
      .join(obs.select(col("event_type"), col("hour").as("src_hour"),
        col("avg_value").as("filled")), Seq("event_type", "src_hour"), "left")
      .select(col("event_type"), col("hour"), col("n"), col("src_hour"),
        col("filled"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Winsorization at the exact 1st/99th percentiles — the robust-stats
    * outlier clip a feature pipeline applies before normalization. The
    * cutoffs are EXACT order statistics over a value HISTOGRAM (2-decimal
    * prices — a bounded domain at any corpus size), cumulated with the
    * [[Sampling]] export_shards TWO-LEVEL banding, never a corpus- or
    * domain-sized single-task window: distinct prices quantize into
    * 65536-cent bands (any monotone banding works — `CAST(p·100 AS
    * BIGINT)` truncates but IEEE multiply-by-positive keeps order, and
    * bands need not align with exact cents), bands into 256-wide
    * super-bands, so the only unpartitioned cumulation walks the
    * super-band totals (|domain|/2²⁴ rows) while per-band cumulations run
    * in partitioned ≤band-sized windows. The r17 verdict flagged the old
    * one-level form: bounded domain, but ~10⁷ distinct cents on ONE task
    * at extreme scale. Rank positions use pure integer arithmetic
    * (`(n−1)·q ∕∕ 100 + 1`) so both engines pick the identical element,
    * and the clip is a broadcast of two doubles.
    */
  val winsorize: Q = Q("winsorize_prices",
    """WITH h AS (SELECT o_totalprice AS p, count(*) AS c FROM orders GROUP BY 1),
      |cum AS (SELECT p, sum(c) OVER (ORDER BY p) AS cum,
      |    (SELECT count(*) FROM orders) AS n FROM h),
      |b AS (SELECT min(CASE WHEN cum >= (n-1) // 100 + 1 THEN p END) AS p_lo,
      |    min(CASE WHEN cum >= ((n-1) * 99) // 100 + 1 THEN p END) AS p_hi FROM cum)
      |SELECT o_orderkey, o_totalprice,
      |  CASE WHEN o_totalprice < p_lo THEN p_lo
      |       WHEN o_totalprice > p_hi THEN p_hi ELSE o_totalprice END AS price_w
      |FROM orders CROSS JOIN b ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val ords = t(s, dir, "orders")
    val n1 = ords.agg(count(lit(1)).as("n"))
    // two-level banded cumulation over the distinct-value histogram (see
    // scaladoc): the only unpartitioned window walks super-band totals
    val h = ords.groupBy(col("o_totalprice").as("p"))
      .agg(count(lit(1)).as("c"))
      .withColumn("band", expr("cast(p * 100 as bigint) div 65536"))
    val bn = h.groupBy(col("band")).agg(sum(col("c")).as("bn"))
      .withColumn("sband", expr("band div 256"))
    val sw = Window.orderBy(col("sband"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val soff = bn.groupBy(col("sband")).agg(sum(col("bn")).as("sbn"))
      .withColumn("soff", coalesce(sum(col("sbn")).over(sw), lit(0L)))
      .select(col("sband"), col("soff"))
    val ibw = Window.partitionBy(col("sband")).orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = bn
      .withColumn("iboff", coalesce(sum(col("bn")).over(ibw), lit(0L)))
      .join(broadcast(soff), Seq("sband"))
      .select(col("band"), (col("soff") + col("iboff")).as("boff"))
    // within-band running count is INCLUSIVE (default frame); the band
    // offset is exclusive — together cum(p) ≡ the one-level ordered sum
    val iw = Window.partitionBy(col("band")).orderBy(col("p"))
    val cum = h
      .withColumn("ic", sum(col("c")).over(iw))
      .join(broadcast(off), Seq("band"))
      .withColumn("cum", col("boff") + col("ic"))
      .crossJoin(broadcast(n1))
    val bounds = cum.agg(
      min(when(col("cum") >= expr("(n-1) div 100 + 1"), col("p"))).as("p_lo"),
      min(when(col("cum") >= expr("((n-1) * 99) div 100 + 1"), col("p"))).as("p_hi"))
    ords.crossJoin(broadcast(bounds))
      .select(col("o_orderkey"), col("o_totalprice"),
        when(col("o_totalprice") < col("p_lo"), col("p_lo"))
          .when(col("o_totalprice") > col("p_hi"), col("p_hi"))
          .otherwise(col("o_totalprice")).as("price_w"))
      .orderBy(col("o_orderkey"))
  }

  /** Exact per-group median — [[winsorize]]'s histogram trick generalized
    * to grouped order statistics: per (group, value) counts, a cumulative
    * window PER GROUP over distinct values, and the lower/upper median as
    * integer-rank element picks (`(n+1)∕∕2`, `(n+2)∕∕2` — no interpolated
    * average, so no engine-specific float midpoint arithmetic can
    * diverge). The windows walk |group's value domain| rows, never the
    * corpus, and both window functions share one (group)-hash exchange.
    * `percentile_approx` is the sketch alternative; THIS is the exact one
    * a stats gate needs.
    */
  val groupMedian: Q = Q("group_median",
    """WITH h AS (SELECT event_type, value AS v, count(*) AS c FROM events GROUP BY 1, 2),
      |cum AS (SELECT event_type, v,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n FROM h)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
      |  min(CASE WHEN cum >= (n+1) // 2 THEN v END) AS med_lo,
      |  min(CASE WHEN cum >= (n+2) // 2 THEN v END) AS med_hi
      |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val byType = Window.partitionBy(col("event_type"))
    val cum = t(s, dir, "events")
      .groupBy(col("event_type"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(byType.orderBy(col("v"))))
      .withColumn("n", sum(col("c")).over(byType))
    cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n+1) div 2"), col("v"))).as("med_lo"),
        min(when(col("cum") >= expr("(n+2) div 2"), col("v"))).as("med_hi"))
      .orderBy(col("event_type"))
  }

  /** The "sole blocking supplier" query — TPC-H Q21's shape on this
    * schema: suppliers ranked by how many multi-supplier orders THEY alone
    * shipped late (> 80 days after the order date). The textbook
    * formulation is a 3-way join plus a correlated EXISTS and NOT EXISTS —
    * and that is exactly what the DuckDB oracle runs. The Spark side
    * deliberately runs the SCALABLE equivalent instead: collapse each
    * order to per-supplier lateness flags, derive `n_supp > 1 ∧
    * n_late = 1` per order, and the sole-late supplier falls out as
    * `max(CASE late)`. Two aggregations replace two correlated
    * semi/anti-joins over the fact table — and both group on orderkey
    * prefixes, so in the at-scale regime (orders too big to broadcast →
    * sort-merge join shuffled on orderkey) BOTH aggregations inherit the
    * join's partitioning and run exchange-free (asserted in
    * AnalyticsSpec); the final per-supplier count is tiny and the top-20
    * is a TakeOrdered. Cross-formulation equality is the strongest oracle
    * shape in the registry: two different QUERY PLANS must agree
    * row-for-row.
    */
  val lateSuppliers: Q = Q("late_suppliers",
    """SELECT s.s_suppkey, s.s_name, count(DISTINCT l1.l_orderkey) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 80 DAY
      |AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o.o_orderdate + INTERVAL 80 DAY)
      |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin) { (s, dir) =>
    val perSupp = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate") > expr("o_orderdate + INTERVAL 80 DAYS"), 1)
        .otherwise(0)).as("late"))
    val perOrder = perSupp
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"),
        max(when(col("late") === 1, col("l_suppkey"))).as("late_supp"))
    perOrder
      .filter(col("n_supp") > 1 && col("n_late") === 1)
      .groupBy(col("late_supp").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")), Seq("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(20)
  }

  /** Per-column table statistics in ONE pass — what `ANALYZE TABLE`
    * collects for the cost-based optimizer (row count, null count, min/max,
    * NDV): a single aggregate over the fact table computes every column's
    * stats with map-side partials (the scan happens once, not once per
    * column), then `stack` unpivots the 1-row aggregate into the catalog's
    * per-column layout. At 100 TB this is the exact shape stats collection
    * must have — one pass, partial-aggregated, nothing driver-side but the
    * K×columns result row.
    *
    * Cross-engine determinism: counts and min/max are exact selections
    * (no float accumulation); timestamp min/max surface as epoch
    * microseconds; NDV is the HLL++ sketch gated on its by-construction
    * bound (an rsd-0.02 estimate of ≤ n distinct values cannot plausibly
    * exceed 4n — the [[Sampling.approx]] contract), with tight accuracy
    * asserted test-side in AnalyticsSpec.
    */
  val tableStats: Q = Q("table_stats",
    """WITH a AS (SELECT count(*) AS n,
      |  count(l_orderkey) AS c1, CAST(min(l_orderkey) AS DOUBLE) AS mn1, CAST(max(l_orderkey) AS DOUBLE) AS mx1,
      |  count(l_quantity) AS c2, min(l_quantity) AS mn2, max(l_quantity) AS mx2,
      |  count(l_extendedprice) AS c3, min(l_extendedprice) AS mn3, max(l_extendedprice) AS mx3,
      |  count(l_returnflag) AS c4, min(l_returnflag) AS smn4, max(l_returnflag) AS smx4,
      |  count(l_shipdate) AS c5, CAST(epoch_us(min(l_shipdate)) AS DOUBLE) AS mn5, CAST(epoch_us(max(l_shipdate)) AS DOUBLE) AS mx5
      |FROM lineitem)
      |SELECT * FROM (
      |  SELECT 'l_orderkey' AS col, n, n - c1 AS nulls, mn1 AS min_num, mx1 AS max_num,
      |    CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str, TRUE AS ndv_sane FROM a
      |  UNION ALL SELECT 'l_quantity', n, n - c2, mn2, mx2, NULL, NULL, TRUE FROM a
      |  UNION ALL SELECT 'l_extendedprice', n, n - c3, mn3, mx3, NULL, NULL, TRUE FROM a
      |  UNION ALL SELECT 'l_returnflag', n, n - c4, NULL, NULL, smn4, smx4, TRUE FROM a
      |  UNION ALL SELECT 'l_shipdate', n, n - c5, mn5, mx5, NULL, NULL, TRUE FROM a)
      |ORDER BY col""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      count(col("l_orderkey")).as("c1"),
      min(col("l_orderkey")).cast("double").as("mn1"),
      max(col("l_orderkey")).cast("double").as("mx1"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("d1"),
      count(col("l_quantity")).as("c2"),
      min(col("l_quantity")).as("mn2"), max(col("l_quantity")).as("mx2"),
      approx_count_distinct(col("l_quantity"), 0.02).as("d2"),
      count(col("l_extendedprice")).as("c3"),
      min(col("l_extendedprice")).as("mn3"), max(col("l_extendedprice")).as("mx3"),
      approx_count_distinct(col("l_extendedprice"), 0.02).as("d3"),
      count(col("l_returnflag")).as("c4"),
      min(col("l_returnflag")).as("smn4"), max(col("l_returnflag")).as("smx4"),
      approx_count_distinct(col("l_returnflag"), 0.02).as("d4"),
      count(col("l_shipdate")).as("c5"),
      unix_micros(min(col("l_shipdate"))).cast("double").as("mn5"),
      unix_micros(max(col("l_shipdate"))).cast("double").as("mx5"),
      approx_count_distinct(col("l_shipdate"), 0.02).as("d5"))
      .select(expr(
        """stack(5,
          |  'l_orderkey', n, n - c1, mn1, mx1, CAST(NULL AS STRING), CAST(NULL AS STRING), d1 BETWEEN 1 AND 4 * n,
          |  'l_quantity', n, n - c2, mn2, mx2, CAST(NULL AS STRING), CAST(NULL AS STRING), d2 BETWEEN 1 AND 4 * n,
          |  'l_extendedprice', n, n - c3, mn3, mx3, CAST(NULL AS STRING), CAST(NULL AS STRING), d3 BETWEEN 1 AND 4 * n,
          |  'l_returnflag', n, n - c4, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), smn4, smx4, d4 BETWEEN 1 AND 4 * n,
          |  'l_shipdate', n, n - c5, mn5, mx5, CAST(NULL AS STRING), CAST(NULL AS STRING), d5 BETWEEN 1 AND 4 * n
          |) as (col, n, nulls, min_num, max_num, min_str, max_str, ndv_sane)"""
          .stripMargin))
      .orderBy(col("col"))
  }

  /** TPC-H Q17 shape — "small-quantity order revenue": lineitems whose
    * quantity is below 20% of their part's average, summed per brand. The
    * classic correlated-scalar-subquery decorrelation case. The oracle
    * states it as the textbook self-join against a per-part aggregate;
    * the Spark side uses the WINDOW formulation instead — `sum/count
    * OVER (PARTITION BY l_partkey)` — so the per-part statistics and the
    * per-row comparison ride ONE hash exchange on l_partkey with no
    * second scan and no join of lineitem against itself. The subsequent
    * part join needs the same l_partkey distribution, and the final
    * brand aggregation's exchange carries ≤ |brands| groups. At 100 TB
    * that is one full-fact shuffle total, vs two scans + two shuffles
    * for the naive decorrelation.
    *
    * Exactness: the threshold `qty·5·cnt < sum_qty` is the cross-
    * multiplied integer form of `qty < 0.2·avg(qty)` over cents-scaled
    * BIGINTs — no float division on either engine; revenue is the
    * DECIMAL(18,2)-sum idiom.
    */
  val smallOrders: Q = Q("small_order_revenue",
    """WITH pq AS (SELECT l_partkey,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sq,
      |    count(*) AS cnt
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT p.p_brand, count(*) AS n_small,
      |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_rev
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey
      |JOIN pq ON l.l_partkey = pq.l_partkey
      |WHERE CAST(round(l.l_quantity * 100) AS BIGINT) * 5 * pq.cnt < pq.sq
      |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin) { (s, dir) =>
    val byPart = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_partkey"))
    t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qty_c"))
      .withColumn("sq", sum(col("qty_c")).over(byPart))
      .withColumn("cnt", count(lit(1)).over(byPart))
      .where(col("qty_c") * lit(5L) * col("cnt") < col("sq"))
      .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small"),
        exactSum(col("l_extendedprice")).as("small_rev"))
      .orderBy(col("p_brand"))
  }

  /** A/B experiment readout — deterministic digest assignment plus exact
    * integer lift: users are split into arms by the parity of the first
    * hex nibble of `md5(user_id)` (the engine-portable hash-based
    * assignment every experimentation platform uses — reproducible on
    * any cluster, no RNG, no assignment table to join), conversion is
    * "has ≥ 1 purchase event", and the readout is per-arm conversion in
    * exact parts-per-million (`converted·10⁶ ∕∕ users`, BIGINT floor
    * division — no float rate) plus the DECIMAL-exact revenue sum.
    *
    * Shape: ONE user_id exchange for the per-user collapse (conversion
    * flag + revenue partial-aggregate map-side), then a 2-row final
    * aggregate — the corpus is touched once, and the readout frame is
    * constant-size at any scale.
    */
  val abLift: Q = Q("events_ab_lift",
    """WITH u AS (SELECT user_id,
      |    CASE WHEN strpos('02468ace', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) > 0
      |      THEN 'A' ELSE 'B' END AS arm,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
      |    sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS rev
      |  FROM events GROUP BY 1, 2)
      |SELECT arm, count(*) AS n_users,
      |  CAST(sum(conv) AS BIGINT) AS n_converted,
      |  CAST(sum(conv) * 1000000 // count(*) AS BIGINT) AS conv_ppm,
      |  CAST(sum(rev) AS DOUBLE) AS revenue
      |FROM u GROUP BY arm ORDER BY arm""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"),
        when(expr("instr('02468ace', substr(md5(CAST(user_id AS STRING)), 1, 1))") > 0,
          lit("A")).otherwise(lit("B")).as("arm"))
      .agg(
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"),
        sum(when(col("event_type") === "purchase", dec(col("value")))
          .otherwise(dec(lit(0)))).as("rev"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("conv")).as("n_converted"),
        expr("(sum(conv) * 1000000L) div count(1)").as("conv_ppm"),
        sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("arm"))
  }

  /** RFM customer segmentation — the classic warehouse cohorting:
    * recency (days since the customer's last order, relative to the
    * corpus' latest order), frequency (order count), monetary (exact
    * cents sum), each mapped to a 1–5 quintile score, reported as
    * segment sizes. Quintiles use the repo's exact-order-statistics
    * idiom ([[winsorize]]/[[groupMedian]]): a distinct-VALUE histogram
    * cumulated by one ordered window, so the window walks |value
    * domain| rows, never |customers|. Recency (days) and frequency
    * (small counts) have naturally bounded domains; monetary is
    * quantized to $1000 bands BEFORE scoring precisely to keep its
    * domain bounded by the price range rather than customer cardinality
    * — the documented contract for exact quantiles at 100 TB. Score =
    * `(cum−1)·5 ∕∕ n + 1` is pure integer rank arithmetic (ties share a
    * score on both engines); all dates are post-epoch so day floor-div
    * is exact; the score maps and the total are broadcast model-size
    * frames, so after the ONE per-customer aggregation nothing larger
    * than a histogram moves.
    */
  val rfm: Q = Q("orders_rfm",
    """WITH o AS (SELECT o_custkey,
      |    epoch_us(o_orderdate) // 86400000000 AS day,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |mx AS (SELECT max(day) AS dmax FROM o),
      |rfm AS MATERIALIZED (SELECT o_custkey,
      |    (SELECT dmax FROM mx) - max(day) AS r, count(*) AS f,
      |    CAST(sum(cents) AS BIGINT) // 100000 AS mk
      |  FROM o GROUP BY o_custkey),
      |n AS MATERIALIZED (SELECT count(*) AS n FROM rfm),
      |rs AS (SELECT r, CAST(((cum - 1) * 5) // n + 1 AS BIGINT) AS r_score
      |  FROM (SELECT r, sum(cnt) OVER (ORDER BY r) AS cum
      |    FROM (SELECT r, count(*) AS cnt FROM rfm GROUP BY r)) CROSS JOIN n),
      |fs AS (SELECT f, CAST(((cum - 1) * 5) // n + 1 AS BIGINT) AS f_score
      |  FROM (SELECT f, sum(cnt) OVER (ORDER BY f) AS cum
      |    FROM (SELECT f, count(*) AS cnt FROM rfm GROUP BY f)) CROSS JOIN n),
      |ms AS (SELECT mk, CAST(((cum - 1) * 5) // n + 1 AS BIGINT) AS m_score
      |  FROM (SELECT mk, sum(cnt) OVER (ORDER BY mk) AS cum
      |    FROM (SELECT mk, count(*) AS cnt FROM rfm GROUP BY mk)) CROSS JOIN n)
      |SELECT rs.r_score, fs.f_score, ms.m_score, count(*) AS n_customers
      |FROM rfm JOIN rs USING (r) JOIN fs USING (f) JOIN ms USING (mk)
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders").select(col("o_custkey"),
      expr("unix_micros(o_orderdate) div 86400000000L").as("day"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val mx = o.agg(max(col("day")).as("dmax"))
    // persisted (Scratch-tracked): consumed by THREE histogram derivations
    // plus the final scoring join — without it each consumer re-runs the
    // orders scan and the per-customer aggregation (measured: 14 scans /
    // 25 exchanges in the unpersisted plan). |customers| rows × 4 ints.
    val rfmF = graft.Scratch.track(o.groupBy(col("o_custkey"))
      .agg(max(col("day")).as("lastd"), count(lit(1)).as("f"),
        sum(col("cents")).as("m"))
      .crossJoin(broadcast(mx))
      .select(col("o_custkey"), (col("dmax") - col("lastd")).as("r"),
        col("f"), expr("m div 100000L").as("mk")))
    val nF = rfmF.agg(count(lit(1)).as("n"))
    def scoreMap(dim: String, out: String): DataFrame = rfmF
      .groupBy(col(dim)).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col(dim))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(nF))
      .select(col(dim), expr("((cum - 1) * 5) div n + 1").as(out))
    rfmF
      .join(broadcast(scoreMap("r", "r_score")), "r")
      .join(broadcast(scoreMap("f", "f_score")), "f")
      .join(broadcast(scoreMap("mk", "m_score")), "mk")
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** Last-touch marketing attribution — the warehouse workload behind
    * every "which channel drove this purchase" report: each purchase is
    * attributed to the user's most recent preceding (or simultaneous,
    * (ts, event_id)-ordered) click, bucketed by conversion lag
    * (<1 h / 1 h–24 h / 1 d–7 d / organic = none within 7 days), with
    * purchase counts and DECIMAL-exact revenue per bucket.
    *
    * Shape — the as-of join collapsed into ONE exchange: instead of
    * joining purchases against clicks, both ride a single user_id
    * window whose running `max(CASE click THEN ts END)` IS the as-of
    * lookup ([[AsofJoin]]'s tagged-union idiom, window form), evaluated
    * incrementally per user history. Lag arithmetic runs on the RAW
    * int64 nanos (`ts` reads as long under nanosAsLong; DuckDB replays
    * via `epoch_ns`) — no timestamp truncation to diverge between
    * engines — and the output is ≤ 4 rows at any corpus size.
    */
  val eventsAttribution: Q = Q("events_attribution",
    """WITH e AS (SELECT epoch_ns(ts) AS tns, event_id, user_id, event_type, value
      |  FROM events),
      |u AS (SELECT user_id, tns, event_type, value,
      |    max(CASE WHEN event_type = 'click' THEN tns END)
      |      OVER (PARTITION BY user_id ORDER BY tns, event_id
      |            ROWS UNBOUNDED PRECEDING) AS last_click
      |  FROM e),
      |p AS (SELECT CASE
      |    WHEN last_click IS NULL THEN 'organic'
      |    WHEN tns - last_click <= 3600000000000 THEN 'lt_1h'
      |    WHEN tns - last_click <= 86400000000000 THEN '1h_24h'
      |    WHEN tns - last_click <= 604800000000000 THEN '1d_7d'
      |    ELSE 'organic' END AS attribution, value
      |  FROM u WHERE event_type = 'purchase')
      |SELECT attribution, count(*) AS n_purchases,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM p GROUP BY attribution ORDER BY attribution""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lag = col("ts") - col("last_click")
    t(s, dir, "events")
      .select(col("ts"), col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      .withColumn("last_click",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attribution",
        when(col("last_click").isNull, "organic")
          .when(lag <= 3600000000000L, "lt_1h")
          .when(lag <= 86400000000000L, "1h_24h")
          .when(lag <= 604800000000000L, "1d_7d")
          .otherwise("organic"))
      .groupBy(col("attribution"))
      .agg(count(lit(1)).as("n_purchases"),
        exactSum(col("value")).as("revenue"))
      .orderBy(col("attribution"))
  }

  /** Market-basket affinity — part pairs that co-occur within orders,
    * ranked by support with exact integer-ppm lift (npair · |orders| ·
    * 10⁶ ∕∕ (sup1 · sup2); no float ratios to diverge cross-engine).
    *
    * Shape — ONE orderkey exchange, not a self-join: the oracle states
    * the textbook `d ⋈ d ON same order, p1 < p2`; the Spark side
    * aggregates each order's distinct parts into a sorted array and
    * expands the C(k,2) pairs MAP-SIDE with nested `transform`/`slice`
    * (order sizes are bounded by basket semantics, so the expansion is
    * a constant per order and the pair stream is linear in the fact
    * table). The per-order part-sets collapse to the DISTINCT-basket
    * frame (basket, multiplicity), which is persisted and derives all
    * three consumers — weighted pair counts, weighted per-part supports,
    * and the weighted order total — so the fact table is scanned and
    * shuffled exactly once and every expansion runs per distinct basket,
    * not per order. Supports join the pair counts unhinted (AQE
    * broadcasts at small SF, shuffles when |parts| grows); top-20 is
    * TakeOrdered with a full-key tiebreak.
    */
  val basketPairs: Q = Q("basket_pairs",
    """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |no AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
      |s AS (SELECT l_partkey, count(*) AS sup FROM d GROUP BY 1),
      |pr AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS npair
      |  FROM d a JOIN d b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2)
      |SELECT p1, p2, npair, s1.sup AS sup1, s2.sup AS sup2,
      |  CAST(npair * no.n * 1000000 // (s1.sup * s2.sup) AS BIGINT) AS lift_ppm
      |FROM pr JOIN s s1 ON p1 = s1.l_partkey JOIN s s2 ON p2 = s2.l_partkey
      |CROSS JOIN no
      |ORDER BY npair DESC, p1, p2 LIMIT 20""".stripMargin) { (s, dir) =>
    val perOrder = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
    // Collapse identical BASKETS before any expansion: every consumer
    // below is a weighted sum over the distinct part-set, so orders
    // sharing a basket (retail corpora are full of small repeated
    // baskets; a replicated scale corpus is the extreme case) pay their
    // C(k,2) expansion and per-part explode ONCE, carrying a
    // multiplicity. The basket regroup exchanges |orders| slim array
    // rows where the unweighted form exchanged the ~k²/2-amplified pair
    // stream — strictly less data whenever k̄ ≥ 2, and orders of
    // magnitude less under repetition. Weighted counts are exactly the
    // oracle's per-order counts (count(*) ≡ Σ multiplicities).
    val baskets = graft.Scratch.track(perOrder
      .groupBy(col("parts")).agg(count(lit(1)).as("m")))
    val supports = baskets
      .select(explode(col("parts")).as("p"), col("m"))
      .groupBy(col("p")).agg(sum(col("m")).as("sup"))
    val nOrders = baskets.agg(sum(col("m")).as("n"))
    val pairs = baskets
      .select(col("m"), explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts)), y ->
          |    struct(x AS p1, y AS p2))))""".stripMargin)).as("pq"))
      .select(col("pq.p1").as("p1"), col("pq.p2").as("p2"), col("m"))
      .groupBy(col("p1"), col("p2")).agg(sum(col("m")).as("npair"))
    // top-20 BEFORE the support joins: the ranking keys (npair, p1, p2)
    // exist on the pair frame, and the inner joins cannot drop a pair
    // (every part in a pair has a support row by construction), so the
    // limit commutes — a TakeOrderedAndProject over the pair aggregate
    // replaces two pair-frame-wide join exchanges (~90M rows each at
    // ×100) with 20-row lookups; supports broadcasts (|part| rows,
    // catalog-bounded at any corpus size)
    val top = pairs.orderBy(col("npair").desc, col("p1"), col("p2")).limit(20)
    top
      .join(broadcast(supports.select(col("p").as("p1"), col("sup").as("sup1"))), Seq("p1"))
      .join(broadcast(supports.select(col("p").as("p2"), col("sup").as("sup2"))), Seq("p2"))
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("npair"), col("sup1"), col("sup2"),
        expr("(npair * n * 1000000L) div (sup1 * sup2)").as("lift_ppm"))
      .orderBy(col("npair").desc, col("p1"), col("p2"))
  }

  /** Incremental aggregate maintenance — the materialized-view update
    * path every warehouse runs nightly: the per-customer order aggregate
    * is maintained as STATE (built from the orders strictly before the
    * corpus' midpoint day — "yesterday's materialization") merged with
    * the aggregate of the newly-arrived partition (the on/after-midpoint
    * orders) via a full-outer coalesce-sum join, WITHOUT re-aggregating
    * history. The ORACLE is the plain full recompute over all orders —
    * for algebraic aggregates merge(agg(base), agg(δ)) ≡ agg(base ∪ δ),
    * so the hash gate IS the incremental-equals-full theorem, proven on
    * every run at every SF.
    *
    * Shape: the two batch scans stand in for genuinely separate arrivals
    * (a real pipeline reads state from storage, not from a rescan); both
    * aggregates collapse map-side to |customers| partials, the merge
    * join keys on the same custkey distribution, and money rides the
    * exact-cents BIGINT idiom so merge order cannot perturb a float sum.
    * The midpoint cutoff derives from the orders' own min/max days
    * (broadcast scalar — no hardcoded calendar), so the split is
    * deterministic, SF-independent, and always two non-empty batches on
    * a multi-day corpus.
    */
  val incrAgg: Q = Q("incr_agg_merge",
    """SELECT o_custkey, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders").select(col("o_custkey"),
      expr("unix_micros(o_orderdate) div 86400000000L").as("day"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val mid = o.agg(((min(col("day")) + max(col("day"))) / lit(2))
      .cast("long").as("mid"))
    def aggOf(df: DataFrame, n: String, c: String): DataFrame = df
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as(n), sum(col("cents")).as(c))
    val withMid = o.crossJoin(broadcast(mid))
    val state = aggOf(withMid.filter(col("day") < col("mid")), "n1", "c1")
    val delta = aggOf(withMid.filter(col("day") >= col("mid")), "n2", "c2")
    state.join(delta, Seq("o_custkey"), "full")
      .select(col("o_custkey"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n_orders"),
        (coalesce(col("c1"), lit(0L)) + coalesce(col("c2"), lit(0L))).as("cents"))
      .orderBy(col("o_custkey"))
  }

  /** Per-type daily-volume EWMA forecast with residuals — the capacity
    * planning / drift-alarm series next to [[eventsAnomaly]]'s z-scores:
    * for every event type, daily counts over the type's ZERO-FILLED day
    * span (gap days count 0 — the [[eventsActiveUsers]] lesson, explicit)
    * feed an exponentially-weighted level with α = 1/8 in ×8 fixed-point:
    * s₁ = 8·c₁, sₜ = sₜ₋₁ + ⌊(8·cₜ − sₜ₋₁)/8⌋ (sign-correct pmod floor,
    * the [[graft.operators.Similarity]] kmIterSql trick), forecast for
    * day t is ⌊sₜ₋₁/8⌋ and the residual is cₜ − forecast (day 1 anchors
    * forecast = c₁, resid = 0). All-integer, so DuckDB's recursive-CTE
    * replay is bit-exact.
    *
    * Scale shape — "aggregate to model size, then iterate": the one
    * corpus-sized pass is the (type, day) count with map-side partials;
    * the EWMA recursion runs INSIDE Catalyst as an `aggregate` fold over
    * each type's day array — a calendar-bounded, corpus-size-invariant
    * domain (|types| × span days), the same legitimacy as the winsorize
    * histogram. No driver collect, no window over data-sized frames, no
    * UDF: one codegen'd projection after the count.
    */
  val eventsForecast: Q = Q("events_forecast",
    s"""WITH RECURSIVE
      |ed AS (SELECT event_type,
      |    (epoch_ns(ts) - ((epoch_ns(ts) % $DayNanos + $DayNanos) % $DayNanos)) // $DayNanos AS day
      |  FROM events),
      |c0 AS (SELECT event_type, day, count(*) AS c FROM ed GROUP BY 1, 2),
      |sp AS (SELECT event_type, min(day) AS lo, max(day) AS hi
      |  FROM c0 GROUP BY 1),
      |days AS (SELECT event_type, unnest(generate_series(lo, hi)) AS day
      |  FROM sp),
      |cd AS (SELECT d.event_type, d.day, coalesce(c0.c, 0) AS c
      |  FROM days d LEFT JOIN c0 USING (event_type, day)),
      |n AS (SELECT event_type, day, c,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM cd),
      |rec AS (
      |  SELECT event_type, rn, day, CAST(c AS BIGINT) AS c,
      |    CAST(8 * c AS BIGINT) AS s, CAST(c AS BIGINT) AS forecast,
      |    CAST(0 AS BIGINT) AS resid
      |  FROM n WHERE rn = 1
      |  UNION ALL
      |  SELECT n.event_type, n.rn, n.day, CAST(n.c AS BIGINT),
      |    r.s + ((8 * n.c - r.s) - (((8 * n.c - r.s) % 8 + 8) % 8)) // 8,
      |    r.s // 8,
      |    n.c - r.s // 8
      |  FROM rec r JOIN n ON n.event_type = r.event_type AND n.rn = r.rn + 1)
      |SELECT event_type, CAST(day AS BIGINT) AS day, c, forecast, resid
      |FROM rec ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    forecastSeries(t(s, dir, "events")
      .select(col("event_type"),
        expr(s"(ts - pmod(ts, ${DayNanos}L)) div ${DayNanos}L").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("c")))
  }

  /** The zero-fill + Catalyst EWMA fold over a (event_type, day, c) frame
    * — factored out so the spec drives gap-day fixtures. */
  private[operators] def forecastSeries(counts: DataFrame): DataFrame = {
    val filled = counts
      .groupBy(col("event_type"))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"),
        collect_list(struct(col("day"), col("c"))).as("obs"))
      .select(col("event_type"),
        // zero-filled (day, c) series: observed counts scattered into the
        // type's full calendar span, sorted by construction of `sequence`.
        // get(), not [0]: a GAP day's filter() is empty, and ANSI indexing
        // throws on it (first bound at the ×10 smoke — the shipped SFs
        // have no gap days, the spec fixture now does)
        expr("""transform(sequence(lo, hi), d ->
          |  named_struct('day', d,
          |    'c', coalesce(get(filter(obs, o -> o.day = d), 0).c, 0L)))"""
          .stripMargin.replace("\n", " ")).as("arr"))
    filled
      .select(col("event_type"), explode(expr(
        """aggregate(slice(arr, 2, size(arr) - 1),
          |  named_struct('s', 8L * arr[0].c,
          |    'out', array(named_struct('day', arr[0].day, 'c', arr[0].c,
          |      'forecast', arr[0].c, 'resid', 0L))),
          |  (acc, x) -> named_struct(
          |    's', acc.s + ((8L * x.c - acc.s) - pmod(8L * x.c - acc.s, 8L)) div 8L,
          |    'out', concat(acc.out, array(named_struct('day', x.day, 'c', x.c,
          |      'forecast', acc.s div 8L, 'resid', x.c - acc.s div 8L)))),
          |  acc -> acc.out)""".stripMargin.replace("\n", " "))).as("r"))
      .select(col("event_type"), col("r.day").as("day"), col("r.c").as("c"),
        col("r.forecast").as("forecast"), col("r.resid").as("resid"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Equi-depth histogram of lineitem's `l_extendedprice` in cents — the
    * CBO column statistic [[tableStats]]'s min/max cannot express:
    * selectivity of a range predicate needs WHERE the mass sits, so
    * ANALYZE-style planners keep ~equal-count buckets. 16 buckets; a
    * distinct price value's bucket is `(cum_before · 16) div n` — the
    * [[ordersPareto]] first-member rule, so ties stay together and the
    * bucketing is deterministic with no value-level tiebreak sort. Each
    * bucket reports its value range [lo, hi], its exact row count (the
    * depth — equal up to the largest single-value mass, the classic
    * equi-depth caveat), and its distinct-value count (the per-bucket
    * NDV a planner divides by for equality selectivity).
    *
    * Scale shape: the cumulative runs TWO-LEVEL exactly as
    * [[ordersPareto]] — prices quantize into $1000 bands, one window
    * walks the band-total frame (bounded by the price span), a
    * band-partitioned window adds intra-band offsets — so no
    * unpartitioned window ever walks the distinct-value histogram, which
    * grows with the corpus. One scan collapses map-side to that
    * histogram; everything after is histogram- or bucket-domain-sized.
    */
  val colHistogram: Q = Q("col_histogram",
    """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      |  FROM lineitem),
      |h AS (SELECT c, count(*) AS k FROM v GROUP BY 1),
      |n AS (SELECT CAST(sum(k) AS BIGINT) AS n FROM h),
      |w AS (SELECT c, k, sum(k) OVER (ORDER BY c) AS cum FROM h),
      |g AS (SELECT (cum - k) * 16 // n AS bucket,
      |    min(c) AS lo, max(c) AS hi, CAST(sum(k) AS BIGINT) AS cnt,
      |    CAST(count(*) AS BIGINT) AS ndv
      |  FROM w, n GROUP BY 1)
      |SELECT CAST(bucket AS BIGINT) AS bucket, lo, hi, cnt, ndv
      |FROM g ORDER BY bucket""".stripMargin) { (s, dir) =>
    val h = graft.Scratch.track(t(s, dir, "lineitem")
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("k")))
    equiDepthBuckets(h)
      .groupBy(col("bucket"))
      .agg(min(col("c")).as("lo"), max(col("c")).as("hi"),
        sum(col("k")).as("cnt"), count(lit(1)).as("ndv"))
      .orderBy(col("bucket"))
  }

  /** The two-level equi-depth bucket assignment over a (c, k[, …])
    * distinct-value histogram — [[colHistogram]]'s core factored out so
    * [[statsIncrMerge]] re-buckets a MERGED histogram through the same
    * plan: band totals window (price-span-bounded frame) + band-
    * partitioned intra-band offsets, `bucket = cum_before·16 div n`.
    * Extra input columns ride through untouched. */
  private def equiDepthBuckets(hIn: DataFrame): DataFrame = {
    val h = hIn.withColumn("band", expr(s"c div ${ParetoBandCents}L"))
    val bw = org.apache.spark.sql.expressions.Window
      .orderBy(col("band"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val boff = h.groupBy(col("band")).agg(sum(col("k")).as("bn"))
      .withColumn("boff", coalesce(sum(col("bn")).over(bw), lit(0L)))
      .select(col("band"), col("boff"))
    val iw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band")).orderBy(col("c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val n = h.agg(sum(col("k")).as("n"))
    h.withColumn("ib", coalesce(sum(col("k")).over(iw), lit(0L)))
      .join(broadcast(boff), Seq("band"))
      .crossJoin(broadcast(n))
      .withColumn("bucket", expr("(boff + ib) * 16 div n"))
  }

  /** Incremental CBO-statistics maintenance — the fourth member of the
    * incremental family ([[incrAgg]] aggregates, `dedup_incr_index` the
    * MinHash index, `ann_incr_index` the IVF postings): a nightly ingest
    * must refresh [[colHistogram]] without rescanning history, and the
    * key fact is that equi-depth BOUNDARIES don't merge but
    * distinct-value HISTOGRAMS do — so production stats maintenance
    * merges value histograms (per-value count sums) and re-buckets,
    * paying |histogram| not |corpus| for the refresh. Here the corpus
    * splits at the max-orderkey midpoint (collected as a literal so BOTH
    * half filters push into the parquet scan), each half builds its own
    * histogram, the merge is a full-outer per-value count sum, and the
    * re-bucket runs [[equiDepthBuckets]] — the SAME two-level plan the
    * direct build uses. The oracle builds the histogram in ONE pass, so
    * the hash gate proves rebucket(h(base) ⊎ h(δ)) ≡ direct(base ∪ δ)
    * bucket for bucket; per-bucket n_base/n_delta make the merge grain
    * observable (the `dedup_incr_index` convention).
    */
  val statsIncrMerge: Q = Q("stats_incr_merge",
    """WITH mid AS (SELECT max(l_orderkey) // 2 AS m FROM lineitem),
      |v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
      |    l_orderkey < m AS is_base
      |  FROM lineitem, mid),
      |h AS (SELECT c, count(*) AS k,
      |    CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS kb
      |  FROM v GROUP BY 1),
      |n AS (SELECT CAST(sum(k) AS BIGINT) AS n FROM h),
      |w AS (SELECT c, k, kb, sum(k) OVER (ORDER BY c) AS cum FROM h),
      |g AS (SELECT (cum - k) * 16 // n AS bucket,
      |    min(c) AS lo, max(c) AS hi, CAST(sum(k) AS BIGINT) AS cnt,
      |    CAST(count(*) AS BIGINT) AS ndv,
      |    CAST(sum(kb) AS BIGINT) AS n_base,
      |    CAST(sum(k - kb) AS BIGINT) AS n_delta
      |  FROM w, n GROUP BY 1)
      |SELECT CAST(bucket AS BIGINT) AS bucket, lo, hi, cnt, ndv,
      |  n_base, n_delta
      |FROM g ORDER BY bucket""".stripMargin) { (s, dir) =>
    val cents = "CAST(round(l_extendedprice * 100) AS BIGINT)"
    // midpoint as a literal: the bounded-collect rule (1 row), and the
    // reason both half filters reach the parquet scan as pushed filters.
    // max() over an EMPTY lineitem is null — read through the boxed type
    // and fall back to 0 so the query degrades to an empty result (the
    // colHistogram convention) instead of throwing in getLong
    val mid = Option(t(s, dir, "lineitem")
        .agg(expr("max(l_orderkey) div 2").as("m"))
        .head.getAs[java.lang.Long]("m"))
      .map(_.longValue).getOrElse(0L)
    def half(cond: Column, tag: String): DataFrame =
      t(s, dir, "lineitem").filter(cond)
        .select(expr(cents).as("c"))
        .groupBy(col("c")).agg(count(lit(1)).as(tag))
    val h = graft.Scratch.track(
      half(col("l_orderkey") < mid, "kb")
        .join(half(col("l_orderkey") >= mid, "kd"), Seq("c"), "full_outer")
        .select(col("c"), coalesce(col("kb"), lit(0L)).as("kb"),
          coalesce(col("kd"), lit(0L)).as("kd"))
        .withColumn("k", col("kb") + col("kd")))
    equiDepthBuckets(h)
      .groupBy(col("bucket"))
      .agg(min(col("c")).as("lo"), max(col("c")).as("hi"),
        sum(col("k")).as("cnt"), count(lit(1)).as("ndv"),
        sum(col("kb")).as("n_base"), sum(col("kd")).as("n_delta"))
      .orderBy(col("bucket"))
  }

  /** Incremental maintenance of a JOIN view — the fifth and hardest member
    * of the incremental family (incr_agg_merge: distributive agg;
    * dedup_incr_index / ann_incr_index: index deltas; stats_incr_merge:
    * histograms): a per-customer revenue view over orders ⋈ lineitem,
    * maintained under INDEPENDENT deltas on both base relations. The
    * textbook delta decomposition V(O_b∪O_δ, L_b∪L_δ) = V(O_b,L_b) ⊎
    * V(O_b,L_δ) ⊎ V(O_δ,L_b) ⊎ V(O_δ,L_δ) runs as four REAL joins (the
    * stored-view term recomputed here for the gate, the dedup_incr_index
    * convention) whose partial aggregates merge by per-key sum — exact,
    * because count/decimal-sum are distributive. The oracle computes the
    * view in ONE pass over the full relations, so the hash gate IS
    * merge(quadrants) ≡ direct(O ∪ δO, L ∪ δL); per-quadrant counts ride
    * along as the merge grain. Splits are min/max-midpoint on DIFFERENT
    * keys per relation (custkey vs orderkey) so every cross term is
    * genuinely non-empty — a shared split key would silently zero two
    * quadrants and prove nothing.
    *
    * Scale shape: at maintenance time only the delta-sized joins touch
    * new data (O_b⋈L_δ streams the delta against the big relation's keyed
    * layout); every quadrant is an ordinary keyed join with map-side
    * partial aggregation, and the merge is |view-keys| rows. Midpoint
    * collects are 1-row aggregates (bounded-collect rule; empty tables
    * degrade to 0 and an empty view, not a crash).
    */
  val incrJoinMerge: Q = Q("incr_join_merge",
    """WITH mc AS (SELECT (min(o_custkey) + max(o_custkey)) // 2 AS m FROM orders),
      |ml AS (SELECT (min(l_orderkey) + max(l_orderkey)) // 2 AS m FROM lineitem),
      |j AS (SELECT o.o_custkey AS c,
      |    CASE WHEN o.o_custkey < mc.m THEN 0 ELSE 1 END AS od,
      |    CASE WHEN l.l_orderkey < ml.m THEN 0 ELSE 1 END AS ld,
      |    l.l_extendedprice AS p
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  CROSS JOIN mc CROSS JOIN ml)
      |SELECT c AS custkey, count(*) AS n_items,
      |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) FILTER (WHERE od = 0 AND ld = 0) AS n_bb,
      |  count(*) FILTER (WHERE od = 0 AND ld = 1) AS n_bd,
      |  count(*) FILTER (WHERE od = 1 AND ld = 0) AS n_db,
      |  count(*) FILTER (WHERE od = 1 AND ld = 1) AS n_dd
      |FROM j GROUP BY c ORDER BY custkey""".stripMargin) { (s, dir) =>
    val orders = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"))
    def mid(df: DataFrame, c: String): Long = {
      val r = df.agg(min(col(c)).as("lo"), max(col(c)).as("hi")).head()
      val (lo, hi) = (Option(r.getAs[java.lang.Long]("lo")),
        Option(r.getAs[java.lang.Long]("hi")))
      // empty relation: the joins below are empty regardless — 0 is inert
      (for (l <- lo; h <- hi) yield Math.floorDiv(l + h, 2L)).getOrElse(0L)
    }
    val mc = mid(orders, "o_custkey")
    val ml = mid(li, "l_orderkey")
    val quads = Seq(
      ("bb", orders.filter(col("o_custkey") < mc), li.filter(col("l_orderkey") < ml)),
      ("bd", orders.filter(col("o_custkey") < mc), li.filter(col("l_orderkey") >= ml)),
      ("db", orders.filter(col("o_custkey") >= mc), li.filter(col("l_orderkey") < ml)),
      ("dd", orders.filter(col("o_custkey") >= mc), li.filter(col("l_orderkey") >= ml)))
    val partials = quads.map { case (tag, o, l) =>
      o.join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n"), sum(dec(col("l_extendedprice"))).as("rev"))
        .withColumn("tag", lit(tag))
    }.reduce(_ unionByName _)
    partials.groupBy(col("custkey"))
      .agg(sum(col("n")).as("n_items"),
        sum(col("rev")).cast("double").as("revenue"),
        coalesce(sum(when(col("tag") === "bb", col("n"))), lit(0L)).as("n_bb"),
        coalesce(sum(when(col("tag") === "bd", col("n"))), lit(0L)).as("n_bd"),
        coalesce(sum(when(col("tag") === "db", col("n"))), lit(0L)).as("n_db"),
        coalesce(sum(when(col("tag") === "dd", col("n"))), lit(0L)).as("n_dd"))
      .orderBy(col("custkey"))
  }

  val all: Seq[Q] = Seq(wins, fastestlap, fastestlapAgg, filterDistinct,
    weather, combine, unionAllSlices, stats, top10, evopoints, leaderGap,
    pitstop, orderByHidden, racetime, eventsWindow, eventsSegmentWindow,
    eventsJson, sessionize,
    eventsClickJoin, skewAgg, rollupAgg, cubeAgg, groupingSetsAgg,
    unpivotLong, pivotAgg, pivotDynamic, windowFuncs,
    setOps, existsQ, tableStats, eventsFunnel, eventsRetention,
    eventsTransitions, eventsAnomaly, eventsRolling, eventsResample,
    eventsGapLocf,
    eventsSequences, eventsActiveUsers, eventsForecast,
    winsorize, lateSuppliers, groupMedian, eventsConcurrency,
    eventsTopPaths, smallOrders, abLift, rfm, eventsAttribution, basketPairs,
    incrAgg, eventsDedup, eventsLateness, eventsCep, ordersPareto,
    sessionBuiltin, colHistogram, statsIncrMerge, incrJoinMerge)
}

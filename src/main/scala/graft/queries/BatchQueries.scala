package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.functions.{ExactAgg, PortableRound, TimeOps}
import graft.operators.{HourlyAgg, ModeAgg, OneHot, RollingWindow}
import graft.queries.Tables.t

/** The reference's batch/relational capability surface (SURVEY.md §2)
  * instantiated over the driver testdata, each with a DuckDB oracle.
  *
  * Column names are aliased identically in the Spark plan and the oracle
  * SQL (the driver's compare sorts columns by name before hashing).
  * Every query ends in a total ORDER BY over non-null keys so row order
  * is deterministic in both engines.
  */
object BatchQueries {

  /** A1 + O1: hourly multi-aggregate of `events.value`
    * (`batch_stock.py:76-85` shape). */
  private val q01 = Q(
    "q01_hourly_agg",
    (s, dir) => HourlyAgg.hourlyStats(t(s, dir, "events"), "ts", Seq("value"))
      .orderBy("date", "hour"),
    Some(s"""SELECT CAST(ts AS DATE) AS date, CAST(hour(ts) AS BIGINT) AS hour,
      count(*) AS n,
      ${ExactAgg.avg2Sql("value")} AS avg_value, ${ExactAgg.sum2Sql("value")} AS sum_value,
      ${PortableRound.sql2("min(value)")} AS min_value, ${PortableRound.sql2("max(value)")} AS max_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""".replaceAll("\\s+", " ")))

  /** A2 + A3 + J1: per-(date,hour) mode of event_type via argmax-struct,
    * joined back onto the hourly count (`batch_openweather.py:12-19,105`
    * shape; tie-break = max count then max value). */
  private val q02 = Q(
    "q02_mode_join",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("date", TimeOps.dateKey(col("ts")))
        .withColumn("hour", TimeOps.hourKey(col("ts")))
      val n = e.groupBy(col("date"), col("hour")).agg(count(lit(1)).as("n"))
      val m = ModeAgg.mode(e, Seq("date", "hour"), "event_type", "mode_event_type")
      n.join(m, Seq("date", "hour")).orderBy(asc("date"), asc("hour"))
    },
    Some("""WITH c AS (SELECT CAST(ts AS DATE) AS date, CAST(hour(ts) AS BIGINT) AS hour,
        event_type, count(*) AS cnt FROM events GROUP BY 1, 2, 3),
      m AS (SELECT date, hour, event_type AS mode_event_type FROM
        (SELECT date, hour, event_type,
          row_number() OVER (PARTITION BY date, hour ORDER BY cnt DESC, event_type DESC) AS rn
         FROM c) WHERE rn = 1),
      n AS (SELECT date, hour, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1, 2)
      SELECT n.date, n.hour, n.n, m.mode_event_type
      FROM n JOIN m USING (date, hour) ORDER BY 1, 2""".replaceAll("\\s+", " ")))

  /** §2.3 scalar surface: tz shift (`batch_stock.py:71`), −20 min skew
    * (`:72`), date/hour/dow/month keys, minute key, unix seconds. */
  private val q03 = Q(
    "q03_time_features",
    (s, dir) => {
      val local = TimeOps.skewCorrect(TimeOps.toLocal(col("ts"), "America/New_York"))
      t(s, dir, "events").select(
        col("event_id"),
        to_date(local).as("ny_date"),
        hour(local).cast("long").as("ny_hour"),
        TimeOps.dowKey(col("ts")).as("dow"),
        TimeOps.monthKey(col("ts")).as("month"),
        date_format(TimeOps.minuteKey(col("ts")), "yyyy-MM-dd HH:mm").as("minute_key"),
        TimeOps.unixSeconds(col("ts")).as("ts_unix")
      ).orderBy("event_id")
    },
    Some("""SELECT event_id,
      CAST(timezone('America/New_York', timezone('UTC', ts)) - INTERVAL 20 MINUTE AS DATE) AS ny_date,
      CAST(hour(timezone('America/New_York', timezone('UTC', ts)) - INTERVAL 20 MINUTE) AS BIGINT) AS ny_hour,
      CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
      CAST(month(ts) AS BIGINT) AS month,
      strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute_key,
      CAST(floor(epoch(ts)) AS BIGINT) AS ts_unix
      FROM events ORDER BY event_id""".replaceAll("\\s+", " ")))

  /** J1/J2/J3: the TPC-H key chain lineitem⋈orders⋈customer⋈nation⋈region
    * with small dims broadcast by Catalyst; grouped rounded revenue. */
  private val q04 = Q(
    "q04_join_chain",
    (s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_items"),
          ExactAgg.sum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("r_name", "n_name")
    },
    Some(s"""SELECT r_name, n_name, count(*) AS n_items,
      ${ExactAgg.sum2Sql("l_extendedprice * (1 - l_discount)")} AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2 ORDER BY 1, 2""".replaceAll("\\s+", " ")))

  /** A4 + P5: null-filtered conditional avg re-joined onto the base
    * aggregate (`batch_tomtom.py:94-100` shape). */
  private val q05 = Q(
    "q05_conditional_avg",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("disc_price", when(col("l_discount") > 0.04, col("l_extendedprice")))
      val base = li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(count(lit(1)).as("n"))
      val cond = HourlyAgg.conditionalAvg(
        li, Seq("l_returnflag", "l_linestatus"), "disc_price", "avg_disc_price")
      base.join(cond, Seq("l_returnflag", "l_linestatus"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(s"""WITH li AS (SELECT l_returnflag, l_linestatus,
        CASE WHEN l_discount > 0.04 THEN l_extendedprice END AS disc_price FROM lineitem),
      b AS (SELECT l_returnflag, l_linestatus, count(*) AS n FROM li GROUP BY 1, 2),
      c AS (SELECT l_returnflag, l_linestatus, ${ExactAgg.avg2Sql("disc_price")} AS avg_disc_price
        FROM li WHERE disc_price IS NOT NULL GROUP BY 1, 2)
      SELECT b.l_returnflag, b.l_linestatus, b.n, c.avg_disc_price
      FROM b JOIN c USING (l_returnflag, l_linestatus) ORDER BY 1, 2""".replaceAll("\\s+", " ")))

  /** A5: two-level rollup preserving avg-of-avgs semantics
    * (`batch_tomtom.py:114-117`): per-partkey avgs re-averaged per brand,
    * NOT weighted. */
  private val q06 = Q(
    "q06_avg_of_avgs",
    (s, dir) => {
      val joined = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      HourlyAgg.avgOfAvgs(joined, Seq("l_partkey"), Seq("p_brand"), "l_extendedprice")
        .orderBy("p_brand")
    },
    Some(s"""WITH f AS (SELECT p_brand, l_partkey, ${ExactAgg.avgExactSql("l_extendedprice")} AS fine_avg
        FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2)
      SELECT p_brand, count(*) AS n_groups,
      ${ExactAgg.avg2Sql("fine_avg")} AS avg_of_avg_l_extendedprice
      FROM f GROUP BY 1 ORDER BY 1""".replaceAll("\\s+", " ")))

  /** W1/W2: global forward 1-hour range window over unix seconds
    * (`ML_stock.py:161-171`, `ML_tomtom.py:175-181`). */
  private val q07 = Q(
    "q07_rolling_window",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("ts_unix", TimeOps.unixSeconds(col("ts")))
      RollingWindow.forwardGlobal(e, "ts_unix", 3600L, "sum" -> "value", "avg" -> "value")
        .select("event_id", "ts_unix", "sum_value_3600s", "avg_value_3600s")
        .orderBy("event_id")
    },
    Some(s"""WITH e AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_unix, value FROM events)
      SELECT event_id, ts_unix,
      ${PortableRound.sql2("CAST(sum(TRY_CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)")} AS sum_value_3600s,
      ${PortableRound.sql2("(CAST(sum(TRY_CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) / (count(value) OVER w))")} AS avg_value_3600s
      FROM e WINDOW w AS (ORDER BY ts_unix RANGE BETWEEN CURRENT ROW AND 3600 FOLLOWING)
      ORDER BY event_id""".replaceAll("\\s+", " ")))

  /** q07's 100 TB twin as a DECLARED query: the same forward 1-hour
    * rolling sum computed by the PARTITIONED scale path — rows bucket
    * by a 2-hour key, each row feeds the preceding bucket so frames
    * never cross a boundary unseen, and the window runs per-bucket
    * (shuffle on bucket + per-bucket sort; no single-task global sort).
    * The oracle computes the naive global window: same answer,
    * scalable plan — the q106 discipline applied to W1. */
  private val q134 = Q(
    "q134_rolling_partitioned",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("ts_unix", TimeOps.unixSeconds(col("ts")))
      RollingWindow.forwardPartitioned(
          e, "ts_unix", 3600L, "sum", "value", bucketSeconds = 7200L)
        .select("event_id", "ts_unix", "sum_value_3600s")
        .orderBy("event_id")
    },
    Some(s"""WITH e AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_unix, value FROM events)
      SELECT event_id, ts_unix,
      ${PortableRound.sql2("CAST(sum(TRY_CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)")} AS sum_value_3600s
      FROM e WINDOW w AS (ORDER BY ts_unix RANGE BETWEEN CURRENT ROW AND 3600 FOLLOWING)
      ORDER BY event_id""".replaceAll("\\s+", " ")))

  /** P8: conditional one-hot with residual class (`ML_stock.py:104-119`);
    * 5-LOW is deliberately unlisted to exercise the residual. */
  private val q08 = Q(
    "q08_one_hot",
    (s, dir) => {
      val classes = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED")
      OneHot.encode(t(s, dir, "orders"), "o_orderpriority", classes, "pri")
        .select("o_orderkey", "pri_1_urgent", "pri_2_high", "pri_3_medium",
          "pri_4_not_specified", "pri_other")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
      CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pri_1_urgent,
      CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS pri_2_high,
      CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END AS pri_3_medium,
      CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END AS pri_4_not_specified,
      CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED')
        THEN 0 ELSE 1 END AS pri_other
      FROM orders ORDER BY o_orderkey""".replaceAll("\\s+", " ")))

  /** O3: unionByName with missing columns (`batch_stock.py:35`): two
    * column-subset halves of orders re-unioned; absences become nulls. */
  private val q09 = Q(
    "q09_union_by_name",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val b = o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderpriority", "o_orderstatus")
      a.unionByName(b, allowMissingColumns = true).orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_totalprice, o_orderstatus, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, NULL, o_orderstatus, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
      ORDER BY o_orderkey""".replaceAll("\\s+", " ")))

  /** T2's batch analog: lenient JSON payload parse
    * (`stream_stock.py:46`, `from_json` over `events.props`). */
  private val q10 = Q(
    "q10_json_parse",
    (s, dir) => {
      val schema = new StructType().add("k", IntegerType)
      t(s, dir, "events").select(
        col("event_id"),
        from_json(col("props"), schema).getField("k").cast("long").as("k"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events ORDER BY event_id""".replaceAll("\\s+", " ")))

  /** J5 + J1: minute-grain aggregate joined back onto the raw rows
    * (`ML_stock.py:125,175` shape). */
  private val q11 = Q(
    "q11_minute_join",
    (s, dir) => {
      val e = t(s, dir, "events").withColumn("minute", TimeOps.minuteKey(col("ts")))
      val m = e.groupBy(col("minute")).agg(
        ExactAgg.avg2(col("value")).as("minute_avg"),
        count(lit(1)).as("minute_n"))
      e.join(m, Seq("minute"))
        .select(
          col("event_id"),
          date_format(col("minute"), "yyyy-MM-dd HH:mm").as("minute_key"),
          col("minute_avg"), col("minute_n"))
        .orderBy("event_id")
    },
    Some(s"""WITH e AS (SELECT event_id, date_trunc('minute', ts) AS minute, value FROM events),
      m AS (SELECT minute, ${ExactAgg.avg2Sql("value")} AS minute_avg, count(*) AS minute_n
        FROM e GROUP BY 1)
      SELECT e.event_id, strftime(e.minute, '%Y-%m-%d %H:%M') AS minute_key,
        m.minute_avg, m.minute_n
      FROM e JOIN m USING (minute) ORDER BY event_id""".replaceAll("\\s+", " ")))

  /** O4-adjacent: deterministic top-k via TakeOrderedAndProject (per-
    * partition heaps — no global sort at scale). */
  private val q12 = Q(
    "q12_topk",
    (s, dir) =>
      t(s, dir, "part")
        .select("p_partkey", "p_brand", "p_type", "p_retailprice")
        .orderBy(desc("p_retailprice"), asc("p_partkey"))
        .limit(20),
    Some("""SELECT p_partkey, p_brand, p_type, p_retailprice FROM part
      ORDER BY p_retailprice DESC, p_partkey LIMIT 20""".replaceAll("\\s+", " ")))

  /** Beyond-reference: exact distinct aggregation (Catalyst expand +
    * two-phase agg) — `count(DISTINCT ...)` per user. */
  private val q13 = Q(
    "q13_user_activity",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          ExactAgg.sum2(col("value")).as("sum_value"))
        .orderBy("user_id"),
    Some(s"""SELECT user_id, count(*) AS n_events,
      CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
      ${ExactAgg.sum2Sql("value")} AS sum_value
      FROM events GROUP BY 1 ORDER BY 1""".replaceAll("\\s+", " ")))

  /** S9/S10 row-key contract in-plan: `"{date}_{hour}"` (batch KV sink,
    * `batch_stock.py:120`) and `"%Y-%m-%d_%H-%M"` (streaming KV sink,
    * `stream_combined.py:233`) built with codegen'd concat/date_format —
    * the executor-side key construction that replaces the reference's
    * driver-side Python string formatting. */
  private val q14 = Q(
    "q14_kv_row_keys",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("date", TimeOps.dateKey(col("ts")))
        .withColumn("hour", TimeOps.hourKey(col("ts")))
      e.select(
        col("event_id"),
        graft.sinks.KvSink.dateHourKey(col("date"), col("hour")).as("batch_key"),
        graft.sinks.KvSink.minuteKey(col("ts")).as("stream_key"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
      strftime(CAST(ts AS DATE), '%Y-%m-%d') || '_' || CAST(hour(ts) AS VARCHAR) AS batch_key,
      strftime(ts, '%Y-%m-%d_%H-%M') AS stream_key
      FROM events ORDER BY event_id""".replaceAll("\\s+", " ")))

  /** As-of join (union + partitioned window, no range probe): for each
    * event, the latest 'click' of the same user at or before it. The
    * DuckDB oracle uses the native ASOF LEFT JOIN — independent
    * implementations of the same semantics. */
  private val q15 = Q(
    "q15_asof_join",
    (s, dir) => {
      val e = t(s, dir, "events")
      // max-aggregate enforces lastBefore's uniqueness precondition on
      // (user_id, ts) — without it, same-instant ties would resolve
      // arbitrarily in both engines (a flaky oracle)
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("value"))
      graft.operators.AsOfJoin.lastBefore(
        e.select("event_id", "user_id", "ts"), clicks,
        Seq("user_id"), "ts", Seq("value"))
        .select(col("event_id"), col("asof_value"))
        .orderBy("event_id")
    },
    Some("""SELECT e.event_id, c.value AS asof_value
      FROM events e ASOF LEFT JOIN
        (SELECT user_id, ts, max(value) AS value FROM events
         WHERE event_type = 'click' GROUP BY 1, 2) c
        ON e.user_id = c.user_id AND e.ts >= c.ts
      ORDER BY e.event_id""".replaceAll("\\s+", " ")))

  /** Gap-based sessionization: 30-minute inactivity closes a session;
    * two stacked windows over one (user, ts) sort. */
  private val q16 = Q(
    "q16_sessionize",
    (s, dir) => graft.operators.Sessionize
      .assign(t(s, dir, "events"), "user_id", "ts", "event_id", gapSeconds = 1800L)
      .select("event_id", "user_id", "session_id")
      .orderBy("event_id"),
    Some("""WITH x AS (SELECT event_id, user_id, ts,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT event_id, user_id,
        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
      FROM x ORDER BY event_id""".replaceAll("\\s+", " ")))

  /** Batch event-time range join (J6's batch analog): same-user event
    * pairs within ±60 s via the bucket/adjacent-bucket equi-join — no
    * per-key cross product, each pair found exactly once. */
  private val q17 = Q(
    "q17_range_join",
    (s, dir) => graft.operators.RangeJoin
      .selfWithinTolerance(t(s, dir, "events"), "user_id", "event_id", "ts", 60L)
      .select(col("k").as("user_id"), col("id_a"), col("id_b"))
      .orderBy("user_id", "id_a", "id_b"),
    Some("""SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
      FROM events a JOIN events b ON a.user_id = b.user_id
        AND a.event_id < b.event_id
        AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
      ORDER BY 1, 2, 3""".replaceAll("\\s+", " ")))

  /** Ranking window: per-group top-k (row_number over a deterministic
    * (value desc, id) order — ties broken by id so both engines agree).
    * Completes the window-function family beyond the reference's
    * range-frame windows. */
  private val q18 = Q(
    "q18_topk_per_group",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("rank_in_user", row_number().over(w).cast("long"))
        .filter(col("rank_in_user") <= 3)
        .select("user_id", "rank_in_user", "event_id", "value")
        .orderBy("user_id", "rank_in_user")
    },
    Some("""SELECT user_id, rank_in_user, event_id, value FROM (
        SELECT user_id, event_id, value,
          CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT)
            AS rank_in_user
        FROM events)
      WHERE rank_in_user <= 3 ORDER BY user_id, rank_in_user""".replaceAll("\\s+", " ")))

  /** Wide pivot aggregation: per-user event-type count matrix with a
    * FIXED value list (dynamic pivot needs a driver-side distinct pass;
    * pinning the classes keeps the plan one pass and the schema
    * deterministic — the right shape at scale and for oracles). */
  private val q33 = Q(
    "q33_pivot",
    (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .orderBy("user_id")
    },
    Some("""SELECT user_id,
      CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      FROM events GROUP BY 1 ORDER BY 1""".replaceAll("\\s+", " ")))

  val all: Seq[Q] =
    Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13, q14,
      q15, q16, q17, q18, q33, q134)
}

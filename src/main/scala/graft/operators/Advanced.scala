package graft.operators

import graft.{QueryDef, Tables}
import graft.OracleMath._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Temporal joins + advanced analytics (SURVEY.md §2.5): as-of join,
  * range join, time-bucketed rollups, exact percentiles, native
  * pivot/unpivot, systematic sampling, and array aggregation.
  *
  * The two temporal joins are the operators Spark famously lacks as
  * built-ins; both are expressed here as compositions that keep the
  * 100 TB shape: ONE shuffle by the entity key, no nested-loop joins.
  */
object Advanced {

  // -- q_asof_join: point-in-time join (purchases ← latest prior view) -----
  // The scalable as-of formulation: union both sides tagged, one shuffle
  // by (user), sort within partition by (time, side), and carry the last
  // right-side value forward with a running `last(ignoreNulls)` window.
  // No per-row probe, no nested loop — O(n log n) within each key, one
  // Exchange total. Ties are impossible ((user_id, ts) is unique in the
  // events table) but the (ts, side) sort makes `>=` semantics explicit:
  // a view at exactly the purchase timestamp matches.
  private def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // microseconds on both sides: DuckDB's parquet reader truncates
    // TIMESTAMP(NANOS) to micros, so micro arithmetic is the exact unit
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts_us", lit(0).as("side"), $"ts_us".as("view_ts_us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts_us", lit(1).as("side"),
        lit(null).cast("long").as("view_ts_us"))
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("asof_view_ts_us", last($"view_ts_us", ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_purchases"),
        count($"asof_view_ts_us").as("n_matched"),
        sum($"ts_us" - $"asof_view_ts_us").as("sum_gap_us"))
      .orderBy($"user_id")
  }
  // Oracle: the same semantics written as a correlated max per purchase
  // (DuckDB's ASOF JOIN would also work; the explicit form documents the
  // tie rule). Gap arithmetic is in integer microseconds — exact parity.
  private val qAsofJoinSql =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events
      |           WHERE event_type = 'purchase'),
      |     v AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events
      |           WHERE event_type = 'view'),
      |     m AS (SELECT p.user_id, p.ts_us,
      |             (SELECT MAX(v.ts_us) FROM v
      |              WHERE v.user_id = p.user_id AND v.ts_us <= p.ts_us) AS asof_ts_us
      |           FROM p)
      |SELECT user_id, COUNT(*) AS n_purchases,
      |  COUNT(asof_ts_us) AS n_matched,
      |  CAST(SUM(ts_us - asof_ts_us) AS BIGINT) AS sum_gap_us
      |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  // -- q_asof_tolerance: as-of join with a max-staleness bound --------------
  // pandas merge_asof(tolerance=...) / kdb wj within-window semantics:
  // the backward match only counts if it is RECENT ENOUGH (here: the
  // prior view within 2 hours of the purchase) — the form production
  // enrichment actually wants, where a quote/feature older than the
  // staleness bound is as good as missing. Identical single-shuffle
  // union+window shape as q_asof_join; the tolerance is one integer
  // predicate applied to the carried match, turning stale matches into
  // misses rather than filtering rows out (n_purchases is unchanged,
  // n_matched drops — the semantics that distinguish tolerance from a
  // post-hoc filter).
  private val AsofTolUs: Long = 2L * 3600 * 1000 * 1000 // 2 hours
  private def qAsofTolerance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts_us", lit(0).as("side"), $"ts_us".as("view_ts_us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts_us", lit(1).as("side"),
        lit(null).cast("long").as("view_ts_us"))
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("prev_v", last($"view_ts_us", ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .withColumn("asof_v",
        when($"ts_us" - $"prev_v" <= AsofTolUs, $"prev_v")) // stale ⇒ null
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_purchases"),
        count($"asof_v").as("n_matched"),
        sum($"ts_us" - $"asof_v").as("sum_gap_us"))
      .orderBy($"user_id")
  }
  private val qAsofToleranceSql =
    s"""WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events
       |           WHERE event_type = 'purchase'),
       |     v AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events
       |           WHERE event_type = 'view'),
       |     m AS (SELECT p.user_id, p.ts_us,
       |             (SELECT MAX(v.ts_us) FROM v
       |              WHERE v.user_id = p.user_id AND v.ts_us <= p.ts_us
       |                AND p.ts_us - v.ts_us <= $AsofTolUs) AS asof_ts_us
       |           FROM p)
       |SELECT user_id, COUNT(*) AS n_purchases,
       |  COUNT(asof_ts_us) AS n_matched,
       |  CAST(SUM(ts_us - asof_ts_us) AS BIGINT) AS sum_gap_us
       |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  // -- q_asof_nearest: bidirectional as-of (nearest event either way) ------
  // The "nearest" direction pandas/kdb expose beside backward/forward:
  // each purchase matches the view MINIMIZING |Δt|, ties to the earlier
  // view. Same single-shuffle union shape as q_asof_join, with BOTH a
  // running last() (backward) and a first() over the forward frame; the
  // (ts, side) sort puts an equal-timestamp view before the purchase,
  // so an exact-tie view is the backward match — making the tie rule
  // structural, not data-dependent. Still one Exchange total.
  private def qAsofNearest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts_us", lit(0).as("side"), $"ts_us".as("view_ts_us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts_us", lit(1).as("side"),
        lit(null).cast("long").as("view_ts_us"))
    val ord = Window.partitionBy($"user_id").orderBy($"ts_us", $"side")
    val wB = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    views.unionByName(purchases)
      .withColumn("prev_v", last($"view_ts_us", ignoreNulls = true).over(wB))
      .withColumn("next_v", first($"view_ts_us", ignoreNulls = true).over(wF))
      .filter($"side" === 1)
      .withColumn("near_v",
        when($"prev_v".isNull, $"next_v")
          .when($"next_v".isNull, $"prev_v")
          .when($"ts_us" - $"prev_v" <= $"next_v" - $"ts_us", $"prev_v")
          .otherwise($"next_v"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_purchases"),
        count($"near_v").as("n_matched"),
        sum(abs($"ts_us" - $"near_v")).as("sum_abs_gap_us"))
      .orderBy($"user_id")
  }
  private val qAsofNearestSql =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events
      |           WHERE event_type = 'purchase'),
      |     v AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events
      |           WHERE event_type = 'view'),
      |     m AS (SELECT p.user_id, p.ts_us,
      |             (SELECT v.ts_us FROM v WHERE v.user_id = p.user_id
      |              ORDER BY ABS(v.ts_us - p.ts_us), v.ts_us LIMIT 1) AS near_ts
      |           FROM p)
      |SELECT user_id, COUNT(*) AS n_purchases,
      |  COUNT(near_ts) AS n_matched,
      |  CAST(SUM(ABS(ts_us - near_ts)) AS BIGINT) AS sum_abs_gap_us
      |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  // -- q_asof_join_native: same semantics through the custom operator ------
  // The whole-operator extension path (graft.plans.AsofJoinPlan →
  // AsofJoinStrategy → AsofJoinExec): co-partitioned sorted merge, one
  // streaming pass, O(1) state per partition. Shares qAsofJoinSql's
  // oracle with the declarative union+window version — both must agree
  // with DuckDB, which pins the two implementations to each other.
  private def qAsofJoinNative(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val purchases = Tables.events(s, d).filter($"event_type" === "purchase")
      .select($"user_id", expr("ts_ns div 1000").as("ts_us"))
    val views = Tables.events(s, d).filter($"event_type" === "view")
      .select($"user_id".as("v_user"), expr("ts_ns div 1000").as("v_ts_us"))
    graft.plans.Asof.join(purchases, views, "user_id", "v_user", "ts_us", "v_ts_us")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_purchases"),
        count($"v_ts_us").as("n_matched"),
        sum($"ts_us" - $"v_ts_us").as("sum_gap_us"))
      .orderBy($"user_id")
  }

  // -- q_asof_join_sql: the native operator through its SQL TVF ------------
  // Same semantics + oracle a third time, reached the way a SQL-only
  // user would: `graft_asof_join('purchases','views',...)` table
  // function → AsofJoinByName → AsofJoinStrategy → AsofJoinExec. Pins
  // the SQL front-end to the DataFrame front-end to the oracle.
  private def qAsofJoinSqlTvf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    ev.filter($"event_type" === "purchase").select($"user_id", $"ts_us")
      .createOrReplaceTempView("graft_asof_purchases")
    ev.filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"ts_us".as("v_ts_us"))
      .createOrReplaceTempView("graft_asof_views")
    s.sql(
      """SELECT user_id, COUNT(*) AS n_purchases,
        |  COUNT(v_ts_us) AS n_matched,
        |  SUM(ts_us - v_ts_us) AS sum_gap_us
        |FROM graft_asof_join('graft_asof_purchases', 'graft_asof_views',
        |                     'user_id', 'v_user', 'ts_us', 'v_ts_us')
        |GROUP BY user_id ORDER BY user_id""".stripMargin)
  }

  // -- q_range_join: interval join (clicks within 1h before a purchase) ----
  // Range predicates alone plan as nested-loop joins; anchoring on the
  // entity equi-key makes it a hash join with the range as a residual
  // filter — the scalable pattern whenever a join key exists. (For pure
  // interval overlap with no key, bin both sides to interval-width
  // buckets and equi-join on bucket id.)
  private def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // micro precision on both sides (see qAsofJoin) so the window
    // boundary classifies identically in Spark and the oracle
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts_us".as("c_ts_us"), $"value".as("c_value"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts_us", $"event_id")
    val hourUs = 3600L * 1000 * 1000
    purchases.join(clicks, $"user_id" === $"c_user" &&
        $"c_ts_us" >= $"ts_us" - hourUs && $"c_ts_us" < $"ts_us")
      .groupBy($"user_id")
      .agg(countDistinct($"event_id").as("n_purchases_with_clicks"),
        count(lit(1)).as("n_click_pairs"),
        dsum($"c_value").as("sum_click_value"))
      .orderBy($"user_id")
  }
  private val qRangeJoinSql =
    s"""SELECT p.user_id,
       |  COUNT(DISTINCT p.event_id) AS n_purchases_with_clicks,
       |  COUNT(*) AS n_click_pairs,
       |  ${sqlSum("c.value")} AS sum_click_value
       |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
       |      WHERE event_type = 'purchase') p
       |JOIN (SELECT user_id, value, epoch_us(ts) AS ts_us FROM events
       |      WHERE event_type = 'click') c
       |  ON p.user_id = c.user_id
       | AND c.ts_us >= p.ts_us - 3600000000
       | AND c.ts_us < p.ts_us
       |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin

  // -- q_time_weighted_avg: TWAP over an irregular event series --------------
  // The average that respects TIME, not sample count, over irregularly
  // spaced observations (the finance TWAP / monitoring "average gauge
  // value" semantics): each event's value holds until the user's next
  // event, so TWA = Σ value·Δt / Σ Δt per user. Exactness: Δt is
  // integer nanoseconds from a lead() over the (ts_ns, event_id) TOTAL
  // order; value is quantized ONCE to integer micro-units (the
  // decimal(18,6) cast rounds the identical IEEE double identically on
  // both engines), so value·Δt and both sums are pure integer
  // arithmetic; the answer is the floored integer quotient twa_micro —
  // never a 128-bit-decimal→double cast, whose rounding DuckDB and the
  // JVM disagree on at the ulp. Division semantics match because value
  // ≥ 0 and Δt ≥ 0 in this corpus (floor = trunc). One window + one
  // groupBy on the same user partitioning; a user's last event weights
  // 0 by construction (no successor), single-event users drop out on
  // both engines.
  private def qTimeWeightedAvg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id", $"ts_ns",
        ($"value".cast("decimal(18,6)") * lit(1000000)).cast("decimal(20,0)")
          .as("vmic"))
      .withColumn("dur", lead($"ts_ns", 1).over(w) - $"ts_ns")
      .filter($"dur".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum($"dur").as("span_ns"),
        sum($"vmic" * $"dur".cast("decimal(18,0)")).as("vw6"))
      .select($"user_id", $"n_intervals", $"span_ns",
        when($"span_ns" > 0, expr("vw6 div span_ns"))
          .otherwise(lit(0L)).as("twa_micro"))
      .orderBy($"user_id")
  }
  private val qTimeWeightedAvgSql =
    """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vmic
      |  FROM events),
      |d AS (SELECT user_id, vmic,
      |    LEAD(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id)
      |      - ts_ns AS dur
      |  FROM ev),
      |g AS (SELECT user_id, COUNT(*) AS n_intervals, SUM(dur) AS span_ns,
      |    SUM(CAST(vmic AS HUGEINT) * CAST(dur AS HUGEINT)) AS vw6
      |  FROM d WHERE dur IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n_intervals, CAST(span_ns AS BIGINT) AS span_ns,
      |  CASE WHEN span_ns > 0
      |       THEN CAST(vw6 // CAST(span_ns AS HUGEINT) AS BIGINT)
      |       ELSE 0 END AS twa_micro
      |FROM g ORDER BY user_id""".stripMargin

  // -- q_time_bucket: calendar-bucketed rollup over event time -------------
  // -- q_weighted_sample: priority sampling + Horvitz-Thompson totals -------
  // The sampling scheme that preserves SUBSET SUMS (Duffield, Lund &
  // Thorup 2007): priority q_i = w_i/u_i with u_i uniform, keep the k
  // largest, τ = the (k+1)-th priority, and Σ max(w_i, τ) over the
  // sample is an UNBIASED estimator of the population total — heavy
  // items enter with certainty, light items proportionally, which
  // uniform row sampling gets badly wrong under skew. u_i here is the
  // deterministic md5 key ((mixKey+1)/2³²), so the sample is
  // reproducible and the oracle replays it; priorities are IEEE
  // divisions of identical doubles, ties impossible in practice.
  // Both top-k passes are TakeOrdered, never a global sort; the
  // below-k branch returns the exact total. Exact Σw rides along.
  // Rounding-boundary assumption (text_pmi's discipline, stated): τ and
  // the q_i are full-precision IEEE doubles, outside dsum's documented
  // lossless ≤6-decimal-digit domain, so the decimal(18,6) cast ROUNDS
  // greatest(w, τ) — parity relies on Spark and DuckDB rounding the
  // identical double→decimal at the 1e-6 boundary the same way (both
  // round-half-up on the same IEEE value; no engine-order drift enters
  // because the rounding happens per row BEFORE the exact decimal sum).
  private val PrioK = 50
  private def weightedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pr = Tables.documents(s, d)
      .select($"doc_id", $"n_chars".cast("double").as("w"))
      .withColumn("q", $"w" /
        ((Behavioral.mixKey($"doc_id") + 1).cast("double")
          / pow(lit(2.0), lit(32.0))))
    val tau = pr.orderBy($"q".desc, $"doc_id").limit(PrioK + 1)
      .agg(count(lit(1)).as("n_top"), min($"q").as("tau"))
    val top = pr.orderBy($"q".desc, $"doc_id").limit(PrioK)
    val ex = pr.agg(count(lit(1)).as("n_docs"),
      sum($"w".cast("decimal(18,6)")).cast("double").as("total_exact"))
    ex.crossJoin(broadcast(tau))
      .crossJoin(top.crossJoin(broadcast(tau))
        .agg(dsum(greatest($"w", $"tau")).as("est_raw")))
      .select($"n_docs", $"total_exact",
        when($"n_top" <= PrioK, $"total_exact").otherwise($"est_raw").as("est"),
        (when($"n_top" <= PrioK, $"total_exact").otherwise($"est_raw")
          - $"total_exact").as("err"))
  }
  private val weightedSampleSql = {
    val u = s"(CAST(${Behavioral.mixKeySql("doc_id")} + 1 AS DOUBLE) / power(2, 32))"
    s"""WITH pr AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
       |    CAST(n_chars AS DOUBLE) / $u AS q FROM documents),
       |tau AS (SELECT COUNT(*) AS n_top, MIN(q) AS tau FROM (
       |  SELECT q FROM pr ORDER BY q DESC, doc_id LIMIT ${PrioK + 1})),
       |top AS (SELECT w FROM pr ORDER BY q DESC, doc_id LIMIT $PrioK),
       |est AS (SELECT ${sqlSum("greatest(w, tau)")} AS est_raw
       |        FROM top CROSS JOIN tau),
       |ex AS (SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS total_exact
       |  FROM pr)
       |SELECT n_docs, total_exact,
       |  CASE WHEN n_top <= $PrioK THEN total_exact ELSE est_raw END AS est,
       |  CASE WHEN n_top <= $PrioK THEN total_exact ELSE est_raw END
       |    - total_exact AS err
       |FROM ex CROSS JOIN tau CROSS JOIN est""".stripMargin
  }

  // -- q_calendar_rollup: monthly revenue + year-over-year growth -----------
  // The calendar-aware twin of q_time_bucket (whose epoch buckets are
  // deliberately calendar-free): months have ragged lengths, so the
  // reporting layer banks on year()/month() extraction — identical
  // across engines under the UTC session — not epoch division. YoY is
  // a SELF-JOIN on (year−1, month), not a 12-row lag window: the join
  // keys the same (y, m) hash partitioning the rollup already produced
  // (AQE reuses the exchange), works with calendar gaps (a missing
  // month yields NULL growth instead of mis-lagging), and needs no
  // ordered window at all. Revenue rides the decimal pre-sum; growth
  // is one division of two such exact sums.
  private def calendarRollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val monthly = Tables.orders(s, d)
      .groupBy(year($"o_orderdate").as("y"), month($"o_orderdate").as("m"))
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
    monthly.as("cur")
      .join(monthly.as("prev"),
        $"cur.y" === $"prev.y" + 1 && $"cur.m" === $"prev.m", "left")
      .select($"cur.y".as("y"), $"cur.m".as("m"),
        $"cur.n_orders".as("n_orders"), $"cur.revenue".as("revenue"),
        ($"cur.revenue" / $"prev.revenue" - 1.0).as("yoy_growth"))
      .orderBy($"y", $"m")
  }
  private val calendarRollupSql =
    s"""WITH monthly AS (
       |  SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
       |    CAST(month(o_orderdate) AS INTEGER) AS m,
       |    COUNT(*) AS n_orders, ${sqlSum("o_totalprice")} AS revenue
       |  FROM orders GROUP BY 1, 2)
       |SELECT cur.y, cur.m, cur.n_orders, cur.revenue,
       |  cur.revenue / prev.revenue - 1.0 AS yoy_growth
       |FROM monthly cur LEFT JOIN monthly prev
       |  ON cur.y = prev.y + 1 AND cur.m = prev.m
       |ORDER BY cur.y, cur.m""".stripMargin

  private def qTimeBucket(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(date_trunc("day", $"ts").cast("date").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"day", $"event_type")
  }
  private val qTimeBucketSql =
    s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       |  COUNT(*) AS n, ${sqlSum("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  // -- q_concurrency: sweep-line peak-occupancy over intervals -------------
  // The interval-overlap aggregation behind "how many X were active at
  // once" (concurrent sessions, in-flight orders, room occupancy): each
  // order is open from its order date through its LAST line-item ship
  // date, and the answer per day is the number of open intervals. The
  // classic sweep line as pure relational algebra: every interval emits
  // +1 at open and −1 at close+1, one groupBy collapses the deltas to
  // the DAY table, and a cumulative sum over that table is the
  // occupancy. Scale shape: the per-order span is one narrow
  // groupBy+join on the order key; the only ordered window runs over
  // the DELTA-DAY table, which is bounded by the calendar span (a few
  // thousand rows at any corpus size), never over the fact table.
  private def qConcurrency(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // both join sides are corpus-proportional — shuffle-hash, never
    // broadcast; both deltas emit from ONE pass over the joined spans
    val spans = Tables.lineitem(s, d)
      .groupBy($"l_orderkey").agg(max(to_date($"l_shipdate")).as("last_ship"))
      .hint("shuffle_hash")
      .join(Tables.orders(s, d)
        .select($"o_orderkey", to_date($"o_orderdate").as("open_day")),
        $"l_orderkey" === $"o_orderkey")
    val deltas = spans.select(explode(array(
        struct($"open_day".as("day"), lit(1L).as("delta")),
        struct(date_add($"last_ship", 1).as("day"), lit(-1L).as("delta"))))
        .as("e"))
      .select($"e.day", $"e.delta")
    deltas.groupBy($"day").agg(sum($"delta").as("d"))
      .withColumn("n_open", sum($"d").over(Window.orderBy($"day")))
      .select($"day", $"n_open")
      .orderBy($"day")
  }
  private val qConcurrencySql =
    """WITH sp AS (SELECT o.o_orderkey,
      |    CAST(o.o_orderdate AS DATE) AS open_day,
      |    MAX(CAST(l.l_shipdate AS DATE)) AS last_ship
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2),
      |del AS (SELECT open_day AS day, 1 AS delta FROM sp
      |        UNION ALL SELECT last_ship + 1, -1 FROM sp),
      |daily AS (SELECT day, SUM(delta) AS d FROM del GROUP BY day)
      |SELECT day, CAST(SUM(d) OVER (ORDER BY day) AS BIGINT) AS n_open
      |FROM daily ORDER BY day""".stripMargin

  // -- q_percentile: exact distributed quantiles ---------------------------
  // Exact per-group quantiles — semantics pinned on both engines (value
  // at ceil(q*n) of the (price, orderkey, linenumber) total order), no
  // interpolation-formula drift. At 100 TB the same report runs on
  // approx_percentile sketches; this is the exact gate.
  //
  // r18 shape: the former rank window partitioned the WHOLE table by
  // l_returnflag — 3 partitions total, so the full-row sort ran in 3
  // tasks at any cluster size (the r17 verdict's #1 anti-scaler). The
  // window now partitions by (group, 1024-cent price bucket) — ~27k
  // balanced partition keys instead of 3 giant ones — and the global
  // rank is reconstructed as bucket_start + within-bucket row_number,
  // where the per-bucket start offsets come from a broadcast side
  // table bounded by groups × (price range / $10.24) ≈ 31k rows at
  // ANY scale (value-domain-bounded, not data-bounded). One data-sized
  // shuffle (by (g,b)) with small sorts, same as before minus the
  // giant-partition sort; no checkpoint, no second data pass.
  // Value-identical because the bucket id floor(price·100+0.5) >> 10
  // is monotone in price (2dp doubles → exact cents), so global
  // (price, …) order is (bucket, within-bucket price order); ties in
  // price share a bucket and the value at rank k never depends on the
  // tie-break columns; k = ceil(n·q) is the same double multiply and
  // ceil as the pre-r18 rank predicate.
  private def qPercentile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.lineitem(s, d)
      .select($"l_returnflag".as("g"), $"l_extendedprice".as("x"))
      .withColumn("b", expr("shiftright(CAST(floor(x * 100 + 0.5) AS BIGINT), 10)"))
    val off = base.groupBy($"g", $"b").agg(count(lit(1)).as("c"))
      .withColumn("start",
        sum($"c").over(Window.partitionBy($"g").orderBy($"b")) - $"c")
      .withColumn("n", sum($"c").over(Window.partitionBy($"g")))
      .select($"g", $"b", $"start", $"n")
    val wIn = Window.partitionBy($"g", $"b").orderBy($"x")
    base
      .withColumn("rn", row_number().over(wIn))
      .join(broadcast(off), Seq("g", "b")) // attach offsets AFTER the sort
      .groupBy($"g")
      .agg(
        max(when($"rn" + $"start" <= ceil($"n" * 0.5), $"x")).as("p50"),
        max(when($"rn" + $"start" <= ceil($"n" * 0.95), $"x")).as("p95"),
        max(when($"rn" + $"start" <= ceil($"n" * 0.99), $"x")).as("p99"))
      .select($"g".as("l_returnflag"), $"p50", $"p95", $"p99")
      .orderBy($"l_returnflag")
  }
  private val qPercentileSql =
    """WITH r AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  MAX(CASE WHEN rn <= CEIL(n * 0.5) THEN l_extendedprice END) AS p50,
      |  MAX(CASE WHEN rn <= CEIL(n * 0.95) THEN l_extendedprice END) AS p95,
      |  MAX(CASE WHEN rn <= CEIL(n * 0.99) THEN l_extendedprice END) AS p99
      |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- q_percentile_weighted: exact weighted quantiles ----------------------
  // The quantile that respects MASS, not row count: the price below
  // which q% of shipped QUANTITY sits (revenue-weighted SLAs, token-
  // weighted length cutoffs). Weighted quantile at q = the smallest
  // value whose inclusive cumulative weight reaches q·W. Exactness:
  // weights are 10⁻²-scaled integer units summed exactly, the reach
  // predicate is the integer cross-multiplication cum·100 ≥ pct·W (no
  // q·W float), and ties collapse BEFORE the window — the cumulative
  // runs over the per-group DISTINCT-value table (strictly smaller
  // than the rows qPercentile ranks), partitioned by group.
  // r18 shape: same (group, bucket) window re-partitioning as
  // qPercentile, on WEIGHT instead of row count. The former shape ran
  // TWO data-sized shuffles — groupBy(g, price) collapse (measured 594k
  // of 600k rows at sf0.1: prices nearly unique, the collapse bought
  // nothing) then a 3-task cumulative window. Now ONE shuffle by
  // (g, 1024-cent bucket): the default RANGE window frame gives every
  // tie row the inclusive cumulative weight of its whole tie group —
  // exactly the collapsed per-price cumulative — so the explicit
  // collapse is gone, and the per-bucket weight offsets ride in on the
  // same broadcast side table as qPercentile (cum·100 ≥ tot·pct stays
  // exact long arithmetic; min-crossing x is tie-insensitive).
  private def qPercentileWeighted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.lineitem(s, d)
      .select($"l_returnflag".as("g"), $"l_extendedprice".as("x"),
        ($"l_quantity".cast("decimal(18,2)") * 100).cast("long").as("wq"))
      .withColumn("b", expr("shiftright(CAST(floor(x * 100 + 0.5) AS BIGINT), 10)"))
    val off = base.groupBy($"g", $"b").agg(sum($"wq").as("c"))
      .withColumn("start",
        sum($"c").over(Window.partitionBy($"g").orderBy($"b")) - $"c")
      .withColumn("tot", sum($"c").over(Window.partitionBy($"g")))
      .select($"g", $"b", $"start", $"tot")
    // default RANGE frame: ties in x share the inclusive cumulative
    val wIn = Window.partitionBy($"g", $"b").orderBy($"x")
    base
      .withColumn("cw", sum($"wq").over(wIn))
      .join(broadcast(off), Seq("g", "b")) // attach offsets AFTER the sort
      .withColumn("cum", $"start" + $"cw")
      .groupBy($"g")
      .agg(
        min(when($"cum" * 100 >= $"tot" * 50, $"x")).as("p50"),
        min(when($"cum" * 100 >= $"tot" * 95, $"x")).as("p95"),
        min(when($"cum" * 100 >= $"tot" * 99, $"x")).as("p99"),
        expr("max(tot) div 100").as("total_qty"))
      .select($"g".as("l_returnflag"), $"p50", $"p95", $"p99", $"total_qty")
      .orderBy($"l_returnflag")
  }
  private val qPercentileWeightedSql =
    """WITH v AS (SELECT l_returnflag, l_extendedprice,
      |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, l_extendedprice,
      |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
      |      AS cum,
      |    SUM(w) OVER (PARTITION BY l_returnflag) AS tot FROM v)
      |SELECT l_returnflag,
      |  MIN(CASE WHEN cum * 100 >= tot * 50 THEN l_extendedprice END) AS p50,
      |  MIN(CASE WHEN cum * 100 >= tot * 95 THEN l_extendedprice END) AS p95,
      |  MIN(CASE WHEN cum * 100 >= tot * 99 THEN l_extendedprice END) AS p99,
      |  CAST(MAX(tot) // 100 AS BIGINT) AS total_qty
      |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- q_quantile_sketch: deterministic quantile digest (the 100 TB path) ---
  // Sketch quantiles with fixed-size state and map-side partials — the
  // same scale story as HLL for count-distinct. Re-expressed in r9 as a
  // DETERMINISTIC Q-digest (Shrivastava et al. 2004 placement rule)
  // whose every step both engines replay exactly, graduating the query
  // from rows-only to a value oracle:
  //  - domain: prices as integer cents in a 2^26 universe (dyadic tree
  //    of 27 levels), so every node boundary is integer arithmetic;
  //  - subtree counts at all levels from ONE explode+groupBy pass
  //    (level-wise counts are independent — no iterative compression);
  //  - placement: each value's count moves to its SHALLOWEST ancestor
  //    whose whole subtree holds ≤ T = max(1, n/2048) rows (heavy
  //    values stay at their leaf) — digest size O(K) nodes, rank error
  //    ≤ levels·n/K ≈ 1.3%. Computed in FRONTIER form: the placed
  //    nodes are exactly the MAXIMAL light nodes (light, parent heavy
  //    or absent), each carrying its whole subtree count, plus heavy
  //    leaves — an adjacent-level self-join on the compact subtree
  //    table instead of a values×levels placement join (10.9 s → 2 s
  //    at sf0.1);
  //  - query: nodes ordered by (upper bound, level); the quantile is
  //    the first node where the cumulative count crosses ceil(q·n).
  //  Counts are conserved (each value placed exactly once), all
  //  arithmetic is integer until one final /100.0, and every ORDER
  //  has a total tie-break — so the DuckDB replay is value-exact.
  //  The digest table (g, level, node, count) is mergeable state:
  //  shard merge = sum counts + re-place, the Q-digest merge rule.
  // 4-ary tree (2 bits per level): half the binary tree's explode
  // fan-out for ≤ 3 straddling nodes per level — error ≤ 14·3·T,
  // ~2% of rank at K = 2048, well inside the 5% spec bound
  private[graft] val QdLevels = 26 // universe 2^26 cents ≈ $670k upper bound
  private[graft] val QdStep = 2    // bits per tree level (arity 4)
  private val QdK = 2048L          // compression target: T = max(1, n/K)

  /** The message [[qdKeyByte]] raises outside the packed key's domain. */
  private[graft] val QdDomainError =
    s"q_quantile_sketch: packed key needs a one-char group (code 1-255) and 0 <= cents < 2^$QdLevels"
  /** Q-digest packed-key group byte `ascii(g)`, or a raised error
    * unless `g` is one char with code 1-255 and `0 <= v < 2^QdLevels`. */
  private def qdKeyByte: Column = expr(
    s"""CASE WHEN g IS NOT NULL AND length(g) = 1 AND ascii(g) BETWEEN 1 AND 255
       |  AND v >= 0 AND v < ${1L << QdLevels} THEN ascii(g)
       |  ELSE raise_error('$QdDomainError') END""".stripMargin)

  private def qQuantileSketch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE aggregation builds the whole subtree table: explode every
    // (row, ancestor-level) pair map-side and groupBy (g, l, node)
    // directly — the former two-stage shape (per-value counts, then
    // per-node sums) spent its time merging ~distinct-values partials
    // on the few reducers AQE's byte-based coalescing allotted
    // (measured 1.6 s on 4 tasks with 28 cores idle); fusing pushes
    // the work into ONE map-side-combined shuffle where higher tree
    // levels combine hard. The explicit repartition sizes the
    // fan-out-14 explode stage by CPU, not input bytes (one local
    // parquet file = one split — the mediaTable rule); n per group
    // falls out of the ROOT level (every cent value < 2^26, so the
    // root node is 0 and its count is n) instead of a second pass.
    // the (g, l, node) aggregation key packs into ONE long — node < 2^26
    // (the declared universe), l ≤ 26 (5 bits), g is TPC-H CHAR(1) so its
    // single ASCII code point (8 bits) round-trips via char(). A single
    // long key halves the hash/compare/shuffle-key bytes of the two
    // aggregation stages that dominate this query (the 8.4M-row explode
    // partial agg and the 2.2M-group final agg). The key FAILS CLOSED
    // outside that domain (a multi-char, non-Latin-1, empty or null
    // group, or a price outside [0, 2^26) cents would otherwise mis-key
    // or drop groups silently): one raise_error in the same projection.
    val lv = Tables.lineitem(s, d)
      .select($"l_returnflag".as("g"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("v"))
      .repartition(s.sparkContext.defaultParallelism, $"g", $"v")
      .select(qdKeyByte.as("a"), $"v",
        explode(expr(s"sequence(0, $QdLevels, $QdStep)")).as("l"))
      .select(expr("shiftleft(shiftright(v, l), 13) + shiftleft(l, 8) + a").as("pk"))
    val sub0 = lv.groupBy($"pk").agg(count(lit(1)).as("sc"))
      .select(expr("char(pk % 256)").as("g"),
        expr("CAST(shiftright(pk, 8) % 32 AS INT)").as("l"),
        expr("shiftright(pk, 13)").as("node"), $"sc")
    // per-group totals straight off the base table: every value lands in
    // exactly one root node, so this equals the root-level sum — without
    // re-running the explode pipeline just to read 3 rows back out
    val nTot = Tables.lineitem(s, d)
      .groupBy($"l_returnflag".as("ng")).agg(count(lit(1)).as("n"))
    qdigestQuantiles(sub0, "l_returnflag", Some(nTot))
  }

  /** Q-digest epilogue shared by the batch sketch and its streaming
    * twin: from the MERGEABLE (g, l, node, sc) subtree-count state —
    * counts are order-insensitive sums, so a drained complete-mode
    * stream state is bit-identical to the batch aggregate — to
    * per-group p50/p95/p99. Any drift between the twins is a compile
    * error, not a test failure (the rollingActivesFrom rule). */
  private[graft] def qdigestQuantiles(sub0: DataFrame, gOut: String,
      nTotOpt: Option[DataFrame] = None): DataFrame = {
    val s = sub0.sparkSession
    import s.implicits._
    // alias-break the totals side: the state frame and its aggregate
    // share attribute ids (visible when the input is a memory-sink
    // table), so the join keys must be fresh attributes.
    // Callers whose sub0 is an expensive subplan (the batch explode
    // pipeline) pass the per-group totals precomputed as (ng, n) —
    // deriving them from sub0's root level is value-identical (each
    // value lands in exactly one root node) but re-executes the whole
    // subtree aggregation just to read |groups| rows back out.
    val nTot = nTotOpt.getOrElse(sub0.filter($"l" === QdLevels)
      .groupBy($"g").agg(sum($"sc").as("n"))
      .select($"g".as("ng"), $"n"))
    // Parent heaviness from a SIBLING-SUM window, not a self-join (r18):
    // the subtree table is complete over present values, so a parent's
    // count at level l+step equals the sum of its (≤ 2^step) present
    // children's counts at level l — one window partitioned by the
    // sibling group (g, l, node >> step) yields every node's parent
    // count in the same pass, and a single filter selects the digest:
    // maximal light nodes (light, parent heavy — or absent: the root
    // has none, and a missing parent row can only be the root since
    // every present node's ancestors are present) plus heavy leaves.
    // The former shape materialized sub with localCheckpoint (an eager
    // job) and scanned it three times through a semi-join + union —
    // one job, three scans and two exchanges more than this one.
    val wSib = Window.partitionBy($"g", $"l", expr(s"shiftright(node, $QdStep)"))
    val digest = sub0
      .join(broadcast(nTot), $"g" === $"ng").drop("ng")
      .withColumn("t", greatest(lit(1L), expr(s"n div $QdK")))
      // the explicit count pins the window's exchange: AQE's byte-based
      // coalescing reads the compact (few-longs-per-row) subtree frame
      // as one-partition small and would serialize the sibling sort
      .repartition(s.sparkContext.defaultParallelism,
        $"g", $"l", expr(s"shiftright(node, $QdStep)"))
      .withColumn("psc", sum($"sc").over(wSib))
      .filter(($"sc" <= $"t" && ($"l" === QdLevels || $"psc" > $"t")) ||
        ($"l" === 0 && $"sc" > $"t"))
      .select($"g", $"l".as("lvl"), $"node".as("pnode"), $"sc".as("dc"), $"n")
      .withColumn("ub", expr("shiftleft(pnode + 1, lvl) - 1"))
    val wCum = Window.partitionBy($"g").orderBy($"ub", $"lvl", $"pnode")
    // n rides each digest row (per-group constant) instead of a second
    // broadcast(nTot) join, whose build side re-ran sub0's whole plan
    digest
      .withColumn("cum", sum($"dc").over(wCum))
      .groupBy($"g")
      .agg(
        (min(when($"cum" >= ceil(lit(0.5) * $"n"), $"ub")) / 100.0).as("p50"),
        (min(when($"cum" >= ceil(lit(0.95) * $"n"), $"ub")) / 100.0).as("p95"),
        (min(when($"cum" >= ceil(lit(0.99) * $"n"), $"ub")) / 100.0).as("p99"))
      .select($"g".as(gOut), $"p50", $"p95", $"p99")
      .orderBy(col(gOut))
  }
  // -- q_sketch_error: accuracy monitor for the quantile digest --------------
  // The monitor-per-sketch rule applied to quantiles (ANN has recall +
  // nDCG, MinHash-LSH has candidate recall, CMS its overcount row):
  // per (group, quantile), the exact rank-window answer beside the
  // Q-digest answer and the relative error in ppm — the row a pipeline
  // alerts on before trusting sketch quantiles for SLAs. Both ends are
  // integer cents divided by 100, so the cent values reconstruct
  // exactly (round on an exact .0 double — rounding mode irrelevant)
  // and the error is a floored integer quotient. Runs both existing
  // legs as subplans: the exact leg is the declared full-rank baseline,
  // the sketch leg the 100 TB path being scored.
  private def qSketchError(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def unp(df: DataFrame, out: String): DataFrame =
      df.select($"l_returnflag", explode(array(
          struct(lit("p50").as("q"), $"p50".as(out)),
          struct(lit("p95").as("q"), $"p95".as(out)),
          struct(lit("p99").as("q"), $"p99".as(out)))).as("e"))
        .select($"l_returnflag", $"e.q".as("q"), col(s"e.$out").as(out))
    unp(qPercentile(s, d), "exact_v")
      .join(unp(qQuantileSketch(s, d), "sketch_v"), Seq("l_returnflag", "q"))
      .select($"l_returnflag", $"q", $"exact_v", $"sketch_v",
        expr("(abs(cast(round(sketch_v * 100) as bigint)" +
          " - cast(round(exact_v * 100) as bigint)) * 1000000)" +
          " div cast(round(exact_v * 100) as bigint)").as("err_ppm"))
      .orderBy($"l_returnflag", $"q")
  }

  /** The full Q-digest oracle for any (table, group col, cent expr) —
    * shared with the streaming twin's oracle. */
  private[graft] def qdigestSql(src: String, gcol: String, vexpr: String,
      out: String): String =
    s"""WITH vc AS (SELECT $gcol AS g,
       |    CAST($vexpr AS BIGINT) AS v, COUNT(*) AS c
       |  FROM $src GROUP BY 1, 2),
       |nt AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM vc GROUP BY g),
       |lv AS (SELECT g, v, c, t.l, v >> CAST(t.l AS INTEGER) AS node
       |  FROM vc, unnest(range(0, ${QdLevels + 1}, $QdStep)) t(l)),
       |sub AS (SELECT g, l, node, CAST(SUM(c) AS BIGINT) AS sc
       |  FROM lv GROUP BY g, l, node),
       |subt AS (SELECT sub.g, sub.l, sub.node, sub.sc,
       |    GREATEST(1, nt.n // $QdK) AS t
       |  FROM sub JOIN nt ON nt.g = sub.g),
       |frontier AS (SELECT s.g, s.l AS lvl, s.node AS pnode, s.sc AS dc
       |  FROM subt s
       |  WHERE s.sc <= s.t AND (s.l = $QdLevels OR EXISTS (
       |    SELECT 1 FROM subt p WHERE p.g = s.g AND p.l = s.l + $QdStep
       |      AND p.node = s.node >> $QdStep AND p.sc > p.t))),
       |heavy0 AS (SELECT g, CAST(0 AS BIGINT) AS lvl, node AS pnode, sc AS dc
       |  FROM subt WHERE l = 0 AND sc > t),
       |digest AS (SELECT * FROM frontier UNION ALL SELECT * FROM heavy0),
       |cums AS (SELECT g, lvl, pnode,
       |    ((pnode + 1) << CAST(lvl AS INTEGER)) - 1 AS ub, dc,
       |    SUM(dc) OVER (PARTITION BY g ORDER BY
       |      ((pnode + 1) << CAST(lvl AS INTEGER)) - 1, lvl, pnode) AS cum
       |  FROM digest)
       |SELECT g AS $out,
       |  MIN(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * n) THEN ub END) / 100.0 AS p50,
       |  MIN(CASE WHEN cum >= ceil(CAST(0.95 AS DOUBLE) * n) THEN ub END) / 100.0 AS p95,
       |  MIN(CASE WHEN cum >= ceil(CAST(0.99 AS DOUBLE) * n) THEN ub END) / 100.0 AS p99
       |FROM cums JOIN nt USING (g)
       |GROUP BY g ORDER BY $out""".stripMargin

  private val qQuantileSketchSql = qdigestSql("lineitem", "l_returnflag",
    "floor(l_extendedprice * 100 + 0.5)", "l_returnflag")

  private val qSketchErrorSql =
    s"""WITH ex AS (SELECT * FROM ($qPercentileSql)),
       |sk AS (SELECT * FROM ($qQuantileSketchSql)),
       |exl AS (SELECT l_returnflag, 'p50' AS q, p50 AS exact_v FROM ex
       |  UNION ALL SELECT l_returnflag, 'p95', p95 FROM ex
       |  UNION ALL SELECT l_returnflag, 'p99', p99 FROM ex),
       |skl AS (SELECT l_returnflag, 'p50' AS q, p50 AS sketch_v FROM sk
       |  UNION ALL SELECT l_returnflag, 'p95', p95 FROM sk
       |  UNION ALL SELECT l_returnflag, 'p99', p99 FROM sk)
       |SELECT exl.l_returnflag, exl.q, exact_v, sketch_v,
       |  (ABS(CAST(round(sketch_v * 100) AS BIGINT)
       |     - CAST(round(exact_v * 100) AS BIGINT)) * 1000000)
       |    // CAST(round(exact_v * 100) AS BIGINT) AS err_ppm
       |FROM exl JOIN skl ON skl.l_returnflag = exl.l_returnflag
       |  AND skl.q = exl.q
       |ORDER BY exl.l_returnflag, exl.q""".stripMargin

  // -- q_pivot_native: DataFrame pivot API (values pinned → single pass) ---
  // Pinning the pivot values skips the extra distinct-collect job and
  // keeps the plan a one-pass pivot aggregation.
  private def qPivotNative(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_linestatus")
      .pivot("l_returnflag", Seq("R", "A", "N"))
      .agg(dsum($"l_quantity"))
      .withColumnsRenamed(Map("R" -> "qty_r", "A" -> "qty_a", "N" -> "qty_n"))
      .orderBy($"l_linestatus")
  }
  private val qPivotNativeSql =
    s"""SELECT l_linestatus,
       |  ${sqlSum("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS qty_r,
       |  ${sqlSum("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS qty_a,
       |  ${sqlSum("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS qty_n
       |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // -- q_unpivot: wide → long (melt) ---------------------------------------
  private def qUnpivot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wide = Tables.lineitem(s, d)
      .groupBy($"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_price"),
        dsum($"l_discount").as("sum_disc"))
    wide.unpivot(
        ids = Array($"l_linestatus"),
        values = Array($"sum_qty", $"sum_price", $"sum_disc"),
        variableColumnName = "metric",
        valueColumnName = "value")
      .orderBy($"l_linestatus", $"metric")
  }
  private val qUnpivotSql =
    s"""WITH wide AS (
       |  SELECT l_linestatus,
       |    ${sqlSum("l_quantity")} AS sum_qty,
       |    ${sqlSum("l_extendedprice")} AS sum_price,
       |    ${sqlSum("l_discount")} AS sum_disc
       |  FROM lineitem GROUP BY l_linestatus)
       |SELECT l_linestatus, metric, value FROM (
       |  SELECT l_linestatus, 'sum_qty' AS metric, sum_qty AS value FROM wide
       |  UNION ALL
       |  SELECT l_linestatus, 'sum_price', sum_price FROM wide
       |  UNION ALL
       |  SELECT l_linestatus, 'sum_disc', sum_disc FROM wide)
       |ORDER BY l_linestatus, metric""".stripMargin

  // -- q_sample_systematic: deterministic key-systematic sampling ----------
  // Reproducible cross-engine sampling (unlike TABLESAMPLE/rand seeds):
  // take keys in a fixed residue window. Embarrassingly parallel —
  // evaluated at the scan, no shuffle added before the aggregation.
  private def qSampleSystematic(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter(pmod($"l_orderkey", lit(97L)) < 5)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_sampled"), davg($"l_extendedprice").as("avg_price"))
      .orderBy($"l_returnflag")
  }
  private val qSampleSystematicSql =
    s"""SELECT l_returnflag, COUNT(*) AS n_sampled,
       |  ${sqlAvg("l_extendedprice")} AS avg_price
       |FROM lineitem WHERE l_orderkey % 97 < 5
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- q_stratified_sample: exact per-class sampling -----------------------
  // Class-balanced training-data selection: exactly K rows per class,
  // chosen by a deterministic multiplicative hash (engine-reproducible,
  // unlike rand(seed)). Exact-K needs a per-class rank (one shuffle on
  // the class key); when expected-size is enough at 100 TB, drop the
  // window and filter on `h < p * 2^32` — a pure scan like
  // q_sample_systematic, no shuffle at all.
  private def qStratifiedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h = ($"l_orderkey" * 7 + $"l_linenumber") * 2654435761L % 4294967296L
    // (h, orderkey, linenumber) is NOT total: the testdata carries
    // duplicate (orderkey, linenumber) rows that differ in price/disc,
    // and at the rn = K boundary each engine would cut a different
    // physical row from the tie (caught by the sf0.1 sweep — the sf0.01
    // gate never lands a duplicate on the boundary). Extending the
    // order to every aggregated column makes remaining ties
    // interchangeable: rows equal on ALL ordered columns contribute
    // identical values, so the cut is value-deterministic.
    val w = Window.partitionBy($"l_returnflag")
      .orderBy(h.as("h"), $"l_orderkey", $"l_linenumber",
        $"l_extendedprice", $"l_discount")
    // WindowGroupLimit's partial top-K phase runs on the SCAN's
    // partitioning — one local parquet file = a handful of splits, so
    // each partial task sorted a third of the table; spreading the
    // rows first sizes the partial sort by CPU (the mediaTable rule)
    // and each task then emits at most K rows per class. GATED on the
    // scan actually being under-split (r17 verdict #5): on a
    // well-split input (any real table at cluster scale) the
    // repartition would be a pure extra full-table exchange, so it
    // must be a no-op there — the plan is unchanged whenever the scan
    // already carries >= defaultParallelism splits.
    val scan = Tables.lineitem(s, d)
    val spread =
      if (scan.rdd.getNumPartitions < s.sparkContext.defaultParallelism)
        scan.repartition(s.sparkContext.defaultParallelism)
      else scan
    spread
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 500)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_sampled"),
        dsum($"l_extendedprice").as("sum_price"),
        davg($"l_discount").as("avg_disc"))
      .orderBy($"l_returnflag")
  }
  private val qStratifiedSampleSql =
    s"""WITH ranked AS (
       |  SELECT l_returnflag, l_extendedprice, l_discount,
       |    row_number() OVER (PARTITION BY l_returnflag
       |      ORDER BY (l_orderkey * 7 + l_linenumber) * 2654435761 % 4294967296,
       |               l_orderkey, l_linenumber, l_extendedprice, l_discount) AS rn
       |  FROM lineitem)
       |SELECT l_returnflag, COUNT(*) AS n_sampled,
       |  ${sqlSum("l_extendedprice")} AS sum_price,
       |  ${sqlAvg("l_discount")} AS avg_disc
       |FROM ranked WHERE rn <= 500
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- q_source_cap: per-source document caps (anti-domination) ------------
  // The Common-Crawl-shaped mix control: no single source may contribute
  // more than K documents to a training corpus. row_number per source,
  // keep rank ≤ K — Spark plans the rank filter as WindowGroupLimit, a
  // per-partition partial top-K BEFORE the exchange, so each source
  // ships at most K rows out of every map partition instead of sorting
  // its full document set (the difference between capping a 10⁹-doc
  // domain and shuffling it). doc_id order keeps it deterministic; swap
  // the ORDER BY for the hash used in q_stratified_sample when the cap
  // should be a random rather than first-K subset.
  private def qSourceCap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val K = 30
    val w = Window.partitionBy($"source").orderBy($"doc_id")
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= K)
      .select($"doc_id", $"source")
      .orderBy($"source", $"doc_id")
  }
  private val qSourceCapSql =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 30 ORDER BY source, doc_id""".stripMargin

  // -- q_array_agg: array columns as first-class aggregation targets ------
  // Per-label stats over the embedding vectors: L2 norm via the compiled
  // VecDot expression (self dot product), plus an ordered array_agg
  // sample. collect_list order is nondeterministic under parallelism —
  // always sort_array before comparing/emitting. The sample is emitted
  // as a comma-joined string (not array<long>) so the cross-engine
  // value-compare has a totally-ordered scalar on both sides.
  private def qArrayAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .withColumn("norm", sqrt(graft.functions.GraftFunctions.vec_dot($"embedding", $"embedding")))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        davg($"norm").as("avg_norm"),
        array_join(slice(sort_array(collect_list($"vec_id")), 1, 5), ",").as("first_ids"))
      .orderBy($"label")
  }
  private val qArrayAggSql =
    s"""SELECT label, COUNT(*) AS n_vecs,
       |  ${sqlAvg("sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))")} AS avg_norm,
       |  array_to_string((array_agg(vec_id ORDER BY vec_id))[1:5], ',') AS first_ids
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  // -- q_winsorize: percentile clipping (robust-stats cleaning) ------------
  // Clip each group's values to its exact [p05, p95] — the outlier
  // treatment a feature/metrics pipeline applies before aggregation.
  // ONE shuffle: the window partitioning by event_type is reused by
  // every window (rank, count, both thresholds) AND the final groupBy,
  // so thresholds never join back through a second exchange. Quantile
  // ranks use pure integer math — (n*5 + 99) div 100 — because
  // ceil(n * 0.05) goes through a double 0.05 (= 0.05000...0003) and
  // rounds UP on exact multiples in Spark while DuckDB's decimal 0.05
  // stays exact: an engine-parity landmine, not a style choice. At
  // 100 TB the same query runs on approx_percentile thresholds
  // (mergeable sketch, no rank window); this is the exact twin.
  /** Per-row winsorization kernel over any (group, tie, value) frame:
    * attaches the group's exact p05/p95 and the clipped value. Public so
    * the spec can pin exact thresholds on a crafted 1..100 series. */
  def winsorized(df: DataFrame, group: String, tie: String, value: String): DataFrame = {
    import df.sparkSession.implicits._
    val byG = Window.partitionBy(col(group))
    val ordered = byG.orderBy(col(value), col(tie))
    df.withColumn("rn", row_number().over(ordered))
      .withColumn("n", count(lit(1)).over(byG))
      .withColumn("p05",
        max(when($"rn" <= expr("(n * 5 + 99) div 100"), col(value))).over(byG))
      .withColumn("p95",
        max(when($"rn" <= expr("(n * 95 + 99) div 100"), col(value))).over(byG))
      .withColumn("winsorized", least(greatest(col(value), $"p05"), $"p95"))
  }

  private def qWinsorize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    winsorized(Tables.events(s, d).select($"event_type", $"event_id", $"value"),
        "event_type", "event_id", "value")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        count(when($"value" < $"p05", 1)).as("n_clipped_low"),
        count(when($"value" > $"p95", 1)).as("n_clipped_high"),
        dsum($"winsorized").as("sum_winsorized"))
      .orderBy($"event_type")
  }
  private val qWinsorizeSql =
    s"""WITH r AS (
       |  SELECT event_type, value,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY value, event_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM events),
       |t AS (
       |  SELECT event_type, value,
       |    MAX(CASE WHEN rn <= (n * 5 + 99) // 100 THEN value END)
       |      OVER (PARTITION BY event_type) AS p05,
       |    MAX(CASE WHEN rn <= (n * 95 + 99) // 100 THEN value END)
       |      OVER (PARTITION BY event_type) AS p95
       |  FROM r)
       |SELECT event_type, COUNT(*) AS n_rows,
       |  COUNT(CASE WHEN value < p05 THEN 1 END) AS n_clipped_low,
       |  COUNT(CASE WHEN value > p95 THEN 1 END) AS n_clipped_high,
       |  ${sqlSum("LEAST(GREATEST(value, p05), p95)")} AS sum_winsorized
       |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q_rolling_agg: trailing time-RANGE window ---------------------------
  // Per-event trailing-1h sum/count per user — a RANGE frame over event
  // time (value-bounded), not a ROWS frame: the frame holds every event
  // with ts in [t − 1h, t] regardless of how many rows that is, and tie
  // rows enter the frame together, so the result is order-deterministic
  // without a tie-break. ONE shuffle (the user_id window partitioning);
  // state per row is the in-frame aggregate, bounded by the time span,
  // not the partition — the 100 TB shape for per-entity rolling
  // features. Microsecond domain on both engines; decimal sum so
  // partial-order float drift can't leak into the low bits.
  private val RollingUs: Long = 3600L * 1000000L // trailing 1h, inclusive
  private def qRollingAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us")
      .rangeBetween(-RollingUs, 0)
    Tables.events(s, d)
      .select($"user_id", $"event_id", expr("ts_ns div 1000").as("ts_us"), $"value")
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h",
        sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .over(w).cast("double"))
      .orderBy($"user_id", $"ts_us", $"event_id")
  }
  private val qRollingAggSql =
    s"""SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, value,
       |  COUNT(*) OVER w AS n_1h,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
       |  RANGE BETWEEN $RollingUs PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, ts_us, event_id""".stripMargin

  // -- q_gap_fill: time-series densification + forward fill ----------------
  // Sensor/metric pipelines need a DENSE series from sparse events:
  // every hour in each user's [first, last] range gets a row, absent
  // hours carry n_events = 0 and the last observed running value
  // (forward fill). Scale shape: the spine is generated per user from
  // its own span (sequence + explode — rows bounded by span, no global
  // calendar cross join); the sparse aggregate, the spine join, and the
  // fill window all share the user_id hash partitioning, so the plan is
  // one aggregate shuffle + one join shuffle and a partition-local
  // window. Hours are integer epoch-hours (calendar-free, engine-
  // identical); the fill is last(ignoreNulls) — order-deterministic.
  private val NsPerHour = 3600L * 1000 * 1000 * 1000

  private def qGapFill(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourly = Tables.events(s, d)
      .select($"user_id", expr(s"ts_ns div ${NsPerHour}L").as("h"), $"value")
      .groupBy($"user_id", $"h")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
    val spine = hourly.groupBy($"user_id")
      .agg(min($"h").as("h0"), max($"h").as("h1"))
      .select($"user_id", explode(expr("sequence(h0, h1)")).as("h"))
    val fillW = Window.partitionBy($"user_id").orderBy($"h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("user_id", "h"), "left")
      .select($"user_id", $"h".as("hour"),
        coalesce($"n_events", lit(0L)).as("n_events"),
        ($"n_events".isNull).as("filled"),
        last($"sum_value", ignoreNulls = true).over(fillW).as("running_value"))
      .orderBy($"user_id", $"hour")
  }
  private val qGapFillSql =
    s"""WITH hourly AS (
       |  SELECT user_id, epoch_ns(ts) // ${NsPerHour} AS h,
       |    COUNT(*) AS n_events, ${sqlSum("value")} AS sum_value
       |  FROM events GROUP BY 1, 2),
       |spine AS (
       |  SELECT user_id, h0 + i AS h
       |  FROM (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1
       |        FROM hourly GROUP BY user_id) s,
       |       unnest(range(0, h1 - h0 + 1)) t(i))
       |SELECT s.user_id, s.h AS hour,
       |  COALESCE(n_events, 0) AS n_events,
       |  n_events IS NULL AS filled,
       |  last_value(sum_value IGNORE NULLS)
       |    OVER (PARTITION BY s.user_id ORDER BY s.h
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_value
       |FROM spine s LEFT JOIN hourly USING (user_id, h)
       |ORDER BY user_id, hour""".stripMargin

  // -- q_skyline: Pareto frontier via the staircase window -----------------
  // The skyline operator (Börzsönyi/Kossmann/Stocker, ICDE'01): rows
  // not dominated on (balance, activity) — here customers where no one
  // has both ≥ account balance and ≥ order count with one strict. The
  // naive formulation is an O(n²) NOT-EXISTS self-join; a 2-d skyline
  // is computable in one SORT instead: over DISTINCT (bal, act) pairs
  // ordered (bal DESC, act DESC), a pair is on the frontier iff its
  // act strictly exceeds the running max of every EARLIER pair's act —
  // earlier means (bal >, or bal = ∧ act >), exactly the dominators.
  // One window over one shuffle, O(n log n), and the frontier then
  // broadcast-joins back to the full row set (ties on both dims all
  // surface). The oracle replays the identical window; the spec
  // cross-checks against the brute-force NOT EXISTS on sf0.001,
  // proving the staircase IS the skyline semantics, not an
  // approximation of it.
  private def skyline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val act = Tables.orders(s, d).groupBy($"o_custkey")
      .agg(count(lit(1)).as("act"))
    val cust = Tables.customer(s, d)
      .join(act, $"c_custkey" === $"o_custkey")
      .select($"c_custkey", $"c_acctbal".as("bal"), $"act")
    val pairs = cust.select($"bal", $"act").distinct()
    // distributed shape: a LOCAL staircase per hash partition first — a
    // within-partition dominator is a global dominator, so local
    // skylines are a superset of the global one (skyline is closed
    // under union) — then the tiny survivor set takes the global
    // single-partition pass. The all-rows sort never happens on one
    // executor.
    val local = Window.partitionBy($"bkt").orderBy($"bal".desc, $"act".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val survivors = pairs
      .withColumn("bkt", pmod(hash($"bal", $"act"), lit(32)))
      .withColumn("lmax", max($"act").over(local))
      .filter($"lmax".isNull || $"act" > $"lmax")
    val w = Window.orderBy($"bal".desc, $"act".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = survivors
      .withColumn("prev_max", max($"act").over(w))
      .filter($"prev_max".isNull || $"act" > $"prev_max")
      .select($"bal", $"act")
    cust.join(broadcast(frontier), Seq("bal", "act"))
      .select($"c_custkey", $"bal", $"act")
      .orderBy($"c_custkey")
  }
  private val skylineSql =
    """WITH act AS (SELECT o_custkey, COUNT(*) AS act FROM orders GROUP BY 1),
      |cust AS (SELECT c_custkey, c_acctbal AS bal, act
      |         FROM customer JOIN act ON c_custkey = o_custkey),
      |pairs AS (SELECT DISTINCT bal, act FROM cust),
      |st AS (SELECT bal, act, MAX(act) OVER (
      |    ORDER BY bal DESC, act DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM pairs),
      |frontier AS (SELECT bal, act FROM st
      |  WHERE prev_max IS NULL OR act > prev_max)
      |SELECT c.c_custkey, c.bal, c.act
      |FROM cust c JOIN frontier f ON c.bal = f.bal AND c.act = f.act
      |ORDER BY c.c_custkey""".stripMargin

  // -- q_ewma_trend: exponential smoothing over the daily revenue series ----
  // The forecasting primitive the rolling/gap-fill family lacks:
  // exponentially weighted moving average (Brown 1956; Holt's level
  // term), alpha = 1/4, over daily order revenue. EWMA is inherently
  // SEQUENTIAL (s_t = s_{t-1} + alpha*(x_t - s_{t-1})), so the
  // discipline is the PCA one: the corpus collapses to the per-day
  // aggregate DISTRIBUTED (one map-side-combined groupBy over exact
  // integer cents), then the recurrence runs driver-side in BigInt over
  // the O(calendar-days) series — time-proportional, never
  // data-proportional. State is cents·2^20 integer: s_0 = x_0·2^20,
  // s_t = s_{t-1} - s_{t-1} div 4 + x_t·2^20 div 4 — truncating div on
  // nonnegative state == DuckDB's flooring //, so the oracle replays
  // the identical bits with a recursive CTE in HUGEINT (the engine-run
  // fixpoint; contrast the driver-loop ops). Output re-scales to
  // ewma_cents = s div 2^20.
  private val EwmaShift = 20
  private def ewmaTrend(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
      .orderBy($"day")
    val series = daily.collect()
      .map(r => (r.getDate(0), r.getLong(1)))
    val sc = BigInt(1) << EwmaShift
    var st = BigInt(-1)
    val out = series.map { case (day, c) =>
      st = if (st < 0) BigInt(c) * sc
           else st - st / 4 + (BigInt(c) * sc) / 4
      (day, c, (st / sc).toLong)
    }
    s.createDataFrame(out.toSeq.map(t => (t._1, t._2, t._3)))
      .toDF("day", "revenue_cents", "ewma_cents")
      .orderBy($"day")
  }
  private val ewmaTrendSql =
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |r AS (SELECT day, cents,
       |    row_number() OVER (ORDER BY day) AS rn FROM daily),
       |ew AS (
       |  SELECT rn, day, cents, CAST(cents AS HUGEINT) * ${1L << EwmaShift}
       |    AS s
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT d.rn, d.day, d.cents,
       |    e.s - (e.s // 4) + ((CAST(d.cents AS HUGEINT)
       |      * ${1L << EwmaShift}) // 4)
       |  FROM ew e JOIN r d ON d.rn = e.rn + 1)
       |SELECT day, cents AS revenue_cents,
       |  CAST(s // ${1L << EwmaShift} AS BIGINT) AS ewma_cents
       |FROM ew ORDER BY day""".stripMargin

  // -- q_aqp_sample: approximate aggregation from a deterministic sample ----
  // AQP as an operator with its error bill attached (BlinkDB's shape):
  // a 1% hash-sample of the fact table answers the groupBy, the
  // Horvitz-Thompson scale-up (×100) estimates count and revenue, and
  // the EXACT aggregate rides along with abs-error ppm per group — the
  // row that tells a user whether the 100× cheaper scan is good
  // enough. Sampling is the systematic-sampling rule (md5-mixKey on
  // the (orderkey, linenumber) row identity, mod 100): deterministic,
  // replayable in the oracle, and uncorrelated with any value column.
  // Revenue stays exact integer cents on BOTH legs, so the error
  // quotient is integer-exact. 100 TB: at fixed sample RATE this scans
  // everything once (the exact leg is the declared accounting
  // baseline); a production deployment stores the sample as its own
  // table and touches 1% of the bytes.
  private def qAqpSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = floor($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100
      + 0.5).cast("long")
    val base = Tables.lineitem(s, d).select($"l_returnflag".as("flag"),
      cents.as("c"),
      (graft.operators.Behavioral.mixKey(
        concat_ws(":", $"l_orderkey", $"l_linenumber")) % 100).as("h"))
    val exact = base.groupBy($"flag")
      .agg(count(lit(1)).as("n_exact"), sum($"c").as("rev_exact"))
    val est = base.filter($"h" < 1).groupBy($"flag")
      .agg((count(lit(1)) * 100).as("n_est"),
        (sum($"c") * 100).as("rev_est"))
    exact.join(est, Seq("flag"), "left")
      .select($"flag".as("l_returnflag"), $"n_exact",
        coalesce($"n_est", lit(0L)).as("n_est"),
        $"rev_exact", coalesce($"rev_est", lit(0L)).as("rev_est"),
        expr("abs(coalesce(n_est, 0) - n_exact) * 1000000 div n_exact")
          .as("n_err_ppm"),
        expr("abs(coalesce(rev_est, 0) - rev_exact) * 1000000 div rev_exact")
          .as("rev_err_ppm"))
      .orderBy($"l_returnflag")
  }
  private val qAqpSampleSql = {
    val h = graft.operators.Behavioral.mixKeySql(
      "concat(l_orderkey, ':', l_linenumber)")
    s"""WITH b AS (SELECT l_returnflag AS flag,
       |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
       |      AS BIGINT) AS c, $h % 100 AS h
       |  FROM lineitem),
       |ex AS (SELECT flag, COUNT(*) AS n_exact, SUM(c) AS rev_exact
       |  FROM b GROUP BY 1),
       |es AS (SELECT flag, COUNT(*) * 100 AS n_est, SUM(c) * 100 AS rev_est
       |  FROM b WHERE h < 1 GROUP BY 1)
       |SELECT ex.flag AS l_returnflag, ex.n_exact,
       |  CAST(COALESCE(es.n_est, 0) AS BIGINT) AS n_est,
       |  CAST(ex.rev_exact AS BIGINT) AS rev_exact,
       |  CAST(COALESCE(es.rev_est, 0) AS BIGINT) AS rev_est,
       |  CAST(abs(COALESCE(es.n_est, 0) - ex.n_exact) * 1000000
       |    // ex.n_exact AS BIGINT) AS n_err_ppm,
       |  CAST(abs(COALESCE(es.rev_est, 0) - ex.rev_exact) * 1000000
       |    // ex.rev_exact AS BIGINT) AS rev_err_ppm
       |FROM ex LEFT JOIN es ON es.flag = ex.flag
       |ORDER BY l_returnflag""".stripMargin
  }

  // -- q_holt_trend: double exponential smoothing (level + trend) -----------
  // Holt 1957 — the EWMA's trend-aware sibling, and the first model
  // that can FORECAST a drifting series (EWMA lags a trend forever):
  // l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}), b_t = β(l_t−l_{t−1}) +
  // (1−β)b_{t−1}, α = β = 1/4, init l_0 = x_0, b_0 = 0. Same
  // discipline as q_ewma_trend: distributed exact-cents daily
  // aggregate, then the inherently-sequential recurrence driver-side
  // in BigInt over O(calendar-days) rows; state is cents·2²⁰ integers.
  // The trend term goes NEGATIVE, so division semantics are load-
  // bearing: BOTH engines truncate toward zero on integer division
  // (BigInt `/` here; DuckDB's HUGEINT `//` — verified: -7//2 = -3,
  // NOT floor's -4), so plain truncating division is used throughout
  // and agrees bit-for-bit on every sign. Emits the one-step-ahead
  // forecast l+b — the column a capacity planner actually reads.
  private def holtTrend(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
      .orderBy($"day")
    val series = daily.collect().map(r => (r.getDate(0), r.getLong(1)))
    val sc = BigInt(1) << EwmaShift
    var l = BigInt(0); var b = BigInt(0); var first = true
    val out = series.map { case (day, c) =>
      if (first) { first = false; l = BigInt(c) * sc; b = BigInt(0) }
      else {
        val l1 = BigInt(c) * sc / 4 + 3 * (l + b) / 4
        b = (l1 - l) / 4 + 3 * b / 4
        l = l1
      }
      (day, c, (l / sc).toLong, (b / sc).toLong, ((l + b) / sc).toLong)
    }
    s.createDataFrame(out.toSeq)
      .toDF("day", "revenue_cents", "level_cents", "trend_cents",
        "forecast_cents")
      .orderBy($"day")
  }
  private val holtTrendSql = {
    val S = 1L << EwmaShift
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |r AS (SELECT day, cents,
       |    row_number() OVER (ORDER BY day) AS rn FROM daily),
       |h AS (
       |  SELECT rn, day, cents, CAST(cents AS HUGEINT) * $S AS l,
       |    CAST(0 AS HUGEINT) AS b
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT d.rn, d.day, d.cents,
       |    (CAST(d.cents AS HUGEINT) * $S) // 4 + (3 * (h.l + h.b)) // 4,
       |    ((CAST(d.cents AS HUGEINT) * $S) // 4 + (3 * (h.l + h.b)) // 4
       |      - h.l) // 4 + (3 * h.b) // 4
       |  FROM h JOIN r d ON d.rn = h.rn + 1)
       |SELECT day, cents AS revenue_cents,
       |  CAST(l // $S AS BIGINT) AS level_cents,
       |  CAST(b // $S AS BIGINT) AS trend_cents,
       |  CAST((l + b) // $S AS BIGINT) AS forecast_cents
       |FROM h ORDER BY day""".stripMargin
  }

  // -- q_holt_winters: triple exponential smoothing (level+trend+season) ----
  // Holt-Winters 1960, additive form — the model the EWMA/Holt pair
  // still can't express: a series with a WEEKLY shape (m = 7 here)
  // under a drifting level. l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} +
  // b_{t−1}); b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}; s_t = γ(x_t −
  // l_t) + (1−γ)s_{t−m}; α = β = γ = 1/4; init l_0 = x_0, b_0 = 0,
  // first-period seasonals 0 (the first week behaves like Holt —
  // pinned). One-step forecast = l_t + b_t + s_{t+1−m}. Same exactness
  // discipline as q_holt_trend: distributed exact-cents daily
  // aggregate, the inherently-sequential recurrence driver-side in
  // BigInt over O(calendar-days) rows (state = 2 + m scaled integers);
  // truncating division agrees bit-for-bit on every sign between
  // BigInt `/` and DuckDB HUGEINT `//`, and the oracle carries the
  // 7-slot seasonal register as a HUGEINT list through the recursive
  // CTE — the same state machine, replayed in SQL.
  private val HwPeriod = 7
  private def holtWinters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
      .orderBy($"day")
    val series = daily.collect().map(r => (r.getDate(0), r.getLong(1)))
    val sc = BigInt(1) << EwmaShift
    var l = BigInt(0); var b = BigInt(0)
    var sl = Vector.fill(HwPeriod)(BigInt(0))
    var first = true
    val out = series.map { case (day, c) =>
      val x = BigInt(c) * sc
      if (first) {
        first = false; l = x; b = BigInt(0)
        sl = sl.tail :+ BigInt(0) // s_1 = (x−l)/4 + 3·0/4 = 0
      } else {
        val sOld = sl.head
        val l1 = (x - sOld) / 4 + 3 * (l + b) / 4
        val b1 = (l1 - l) / 4 + 3 * b / 4
        val s1 = (x - l1) / 4 + 3 * sOld / 4
        l = l1; b = b1; sl = sl.tail :+ s1
      }
      (day, c, (l / sc).toLong, (b / sc).toLong, (sl.last / sc).toLong,
        ((l + b + sl.head) / sc).toLong)
    }
    s.createDataFrame(out.toSeq).toDF("day", "revenue_cents", "level_cents",
      "trend_cents", "season_cents", "forecast_cents").orderBy($"day")
  }
  private val holtWintersSql = {
    val S = 1L << EwmaShift
    val zeros = Seq.fill(HwPeriod)("CAST(0 AS HUGEINT)").mkString("[", ", ", "]")
    // l1 inlined three times (the recursive CTE can't name it) — the
    // q_holt_trend pattern
    val x = s"CAST(d.cents AS HUGEINT) * $S"
    val l1 = s"($x - h.sl[1]) // 4 + (3 * (h.l + h.b)) // 4"
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |r AS (SELECT day, cents,
       |    row_number() OVER (ORDER BY day) AS rn FROM daily),
       |h AS (
       |  SELECT rn, day, cents, CAST(cents AS HUGEINT) * $S AS l,
       |    CAST(0 AS HUGEINT) AS b, $zeros AS sl
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT d.rn, d.day, d.cents,
       |    $l1,
       |    (($l1) - h.l) // 4 + (3 * h.b) // 4,
       |    h.sl[2:$HwPeriod]
       |      || [($x - ($l1)) // 4 + (3 * h.sl[1]) // 4]
       |  FROM h JOIN r d ON d.rn = h.rn + 1)
       |SELECT day, cents AS revenue_cents,
       |  CAST(l // $S AS BIGINT) AS level_cents,
       |  CAST(b // $S AS BIGINT) AS trend_cents,
       |  CAST(sl[$HwPeriod] // $S AS BIGINT) AS season_cents,
       |  CAST((l + b + sl[1]) // $S AS BIGINT) AS forecast_cents
       |FROM h ORDER BY day""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_holt_winters", holtWinters, Some(holtWintersSql)),
    QueryDef("q_holt_trend", holtTrend, Some(holtTrendSql)),
    QueryDef("q_aqp_sample", qAqpSample, Some(qAqpSampleSql)),
    QueryDef("q_ewma_trend", ewmaTrend, Some(ewmaTrendSql)),
    QueryDef("q_skyline", skyline, Some(skylineSql)),
    QueryDef("q_gap_fill", qGapFill, Some(qGapFillSql)),
    QueryDef("q_rolling_agg", qRollingAgg, Some(qRollingAggSql)),
    QueryDef("q_asof_join", qAsofJoin, Some(qAsofJoinSql)),
    QueryDef("q_asof_tolerance", qAsofTolerance, Some(qAsofToleranceSql)),
    QueryDef("q_asof_nearest", qAsofNearest, Some(qAsofNearestSql)),
    QueryDef("q_winsorize", qWinsorize, Some(qWinsorizeSql)),
    QueryDef("q_asof_join_native", qAsofJoinNative, Some(qAsofJoinSql)),
    QueryDef("q_asof_join_sql", qAsofJoinSqlTvf, Some(qAsofJoinSql)),
    QueryDef("q_range_join", qRangeJoin, Some(qRangeJoinSql)),
    QueryDef("q_time_bucket", qTimeBucket, Some(qTimeBucketSql)),
    QueryDef("q_time_weighted_avg", qTimeWeightedAvg, Some(qTimeWeightedAvgSql)),
    QueryDef("q_concurrency", qConcurrency, Some(qConcurrencySql)),
    QueryDef("q_percentile_weighted", qPercentileWeighted,
      Some(qPercentileWeightedSql)),
    QueryDef("q_calendar_rollup", calendarRollup, Some(calendarRollupSql)),
    QueryDef("q_weighted_sample", weightedSample, Some(weightedSampleSql)),
    QueryDef("q_percentile", qPercentile, Some(qPercentileSql)),
    QueryDef("q_quantile_sketch", qQuantileSketch, Some(qQuantileSketchSql)),
    QueryDef("q_sketch_error", qSketchError, Some(qSketchErrorSql)),
    QueryDef("q_pivot_native", qPivotNative, Some(qPivotNativeSql)),
    QueryDef("q_unpivot", qUnpivot, Some(qUnpivotSql)),
    QueryDef("q_sample_systematic", qSampleSystematic, Some(qSampleSystematicSql)),
    QueryDef("q_stratified_sample", qStratifiedSample, Some(qStratifiedSampleSql)),
    QueryDef("q_source_cap", qSourceCap, Some(qSourceCapSql)),
    QueryDef("q_array_agg", qArrayAgg, Some(qArrayAggSql)),
  )
}

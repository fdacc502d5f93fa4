package graft.operators

import graft.{QueryDef, Tables}
import graft.OracleMath._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational/analytic query surface (SURVEY.md §2.2).
  *
  * TPC-H-shaped coverage over the driver's star schema. Every query is
  * declarative DataFrame code so Catalyst handles pushdown, pruning and
  * join selection; dimension sides of joins are explicitly broadcast.
  * Plan-shape intent per query is noted inline — these are the shapes
  * that must hold at 100 TB (broadcast joins for dims, partial aggs,
  * TakeOrderedAndProject for top-k).
  */
/** Deterministic HyperLogLog (Flajolet et al. 2007) whose every step
  * both engines replay exactly — md5-half hash, integer registers,
  * exact-integer harmonic sum, one shared double estimate expression.
  * Shared by q_approx_distinct (ad-hoc sketching) and
  * q_hll_sketch_merge (persisted register tables + lossless max-merge).
  */
private[graft] object DetHll {
  val HllP = 12
  val HllM: Int = 1 << HllP // 4096 registers
  val RhoMax: Int = 64 - HllP + 1 // 53
  val Hll2p53 = 9007199254740992L // 2^(64 - p): the exact-sum scale

  /** (group..., bucket, m) register table over `key`. groupBy-max over
    * (group, bucket) merges register shards LOSSLESSLY — the table IS
    * the mergeable sketch. */
  def registers(df: DataFrame, group: Seq[String], key: Column): DataFrame = {
    import df.sparkSession.implicits._
    val g = group.map(col)
    df.select(g :+
        graft.functions.GraftFunctions.md5lower64(key.cast("string")).as("h"): _*)
      .select(g :+ $"h".bitwiseAND(lit((HllM - 1).toLong)).as("bucket") :+
        shiftrightunsigned($"h", HllP).as("w"): _*)
      .withColumn("rho",
        when($"w" === 0L, lit(RhoMax)).otherwise(lit(RhoMax) - length(expr("bin(w)"))))
      .groupBy(g :+ $"bucket": _*).agg(max($"rho").as("m"))
  }

  /** (group..., out) estimate from a register table (direct or merged). */
  def estimate(regs: DataFrame, group: Seq[String], out: String): DataFrame = {
    import regs.sparkSession.implicits._
    val alpha = 0.7213 / (1.0 + 1.079 / HllM) // standard alpha_m, m >= 128
    regs.groupBy(group.map(col): _*).agg(count(lit(1)).as("nb"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $RhoMax - m)")
          .cast("decimal(38,0)")).as("s0"))
      .withColumn("v", lit(HllM.toLong) - $"nb")
      .withColumn("sd",
        ($"s0" + $"v".cast("decimal(38,0)") * lit(Hll2p53)).cast("double"))
      .withColumn("raw",
        lit(alpha * HllM.toDouble * HllM.toDouble * Hll2p53.toDouble) / $"sd")
      .withColumn(out,
        when($"raw" <= lit(2.5 * HllM) && $"v" > 0L,
          lit(HllM.toDouble) * log(lit(HllM.toDouble) / $"v"))
          .otherwise($"raw")
          .cast("decimal(18,4)").cast("double"))
      .select(group.map(col) :+ col(out): _*)
  }

  /** DuckDB replay of [[registers]]: `src` is a relation (or
    * parenthesized subquery) exposing (groupCol, keyCol). */
  def registersSql(src: String, groupCol: String, keyCol: String): String =
    s"""SELECT $groupCol, bucket, MAX(rho) AS m FROM (
       |  SELECT $groupCol, CAST(h & ${HllM - 1} AS BIGINT) AS bucket,
       |    CASE WHEN h >> $HllP = 0 THEN $RhoMax
       |         ELSE $RhoMax - length(to_base(CAST(h >> $HllP AS BIGINT), 2)) END AS rho
       |  FROM (SELECT $groupCol, md5_number_lower(CAST($keyCol AS VARCHAR)) AS h
       |        FROM $src))
       |GROUP BY $groupCol, bucket""".stripMargin

  /** DuckDB replay of [[estimate]] over a registers relation. */
  def estimateSql(regs: String, groupCol: String, out: String): String =
    s"""SELECT $groupCol, CAST(CAST(CASE WHEN raw <= CAST(2.5 AS DOUBLE) * $HllM.0 AND v > 0
       |      THEN $HllM.0 * ln($HllM.0 / v) ELSE raw END
       |    AS DECIMAL(18,4)) AS DOUBLE) AS $out
       |FROM (SELECT $groupCol, v,
       |    CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / $HllM.0)
       |      * $HllM.0 * $HllM.0 * ${Hll2p53}.0 / sd AS raw
       |  FROM (SELECT $groupCol, $HllM - nb AS v,
       |      CAST(s0 + CAST($HllM - nb AS HUGEINT) * $Hll2p53 AS DOUBLE) AS sd
       |    FROM (SELECT $groupCol, COUNT(*) AS nb,
       |        SUM(CAST(CAST(1 AS BIGINT) << ($RhoMax - m) AS HUGEINT)) AS s0
       |      FROM $regs GROUP BY $groupCol)))""".stripMargin
}

object Relational {

  // -- q1: multi-key hash aggregation with map-side partial agg ------------
  private def q1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }
  private val q1Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlSum("l_quantity")} AS sum_qty,
       |  ${sqlSum("l_extendedprice")} AS sum_base_price,
       |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       |  ${sqlAvg("l_quantity")} AS avg_qty,
       |  ${sqlAvg("l_extendedprice")} AS avg_price,
       |  ${sqlAvg("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // -- q6: selective scan; predicates must reach the parquet reader --------
  private def q6(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1995-01-01 00:00:00").cast("timestamp") &&
        $"l_shipdate" < lit("1996-01-01 00:00:00").cast("timestamp") &&
        $"l_discount" >= lit(0.05) && $"l_discount" <= lit(0.07) &&
        $"l_quantity" < lit(24.0))
      .agg(dsum($"l_extendedprice" * $"l_discount").as("revenue"),
        count(lit(1)).as("n_rows"))
  }
  private val q6Sql =
    s"""SELECT ${sqlSum("l_extendedprice * l_discount")} AS revenue,
       |  COUNT(*) AS n_rows
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07
       |  AND l_quantity < 24.0""".stripMargin

  // -- q_top_supplier: argmax over an aggregate (TPC-H Q15 shape) -----------
  // The view-over-aggregate maximum: per-supplier revenue in a fixed
  // quarter, then EVERY supplier whose revenue equals the max (Q15's
  // tie-correct semantics — a top-1 LIMIT silently drops ties). The
  // tie test must be EXACT, so revenue is per-row-quantized integer
  // cents (floor(x·100+0.5), the dsum rule) — a float-summed revenue
  // would make "equals the max" partition-order-dependent. Shapes: one
  // map-side-combined (suppkey, cents) aggregate, a one-row max frame
  // broadcast back, supplier dim broadcast for names.
  private def qTopSupplier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rev = Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01 00:00:00").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum(floor($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100
        + 0.5).cast("long")).as("total_cents"))
    val mx = rev.agg(max($"total_cents").as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter($"total_cents" === $"mx")
      .join(broadcast(Tables.supplier(s, d)
        .select($"s_suppkey", $"s_name")), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_cents")
      .orderBy($"s_suppkey")
  }
  private val qTopSupplierSql =
    """WITH rev AS (SELECT l_suppkey,
      |    CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
      |      + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY 1)
      |SELECT s.s_suppkey, s.s_name, r.total_cents
      |FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
      |WHERE r.total_cents = (SELECT MAX(total_cents) FROM rev)
      |ORDER BY s.s_suppkey""".stripMargin

  // -- q3: dim ⋈ fact ⋈ fact with broadcast dim, then top-k ----------------
  private def q3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
    val ord  = Tables.orders(s, d)
    val li   = Tables.lineitem(s, d)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .select($"l_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("orderdate"),
        $"revenue")
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }
  private val q3Sql =
    s"""SELECT l_orderkey,
       |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  // -- q5: snowflake multi-way join; whole dim chain broadcasts ------------
  private def q5(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val region = Tables.region(s, d).filter($"r_name" === "ASIA")
    val nation = Tables.nation(s, d)
    val cust   = Tables.customer(s, d)
    val sup    = Tables.supplier(s, d)
    val ord    = Tables.orders(s, d)
    val li     = Tables.lineitem(s, d)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey" &&
        $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }
  private val q5Sql =
    s"""SELECT n_name,
       |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  // -- q_semi: EXISTS as left-semi join ------------------------------------
  private def qSemi(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, d)
    val returned = Tables.lineitem(s, d).filter($"l_returnflag" === "R")
    ord.join(returned, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }
  private val qSemiSql =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // -- q_anti: NOT EXISTS as left-anti join ---------------------------------
  private def qAnti(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d)
    val ord  = Tables.orders(s, d).filter($"o_orderstatus" === "P")
    cust.join(ord, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }
  private val qAntiSql =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // -- q_window: per-group top-n via row_number window ----------------------
  private def qWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_orderpriority", $"rn".cast("long").as("rn"),
        $"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderpriority", $"rn")
  }
  private val qWindowSql =
    """SELECT o_orderpriority, rn, o_orderkey, o_totalprice
      |FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_orderpriority, rn""".stripMargin

  // -- q_running: running sum / rank over event time ------------------------
  private def qRunning(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts_ns", $"event_id")
    Tables.events(s, d)
      .filter($"user_id" < 50)
      .withColumn("running_value",
        sum($"value".cast("decimal(18,6)")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("seq", row_number().over(w))
      .select($"user_id", $"event_id", $"seq".cast("long").as("seq"),
        $"running_value")
      .orderBy($"user_id", $"seq")
  }
  private val qRunningSql =
    """SELECT user_id, event_id,
      |  row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS seq,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6)))
      |       OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |       AS DOUBLE) AS running_value
      |FROM events WHERE user_id < 50
      |ORDER BY user_id, seq""".stripMargin

  // -- q_topk: global top-k must plan as TakeOrderedAndProject --------------
  private def qTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      .limit(10)
  }
  private val qTopKSql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 10""".stripMargin

  // -- q_distinct: exact distinct counting ----------------------------------
  private def qDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_suppliers"))
      .orderBy($"l_returnflag")
  }
  private val qDistinctSql =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_suppliers
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // -- q_rollup: hierarchical aggregation (grouping sets) -------------------
  // r18: pre-aggregate to the (flag, status) base cells FIRST, then
  // roll THOSE up. rollup() plans an Expand that emits one copy of
  // every input row per grouping set (3× the corpus through the
  // partial aggregate — the r17 verdict's q_rollup anti-scaler);
  // rolling up the ~6-row cell table instead is value-identical
  // (decimal sums are exact and associative, counts sum) and the
  // Expand touches 6 rows instead of 600k. The decimal stays decimal
  // across both levels and casts to double once at the end — the same
  // number dsum produced. coalesce(n, 0) only matters on an EMPTY
  // input (sum over no rows is NULL where count was 0); any real
  // dataset hits neither.
  private def qRollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity".cast("decimal(18,6)")).as("sq"),
        count(lit(1)).as("cn"))
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(sum($"sq").cast("double").as("sum_qty"),
        coalesce(sum($"cn"), lit(0L)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }
  private val qRollupSql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlSum("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // -- q_cube: full grouping-set lattice -------------------------------------
  private def qCube(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_extendedprice").as("sum_price"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }
  private val qCubeSql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlSum("l_extendedprice")} AS sum_price, COUNT(*) AS n
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // -- q_grouping_sets: ASYMMETRIC grouping sets -----------------------------
  // Rollup/cube can't express {(flag, status), (flag), (status)} — no
  // grand total, both one-column margins. The Dataset groupingSets API
  // plans the same single-pass Expand as rollup; gid =
  // grouping(a)*2 + grouping(b), composed identically in DuckDB (the
  // engines' grouping_id() bit conventions are not worth trusting).
  private def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"), Seq($"l_linestatus")),
        $"l_returnflag", $"l_linestatus")
      .agg((grouping($"l_returnflag") * 2 + grouping($"l_linestatus"))
          .cast("long").as("gid"),
        dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .select($"l_returnflag", $"l_linestatus", $"gid", $"sum_qty", $"n")
      .orderBy($"gid", $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }
  private val qGroupingSetsSql =
    s"""SELECT l_returnflag, l_linestatus,
       |  GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
       |  ${sqlSum("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
       |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // -- q_setops: intersect / except ------------------------------------------
  private def qSetops(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val buyers  = Tables.orders(s, d).select($"o_custkey".as("custkey")).distinct()
    val wealthy = Tables.customer(s, d).filter($"c_acctbal" > 5000.0)
      .select($"c_custkey".as("custkey"))
    buyers.intersect(wealthy)
      .unionByName(
        Tables.customer(s, d).select($"c_custkey".as("custkey"))
          .exceptAll(Tables.orders(s, d).select($"o_custkey".as("custkey")).distinct())
          .withColumn("custkey", -$"custkey"))
      .orderBy($"custkey")
  }
  private val qSetopsSql =
    """SELECT custkey FROM (
      |  (SELECT DISTINCT o_custkey AS custkey FROM orders
      |   INTERSECT
      |   SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000.0)
      |  UNION ALL
      |  (SELECT -custkey AS custkey FROM (
      |     SELECT c_custkey AS custkey FROM customer
      |     EXCEPT ALL
      |     SELECT DISTINCT o_custkey AS custkey FROM orders))
      |) ORDER BY custkey""".stripMargin

  // -- q_case_pivot: conditional aggregation (manual pivot) ------------------
  private def qCasePivot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_linestatus")
      .agg(
        dsum(when($"l_returnflag" === "R", $"l_quantity").otherwise(lit(0.0))).as("qty_returned"),
        dsum(when($"l_returnflag" === "A", $"l_quantity").otherwise(lit(0.0))).as("qty_accepted"),
        dsum(when($"l_returnflag" === "N", $"l_quantity").otherwise(lit(0.0))).as("qty_none"))
      .orderBy($"l_linestatus")
  }
  private val qCasePivotSql =
    s"""SELECT l_linestatus,
       |  ${sqlSum("CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0.0 END")} AS qty_returned,
       |  ${sqlSum("CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0.0 END")} AS qty_accepted,
       |  ${sqlSum("CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0.0 END")} AS qty_none
       |FROM lineitem
       |GROUP BY l_linestatus
       |ORDER BY l_linestatus""".stripMargin

  // -- q_scalar_subquery: threshold from a scalar aggregate ------------------
  // The scalar side is a 1-row DataFrame; Spark plans the comparison as a
  // broadcast nested loop over one row — no shuffle of the fact table.
  private def qScalarSubquery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val threshold = li.agg(davg($"l_extendedprice").as("avg_price"))
    li.join(broadcast(threshold))
      .filter($"l_extendedprice" > $"avg_price" * 1.5)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_expensive"))
      .orderBy($"l_returnflag")
  }
  private val qScalarSubquerySql =
    s"""SELECT l_returnflag, COUNT(*) AS n_expensive
       |FROM lineitem
       |WHERE l_extendedprice > (SELECT ${sqlAvg("l_extendedprice")}
       |                         FROM lineitem) * 1.5
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  // -- q_large_join: fact ⋈ fact sort-merge (no broadcast hint on purpose) --
  private def qLargeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li  = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus", $"l_linestatus")
      .agg(count(lit(1)).as("n"),
        dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"o_orderstatus", $"l_linestatus")
  }
  private val qLargeJoinSql =
    s"""SELECT o_orderstatus, l_linestatus, COUNT(*) AS n,
       |  ${sqlSum("l_extendedprice")} AS sum_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus, l_linestatus
       |ORDER BY o_orderstatus, l_linestatus""".stripMargin

  // -- q_approx_distinct: deterministic HLL sketch distinct -----------------
  // The 100 TB answer to count-distinct: mergeable fixed-size sketches
  // (partial aggregation) instead of a distinct shuffle. Re-expressed in
  // r9 as a FULLY DETERMINISTIC HyperLogLog (Flajolet et al. 2007) whose
  // every step both engines replay exactly, graduating the query from
  // rows-only to a value oracle:
  //  - hash: md5's low half of the key's decimal string (Md5Lower64 ↔
  //    DuckDB md5_number_lower) — cross-engine bit-identical;
  //  - registers: bucket = low p=12 bits, rho = leading-zero rank of
  //    the remaining 52 bits via integer bit-length (length(bin(w)) ↔
  //    length(to_base(w, 2))) — no float in the register path;
  //  - harmonic sum: Σ 2^(53−M_j) as EXACT integers (decimal38 ↔
  //    hugeint), divided once at the end in double — the float
  //    arithmetic is one identical expression on both engines;
  //  - small-range: linear counting m·ln(m/V) when raw ≤ 2.5m and
  //    empty buckets exist; the final estimate is decimal-rounded to
  //    4 dp to absorb libm ln ulp skew (the q_drift_psi discipline).
  // m = 4096 registers ⇒ ~1.6% typical relative error (spec-bounded
  // against exact counts). The register table IS the mergeable sketch:
  // groupBy-max merges shards losslessly, the q_hll_sketch_merge
  // property, here with a replayable register layout.
  private def qApproxDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    def est(key: String, out: String) = DetHll.estimate(
      DetHll.registers(li, Seq("l_returnflag"), col(key)), Seq("l_returnflag"), out)
    est("l_partkey", "approx_parts")
      .join(est("l_suppkey", "approx_suppliers"), "l_returnflag")
      .orderBy($"l_returnflag")
  }

  private def hllEstimateSql(key: String, out: String): String = {
    val regs = DetHll.registersSql(
      s"(SELECT l_returnflag AS g, $key AS k FROM lineitem)", "g", "k")
    DetHll.estimateSql(s"($regs)", "g", out)
  }

  private val qApproxDistinctSql =
    s"""WITH p AS (${hllEstimateSql("l_partkey", "approx_parts")}),
       |s AS (${hllEstimateSql("l_suppkey", "approx_suppliers")})
       |SELECT p.g AS l_returnflag, p.approx_parts, s.approx_suppliers
       |FROM p JOIN s ON p.g = s.g ORDER BY l_returnflag""".stripMargin

  // -- q_lateral_join: correlated LATERAL subquery (per-row top-N) ---------
  // SQL-surface form of "for each outer row, run a dependent subquery"
  // — here each order's two most expensive lineitems. Catalyst
  // DECORRELATES the lateral (DecorrelateInnerQuery rewrites the
  // correlated LIMIT into a per-key rank), so the executed plan is a
  // join + window partial top-K, NOT a per-row subquery loop: the same
  // physical shape as q_window_topn_per_group, reached from the SQL
  // idiom users actually write. At 100 TB that rewrite is the
  // difference between one shuffle and orders × subquery executions.
  private def lateralJoin(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_lat_orders")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lat_lineitem")
    s.sql(
      """SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
        |FROM graft_lat_orders o,
        |LATERAL (SELECT l_linenumber, l_extendedprice
        |         FROM graft_lat_lineitem l
        |         WHERE l.l_orderkey = o.o_orderkey
        |         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
        |WHERE o.o_orderkey % 10 = 0
        |ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_linenumber""".stripMargin)
  }
  private val lateralJoinSql =
    """SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
      |FROM orders o,
      |LATERAL (SELECT l_linenumber, l_extendedprice
      |         FROM lineitem l
      |         WHERE l.l_orderkey = o.o_orderkey
      |         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
      |WHERE o.o_orderkey % 10 = 0
      |ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_linenumber""".stripMargin

  // -- q_variance: exact distributed second moments ------------------------
  // Population variance/stddev per group WITHOUT float accumulation
  // drift: the naive Σx²−(Σx)²/n over doubles catastrophically cancels
  // (the classic "variance of large means" failure), and Welford's
  // running form is order-dependent — partial aggregation replays it in
  // engine-specific order, so no float spelling can hash-match across
  // engines. Instead the moments are EXACT integers on 10⁻²-scaled
  // values — (n, Σq, Σq²) as decimal(38,0), the same mergeable
  // map-side-combinable state stream_zscore carries — and floats enter
  // only in the final per-group division/sqrt of exact integers, which
  // IEEE defines identically everywhere. var = (n·Σq²−(Σq)²)/(n²·10⁴).
  // -- q_copurchase_pairs: frequent item pairs (market basket) --------------
  // Association mining's level-2 primitive (the Apriori/FP-growth
  // workhorse): suppliers that co-fulfill the same order, with support
  // counts and the lift that separates genuine affinity from
  // popularity. The pair join is the inverted-index shape — self-join
  // ON the order key, so only items sharing an order ever meet and the
  // blowup is Σ_o m_o² with per-order item counts m_o small and
  // bounded, never a catalog cross product; canonical a < b emits each
  // pair once. Lift = n_ab·N / (n_a·n_b) over exact integer supports —
  // one double division per surviving pair (support ≥ 5 bounds the
  // scoring set); top-20 by (support, pair) is TakeOrdered.
  private def qCopurchasePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, d)
      .select($"l_orderkey".as("o"), $"l_suppkey".as("p")).distinct()
      .localCheckpoint() // feeds the pair join twice + the support side
    // the order total rides the plan as a one-row broadcast frame (the
    // Behavioral convention) — builders stay lazy plans, never running
    // a Spark job at query-BUILD time
    val orders = items.select($"o").distinct()
      .agg(count(lit(1)).as("total"))
    val supp = items.groupBy($"p").agg(count(lit(1)).as("n"))
    val pairs = items.as("a").join(items.as("b"),
        $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .groupBy($"a.p".as("pa"), $"b.p".as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 5)
    pairs
      .join(supp.select($"p".as("pa"), $"n".as("n_a")), "pa")
      .join(supp.select($"p".as("pb"), $"n".as("n_b")), "pb")
      .crossJoin(broadcast(orders))
      .select($"pa", $"pb", $"n_ab", $"n_a", $"n_b",
        ($"n_ab".cast("double") * $"total" / ($"n_a".cast("double") * $"n_b"))
          .as("lift"))
      .orderBy($"n_ab".desc, $"pa", $"pb")
      .limit(20)
  }
  private val qCopurchasePairsSql =
    """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS p
      |               FROM lineitem),
      |orders AS (SELECT COUNT(DISTINCT o) AS total FROM items),
      |supp AS (SELECT p, COUNT(*) AS n FROM items GROUP BY p),
      |pairs AS (SELECT a.p AS pa, b.p AS pb, COUNT(*) AS n_ab
      |          FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      |          GROUP BY 1, 2 HAVING COUNT(*) >= 5)
      |SELECT pa, pb, n_ab, sa.n AS n_a, sb.n AS n_b,
      |  CAST(n_ab AS DOUBLE) * orders.total
      |    / (CAST(sa.n AS DOUBLE) * sb.n) AS lift
      |FROM pairs JOIN supp sa ON sa.p = pa JOIN supp sb ON sb.p = pb
      |CROSS JOIN orders
      |ORDER BY n_ab DESC, pa, pb LIMIT 20""".stripMargin

  // -- q_assoc_rules: directional association rules (Agrawal-Srikant) -------
  // The rule-mining step on top of q_copurchase_pairs' pair counts
  // (Agrawal & Srikant VLDB'94): a pair passing minimum support emits
  // BOTH directional rules A→B and B→A from the ONE undirected count
  // (the containment trick — confidence is direction-dependent,
  // n_ab/n_A vs n_ab/n_B, the count is not); the surfaced set is the
  // TOP-K rules by confidence under a deterministic total order — a
  // rank gate, because any absolute confidence/lift cutoff is
  // data-regime-dependent (denser baskets compress lift, sparser ones
  // inflate it) where "the K strongest rules" is meaningful at every
  // scale — and it plans as TakeOrderedAndProject, no full sort.
  // Exactness: confidence and lift are floored integer micro-quotients
  // over exact counts, widened to 128 bits BEFORE the multiply (counts
  // at 100 TB overflow a LONG product). Scale shape: same candidate
  // discipline as the pair query — items self-join per order key (pair
  // fan-out bounded by order width), support filter BEFORE the rule
  // explosion, one-row order-total broadcast.
  private val RuleMinSup = 5L
  private val RuleTopK = 50
  private def qAssocRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, d)
      .select($"l_orderkey".as("o"), $"l_suppkey".as("p")).distinct()
      .localCheckpoint()
    val orders = items.select($"o").distinct()
      .agg(count(lit(1)).as("total"))
    val supp = items.groupBy($"p").agg(count(lit(1)).as("n"))
    val pairs = items.as("a").join(items.as("b"),
        $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .groupBy($"a.p".as("pa"), $"b.p".as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= RuleMinSup)
    val dir = pairs.select(explode(array(
        struct($"pa".as("ant"), $"pb".as("cons")),
        struct($"pb".as("ant"), $"pa".as("cons")))).as("r"), $"n_ab")
      .select($"r.ant", $"r.cons", $"n_ab")
    dir
      .join(supp.select($"p".as("ant"), $"n".as("n_ant")), "ant")
      .join(supp.select($"p".as("cons"), $"n".as("n_cons")), "cons")
      .crossJoin(broadcast(orders))
      .withColumn("conf_micro",
        expr("(cast(n_ab as decimal(38,0)) * 1000000) div n_ant"))
      .select($"ant", $"cons", $"n_ab", $"n_ant", $"n_cons", $"conf_micro",
        expr("(cast(n_ab as decimal(38,0)) * 1000000 * total) " +
          "div (cast(n_ant as decimal(38,0)) * n_cons)").as("lift_micro"))
      .orderBy($"conf_micro".desc, $"ant", $"cons")
      .limit(RuleTopK)
  }
  private val qAssocRulesSql =
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS p
       |               FROM lineitem),
       |ord AS (SELECT COUNT(DISTINCT o) AS total FROM items),
       |supp AS (SELECT p, COUNT(*) AS n FROM items GROUP BY p),
       |pairs AS (SELECT a.p AS pa, b.p AS pb, COUNT(*) AS n_ab
       |          FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |          GROUP BY 1, 2 HAVING COUNT(*) >= $RuleMinSup),
       |dir AS (SELECT pa AS ant, pb AS cons, n_ab FROM pairs
       |        UNION ALL SELECT pb, pa, n_ab FROM pairs),
       |r AS (SELECT ant, cons, n_ab, sa.n AS n_ant, sc.n AS n_cons,
       |    (CAST(n_ab AS HUGEINT) * 1000000) // sa.n AS conf_micro, total
       |  FROM dir JOIN supp sa ON sa.p = ant JOIN supp sc ON sc.p = cons
       |  CROSS JOIN ord)
       |SELECT ant, cons, n_ab, n_ant, n_cons,
       |  CAST(conf_micro AS BIGINT) AS conf_micro,
       |  CAST((CAST(n_ab AS HUGEINT) * 1000000 * total)
       |    // (CAST(n_ant AS HUGEINT) * n_cons) AS BIGINT) AS lift_micro
       |FROM r ORDER BY conf_micro DESC, ant, cons LIMIT $RuleTopK""".stripMargin

  // -- q_rank_functions: the full SQL ranking family under ties -------------
  // Coverage of every standard ranking window function in one query,
  // ordered by a HEAVILY TIED key (l_quantity takes 50 values) so the
  // functions actually differ: rank jumps after tie groups, dense_rank
  // doesn't, percent_rank = (rank−1)/(n−1) and cume_dist = peers'
  // cumulative fraction are tie-aware fractions (exact integer-fed
  // divisions, engine-identical), while row_number and ntile need a
  // TOTAL order to be deterministic at all — they run over the
  // tie-broken (quantity, orderkey, linenumber) window. Both engines
  // implement the SQL-standard semantics; the oracle is the same
  // functions verbatim. Partitioned windows — state per group flows
  // through one sort, nothing global.
  private def qRankFunctions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.lineitem(s, d).filter($"l_orderkey" % 50 === 0)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_quantity")
    val ties = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
    val total = Window.partitionBy($"l_returnflag")
      .orderBy($"l_quantity", $"l_orderkey", $"l_linenumber")
    base.select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_quantity",
        row_number().over(total).cast("long").as("rn"),
        rank().over(ties).cast("long").as("rk"),
        dense_rank().over(ties).cast("long").as("drk"),
        percent_rank().over(ties).as("prk"),
        cume_dist().over(ties).as("cd"),
        ntile(4).over(total).cast("long").as("quartile"))
      .orderBy($"l_returnflag", $"rn")
  }
  private val qRankFunctionsSql =
    """WITH base AS (
      |  SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity
      |  FROM lineitem WHERE l_orderkey % 50 = 0)
      |SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
      |  ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |    ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
      |  RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rk,
      |  DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS drk,
      |  PERCENT_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS prk,
      |  CUME_DIST() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cd,
      |  NTILE(4) OVER (PARTITION BY l_returnflag
      |    ORDER BY l_quantity, l_orderkey, l_linenumber) AS quartile
      |FROM base ORDER BY l_returnflag, rn""".stripMargin

  // -- q_regression: per-group OLS + correlation, exact joint moments -------
  // Least-squares slope/intercept and Pearson r per group from ONE
  // pass of exact integer joint moments — q_variance's discipline
  // extended to two variables: (n, Σx, Σy, Σx², Σy², Σxy) over
  // 10⁻²-scaled integers as decimal(38,0), mergeable map-side state;
  // floats appear only in the final per-group divisions/sqrt of exact
  // integers (IEEE-identical across engines). The float spelling of
  // covariance cancels catastrophically at large means and partial-agg
  // order would drift it; the integer moments cannot. Scale factors:
  // slope is unit-free in the 100×/100× scaling (cancels); intercept
  // carries y's units (÷100 once).
  // -- q_correlation_matrix: pairwise Pearson r in ONE pass -------------------
  // q_regression's exact-joint-moment discipline over every column
  // PAIR (the feature-correlation screen run before model training or
  // mixture design): one aggregate computes n, per-column Σx and Σx²,
  // and Σxy for all 6 pairs of the 4 measures — a single map-side-
  // combined pass over the fact table, never 6 scans — then each r is
  // one IEEE expression over exact decimal(38,0) integers (10⁻²-scaled,
  // the q_variance discipline). Precision headroom: with cent values
  // ≤ 1.05e7 the n·Σx² cross-term stays inside decimal(38,0) up to
  // ~1e12 rows; beyond that the same moments shard per partition group
  // and merge (they are plain sums).
  // -- q_autocorr: autocorrelation function of the daily revenue series -----
  // The time-series sibling of q_correlation_matrix: Pearson r between
  // the daily-revenue series and itself k rows back, k = 1..7 — the ACF
  // a forecaster reads weekly cycles and persistence off. Same exact-
  // moment discipline: daily totals are exact cents, all six moments
  // per lag are scale-0 decimal(38,0) sums (int128→double casts are
  // correctly rounded on both engines — fractional-scale decimals are
  // NOT, the TWAP lesson), and r is one IEEE expression at the end.
  // Lag pairing is by ROW position over the day order (LAG(x, k)),
  // which both engines define identically. Scale shape: the fact table
  // is touched once by the day groupBy; the seven lag columns come from
  // ONE window pass over the calendar-bounded day table, unpivoted to
  // (k, x, y) rows, and a 7-group aggregate finishes.
  private val AcfMaxLag = 7
  private def qAutocorr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
        .cast("decimal(38,0)").as("x"))
    val w = Window.orderBy($"day")
    val lagged = (1 to AcfMaxLag).foldLeft(daily)((df, k) =>
      df.withColumn(s"y_$k", lag($"x", k).over(w)))
    val long = lagged.select($"x", explode(array((1 to AcfMaxLag).map(k =>
        struct(lit(k).as("k"), col(s"y_$k").as("y"))): _*)).as("p"))
      .select($"p.k", $"x", $"p.y")
      .filter($"p.y".isNotNull)
    long.groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"x" * $"y").as("sxy"))
      .select($"k", $"n",
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
            ($"n" * $"syy" - $"sy" * $"sy").cast("double"))).as("r"))
      .orderBy($"k")
  }
  private val qAutocorrSql = {
    val lagCols = (1 to AcfMaxLag)
      .map(k => s"LAG(x, $k) OVER (ORDER BY day) AS y_$k").mkString(", ")
    val unions = (1 to AcfMaxLag)
      .map(k => s"SELECT $k AS k, x, y_$k AS y FROM lagged")
      .mkString("\nUNION ALL\n")
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS HUGEINT) AS x
       |  FROM orders GROUP BY 1),
       |lagged AS (SELECT day, x, $lagCols FROM daily),
       |long AS ($unions),
       |m AS (SELECT k, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
       |  FROM long WHERE y IS NOT NULL GROUP BY k)
       |SELECT k, n,
       |  CAST(n * sxy - sx * sy AS DOUBLE)
       |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
       |         * CAST(n * syy - sy * sy AS DOUBLE)) AS r
       |FROM m ORDER BY k""".stripMargin
  }

  private val CorrCols = Seq(
    "l_quantity" -> "quantity", "l_extendedprice" -> "price",
    "l_discount" -> "discount", "l_tax" -> "tax")
  private val CorrPairs: Seq[(String, String)] = {
    val names = CorrCols.map(_._2)
    for { i <- names.indices; j <- (i + 1) until names.size }
      yield (names(i), names(j))
  }
  private def qCorrelationMatrix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scaled = CorrCols.map { case (c, a) =>
      floor(col(c) * 100 + 0.5).cast("decimal(38,0)").as(a) }
    val base = Tables.lineitem(s, d).select(scaled: _*)
    val aggs =
      Seq(count(lit(1)).as("n")) ++
      CorrCols.map(_._2).flatMap(a =>
        Seq(sum(col(a)).as(s"s_$a"), sum(col(a) * col(a)).as(s"ss_$a"))) ++
      CorrPairs.map { case (a, b) => sum(col(a) * col(b)).as(s"sp_${a}_$b") }
    val m = base.agg(aggs.head, aggs.tail: _*)
    val pairRows = CorrPairs.map { case (a, b) =>
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        ((col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")).cast("double") /
          sqrt((col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")).cast("double") *
            (col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")).cast("double")))
          .as("r"))
    }
    m.select(col("n"), explode(array(pairRows: _*)).as("p"))
      .select($"p.col_x", $"p.col_y", $"n", $"p.r")
      .orderBy($"col_x", $"col_y")
  }
  private val qCorrelationMatrixSql = {
    def q(c: String) = s"CAST(floor($c * 100 + 0.5) AS HUGEINT)"
    val src = CorrCols.map { case (c, a) => s"${q(c)} AS $a" }.mkString(", ")
    val moments =
      CorrCols.map(_._2).map(a => s"SUM($a) AS s_$a, SUM($a * $a) AS ss_$a")
        .mkString(", ") + ", " +
      CorrPairs.map { case (a, b) => s"SUM($a * $b) AS sp_${a}_$b" }.mkString(", ")
    val rows = CorrPairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE)
         |    / sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)
         |         * CAST(n * ss_$b - s_$b * s_$b AS DOUBLE)) AS r
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sc AS (SELECT $src FROM lineitem),
       |m AS (SELECT COUNT(*) AS n, $moments FROM sc)
       |$rows
       |ORDER BY col_x, col_y""".stripMargin
  }

  private def qRegression(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qx = floor($"l_quantity" * 100 + 0.5).cast("decimal(38,0)")
    val qy = floor($"l_extendedprice" * 100 + 0.5).cast("decimal(38,0)")
    val num = ($"n" * $"sxy" - $"sx" * $"sy").cast("double")
    val denx = ($"n" * $"sxx" - $"sx" * $"sx").cast("double")
    val deny = ($"n" * $"syy" - $"sy" * $"sy").cast("double")
    Tables.lineitem(s, d)
      .select($"l_returnflag", qx.as("x"), qy.as("y"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"x" * $"y").as("sxy"))
      .select($"l_returnflag", $"n",
        (num / denx).as("slope"),
        (($"sy".cast("double") - num / denx * $"sx".cast("double"))
          / $"n" / 100.0).as("intercept"),
        (num / sqrt(denx * deny)).as("r"))
      .orderBy($"l_returnflag")
  }
  private val qRegressionSql = {
    val qx = "CAST(floor(l_quantity * 100 + 0.5) AS HUGEINT)"
    val qy = "CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT)"
    s"""WITH m AS (
       |  SELECT l_returnflag, COUNT(*) AS n, SUM($qx) AS sx, SUM($qy) AS sy,
       |    SUM($qx * $qx) AS sxx, SUM($qy * $qy) AS syy,
       |    SUM($qx * $qy) AS sxy
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, n,
       |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
       |    AS slope,
       |  (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
       |      / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |    / n / 100.0 AS intercept,
       |  CAST(n * sxy - sx * sy AS DOUBLE)
       |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
       |         * CAST(n * syy - sy * sy AS DOUBLE)) AS r
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  private def qVariance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q100 = floor($"l_quantity" * 100 + 0.5).cast("decimal(38,0)")
    Tables.lineitem(s, d)
      .select($"l_returnflag", q100.as("q"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"q").as("s"), sum($"q" * $"q").as("qq"))
      .select($"l_returnflag", $"n",
        ($"s".cast("double") / $"n" / 100.0).as("mean_qty"),
        (($"n" * $"qq" - $"s" * $"s").cast("double")
          / ($"n" * $"n").cast("double") / 1e4).as("var_pop"),
        sqrt(($"n" * $"qq" - $"s" * $"s").cast("double")
          / ($"n" * $"n").cast("double") / 1e4).as("stddev_pop"))
      .orderBy($"l_returnflag")
  }
  private val qVarianceSql =
    """WITH m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(CAST(floor(l_quantity * 100 + 0.5) AS HUGEINT)) AS s,
      |    SUM(CAST(floor(l_quantity * 100 + 0.5) AS HUGEINT)
      |      * CAST(floor(l_quantity * 100 + 0.5) AS HUGEINT)) AS qq
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  CAST(s AS DOUBLE) / n / 100.0 AS mean_qty,
      |  CAST(n * qq - s * s AS DOUBLE) / CAST(n * n AS DOUBLE) / 10000.0 AS var_pop,
      |  sqrt(CAST(n * qq - s * s AS DOUBLE) / CAST(n * n AS DOUBLE) / 10000.0)
      |    AS stddev_pop
      |FROM m ORDER BY l_returnflag""".stripMargin

  // -- q_recommend: item-item collaborative-filtering top-N -----------------
  // The Amazon-style item-item CF batch job (Linden et al. 2003) on top
  // of the co-purchase counts: per item, keep the TOP-10 co-purchased
  // neighbors (count desc, min-id tie-break — the truncation both
  // engines replay, and the step that bounds the item-item matrix at
  // any catalog size); per customer, score every unbought neighbor of
  // their basket by the SUM of co-purchase counts along all basket
  // paths, and surface the top-3 (score desc, min item id). Everything
  // is exact integer counts — hash-exact with no float surface. Scale
  // shape: the pair fan-out is bounded by order width (items self-join
  // per order key, the copurchase discipline); the candidate join fans
  // out baskets × 10, never baskets × catalog; both rank gates are
  // windows over already-aggregated frames.
  /** The truncated item-item neighbor lists, STAGED once per (dataset,
    * domain) — at production scale the co-occurrence model IS a stored
    * artifact (nobody rebuilds the matrix per request); staging it here
    * is the ANN-index pattern applied to the recommender. The content
    * fingerprint covers BOTH fact tables (the eval's train split
    * depends on orders, not just lineitem), so either regenerating
    * forces a rebuild. The build is the deterministic half-join chain,
    * so the staged table is bit-identical to inline derivation — which
    * is why the DuckDB oracles keep replaying it from the raw corpus. */
  private[graft] val nbrStageRuns =
    new java.util.concurrent.atomic.AtomicLong(0)
  private def stagedNeighbors(s: SparkSession, d: String, tag: String,
      oiRaw: => DataFrame): DataFrame = {
    val root = graft.Staging.once("nbrs_", d, Seq("lineitem", "orders"),
        s"v1-cf-nbrs-$tag", tag) { tmp =>
      nbrStageRuns.incrementAndGet()
      buildNeighbors(oiRaw).write.mode("overwrite").parquet(s"$tmp/nbrs")
    }
    Tables.parquet(s, s"$root/nbrs")
  }

  /** The neighbor-list BUILD (queries read [[stagedNeighbors]]). */
  private def buildNeighbors(oiRaw: DataFrame): DataFrame = {
    val s = oiRaw.sparkSession
    import s.implicits._
    // repartition BEFORE distinct: HashPartitioning(o) satisfies the
    // (o, p) distinct's clustering (subset rule) AND the self-join's
    // o-equality — one shuffle serves all three, and the checkpoint
    // pins the layout so both join sides read it exchange-free
    val oi = oiRaw.repartition($"o").distinct()
      .localCheckpoint() // feeds both sides of the pair join
    // support floor BEFORE truncation: a single co-occurrence is noise
    // at every scale (the assoc-rules min-support discipline) — and it
    // is also what keeps the candidate fan-out sane (23× fewer
    // candidate rows at sf0.1; singleton-count ties would otherwise
    // fill every top-10 list with id-ordered noise)
    // count each UNDIRECTED pair once (a < b halves the aggregate) and
    // symmetrize only the floored survivors — the count is symmetric,
    // so this is exactly the directed count at half the shuffle
    val half = oi.as("a").join(oi.as("b"),
        $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .groupBy($"a.p".as("p"), $"b.p".as("nbr"))
      .agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 2)
    val cooc = half.union(
      half.select($"nbr".as("p"), $"p".as("nbr"), $"n_ab"))
    val wnb = Window.partitionBy($"p").orderBy($"n_ab".desc, $"nbr")
    cooc.withColumn("rn", row_number().over(wnb))
      .filter($"rn" <= 10).drop("rn")
  }

  /** Basket scoring over the staged neighbor lists — shared by the
    * full-corpus query and the time-split eval. */
  private def recommendTop3(neighbors: DataFrame, ciRaw: DataFrame): DataFrame = {
    val s = neighbors.sparkSession
    import s.implicits._
    val ci = ciRaw // caller passes the DISTINCT, checkpointed basket
    // the truncated item-item matrix is items × 10 — catalog-sized, not
    // corpus-sized — so it broadcasts at any data scale; baskets never
    // shuffle for the fan-out join
    val cand = ci.join(broadcast(neighbors), "p")
      .groupBy($"cust", $"nbr")
      .agg(sum($"n_ab").as("score"), count(lit(1)).as("n_paths"))
      .join(ci.select($"cust", $"p".as("nbr")), Seq("cust", "nbr"), "left_anti")
    val wtop = Window.partitionBy($"cust").orderBy($"score".desc, $"nbr")
    cand.withColumn("rank", row_number().over(wtop))
      .filter($"rank" <= 3)
      .select($"cust".as("custkey"), $"rank".cast("long").as("rank"),
        $"nbr".as("rec_part"), $"score", $"n_paths")
  }

  private def qRecommend(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ci = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("cust"), $"l_partkey".as("p")).distinct()
      .localCheckpoint() // basket side + the already-bought anti-join
    val nbrs = stagedNeighbors(s, d, "full",
      Tables.lineitem(s, d).select($"l_orderkey".as("o"), $"l_partkey".as("p")))
    recommendTop3(nbrs, ci)
      .orderBy($"custkey", $"rank")
  }
  private val qRecommendSql =
    """WITH oi AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |            FROM lineitem),
      |half AS (SELECT a.p AS p, b.p AS nbr, COUNT(*) AS n_ab
      |         FROM oi a JOIN oi b ON a.o = b.o AND a.p < b.p
      |         GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |cooc AS (SELECT p, nbr, n_ab FROM half
      |         UNION ALL SELECT nbr, p, n_ab FROM half),
      |nb AS (SELECT p, nbr, n_ab FROM (
      |    SELECT p, nbr, n_ab, row_number() OVER (PARTITION BY p
      |      ORDER BY n_ab DESC, nbr) AS rn FROM cooc) WHERE rn <= 10),
      |ci AS (SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS p
      |       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |cand AS (SELECT ci.cust, nb.nbr,
      |    CAST(SUM(nb.n_ab) AS BIGINT) AS score, COUNT(*) AS n_paths
      |  FROM ci JOIN nb ON nb.p = ci.p
      |  GROUP BY 1, 2),
      |fresh AS (SELECT c.* FROM cand c
      |  WHERE NOT EXISTS (SELECT 1 FROM ci
      |    WHERE ci.cust = c.cust AND ci.p = c.nbr)),
      |ranked AS (SELECT cust, nbr, score, n_paths,
      |    row_number() OVER (PARTITION BY cust
      |      ORDER BY score DESC, nbr) AS rank FROM fresh)
      |SELECT cust AS custkey, rank, nbr AS rec_part, score, n_paths
      |FROM ranked WHERE rank <= 3
      |ORDER BY custkey, rank""".stripMargin

  // -- q_hits: hubs & authorities on the purchase bipartite graph ----------
  // HITS (Kleinberg 1999) where PageRank doesn't fit: the purchase
  // graph is BIPARTITE (customers → parts), so importance is two
  // mutually-recursive scores — a part is an authority if big-basket
  // hubs buy it; a customer is a hub if they buy authoritative parts.
  // Fixed 3 rounds (the pagerank unroll discipline — HITS converges
  // geometrically in the spectral gap, and the top-20 gate is stable
  // well before the scores are), all state exact
  // 128-bit integers (decimal(38,0) / HUGEINT): each half-round is one
  // narrow (id, score) equi-join + sum. The classic per-round
  // normalization exists only to tame float overflow — integer state
  // doesn't need it (raw sums grow ≤ max-degree per half-round, far
  // inside 38 digits at 3 rounds; the depth/width budget is documented
  // here: rounds × log₁₀(max-degree) must stay under ~19), and global
  // per-round scale factors cancel in the RANKING, so one final
  // x·10⁹ div max per side — floor division on positives — yields the
  // identical order with bit-exact oracle parity. Output: top-20 per
  // side under a pinned total order.
  private val HitsRounds = 3
  private val HitsScale = 1000000000L
  private def qHits(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the score vectors are CATALOG-sized (one row per customer /
    // per part — never corpus-sized), so each half-round BROADCASTS the
    // current scores into a map-side join against the stationary edge
    // list: the edges never shuffle, and the re-aggregation moves only
    // map-side-combined partials. This is the scale shape for bipartite
    // power iteration when one dimension is an entity catalog.
    val edges = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("cust"), $"l_partkey".as("part")).distinct()
      .localCheckpoint()
    // UN-normalized power iteration: per-round normalization only fights
    // float overflow the classic formulation has — with exact 128-bit
    // integer state the raw sums stay exact (they grow ≤ max-degree per
    // half-round; 5 rounds stays far inside 38 digits) and global
    // per-round scale factors cancel in the RANKING, so one final
    // max-normalize per side gives the identical order. That makes every
    // intermediate single-referenced: the whole recursion is ONE lazy
    // plan — no per-round checkpoint barriers, no broadcast-collect jobs
    // — and only the two final score tables materialize (each feeds a
    // max and the output union).
    // round 1 folds away: every edge's cust is in the all-ones hub init,
    // so sum(h)=count(*) per part — the first authority pass is the part
    // DEGREE, straight off the edge list. That deletes the hub-init
    // distinct (a full shuffle), its checkpoint job, and one broadcast
    // join pass over the edges; rounds 2..n are unchanged.
    var auth = edges.groupBy($"part")
      .agg(count(lit(1)).cast("decimal(38,0)").as("a"))
    var hub: DataFrame = null
    for (_ <- 2 to HitsRounds) {
      hub = edges.join(broadcast(auth), "part")
        .groupBy($"cust").agg(sum($"a").as("h"))
      auth = edges.join(broadcast(hub), "cust")
        .groupBy($"part").agg(sum($"h").as("a"))
    }
    // LAZY checkpoints (r18): plan collapse is all these need — auth is
    // referenced twice below (hub's broadcast build + the union), and
    // the broadcast collect materializes and persists the blocks inside
    // the ONE final job, where eager spent two scheduler jobs here.
    auth = auth.localCheckpoint(eager = false)
    hub = edges.join(broadcast(auth), "part")
      .groupBy($"cust").agg(sum($"a").as("h"))
      .localCheckpoint(eager = false)
    // r18: the per-side max rides the SAME window partitioning the rank
    // already needs — max(v) OVER (PARTITION BY side) — instead of two
    // separate agg jobs (am, hm) each feeding a crossJoin broadcast:
    // four scheduler jobs deleted, zero new exchanges (both windows
    // share one hash partition by side), and the score expression is
    // the identical decimal×long integral `div` on the identical
    // operands, so every score bit matches.
    val both = auth
      .select(lit("authority").as("side"), $"part".as("id"), $"a".as("v"))
      .unionAll(hub
        .select(lit("hub").as("side"), $"cust".as("id"), $"h".as("v")))
    val w = Window.partitionBy($"side").orderBy($"score".desc, $"id")
    both
      .withColumn("score",
        expr(s"v * $HitsScale div (max(v) OVER (PARTITION BY side))"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 20)
      .select($"side", $"rank".cast("long").as("rank"), $"id", $"score")
      .orderBy($"side", $"rank")
  }
  private val qHitsSql = {
    val rounds = (0 until HitsRounds).map { t =>
      s"""a${t + 1} AS MATERIALIZED (SELECT e.part, SUM(h.h) AS a
         |  FROM edges e JOIN h$t h ON h.cust = e.cust GROUP BY e.part),
         |h${t + 1} AS MATERIALIZED (SELECT e.cust, SUM(a.a) AS h
         |  FROM edges e JOIN a${t + 1} a ON a.part = e.part
         |  GROUP BY e.cust)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |h0 AS (SELECT DISTINCT cust, CAST(1 AS HUGEINT) AS h FROM edges),
       |$rounds,
       |am AS (SELECT MAX(a) AS mx FROM a$HitsRounds),
       |hm AS (SELECT MAX(h) AS mx FROM h$HitsRounds),
       |both_sides AS (
       |  SELECT 'authority' AS side, part AS id,
       |    CAST(a * $HitsScale // mx AS BIGINT) AS score
       |  FROM a$HitsRounds CROSS JOIN am
       |  UNION ALL
       |  SELECT 'hub', cust, CAST(h * $HitsScale // mx AS BIGINT)
       |  FROM h$HitsRounds CROSS JOIN hm),
       |r AS (SELECT side, id, score, row_number() OVER (PARTITION BY side
       |    ORDER BY score DESC, id) AS rank FROM both_sides)
       |SELECT side, rank, id, score FROM r WHERE rank <= 20
       |ORDER BY side, rank""".stripMargin
  }

  // -- q_recommend_eval: time-split hit-rate for the recommender -----------
  // The monitor-per-artifact rule applied to q_recommend (ANN ships
  // recall + nDCG, LSH its candidate recall, CMS its overcount row —
  // a recommender without a held-out hit rate is an unmeasured model):
  // split orders at the EXACT 75% count position of the order-date
  // order (same-day orders stay together — the q_time_split rule),
  // build the identical CF chain on TRAIN only (shared code, so model
  // drift between query and eval is a compile error), and score the
  // top-3 against each customer's NEWLY-bought test parts (test
  // purchases minus the train basket — repeat buys are not
  // predictions). Metrics are exact integers: evaluated users (have
  // recs AND new test activity), hit users (≥1 of top-3 bought),
  // hit-rate and precision@3 as micro-quotients.
  private def qRecommendEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey",
        expr("CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)")
          .as("ts"))
    // the boundary window runs over DISTINCT ORDER DATES — a
    // calendar-bounded domain at any corpus size, so the plain global
    // window is scale-safe here (unlike row-valued splits, which go
    // through valueKeyedCums)
    val days = ord.groupBy($"ts").agg(count(lit(1)).as("c"))
    val wd = Window.orderBy($"ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val b = days
      .withColumn("cum_c", sum($"c").over(wd))
      .withColumn("tot_c", sum($"c").over(Window.partitionBy()))
      .agg(min(when($"cum_c" >= ceil($"tot_c" * 0.75), $"ts")).as("t75"))
    // tagged stays LAZY: its three consumers re-run only a cheap
    // orders scan, cheaper than an eager checkpoint barrier
    val tagged = ord.crossJoin(broadcast(b))
      .withColumn("is_train", $"ts" <= $"t75")
    val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey")
    val trainOrders = tagged.filter($"is_train")
    val oiTrain = li.join(trainOrders.select($"o_orderkey"), $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p"))
    // ONE distinct train basket serves the CF chain, the anti-join
    // inside it, and the new-part filter below
    val ciT = li.join(trainOrders, $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("cust"), $"l_partkey".as("p")).distinct()
      .localCheckpoint()
    val recs = recommendTop3(stagedNeighbors(s, d, "t75", oiTrain), ciT)
    val testPos = li
      .join(tagged.filter(!$"is_train"), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("cust"), $"l_partkey".as("p")).distinct()
      .join(ciT, Seq("cust", "p"), "left_anti")
      .localCheckpoint()
    val recHits = recs
      .join(testPos.select($"cust".as("custkey"), $"p".as("rec_part"),
        lit(1L).as("hit")), Seq("custkey", "rec_part"), "left")
    val perUser = recHits.groupBy($"custkey")
      .agg(count(lit(1)).as("n_recs"),
        sum(coalesce($"hit", lit(0L))).as("n_hits"))
      .join(testPos.groupBy($"cust".as("custkey"))
        .agg(count(lit(1)).as("n_new")), Seq("custkey"), "left")
      .na.fill(0L, Seq("n_new"))
    perUser.agg(
        count(lit(1)).as("n_users_recd"),
        sum(when($"n_new" > 0, 1L).otherwise(0L)).as("n_users_eval"),
        sum(when($"n_new" > 0 && $"n_hits" > 0, 1L).otherwise(0L))
          .as("n_hit_users"),
        sum(when($"n_new" > 0, $"n_recs").otherwise(0L)).as("n_rec_rows"),
        sum(when($"n_new" > 0, $"n_hits").otherwise(0L)).as("n_rec_hits"))
      .select($"n_users_recd", $"n_users_eval", $"n_hit_users",
        $"n_rec_rows", $"n_rec_hits",
        expr("n_hit_users * 1000000 div n_users_eval").as("hit_rate_micro"),
        expr("n_rec_hits * 1000000 div n_rec_rows").as("prec3_micro"))
  }
  private val qRecommendEvalSql =
    """WITH ord AS (SELECT o_orderkey, o_custkey,
      |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS ts FROM orders),
      |dy AS (SELECT ts, COUNT(*) AS c FROM ord GROUP BY ts),
      |cu AS (SELECT ts,
      |    SUM(c) OVER (ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c,
      |    SUM(c) OVER () AS tot_c FROM dy),
      |b AS (SELECT MIN(CASE WHEN cum_c >= ceil(tot_c * 0.75) THEN ts END)
      |        AS t75 FROM cu),
      |tagged AS MATERIALIZED (SELECT o.*, o.ts <= b.t75 AS is_train
      |  FROM ord o CROSS JOIN b),
      |oi AS MATERIALIZED (SELECT DISTINCT l.l_orderkey AS o,
      |    l.l_partkey AS p
      |  FROM lineitem l JOIN tagged t ON t.o_orderkey = l.l_orderkey
      |  WHERE t.is_train),
      |half AS (SELECT a.p AS p, b.p AS nbr, COUNT(*) AS n_ab
      |         FROM oi a JOIN oi b ON a.o = b.o AND a.p < b.p
      |         GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |cooc AS (SELECT p, nbr, n_ab FROM half
      |         UNION ALL SELECT nbr, p, n_ab FROM half),
      |nb AS (SELECT p, nbr, n_ab FROM (
      |    SELECT p, nbr, n_ab, row_number() OVER (PARTITION BY p
      |      ORDER BY n_ab DESC, nbr) AS rn FROM cooc) WHERE rn <= 10),
      |ci AS MATERIALIZED (SELECT DISTINCT t.o_custkey AS cust,
      |    l.l_partkey AS p
      |  FROM lineitem l JOIN tagged t ON t.o_orderkey = l.l_orderkey
      |  WHERE t.is_train),
      |cand AS (SELECT ci.cust, nb.nbr,
      |    CAST(SUM(nb.n_ab) AS BIGINT) AS score, COUNT(*) AS n_paths
      |  FROM ci JOIN nb ON nb.p = ci.p GROUP BY 1, 2),
      |fresh AS (SELECT c.* FROM cand c
      |  WHERE NOT EXISTS (SELECT 1 FROM ci
      |    WHERE ci.cust = c.cust AND ci.p = c.nbr)),
      |recs AS MATERIALIZED (SELECT cust, nbr FROM (
      |    SELECT cust, nbr, row_number() OVER (PARTITION BY cust
      |      ORDER BY score DESC, nbr) AS rank FROM fresh) WHERE rank <= 3),
      |tp AS MATERIALIZED (SELECT cust, p FROM (
      |    SELECT DISTINCT t.o_custkey AS cust, l.l_partkey AS p
      |    FROM lineitem l JOIN tagged t ON t.o_orderkey = l.l_orderkey
      |    WHERE NOT t.is_train) x
      |  WHERE NOT EXISTS (SELECT 1 FROM ci
      |    WHERE ci.cust = x.cust AND ci.p = x.p)),
      |pu AS (SELECT r.cust, COUNT(*) AS n_recs,
      |    CAST(SUM(CASE WHEN tp.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_hits,
      |    COALESCE(MAX(nn.n_new), 0) AS n_new
      |  FROM recs r
      |  LEFT JOIN tp ON tp.cust = r.cust AND tp.p = r.nbr
      |  LEFT JOIN (SELECT cust, COUNT(*) AS n_new FROM tp GROUP BY cust) nn
      |    ON nn.cust = r.cust
      |  GROUP BY r.cust)
      |SELECT COUNT(*) AS n_users_recd,
      |  CAST(SUM(CASE WHEN n_new > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_users_eval,
      |  CAST(SUM(CASE WHEN n_new > 0 AND n_hits > 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_hit_users,
      |  CAST(SUM(CASE WHEN n_new > 0 THEN n_recs ELSE 0 END) AS BIGINT)
      |    AS n_rec_rows,
      |  CAST(SUM(CASE WHEN n_new > 0 THEN n_hits ELSE 0 END) AS BIGINT)
      |    AS n_rec_hits,
      |  CAST(SUM(CASE WHEN n_new > 0 AND n_hits > 0 THEN 1 ELSE 0 END)
      |    * 1000000 // SUM(CASE WHEN n_new > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hit_rate_micro,
      |  CAST(SUM(CASE WHEN n_new > 0 THEN n_hits ELSE 0 END)
      |    * 1000000 // SUM(CASE WHEN n_new > 0 THEN n_recs ELSE 0 END)
      |    AS BIGINT) AS prec3_micro
      |FROM pu""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_recommend_eval", qRecommendEval, Some(qRecommendEvalSql)),
    QueryDef("q_hits", qHits, Some(qHitsSql)),
    QueryDef("q_recommend", qRecommend, Some(qRecommendSql)),
    QueryDef("q_variance", qVariance, Some(qVarianceSql)),
    QueryDef("q_regression", qRegression, Some(qRegressionSql)),
    QueryDef("q_correlation_matrix", qCorrelationMatrix, Some(qCorrelationMatrixSql)),
    QueryDef("q_autocorr", qAutocorr, Some(qAutocorrSql)),
    QueryDef("q_assoc_rules", qAssocRules, Some(qAssocRulesSql)),
    QueryDef("q_rank_functions", qRankFunctions, Some(qRankFunctionsSql)),
    QueryDef("q_copurchase_pairs", qCopurchasePairs, Some(qCopurchasePairsSql)),
    QueryDef("q_lateral_join", lateralJoin, Some(lateralJoinSql)),
    QueryDef("q_approx_distinct", qApproxDistinct, Some(qApproxDistinctSql)),
    QueryDef("q1_agg", q1, Some(q1Sql)),
    QueryDef("q6_filter_agg", q6, Some(q6Sql)),
    QueryDef("q_top_supplier", qTopSupplier, Some(qTopSupplierSql)),
    QueryDef("q3_join_agg", q3, Some(q3Sql)),
    QueryDef("q5_multijoin", q5, Some(q5Sql)),
    QueryDef("q4_semi_join", qSemi, Some(qSemiSql)),
    QueryDef("q_anti_join", qAnti, Some(qAntiSql)),
    QueryDef("q_window_topn_per_group", qWindow, Some(qWindowSql)),
    QueryDef("q_window_running_sum", qRunning, Some(qRunningSql)),
    QueryDef("q_topk", qTopK, Some(qTopKSql)),
    QueryDef("q_distinct", qDistinct, Some(qDistinctSql)),
    QueryDef("q_rollup", qRollup, Some(qRollupSql)),
    QueryDef("q_grouping_sets", qGroupingSets, Some(qGroupingSetsSql)),
    QueryDef("q_cube", qCube, Some(qCubeSql)),
    QueryDef("q_setops", qSetops, Some(qSetopsSql)),
    QueryDef("q_case_pivot", qCasePivot, Some(qCasePivotSql)),
    QueryDef("q_scalar_subquery", qScalarSubquery, Some(qScalarSubquerySql)),
    QueryDef("q_large_join", qLargeJoin, Some(qLargeJoinSql)),
  )
}

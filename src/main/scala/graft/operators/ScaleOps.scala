package graft.operators

import graft.{QueryDef, Staging, Tables}
import graft.functions.GraftFunctions.md5lower64
import graft.OracleMath._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale techniques made concrete (SURVEY.md §5): partition pruning,
  * bucketed co-located joins, and salted skew joins. Each query's
  * result has a plain DuckDB oracle (the technique must not change the
  * answer — only the plan), and PlanSpec asserts the plan property the
  * technique exists for.
  */
object ScaleOps {

  // -- partitioned layout + partition pruning ------------------------------
  // Hive-style partition directories: a filter on the partition column
  // never touches non-matching files (PartitionFilters, not a data
  // filter) — at 100 TB, date/tenant partitioning is the first-line
  // data-skipping mechanism.
  def partitionedOrders(s: SparkSession, d: String): String = {
    val out = Staging.scratch("io_partition_pruning", d)
    Tables.orders(s, d).write.mode("overwrite")
      .partitionBy("o_orderpriority").parquet(out)
    out
  }

  private def partitionPruning(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = partitionedOrders(s, d)
    Tables.parquet(s, out)
      .filter($"o_orderpriority" === "1-URGENT")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
  }
  private val partitionPruningSql =
    s"""SELECT COUNT(*) AS n, ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin

  // -- dynamic partition pruning -------------------------------------------
  // The fact's partition filter is unknown at plan time — it comes from
  // a predicate on the DIM side of a join. Static pruning can't help;
  // DPP turns the dim side's surviving join keys into a runtime filter
  // on the fact's FILE LISTING (reusing the join's broadcast), so the
  // fact scan touches only matching partitions. At 100 TB star-schema
  // scale this is the mechanism that makes "join the last-week dim
  // slice" read a week, not the decade. PlanSpec pins
  // `dynamicpruningexpression` in the fact scan's PartitionFilters.
  /** Stages a priority dim table derived from the data (distinct
    * priorities + their numeric urgency); returns its path. */
  def dppDim(s: SparkSession, d: String): String = {
    import s.implicits._
    val dim = Staging.scratch("q_dpp_dim", d)
    Tables.orders(s, d).select($"o_orderpriority").distinct()
      .withColumn("urgency", split($"o_orderpriority", "-")(0).cast("int"))
      .coalesce(1).write.mode("overwrite").parquet(dim)
    dim
  }

  /** The partitioned-fact ⋈ filtered-dim join alone (for PlanSpec). */
  def dppJoinOnly(s: SparkSession, fact: String, dim: String): DataFrame = {
    import s.implicits._
    Tables.parquet(s, fact)
      .join(Tables.parquet(s, dim).filter($"urgency" <= 2), "o_orderpriority")
  }

  private def dppJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fact = partitionedOrders(s, d)
    val dim = dppDim(s, d)
    dppJoinOnly(s, fact, dim)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderpriority")
  }
  private val dppJoinSql =
    s"""WITH dim AS (SELECT DISTINCT o_orderpriority,
       |    CAST(split_part(o_orderpriority, '-', 1) AS INT) AS urgency
       |  FROM orders)
       |SELECT o.o_orderpriority, COUNT(*) AS n,
       |  ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders o JOIN dim USING (o_orderpriority)
       |WHERE urgency <= 2
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -- parquet bloom filters: point-lookup row-group skipping --------------
  // Min/max stats (z-order, compaction) prune RANGE predicates; they do
  // nothing for a point lookup on a high-cardinality UNSORTED key —
  // every row group's [min, max] spans the probe. A parquet bloom
  // filter per row group answers "definitely absent?" in a few KB, so
  // an equality scan skips the row groups that cannot contain the key:
  // the lakehouse answer to needle-in-100 TB lookups without
  // maintaining a sorted layout. Written via parquet writer options —
  // no extra pass; the reader consults it automatically for pushed
  // equality filters.
  def bloomTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val out = Staging.scratch("io_parquet_bloom", d)
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .repartition(4)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#l_orderkey", "true")
      .option("parquet.bloom.filter.expected.ndv#l_orderkey", "200000")
      // parquet silently SKIPS the bloom for a fully dictionary-encoded
      // column (the dictionary already answers membership exactly);
      // at real scale a 10⁹-key column overflows the dictionary page
      // anyway, but at test scale it must be disabled explicitly or no
      // bloom is written at all — PlanSpec asserts it exists
      .option("parquet.enable.dictionary#l_orderkey", "false")
      .parquet(out)
    out
  }

  private def parquetBloom(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.parquet(s, bloomTable(s, d))
      .filter($"l_orderkey" === 40)
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("sum_price"))
  }
  private val parquetBloomSql =
    s"""SELECT COUNT(*) AS n, ${sqlSum("l_extendedprice")} AS sum_price
       |FROM lineitem WHERE l_orderkey = 40""".stripMargin

  // -- parquet page-index skipping: the layer BELOW row groups -------------
  // The last layer of the skipping stack (manifest zone maps prune
  // files, row-group stats prune groups, bloom filters prune groups for
  // point probes): the parquet COLUMN INDEX stores per-PAGE min/max, so
  // a selective range predicate over a sorted column decodes only the
  // pages whose [min, max] intersect it — inside a row group the stats
  // alone would admit whole. On a 100 TB sorted table that is the
  // difference between decoding a 128 MB row group and the ~1 MB of
  // pages that actually contain the range. Layout staged once (content-
  // fingerprinted): one file, one row group (so NOTHING above the page
  // layer can explain the skip — the Round13 spec pins scan output rows
  // « row count with the column index on, == row count with it off),
  // sorted by the probe key, small pages so the index has resolution.
  def pageIndexTable(s: SparkSession, d: String): String = {
    import s.implicits._
    // v2: 500-row pages (5k pages were coarser than the probe range at
    // small SF — the index needs resolution ≪ range); v3: 1 GiB row
    // groups, so "one file, one row group" is ENFORCED at write time
    // rather than implied by data size — at larger SF the projection
    // would otherwise split at parquet's default ~128 MB and row-group
    // stats would start pruning, contaminating the spec's
    // page-vs-row-group separation control
    Staging.once("pidata_", d, Seq("lineitem"), "v3-page-index") { tmpDir =>
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_returnflag", $"l_extendedprice")
        .coalesce(1)
        .sortWithinPartitions($"l_orderkey")
        .write.mode("overwrite")
        // small pages give the column index resolution; the row-count
        // limit binds before the byte size on this narrow projection
        .option("parquet.page.row.count.limit", "500")
        .option("parquet.page.size", "16384")
        .option("parquet.block.size", (1L << 30).toString)
        .parquet(s"$tmpDir/data")
    }
  }

  private def pageIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.parquet(s, s"${pageIndexTable(s, d)}/data")
      .filter($"l_orderkey".between(1000L, 1200L))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"l_returnflag")
  }
  private val pageIndexSql =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${sqlSum("l_extendedprice")} AS sum_price
       |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 1200
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -- zstd-compressed parquet ---------------------------------------------
  // Codec choice is a first-order cost lever at 100 TB: zstd typically
  // cuts parquet bytes 20-40% vs snappy at comparable decode speed —
  // that ratio is storage cost AND scan IO AND shuffle-read time. The
  // roundtrip proves content fidelity under the codec (oracle on the
  // plaintext table); the spec measures the size win on this corpus.
  def zstdDirs(s: SparkSession, d: String): (String, String) = {
    import s.implicits._
    val root = Staging.scratch("io_zstd", d)
    val src = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_extendedprice", $"l_returnflag", $"l_shipdate")
    src.write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$root/zstd")
    src.write.mode("overwrite").option("compression", "snappy")
      .parquet(s"$root/snappy")
    (s"$root/zstd", s"$root/snappy")
  }

  private def zstdRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (zstd, _) = zstdDirs(s, d)
    Tables.parquet(s, zstd)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("sum_price"),
        max($"l_shipdate").as("max_ship"))
      .orderBy($"l_returnflag")
  }
  private val zstdRoundtripSql =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${sqlSum("l_extendedprice")} AS sum_price,
       |  MAX(l_shipdate) AS max_ship
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- bucketed co-located join --------------------------------------------
  // Both fact tables bucketed on the join key at write time: the join
  // reads co-located buckets and needs NO shuffle at read time — the
  // pattern that amortizes one shuffle across every future join on that
  // key. (Bucket metadata lives in the session catalog; at cluster
  // scale this is a Hive-metastore/Iceberg table property.)
  /** Writes both sides bucketed on the join key (external tables in the
    * session catalog). Stage-once per dataset content (the whole point
    * of bucketing is amortizing ONE shuffle across every future join on
    * the key — rewriting per query run un-amortizes it); a fresh
    * session over an existing stage re-registers the tables in place. */
  def ensureBucketedTables(s: SparkSession, d: String): Unit = {
    import s.implicits._
    val wh = Staging.scratch("q_bucketed_join_wh", d)
    val fmt = s"v2-bucketed|${Tables.stagingKey(d, "lineitem")._2}|${Tables.stagingKey(d, "orders")._2}"
    def register(name: String, cols: String, keyCol: String, dir: String): Unit =
      if (!s.catalog.tableExists(name))
        s.sql(s"""CREATE TABLE $name ($cols) USING PARQUET
                 |CLUSTERED BY ($keyCol) SORTED BY ($keyCol) INTO 8 BUCKETS
                 |LOCATION '$wh/$dir'""".stripMargin)
    if (Staging.isCurrent(wh, fmt)) {
      register("graft_li_bucketed",
        "l_orderkey BIGINT, l_extendedprice DOUBLE, l_linestatus STRING",
        "l_orderkey", "li")
      register("graft_ord_bucketed",
        "o_orderkey BIGINT, o_orderstatus STRING", "o_orderkey", "ord")
      return
    }
    s.sql("DROP TABLE IF EXISTS graft_li_bucketed")
    s.sql("DROP TABLE IF EXISTS graft_ord_bucketed")
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_extendedprice", $"l_linestatus")
      .write.mode("overwrite").option("path", s"$wh/li")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_li_bucketed")
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderstatus")
      .write.mode("overwrite").option("path", s"$wh/ord")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_ord_bucketed")
    Staging.mark(wh, fmt)
  }

  /** Join of the two bucketed tables alone — reads co-located buckets,
    * so the plan must contain NO shuffle (PlanSpec asserts this). */
  def bucketedJoinOnly(s: SparkSession): DataFrame = {
    import s.implicits._
    s.table("graft_li_bucketed")
      .join(s.table("graft_ord_bucketed"), $"l_orderkey" === $"o_orderkey")
  }

  private def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    ensureBucketedTables(s, d)
    bucketedJoinOnly(s)
      .groupBy($"o_orderstatus", $"l_linestatus")
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"o_orderstatus", $"l_linestatus")
  }
  private val bucketedJoinSql =
    s"""SELECT o_orderstatus, l_linestatus, COUNT(*) AS n,
       |  ${sqlSum("l_extendedprice")} AS sum_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus, l_linestatus
       |ORDER BY o_orderstatus, l_linestatus""".stripMargin

  // -- q_bucketed_agg: shuffle-free aggregation on the bucket key -----------
  // The aggregation half of bucketing (q_bucketed_join is the join
  // half): a groupBy on the bucket key is satisfied by the TABLE
  // LAYOUT — the per-orderkey aggregate runs with ZERO exchange before
  // it (PlanSpec pins exactly one Exchange in the whole plan: the
  // O(distinct line-counts) histogram rollup after). At 100 TB this is
  // the difference between re-shuffling the fact table on every
  // per-entity aggregation and never shuffling it at all — the layout
  // paid the shuffle once at write time. Output folds to the
  // lines-per-order histogram with exact revenue cents so the oracle
  // is layout-free.
  private def bucketedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    ensureBucketedTables(s, d)
    s.table("graft_li_bucketed")
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(floor($"l_extendedprice" * 100 + 0.5).cast("long")).as("cents"))
      .groupBy($"n_lines")
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("cents"))
      .orderBy($"n_lines")
  }
  private val bucketedAggSql =
    """WITH per AS (SELECT l_orderkey, COUNT(*) AS n_lines,
      |    SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents
      |  FROM lineitem GROUP BY 1)
      |SELECT n_lines, COUNT(*) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS cents
      |FROM per GROUP BY 1 ORDER BY 1""".stripMargin

  // -- salted skew join ----------------------------------------------------
  // When one join key dominates (here: the synthetic hot key = every
  // lineitem joined to its returnflag group stats), a plain shuffle
  // join lands the hot key on one reducer. Salting: explode the small
  // side S ways, scatter the big side with a random-free deterministic
  // salt (key-derived, so the result is reproducible), join on
  // (key, salt) — hot-key work spreads across S reducers. The answer is
  // identical to the unsalted join, which is what the oracle checks.
  private val Salts = 8

  private def saltedJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    // big side: deterministic salt derived from row identity
    val big = li.withColumn("salt",
      pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(Salts)))
    // small side: per-returnflag stats, exploded across all salts
    val stats = li.groupBy($"l_returnflag")
      .agg(davg($"l_discount").as("avg_disc"))
      .withColumn("salt", explode(typedlit((0 until Salts).map(_.toLong))))
    big.join(stats, Seq("l_returnflag", "salt"))
      .filter($"l_discount" > $"avg_disc")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_above_avg"), dsum($"l_quantity").as("qty_above_avg"))
      .orderBy($"l_returnflag")
  }
  private val saltedJoinSql =
    s"""WITH stats AS (
       |  SELECT l_returnflag, ${sqlAvg("l_discount")} AS avg_disc
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l.l_returnflag, COUNT(*) AS n_above_avg,
       |  ${sqlSum("l_quantity")} AS qty_above_avg
       |FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag
       |WHERE l.l_discount > s.avg_disc
       |GROUP BY l.l_returnflag
       |ORDER BY l.l_returnflag""".stripMargin

  // -- Z-order clustering for multi-dimensional data skipping --------------
  // Sorting by ONE column keeps only that column's file min/max stats
  // tight; a box predicate on two dimensions then prunes on one axis
  // only. Writing in Morton (z-value) order keeps BOTH dimensions
  // range-clustered per file, so parquet row-group stats prune on both
  // axes — at 100 TB this is the difference between scanning 10% and
  // 1% for a 2-d selective query. The spec measures actual scan
  // numOutputRows on both layouts.

  /** (linearDir, zorderDir): same rows, two physical layouts. Each
    * dimension is normalized to a 16-bit scale before interleaving —
    * raw-value interleave degenerates to a single-column sort when the
    * dimensions' magnitudes differ (the high interleaved bits all come
    * from the wider column). Min/max per dimension is one cheap agg;
    * production z-optimizers use range-partition ranks the same way. */
  def zorderDirs(s: SparkSession, d: String, files: Int = 16): (String, String) = {
    import s.implicits._
    val linear = Staging.scratch("q_zorder_linear", d)
    val li = Tables.lineitem(s, d)
      .select($"l_suppkey", $"l_partkey", $"l_extendedprice", $"l_quantity")
    li.repartitionByRange(files, $"l_suppkey")
      .sortWithinPartitions($"l_suppkey")
      .write.mode("overwrite").parquet(linear)
    (linear, zorderDir(s, d, files))
  }

  /** Just the z-ordered layout (the driver query's input; the linear
    * twin exists only for the spec's skipping comparison). */
  def zorderDir(s: SparkSession, d: String, files: Int = 16): String = {
    import s.implicits._
    import graft.functions.GraftFunctions.zorder64
    val zord = Staging.scratch("q_zorder_z", d)
    val li = Tables.lineitem(s, d)
      .select($"l_suppkey", $"l_partkey", $"l_extendedprice", $"l_quantity")
    val (sMn, sMx, pMn, pMx) = li.agg(
      min($"l_suppkey"), max($"l_suppkey"),
      min($"l_partkey"), max($"l_partkey")).as[(Long, Long, Long, Long)].head()
    def scaled(c: org.apache.spark.sql.Column, mn: Long, mx: Long) =
      floor((c - mn) * 65535L / lit(math.max(mx - mn, 1L))).cast("long")
    li.withColumn("z", zorder64(
        scaled($"l_suppkey", sMn, sMx), scaled($"l_partkey", pMn, pMx)))
      .repartitionByRange(files, $"z").sortWithinPartitions($"z").drop("z")
      .write.mode("overwrite").parquet(zord)
    zord
  }

  /** Corner-box thresholds (10% of each dimension) as literals — pushed
    * filters must be literal to reach parquet row-group stats. Integer
    * division on both engines, so the oracle computes identical bounds. */
  def zorderBox(s: SparkSession, d: String): (Long, Long) = {
    import s.implicits._
    val row = Tables.lineitem(s, d)
      .agg(max($"l_suppkey"), max($"l_partkey")).as[(Long, Long)].head()
    (row._1 / 10, row._2 / 10)
  }

  private def zorderSkipping(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val zord = zorderDir(s, d)
    val (sMax, pMax) = zorderBox(s, d)
    Tables.parquet(s, zord)
      .filter($"l_suppkey" <= sMax && $"l_partkey" <= pMax)
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("sum_price"),
        dsum($"l_quantity").as("sum_qty"))
  }
  private val zorderSkippingSql =
    s"""SELECT COUNT(*) AS n, ${sqlSum("l_extendedprice")} AS sum_price,
       |  ${sqlSum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_suppkey <= (SELECT MAX(l_suppkey) // 10 FROM lineitem)
       |  AND l_partkey <= (SELECT MAX(l_partkey) // 10 FROM lineitem)""".stripMargin

  // -- CSV / JSON source round trips ---------------------------------------
  // Schema'd text sources ride the same relation pipeline as parquet;
  // aggregating after a write→read round trip proves lossless typed I/O.
  private def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("io_csv_roundtrip", d)
    val src = Tables.nation(s, d)
    src.write.mode("overwrite").option("header", "true").csv(out)
    s.read.option("header", "true").schema(src.schema).csv(out)
      .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name").agg(count(lit(1)).as("n_nations"))
      .orderBy($"r_name")
  }
  private val csvRoundtripSql =
    """SELECT r_name, COUNT(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // -- io_csv_malformed: PERMISSIVE ingestion with corrupt-record audit -----
  // Real text feeds carry garbage; an ingest that aborts on the first
  // bad line (FAILFAST) or silently drops it (DROPMALFORMED) is not
  // auditable at 100 TB. PERMISSIVE mode + columnNameOfCorruptRecord
  // quarantines each unparseable line into a raw-text column while
  // every good row parses normally — this query writes a customer CSV,
  // injects 3 deliberately malformed lines (wrong arity, unquoted
  // delimiter, non-numeric key), reads it back PERMISSIVE and emits
  // the audit: good rows + their checksum aggregate, corrupt count.
  // The corrupt count is construction arithmetic (3 injected lines);
  // the good-row aggregates are recomputed by the oracle from the
  // source table, so a parser that drops or mangles a GOOD row fails
  // the value compare.
  private val BadCsvLines = Seq(
    "this,line,has,far,too,many,columns,to,parse,1,2,3",
    "not_a_number,unquoted,comma,in,field",
    "99999999999999999999999999,overflowed key")
  private def csvMalformed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("io_csv_malformed", d)
    val src = Tables.customer(s, d)
      .select($"c_custkey", $"c_name", $"c_acctbal")
    src.coalesce(1).write.mode("overwrite").csv(out)
    // inject the bad lines as one extra part file — the transport-level
    // corruption a merged feed delivers
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "part-bad.csv"),
      BadCsvLines.mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_custkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c_name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("c_acctbal",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("_bad",
        org.apache.spark.sql.types.StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(out)
      .agg(
        sum(when($"_bad".isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when($"_bad".isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when($"_bad".isNull, $"c_custkey").otherwise(0L)).as("key_sum"),
        dsum(when($"_bad".isNull, $"c_acctbal").otherwise(lit(0.0))).as("bal_sum"))
  }
  private val csvMalformedSql =
    s"""SELECT COUNT(*) AS n_good,
       |  CAST(${BadCsvLines.size} AS BIGINT) AS n_corrupt,
       |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
       |  ${sqlSum("c_acctbal")} AS bal_sum
       |FROM customer""".stripMargin

  private def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("io_json_roundtrip", d)
    val src = Tables.supplier(s, d)
    src.write.mode("overwrite").json(out)
    s.read.schema(src.schema).json(out)
      .agg(count(lit(1)).as("n"), dsum($"s_acctbal").as("sum_bal"),
        countDistinct($"s_nationkey").as("n_nations"))
  }
  private val jsonRoundtripSql =
    s"""SELECT COUNT(*) AS n, ${sqlSum("s_acctbal")} AS sum_bal,
       |  COUNT(DISTINCT s_nationkey) AS n_nations
       |FROM supplier""".stripMargin

  // -- RBAC over encrypted data (reference "role-based decryption") --------
  // Composition of the two reference future-work rows: the analyst role
  // sees decrypted-but-masked PII and plain business columns; denied
  // columns stay [ENCRYPTED] because their keys are never resolved.
  private def rbacDecrypt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.crypto._
    val out = Staging.scratch("crypto_rbac_decrypt", d)
    val cfg = CryptoConfig("master-rbacdec",
      Seq(ColumnPolicy("c_name", kmsMasterKeyId = Some("mk-name")),
        ColumnPolicy("c_acctbal", kmsMasterKeyId = Some("mk-bal"))))
    EncryptedParquet.write(Tables.customer(s, d), out, cfg)
    // role: may decrypt c_acctbal, NOT c_name
    val visible = EncryptedParquet.read(s, out, request = Seq("c_acctbal"), cfg)
    Rbac.Policy(Map("analyst" -> Map(
        "c_custkey" -> Rbac.Allow,
        "c_name" -> Rbac.Allow,          // still ciphertext placeholder
        "c_mktsegment" -> Rbac.Allow,
        "c_acctbal" -> Rbac.Mask(c => round(c, -2)))))  // coarse bucket
      .apply(visible, "analyst")
      .groupBy($"c_mktsegment", $"c_name")
      .agg(count(lit(1)).as("n"), dsum($"c_acctbal").as("sum_bucketed_bal"))
      .orderBy($"c_mktsegment")
  }
  private val rbacDecryptSql =
    s"""SELECT c_mktsegment, '[ENCRYPTED]' AS c_name, COUNT(*) AS n,
       |  ${sqlSum("round(c_acctbal, -2)")} AS sum_bucketed_bal
       |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // -- crypto_blind_join: equality-preserving join tokens --------------------
  // The join problem RBAC/masking leaves open: two datasets must join
  // on a sensitive key WITHOUT the join executor (or the counterparty)
  // ever seeing the raw key — the "blind index" pattern every
  // encrypted-database product ships (CipherSweet, MongoDB CSFLE
  // deterministic mode, SQL Server Always Encrypted). Each side maps
  // its key through a KEYED one-way digest token = sha256(secret ‖
  // key): equality is preserved (deterministic), the raw key is not
  // recoverable (one-way + secret), and the join runs on tokens only —
  // the plaintext key column is dropped BEFORE the exchange, so
  // nothing sensitive ever shuffles. Deterministic tokens leak
  // equality by design; that is the accepted trade every blind index
  // documents. n_tokens == distinct keys pins collision-freedom on
  // this corpus. Scale shape: a plain token-keyed shuffle join — the
  // digest adds one codegen'd map pass, no new shuffle.
  private def blindJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val secret = "graft-blind-join-demo-secret"
    def token(c: org.apache.spark.sql.Column) =
      sha2(concat(lit(secret), c.cast("string")), 256)
    val cust = Tables.customer(s, d)
      .select(token($"c_custkey").as("tok"), $"c_mktsegment")
    val ords = Tables.orders(s, d)
      .select(token($"o_custkey").as("tok"), $"o_totalprice")
    ords.join(cust, "tok")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"),
        countDistinct($"tok").as("n_tokens"))
      .orderBy($"c_mktsegment")
  }
  private val blindJoinSql =
    s"""WITH cust AS (SELECT sha256('graft-blind-join-demo-secret'
       |      || CAST(c_custkey AS VARCHAR)) AS tok, c_mktsegment
       |    FROM customer),
       |ords AS (SELECT sha256('graft-blind-join-demo-secret'
       |      || CAST(o_custkey AS VARCHAR)) AS tok, o_totalprice
       |    FROM orders)
       |SELECT c_mktsegment, COUNT(*) AS n_orders,
       |  ${sqlSum("o_totalprice")} AS sum_price,
       |  COUNT(DISTINCT tok) AS n_tokens
       |FROM ords JOIN cust USING (tok)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -- runtime Bloom-filter join pruning ------------------------------------
  // A fact⋈fact join where one side carries a selective filter: Spark's
  // InjectRuntimeFilter builds a Bloom filter over the filtered side's
  // join keys and pushes a `bloom_filter_might_contain` predicate into
  // the OTHER side's scan — at 100 TB the probe side drops ~97% of its
  // rows BEFORE the shuffle, which is the single biggest shuffle-volume
  // lever on selective fact⋈fact joins (Spark's distributed sideways
  // information passing). Locally the rule is gated off by a 10 GB scan
  // threshold, so the query scopes the confs (and disables broadcast so
  // a shuffle join actually happens), materializes under them, then
  // restores — the plan shape itself is pinned by PlanSpec.
  /** Builds the bloom-pruned join under scoped confs; shared with the
    * PlanSpec test that pins `bloom_filter_might_contain` in the plan. */
  def withBloomConfs[A](s: SparkSession)(body: => A): A = {
    val scoped = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = scoped.keys.map(k => k -> s.conf.getOption(k)).toMap
    scoped.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
  def bloomJoinPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hot = Tables.orders(s, d).filter($"o_totalprice" > 480000.0)
    Tables.lineitem(s, d)
      .join(hot, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"l_returnflag")
  }
  private def bloomJoin(s: SparkSession, d: String): DataFrame =
    withBloomConfs(s) {
      // materialize INSIDE the conf scope so the runtime filter is
      // actually planned + executed; callers get the finished result
      bloomJoinPlan(s, d).localCheckpoint()
    }
  private val bloomJoinSql =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${sqlSum("l_extendedprice")} AS sum_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_totalprice > 480000.0
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- ORC round trip ------------------------------------------------------
  // Third columnar-source format (after parquet/CSV/JSON): Spark's ORC
  // source has the same pushdown/pruning machinery as parquet. DuckDB
  // can't read ORC, so the oracle runs the same aggregate over the
  // ORIGINAL table — roundtrip fidelity IS the assertion.
  private def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("io_orc_roundtrip", d)
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_returnflag", $"l_quantity")
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .filter($"l_quantity" > 25.0)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag")
  }
  private val orcRoundtripSql =
    s"""SELECT l_returnflag, COUNT(*) AS n, ${sqlSum("l_quantity")} AS sum_qty
       |FROM lineitem WHERE l_quantity > 25.0
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- Avro round trip -----------------------------------------------------
  // Fourth interchange format, via the first-party
  // [[graft.sources.AvroLiteFileFormat]] (the environment has the Avro
  // core library but no spark-avro module). Exercises write + read +
  // date logical type + null handling through the full FileSourceScan
  // machinery; DuckDB reads no Avro either, so — like ORC — the oracle
  // runs the aggregate over the ORIGINAL table and roundtrip fidelity
  // IS the assertion.
  private def avroRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("io_avro_roundtrip", d)
    val fmt = classOf[graft.sources.AvroLiteFileFormat].getName
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice", $"o_orderdate")
      .write.format(fmt).mode("overwrite").save(out)
    s.read.format(fmt).load(out)
      .filter($"o_totalprice" > 100000.0)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"),
        max($"o_orderdate").as("max_date"))
      .orderBy($"o_orderpriority")
  }
  private val avroRoundtripSql =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${sqlSum("o_totalprice")} AS sum_price, MAX(o_orderdate) AS max_date
       |FROM orders WHERE o_totalprice > 100000.0
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -- persisted HLL sketch table + lossless merge --------------------------
  // THE approx-distinct pattern at 100 TB: sketch ONCE at ingest into a
  // per-day sketch TABLE (a few KB per group instead of the raw key
  // set), answer every later distinct question by merging sketches —
  // never a rescan of the raw data. Since r9 the sketch is the
  // DETERMINISTIC HLL register table (DetHll, the q_approx_distinct
  // machinery): per-(day, bucket) max-rho rows, merged to any coarser
  // grain by groupBy-max — max is associative, so the merge is
  // LOSSLESS by construction (weekly registers from daily shards equal
  // registers sketched from the raw week). That structure is what lets
  // the DuckDB oracle replay the whole pipeline from the raw events
  // and VALUE-match the merged estimates — a stored-sketch pattern an
  // engine-opaque binary (DataSketches) cannot oracle.
  def dailySketchTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val out = Staging.scratch("hll_regs", d)
    val ev = Tables.events(s, d).withColumn("day", date_trunc("day", $"ts"))
    DetHll.registers(ev, Seq("day"), $"user_id")
      .write.mode("overwrite").parquet(s"$out/registers")
    ev.groupBy($"day").agg(count(lit(1)).as("n_events"))
      .write.mode("overwrite").parquet(s"$out/days")
    out
  }
  private def hllSketchMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = dailySketchTable(s, d)
    // lossless merge: weekly registers = max over the daily shards
    val weekRegs = Tables.parquet(s, s"$root/registers")
      .groupBy(date_trunc("week", $"day").as("week"), $"bucket")
      .agg(max($"m").as("m"))
    val est = DetHll.estimate(weekRegs, Seq("week"), "approx_users")
    val wk = Tables.parquet(s, s"$root/days")
      .groupBy(date_trunc("week", $"day").as("week"))
      .agg(count(lit(1)).as("n_days"), sum($"n_events").as("n_events"))
    wk.join(est, "week")
      .select(date_format($"week", "yyyy-MM-dd").as("week_start"),
        $"n_days", $"approx_users", $"n_events")
      .orderBy($"week_start")
  }
  private val hllSketchMergeSql = {
    val regs = DetHll.registersSql(
      "(SELECT date_trunc('week', ts) AS week, user_id FROM events)",
      "week", "user_id")
    s"""WITH est AS (${DetHll.estimateSql(s"($regs)", "week", "approx_users")}),
       |wk AS (SELECT date_trunc('week', day) AS week, COUNT(*) AS n_days,
       |    CAST(SUM(n) AS BIGINT) AS n_events
       |  FROM (SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
       |        FROM events GROUP BY 1) GROUP BY 1)
       |SELECT strftime(wk.week, '%Y-%m-%d') AS week_start, n_days,
       |  approx_users, n_events
       |FROM wk JOIN est ON wk.week = est.week ORDER BY week_start""".stripMargin
  }

  // -- HLL set-intersection estimate ----------------------------------------
  // The audience-overlap question ("how many users did BOTH X and Y?")
  // answered from SKETCHES, never a key join: registers for each side
  // plus their lossless union (bucket-wise max), then inclusion-
  // exclusion |A∩B| ≈ E(A) + E(B) − E(A∪B) — the standard HLL
  // intersection (sketches can't intersect directly; the union CAN
  // merge losslessly, so the identity is exact up to estimator error).
  // At 100 TB both sides' raw key sets are huge but each register
  // table is 4096 rows; the exact intersection (a distinct semi-join)
  // rides along as the accuracy accounting, same pattern as
  // q_ann_recall / q_cms_freq. DetHll determinism makes every value —
  // estimates, error — replayable in the oracle.
  private def hllIntersect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    // value >= 150 keeps the audiences PARTIALLY overlapping (the
    // synthetic corpus has every user doing every event type, which
    // would degenerate A = B = A∪B); high-value purchasers vs
    // high-value clickers is the genuine overlap question
    def side(t: String) = ev
      .filter($"event_type" === t && $"value" >= 150.0).select($"user_id")
    def regs(t: String, g: String) =
      DetHll.registers(side(t).withColumn("grp", lit(g)), Seq("grp"), $"user_id")
    // each side's registers feed BOTH the union merge and the estimate —
    // materialize the 4096-row tables once instead of re-scanning events
    val regA = regs("purchase", "a").localCheckpoint()
    val regB = regs("click", "b").localCheckpoint()
    val regU = regA.unionByName(regB).groupBy($"bucket").agg(max($"m").as("m"))
      .withColumn("grp", lit("u"))
    val est = DetHll.estimate(
      regA.unionByName(regU.select($"grp", $"bucket", $"m"))
        .unionByName(regB), Seq("grp"), "est")
    // pivot via ungrouped aggregation: exactly ONE output row even if a
    // side is empty under some future data distribution (a filtered
    // pivot would emit zero rows and read as a failed query)
    val pivoted = est.agg(
      max(when($"grp" === "a", $"est")).as("est_a"),
      max(when($"grp" === "b", $"est")).as("est_b"),
      max(when($"grp" === "u", $"est")).as("est_union"))
    val exact = side("purchase").distinct()
      .join(side("click").distinct(), Seq("user_id"), "left_semi")
      .agg(count(lit(1)).as("n_exact"))
    pivoted.crossJoin(exact)
      .select($"est_a", $"est_b", $"est_union",
        ($"est_a" + $"est_b" - $"est_union").as("est_intersect"),
        $"n_exact",
        ($"est_a" + $"est_b" - $"est_union" - $"n_exact").as("err"))
  }
  private val hllIntersectSql = {
    def regs(t: String, g: String) = DetHll.registersSql(
      s"(SELECT '$g' AS grp, user_id FROM events " +
        s"WHERE event_type = '$t' AND value >= 150.0)",
      "grp", "user_id")
    val regA = regs("purchase", "a")
    val regB = regs("click", "b")
    val all =
      s"""($regA UNION ALL
         | SELECT 'u' AS grp, bucket, MAX(m) AS m
         | FROM (($regA) UNION ALL ($regB)) GROUP BY 1, 2
         | UNION ALL $regB)""".stripMargin
    s"""WITH est AS (${DetHll.estimateSql(all, "grp", "est")}),
       |p AS (SELECT MAX(CASE WHEN grp = 'a' THEN est END) AS est_a,
       |             MAX(CASE WHEN grp = 'b' THEN est END) AS est_b,
       |             MAX(CASE WHEN grp = 'u' THEN est END) AS est_union
       |      FROM est),
       |ex AS (SELECT COUNT(*) AS n_exact FROM (
       |  SELECT DISTINCT user_id FROM events
       |  WHERE event_type = 'purchase' AND value >= 150.0
       |  INTERSECT
       |  SELECT DISTINCT user_id FROM events
       |  WHERE event_type = 'click' AND value >= 150.0))
       |SELECT est_a, est_b, est_union,
       |  est_a + est_b - est_union AS est_intersect, n_exact,
       |  est_a + est_b - est_union - n_exact AS err
       |FROM p CROSS JOIN ex""".stripMargin
  }

  // -- KMV (bottom-k) distinct sketch ---------------------------------------
  // The OTHER classic distinct estimator (Bar-Yossef et al. 2002),
  // complementing HLL: keep the k smallest hash values; the k-th
  // smallest pins the estimate (k−1)·H/h_k (hashes ~uniform on [0,H)).
  // Two properties HLL lacks: the sketch is also a UNIFORM SAMPLE OVER
  // DISTINCT KEYS (run any distinct-population estimator on it), and
  // union-merge is just bottom-k of the union. Shapes: the hash is
  // md5-low-half masked to 63 bits so both engines ORDER it
  // identically (signed vs UBIGINT comparison trap); bottom-256 is a
  // TakeOrdered over the distinct hash values, never a global sort;
  // the small-population branch (fewer than k distinct) returns the
  // exact count. Exact countDistinct rides along as accounting.
  private val KmvK = 256
  private def kmvDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val h = ev.select(md5lower64($"user_id".cast("string"))
        .bitwiseAND(lit(Long.MaxValue)).as("hv")).distinct()
    val st = h.orderBy($"hv").limit(KmvK)
      .agg(count(lit(1)).as("nk"), max($"hv").as("hk"))
    val ex = ev.agg(countDistinct($"user_id").as("n_exact"))
    ex.crossJoin(st)
      .select($"n_exact", $"nk".as("n_hashes"),
        when($"nk" < KmvK, $"nk".cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * pow(lit(2.0), lit(63.0))
            / $"hk".cast("double")).as("est"))
      .withColumn("err", $"est" - $"n_exact")
  }
  private val kmvDistinctSql =
    s"""WITH h AS (SELECT DISTINCT CAST(
       |    CAST(md5_number_lower(CAST(user_id AS VARCHAR)) AS HUGEINT)
       |      % CAST(9223372036854775808 AS HUGEINT) AS BIGINT) AS hv
       |  FROM events),
       |st AS (SELECT COUNT(*) AS nk, MAX(hv) AS hk
       |       FROM (SELECT hv FROM h ORDER BY hv LIMIT $KmvK)),
       |ex AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events)
       |SELECT n_exact, nk AS n_hashes,
       |  CASE WHEN nk < $KmvK THEN CAST(nk AS DOUBLE)
       |       ELSE CAST(${KmvK - 1} AS DOUBLE) * power(2, 63)
       |            / CAST(hk AS DOUBLE) END AS est,
       |  CASE WHEN nk < $KmvK THEN CAST(nk AS DOUBLE)
       |       ELSE CAST(${KmvK - 1} AS DOUBLE) * power(2, 63)
       |            / CAST(hk AS DOUBLE) END - n_exact AS err
       |FROM ex CROSS JOIN st""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_kmv_distinct", kmvDistinct, Some(kmvDistinctSql)),
    QueryDef("q_hll_intersect", hllIntersect, Some(hllIntersectSql)),
    QueryDef("io_partition_pruning", partitionPruning, Some(partitionPruningSql)),
    QueryDef("q_dpp_join", dppJoin, Some(dppJoinSql)),
    QueryDef("io_parquet_bloom", parquetBloom, Some(parquetBloomSql)),
    QueryDef("io_page_index", pageIndex, Some(pageIndexSql)),
    QueryDef("io_zstd_roundtrip", zstdRoundtrip, Some(zstdRoundtripSql)),
    QueryDef("q_hll_sketch_merge", hllSketchMerge, Some(hllSketchMergeSql)),
    QueryDef("io_orc_roundtrip", orcRoundtrip, Some(orcRoundtripSql)),
    QueryDef("io_avro_roundtrip", avroRoundtrip, Some(avroRoundtripSql)),
    QueryDef("q_bloom_join", bloomJoin, Some(bloomJoinSql)),
    QueryDef("q_bucketed_join", bucketedJoin, Some(bucketedJoinSql)),
    QueryDef("q_bucketed_agg", bucketedAgg, Some(bucketedAggSql)),
    QueryDef("q_salted_skew_join", saltedJoin, Some(saltedJoinSql)),
    QueryDef("q_zorder_skipping", zorderSkipping, Some(zorderSkippingSql)),
    QueryDef("io_csv_roundtrip", csvRoundtrip, Some(csvRoundtripSql)),
    QueryDef("io_csv_malformed", csvMalformed, Some(csvMalformedSql)),
    QueryDef("io_json_roundtrip", jsonRoundtrip, Some(jsonRoundtripSql)),
    QueryDef("crypto_rbac_decrypt", rbacDecrypt, Some(rbacDecryptSql)),
    QueryDef("crypto_blind_join", blindJoin, Some(blindJoinSql)),
  )
}

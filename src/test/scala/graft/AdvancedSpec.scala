package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic assertions for the temporal-join / advanced-analytics
  * operators (SURVEY.md §2.5) beyond the driver's DuckDB oracle:
  * brute-force cross-checks on a single user for the joins, and
  * order/shape invariants for the rest.
  */
class AdvancedSpec extends AnyFunSuite {
  import TestSession._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q_asof_join matches a brute-force point-in-time join for one user") {
    val rows = q("q_asof_join").filter(col("user_id") === 7).collect()
    assert(rows.length == 1)
    val Row(_, nPurch: Long, nMatched: Long, sumGap: Any) = rows(0)

    // brute force from the raw events of that user (small: collect ok in test)
    val ev = Tables.events(spark, sf).filter(col("user_id") === 7)
      .select(col("event_type"), expr("ts_ns div 1000").as("ts_us"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val views = ev.filter(_._1 == "view").map(_._2).sorted
    val purchases = ev.filter(_._1 == "purchase").map(_._2)
    val gaps = purchases.flatMap { p =>
      views.takeWhile(_ <= p).lastOption.map(v => p - v)
    }
    assert(nPurch == purchases.length)
    assert(nMatched == gaps.length)
    if (gaps.nonEmpty) assert(sumGap.asInstanceOf[Long] == gaps.sum)
  }

  test("q_range_join matches a brute-force interval join for one user") {
    val rows = q("q_range_join").filter(col("user_id") === 7).collect()
    val ev = Tables.events(spark, sf).filter(col("user_id") === 7)
      .select(col("event_type"), expr("ts_ns div 1000").as("ts_us"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val clicks = ev.filter(_._1 == "click").map(_._2)
    val purchases = ev.filter(_._1 == "purchase").map(_._2)
    val hourUs = 3600L * 1000 * 1000
    val pairs = for {
      p <- purchases; c <- clicks if c >= p - hourUs && c < p
    } yield (p, c)
    if (pairs.isEmpty) assert(rows.isEmpty, "no pairs expected for user 7")
    else {
      assert(rows.length == 1)
      assert(rows(0).getLong(2) == pairs.length)
      assert(rows(0).getLong(1) == pairs.map(_._1).distinct.length)
    }
  }

  test("native as-of operator: inclusive match, latest-wins, null for unmatched") {
    import spark.implicits._
    val l = Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L)).toDF("k", "t")
    val r = Seq((1L, 10L, "a"), (1L, 15L, "b"), (2L, 6L, "c")).toDF("rk", "rt", "v")
    val out = graft.plans.Asof.join(l, r, "k", "rk", "t", "rt")
      .select(col("k"), col("t"), col("v")).collect()
      .map(x => (x.getLong(0), x.getLong(1), if (x.isNullAt(2)) null else x.getString(2)))
      .toSet
    assert(out == Set((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, null), (3L, 7L, null)))
  }

  test("native as-of agrees with the declarative union+window version") {
    val native = q("q_asof_join_native").collect().map(_.toSeq).toSeq
    val declarative = q("q_asof_join").collect().map(_.toSeq).toSeq
    assert(native == declarative)
  }

  test("q_percentile: quantiles are ordered and bounded by the group max") {
    val maxes = Tables.lineitem(spark, sf).groupBy(col("l_returnflag"))
      .agg(max(col("l_extendedprice")).as("mx"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    q("q_percentile").collect().foreach { r =>
      val (flag, p50, p95, p99) =
        (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(p50 <= p95 && p95 <= p99, s"quantiles out of order for $flag")
      assert(p99 <= maxes(flag))
    }
  }

  test("q_quantile_sketch tracks the exact quantiles within relative error") {
    val exact = q("q_percentile").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    q("q_quantile_sketch").collect().foreach { r =>
      val (e50, e95, e99) = exact(r.getString(0))
      Seq((r.getDouble(1), e50), (r.getDouble(2), e95), (r.getDouble(3), e99))
        .foreach { case (approx, ex) =>
          assert(math.abs(approx - ex) / ex < 0.05,
            s"sketch quantile $approx drifted >5% from exact $ex")
        }
    }
  }

  test("q_quantile_sketch fails closed outside its packed-key domain") {
    import spark.implicits._
    val Err = operators.Advanced.QdDomainError
    def sketch(rows: Seq[(String, Double)]): Array[Row] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_qd").toString
      rows.toDF("l_returnflag", "l_extendedprice")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      SparkEntry.queries("q_quantile_sketch")(spark, dir).collect()
    }
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: causes(x.getCause))
    val ok = (1 to 40).map(i => (if (i % 2 == 0) "A" else "N", i * 10.25))
    val rows = sketch(ok)
    assert(rows.map(_.getString(0)).toSet == Set("A", "N"), rows.mkString(", "))
    // $671,088.64 = 2^26 cents, the first price outside the universe
    for ((label, bad) <- Seq("two chars" -> ("AB", 5.0), "non-Latin-1" -> ("€", 5.0),
        "null group" -> (null, 5.0), "price >= 2^26 cents" -> ("A", 671088.64))) {
      val e = intercept[Exception](sketch(ok :+ bad))
      assert(causes(e).exists(_.contains(Err)), s"$label: ${e.getMessage}")
    }
  }

  test("q_pivot_native row sums equal the group totals") {
    val pivoted = q("q_pivot_native").collect()
      .map(r => r.getString(0) -> (r.getDouble(1) + r.getDouble(2) + r.getDouble(3))).toMap
    val totals = Tables.lineitem(spark, sf).groupBy(col("l_linestatus"))
      .agg(OracleMath.dsum(col("l_quantity")).as("t"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    totals.foreach { case (k, t) =>
      assert(math.abs(pivoted(k) - t) < 1e-6, s"pivot row sum drifted for $k")
    }
  }

  test("q_unpivot emits 3 metric rows per linestatus, names pinned") {
    val rows = q("q_unpivot").collect()
    val byStatus = rows.groupBy(_.getString(0))
    byStatus.values.foreach { g =>
      assert(g.map(_.getString(1)).sorted.toSeq ==
        Seq("sum_disc", "sum_price", "sum_qty"))
    }
  }

  test("q_sample_systematic keeps ~5/97 of rows") {
    val sampled = q("q_sample_systematic").agg(sum(col("n_sampled")))
      .collect()(0).getLong(0).toDouble
    val total = Tables.lineitem(spark, sf).count().toDouble
    val rate = sampled / total
    assert(rate > 0.02 && rate < 0.09, s"sampling rate $rate implausible for 5/97")
  }

  test("q_stratified_sample takes exactly min(500, class size) per class") {
    val classSizes = Tables.lineitem(spark, sf).groupBy(col("l_returnflag"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q("q_stratified_sample").collect().foreach { r =>
      val expected = math.min(500L, classSizes(r.getString(0)))
      assert(r.getLong(1) == expected, s"class ${r.getString(0)}")
    }
  }

  test("q_array_agg: first_ids sorted ascending, norms positive") {
    q("q_array_agg").collect().foreach { r =>
      val ids = r.getString(3).split(",").filter(_.nonEmpty).map(_.toLong).toSeq
      assert(ids.length <= 5 && ids == ids.sorted)
      assert(r.getDouble(2) > 0.0, "avg_norm must be positive")
    }
  }

  test("io_compaction shrinks the file count and keeps every row") {
    val (frag, compacted) = graft.operators.Maintenance.compactionDirs(spark, sf)
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(frag) == 64)
    assert(parquetFiles(compacted) == 4)
    val a = spark.read.parquet(frag)
    val b = spark.read.parquet(compacted)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "compaction must be a pure re-layout")
  }

  test("q_merge_upsert adds exactly the insert rows and keeps the rest") {
    val merged = q("q_merge_upsert").agg(sum(col("n"))).collect()(0).getLong(0)
    val base = Tables.orders(spark, sf).count()
    val inserts = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 1000 === 0).count()
    assert(merged == base + inserts)
  }

  test("q_time_bucket day counts add up to the full table") {
    val n = q("q_time_bucket").agg(sum(col("n"))).collect()(0).getLong(0)
    assert(n == Tables.events(spark, sf).count())
  }

  test("q_scd2 episodes: one current row per user, contiguous non-overlapping validity") {
    import spark.implicits._
    val rows = q("q_scd2")
      .select($"user_id", $"event_type", $"valid_from_us", $"valid_to_us", $"is_current")
      .collect()
    val byUser = rows.groupBy(_.getLong(0))
    assert(byUser.nonEmpty)
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getLong(2))
      assert(sorted.count(_.getBoolean(4)) == 1, s"user $u must have exactly one current row")
      assert(sorted.last.isNullAt(3) && sorted.last.getBoolean(4),
        s"user $u: the open episode is the last one")
      // contiguous: each valid_to equals the next valid_from; no overlap
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(3) == b.getLong(2), s"user $u: episodes must be contiguous")
        case _ => ()
      }
      // consecutive episodes changed state (else they would have collapsed)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getString(1) != b.getString(1), s"user $u: no-op episode")
        case _ => ()
      }
    }
  }

  test("q_grouping_sets margins agree with direct group-bys") {
    import spark.implicits._
    val out = q("q_grouping_sets").collect()
    def gid(r: org.apache.spark.sql.Row): Long = r.getAs[Number]("gid").longValue
    assert(out.map(gid).toSet == Set(0L, 1L, 2L),
      "asymmetric sets: detail + both margins, no grand total")
    // gid=1 (status grouped away): rows equal groupBy(l_returnflag)
    val margin = out.filter(gid(_) == 1)
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    val direct = Tables.lineitem(spark, sf).groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(margin == direct)
    // detail rows (gid=0) sum to each margin
    val detail = out.filter(gid(_) == 0)
    detail.groupBy(_.getString(0)).foreach { case (flag, rs) =>
      assert(rs.map(_.getAs[Long]("n")).sum == direct(flag))
    }
  }

  test("io_orc_roundtrip equals the same aggregate straight off parquet") {
    import spark.implicits._
    val viaOrc = q("io_orc_roundtrip").collect().map(_.toSeq).toSeq
    val direct = Tables.lineitem(spark, sf)
      .filter($"l_quantity" > 25.0)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), graft.OracleMath.dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag").collect().map(_.toSeq).toSeq
    assert(viaOrc == direct, "ORC write/read must be content-preserving")
  }

  test("winsorize: exact integer-math thresholds on a crafted 1..100 series") {
    import spark.implicits._
    val df = (1 to 100).map(v => ("g", v.toLong, v.toDouble)).toDF("g", "id", "value")
    val w = graft.operators.Advanced.winsorized(df, "g", "id", "value")
    val r = w.select($"p05", $"p95").distinct().collect()(0)
    // rank05 = (100*5+99) div 100 = 5 -> value 5; rank95 = 95 -> value 95
    assert(r.getDouble(0) == 5.0 && r.getDouble(1) == 95.0, r)
    val clipped = w.select($"winsorized").as[Double].collect()
    assert(clipped.min == 5.0 && clipped.max == 95.0)
    assert(clipped.sum == 4 * 5.0 + (5 to 95).sum + 5 * 95.0)
    // driver query: every group clips at most ~5% each side
    val q5 = q("q_winsorize").collect()
    q5.foreach { row =>
      val n = row.getAs[Long]("n_rows")
      assert(row.getAs[Long]("n_clipped_low") <= n * 5 / 100 + 1)
      assert(row.getAs[Long]("n_clipped_high") <= n * 5 / 100 + 1)
      assert(row.getAs[Long]("n_clipped_high") > 0, "p95 clip must engage")
    }
  }

  test("q_json_extract: declared-schema parse is total and malformed rows go null") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // crafted: valid, missing key, malformed, null
    val parsed = Seq("""{"k": 7}""", """{"other": 1}""", "not json", null)
      .toDF("props")
      .select(from_json($"props", StructType(Seq(StructField("k", LongType))))
        .getField("k").as("k")).as[Option[Long]].collect()
    assert(parsed.toSeq == Seq(Some(7L), None, None, None))
    // driver query totals cover every event row
    val out = q("q_json_extract")
    assert(out.agg(sum($"n")).collect()(0).getLong(0) == Tables.events(spark, sf).count())
    // cross-check one group's sum_k against a regex-based extraction
    val viaRegex = Tables.events(spark, sf)
      .filter($"event_type" === "click")
      .select(regexp_extract($"props", """"k": (\d+)""", 1).cast("long").as("k"))
      .agg(sum($"k")).collect()(0).getLong(0)
    val viaJson = out.filter($"event_type" === "click")
      .collect()(0).getAs[Long]("sum_k")
    assert(viaJson == viaRegex)
  }

  test("q_profile_stats matches directly computed column facts") {
    import spark.implicits._
    val out = q("q_profile_stats").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.size == 6)
    val li = Tables.lineitem(spark, sf)
    val (mn, mx, nd) = li.agg(min($"l_quantity"), max($"l_quantity"),
      countDistinct($"l_quantity")).as[(Double, Double, Long)].collect()(0)
    val r = out("l_quantity")
    assert(r.getAs[Long]("n_nulls") == 0L)
    assert(r.getAs[Long]("n_distinct") == nd)
    assert(r.getAs[Double]("min_v") == mn && r.getAs[Double]("max_v") == mx)
    assert(r.isNullAt(r.fieldIndex("min_s")), "numeric rows carry no string min")
    val rf = out("l_returnflag")
    assert(rf.getAs[String]("min_s") == "A" && rf.getAs[String]("max_s") == "R")
    assert(rf.isNullAt(rf.fieldIndex("min_v")))
  }
}

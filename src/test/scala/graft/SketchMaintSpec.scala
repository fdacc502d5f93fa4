package graft

import graft.functions.MisraGries.misra_gries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5b operators: the Misra-Gries aggregate's formal guarantees,
  * heavy-hitter end-to-end determinism, CDC diff shape, constraint
  * validation, and the stream-stream left-outer join.
  */
class SketchMaintSpec extends AnyFunSuite {
  import TestSession._

  /** Crafted stream: key i appears weight(i) times, interleaved (worst
    * case for MG is adversarial interleaving, not runs). */
  private def craftedKeys(weights: Map[String, Int]): Seq[String] = {
    val rounds = weights.values.max
    (0 until rounds).flatMap(r => weights.collect {
      case (k, w) if w > r => k
    }.toSeq.sorted)
  }

  test("Misra-Gries: superset guarantee and error bound on adversarial input") {
    import spark.implicits._
    val m = 5
    // n = 1000: two true heavy hitters above n/(m+1) = 166, plus a
    // 30-key near-uniform tail that constantly evicts counters
    val weights = Map("hh_a" -> 300, "hh_b" -> 220) ++
      (0 until 30).map(i => s"tail_$i" -> 16).toMap
    val keys = craftedKeys(weights)
    val n = keys.size
    val df = keys.toDF("k").repartition(7) // force partial buffers + merges
    val mg = df.agg(misra_gries($"k", m).as("mg"))
      .selectExpr("mg").as[Map[String, Long]].head()
    assert(mg.size <= m, s"summary must keep at most $m counters: $mg")
    // no false negatives: every key with freq > n/(m+1) is present
    for ((k, w) <- weights if w > n / (m + 1))
      assert(mg.contains(k), s"true heavy hitter $k (freq $w, n=$n) missing from $mg")
    // counts are lower bounds, within n/(m+1) of truth
    for ((k, est) <- mg) {
      val truth = weights(k)
      assert(est <= truth, s"$k estimated $est above true count $truth")
      assert(truth - est <= n / (m + 1),
        s"$k estimate $est understates $truth by more than n/(m+1)=${n / (m + 1)}")
    }
  }

  test("Misra-Gries: partition count does not change the verified heavy-hitter set") {
    import spark.implicits._
    val weights = Map("hot" -> 500) ++ (0 until 40).map(i => s"t_$i" -> 10).toMap
    val keys = craftedKeys(weights)
    val sets = Seq(1, 4, 13).map { parts =>
      val df = keys.toDF("k").repartition(parts)
      val mg = df.agg(misra_gries($"k", 4).as("mg"))
        .selectExpr("mg").as[Map[String, Long]].head()
      // the raw summary may differ by merge order; the VERIFIED set
      // (exact counts of candidates over threshold) must not
      val cand = mg.keySet.toSeq
      keys.filter(cand.contains).groupBy(identity).view.mapValues(_.size)
        .filter(_._2 > keys.size / 5).keys.toSet
    }
    assert(sets.distinct.size == 1, s"verified sets diverged across partitionings: $sets")
    assert(sets.head == Set("hot"))
  }

  test("q_heavy_hitters finds exactly the derived hot keys with exact counts") {
    import spark.implicits._
    val out = SparkEntry.queries("q_heavy_hitters")(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq("hot_0", "hot_1"), s"got $out")
    // counts are EXACT (verification pass), not sketch estimates
    val exact = Tables.lineitem(spark, sf).filter($"l_orderkey" % 4 < 2)
      .groupBy(concat(lit("hot_"), $"l_orderkey" % 2).as("k"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    for ((k, n, _) <- out) assert(n == exact(k), s"$k: $n != ${exact(k)}")
  }

  test("graft_misra_gries is callable from SQL and keeps the superset guarantee") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    craftedKeys(Map("hot" -> 400) ++ (0 until 25).map(i => s"t_$i" -> 12).toMap)
      .toDF("k").createOrReplaceTempView("mg_keys")
    val mg = spark.sql("SELECT graft_misra_gries(k, 4) AS mg FROM mg_keys")
      .as[Map[String, Long]].head()
    assert(mg.size <= 4 && mg.contains("hot"))
  }

  test("io_snapshot_read: v1 unchanged by the v2 COW write; shared groups not copied") {
    import spark.implicits._
    val root = graft.operators.Maintenance.snapshotRoot(spark, sf)
    // time travel: v1 still reads as the ORIGINAL table after v2 landed
    val v1 = graft.operators.Maintenance.readSnapshot(spark, root, 1)
      .agg(count(lit(1)), OracleMath.dsum($"o_totalprice")).as[(Long, Double)].head()
    val orig = Tables.orders(spark, sf)
      .agg(count(lit(1)), OracleMath.dsum($"o_totalprice")).as[(Long, Double)].head()
    assert(v1 == orig, "v2's copy-on-write must not mutate v1's files")
    // untouched groups are SHARED between manifests (same paths), not copied
    def manifest(v: Int): Set[String] =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, s"manifest_v$v.txt")), "UTF-8").split("\n").toSet
    val shared = manifest(1) intersect manifest(2)
    assert(shared == (1 to 3).map(g => s"$root/base/g=$g").toSet)
  }

  test("io_vacuum deletes exactly the retired version's files; live version intact") {
    import spark.implicits._
    val root = graft.operators.Maintenance.snapshotRoot(spark, sf)
    val g0 = new java.io.File(s"$root/base/g=0")
    assert(g0.exists, "snapshot staging must create the v1-only group")
    val out = SparkEntry.queries("io_vacuum")(spark, sf)
      .as[(Long, Double)].head()
    assert(!g0.exists, "vacuum must physically delete the retired-only group")
    assert(new java.io.File(s"$root/base/g=1").exists &&
      new java.io.File(s"$root/rewrite_g0_v2").exists,
      "groups referenced by the live manifest must survive")
    // the live version still reads completely
    val n2 = graft.operators.Maintenance.readSnapshot(spark, root, 2).count()
    assert(out._1 == n2 && n2 == Tables.orders(spark, sf).count())
  }

  test("graft-avro: typed roundtrip with nulls, shortName resolution, pruned read") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", IntegerType), StructField("x", DoubleType),
      StructField("f", FloatType), StructField("b", BooleanType),
      StructField("s", StringType), StructField("d", DateType),
      StructField("t", TimestampType), StructField("nt", TimestampNTZType)))
    val d0 = java.sql.Date.valueOf("2026-03-14")
    val t0 = java.sql.Timestamp.valueOf("2026-03-14 01:02:03.004005")
    val nt0 = java.time.LocalDateTime.of(2026, 3, 14, 1, 2, 3, 4005000)
    val rows = Seq(
      Row(1L, 7, 2.5, 1.5f, true, "alpha", d0, t0, nt0),
      Row(2L, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
    val out = java.nio.file.Files.createTempDirectory("graft_avro").toString
    df.write.format("graft-avro").mode("overwrite").save(out)
    val back = spark.read.format("graft-avro").load(out)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val got = back.collect().sortBy(_.getLong(0)).toSeq
    assert(got == rows, s"roundtrip mismatch: $got")
    // column pruning: only the requested fields are decoded
    val pruned = back.select($"s").queryExecution.executedPlan.toString
    assert(pruned.contains("ReadSchema: struct<s:string>"),
      s"scan must prune to the requested column:\n$pruned")
    assert(back.select($"s").as[String].collect().toSet == Set("alpha", null))
  }

  test("optimistic commit: overlapping concurrent rewrite rejected, disjoint one rebases") {
    val M = graft.operators.Maintenance
    val root = java.nio.file.Files.createTempDirectory("graft_occ").toString
    def mk(name: String): String = {
      val p = s"$root/$name"; new java.io.File(p).mkdirs(); p
    }
    val g = (0 to 3).map(i => mk(s"g$i"))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "manifest_v1.txt"),
      g.mkString("\n").getBytes("UTF-8"))
    // writer A: based on v1, replaces g1 → wins v2
    val a1 = mk("g1_rewrite_A")
    assert(M.commitSnapshot(root, 1, Seq(g(1)), Seq(a1)) == 2)
    // writer B: ALSO based on v1, replaces g1. Its blind manifest —
    // manifest(v1) − g1 + its own rewrite — would resurrect nothing of
    // A's: A's g1_rewrite_A would vanish from the table. The protocol
    // must reject instead.
    val b1 = mk("g1_rewrite_B")
    intercept[M.SnapshotConflictException] {
      M.commitSnapshot(root, 1, Seq(g(1)), Seq(b1))
    }
    assert(M.currentSnapshotVersion(root) == 2, "loser must not advance the version")
    val m2 = M.manifestPaths(root, 2)
    assert(m2.contains(a1) && !m2.contains(g(1)) && !m2.contains(b1),
      "winner's commit must be untouched by the rejected writer")
    // writer C: based on the SAME stale v1 but replacing g2 — disjoint
    // from A's commit, so it rebases onto v2 and both rewrites survive
    val c2 = mk("g2_rewrite_C")
    assert(M.commitSnapshot(root, 1, Seq(g(2)), Seq(c2)) == 3)
    val m3 = M.manifestPaths(root, 3).toSet
    assert(m3 == Set(g(0), g(3), a1, c2),
      s"rebased manifest must carry BOTH concurrent rewrites: $m3")
  }

  test("optimistic commit: simultaneous disjoint writers both land via the atomic claim") {
    val M = graft.operators.Maintenance
    val root = java.nio.file.Files.createTempDirectory("graft_occ2").toString
    def mk(name: String): String = {
      val p = s"$root/$name"; new java.io.File(p).mkdirs(); p
    }
    val g = (0 to 3).map(i => mk(s"g$i"))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "manifest_v1.txt"),
      g.mkString("\n").getBytes("UTF-8"))
    val d0 = mk("g0_rewrite_D")
    val e3 = mk("g3_rewrite_E")
    // two threads race for v2; the createLink loser retries and rebases
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.DurationInt
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Seq(Seq(g(0)) -> d0, Seq(g(3)) -> e3)
      .map { case (rm, add) => Future(M.commitSnapshot(root, 1, rm, Seq(add))) }
      .map(Await.result(_, 30.seconds))
    assert(results.toSet == Set(2, 3), s"both writers must commit: $results")
    val top = M.manifestPaths(root, 3).toSet
    assert(top == Set(g(1), g(2), d0, e3),
      s"final manifest must carry both simultaneous rewrites: $top")
  }

  test("manifest zone maps prune file groups before read; answers unchanged") {
    import spark.implicits._
    import graft.operators.Maintenance
    val store = graft.sources.GraftStore.at(Maintenance.zonemapRoot(spark, sf))
    def pruneDays(lo: String, hi: String): (Seq[String], Int) = {
      val (kept, skipped) = graft.sources.GraftStore.zonePrune(store,
        Maintenance.dayWindow(store, "o_orderdate", lo, hi))
      (kept, kept.size + skipped)
    }
    // a one-year window keeps exactly one group of the ~7-year corpus
    val (pruned, total) = pruneDays("1995-03-01", "1995-09-30")
    assert(total >= 6 && pruned.length == 1,
      s"expected 1 of >=6 groups, got ${pruned.length} of $total")
    // the pruned scan + residual filter equals the direct full scan
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .filter(year($"o_orderdate") === 1995 && month($"o_orderdate").between(3, 9))
      .agg(count(lit(1)), sum($"o_totalprice".cast("decimal(18,6)")))
      .collect()(0)
    assert(agg(spark.read.parquet(pruned: _*)) == agg(Tables.orders(spark, sf)),
      "zone pruning changed the answer")
    // a window spanning everything prunes nothing — stats are bounds,
    // not filters
    val (all, t2) = pruneDays("1990-01-01", "2099-12-31")
    assert(all.length == t2, s"${all.length} != $t2")
  }

  test("io_schema_evolution: legacy files surface NULL for the new column") {
    import spark.implicits._
    val out = SparkEntry.queries("io_schema_evolution")(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq("high", "legacy", "normal"))
    val total = Tables.orders(spark, sf).count()
    assert(out.map(_._2).sum == total, "no row lost across schema epochs")
    // legacy = exactly the even-key (old-epoch) rows
    val even = Tables.orders(spark, sf).filter($"o_orderkey" % 2 === 0).count()
    assert(out.find(_._1 == "legacy").get._2 == even)
  }

  test("q_cdc_diff: every change is an update on a % 40 key with the 1.1x price") {
    import spark.implicits._
    val out = SparkEntry.queries("q_cdc_diff")(spark, sf)
      .as[(Long, String, Double, Double)].collect().toSeq
    assert(out.nonEmpty)
    assert(out.forall(_._2 == "update"), "COW rewrite changes rows in place")
    assert(out.forall(r => r._1 % 40 == 0), "only % 40 keys were updated")
    assert(out.forall(r =>
      r._4 == math.floor(r._3 * 1.1 * 100.0 + 0.5) / 100.0))
    // completeness: every % 40 key in the table appears in the feed
    val all = Tables.orders(spark, sf).filter($"o_orderkey" % 40 === 0)
      .select($"o_orderkey").as[Long].collect().toSet
    assert(out.map(_._1).toSet == all)
  }

  test("q_validate_rows matches a direct per-rule recomputation") {
    import spark.implicits._
    val out = SparkEntry.queries("q_validate_rows")(spark, sf)
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val li = Tables.lineitem(spark, sf)
    val total = li.count()
    val discBad = li.filter(!($"l_discount" <= 0.06)).count()
    assert(out("discount_le_6pct") == ((discBad, discBad.toDouble / total)))
    val qtyBad = li.filter(!$"l_quantity".between(1.0, 50.0)).count()
    assert(out("quantity_in_range") == ((qtyBad, qtyBad.toDouble / total)))
    assert(out.size == 4)
    // the gate must see real violations in this data (a vacuous gate
    // proves nothing)
    assert(out.values.exists(_._1 > 0) && out.values.exists(_._1 == 0L))
  }

  test("q_variant_extract agrees with a declared-schema parse of the same paths") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val out = SparkEntry.queries("q_variant_extract")(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val twin = Tables.events(spark, sf)
      .select($"event_type",
        from_json($"props", StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out.nonEmpty && out == twin)
  }

  test("q_recursive_cte: engine fixpoint matches the closed-form tree depth") {
    import spark.implicits._
    val out = SparkEntry.queries("q_recursive_cte")(spark, sf)
      .as[(Int, Long, Long, Long)].collect().toSeq
    val users = Tables.events(spark, sf).select($"user_id").distinct()
      .as[Long].collect().toSet
    assert(users == (0L until users.size).toSet,
      "depth recompute below assumes contiguous user ids (all ancestors present)")
    // depth(u) = floor(log2(u)) + 1 for u >= 1; depth(0) = 0
    def depth(u: Long): Int =
      if (u == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(u)
    val want = users.groupBy(depth).toSeq.sortBy(_._1)
      .map { case (d, us) => (d, us.size.toLong, us.min, us.max) }
    assert(out == want)
  }

  test("stream_outer_join: emits unmatched purchases and matches the batch twin") {
    import spark.implicits._
    val out = SparkEntry.queries("stream_outer_join")(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    // outer semantics are exercised: some purchases had no click in
    // their window (else this collapses to the inner join)
    assert(out.exists(r => r._3 < r._2),
      "expected at least one user with unmatched purchases")
    // batch twin equality (the DuckDB oracle asserts the same shape;
    // this pins it inside the JVM too)
    val batch = {
      val p = Tables.events(spark, sf).filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts_ns".as("p_ns"))
      val c = Tables.events(spark, sf).filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"value".as("c_value"), $"ts_ns".as("c_ns"))
      p.join(c, $"user_id" === $"c_user" &&
          $"c_ns" >= $"p_ns" - 3600L * 1000000000L && $"c_ns" < $"p_ns", "left_outer")
        .groupBy($"user_id")
        .agg(countDistinct($"event_id").as("n_purchases"),
          countDistinct(when($"c_value".isNotNull, $"event_id")).as("n_matched"),
          count($"c_value").as("n_pairs"),
          OracleMath.dsum(coalesce($"c_value", lit(0.0))).as("sum_v"))
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
    }
    assert(out.toSet == batch.toSet)
  }
}

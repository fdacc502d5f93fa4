package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Maintenance, Similarity}
import graft.sources.{FooterStats, ZoneOrder}

/** Round-15 gates: the last three legacy ANN demo rows become
  * corpus-independent (r14 verdict "What's wrong" #1/#2) — a FIXED
  * coarse codebook for sim_ann_ivf and the pinned evalPanel query sets
  * for sim_ann_lsh / sim_ann_pq / sim_ann_ivf — so no broadcast or
  * exhaustive scan in their plans grows with the corpus.
  */
class Round15Spec extends AnyFunSuite {
  import TestSession._

  private val sfSmall = "/root/testdata/sf0.01"
  private val sfBig = "/root/testdata/sf0.1"

  test("r15: sim_ann_ivf coarse codebook is fixed-size at every corpus") {
    def cells(d: String): Set[Long] =
      Similarity.ivfCodebook(spark, d).select("cell_id")
        .collect().map(_.getLong(0)).toSet
    val small = cells(sfSmall)
    val big = cells(sfBig)
    assert(small == big, "codebook must not grow with the corpus")
    // the capped seed grid: vec_id % 50 == 7 AND vec_id < 500
    assert(small == (7L until 500L by 50L).toSet, s"unexpected cells: $small")
  }

  test("r15: legacy ANN query panels are pinned at sf0.01 and sf0.1") {
    for (k <- Seq("sim_ann_lsh", "sim_ann_ivf", "sim_ann_pq")) {
      def ids(d: String): Set[Long] =
        SparkEntry.queries(k)(spark, d).select("query_id").distinct()
          .collect().map(_.getLong(0)).toSet
      val small = ids(sfSmall)
      val big = ids(sfBig)
      assert(small == big, s"$k: panel must not grow with the corpus")
      // ⊆ rather than ==: LSH may legitimately return no candidate rows
      // for a panel query whose bands collide with nothing
      assert(small.subsetOf((0L until 500L by 50L).toSet),
        s"$k: panel outside the pinned evalPanel id set: $small")
      assert(small.nonEmpty, s"$k: empty panel")
    }
  }

  // ---- zone stats inside the committed manifest (r14 verdict #3/#4) --------

  private def freshRoot(name: String): String = {
    val root = s"/tmp/graft_q/${name}_spec"
    graft.Staging.rmTree(new java.io.File(root))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    root
  }

  /** A writable scratch store over the shared zonemap data groups. */
  private def scratchZoneStore(name: String): String = {
    val zroot = Maintenance.zonemapRoot(spark, sf)
    val root = freshRoot(name)
    for (f <- Seq("manifest_v1.txt", "schema_v1.json"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(zroot, f), java.nio.file.Paths.get(root, f))
    root
  }

  test("r15: concurrent appenders never lose each other's zone stats") {
    import spark.implicits._
    val root = scratchZoneStore("r15_conc_zones")
    val cols = spark.read.format("graft").load(root).columns.toSeq
    def batch(y: Int) = Tables.orders(spark, sf)
      .filter(year($"o_orderdate") === y).select(cols.map(col): _*)
    // two appenders race the same base version; OCC rebases the loser,
    // and the zone: lines ride the SAME atomic manifest claim — the r14
    // shared-side-file design could drop one appender's line here
    val ts = Seq(1996, 1997).map { y =>
      val t = new Thread(() =>
        batch(y).write.format("graft").mode("append").save(root))
      t.start(); t
    }
    ts.foreach(_.join())
    val v = Maintenance.currentSnapshotVersion(root)
    assert(v == 3, s"both appends must commit (v=$v)")
    val zoneGroups = Maintenance.manifestZones(root, v)
      .filter(z => z._1.contains("/append_") && z._2 == "o_orderkey")
      .map(_._1).distinct
    assert(zoneGroups.size == 2,
      s"zone stats lost in the race: only $zoneGroups carry stats")
  }

  test("r15: multi-column zone pruning, numeric order-correct, fail-open") {
    import spark.implicits._
    val root = scratchZoneStore("r15_zones2")
    val cols = spark.read.format("graft").load(root).columns.toSeq
    val batch = Tables.orders(spark, sf)
      .filter(year($"o_orderdate") === 1997).select(cols.map(col): _*)
    batch.write.format("graft").mode("append").save(root)
    def scan(df: org.apache.spark.sql.DataFrame): (Long, Int) = {
      val desc = df.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("GraftScan")).getOrElse("")
      val m = """zoneSkipped=(\d+)""".r.findFirstMatchIn(desc)
      (df.count(), m.map(_.group(1).toInt).getOrElse(-1))
    }
    // a SECOND column (o_orderkey, numeric — the legacy store only
    // mapped o_orderdate) prunes the appended group from the manifest
    // stats alone; the base groups carry no o_orderkey stats → fail open
    // strict > is treated as >= by the conservative bound collector, so
    // probe strictly past the stat to demand a prune
    val maxKey = batch.agg(max($"o_orderkey")).collect()(0).getLong(0) + 1
    val (nAbove, skippedAbove) =
      scan(spark.read.format("graft").load(root).filter($"o_orderkey" > maxKey))
    assert(skippedAbove == 1, s"appended group must prune on o_orderkey (skipped=$skippedAbove)")
    assert(nAbove == spark.read.parquet(
      Maintenance.manifestPaths(root, 2): _*).filter($"o_orderkey" > maxKey).count())
    // numeric ordering: "9" > "1488" lexicographically — a string
    // compare would wrongly prune the [0, maxKey] group on key >= 9
    val (n9, skipped9) =
      scan(spark.read.format("graft").load(root).filter($"o_orderkey" >= 9))
    assert(skipped9 == 0, s"typed compare must keep the group (skipped=$skipped9)")
    assert(n9 == spark.read.parquet(
      Maintenance.manifestPaths(root, 2): _*).filter($"o_orderkey" >= 9).count())
  }

  test("r15: footer harvest runs zero Spark jobs and exact stats") {
    import spark.implicits._
    val root = freshRoot("r15_footers")
    val df = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    df.write.mode("overwrite").parquet(s"$root/g0")
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val (rows, stats) = FooterStats.harvest(s"$root/g0",
        spark.read.parquet(s"$root/g0").schema,
        spark.sessionState.newHadoopConf())
      // the write path's stats come from footers alone — the r14
      // read-the-batch-back job is gone (counter-pinned)
      Thread.sleep(500) // let any (forbidden) job-start events drain
      assert(jobs.get() <= 1, s"harvest must not launch data-read jobs (jobs=${jobs.get()})")
      val want = df.agg(count(lit(1)), min($"o_orderkey"), max($"o_orderkey"),
        min($"o_totalprice"), max($"o_totalprice")).collect()(0)
      assert(rows == want.getLong(0))
      assert(stats("o_orderkey") == (want.getLong(1).toString, want.getLong(2).toString))
      assert(stats("o_totalprice") == (want.getDouble(3).toString, want.getDouble(4).toString))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("r15: ZoneOrder — numeric, temporal day-intervals, strings") {
    import org.apache.spark.sql.types._
    def p(dt: DataType, s: String) = ZoneOrder.parse(dt, s).get
    // the r14 ADVICE bug shape: "9" vs "10"
    assert(!ZoneOrder.provablyAbove(p(LongType, "9"), p(LongType, "10")))
    assert(ZoneOrder.provablyAbove(p(LongType, "10"), p(LongType, "9")))
    // date-truncated stat on a timestamp column covers the whole day:
    // a 10:00 probe is NOT provably above a "1995-09-30" zone hi
    assert(!ZoneOrder.provablyAbove(
      p(TimestampNTZType, "1995-09-30T10:00"), p(TimestampNTZType, "1995-09-30")))
    assert(ZoneOrder.provablyAbove(
      p(TimestampNTZType, "1995-10-01T00:00"), p(TimestampNTZType, "1995-09-30")))
    assert(ZoneOrder.provablyAbove(p(StringType, "b"), p(StringType, "a")))
    // incomparable kinds fail open
    assert(!ZoneOrder.provablyAbove(p(StringType, "z"), p(LongType, "1")))
  }

  // ---- r14 ADVICE: mapping carry-forward + strict overwrite ----------------

  test("r15: a data commit after a mapping commit keeps the mapped schema") {
    import spark.implicits._
    val (mroot, _) = Maintenance.columnMappingStore(spark, sf)
    // writable copy (columnMappingStore's staged root must stay pristine)
    val root = freshRoot("r15_map_fwd")
    for (f <- Seq("manifest_v1.txt", "manifest_v2.txt", "mapping_v1.txt", "mapping_v2.txt"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(mroot, f), java.nio.file.Paths.get(root, f))
    val v2 = spark.read.format("graft").load(root)
    assert(v2.columns.contains("price_usd") && !v2.columns.contains("o_custkey"))
    val before = v2.agg(sum($"price_usd")).collect()(0).getDouble(0)
    // DSv2 append -> v3, a DATA commit with no mapping_v3.txt; the
    // nearest mapping <= v3 (v2's) must keep serving the logical schema
    val batch = v2.limit(10)
    batch.write.format("graft").mode("append").save(root)
    assert(Maintenance.currentSnapshotVersion(root) == 3)
    val v3 = spark.read.format("graft").load(root)
    assert(v3.columns.contains("price_usd") && !v3.columns.contains("o_custkey"),
      s"mapping lost after a data commit: ${v3.columns.mkString(",")}")
    val after = v3.agg(sum($"price_usd")).collect()(0).getDouble(0)
    val added = batch.agg(sum($"price_usd")).collect()(0).getDouble(0)
    assert(math.abs(after - (before + added)) < 1e-6)
    // time travel to v1 still sees v1's identity mapping
    assert(spark.read.format("graft").option("versionAsOf", 1).load(root)
      .columns.contains("o_custkey"))
  }

  // ---- streaming source over the store (r14 verdict #2) --------------------

  test("r15: streaming source serves per-commit deltas and is restart-safe") {
    import spark.implicits._
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r15_stream_src")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      (0 to 3).map(g => s"$data/base/g=$g").mkString("\n").getBytes("UTF-8"))
    val v2 = Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", s"dv:$data/dv"))
    def runStream(): Unit = {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(root)
        .select($"_change_type", $"o_orderkey", $"o_totalprice")
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runStream()
    val n1 = spark.read.parquet(s"$root/out").count()
    // a new MERGE commit lands; the restarted stream must serve ONLY
    // its delta (offset checkpoint), never re-emit v1/v2
    val v3 = Maintenance.commitSnapshot(root, v2, Seq.empty,
      Seq(s"$data/newfile2", s"dv:$data/dv2"))
    runStream()
    val out = spark.read.parquet(s"$root/out")
    val deltaRows = spark.read.parquet(s"$data/newfile2").count() +
      spark.read.parquet(s"$data/dv2").count()
    assert(out.count() - n1 == deltaRows,
      s"restart must append exactly the v$v3 delta (${out.count()} - $n1 != $deltaRows)")
    // the full streamed feed equals the batch change feed 0..v3
    val batch = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", 0).option("endingVersion", v3).load(root)
      .select($"_change_type", $"o_orderkey", $"o_totalprice")
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"_change_type")
        .agg(count(lit(1)),
          // decimal: order-independent, so the two runs compare exactly
          sum($"o_totalprice".cast("decimal(28,10)")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
        .sortBy(_._1).toSeq
    assert(sig(out) == sig(batch), "streamed feed diverges from batch replay")
  }

  test("r15: proven-neutral compaction serves an empty feed; stream flows past") {
    import spark.implicits._
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r15_neutral")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      (0 to 3).map(g => s"$data/base/g=$g").mkString("\n").getBytes("UTF-8"))
    val v2 = Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", s"dv:$data/dv"))
    val v3 = Maintenance.commitSnapshot(root, v2, Seq.empty,
      Seq(s"$data/newfile2", s"dv:$data/dv2"))
    def runStream(): Unit = {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(root)
        .select($"_change_type", $"o_orderkey")
        .writeStream.format("parquet")
        .option("path", s"$root/out").option("checkpointLocation", s"$root/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runStream()
    val n3 = spark.read.parquet(s"$root/out").count()
    // the whole-pile fold: compact = base − dv − dv2, both sidecars
    // retired — rows balance exactly, so the pair is PROVABLY neutral
    val v4 = Maintenance.commitSnapshot(root, v3,
      (0 to 3).map(g => s"$data/base/g=$g") ++
        Seq(s"dv:$data/dv", s"dv:$data/dv2"),
      (0 to 3).map(g => s"$data/compact/g=$g"))
    val pair = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", v3).option("endingVersion", v4).load(root)
    assert(pair.count() == 0, "neutral compaction pair must serve an empty feed")
    // the stream crosses the compaction without dying or fabricating rows
    runStream()
    assert(spark.read.parquet(s"$root/out").count() == n3,
      "stream must skip the neutral compaction commit")
    // ...and keeps serving real commits after it
    spark.read.parquet(s"$data/newfile").limit(7)
      .write.mode("overwrite").parquet(s"$root/extra")
    Maintenance.commitSnapshot(root, v4, Seq.empty, Seq(s"$root/extra"))
    runStream()
    assert(spark.read.parquet(s"$root/out").count() == n3 + 7,
      "post-compaction commits must keep feeding")
    // a removal pair that LOSES rows it never named stays fail-closed
    // (r14 partial-fold shape, asserted in Round14Spec)
  }

  test("r15: maxVersionsPerTrigger bounds each streaming micro-batch") {
    import spark.implicits._
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r15_stream_cap")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      (0 to 3).map(g => s"$data/base/g=$g").mkString("\n").getBytes("UTF-8"))
    val v2 = Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", s"dv:$data/dv"))
    Maintenance.commitSnapshot(root, v2, Seq.empty,
      Seq(s"$data/newfile2", s"dv:$data/dv2"))
    def run(cap: Option[Int], chk: String): Seq[Long] = {
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val reader = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
      val q = cap.fold(reader)(k =>
          reader.option("maxVersionsPerTrigger", k)).load(root)
        .select($"_change_type")
        .writeStream
        .option("checkpointLocation", s"$root/$chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          ids.synchronized { ids += b.count(); () }
        }
        .start()
      q.awaitTermination()
      ids.toSeq
    }
    // a 3-commit history: uncapped catch-up = ONE giant batch; capped
    // at one version per trigger = three bounded batches
    val uncapped = run(None, "chk_all")
    assert(uncapped.size == 1, s"uncapped should drain in one batch: $uncapped")
    val capped = run(Some(1), "chk_one")
    assert(capped.size == 3, s"cap=1 should take 3 batches: $capped")
    assert(capped.sum == uncapped.sum, "same total rows either way")
  }

  test("r15: startingTimestamp anchors the stream's base by commit time") {
    import spark.implicits._
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r15_stream_ts")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      (0 to 3).map(g => s"$data/base/g=$g").mkString("\n").getBytes("UTF-8"))
    Maintenance.commitSnapshot(root, 1, Seq.empty, Seq(s"$data/newfile"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "commits_ts.txt"),
      "1=1767261600\n2=1767265200".getBytes("UTF-8"))
    // a probe between the commits resolves base v1 -> the stream
    // serves ONLY v2's delta, never the initial snapshot
    val q = spark.readStream.format("graft")
      .option("startingTimestamp", 1767263400L.toString).load(root)
      .select($"o_orderkey")
      .writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(s"$root/out").count() ==
      spark.read.parquet(s"$data/newfile").count(),
      "only the post-timestamp commit may feed")
  }

  test("r15: plain streaming fails closed on delete commits, serves appends") {
    import spark.implicits._
    val data = Maintenance.morData(spark, sf)
    // append-only history streams without readChangeFeed
    val rootA = freshRoot("r15_stream_app")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(rootA, "manifest_v1.txt"),
      (0 to 3).map(g => s"$data/base/g=$g").mkString("\n").getBytes("UTF-8"))
    Maintenance.commitSnapshot(rootA, 1, Seq.empty, Seq(s"$data/newfile"))
    val q = spark.readStream.format("graft").load(rootA)
      .select($"o_orderkey")
      .writeStream.format("parquet")
      .option("path", s"$rootA/out").option("checkpointLocation", s"$rootA/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val want = (0 to 3).map(g => s"$data/base/g=$g") :+ s"$data/newfile"
    assert(spark.read.parquet(s"$rootA/out").count() ==
      spark.read.parquet(want: _*).count())
    // a dv: commit has no representation in a plain append stream
    val rootB = freshRoot("r15_stream_dv")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(rootB, "manifest_v1.txt"),
      (0 to 3).map(g => s"$data/base/g=$g").mkString("\n").getBytes("UTF-8"))
    Maintenance.commitSnapshot(rootB, 1, Seq.empty,
      Seq(s"$data/newfile", s"dv:$data/dv"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val qb = spark.readStream.format("graft").load(rootB)
        .select($"o_orderkey")
        .writeStream.format("parquet")
        .option("path", s"$rootB/out").option("checkpointLocation", s"$rootB/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      qb.awaitTermination()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
    assert(causes(e).exists(m => m != null && m.contains("readChangeFeed")),
      s"unexpected failure: ${causes(e).mkString(" | ")}")
  }

  test("r15: sequence packing audit satisfies the concat-and-chunk identities") {
    import spark.implicits._
    val r = SparkEntry.queries("text_pack_sequences")(spark, sf).collect()(0)
    val (nSeq, nFull, maxDocs, total, lastFill) =
      (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))
    val cap = 256L
    val wantTotal = Tables.documents(spark, sf)
      .select(sum(size(split(lower(trim(regexp_replace($"text", "\\s+", " "))), " "))
        .cast("long"))).collect()(0).getLong(0)
    assert(total == wantTotal, s"packing must conserve every token ($total != $wantTotal)")
    assert(nSeq == (total + cap - 1) / cap, "sequence count = ceil(total/cap)")
    assert(lastFill == total - (nSeq - 1) * cap, "only the last sequence underfills")
    assert(nFull == (if (lastFill == cap) nSeq else nSeq - 1))
    assert(maxDocs >= 1 && maxDocs <= cap, "a sequence holds 1..cap docs")
  }

  // ---- interleaved bench canary (r14 verdict #6) ---------------------------

  test("r15: interleaved canary localizes a mid-run load transient") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    // a CPU-bound probe: shared-box load inflates it measurably
    val probe: (SparkSession, String) => DataFrame =
      (s, _) => s.range(4000000L).agg(sum("id"))
    val hogs = new java.util.concurrent.atomic.AtomicReference[Seq[Thread]](Nil)
    def setLoad(on: Boolean): Unit =
      if (on) {
        val ts = (1 to 3 * Runtime.getRuntime.availableProcessors).map { _ =>
          val t = new Thread(() => {
            var x = 0L
            while (!Thread.interrupted()) { x += 1; if (x == Long.MaxValue) x = 0 }
          })
          t.setDaemon(true); t.start(); t
        }
        hogs.set(ts)
      } else { hogs.get.foreach(_.interrupt()); hogs.set(Nil) }
    def q(load: Option[Boolean]): (SparkSession, String) => DataFrame =
      (s, _) => { load.foreach(setLoad); s.range(10).toDF() }
    // queries run in NAME order; the hog spins during q3/q4 only
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "q1" -> q(None), "q2" -> q(None), "q3" -> q(Some(true)),
      "q4" -> q(None), "q5" -> q(Some(false)), "q6" -> q(None))
    try {
      val (results, samples) = Bench.runAllWithCanary(spark, sf, queries,
        reps = 1, canaryEvery = 1, probe = Some(("probe", probe)))
      assert(results.size == 6 && samples.size == 7,
        s"one sample before each query + one final (got ${samples.size})")
      // samples at indices 4 and 5 ran under load (after q3/q4 set it)
      val loaded = samples.filter(s => s._1 == 4 || s._1 == 5).map(_._2)
      val calm = samples.filter(s => s._1 <= 2 || s._1 == 6).map(_._2)
      info(s"canary samples: ${samples.mkString(", ")}")
      assert(loaded.max > calm.min * 1.2,
        s"deliberate load must surface in the local samples " +
          s"(loaded=${loaded.mkString(",")} calm=${calm.mkString(",")})")
      // the artifact carries the samples and per-query lnorm
      val json = Bench.toJson(results, sf, samples)
      assert(json.contains("\"samples\":[[0,") && json.contains("\"lnorm\":"))
    } finally setLoad(false)
  }

  test("r15: SQL insert schema drift fails at analysis, nothing lands") {
    val run = Maintenance.occRun(spark, sf, name = "r15_sql_drift_run")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(run).getName
    val before = Maintenance.currentSnapshotVersion(run)
    val files = new java.io.File(run).listFiles().map(_.getName).toSet
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"INSERT INTO graft.`$name` SELECT 1 AS bogus")
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      // right arity, wrong (non-castable) types
      spark.sql(s"INSERT INTO graft.`$name` " +
        "SELECT array(1), array(2), array(3), array(4), array(5), array(6)")
    }
    assert(Maintenance.currentSnapshotVersion(run) == before, "a version landed")
    assert(new java.io.File(run).listFiles().map(_.getName).toSet == files,
      "a rejected SQL insert left files in the store")
  }

  test("r15: SQL DELETE is MoR, no-op-safe, exact when untranslatable (r16)") {
    import spark.implicits._
    val run = Maintenance.occRun(spark, sf, name = "r15_sql_del_run")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(run).getName
    val before = Maintenance.currentSnapshotVersion(run)
    // r16: a predicate the source can't translate (modulo) no longer
    // fails at analysis — it executes EXACTLY through the delta-based
    // row-level rewrite (Round16Spec gates that path); here we pin that
    // it deletes precisely the matching rows and nothing else
    val pre = spark.read.format("graft").load(run)
    val wantAfterMod = pre.filter(expr("o_orderkey % 10 <> 0")).count()
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderkey % 10 = 0")
    assert(spark.read.format("graft").load(run).count() == wantAfterMod)
    assert(Maintenance.currentSnapshotVersion(run) == before + 1)
    // the rest of the gate runs on a fresh store (the metadata-delete
    // fast path must still hold on a dv-free manifest)
    val run2 = Maintenance.occRun(spark, sf, name = "r15_sql_del_run2")
    val name2 = new java.io.File(run2).getName
    val before2 = Maintenance.currentSnapshotVersion(run2)
    testDeleteRest(run2, name2, before2)
  }

  private def testDeleteRest(run: String, name: String, before: Int): Unit = {
    import spark.implicits._
    // matching nothing: no version lands
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderpriority = 'NO-SUCH'")
    assert(Maintenance.currentSnapshotVersion(run) == before)
    // a real delete commits EXACTLY one dv: line; data lines untouched
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderkey < 100")
    val v2 = Maintenance.currentSnapshotVersion(run)
    assert(v2 == before + 1)
    val l1 = Maintenance.manifestPaths(run, before)
    val l2 = Maintenance.manifestPaths(run, v2)
    val added = l2.filterNot(l1.contains)
    assert(added.size == 1 && added.head.startsWith("dv:"),
      s"a MoR delete must add exactly one dv line, got $added")
    assert(l2.filterNot(_.startsWith("dv:")).toSet ==
      l1.filterNot(_.startsWith("dv:")).toSet, "no data file may move")
    // and the MoR read agrees with the predicate
    val got = spark.read.format("graft").load(run).count()
    val want = spark.read.parquet(l1: _*).filter($"o_orderkey" >= 100).count()
    assert(got == want, s"post-delete read $got != $want")
  }

  test("r15: vacuum reclaims retired DV sidecars, keeps referenced ones") {
    import spark.implicits._
    val root = freshRoot("r15_vacuum_dv")
    def tiny(name: String): String = {
      val dir = s"$root/$name"
      spark.range(3).toDF("id").write.mode("overwrite").parquet(dir)
      dir
    }
    val g1 = tiny("g1"); val g2 = tiny("g2"); val g3 = tiny("g3")
    val dv = tiny("dv1")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"), g1.getBytes("UTF-8"))
    Maintenance.commitSnapshot(root, 1, Seq.empty, Seq(s"dv:$dv", g2))
    // v3: compaction-like rewrite drops everything for g3
    Maintenance.commitSnapshot(root, 2, Seq(g1, g2, s"dv:$dv"), Seq(g3))
    val dead = Maintenance.vacuum(root, retainVersions = Seq(3))
    assert(!new java.io.File(dv).exists(),
      "a retired dv sidecar must be reclaimed, not leak forever")
    assert(!new java.io.File(g1).exists() && !new java.io.File(g2).exists())
    assert(new java.io.File(g3).exists(), "live groups must survive")
    assert(dead.toSet == Set(g1, g2, dv), s"unexpected dead set $dead")
  }

  test("r15: streaming sink commits carry zone stats") {
    import spark.implicits._
    val root = freshRoot("r15_sink_zones")
    graft.Staging.rmTree(new java.io.File(root))
    val batch = Tables.orders(spark, sf).limit(50)
      .select($"o_orderkey", $"o_totalprice")
    // r17: the sink rides the DSv2 front door, which resolves the
    // schema before the first batch — the empty store is schema'd
    Maintenance.createStore(root, batch.schema)
    assert(graft.streaming.Streaming.graftSinkCommit(root, 0L, batch))
    val zones = Maintenance.manifestZones(root, 2)
    assert(zones.exists(_._2 == "o_orderkey") &&
      zones.exists(_._2 == "o_totalprice"),
      s"sink commit must carry zone stats, got $zones")
    // replay stays a no-op
    assert(!graft.streaming.Streaming.graftSinkCommit(root, 0L, batch))
    assert(Maintenance.currentSnapshotVersion(root) == 2)
  }

  test("r15: mergeSchema evolution — opt-in only, type-safe, null-padding") {
    import spark.implicits._
    val run = Maintenance.occRun(spark, sf, name = "r15_schema_merge_run")
    val cols = spark.read.format("graft").load(run).columns.toSeq
    def batch = Tables.orders(spark, sf).filter($"o_orderkey" % 20 === 9)
      .select(cols.map(col): _*)
    // an extra column WITHOUT the option: analyzer rejects, nothing lands
    intercept[org.apache.spark.sql.AnalysisException] {
      batch.withColumn("o_flag", lit(1L))
        .write.format("graft").mode("append").save(run)
    }
    assert(Maintenance.currentSnapshotVersion(run) == 1)
    // re-typing an existing column fails even WITH the option
    intercept[Exception] {
      batch.withColumn("o_totalprice", $"o_totalprice".cast("string"))
        .write.format("graft").mode("append")
        .option("mergeSchema", "true").save(run)
    }
    assert(Maintenance.currentSnapshotVersion(run) == 1, "nothing may land")
    // a batch MISSING a nullable column + carrying a new one: padded +
    // evolved in one commit
    batch.drop("o_orderpriority").withColumn("o_flag", lit(7L))
      .write.format("graft").mode("append")
      .option("mergeSchema", "true").save(run)
    assert(Maintenance.currentSnapshotVersion(run) == 2)
    val v2 = spark.read.format("graft").load(run)
    assert(v2.columns.toSeq == cols :+ "o_flag", v2.columns.mkString(","))
    val nBatch = batch.count()
    assert(v2.filter($"o_flag".isNotNull).count() == nBatch,
      "new column must carry the batch's values, old rows null")
    assert(v2.filter($"o_orderpriority".isNull).count() == nBatch,
      "missing nullable column must null-pad exactly the batch rows")
    // time travel to v1 keeps v1's own schema
    assert(spark.read.format("graft").option("versionAsOf", 1).load(run)
      .columns.toSeq == cols)
  }

  test("r15: encrypted stores serve time travel, history, and OCC races") {
    import spark.implicits._
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r15_enc_combo")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      (0 to 3).map(g => s"$data/base/g=$g").mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "commits_ts.txt"),
      "1=1767261600\n2=1767265200".getBytes("UTF-8"))
    Maintenance.enableStoreEncryption(root, "combo-mk-1")
    // the commit log is now ciphertext; resolveAsOf still resolves
    Maintenance.commitSnapshot(root, 1, Seq.empty, Seq(s"$data/newfile"))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "commits_ts.txt")), "UTF-8")
      .startsWith("GRAFTENC1"), "commit log must be encrypted at rest")
    assert(Maintenance.resolveAsOf(root, 1767263400L) == 1)
    val n1 = spark.read.format("graft")
      .option("timestampAsOf", 1767263400L).load(root).count()
    assert(n1 == spark.read.parquet(
      (0 to 3).map(g => s"$data/base/g=$g"): _*).count())
    // the history table decrypts transparently too
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(root).getName
    val hist = spark.sql(s"SELECT * FROM graft.`$name$$history` ORDER BY version")
      .collect()
    // r16 widened the schema (operation metadata); address by name
    assert(hist.length == 2 &&
      hist(0).getAs[Int]("n_data_groups") == 4 &&
      hist(1).getAs[Int]("n_data_groups") == 5,
      s"history over the encrypted store: ${hist.mkString(",")}")
    // OCC conflict detection reads encrypted manifests correctly
    intercept[Maintenance.SnapshotConflictException] {
      Maintenance.commitSnapshot(root, 1,
        removed = Seq(s"$data/base/g=0"), added = Seq(s"$data/newfile2"),
        strict = true)
    }
  }

  test("r15: overwrite fails closed against ANY concurrent commit") {
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r15_strict_ow")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      (0 to 3).map(g => s"$data/base/g=$g").mkString("\n").getBytes("UTF-8"))
    // a concurrent APPEND lands v2 after the overwriter read v1
    Maintenance.commitSnapshot(root, 1, Seq.empty, Seq(s"$data/newfile"))
    // non-strict (append semantics) would rebase; strict truncate must
    // abort — committing batch ∪ concurrently-appended-group silently
    // violates overwrite semantics
    intercept[Maintenance.SnapshotConflictException] {
      Maintenance.commitSnapshot(root, 1,
        removed = Maintenance.manifestPaths(root, 1),
        added = Seq(s"$data/newfile2"), strict = true)
    }
    assert(Maintenance.currentSnapshotVersion(root) == 2, "nothing must land")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Maintenance

/** Round-14 gates: the pinned (corpus-independent) eval panels for the
  * brute-force similarity gold legs, and the DSv2 front door's
  * behavioral contracts (MoR parity, change-feed exactness and
  * fail-closed shapes, timestamp resolution).
  */
class Round14Spec extends AnyFunSuite {
  import TestSession._

  private val sfSmall = "/root/testdata/sf0.01"
  private val sfBig = "/root/testdata/sf0.1"

  // ---- eval panels (r13 verdict "What's wrong" #1) -------------------------

  test("eval panel is pinned: identical query ids at sf0.01 and sf0.1") {
    def ids(name: String, d: String): Set[Long] =
      SparkEntry.queries(name)(spark, d).select("query_id").distinct()
        .collect().map(_.getLong(0)).toSet
    val small = ids("sim_bruteforce_topk", sfSmall)
    val big = ids("sim_bruteforce_topk", sfBig)
    assert(small == big, "panel must not grow with the corpus")
    assert(small == (0L until 500L by 50L).toSet, s"unexpected panel: $small")
    // mrl's four brute-force legs share evalPanel at stride 100; its
    // n_queries column pins the panel size at both scales
    def mrlQ(d: String): Set[Long] =
      SparkEntry.queries("sim_mrl_recall")(spark, d)
        .select("n_queries").distinct().collect().map(_.getLong(0)).toSet
    assert(mrlQ(sfSmall) == Set(5L) && mrlQ(sfBig) == Set(5L),
      "mrl panel must be corpus-independent")
    // the corpora differ 4x (500 vs 2000 vectors), so with a constant
    // panel every gold leg's scored-row count — panel x (N-1) by
    // construction — scales linearly in N, never quadratically
    val n1 = Tables.embeddings(spark, sfSmall).count()
    val n2 = Tables.embeddings(spark, sfBig).count()
    assert(n1 == 500L && n2 == 2000L, s"scale assumption moved: $n1/$n2")
  }

  // ---- DSv2 front door ------------------------------------------------------

  private def freshRoot(name: String): String = {
    val root = s"/tmp/graft_q/${name}_spec"
    graft.Staging.rmTree(new java.io.File(root))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    root
  }

  test("DSv2 MoR read equals the library MoR path at every version") {
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r14_mor")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      (0 to 3).map(g => s"$data/base/g=$g").mkString("\n").getBytes("UTF-8"))
    val v2 = Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", s"dv:$data/dv"))
    val v3 = Maintenance.commitSnapshot(root, v2, Seq.empty,
      Seq(s"$data/newfile2", s"dv:$data/dv2"))
    for (v <- Seq(1, v2, v3)) {
      val dsv2 = spark.read.format("graft").option("versionAsOf", v).load(root)
        .select("o_orderkey", "o_totalprice").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      val lib = Maintenance.readSnapshotMoR(spark, root, v)
        .select("o_orderkey", "o_totalprice").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(dsv2 == lib, s"DSv2 and library MoR reads diverge at v$v")
    }
  }

  test("DSv2 change feed is exact and fails closed on a compaction pair") {
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r14_cdf")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      (0 to 3).map(g => s"$data/base/g=$g").mkString("\n").getBytes("UTF-8"))
    val v2 = Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", s"dv:$data/dv"))
    val feed = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 1).option("endingVersion", v2).load(root)
    val counts = feed.groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // brute-force oracle: deletes = the DV's positions; inserts = the
    // added file's rows
    assert(counts("delete") == spark.read.parquet(s"$data/dv").count())
    assert(counts("insert") == spark.read.parquet(s"$data/newfile").count())
    // delete pre-images carry base values: join back onto v1 by key
    val delKeys = feed.filter(col("_change_type") === "delete")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val v1Keys = Maintenance.readSnapshotMoR(spark, root, 1)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(delKeys.subsetOf(v1Keys), "delete pre-images must exist in v1")
    // a compaction commit replaces base groups — data-neutral, so the
    // row-level feed must refuse rather than fabricate deletes/inserts
    val v3 = Maintenance.commitSnapshot(root, v2,
      (0 to 3).map(g => s"$data/base/g=$g") ++ Seq(s"dv:$data/dv"),
      (0 to 3).map(g => s"$data/compact/g=$g"))
    val bad = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", v2).option("endingVersion", v3).load(root)
    val e = intercept[Exception] { bad.count() }
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: causes(x.getCause))
    assert(causes(e).exists(m => m != null && m.contains("removed data groups")),
      s"compaction pair should fail closed, got: ${e.getMessage}")
  }

  test("DSv2 timestampAsOf resolves commits and fails closed before the first") {
    val root = Maintenance.snapshotRoot(spark, sf)
    // ensure the commit log exists (io_time_travel_ts writes it
    // atomically; replicate the content here for test isolation)
    val log = java.nio.file.Paths.get(root, "commits_ts.txt")
    if (!java.nio.file.Files.exists(log))
      java.nio.file.Files.write(log, "1=1767261600\n2=1767265200".getBytes("UTF-8"))
    val v1 = spark.read.format("graft")
      .option("timestampAsOf", 1767263400L).load(root)
    val v2 = spark.read.format("graft")
      .option("timestampAsOf", 1767272400L).load(root)
    val s1 = v1.agg(sum("o_totalprice")).collect()(0).getDouble(0)
    val s2 = v2.agg(sum("o_totalprice")).collect()(0).getDouble(0)
    assert(s1 != s2, "the two probes must resolve different snapshots")
    val e = intercept[Exception] {
      spark.read.format("graft").option("timestampAsOf", 1L).load(root).count()
    }
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: causes(x.getCause))
    assert(causes(e).exists(m => m != null && m.contains("no commit at or before")),
      s"pre-first-commit probe must fail closed, got: ${e.getMessage}")
  }

  // ---- staged tokenizer (r13 verdict "Next round" #3) ----------------------

  test("warm BPE paths read the staged model: zero training jobs") {
    import graft.operators.Corpus
    // prime the store (trains at most once per corpus fingerprint)
    Corpus.bpeModelRoot(spark, sf)
    val before = Corpus.bpeTrainRuns.get()
    val enc = SparkEntry.queries("text_bpe_encode")(spark, sf).collect()
    val fert = SparkEntry.queries("text_fertility")(spark, sf).collect()
    val train = SparkEntry.queries("text_bpe")(spark, sf).collect()
    assert(enc.nonEmpty && fert.nonEmpty && train.length == Corpus.BpeRounds)
    assert(Corpus.bpeTrainRuns.get() == before,
      "warm encode/fertility/train must NOT retrain the tokenizer")
    // the staged state must reproduce the trainer's invariant: encoding
    // compresses (tokens <= chars) and covers every word
    fert.foreach { r =>
      val (nw, nt, nc) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nt >= nw && nt <= nc, s"fertility row out of bounds: $r")
    }
  }

  test("DSv2 rejects contradictory version options") {
    val root = Maintenance.snapshotRoot(spark, sf)
    val e = intercept[Exception] {
      spark.read.format("graft").option("versionAsOf", 1)
        .option("timestampAsOf", 1767263400L).load(root).count()
    }
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
  }

  // ---- text_fix_encoding (r13 verdict "Next round" #7) ----------------------

  test("fixEncoding kernel: each corruption class repairs on crafted strings") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val cases = Seq(
      // double-encoded UTF-8 (the cp1252 round trip is exact by construction)
      TextAnalysis.cp1252Mojibake("caf\u00e9 \u2014 \u201cna\u00efve\u201d") ->
        "caf\u00e9 \u2014 \u201cna\u00efve\u201d",
      // zero-width + control chars vanish, \t \n survive
      "a\u200Bb\u200C\u200Dc\uFEFFd\te\nf" -> "abcd\te\nf",
      // fullwidth block folds, ligatures expand
      "\uFF28\uFF49 \uFF11\uFF12\uFF13! \uFB00\uFB01\uFB02" -> "Hi 123! fffifl",
      // clean ASCII is a fixed point
      "already clean text 42" -> "already clean text 42")
    val got = cases.map(_._1).toDF("text")
      .select(TextAnalysis.fixEncoding(col("text"))).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, want) => assert(g == want) }
  }

  test("text_fix_encoding: repair round-trips every doc on every source") {
    val out = SparkEntry.queries("text_fix_encoding")(spark, sf).collect()
    assert(out.length == 20)
    out.foreach { r =>
      assert(r.getLong(6) == r.getLong(1), s"repair failed to round-trip: $r")
      // detection found each planted class (docs are dealt mod 4 across
      // sources, so every source has all three dirty classes)
      assert(r.getLong(2) > 0 && r.getLong(3) > 0 && r.getLong(4) > 0, s"$r")
      // exactly the three dirty classes changed (class 2 is the control)
      assert(r.getLong(5) == r.getLong(2) + r.getLong(3) + r.getLong(4), s"$r")
    }
  }

  // ---- text_url_domains (r13 verdict "Next round" #8) -----------------------

  test("text_url_domains: rollup is exact and the cap keeps the first-K doc ids") {
    import spark.implicits._
    val out = SparkEntry.queries("text_url_domains")(spark, sf).collect()
    val byDom = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    assert(byDom.keySet ==
      Set("example.com", "foo-press.org", "barnews.net", "knowledge.io"))
    // brute-force replay of the plant from the raw table
    val docs = Tables.documents(spark, sf).select($"doc_id").as[Long].collect().sorted
    val hosts = graft.operators.TextAnalysis.UrlHosts
    def regDom(h: String) = h.split("\\.").takeRight(2).mkString(".")
    val planted = docs.flatMap { id =>
      val first = regDom(hosts((id % 6).toInt))
      if (id % 3 == 0) Seq(id -> first, id -> "example.com") else Seq(id -> first)
    }
    val wantUrls = planted.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val docsPerDom = planted.distinct.groupBy(_._2).view
      .mapValues(_.map(_._1).sorted).toMap
    for ((dom, (nUrls, nDocs, nKept, keptSum)) <- byDom) {
      assert(nUrls == wantUrls(dom), s"$dom urls")
      val ds = docsPerDom(dom)
      assert(nDocs == ds.length.toLong, s"$dom docs")
      val kept = ds.take(graft.operators.TextAnalysis.DomainCap)
      assert(nKept == kept.length.toLong && keptSum == kept.sum, s"$dom cap")
    }
  }

  // ---- DSv2 write path (r14) -------------------------------------------------

  test("DSv2 write: appends rebase into consecutive versions, overwrite truncates") {
    import spark.implicits._
    val run = Maintenance.occRun(spark, sf, name = "r14_dsv2w")
    val base = spark.read.format("graft").option("versionAsOf", 1).load(run)
    val cols = base.columns.toSeq
    val n1 = base.count()
    val batch = Tables.orders(spark, sf).filter($"o_orderkey" % 20 === 7)
      .select(cols.map(col): _*)
    val nb = batch.count()
    // two appends from the same logical base: both commit — appends
    // remove nothing, so OCC rebases them into v2 then v3
    batch.write.format("graft").mode("append").save(run)
    batch.write.format("graft").mode("append").save(run)
    assert(Maintenance.currentSnapshotVersion(run) == 3)
    assert(spark.read.format("graft").load(run).count() == n1 + 2 * nb)
    // every version stays readable — the write path never mutates
    // committed groups
    assert(spark.read.format("graft").option("versionAsOf", 1).load(run)
      .count() == n1)
    assert(spark.read.format("graft").option("versionAsOf", 2).load(run)
      .count() == n1 + nb)
    // overwrite = truncate-and-replace in ONE commit
    batch.write.format("graft").mode("overwrite").save(run)
    assert(Maintenance.currentSnapshotVersion(run) == 4)
    assert(spark.read.format("graft").load(run).count() == nb)
    // v1..v3 still time-travel intact after the truncating commit
    assert(spark.read.format("graft").option("versionAsOf", 3).load(run)
      .count() == n1 + 2 * nb)
  }

  test("DSv2 write: schema drift and time-travel writes fail before any commit") {
    import spark.implicits._
    val run = Maintenance.occRun(spark, sf, name = "r14_dsv2w_bad")
    val before = new java.io.File(run).listFiles().map(_.getName).toSet
    // wrong shape: rejected at ANALYSIS by by-name output resolution —
    // nothing may land in the store. (A missing NULLABLE column is
    // null-padded by the resolver — standard Spark append semantics —
    // so the fail-closed cases are extra and renamed columns.)
    val base = spark.read.format("graft").load(run)
    intercept[org.apache.spark.sql.AnalysisException] {
      base.withColumn("bogus", lit(1))
        .write.format("graft").mode("append").save(run)
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      base.withColumnRenamed("o_totalprice", "price")
        .write.format("graft").mode("append").save(run)
    }
    assert(Maintenance.currentSnapshotVersion(run) == 1)
    assert(new java.io.File(run).listFiles().map(_.getName).toSet == before,
      "a rejected write left files in the store")
    // a write addressed at a historical snapshot must fail closed
    val cols = spark.read.format("graft").load(run).columns.toSeq
    val batch = Tables.orders(spark, sf).filter($"o_orderkey" % 20 === 7)
      .select(cols.map(col): _*)
    batch.write.format("graft").mode("append").save(run) // -> v2
    val e2 = intercept[Exception] {
      batch.write.format("graft").option("versionAsOf", 1)
        .mode("append").save(run)
    }
    assert(e2.getMessage.contains("time-travel"), e2.getMessage)
    assert(Maintenance.currentSnapshotVersion(run) == 2)
  }

  // ---- DSv2 write: zone-map maintenance (r14) --------------------------------

  test("DSv2 write maintains the zone map: appended groups prune immediately") {
    import spark.implicits._
    // metadata-only scratch copy of the zonemap store (same shared,
    // read-only data groups — the staged store itself must stay pristine
    // for io_manifest_skipping's oracle)
    val zroot = Maintenance.zonemapRoot(spark, sf)
    val root = freshRoot("r14_zones_w")
    for (f <- Seq("manifest_v1.txt", "schema_v1.json"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(zroot, f), java.nio.file.Paths.get(root, f))
    // append one known-range year of orders through the front door
    val cols = spark.read.format("graft").load(root).columns.toSeq
    val batch = Tables.orders(spark, sf)
      .filter(year($"o_orderdate") === 1997).select(cols.map(col): _*)
    batch.write.format("graft").mode("append").save(root)
    // the new group carries exact zone stats — committed as `zone:`
    // lines INSIDE manifest_v2 (r15: stats inherit OCC atomicity)
    val added = Maintenance.manifestZones(root, 2)
      .filter(z => z._1.contains("/append_") && z._2 == "o_orderdate")
    assert(added.length == 1, "exactly one o_orderdate zone line for the appended group")
    val (_, _, lo, hi, n) = added.head
    // footer-harvested stats render the full timestamp; the date
    // prefix must be the batch's exact min/max day
    val want = batch.agg(date_format(min($"o_orderdate"), "yyyy-MM-dd"),
      date_format(max($"o_orderdate"), "yyyy-MM-dd"), count(lit(1))).collect()(0)
    assert(lo.startsWith(want.getString(0)) && hi.startsWith(want.getString(1)) &&
      n == want.getLong(2), s"zone stats $lo..$hi ($n) vs $want")
    // ...and a read outside its range prunes it from the very next scan
    val df = spark.read.format("graft").load(root)
      .filter($"o_orderdate" >= "1995-03-01" && $"o_orderdate" <= "1995-09-30")
    val desc = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("GraftScan")).getOrElse("")
    val m = """groups=(\d+)/(\d+) zoneSkipped=(\d+)""".r.findFirstMatchIn(desc)
    assert(m.isDefined, s"no group accounting: $desc")
    assert(m.get.group(3).toInt >= 1, s"appended group not pruned: $desc")
    // pruning stays a pure superset optimization after the append
    val paths = Maintenance.manifestPaths(root, 2)
    val oracle = spark.read.parquet(paths: _*)
      .filter($"o_orderdate" >= "1995-03-01" && $"o_orderdate" <= "1995-09-30")
      .count()
    assert(df.count() == oracle, "zone maintenance changed an answer")
  }

  // ---- GraftCatalog: pure-SQL front door (r14) -------------------------------

  test("GraftCatalog: SQL time travel agrees with the DataFrame path; fails closed") {
    val root = Maintenance.snapshotRoot(spark, sf)
    Maintenance.ensureCommitLog(root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(root).getName
    // the analyzer's own syntax routes to loadTable(ident, version)
    for (v <- Seq(1, 2)) {
      val sql = spark.sql(s"SELECT COUNT(*) AS n, SUM(o_totalprice) AS s " +
        s"FROM graft.`$name` VERSION AS OF $v").collect()(0)
      val df = spark.read.format("graft").option("versionAsOf", v).load(root)
        .agg(count(lit(1)), sum(col("o_totalprice"))).collect()(0)
      assert(sql.getLong(0) == df.getLong(0) && sql.getDouble(1) == df.getDouble(1),
        s"SQL and DataFrame paths diverge at v$v")
    }
    // TIMESTAMP AS OF resolves through the commit log (micros -> seconds)
    val between = spark.sql(s"SELECT COUNT(*) FROM graft.`$name` " +
      "TIMESTAMP AS OF '2026-01-01 10:30:00'").collect()(0).getLong(0)
    assert(between == spark.read.format("graft").option("versionAsOf", 1)
      .load(root).count())
    // a probe before the first commit fails closed, same as the reader
    val e = intercept[Exception] {
      spark.sql(s"SELECT COUNT(*) FROM graft.`$name` " +
        "TIMESTAMP AS OF '2020-01-01 00:00:00'").collect()
    }
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: causes(x.getCause))
    assert(causes(e).exists(m => m != null && m.contains("no commit at or before")))
    // unknown tables fail closed
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft.`no_such_store`").collect()
    }
    // the store is discoverable
    val listed = spark.sql("SHOW TABLES IN graft").collect().map(_.getString(1))
    assert(listed.contains(name), s"store not listed: ${listed.take(10).mkString(",")}")
    // r17: DROP TABLE is now part of the DDL surface — it removes the
    // store and the name stops resolving (a throwaway store, not the
    // shared staged fixture)
    val dropRoot = "/tmp/graft_q/r14_drop_probe"
    graft.Staging.rmTree(new java.io.File(dropRoot))
    spark.sql("CREATE TABLE graft.r14_drop_probe (k BIGINT)")
    spark.sql("DROP TABLE graft.r14_drop_probe")
    assert(!new java.io.File(dropRoot).exists())
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft.r14_drop_probe").collect()
    }
  }

  // ---- stream_graft_sink (r14) ----------------------------------------------

  test("stream_graft_sink: versioned ingest history, idempotent batch commits") {
    import spark.implicits._
    val out = SparkEntry.queries("stream_graft_sink")(spark, sf).collect()
    assert(out.nonEmpty)
    val (dirKey, _) = Tables.stagingKey(sf, "events")
    val root = s"/tmp/graft_q/gsink_$dirKey"
    val vMax = Maintenance.currentSnapshotVersion(root)
    assert(vMax >= 2, "ingest must have committed at least one batch atop the empty v1")
    // the ingest history time-travels: every version readable through
    // the front door, counts monotone from the empty store to all events
    val counts = (1 to vMax).map { v =>
      if (Maintenance.manifestPaths(root, v).isEmpty) 0L
      else spark.read.format("graft").option("versionAsOf", v).load(root).count()
    }
    assert(counts.head == 0L)
    assert(counts.zip(counts.tail).forall { case (a, b) => a < b },
      s"ingest history must grow strictly: $counts")
    assert(counts.last == Tables.events(spark, sf).count())
    // a directly replayed batch is recognized and commits NOTHING —
    // the txn-registry idempotence layer under the checkpoint's offset
    // log (r17: the registry line, not batch-named dirs, is the guard)
    val replayBatch = spark.read.format("graft").load(root).limit(3)
    val replayed = graft.streaming.Streaming.graftSinkCommit(
      root, 0L, replayBatch)
    assert(!replayed && Maintenance.currentSnapshotVersion(root) == vMax,
      "a replayed batch must not commit a new version")
    // warm end-to-end: the checkpoint restart replays no batch either
    val again = SparkEntry.queries("stream_graft_sink")(spark, sf).collect()
    assert(Maintenance.currentSnapshotVersion(root) == vMax)
    assert(again.map(_.toString).toSeq == out.map(_.toString).toSeq)
  }

  // ---- staged-artifact crypto parity (r13 verdict "Next round" #10) ---------

  test("no staged root derives from crypto-surface data (plaintext-store invariant)") {
    // The content-fingerprint stores under /tmp/graft_q are PLAINTEXT
    // parquet. That is sound only while every staged artifact derives
    // from the plain test tables; the moment one derives from an
    // encrypted-surface table it must inherit envelope encryption
    // (design note: SURVEY.md §8). This gate pins the precondition:
    // every staged root's recorded source is a plain Tables table
    // under the testdata tree — never a crypto_* surface or a
    // /tmp/graft_q-resident derived store.
    val staged = Option(new java.io.File(graft.Staging.Base).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && graft.Staging.Kinds.exists(f.getName.startsWith))
    assert(staged.nonEmpty, "expected at least one staged artifact to audit")
    staged.foreach { dir =>
      val srcFile = new java.io.File(dir, "staging_source.txt")
      assert(srcFile.exists(), s"${dir.getName}: staged root without a source record")
      val Array(d, table, _*) = new String(
        java.nio.file.Files.readAllBytes(srcFile.toPath), "UTF-8").split("\n")
      assert(Tables.names.contains(table),
        s"${dir.getName}: staged from non-canonical table '$table'")
      assert(!table.startsWith("crypto") && !d.contains("/tmp/graft_q"),
        s"${dir.getName}: staged from a derived/crypto surface: $d/$table")
      assert(new java.io.File(d, s"$table.parquet").exists(),
        s"${dir.getName}: recorded source is not a plain parquet table: $d/$table")
    }
  }

  // ---- io_occ_commit (r13 verdict "Next round" #6) --------------------------

  test("io_occ_commit: the loser aborts, the winner's files survive the rebase") {
    val out = SparkEntry.queries("io_occ_commit")(spark, sf).collect()
    assert(out.map(_.getString(0)).toSeq ==
      Seq("1_base", "2_writer_a_commit", "3_writer_b_overlap", "4_writer_c_rebase"))
    val b = out(2)
    assert(!b.getBoolean(2) && b.getBoolean(3),
      s"overlapping writer must abort with a conflict: $b")
    assert(b.getLong(1) == 2L, "the aborted commit must not bump the version")
    // post-mortem of the manifest files the race left behind: exactly
    // v1..v3 committed, zero in-flight temp files leaked by the loser
    val run = s"/tmp/graft_q/io_occ_run_${new java.io.File(sf).getName}"
    val left = new java.io.File(run).listFiles().map(_.getName).sorted.toSeq
    // schema_v1.json: seeded by occRun since r18 (the staged groups'
    // recorded file schema) so store resolves skip footer inference
    assert(left == Seq("manifest_v1.txt", "manifest_v2.txt",
        "manifest_v3.txt", "schema_v1.json"),
      s"race left unexpected files: $left")
    // v3 carries BOTH survivors and neither replaced base group
    val v3 = Maintenance.manifestPaths(run, 3)
    assert(v3.exists(_.endsWith("rw_a_g0")) && v3.exists(_.endsWith("rw_c_g2")),
      s"a winner's files vanished: $v3")
    assert(!v3.exists(_.endsWith("g=0")) && !v3.exists(_.endsWith("g=2")),
      s"a replaced base group was resurrected: $v3")
    // the loser's staged data never entered any committed manifest
    (1 to 3).foreach { v =>
      assert(!Maintenance.manifestPaths(run, v).exists(_.endsWith("rw_b_g0")),
        s"the aborted writer's files leaked into manifest v$v")
    }
    // arithmetic proof stage 4 includes both rewrites: recompute from orders
    import org.apache.spark.sql.functions._
    val want = Tables.orders(spark, sf)
      .agg(graft.OracleMath.dsum(
        when(col("o_orderkey") % 40 === 0 || col("o_orderkey") % 40 === 2,
          floor(col("o_totalprice") * lit(1.1) * 100.0 + 0.5) / 100.0)
          .otherwise(col("o_totalprice"))).as("s"))
      .collect()(0).getDouble(0)
    assert(out(3).getDouble(5) == want, "stage-4 sum must carry A's AND C's bumps")
  }
}

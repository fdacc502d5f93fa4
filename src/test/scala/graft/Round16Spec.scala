package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Maintenance
import graft.operators.Maintenance.{DvLine, SnapshotConflictException}
import graft.sources.{FooterStats, GraftScanCounters, GraftStore, ZoneOrder}

/** Round-16 gates: the serializable OCC conflict model over dv
  * read-sets (r15 verdict #1 — the compaction-vs-MERGE write-write
  * anomaly), executor-side DV position loading (r15 verdict #2),
  * UTF-8-byte string zone ordering (r15 ADVICE, high), and the
  * schema-log rebase fix (r15 ADVICE).
  */
class Round16Spec extends AnyFunSuite {
  import TestSession._

  private def freshRoot(name: String): String = {
    val root = s"/tmp/graft_q/${name}_spec"
    graft.Staging.rmTree(new java.io.File(root))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    root
  }

  /** A fresh store over the shared staged MoR base groups at v1. */
  private def morStore(name: String): (String, String) = {
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot(name)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      (0 to 3).map(g => s"$data/base/g=$g").mkString("\n").getBytes("UTF-8"))
    (root, data)
  }
  private def baseGroups(data: String): Seq[String] =
    (0 to 3).map(g => s"$data/base/g=$g")
  private def dvLine(data: String, sc: String): String =
    DvLine.render(s"$data/$sc", baseGroups(data))

  // ---- UTF-8 byte ordering of string zone stats (r15 ADVICE, high) --------

  test("r16: string zone ordering is unsigned UTF-8 bytes, not UTF-16") {
    // U+E000 (private use) is ABOVE a surrogate pair in UTF-16 code
    // units but BELOW U+1F600's UTF-8 bytes (EE.. < F0..)
    val emoji = new String(Character.toChars(0x1F600))
    assert(ZoneOrder.utf8Cmp(emoji, "") > 0,
      "UTF-8 bytes must order the emoji above U+E000")
    assert(emoji.compareTo("") < 0,
      "sanity: Java UTF-16 order disagrees (the bug this gate pins)")
    val pe = ZoneOrder.parse(org.apache.spark.sql.types.StringType, emoji).get
    val pp = ZoneOrder.parse(org.apache.spark.sql.types.StringType, "").get
    assert(ZoneOrder.provablyAbove(pe, pp) && !ZoneOrder.provablyAbove(pp, pe))
  }

  test("r16: supplementary-char rows survive zone pruning end-to-end") {
    import spark.implicits._
    val emoji = new String(Character.toChars(0x1F600))
    val root = freshRoot("r16_utf8_zone")
    // initial group: plain ASCII values, no zone stats (fails open)
    val init = s"$root/init"
    Seq(("aa", 1L), ("bb", 2L)).toDF("tag", "v").write.parquet(init)
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "manifest_v1.txt"),
      init.getBytes("UTF-8"))
    // appended group carries the emoji row; its string zone stats are
    // harvested from the footer ([lo, hi] both within supplementary
    // range when the batch is emoji-only)
    Seq((emoji, 3L)).toDF("tag", "v")
      .write.format("graft").mode("append").save(root)
    // a UTF-16 comparator concludes probe "" > zone hi (emoji)
    // and prunes the only matching group — silently losing the row
    val got = spark.read.format("graft").load(root)
      .filter($"tag" >= "").collect()
    assert(got.length == 1 && got(0).getString(0) == emoji,
      s"zone pruning dropped the supplementary-char row: ${got.toSeq}")
  }

  // ---- dv read-set lines ----------------------------------------------------

  test("r16: DvLine render/parse/normalize round-trip") {
    val l = DvLine.render("/tmp/x/dv", Seq("/tmp/x/base/g=0", "/tmp/x/base/g=1"))
    assert(l == "dv:/tmp/x/dv@/tmp/x/base/g=0,/tmp/x/base/g=1")
    assert(DvLine.sidecar(l) == "/tmp/x/dv")
    assert(DvLine.groups(l).contains(Seq("/tmp/x/base/g=0", "/tmp/x/base/g=1")))
    assert(DvLine.normalize(l) == "dv:/tmp/x/dv")
    assert(DvLine.groups("dv:/tmp/x/dv").isEmpty) // legacy form
    assert(DvLine.normalize("zone:p|c|a|b|1") == "zone:p|c|a|b|1")
  }

  test("r16: manifestPaths strips dv read-set annotations for readers") {
    val (root, data) = morStore("r16_dv_norm")
    Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", dvLine(data, "dv")))
    val paths = Maintenance.manifestPaths(root, 2)
    assert(paths.contains(s"dv:$data/dv"), s"normalized dv line missing: $paths")
    assert(!paths.exists(_.contains("@")), s"annotation leaked to readers: $paths")
    // but the raw manifest keeps the read set for the commit protocol
    assert(Maintenance.manifestRawLines(root, 2).exists(l =>
      l.startsWith("dv:") && l.contains("@")))
  }

  // ---- the serializable conflict rules (r15 verdict #1) --------------------

  test("r16: a rebase that would dangle a dv fails closed (merge wins)") {
    val (root, data) = morStore("r16_race_merge_wins")
    Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", dvLine(data, "dv"))) // v2
    val plan = Maintenance.planCompaction(spark, root).get
    // concurrent MERGE lands v3 with a second dv on the base groups
    Maintenance.commitSnapshot(root, 2, Seq.empty,
      Seq(s"$data/newfile2", dvLine(data, "dv2")))
    val e = intercept[SnapshotConflictException] {
      Maintenance.commitCompaction(root, plan)
    }
    assert(e.getMessage.contains("resurrect"), e.getMessage)
    assert(Maintenance.currentSnapshotVersion(root) == 3)
    // the compaction's staged rewrite was cleaned up
    assert(!new java.io.File(plan.out).exists())
  }

  test("r16: a dv-add whose groups were retired fails closed (compaction wins)") {
    val (root, data) = morStore("r16_race_compact_wins")
    Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", dvLine(data, "dv"))) // v2
    assert(Maintenance.compactStore(spark, root) == 3)
    val e = intercept[SnapshotConflictException] {
      Maintenance.commitSnapshot(root, 2, Seq.empty,
        Seq(s"$data/newfile2", dvLine(data, "dv2")))
    }
    assert(e.getMessage.contains("resurrect") ||
      e.getMessage.contains("concurrent"), e.getMessage)
    assert(Maintenance.currentSnapshotVersion(root) == 3)
  }

  test("r16: concurrent dv-adds on the same group are serializable") {
    val (root, data) = morStore("r16_dv_vs_dv")
    Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", dvLine(data, "dv"))) // v2 from v1
    // a second MERGE still based on v1: same-group dv collision
    val e = intercept[SnapshotConflictException] {
      Maintenance.commitSnapshot(root, 1, Seq.empty,
        Seq(s"$data/newfile2", dvLine(data, "dv2")))
    }
    assert(e.getMessage.contains("concurrent row-level writes"), e.getMessage)
    // ... while a dv on a DISJOINT group rebases fine
    val v3 = Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(DvLine.render(s"$data/dv2", Seq(s"$data/newfile"))))
    assert(v3 == 3)
  }

  test("r16: threaded compaction-commit vs MERGE — exactly one survivor") {
    val (root, data) = morStore("r16_threaded_race")
    Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", dvLine(data, "dv"))) // v2
    // plan BEFORE the race: both writers then claim concurrently, and
    // whichever commits second MUST fail closed (were the plan taken
    // after the merge landed, compaction would legitimately fold both
    // dvs and both writers would serialize cleanly)
    val plan = Maintenance.planCompaction(spark, root).get
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    val t1 = new Thread(() =>
      try { Maintenance.commitCompaction(root, plan); outcomes.put("compact", true); () }
      catch { case _: SnapshotConflictException => outcomes.put("compact", false); () })
    val t2 = new Thread(() =>
      try {
        Maintenance.commitSnapshot(root, 2, Seq.empty,
          Seq(s"$data/newfile2", dvLine(data, "dv2")))
        outcomes.put("merge", true); ()
      } catch { case _: SnapshotConflictException => outcomes.put("merge", false); () })
    t1.start(); t2.start(); t1.join(); t2.join()
    val winners = Seq("compact", "merge").filter(outcomes.get(_))
    assert(winners.size == 1, s"expected exactly one survivor, got $winners")
    // whoever survived, the final manifest has no dangling dv
    val v = Maintenance.currentSnapshotVersion(root)
    val lines = Maintenance.manifestRawLines(root, v)
    val live = lines.filterNot(l => l.startsWith("zone:") || DvLine.is(l)).toSet
    val dangling = lines.filter(DvLine.is).flatMap(l =>
      DvLine.groups(l).getOrElse(Nil).filterNot(live.contains))
    assert(dangling.isEmpty, s"dangling dv refs after the race: $dangling")
  }

  test("r16: deleteWhere commits a read-set-annotated dv line") {
    val (root, _) = morStore("r16_delete_annotated")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(root).getName
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderpriority = '1-URGENT'")
    val raw = Maintenance.manifestRawLines(root, 2).filter(DvLine.is)
    assert(raw.size == 1 && raw.head.contains("@"),
      s"DELETE's dv line must carry its read set: $raw")
    val groups = DvLine.groups(raw.head).get
    assert(groups.nonEmpty && groups.forall(_.contains("/base/g=")),
      s"unexpected read set: $groups")
  }

  // ---- executor-side DV application (r15 verdict #2) ------------------------

  test("r16: MoR planning ships O(files) index rows, never positions") {
    import spark.implicits._
    val (root, data) = morStore("r16_exec_dv")
    Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", dvLine(data, "dv")))
    Maintenance.commitSnapshot(root, 2, Seq.empty,
      Seq(s"$data/newfile2", dvLine(data, "dv2")))
    val dvDirs = Seq(s"$data/dv", s"$data/dv2")
    val positions = FooterStats.rowCount(dvDirs,
      spark.sessionState.newHadoopConf())
    assert(positions > 0)
    // the exact driver-side state: distinct (file_key, sidecar file)
    val pairs = spark.read.parquet(dvDirs: _*)
      .select($"file_key", col("_metadata.file_path")).distinct().count()
    val before = GraftScanCounters.driverDvIndexRows.get()
    val n = spark.read.format("graft").load(root).count()
    val delta = GraftScanCounters.driverDvIndexRows.get() - before
    assert(n > 0)
    assert(delta == pairs,
      s"driver DV state must be the (file_key, sidecar) index: $delta vs $pairs")
    // MoR values agree with the library read path
    val dsv2 = spark.read.format("graft").load(root)
      .agg(count(lit(1)), sum($"o_totalprice")).collect()(0)
    val lib = Maintenance.readSnapshotMoR(spark, root, 3)
      .agg(count(lit(1)), sum($"o_totalprice")).collect()(0)
    assert(dsv2.getLong(0) == lib.getLong(0))
    assert(math.abs(dsv2.getDouble(1) - lib.getDouble(1)) <=
      1e-9 * math.abs(lib.getDouble(1)) + 1e-6)
  }

  // ---- batch CDF start contract (r15 ADVICE) --------------------------------

  test("r16: batch readChangeFeed requires an explicit start") {
    val (root, data) = morStore("r16_cdf_start")
    Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", dvLine(data, "dv")))
    val e = intercept[Throwable] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .load(root).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("startingVersion")),
      messages(e).mkString(" | "))
    // with an explicit start the feed serves the commit's delta
    val n = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 1).load(root).count()
    assert(n > 0)
  }

  // ---- schema-log rebase (r15 ADVICE) ---------------------------------------

  test("r16: a stale mergeSchema writer keeps the concurrent winner's column") {
    import spark.implicits._
    val (root, _) = morStore("r16_schema_rebase")
    val cols = spark.read.format("graft").load(root).columns.toSeq
    def batch(mod: Int) = Tables.orders(spark, sf)
      .filter($"o_orderkey" % 20 === mod).select(cols.map(col): _*)
    // resolve BEFORE the concurrent winner commits (a stale snapshot)
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", root); opts.put("mergeSchema", "true")
    val stale = GraftStore.resolve(new CaseInsensitiveStringMap(opts))
    // concurrent winner: evolves col_a in v2
    batch(3).withColumn("col_a", lit(1L))
      .write.format("graft").mode("append")
      .option("mergeSchema", "true").save(root)
    // stale writer evolves col_b; its commit rebases to v3 and its
    // schema log must carry BOTH columns (pre-r16 it silently dropped
    // the winner's col_a from the newest log)
    GraftStore.write(stale, batch(7).withColumn("col_b", lit(2L)),
      overwrite = false)
    val fields = spark.read.format("graft").load(root).schema.fieldNames.toSet
    assert(fields.contains("col_a") && fields.contains("col_b"),
      s"schema log lost a concurrent writer's column: $fields")
  }

  // ---- SQL UPDATE / MERGE INTO (r15 verdict "Next round" #3) ----------------

  private def catalogStore(name: String): (String, String) = {
    val (root, data) = morStore(name)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    (root, new java.io.File(root).getName)
  }

  test("r16: position-identity metadata columns are selectable") {
    import spark.implicits._
    val (root, _) = morStore("r16_meta_cols")
    val rows = spark.read.format("graft").load(root)
      .select($"o_orderkey", $"_graft_file_key", $"_graft_row_index")
      .limit(5).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(1).contains("/") && r.getLong(2) >= 0))
  }

  test("r16: SQL UPDATE = one MoR commit (dv + reinsert leg), value-exact") {
    import spark.implicits._
    val (root, name) = catalogStore("r16_sql_update")
    val before = spark.read.format("graft").load(root)
      .agg(sum($"o_totalprice"), count(lit(1))).collect()(0)
    spark.sql(s"""UPDATE graft.`$name` SET o_totalprice = o_totalprice + 1.0
                 |WHERE o_orderkey % 10 = 0""".stripMargin)
    assert(Maintenance.currentSnapshotVersion(root) == 2, "exactly one commit")
    val lines = Maintenance.manifestPaths(root, 2)
    assert(lines.count(_.startsWith("dv:")) == 1, s"one dv line: $lines")
    // base groups untouched, one insert leg added
    val l1 = Maintenance.manifestPaths(root, 1)
    assert(l1.forall(lines.contains), "no base group may move")
    val after = spark.read.format("graft").load(root)
      .agg(sum($"o_totalprice"), count(lit(1))).collect()(0)
    val touched = spark.read.parquet(l1: _*)
      .filter($"o_orderkey" % 10 === 0).count()
    assert(after.getLong(1) == before.getLong(1), "UPDATE must not change counts")
    assert(math.abs(after.getDouble(0) - (before.getDouble(0) + touched)) < 1e-3,
      s"sum drifted: ${after.getDouble(0)} vs ${before.getDouble(0)} + $touched")
    // time travel still serves the pre-update values
    val v1 = spark.read.format("graft").option("versionAsOf", 1).load(root)
      .agg(sum($"o_totalprice")).collect()(0).getDouble(0)
    assert(math.abs(v1 - before.getDouble(0)) < 1e-6)
  }

  test("r16: SQL MERGE INTO = one MoR commit, matched + not-matched legs") {
    import spark.implicits._
    val (root, name) = catalogStore("r16_sql_merge")
    val cols = spark.read.format("graft").load(root).columns.toSeq
    val base = spark.read.parquet(Maintenance.manifestPaths(root, 1): _*)
    base.filter($"o_orderkey" % 10 === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 2)
      .unionByName(base.filter($"o_orderkey" % 1000 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 900000000L))
      .select(cols.map(col): _*)
      .createOrReplaceTempView("r16_merge_src")
    spark.sql(s"""MERGE INTO graft.`$name` t USING r16_merge_src s
                 |ON t.o_orderkey = s.o_orderkey
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(Maintenance.currentSnapshotVersion(root) == 2, "exactly one commit")
    val got = spark.read.format("graft").load(root)
    val want = base.filter($"o_orderkey" % 10 =!= 0)
      .unionByName(base.filter($"o_orderkey" % 10 === 0)
        .withColumn("o_totalprice", $"o_totalprice" * 2))
      .unionByName(base.filter($"o_orderkey" % 1000 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 900000000L))
    val g = got.agg(count(lit(1)), sum($"o_totalprice"), sum($"o_orderkey")).collect()(0)
    val w = want.agg(count(lit(1)), sum($"o_totalprice"), sum($"o_orderkey")).collect()(0)
    assert(g.getLong(0) == w.getLong(0), s"counts: ${g.getLong(0)} vs ${w.getLong(0)}")
    assert(math.abs(g.getDouble(1) - w.getDouble(1)) <=
      1e-9 * math.abs(w.getDouble(1)) + 1e-6)
    assert(g.getLong(2) == w.getLong(2))
  }

  test("r16: untranslatable DELETE predicates execute via the row-level path") {
    import spark.implicits._
    val (root, name) = catalogStore("r16_rowlevel_delete")
    val base = spark.read.parquet(Maintenance.manifestPaths(root, 1): _*)
    val want = base.filter(!($"o_orderkey" % 7 === 0)).count()
    // modulo is not a translatable source Filter: pre-r16 this failed
    // at analysis; now the delta-based rewrite deletes exactly
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderkey % 7 = 0")
    assert(spark.read.format("graft").load(root).count() == want)
    val lines = Maintenance.manifestPaths(root,
      Maintenance.currentSnapshotVersion(root))
    assert(lines.count(_.startsWith("dv:")) == 1)
  }

  // ---- partitioned stores (r15 verdict "Next round" #4) ---------------------

  test("r16: partition-pruned point read lists only matching groups") {
    import spark.implicits._
    val root = freshRoot("r16_part_store")
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(spark, sf)
    Maintenance.createStore(root, orders.schema, Seq("o_orderpriority"))
    orders.filter($"o_orderkey" % 2 === 0)
      .write.format("graft").partitionBy("o_orderpriority")
      .mode("append").save(root)
    orders.filter($"o_orderkey" % 2 === 1)
      .write.format("graft").mode("append").save(root)
    // BOTH appends laid out one group per partition value
    val groups = Maintenance.manifestPaths(root,
      Maintenance.currentSnapshotVersion(root)).filterNot(_.startsWith("dv:"))
    assert(groups.forall(_.contains("/__p_o_orderpriority=")),
      s"non-partitioned group leaked: $groups")
    val nPri = orders.select($"o_orderpriority").distinct().count()
    assert(groups.size == 2 * nPri, s"${groups.size} groups for $nPri values")
    // the point read's executed plan keeps exactly the 2 matching groups
    val df = spark.read.format("graft").load(root)
      .filter($"o_orderpriority" === "1-URGENT")
    val desc = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("GraftScan")).getOrElse("")
    val m = """groups=(\d+)/(\d+)""".r.findFirstMatchIn(desc)
    assert(m.exists(x => x.group(1).toInt == 2 && x.group(2).toInt == 2 * nPri),
      s"expected groups=2/${2 * nPri} in: $desc")
    // and the values are right
    assert(df.count() ==
      orders.filter($"o_orderpriority" === "1-URGENT").count())
    // wrong partitioning is rejected by the analyzer's check
    val e = intercept[Exception] {
      orders.limit(1).write.format("graft").partitionBy("o_orderstatus")
        .mode("append").save(root)
    }
    assert(e.getMessage.contains("partitioning"), e.getMessage)
    // partition pruning composes with zone stats on OTHER columns:
    // a key range past the store's max prunes every group
    val maxKey = orders.agg(max($"o_orderkey")).collect()(0).getLong(0) + 1
    val df2 = spark.read.format("graft").load(root)
      .filter($"o_orderkey" > maxKey)
    val desc2 = df2.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("GraftScan")).getOrElse("")
    val m2 = """groups=(\d+)/""".r.findFirstMatchIn(desc2)
    assert(m2.exists(_.group(1).toInt == 0), s"expected groups=0 in: $desc2")
  }

  // ---- vacuum retention-by-age (r15 verdict "Next round" #8) ----------------

  test("r16: vacuumExpired honors the horizon and never reclaims current") {
    import spark.implicits._
    val root = freshRoot("r16_vacuum_age")
    def tiny(name: String): String = {
      val dir = s"$root/$name"
      spark.range(3).toDF("id").write.mode("overwrite").parquet(dir)
      dir
    }
    val g1 = tiny("g1"); val g2 = tiny("g2"); val g3 = tiny("g3")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"), g1.getBytes("UTF-8"))
    Maintenance.commitSnapshot(root, 1, Seq(g1), Seq(g2)) // v2
    Maintenance.commitSnapshot(root, 2, Seq(g2), Seq(g3)) // v3 (current)
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "commits_ts.txt"),
      "1=1000\n2=2000\n3=3000".getBytes("UTF-8"))
    // horizon between v1 and v2: only v1's exclusive files reclaim
    val dead1 = Maintenance.vacuumExpired(root, horizonEpoch = 1500L)
    assert(!new java.io.File(g1).exists() && new java.io.File(g2).exists())
    assert(dead1 == Seq(g1))
    // horizon past EVERYTHING: the current version is still readable
    val dead2 = Maintenance.vacuumExpired(root, horizonEpoch = 99999L)
    assert(new java.io.File(g3).exists(), "current version must survive")
    assert(dead2.contains(g2) && !new java.io.File(g2).exists())
    assert(Maintenance.readSnapshot(spark, root, 3).count() == 3)
    // unknown-age versions are retained (fail-closed floor)
    val root2 = freshRoot("r16_vacuum_noage")
    val h1 = tiny("h1"); val h2 = tiny("h2")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root2, "manifest_v1.txt"),
      h1.replace(root, root2).getBytes("UTF-8"))
    val _ = (h1, h2)
  }

  // ---- history operation metadata (r15 verdict "Next round" #7) -------------

  test("r16: history table derives operation kinds from manifest diffs") {
    import spark.implicits._
    val (root, data) = morStore("r16_history_ops")
    Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", dvLine(data, "dv"))) // v2: merge
    Maintenance.compactStore(spark, root)        // v3: compact
    val cols = spark.read.format("graft").load(root).columns.toSeq
    Tables.orders(spark, sf).filter($"o_orderkey" % 20 === 3)
      .select(cols.map(col): _*)
      .write.format("graft").mode("append").save(root) // v4: append
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(root).getName
    val rows = spark.sql(s"SELECT * FROM graft.`$name$$history` ORDER BY version")
      .collect()
    val ops = rows.map(r => (r.getInt(0), r.getString(2), r.getBoolean(3)))
    assert(ops.toSeq == Seq((1, "create", false), (2, "merge", false),
      (3, "compact", false), (4, "append", true)), ops.toSeq.toString)
    // added/removed group counts ride along
    val v3 = rows(2)
    assert(v3.getInt(4) == 1 && v3.getInt(5) == 4,
      s"compact must show 1 added / 4 removed, got ${v3.getInt(4)}/${v3.getInt(5)}")
  }

  test("r16: compaction preserves a partitioned store's layout") {
    import spark.implicits._
    val root = freshRoot("r16_part_compact")
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(spark, sf)
    Maintenance.createStore(root, orders.schema, Seq("o_orderpriority"))
    orders.filter($"o_orderkey" % 3 === 0)
      .write.format("graft").mode("append").save(root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(root).getName
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_custkey % 2 = 0") // dv
    val want = spark.read.format("graft").load(root)
      .agg(count(lit(1)), sum($"o_totalprice")).collect()(0)
    val v = Maintenance.compactStore(spark, root)
    val groups = Maintenance.manifestPaths(root, v)
    assert(!groups.exists(_.startsWith("dv:")), "dv folded")
    // every compacted group is still one-partition-value
    assert(groups.forall(_.contains("/__p_o_orderpriority=")),
      s"compaction flattened the partition layout: $groups")
    // values unchanged, and a point read still prunes to ONE group
    val after = spark.read.format("graft").load(root)
      .agg(count(lit(1)), sum($"o_totalprice")).collect()(0)
    assert(after.getLong(0) == want.getLong(0))
    assert(math.abs(after.getDouble(1) - want.getDouble(1)) <=
      1e-9 * math.abs(want.getDouble(1)) + 1e-6)
    val df = spark.read.format("graft").load(root)
      .filter($"o_orderpriority" === "1-URGENT")
    val desc = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("GraftScan")).getOrElse("")
    val m = """groups=(\d+)/(\d+)""".r.findFirstMatchIn(desc)
    assert(m.exists(x => x.group(1).toInt == 1),
      s"compacted partitioned store must still point-prune: $desc")
  }

  test("r16: a DV file key names the file under its whole partition-dir chain") {
    val p = "file:/tmp/graft_q/s/append_1/__p_a=x/__p_b=y%20z/part-00000-u.c000.snappy.parquet"
    assert(DvLine.fileKey(p) == "__p_a=x/__p_b=y%20z/part-00000-u.c000.snappy.parquet")
    assert(DvLine.keyGroup(DvLine.fileKey(p)) == "__p_a=x/__p_b=y%20z")
    assert(DvLine.groupTail("/tmp/graft_q/s/append_1/__p_a=x/__p_b=y z") == "__p_a=x/__p_b=y%20z")
    // unpartitioned and single-level keys keep the two segments that
    // sidecars staged before multi-level stores existed carry
    assert(DvLine.fileKey("file:/tmp/s/append_1/part-0.parquet") == "append_1/part-0.parquet")
    assert(DvLine.fileKey("file:/tmp/s/append_1/__p_a=x/part-0.parquet") == "__p_a=x/part-0.parquet")
    assert(DvLine.fileKey("file:/tmp/m/base/g=0/part-0.parquet") == "g=0/part-0.parquet")
    assert(DvLine.groupTail("/tmp/s/append_1") == "append_1")
    // the task-side column renders the same key as the driver
    val cols = spark.read.parquet(s"${Maintenance.morData(spark, sf)}/base/g=1")
      .select(DvLine.fileKeyCol, col("_metadata.file_path")).distinct().collect()
    assert(cols.nonEmpty && cols.forall(r => r.getString(0) == DvLine.fileKey(r.getString(1))))
  }

  // one and two partition columns: the task-side writer nests the tag
  // dirs (`__p_a=x/__p_b=y`), so only the leaf dirs are groups
  for (parts <- Seq(Seq("o_orderpriority"), Seq("o_orderpriority", "o_orderstatus"))) {
    val label = if (parts.size == 1) "" else s" (partitioned by ${parts.mkString(", ")})"
    test(s"r16: UPDATE on a partitioned store keeps per-partition insert legs$label") {
      import spark.implicits._
      val root = freshRoot(s"r16_part_update_${parts.size}")
      graft.Staging.rmTree(new java.io.File(root))
      val orders = Tables.orders(spark, sf)
      Maintenance.createStore(root, orders.schema, parts)
      orders.filter($"o_orderkey" % 3 === 1)
        .write.format("graft").mode("append").save(root)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
      val name = new java.io.File(root).getName
      spark.sql(s"""UPDATE graft.`$name` SET o_totalprice = o_totalprice + 5.0
                   |WHERE o_custkey % 3 = 0""".stripMargin)
      val v = Maintenance.currentSnapshotVersion(root)
      val groups = Maintenance.manifestPaths(root, v).filterNot(_.startsWith("dv:"))
      // EVERY group — including the UPDATE's insert legs — is a
      // single-partition-value dir, so pruning never degrades
      val offLayout = groups.filterNot(g => parts.forall(p => g.contains(s"/__p_$p=")))
      assert(offLayout.isEmpty, s"UPDATE's insert leg broke the partition layout: $offLayout")
      // ...that directly holds the group's files and carries its zone stats
      val zoned = Maintenance.manifestZones(root, v).map(_._1).toSet
      val noFiles = groups.filterNot(g => Option(new java.io.File(g).listFiles()).toSeq
        .flatten.exists(f => f.isFile && f.getName.endsWith(".parquet")))
      assert(noFiles.isEmpty, s"groups holding no parquet file directly: $noFiles")
      assert(groups.forall(zoned.contains),
        s"groups without zone lines: ${groups.filterNot(zoned.contains)}")
      val df = spark.read.format("graft").load(root)
        .filter($"o_orderpriority" === "2-HIGH")
      val desc = df.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("GraftScan")).getOrElse("")
      val m = """groups=(\d+)/(\d+)""".r.findFirstMatchIn(desc)
      // per value of the other partition columns: the append's group
      // and at most one insert leg
      val perValue = orders.select(parts.tail.map(col): _*).distinct().count()
      assert(m.exists(x => x.group(1).toInt <= 2 * perValue &&
        x.group(1).toInt < x.group(2).toInt),
        s"point read must prune on the updated store: $desc")
      // and the values are right
      val base = orders.filter($"o_orderkey" % 3 === 1)
      val wantSum = base.agg(sum($"o_totalprice")).collect()(0).getDouble(0) +
        5.0 * base.filter($"o_custkey" % 3 === 0).count()
      val gotSum = spark.read.format("graft").load(root)
        .agg(sum($"o_totalprice")).collect()(0).getDouble(0)
      assert(math.abs(gotSum - wantSum) < 1e-3, s"$gotSum vs $wantSum")
    }
  }

  test("r16: SQL UPDATE works on an all-ciphertext store") {
    import spark.implicits._
    val root = freshRoot("r16_enc_update")
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(spark, sf)
    Maintenance.createStore(root, orders.schema)
    Maintenance.enableStoreEncryption(root, "r16-upd-mk", dataPlane = true)
    orders.filter($"o_orderkey" % 4 === 1)
      .write.format("graft").mode("append").save(root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(root).getName
    val before = spark.read.format("graft").load(root)
      .agg(sum($"o_totalprice"), count(lit(1))).collect()(0)
    spark.sql(s"""UPDATE graft.`$name` SET o_totalprice = o_totalprice + 2.0
                 |WHERE o_orderstatus = 'F'""".stripMargin)
    val touched = orders.filter($"o_orderkey" % 4 === 1 &&
      $"o_orderstatus" === "F").count()
    assert(touched > 0)
    val after = spark.read.format("graft").load(root)
      .agg(sum($"o_totalprice"), count(lit(1))).collect()(0)
    assert(after.getLong(1) == before.getLong(1))
    assert(math.abs(after.getDouble(0) - (before.getDouble(0) + 2.0 * touched))
      < 1e-3)
    // the UPDATE's artifacts are themselves ciphertext
    def parquetFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    val rlw = parquetFiles(new java.io.File(root))
      .filter(_.getAbsolutePath.contains("rlw_"))
    assert(rlw.nonEmpty)
    assert(rlw.forall { f =>
      val in = new java.io.FileInputStream(f)
      try { val b = new Array[Byte](4); in.read(b); new String(b, "UTF-8") == "PARE" }
      finally in.close()
    }, "row-level artifacts must be PME ciphertext on an encrypted-data store")
  }

  test("r16: CREATE TABLE fails closed on existing stores and exotic transforms") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val (root, _) = morStore("r16_ddl_guard")
    val name = new java.io.File(root).getName
    // an existing store must not be clobbered
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      spark.sql(s"CREATE TABLE graft.`$name` (a BIGINT)")
    }
    // non-identity partition transforms have no physical layout here
    val e = intercept[Exception] {
      spark.sql("""CREATE TABLE graft.r16_ddl_bucket (a BIGINT, b STRING)
                  |PARTITIONED BY (bucket(4, a))""".stripMargin)
    }
    assert(e.getMessage.contains("identity"), e.getMessage)
    assert(!new java.io.File("/tmp/graft_q/r16_ddl_bucket/manifest_v1.txt").exists(),
      "a failed CREATE must leave no store behind")
  }

  // ---- cross-feature composition --------------------------------------------

  test("r16: a streaming sink into a partitioned store keeps its layout") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot("r16_stream_part_sink")
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(spark, sf).limit(200).cache()
    Maintenance.createStore(root,
      orders.select($"o_orderkey", $"o_orderpriority", $"o_totalprice").schema,
      Seq("o_orderpriority"))
    val src = s"$root/src"
    orders.select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
      .write.parquet(src)
    val q = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
      .writeStream
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.format("graft").mode("append").save(root); ()
      }
      .start()
    q.awaitTermination()
    val groups = Maintenance.manifestPaths(root,
      Maintenance.currentSnapshotVersion(root))
    assert(groups.nonEmpty &&
      groups.forall(_.contains("/__p_o_orderpriority=")),
      s"streamed batch broke the partition layout: $groups")
    assert(spark.read.format("graft").load(root).count() == orders.count())
    orders.unpersist()
  }

  test("r16: initialSnapshot composes with readChangeFeed (_change_type)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val (root, data) = morStore("r16_snap_cdf")
    Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", dvLine(data, "dv"))) // v2: a dv-carrying MERGE
    val out = s"$root/out"
    val q = spark.readStream.format("graft")
      .option("initialSnapshot", "true")
      .option("readChangeFeed", "true")
      .load(root)
      .select($"_change_type", $"o_totalprice")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$root/chk")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    // batch 0 = the anchor's (v2) full MoR state, all tagged insert
    assert(got.filter($"_change_type" =!= "insert").count() == 0)
    assert(got.count() ==
      Maintenance.readSnapshotMoR(spark, root, 2).count())
  }

  test("r16: a time-travel read loses cleanly to a vacuum that retired it") {
    import spark.implicits._
    val root = freshRoot("r16_vacuum_race")
    def tiny(name: String): String = {
      val dir = s"$root/$name"
      spark.range(5).toDF("id").write.mode("overwrite").parquet(dir)
      dir
    }
    val g1 = tiny("g1"); val g2 = tiny("g2")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"), g1.getBytes("UTF-8"))
    Maintenance.commitSnapshot(root, 1, Seq(g1), Seq(g2))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "commits_ts.txt"),
      "1=1000\n2=2000".getBytes("UTF-8"))
    // the reader plans v1 BEFORE the vacuum...
    val v1 = spark.read.format("graft").option("versionAsOf", 1).load(root)
    Maintenance.vacuumExpired(root, horizonEpoch = 1500L)
    // ...and the race resolves FAIL-CLOSED (files gone -> the read
    // errors; it can never silently serve v2's data as v1's)
    intercept[Throwable] { v1.count() }
    // the retained version is untouched by the racing reader
    assert(spark.read.format("graft").load(root).count() == 5)
  }

  // ---- encrypted control plane covers schema logs (r15 ADVICE) --------------

  test("r16: enableStoreEncryption encrypts pre-existing schema logs") {
    val (root, data) = morStore("r16_enc_schema")
    import spark.implicits._
    val cols = spark.read.format("graft").load(root).columns.toSeq
    Tables.orders(spark, sf).filter($"o_orderkey" % 20 === 9)
      .select(cols.map(col): _*).withColumn("o_extra", lit(1L))
      .write.format("graft").mode("append")
      .option("mergeSchema", "true").save(root) // writes schema_v2.json
    Maintenance.enableStoreEncryption(root, "r16-mk-1")
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "schema_v2.json"))
    assert(new String(bytes.take(9), "UTF-8") == "GRAFTENC1",
      "schema log left plaintext after enabling store encryption")
    // and the encrypted schema log still resolves
    val fields = spark.read.format("graft").load(root).schema.fieldNames.toSet
    assert(fields.contains("o_extra"))
    val _ = data
  }
}

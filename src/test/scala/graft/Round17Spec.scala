package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Maintenance
import graft.operators.Maintenance.{DvLine, SnapshotConflictException}

/** Round-17 gates: the r16 ADVICE fixes (dv-annotation percent
  * encoding, dataPlane merge on an already-encrypted store, history
  * overwrite-vs-compact ordering, time-travel-gated vacuum existence
  * sweep), the legacy-dv fail-closed + migration path (r16 verdict
  * #6), txn-registry exactly-once writes (#2), CDF commit provenance
  * (#5), ALTER/DROP/RENAME TABLE DDL, z-order clustering on
  * partitioned stores (#8), store-write parquet tuning passthrough
  * (#9), SHOW PROCEDURES, endingTimestamp feed bounds, and the
  * cross-feature composition gates (ALTER × encrypted control plane,
  * streams × dv-less clustering rewrites).
  */
class Round17Spec extends AnyFunSuite {
  import TestSession._

  private def freshRoot(name: String): String = {
    val root = s"/tmp/graft_q/${name}_spec"
    graft.Staging.rmTree(new java.io.File(root))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    root
  }

  // ---- DvLine percent-encoding (r16 ADVICE, low) ---------------------------

  test("r17: dv annotations round-trip paths containing '@', ',', '|', '%'") {
    val sc = "/s/dv@2024,part|x%20y"
    val gs = Seq("/d/__p_c=a@b", "/d/__p_c=x,y", "/d/plain")
    val line = DvLine.render(sc, gs)
    assert(DvLine.sidecar(line) == sc, s"sidecar mangled: ${DvLine.sidecar(line)}")
    assert(DvLine.groups(line).contains(gs), s"groups mangled: ${DvLine.groups(line)}")
    assert(DvLine.normalize(line) == s"dv:$sc")
    // unannotated legacy lines are untouched by normalize
    assert(DvLine.normalize("dv:/plain/path") == "dv:/plain/path")
  }

  // ---- enableStoreEncryption dataPlane merge (r16 ADVICE, medium) ----------

  test("r17: enabling the data plane on a control-plane-only store merges the key line") {
    val root = freshRoot("r17_dp_merge")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"), Array.empty[Byte])
    Maintenance.enableStoreEncryption(root, "r17-mk")
    assert(Maintenance.dataPlaneOptions(root).isEmpty, "data plane must start off")
    // second call WITH dataPlane must not silently leave it off
    Maintenance.enableStoreEncryption(root, "r17-mk", dataPlane = true)
    assert(Maintenance.dataPlaneOptions(root).nonEmpty,
      "dataPlane=true on an already-encrypted store silently left PME off")
    // control plane still decrypts with the original DEK
    Maintenance.writeStoreText(root, "manifest_v1.txt", "hello")
    assert(Maintenance.readStoreText(root, "manifest_v1.txt") == "hello")
    // idempotent: a third call changes nothing
    val before = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "store_key.txt")), "UTF-8")
    Maintenance.enableStoreEncryption(root, "r17-mk", dataPlane = true)
    val after = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "store_key.txt")), "UTF-8")
    assert(before == after)
  }

  // ---- the store format's version lookup (no Spark job) ---------------------

  test("store format: schema and mapping logs serve the nearest version <= v, encrypted too") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = freshRoot("store_fmt_lookup")
    Maintenance.writeManifest(root, 1, Nil)
    intercept[IllegalArgumentException](Maintenance.resolveAsOf(root, 100L)) // no log
    val s1 = StructType(Seq(StructField("a", LongType)))
    val s3 = StructType(s1.fields :+ StructField("b", StringType))
    val m1 = Seq("a" -> "a")
    val m3 = Seq("x" -> "a", "b" -> "b")
    Maintenance.writeSchemaLog(root, 1, s1)
    Maintenance.writeSchemaLog(root, 3, s3)
    Maintenance.writeMapping(root, 1, m1)
    Maintenance.writeMapping(root, 3, m3)
    Maintenance.writeCommitLog(root, Seq(1 -> 100L, 3 -> 300L))
    val want = Map(0 -> None, 2 -> Some(1), 3 -> Some(3), 5 -> Some(3))
    def check(stage: String): Unit = for ((v, m) <- want) {
      for (log <- Seq(Maintenance.SchemaLog, Maintenance.MappingLog))
        assert(log.atOrBelow(root, v) == m, s"$stage: ${log.prefix} serving v$v")
      assert(Maintenance.schemaAt(root, v) == m.map(Map(1 -> s1, 3 -> s3)),
        s"$stage: schema at v$v")
      assert(Maintenance.mappingAt(root, v) == m.map(Map(1 -> m1, 3 -> m3)),
        s"$stage: mapping at v$v")
    }
    check("plaintext")
    Maintenance.enableStoreEncryption(root, "fmt-mk")
    for (f <- Seq("schema_v1.json", "schema_v3.json", "mapping_v1.txt",
        "mapping_v3.txt", "commits_ts.txt"))
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, f)), "UTF-8").startsWith("GRAFTENC1"),
        s"$f left plaintext")
    check("encrypted")
    assert(Maintenance.commitEpochs(root) == Map(1 -> 100L, 3 -> 300L))
    assert(Maintenance.resolveAsOf(root, 299L) == 1)
    intercept[IllegalArgumentException](Maintenance.resolveAsOf(root, 99L)) // all later
  }

  // ---- history: truncating overwrite of a dv-carrying store ----------------

  test("r17: truncating overwrite of a store with dvs reads as overwrite, not compact") {
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r17_hist_ovw")
    val base = (0 to 3).map(g => s"$data/base/g=$g")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      base.mkString("\n").getBytes("UTF-8"))
    // v2: a MERGE shape (dv + insert leg)
    val v2 = Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", DvLine.render(s"$data/dv", base)))
    // v3: INSERT OVERWRITE — every live line (groups AND the dv) replaced
    val live = Maintenance.manifestPaths(root, v2)
    Maintenance.commitSnapshot(root, v2, live, Seq(s"$data/newfile2"))
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(root).getName
    val ops = spark.sql(s"SELECT version, operation FROM graft.`$name$$history`")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(ops(v2) == "merge", s"v2 should be merge: $ops")
    assert(ops(v2 + 1) == "overwrite",
      s"truncating overwrite misclassified (r16 ADVICE): $ops")
  }

  // ---- legacy-dv fail-closed + migration (r16 verdict #6) ------------------

  test("r17: retiring data groups past a legacy dv fails closed until migrated") {
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r17_legacy_dv")
    val base = (0 to 3).map(g => s"$data/base/g=$g")
    // pre-r16-shaped manifest: unannotated dv line + an extra group the
    // dv's positions do NOT reference
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      (base ++ Seq(s"$data/newfile", s"dv:$data/dv")).mkString("\n").getBytes("UTF-8"))
    // a rebase that retires ANY data group while the unvalidatable dv
    // survives must fail closed (the old fail-open branch readmitted
    // the resurrect-deletes anomaly for exactly this store shape)
    val ex = intercept[SnapshotConflictException] {
      Maintenance.commitSnapshot(root, 1, Seq(s"$data/newfile"), Seq(s"$data/newfile2"))
    }
    assert(ex.getMessage.contains("migrateDvReadSets"), ex.getMessage)
    // migration derives the read set from the sidecar's own file_keys
    val v2 = Maintenance.migrateDvReadSets(spark, root)
    val migrated = Maintenance.manifestRawLines(root, v2).filter(DvLine.is)
    assert(migrated.size == 1 && DvLine.groups(migrated.head).contains(base),
      s"migration must annotate with the 4 referenced base groups: $migrated")
    // normalized lines unchanged => metadata-only commit in the history
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(root).getName
    assert(spark.sql(s"SELECT operation FROM graft.`$name$$history` WHERE version = $v2")
      .collect().map(_.getString(0)).toSeq == Seq("metadata"))
    // now the same rebase commits (the retired group is outside the read set)
    val v3 = Maintenance.commitSnapshot(root, v2, Seq(s"$data/newfile"), Seq(s"$data/newfile2"))
    assert(v3 == v2 + 1)
    // but retiring a group INSIDE the read set still fails (dangling dv)
    intercept[SnapshotConflictException] {
      Maintenance.commitSnapshot(root, v3, Seq(base.head), Seq(s"$data/newfile"))
    }
    // idempotent: nothing legacy left
    assert(Maintenance.migrateDvReadSets(spark, root) == v3)
  }

  // ---- idempotent txn writes (r16 verdict #2) ------------------------------

  test("r17: txn-registry appends are exactly-once and monotone") {
    import spark.implicits._
    val root = freshRoot("r17_txn_write")
    val orders = Tables.orders(spark, sf).limit(100).cache()
    Maintenance.createStore(root, orders.schema)
    def put(v: Long): Unit = orders.write.format("graft").mode("append")
      .option("txnAppId", "app-a").option("txnVersion", v).save(root)
    put(0)
    val v1 = Maintenance.currentSnapshotVersion(root)
    put(0) // replay: must be a silent no-op
    assert(Maintenance.currentSnapshotVersion(root) == v1, "replay committed")
    put(1) // next batch commits
    assert(Maintenance.currentSnapshotVersion(root) == v1 + 1)
    put(0) // stale replay after later batches: still a no-op
    assert(Maintenance.currentSnapshotVersion(root) == v1 + 1)
    assert(spark.read.format("graft").load(root).count() == 2 * orders.count())
    // a DIFFERENT app's registry is independent
    orders.limit(10).write.format("graft").mode("append")
      .option("txnAppId", "app-b").option("txnVersion", 0).save(root)
    assert(Maintenance.currentSnapshotVersion(root) == v1 + 2)
    // registry lines are invisible to every path consumer
    assert(Maintenance.manifestPaths(root,
      Maintenance.currentSnapshotVersion(root)).forall(!_.startsWith("txn:")))
    orders.unpersist()
  }

  test("r17: graftSinkCommit is idempotent AND layout/crypto-preserving") {
    import spark.implicits._
    val root = freshRoot("r17_sink_compose")
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(spark, sf).limit(200)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice").cache()
    Maintenance.createStore(root, orders.schema, Seq("o_orderpriority"))
    Maintenance.enableStoreEncryption(root, "r17-sink-mk", dataPlane = true)
    assert(graft.streaming.Streaming.graftSinkCommit(root, 0L, orders))
    assert(!graft.streaming.Streaming.graftSinkCommit(root, 0L, orders),
      "replayed batch 0 must be recognized")
    assert(graft.streaming.Streaming.graftSinkCommit(root, 1L, orders))
    val groups = Maintenance.manifestPaths(root,
      Maintenance.currentSnapshotVersion(root))
    assert(groups.forall(_.contains("/__p_o_orderpriority=")),
      s"sink broke the partition layout: $groups")
    // PARE at rest: the ingested files are Parquet Modular Encryption
    // ciphertext, not plaintext parquet
    val f = new java.io.File(groups.head).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val magic = new Array[Byte](4)
    val in = new java.io.FileInputStream(f)
    try in.read(magic) finally in.close()
    assert(new String(magic, "UTF-8") == "PARE",
      s"sink landed plaintext into a dataPlane-encrypted store: ${f.getPath}")
    assert(spark.read.format("graft").load(root).count() == 2 * orders.count())
    orders.unpersist()
  }

  // ---- CDF commit provenance (r16 verdict #5) ------------------------------

  test("r17: change rows carry _commit_version/_commit_timestamp per producing commit") {
    import spark.implicits._
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r17_cdf_prov")
    val base = (0 to 3).map(g => s"$data/base/g=$g")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      base.mkString("\n").getBytes("UTF-8"))
    def dvLine(sc: String): String =
      Maintenance.DvLine.render(s"$data/$sc", base)
    val v2 = Maintenance.commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", dvLine("dv")))
    val v3 = Maintenance.commitSnapshot(root, v2, Seq.empty,
      Seq(s"$data/newfile2", dvLine("dv2")))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "commits_ts.txt"),
      Seq(s"1=1767261600", s"$v2=1767265200", s"$v3=1767268800")
        .mkString("\n").getBytes("UTF-8"))
    val feed = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 1).option("endingVersion", v3).load(root)
    val got = feed.groupBy($"_commit_version",
        unix_timestamp($"_commit_timestamp").as("epoch"))
      .agg(countDistinct($"_change_type").as("kinds"))
      .orderBy($"_commit_version").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2L, 1767265200L, 2L), (3L, 1767268800L, 2L)),
      got.mkString("; "))
    // a store WITHOUT a commit log serves null timestamps, not garbage
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "commits_ts.txt"))
    val noLog = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 1).option("endingVersion", v3).load(root)
      .select($"_commit_timestamp").distinct().collect()
    assert(noLog.forall(_.isNullAt(0)), noLog.mkString(";"))
    // a neutral compaction MID-RANGE no longer fails the whole feed:
    // per-commit diffs skip it while both sides still serve
    val v4 = Maintenance.compactStore(spark, root)
    val cols = spark.read.format("graft").load(root).columns.toSeq
    spark.read.parquet(s"$data/newfile").limit(7).select(cols.map(col): _*)
      .write.format("graft").mode("append").save(root) // v5 append
    val spanning = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", v3).option("endingVersion", v4 + 1).load(root)
    assert(spanning.count() == 7,
      "a neutral compaction inside the range must be skipped, not fatal")
    assert(spanning.select($"_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(v4 + 1L))
  }

  // ---- SQL ALTER TABLE edge cases (r16 verdict #3) -------------------------

  test("r17: ALTER TABLE protects partition columns and recycles dropped names safely") {
    import spark.implicits._
    val root = freshRoot("r17_alter_edge")
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(spark, sf).limit(50)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice").cache()
    Maintenance.createStore(root, orders.schema, Seq("o_orderpriority"))
    orders.write.format("graft").mode("append").save(root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(root).getName
    // dropping a partition column is rejected — the layout depends on it
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$name` DROP COLUMN o_orderpriority")
    }
    assert(e1.getMessage.contains("partition column"), e1.getMessage)
    // renaming one works and keeps pruning (path tags are physical)
    spark.sql(s"ALTER TABLE graft.`$name` RENAME COLUMN o_orderpriority TO prio")
    val pruned = spark.read.format("graft").load(root).filter($"prio" === "1-URGENT")
    assert(pruned.count() ==
      orders.filter($"o_orderpriority" === "1-URGENT").count())
    // drop a data column, then RE-ADD the same name: the old bytes must
    // stay invisible (fresh physical slot), values all null
    spark.sql(s"ALTER TABLE graft.`$name` DROP COLUMN o_totalprice")
    spark.sql(s"ALTER TABLE graft.`$name` ADD COLUMN o_totalprice DOUBLE")
    val vals = spark.sql(s"SELECT o_totalprice FROM graft.`$name`").collect()
    assert(vals.nonEmpty && vals.forall(_.isNullAt(0)),
      "re-added column resurrected dropped bytes")
    // and a write after the evolution round-trips the new slot
    spark.read.format("graft").load(root).limit(0) // schema sanity
    orders.unpersist()
  }

  // ---- clustering on a partitioned store (r16 verdict #8) ------------------

  test("r17: clusterStore keeps a partitioned store's layout and pruning") {
    import spark.implicits._
    val root = freshRoot("r17_part_cluster")
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    Maintenance.createStore(root, orders.schema, Seq("o_orderpriority"))
    // churned: two key-interleaved appends per partition value
    for (r <- 0 to 1)
      orders.filter($"o_orderkey" % 2 === r)
        .write.format("graft").mode("append").save(root)
    val want = orders.agg(count(lit(1)), sum($"o_totalprice")).collect()(0)
    val v = Maintenance.clusterStore(spark, root, Seq("o_orderkey"), buckets = 4)
    val groups = Maintenance.manifestPaths(root, v)
    // every clustered group is still a single-partition-value dir
    assert(groups.nonEmpty && groups.forall(_.contains("/__p_o_orderpriority=")),
      s"clustering flattened the partition layout: $groups")
    // partition pruning AND key-range pruning both still plan
    val maxKey = orders.agg(max($"o_orderkey")).collect()(0).getLong(0)
    val df = spark.read.format("graft").load(root)
      .filter($"o_orderpriority" === "1-URGENT" && $"o_orderkey" <= maxKey / 8)
    val desc = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("GraftScan")).getOrElse("")
    val m = """groups=(\d+)/(\d+)""".r.findFirstMatchIn(desc)
    assert(m.exists(x => x.group(1).toInt < x.group(2).toInt / 2),
      s"clustered partitioned store must prune on both dims: $desc")
    // answers unchanged
    val got = spark.read.format("graft").load(root)
      .agg(count(lit(1)), sum($"o_totalprice")).collect()(0)
    assert(got.getLong(0) == want.getLong(0) &&
      math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-3)
  }

  test("r17: SHOW PROCEDURES lists the maintenance surface") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val names = spark.sql("SHOW PROCEDURES IN graft")
      .collect().map(_.toString).mkString(" ")
    for (p <- Seq("binpack", "compact", "cluster", "vacuum", "restore", "migrate_dv_read_sets"))
      assert(names.contains(p), s"missing procedure $p in: $names")
  }

  // ---- store-write parquet tuning passthrough (r16 verdict #9) -------------

  test("r17: declared writer options reach every store write path (bloom at rest)") {
    import spark.implicits._
    val root = freshRoot("r17_store_bloom")
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(spark, sf).limit(400).cache()
    Maintenance.createStore(root, orders.schema)
    Maintenance.setStoreWriteOptions(root, Map(
      "parquet.bloom.filter.enabled#o_custkey" -> "true",
      // parquet silently skips blooms for fully dictionary-encoded
      // columns — disabled at test scale so the bloom actually lands
      "parquet.enable.dictionary#o_custkey" -> "false",
      "parquet.page.row.count.limit" -> "500"))
    def bloomOffsets(dir: String): Seq[Long] = {
      val conf = new org.apache.hadoop.conf.Configuration()
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).toSeq.flatMap { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
            .filter(_.getPath.toDotString == "o_custkey")
            .map(_.getBloomFilterOffset))
          finally r.close()
        }
    }
    orders.write.format("graft").mode("append").save(root) // v2: DSv2 append
    val appendGroup = Maintenance.manifestPaths(root, 2).head
    assert(bloomOffsets(appendGroup).forall(_ >= 0) &&
      bloomOffsets(appendGroup).nonEmpty,
      "DSv2 append must honor the store's bloom-filter option")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(root).getName
    spark.sql(s"""UPDATE graft.`$name` SET o_totalprice = o_totalprice + 1.0
                 |WHERE o_orderkey % 7 = 0""".stripMargin) // v3: insert leg
    val legGroups = Maintenance.manifestPaths(root, 3)
      .filterNot(l => l.startsWith("dv:") || l == appendGroup)
    assert(legGroups.nonEmpty &&
      legGroups.flatMap(bloomOffsets).forall(_ >= 0) &&
      legGroups.flatMap(bloomOffsets).nonEmpty,
      "row-level insert legs must honor the store's bloom-filter option")
    val v4 = Maintenance.compactStore(spark, root)
    val compacted = Maintenance.manifestPaths(root, v4)
    assert(compacted.flatMap(bloomOffsets).forall(_ >= 0) &&
      compacted.flatMap(bloomOffsets).nonEmpty,
      "compaction rewrites must honor the store's bloom-filter option")
    // and the values never drifted through any of it
    val want = orders.agg(count(lit(1)),
      sum(when($"o_orderkey" % 7 === 0, $"o_totalprice" + 1.0)
        .otherwise($"o_totalprice"))).collect()(0)
    val got = spark.read.format("graft").load(root)
      .agg(count(lit(1)), sum($"o_totalprice")).collect()(0)
    assert(got.getLong(0) == want.getLong(0) &&
      math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-3)
    orders.unpersist()
  }

  // ---- DROP / RENAME TABLE + endingTimestamp (DDL completeness) ------------

  test("r17: DROP TABLE and RENAME TABLE complete the SQL DDL surface") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val root = freshRoot("r17_ddl_drop")
    graft.Staging.rmTree(new java.io.File(root))
    val name = new java.io.File(root).getName
    spark.sql(s"CREATE TABLE graft.`$name` (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO graft.`$name` VALUES (1, 1.5), (2, 2.5)")
    // self-contained store: rename = dir move + manifest path rewrite
    val name2 = name + "_renamed"
    graft.Staging.rmTree(new java.io.File(s"/tmp/graft_q/$name2"))
    spark.sql(s"ALTER TABLE graft.`$name` RENAME TO `$name2`")
    assert(!new java.io.File(root, "manifest_v1.txt").exists())
    assert(spark.sql(s"SELECT SUM(v) FROM graft.`$name2`")
      .collect()(0).getDouble(0) == 4.0)
    // time travel survives the rename (manifest paths rewritten)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$name2` VERSION AS OF 2")
      .collect()(0).getLong(0) == 2L)
    spark.sql(s"DROP TABLE graft.`$name2`")
    assert(!new java.io.File(s"/tmp/graft_q/$name2").exists())
    intercept[Exception] { spark.sql(s"SELECT * FROM graft.`$name2`").collect() }
    // and the name is reusable
    spark.sql(s"CREATE TABLE graft.`$name2` (k BIGINT)")
    spark.sql(s"DROP TABLE graft.`$name2`")
  }

  test("r17: a store with externally-staged groups refuses to rename") {
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r17_ddl_norename")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      s"$data/base/g=0".getBytes("UTF-8"))
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(root).getName
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$name` RENAME TO `${name}_x`")
    }
    assert(e.getMessage.contains("outside"), e.getMessage)
    // fail-closed: the store still serves from its original name
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$name`")
      .collect()(0).getLong(0) > 0)
  }

  test("r17: endingTimestamp bounds a change feed through the commit log") {
    import spark.implicits._
    val data = Maintenance.morData(spark, sf)
    val root = freshRoot("r17_cdf_endts")
    val base = (0 to 3).map(g => s"$data/base/g=$g")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest_v1.txt"),
      base.mkString("\n").getBytes("UTF-8"))
    val v2 = Maintenance.commitSnapshot(root, 1, Seq.empty, Seq(s"$data/newfile"))
    val v3 = Maintenance.commitSnapshot(root, v2, Seq.empty, Seq(s"$data/newfile2"))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "commits_ts.txt"),
      Seq(s"1=1767261600", s"$v2=1767265200", s"$v3=1767268800")
        .mkString("\n").getBytes("UTF-8"))
    // a probe BETWEEN v2 and v3 serves only v2's delta
    val feed = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 1).option("endingTimestamp", 1767266000L)
      .load(root)
    assert(feed.select($"_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    assert(feed.count() == spark.read.parquet(s"$data/newfile").count())
  }

  test("r17: ALTER COLUMN TYPE widens metadata-only; narrowing is rejected") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val root = "/tmp/graft_q/r17_widen"
    graft.Staging.rmTree(new java.io.File(root))
    spark.sql("CREATE TABLE graft.r17_widen (k INT, v FLOAT)")
    spark.sql("INSERT INTO graft.r17_widen VALUES (1, 1.5), (2, 2.5)") // v2: int32/float files
    val stamp = Maintenance.manifestPaths(root, 2).flatMap(g =>
      Option(new java.io.File(g).listFiles()).getOrElse(Array.empty)
        .map(f => (f.getAbsolutePath, f.lastModified(), f.length())).toSeq).sorted
    spark.sql("ALTER TABLE graft.r17_widen ALTER COLUMN k TYPE BIGINT")   // v3
    spark.sql("ALTER TABLE graft.r17_widen ALTER COLUMN v TYPE DOUBLE")   // v4
    // widened schema serves old narrow files by upcast — zero rewrites
    val sch = spark.table("graft.r17_widen").schema
    assert(sch("k").dataType == org.apache.spark.sql.types.LongType &&
      sch("v").dataType == org.apache.spark.sql.types.DoubleType, sch.simpleString)
    // a write AFTER widening lands wide values next to the narrow files
    spark.sql("INSERT INTO graft.r17_widen VALUES (4000000000, 4.5)") // v5
    val got = spark.sql(
      "SELECT SUM(k), CAST(SUM(v) AS DECIMAL(10,1)) FROM graft.r17_widen").collect()(0)
    assert(got.getLong(0) == 4000000003L && got.getDecimal(1).doubleValue == 8.5, got)
    // the pre-widening files carry identical (mtime, length) — metadata only
    val after = Maintenance.manifestPaths(root, 2).flatMap(g =>
      Option(new java.io.File(g).listFiles()).getOrElse(Array.empty)
        .map(f => (f.getAbsolutePath, f.lastModified(), f.length())).toSeq).sorted
    assert(after == stamp, "widening must move zero data bytes")
    // time travel serves the ORIGINAL narrow schema
    assert(spark.sql("SELECT * FROM graft.r17_widen VERSION AS OF 2")
      .schema("k").dataType == org.apache.spark.sql.types.IntegerType)
    // narrowing is rejected loudly — Spark's analyzer gates first
    // (NOT_SUPPORTED_CHANGE_COLUMN: only up-castable changes resolve),
    // and alterStore's own widening check backstops the API path
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.r17_widen ALTER COLUMN k TYPE INT")
    }
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("widening"), e.getMessage)
  }

  // ---- cross-feature composition -------------------------------------------

  test("r17: ALTER TABLE composes with an encrypted control plane") {
    import spark.implicits._
    val root = freshRoot("r17_alter_enc")
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(spark, sf).limit(60)
      .select($"o_orderkey", $"o_totalprice")
    Maintenance.createStore(root, orders.schema)
    Maintenance.enableStoreEncryption(root, "r17-alter-mk")
    orders.write.format("graft").mode("append").save(root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val name = new java.io.File(root).getName
    spark.sql(s"ALTER TABLE graft.`$name` ADD COLUMN note STRING")
    spark.sql(s"ALTER TABLE graft.`$name` RENAME COLUMN o_totalprice TO price")
    // the schema log and mapping written by ALTER are ciphertext, not
    // plaintext metadata leaking through an encrypted control plane
    for (f <- new java.io.File(root).listFiles()
        if f.getName.startsWith("schema_v") || f.getName.startsWith("mapping_v")) {
      val head = new String(java.nio.file.Files.readAllBytes(f.toPath)
        .take(9), "UTF-8")
      assert(head == "GRAFTENC1", s"${f.getName} landed plaintext: $head")
    }
    val got = spark.sql(s"SELECT price, note FROM graft.`$name`").collect()
    assert(got.length == 60 && got.forall(_.isNullAt(1)))
  }

  test("r17: streams flow past a dv-less clustering rewrite (provably neutral)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot("r17_stream_cluster")
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(spark, sf).limit(300)
      .select($"o_orderkey", $"o_totalprice")
    Maintenance.createStore(root, orders.schema)
    orders.filter($"o_orderkey" % 2 === 0)
      .write.format("graft").mode("append").save(root) // v2
    val vc = Maintenance.clusterStore(spark, root, Seq("o_orderkey"), 4) // v3: no dvs
    orders.filter($"o_orderkey" % 2 === 1)
      .write.format("graft").mode("append").save(root) // v4
    // batch CDF spanning the clustering: the re-layout serves nothing,
    // the append after it serves normally
    val feed = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 2).load(root)
    assert(feed.count() == orders.filter($"o_orderkey" % 2 === 1).count())
    assert(feed.select($"_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(vc + 1L))
    // streaming source: full drain crosses the clustering commit too
    val out = s"$root/out"
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == orders.count(),
      "the stream must serve every row exactly once across the rewrite")
  }

  // ---- vacuum existence sweep gating (r16 ADVICE, low) ---------------------

  test("r17: pinned-version reads of a vacuumed snapshot fail closed via one batched listing") {
    import spark.implicits._
    val root = freshRoot("r17_vac_gate")
    val orders = Tables.orders(spark, sf)
    Maintenance.createStore(root, orders.schema)
    orders.limit(100).write.format("graft").mode("append").save(root)
    orders.limit(50).write.format("graft").mode("append").save(root)
    val v2 = Maintenance.currentSnapshotVersion(root)
    // simulate a vacuum retiring v2's first group
    val g0 = Maintenance.manifestPaths(root, 2).filterNot(DvLine.is).head
    graft.Staging.rmTree(new java.io.File(g0))
    val ex = intercept[Exception] {
      spark.read.format("graft").option("versionAsOf", 2).load(root).count()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("vacuumed"),
      s"pinned read of a vacuumed snapshot must fail closed: $ex")
  }

  // ---- optimization round: packed Q-digest aggregation key -----------------
  // qQuantileSketch aggregates on ONE long packing (g, l, node) —
  // node << 13 | l << 8 | ascii(g) — which is injective iff g is a
  // single character and node < 2^26 (the declared universe). This
  // pins the packed path against the straightforward three-column
  // aggregation end-to-end through the shared digest epilogue.
  test("r17-opt: packed digest key reproduces the unpacked (g,l,node) aggregation") {
    import spark.implicits._
    import graft.operators.Advanced.{QdLevels, QdStep, qdigestQuantiles}
    val lv = Tables.lineitem(spark, sf)
      .select($"l_returnflag".as("g"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("v"))
      .select($"g", $"v",
        explode(expr(s"sequence(0, $QdLevels, $QdStep)")).as("l"))
      .withColumn("node", expr("shiftright(v, l)"))
    val sub0 = lv.groupBy($"g", $"l", $"node").agg(count(lit(1)).as("sc"))
    val nTot = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag".as("ng")).agg(count(lit(1)).as("n"))
    val ref = qdigestQuantiles(sub0, "l_returnflag", Some(nTot))
      .collect().map(_.toSeq).toSeq
    val got = SparkEntry.queries("q_quantile_sketch")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got == ref,
      s"packed-key digest diverged from the unpacked reference:\n$got\nvs\n$ref")
  }
}

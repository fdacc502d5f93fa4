package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Maintenance
import graft.operators.Maintenance.{DvLine, TxnLine, ZoneLine}

/** The per-commit manifest delta and its three readers: DESCRIBE
  * HISTORY's operation classifier, the batch change feed and the
  * streaming source. */
class ManifestDeltaSpec extends AnyFunSuite {
  import TestSession._

  private def freshRoot(name: String): String = {
    val root = s"/tmp/graft_q/${name}_spec"
    graft.Staging.rmTree(new java.io.File(root))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    root
  }

  private def useCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
  }

  test("history classifies every commit kind from a hand-written manifest history") {
    // manifest text only: no group path below exists on disk, and the
    // history table must never need one to
    val root = freshRoot("delta_hist_kinds")
    def g(n: String) = s"$root/groups/$n"
    def zone(n: String) = ZoneLine.render(g(n), "k", "1", "9", 10L)
    val dv1 = DvLine.render(s"$root/dv1", Seq(g("a")))
    val dv2 = DvLine.render(s"$root/dv2", Seq(g("b")))
    val history = Seq(
      Seq(g("a"), g("b"), zone("a")),                                   // v1 create
      Seq(g("a"), g("b"), zone("a"), TxnLine.render("app", 1L)),        // v2 metadata
      Seq(g("a"), g("b"), g("c"), dv1, zone("a"), zone("c")),           // v3 merge
      Seq(g("a"), g("b"), g("c"), dv1, dv2, zone("a"), zone("c")),      // v4 delete
      Seq(g("a2"), g("b"), g("c"), dv2, zone("a2"), zone("c")),         // v5 compact
      Seq(g("a2"), g("b2"), g("c"), dv2, zone("a2"), zone("c")),        // v6 rewrite
      Seq(g("a2"), g("b2"), g("c"), g("d"), dv2, zone("a2"), zone("c")), // v7 append
      Seq(g("e")))                                                      // v8 overwrite
    history.zipWithIndex.foreach { case (lines, i) =>
      Maintenance.writeManifest(root, i + 1, lines) }
    Maintenance.writeCommitLog(root, Seq(1 -> 100L, 8 -> 800L))
    useCatalog()
    val name = new java.io.File(root).getName
    val rows = spark.sql(s"SELECT * FROM graft.`$name$$history` ORDER BY version")
      .collect().map(r => (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getString(2), r.getBoolean(3), r.getInt(4), r.getInt(5), r.getInt(6),
        r.getInt(7), r.getInt(8)))
    // (version, epoch, operation, blind append, added, removed,
    //  data groups, dv lines, zoned groups)
    val want = Seq(
      (1, Some(100L), "create", false, 2, 0, 2, 0, 1),
      (2, None, "metadata", false, 0, 0, 2, 0, 1),
      (3, None, "merge", false, 1, 0, 3, 1, 2),
      (4, None, "delete", false, 0, 0, 3, 2, 2),
      (5, None, "compact", false, 1, 1, 3, 1, 2),
      (6, None, "rewrite", false, 1, 1, 3, 1, 2),
      (7, None, "append", true, 1, 0, 4, 1, 2),
      // every data group AND the live dv replaced: overwrite is checked
      // before the compact shape it also matches
      (8, Some(800L), "overwrite", false, 1, 4, 1, 0, 0))
    assert(rows.toSeq == want, rows.mkString("\n"))
  }

  test("streamed change feed equals the batch feed on a store partitioned by two columns") {
    import spark.implicits._
    val root = freshRoot("delta_stream_2part")
    val orders = Tables.orders(spark, sf)
    Maintenance.createStore(root, orders.schema, Seq("o_orderpriority", "o_orderstatus"))
    orders.filter($"o_orderkey" % 3 === 1)
      .write.format("graft").mode("append").save(root)                 // v2 append
    useCatalog()
    val name = new java.io.File(root).getName
    spark.sql(s"""UPDATE graft.`$name` SET o_totalprice = o_totalprice + 5.0
                 |WHERE o_custkey % 3 = 0""".stripMargin)             // v3 dv + insert leg
    val doomed = spark.read.format("graft").load(root)
      .filter($"o_totalprice" < 50000).count()
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_totalprice < 50000") // v4 dv
    val last = Maintenance.currentSnapshotVersion(root)
    assert(last == 4, s"expected four commits, store is at v$last")
    // the DELETE's pre-images sit in two-level partition dirs
    // (`__p_o_orderpriority=…/__p_o_orderstatus=…/part-*`)
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(root)
      .select($"_change_type", $"_commit_version", $"o_totalprice")
      .writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batch = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 0).option("endingVersion", last).load(root)
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"_change_type", $"_commit_version")
        .agg(count(lit(1)), sum($"o_totalprice".cast("decimal(28,10)")))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDecimal(3)))
        .toMap
    val streamed = sig(spark.read.parquet(s"$root/out"))
    val batched = sig(batch)
    assert(streamed == batched, s"stream $streamed vs batch $batched")
    // and both are right: v2 inserts the append, v3 deletes and
    // re-inserts the updated rows, v4 deletes exactly the doomed rows
    val appended = orders.filter($"o_orderkey" % 3 === 1).count()
    val updated = orders.filter($"o_orderkey" % 3 === 1 && $"o_custkey" % 3 === 0).count()
    assert(doomed > 0 && updated > 0)
    assert(batched.map { case (k, (n, _)) => k -> n } == Map(
      ("insert", 2L) -> appended, ("delete", 3L) -> updated,
      ("insert", 3L) -> updated, ("delete", 4L) -> doomed), batched.toString)
  }
}

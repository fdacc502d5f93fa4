package graft

import java.nio.file.Files

import graft.crypto.ModularEncryption
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet` binds a read from one footer on the driver: zero
  * Spark jobs, and the same schema Spark's own inference gives for the
  * same paths and options. */
class ParquetBindSpec extends AnyFunSuite {
  import TestSession._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_bind_$name").toString

  /** Jobs started by `body`, counted in a job group of its own (the
    * listener bus is shared and async, so a plain count would see other
    * tests' late events). A last control job in the same group drains
    * the bus: the bus is ordered, so once its start is seen every
    * earlier job of the group has been counted. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val group = "graft-bind-" + System.nanoTime()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).filter(_.getProperty("spark.jobGroup.id") == group).foreach { p =>
          if (p.getProperty("spark.job.description") == "drain") drained.countDown()
          else jobs.incrementAndGet()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "bind")
      val out = body
      spark.sparkContext.setJobGroup(group, "drain")
      spark.range(1).count()
      assert(drained.await(10, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.get())
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Bind with the helper in zero jobs; its schema equals Spark's
    * inferred one for the same paths and options. */
  private def bindsLikeSpark(paths: Seq[String], options: Map[String, String] = Map.empty): DataFrame = {
    val (bound, jobs) = jobsIn {
      val df = Tables.parquet(spark, paths, options)
      df.schema // resolving the relation must not start a job either
      df
    }
    assert(jobs == 0, s"binding ${paths.mkString(", ")} ran $jobs Spark job(s)")
    val inferred: StructType = spark.read.options(options).parquet(paths: _*).schema
    assert(bound.schema == inferred)
    bound
  }

  test("a non-Spark-written sf table binds like Spark, nanosAsLong events included") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val ev = bindsLikeSpark(Seq(s"$sf/events.parquet"))
      assert(ev.count() == spark.read.parquet(s"$sf/events.parquet").count())
      bindsLikeSpark(Seq(s"$sf/lineitem.parquet"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a Spark part-file dir binds like Spark") {
    val dir = tmp("parts")
    spark.range(50).selectExpr("id", "cast(id AS decimal(12,2)) AS amt", "concat('n', id) AS name")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val df = bindsLikeSpark(Seq(dir))
    assert(df.count() == 50)
  }

  test("a two-level k=v partitioned dir binds like Spark, partition columns inferred") {
    val dir = tmp("kv")
    spark.range(40).selectExpr("id", "id % 2 AS a", "cast(id % 3 AS string) AS b", "id * 2 AS v")
      .write.mode("overwrite").partitionBy("a", "b").parquet(dir)
    val df = bindsLikeSpark(Seq(dir))
    assert(df.columns.toSeq == Seq("id", "v", "a", "b"))
    assert(df.filter("a = 1 AND b = '2'").count() ==
      spark.read.parquet(dir).filter("a = 1 AND b = '2'").count())
  }

  test("several paths bind from the first data file by full path, as Spark does") {
    val root = tmp("multi")
    // given second but sorting first: its file's schema is the one bound
    spark.range(5).selectExpr("id", "id AS late").write.parquet(s"$root/b")
    spark.range(5).selectExpr("id", "id AS early").write.parquet(s"$root/a")
    val df = bindsLikeSpark(Seq(s"$root/b", s"$root/a"))
    assert(df.columns.toSeq == Seq("id", "early"))
  }

  test("a PME dir binds with its reader options (encrypted footer)") {
    val dir = tmp("pme")
    ModularEncryption.writeEncrypted(
      spark.range(30).selectExpr("id", "concat('secret-', id) AS s"), dir,
      Map("pme-col-key" -> Seq("s")), "pme-footer-key")
    val opts = Map(
      "parquet.crypto.factory.class" -> ModularEncryption.FactoryClass,
      "parquet.encryption.kms.client.class" -> classOf[graft.crypto.GraftKmsClient].getName)
    val df = bindsLikeSpark(Seq(dir), opts)
    assert(df.filter("s = 'secret-7'").count() == 1)
    // without the options the footer cannot be read at all
    intercept[Exception](Tables.parquet(spark, dir))
  }

  test("a pathGlobFilter read binds the filtered file only") {
    val df = bindsLikeSpark(Seq(sf), Map("pathGlobFilter" -> "documents.parquet"))
    assert(df.columns.contains("text"))
  }

  test("an empty dir and a missing path fail as Spark's inference does") {
    def condition(read: => DataFrame): String =
      intercept[AnalysisException](read.schema).getCondition
    val empty = tmp("empty")
    assert(condition(Tables.parquet(spark, empty)) == "UNABLE_TO_INFER_SCHEMA")
    assert(condition(spark.read.parquet(empty)) == "UNABLE_TO_INFER_SCHEMA")
    val missing = s"$empty/nope"
    assert(condition(Tables.parquet(spark, missing)) == "PATH_NOT_FOUND")
    assert(condition(spark.read.parquet(missing)) == "PATH_NOT_FOUND")
  }
}

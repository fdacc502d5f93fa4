package graft

import graft.crypto._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The AES-GCM kernel behind every graft ciphertext: wire compatibility
  * with Spark's `aes_encrypt`/`aes_decrypt` both ways, codegen and
  * interpreted eval alike, the failure modes (wrong key, moved AAD
  * ciphertext, bad key length) and fresh IVs per value. */
class GcmKernelSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val keyUtf8 = "0123456789abcdef"
  private val key = keyUtf8.getBytes("UTF-8")
  private def kh = KeyHandle.column("column:v", key)

  private val values = Seq(
    (1L, Some("alice")), (2L, None), (3L, Some("")),
    (4L, Some("x" * 5000)), (5L, Some("naïve café — 東京 🚀")))
  // the shuffle keeps the optimizer from folding the projections over a
  // local relation on the driver: the kernel runs in tasks
  private def input: DataFrame = values.toDF("id", "v").repartition(2)

  private def withInterpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def collectPairs(df: DataFrame): Map[Long, Option[String]] =
    df.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap

  /** Kernel ↔ Spark builtin, both directions, with and without AAD, in
    * the session's current codegen mode. Returns every decrypted frame
    * with the plan it ran. */
  private def crossRuns(): Seq[(String, DataFrame)] = {
    val keyExpr = s"X'${key.map(b => f"$b%02x").mkString}'"
    val byKernel = input.select($"id",
      GcmKernel.encrypt($"v", kh).as("ct"),
      GcmKernel.encrypt($"v", kh, Some($"id".cast("string"))).as("ct_aad"))
    val bySpark = input.selectExpr("id",
      s"aes_encrypt(v, $keyExpr, 'GCM') AS ct",
      s"aes_encrypt(v, $keyExpr, 'GCM', 'DEFAULT', X'', CAST(id AS STRING)) AS ct_aad")
    Seq(
      "kernel -> spark" -> byKernel.selectExpr("id",
        s"CAST(aes_decrypt(ct, $keyExpr, 'GCM') AS STRING) AS v"),
      "kernel -> spark, aad" -> byKernel.selectExpr("id",
        s"CAST(aes_decrypt(ct_aad, $keyExpr, 'GCM', 'DEFAULT', CAST(id AS STRING)) AS STRING) AS v"),
      "spark -> kernel" -> bySpark.select($"id",
        GcmKernel.decrypt($"ct", kh).cast("string").as("v")),
      "spark -> kernel, aad" -> bySpark.select($"id",
        GcmKernel.decrypt($"ct_aad", kh, Some($"id".cast("string"))).cast("string").as("v")),
      "kernel -> kernel" -> byKernel.select($"id",
        GcmKernel.decrypt($"ct", kh).cast("string").as("v")))
  }

  test("wire-compatible with Spark's aes_encrypt/aes_decrypt both ways, AAD included") {
    val expected = values.toMap
    for ((what, df) <- crossRuns())
      assert(collectPairs(df) == expected, s"$what did not round-trip")
  }

  test("codegen and interpreted eval give the same plaintexts") {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    // run first: the adaptive plan is final only once executed
    def run(codegen: Boolean)(what: String, df: DataFrame) = {
      val out = collectPairs(df)
      val plan = df.queryExecution.executedPlan
      assert(nodes(plan).exists(_.isInstanceOf[WholeStageCodegenExec]) == codegen,
        s"$what: codegen'd stage expected = $codegen:\n$plan")
      what -> out
    }
    val compiled = crossRuns().map((run(codegen = true) _).tupled)
    val interpreted = withInterpreted(crossRuns().map((run(codegen = false) _).tupled))
    assert(compiled == interpreted)
    assert(compiled.forall(_._2 == values.toMap))
    // and ciphertexts made by one mode open in the other
    val ct = withInterpreted(input.select($"id", GcmKernel.encrypt($"v", kh).as("ct"))
      .collect().map(r => (r.getLong(0), Option(r.getAs[Array[Byte]](1)))).toSeq)
    val back = ct.toDF("id", "ct").select($"id", GcmKernel.decrypt($"ct", kh).cast("string"))
    assert(collectPairs(back) == values.toMap)
  }

  test("null stays null; \"\" encrypts to the 28-byte [IV][tag] blob") {
    val rows = input.select($"id", GcmKernel.encrypt($"v", kh).as("ct"))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[Array[Byte]](1))).toMap
    assert(rows(2L).isEmpty)
    assert(rows(3L).map(_.length).contains(GcmKernel.IvLen + GcmKernel.TagLen))
    assert(rows(1L).map(_.length).contains(28 + "alice".length))
    assert(rows(5L).map(_.length).contains(28 + values.toMap.apply(5L).get.getBytes("UTF-8").length))
  }

  test("a row-swapped AAD ciphertext fails; the try variant gives NULL") {
    val enc = input.filter($"v".isNotNull)
      .select($"id", ColumnCrypto.encryptBound($"v", "v", key, $"id").as("ct"))
    // every ciphertext moved to the next row's identity
    val swapped = enc.select((($"id" % 5) + 1).as("id"), $"ct")
    intercept[Exception] {
      swapped.select(ColumnCrypto.decryptBound($"ct", "v", key, $"id")).collect()
    }
    val tried = swapped.select(ColumnCrypto.tryDecryptBound($"ct", "v", key, $"id")).collect()
    assert(tried.nonEmpty && tried.forall(_.isNullAt(0)))
    // in place, the bound ciphertexts open
    val ok = enc.select($"id", ColumnCrypto.decryptBound($"ct", "v", key, $"id"))
    assert(collectPairs(ok) == values.toMap.filter(_._2.isDefined))
  }

  test("a wrong key fails; the try variant gives NULL") {
    val enc = ColumnCrypto.encryptColumns(input, Map("v" -> key))
    val wrong = Map("v" -> "ffffffffffffffff".getBytes("UTF-8"))
    intercept[Exception] { ColumnCrypto.decryptColumns(enc, wrong).collect() }
    val tried = ColumnCrypto.tryDecryptColumns(enc, wrong).select($"v").collect()
    assert(tried.length == values.size && tried.forall(_.isNullAt(0)))
    // and the driver-side entry keeps the JDK's failure type
    val blob = AesGcm.encrypt(key, "k".getBytes("UTF-8"))
    intercept[javax.crypto.AEADBadTagException] {
      AesGcm.decrypt("ffffffffffffffff".getBytes("UTF-8"), blob)
    }
    intercept[javax.crypto.AEADBadTagException] { AesGcm.decrypt(key, blob.take(27)) }
  }

  test("a bad key length fails with the key's label and no key bytes") {
    val bad = "0123456789abcde" // 15 bytes
    val badHex = bad.getBytes("UTF-8").map(b => f"$b%02x").mkString
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    for (run <- Seq[() => Any](
      () => ColumnCrypto.encryptColumns(input, Map("v" -> bad.getBytes("UTF-8"))).collect(),
      () => withInterpreted(
        ColumnCrypto.encryptColumns(input, Map("v" -> bad.getBytes("UTF-8"))).collect()))) {
      val ex = intercept[Exception](run())
      val msgs = chain(ex).map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(m => m.contains("column:v") && m.contains("15 bytes")),
        s"expected the key's label in the failure: ${msgs.mkString(" | ")}")
      assert(!msgs.exists(m => m.contains(bad) || m.toLowerCase.contains(badHex)),
        "key bytes leaked into the failure message")
    }
    intercept[java.security.InvalidKeyException] {
      AesGcm.encrypt(bad.getBytes("UTF-8"), Array[Byte](1))
    }
  }

  test("100k values encrypted in one partition get pairwise-distinct IVs") {
    val n = 100000L
    val ivs = spark.range(0, n, 1, 1)
      .select(GcmKernel.encrypt(lit("same value"), kh).as("ct"))
      .select(substring($"ct", 1, GcmKernel.IvLen).as("iv"))
    assert(ivs.agg(countDistinct($"iv")).head().getLong(0) == n)
  }
}

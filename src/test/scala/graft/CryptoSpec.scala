package graft

import graft.crypto._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior specs for the reference surface (SURVEY.md §2.1) beyond the
  * oracle queries: footer secrecy, key-resolution chain, null handling,
  * wrong-key failure modes, robustness cases from
  * /root/reference/src/main.cpp (sparse rows, empty row, long values).
  */
class CryptoSpec extends AnyFunSuite {
  import TestSession._
  private def tmp(name: String) = s"/tmp/graft_spec/$name"

  private lazy val cust = Tables.customer(spark, sf)

  test("kms: generateDataKey round-trips through the wrapped blob") {
    val dk = Kms.generateDataKey("mk-1")
    assert(dk.plaintext.length == 16)
    assert(!dk.wrapped.sameElements(dk.plaintext))
    assert(Kms.decryptDataKey(dk.wrapped, "mk-1").sameElements(dk.plaintext))
    intercept[Exception] { Kms.decryptDataKey(dk.wrapped, "mk-WRONG") }
  }

  test("key chain: explicit > kms > fallback > plaintext; bad lengths fall through") {
    val cfg = CryptoConfig("m", Seq(), fallbackKey = Some("ffffffffffffffff"))
    assert(cfg.resolveKeyForWrite(ColumnPolicy("c",
      explicitKey = Some("0123456789abcdef"))).mode == "column-key")
    // invalid-length explicit key falls through to kms
    assert(cfg.resolveKeyForWrite(ColumnPolicy("c",
      explicitKey = Some("short"), kmsMasterKeyId = Some("mk"))).mode == "kms")
    // no explicit/kms → fallback
    assert(cfg.resolveKeyForWrite(ColumnPolicy("c")).mode == "fallback")
    // nothing valid at all → plaintext ONLY under the opt-in fail-open
    // reference parity mode
    val bare = CryptoConfig("m", Seq(), fallbackKey = Some("bad"), failOpen = true)
    assert(bare.resolveKeyForWrite(ColumnPolicy("c")).mode == "plaintext")
  }

  test("strict mode (default): unresolvable key fails the write, never plaintext") {
    // resolveKeyForWrite itself
    val bare = CryptoConfig("m", Seq(), fallbackKey = Some("bad"))
    val ex = intercept[KeyResolutionException] {
      bare.resolveKeyForWrite(ColumnPolicy("c_name"))
    }
    assert(ex.getMessage.contains("c_name") && ex.getMessage.contains("failOpen"))
    // and through the full write path: nothing lands on disk in cleartext
    val out = tmp("strict")
    intercept[KeyResolutionException] {
      EncryptedParquet.write(cust.limit(5), out,
        CryptoConfig("m", Seq(ColumnPolicy("c_name", explicitKey = Some("tooshort")))))
    }
  }

  test("no key material in any plan rendering (explain / executed plan / SQL)") {
    import org.apache.spark.sql.execution.ExplainMode
    val keyUtf8 = "0123456789abcdef"
    val keyHex = keyUtf8.getBytes("UTF-8").map(b => f"$b%02x").mkString
    val keys = Map("c_name" -> keyUtf8.getBytes("UTF-8"))
    val enc = ColumnCrypto.encryptColumns(cust.limit(5), keys)
    val dec = ColumnCrypto.decryptColumns(enc, keys)

    // selective-read path too (EncryptedParquet.read resolves + injects keys)
    val out = tmp("noleak")
    val cfg = CryptoConfig("master-noleak",
      Seq(ColumnPolicy("c_name", explicitKey = Some(keyUtf8)),
        ColumnPolicy("c_mktsegment", kmsMasterKeyId = Some("mk-noleak"))))
    EncryptedParquet.write(cust.limit(5), out, cfg)
    val sel = EncryptedParquet.read(spark, out, Seq("c_name", "c_mktsegment"), cfg)
    val kmsKeyHex = cfg.resolveKeyForRead("c_mktsegment", "kms",
      EncryptedParquet.readManifest(spark, out, "master-noleak").columns
        .find(_.name == "c_mktsegment").flatMap(_.wrappedDek),
      Some("mk-noleak")).map(b => f"$b%02x").mkString

    // the row-bound (AAD) variants
    import spark.implicits._
    val key = keys("c_name")
    val bound = cust.limit(5).select($"c_custkey",
      ColumnCrypto.encryptBound($"c_name", "c_name", key, $"c_custkey").as("ct"))
    val boundDec = bound.select(
      ColumnCrypto.decryptBound($"ct", "c_name", key, $"c_custkey").as("v"),
      ColumnCrypto.tryDecryptBound($"ct", "c_name", key, $"c_custkey").as("t"))

    def renderings(qe: QueryExecution): Seq[String] = Seq(
      qe.explainString(ExplainMode.fromString("extended")),
      qe.explainString(ExplainMode.fromString("formatted")),
      qe.executedPlan.toString,
      qe.optimizedPlan.toString)
    def assertNoLeak(qe: QueryExecution, leaks: Seq[String]): Unit =
      for (r <- renderings(qe); leak <- leaks) {
        assert(!r.toLowerCase.contains(leak.toLowerCase),
          s"key material leaked into plan rendering:\n$r")
      }
    for (df <- Seq(enc, dec, sel, bound, boundDec)) {
      assertNoLeak(df.queryExecution, Seq(keyUtf8, keyHex, kmsKeyHex))
      // the redacted handle is what should appear instead
      assert(df.queryExecution.analyzed.toString.contains("graft_key("),
        "expected the KeyHandle label in the plan")
    }
    // and the data path still works end-to-end with redacted handles
    assert(sel.select("c_name").na.drop().count() == 5)
    assert(boundDec.filter($"v" === $"t").count() == 5)

    // TenantShred: per-tenant DEKs ride as a join column; neither the
    // staging write nor the decrypting read renders them
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val root = java.nio.file.Files.createTempDirectory("graft_shred_noleak").toString
    spark.listenerManager.register(listener)
    try {
      TenantShred.stage(spark, cust.limit(20), "c_nationkey", "c_name", root)
      // the listener bus is async: wait for the encrypting data write
      val deadline = System.currentTimeMillis() + 10000
      def sawWrite = seen.toArray.exists(_.toString.contains("graft_gcm_encrypt"))
      while (!sawWrite && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(sawWrite, "expected the staging write's plan")
    } finally spark.listenerManager.unregister(listener)
    val deks = spark.read.parquet(s"$root/keystore").as[(Long, String)].collect()
      .map { case (_, w) => Kms.unwrapFromBase64(w, "mk-tenant-shred") }
      .map(_.map(b => f"$b%02x").mkString).toSeq
    assert(deks.nonEmpty)
    val read = TenantShred.read(spark, root, "c_name")
    for (qe <- seen.toArray(Array.empty[QueryExecution]) :+ read.queryExecution)
      assertNoLeak(qe, deks)
    assert(read.filter($"c_name" === TenantShred.Masked).count() == 0)
  }

  test("injectable master-key resolver: custom vault keys round-trip; demo keys don't open them") {
    val vault = Map(
      "mk-v1" -> "vvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvv".getBytes("UTF-8"),
      "master-vault" -> "mmmmmmmmmmmmmmmmmmmmmmmmmmmmmmmm".getBytes("UTF-8"))
    val custom = new MasterKeyResolver {
      override def resolve(id: String): Array[Byte] =
        vault.getOrElse(id, throw new IllegalArgumentException(s"no vault entry $id"))
    }
    val out = tmp("resolver")
    val cfg = CryptoConfig("master-vault",
      Seq(ColumnPolicy("c_name", kmsMasterKeyId = Some("mk-v1"))),
      resolver = custom)
    EncryptedParquet.write(cust.limit(10), out, cfg)
    val back = EncryptedParquet.readAll(spark, out, cfg)
    assert(back.select("c_name").na.drop().count() == 10)
    // the demo resolver derives DIFFERENT keys → manifest must not open
    intercept[Exception] {
      EncryptedParquet.readManifest(spark, out, "master-vault") // default = demo
    }
  }

  test("master-key rotation rewrites only the manifest; old key opens nothing after") {
    val out = tmp("rotate")
    val cfg = CryptoConfig("master-old",
      Seq(ColumnPolicy("c_name", kmsMasterKeyId = Some("mk-old")),
        ColumnPolicy("c_acctbal", explicitKey = Some("0123456789abcdef"))))
    EncryptedParquet.write(cust.limit(20), out, cfg)
    val before = EncryptedParquet.readAll(spark, out, cfg)
      .select("c_name").na.drop().count()

    // rotation must be a pure driver-side metadata operation: zero
    // Spark jobs — the 100 TB of data files is never re-read
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Thread.sleep(300) // drain events from the write above (async bus)
    spark.sparkContext.addSparkListener(listener)
    try {
      EncryptedParquet.rotateMasterKey(spark, out, cfg, "master-new")
      Thread.sleep(300) // let any (unexpected) job events land
      assert(jobs.get() == 0,
        s"rotation must not touch data (0 jobs), saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)

    val newCfg = cfg.copy(masterKeyId = "master-new")
    assert(EncryptedParquet.readAll(spark, out, newCfg)
      .select("c_name").na.drop().count() == before)
    // the old master key can no longer open the manifest
    intercept[Exception] { EncryptedParquet.readManifest(spark, out, "master-old") }
    // and the re-wrapped DEK decrypts the SAME data (wrap changed, DEK didn't)
    val m = EncryptedParquet.readManifest(spark, out, "master-new")
    assert(m.columns.find(_.name == "c_name").get.masterKeyId == Some("master-new"))
  }

  test("manifest on disk is ciphertext, decrypts only with the right master key") {
    val out = tmp("manifest")
    val cfg = CryptoConfig("master-A",
      Seq(ColumnPolicy("c_name", kmsMasterKeyId = Some("mk-n"))))
    EncryptedParquet.write(cust.limit(50), out, cfg)
    val raw = EncryptedParquet.rawManifestBytes(spark, out)
    assert(!new String(raw.drop(12), "ISO-8859-1").contains("c_name"),
      "manifest plaintext leaked")
    val m = EncryptedParquet.readManifest(spark, out, "master-A")
    assert(m.columns.map(_.name) == Seq("c_name") && m.rowCount == 50)
    intercept[Exception] { EncryptedParquet.readManifest(spark, out, "master-B") }
  }

  test("write stamps the manifest row count in the same pass as the data write") {
    val out = tmp("singlepass")
    val cfg = CryptoConfig("m",
      Seq(ColumnPolicy("c_name", explicitKey = Some("0123456789abcdef"))))
    // scope the count to THIS test's job group: the listener bus is
    // shared and async, so late-dispatched events from earlier tests in
    // the session would otherwise flake an exact-count assertion
    val group = "graft-singlepass-" + System.nanoTime()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // shuffle-free single-stage input: the write plan is exactly one
      // job, so a manifest-count re-read would show as a second job
      spark.sparkContext.setJobGroup(group, "single-pass write spec")
      val df = spark.range(40).selectExpr("id", "concat('name-', id) AS c_name")
      val m = EncryptedParquet.write(df, out, cfg)
      assert(m.rowCount == 40, "observed row count must match the data written")
      // listener bus is async — give posted events a beat to drain
      val deadline = System.currentTimeMillis() + 2000
      while (jobs.get() < 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(200)
      assert(jobs.get() == 1,
        s"write must be ONE pass over the data (row count via observe, " +
          s"not a re-read), saw ${jobs.get()} jobs")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("selective read: unrequested columns are the [ENCRYPTED] placeholder") {
    val out = tmp("selective")
    val cfg = CryptoConfig("m",
      Seq(ColumnPolicy("c_name", explicitKey = Some("0123456789abcdef")),
        ColumnPolicy("c_acctbal", explicitKey = Some("abcdef0123456789"))))
    EncryptedParquet.write(cust.limit(20), out, cfg)
    val df = EncryptedParquet.read(spark, out, Seq("c_acctbal"), cfg)
    val row = df.select(col("c_name"), col("c_acctbal")).limit(1).collect()(0)
    assert(row.getString(0) == EncryptedParquet.Placeholder)
    assert(!row.isNullAt(1)) // requested column decrypted to its orig double type
    assert(df.schema("c_acctbal").dataType.typeName == "double")
  }

  test("wrong key: aes_decrypt fails the task; try variant yields nulls") {
    val enc = ColumnCrypto.encryptColumns(cust.limit(5),
      Map("c_name" -> "0123456789abcdef".getBytes("UTF-8")))
    val wrong = Map("c_name" -> "ffffffffffffffff".getBytes("UTF-8"))
    intercept[Exception] {
      ColumnCrypto.decryptColumns(enc, wrong).collect()
    }
    val tried = ColumnCrypto.tryDecryptColumns(enc, wrong)
      .select(col("c_name")).collect()
    assert(tried.forall(_.isNullAt(0)))
  }

  test("nulls and empties survive encrypt→decrypt (reference sparse-row cases)") {
    import spark.implicits._
    // sparse rows (nulls), an all-empty row, and a 5000-char value —
    // the reference's robustness matrix (/root/reference/src/main.cpp)
    val df = Seq(
      (1L, Some("alice"), Some("x" * 5000)),
      (2L, None, Some("")),
      (3L, None, None)
    ).toDF("id", "a", "b")
    val keys = Map("a" -> "0123456789abcdef".getBytes("UTF-8"),
      "b" -> "abcdef0123456789".getBytes("UTF-8"))
    val back = ColumnCrypto.decryptColumns(ColumnCrypto.encryptColumns(df, keys), keys)
    val rows = back.orderBy("id").collect()
    assert(rows(0).getString(1) == "alice" && rows(0).getString(2) == "x" * 5000)
    assert(rows(1).isNullAt(1) && rows(1).getString(2) == "")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }

  test("io_encrypted_data tamper probe: passes on the intact store, throws on a flipped byte") {
    val out = SparkEntry.queries("io_encrypted_data")(spark, sf)
      .filter(col("stage") === "3_attacks").select("fail_closed").collect()
    assert(out.length == 1 && out(0).getBoolean(0), "io_encrypted_data must fail closed")
    // the query leaves the intact store and its byte-flipped clone behind
    operators.Maintenance.readEveryColumn(spark, Staging.scratch("io_enc_data", sf), 2)
    val ex = intercept[Exception] {
      operators.Maintenance.readEveryColumn(spark, Staging.scratch("io_enc_data_bad", sf), 2)
    }
    // caught by GCM authentication, not by a file-system checksum
    val causes = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[javax.crypto.AEADBadTagException]),
      s"expected a GCM tag failure, got: ${causes.mkString(" <- ")}")
  }

  test("modular encryption: file unreadable without the crypto factory") {
    val out = tmp("modular")
    ModularEncryption.writeEncrypted(cust.limit(30), out,
      columnKeys = Map("mk-c" -> Seq("c_name")), footerKeyId = "mk-f")
    intercept[Exception] { spark.read.parquet(out).collect() } // footer is encrypted
    val dec = ModularEncryption.readEncrypted(spark, out)
    assert(dec.count() == 30)
    assert(dec.select("c_name").na.drop().count() == 30)
  }

  test("modular encryption keeps pushdown and column pruning on plaintext columns") {
    import org.apache.spark.sql.execution.ExplainMode
    val out = tmp("modular_pushdown")
    ModularEncryption.writeEncrypted(cust, out,
      columnKeys = Map("mk-c" -> Seq("c_name")), footerKeyId = "mk-f")
    // the 100 TB property: encrypting a column must not cost the scan
    // its optimizations elsewhere — filters on PLAINTEXT columns still
    // push into the reader, and an unencrypted-column projection never
    // decodes the encrypted chunks
    val df = ModularEncryption.readEncrypted(spark, out)
      .filter(org.apache.spark.sql.functions.col("c_custkey") > 100)
      .select("c_custkey", "c_nationkey")
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), GreaterThan(c_custkey,100)]"),
      s"plaintext-column filter must reach the encrypted-parquet scan:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("c_name"),
      s"projection must prune the encrypted column from the scan:\n$readSchema")
    assert(df.count() == cust.filter("c_custkey > 100").count())
  }

  test("masking: hash is deterministic, partial keeps tail, redact constant") {
    import spark.implicits._
    val df = Seq(("4111111111111111", "s")).toDF("card", "x")
    val m = df.select(
      Masking.hashMask($"card").as("h"),
      Masking.partialMask($"card", 4).as("p"),
      Masking.redact.as("r")).collect()(0)
    assert(m.getString(0).matches("[0-9a-f]{64}"))
    assert(m.getString(1) == "************1111")
    assert(m.getString(2) == "***")
  }

  test("rbac: denied columns are absent, masked columns masked") {
    val policy = Rbac.Policy(Map("analyst" -> Map(
      "c_custkey" -> Rbac.Allow, "c_name" -> Rbac.Mask(Masking.hashMask))))
    val v = policy(cust, "analyst")
    assert(v.columns.toSeq == Seq("c_custkey", "c_name"))
    assert(v.select("c_name").limit(1).collect()(0).getString(0).matches("[0-9a-f]{64}"))
    intercept[IllegalArgumentException] { policy(cust, "nosuchrole") }
  }

  test("AAD row binding: swapped ciphertexts fail authentication") {
    import spark.implicits._
    val key = "0123456789abcdef".getBytes("UTF-8")
    val rows = Seq((1L, "alice-salary"), (2L, "bob-salary")).toDF("id", "v")
    val enc = rows.select($"id",
      ColumnCrypto.encryptBound($"v", "v", key, $"id").as("ct")).collect()
    val swapped = Seq((1L, enc.find(_.getLong(0) == 2L).get.getAs[Array[Byte]]("ct")),
      (2L, enc.find(_.getLong(0) == 1L).get.getAs[Array[Byte]]("ct")))
      .toDF("id", "ct")
    // unbound decryption would hand row 1 bob's value; bound decryption
    // rejects both moved ciphertexts
    val out = swapped.select($"id",
      ColumnCrypto.tryDecryptBound($"ct", "v", key, $"id").as("v"))
      .as[(Long, Option[String])].collect().toMap
    assert(out(1L).isEmpty && out(2L).isEmpty,
      s"swapped ciphertexts must fail GCM authentication: $out")
    // intact rows round-trip against their own identity
    val ok = Seq((1L, enc.find(_.getLong(0) == 1L).get.getAs[Array[Byte]]("ct")))
      .toDF("id", "ct")
      .select(ColumnCrypto.tryDecryptBound($"ct", "v", key, $"id")).collect()
    assert(ok(0).getString(0) == "alice-salary")
  }

  test("crypto-shredding: key deletion erases a tenant with zero data IO") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shred").toString
    TenantShred.stage(spark, cust, "c_nationkey", "c_name", root)
    // disk holds ciphertext only: no staged name equals its plaintext
    val joined = spark.read.parquet(s"$root/data")
      .select($"c_custkey", $"c_name".as("ct"))
      .join(cust.select($"c_custkey", $"c_name"), "c_custkey")
    assert(joined.filter($"ct".cast("string") === $"c_name").count() == 0)
    // keystore persists only wrapped DEKs (56B = 16B key + 12B IV + 16B
    // tag + base64 overhead — never a raw 16B key)
    val ksCountBefore = spark.read.parquet(s"$root/keystore")
      .filter(length(unbase64($"wrapped_dek")) > 16).count() // wrapped ≠ raw 16B key
    assert(ksCountBefore == cust.select($"c_nationkey").distinct().count())
    val dataFiles = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    TenantShred.shred(spark, root, 3L)
    // the forget touched NO data file — pure keystore arithmetic
    val after = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after == dataFiles, "shred must not rewrite or touch data files")
    assert(ksCountBefore - spark.read.parquet(s"$root/keystore").count() == 1)
    // read: exactly tenant 3 masked, everyone else decrypts losslessly
    val out = TenantShred.read(spark, root, "c_name")
    assert(out.filter($"c_name" === TenantShred.Masked)
      .select($"tenant_id").distinct().as[Long].collect().toSeq == Seq(3L))
    val live = out.filter($"tenant_id" =!= 3L)
      .select($"c_custkey", $"c_name".as("dec"))
      .join(cust.select($"c_custkey", $"c_name"), "c_custkey")
    assert(live.filter($"dec" =!= $"c_name").count() == 0, "live tenants must round-trip")
  }
}

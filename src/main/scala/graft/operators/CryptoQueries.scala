package graft.operators

import graft.{QueryDef, Staging, Tables}
import graft.OracleMath._
import graft.crypto._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract queries for the reference surface (SURVEY.md §2.1):
  * encrypted columnar I/O. Each query exercises a write→read round trip
  * through the graft.crypto package and reduces to an aggregate the
  * DuckDB oracle can compute on the PLAINTEXT tables — equality proves
  * the crypto path is lossless (and, for the length assertions, that
  * ciphertexts have the `[12B IV][ct][16B tag]` GCM layout).
  */
object CryptoQueries {

  // -- 1: plain parquet write→read round trip ------------------------------
  private def ioRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("io_parquet_roundtrip", d)
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_returnflag")
      .write.mode("overwrite").parquet(out)
    Tables.parquet(s, out)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"l_returnflag")
  }
  private val ioRoundtripSql =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${sqlSum("l_extendedprice")} AS sum_price
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- 2: column projection (scan must prune to ReadSchema) ----------------
  private def ioProjection(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderpriority")   // 1 of 6 columns → pruned scan
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy($"o_orderpriority")
  }
  private val ioProjectionSql =
    """SELECT o_orderpriority, COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -- 3: per-column AES-GCM encryption (ciphertext layout check) ----------
  // GCM ciphertext = 12B IV + len(plaintext) + 16B tag, so the oracle can
  // predict exact ciphertext lengths from plaintext lengths.
  private def encryptColumns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keys = Map(
      "c_name" -> "0123456789abcdef".getBytes("UTF-8"),
      "c_mktsegment" -> "fedcba9876543210fedcba9876543210".getBytes("UTF-8"))
    ColumnCrypto.encryptColumns(Tables.customer(s, d), keys)
      .agg(count(lit(1)).as("n"),
        sum(length($"c_name")).as("name_ct_bytes"),
        sum(length($"c_mktsegment")).as("seg_ct_bytes"))
  }
  private val encryptColumnsSql =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(LENGTH(c_name) + 28) AS BIGINT) AS name_ct_bytes,
      |  CAST(SUM(LENGTH(c_mktsegment) + 28) AS BIGINT) AS seg_ct_bytes
      |FROM customer""".stripMargin

  // -- 4: full encrypt→write→read→decrypt round trip -----------------------
  private def roundtripFull(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("crypto_roundtrip_full", d)
    val cfg = CryptoConfig("master-rt",
      Seq(ColumnPolicy("c_name", explicitKey = Some("0123456789abcdef")),
        ColumnPolicy("c_acctbal", explicitKey = Some("abcdef0123456789")),
        ColumnPolicy("c_mktsegment", kmsMasterKeyId = Some("mk-seg"))))
    EncryptedParquet.write(Tables.customer(s, d), out, cfg)
    EncryptedParquet.readAll(s, out, cfg)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        countDistinct($"c_name").as("n_names"),
        dsum($"c_acctbal").as("sum_bal"))
      .orderBy($"c_mktsegment")
  }
  private val roundtripFullSql =
    s"""SELECT c_mktsegment, COUNT(*) AS n,
       |  COUNT(DISTINCT c_name) AS n_names,
       |  ${sqlSum("c_acctbal")} AS sum_bal
       |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // -- 5: selective decrypt; unrequested columns stay [ENCRYPTED] ----------
  private def selectiveDecrypt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("crypto_selective_decrypt", d)
    val cfg = CryptoConfig("master-sel",
      Seq(ColumnPolicy("c_name", explicitKey = Some("0123456789abcdef")),
        ColumnPolicy("c_mktsegment", explicitKey = Some("abcdef0123456789"))))
    EncryptedParquet.write(Tables.customer(s, d), out, cfg)
    EncryptedParquet.read(s, out, request = Seq("c_name"), cfg)
      .groupBy($"c_mktsegment")   // unrequested → the placeholder literal
      .agg(count(lit(1)).as("n"), countDistinct($"c_name").as("n_names"))
  }
  private val selectiveDecryptSql =
    """SELECT '[ENCRYPTED]' AS c_mktsegment, COUNT(*) AS n,
      |  COUNT(DISTINCT c_name) AS n_names
      |FROM customer""".stripMargin

  // -- 6: KMS envelope encryption (wrapped DEKs in the manifest) -----------
  private def kmsEnvelope(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("crypto_kms_envelope", d)
    val cfg = CryptoConfig("master-env",
      Seq(ColumnPolicy("s_name", kmsMasterKeyId = Some("mk-sup-name")),
        ColumnPolicy("s_acctbal", kmsMasterKeyId = Some("mk-sup-bal"))))
    EncryptedParquet.write(Tables.supplier(s, d), out, cfg)
    EncryptedParquet.readAll(s, out, cfg)
      .agg(count(lit(1)).as("n"),
        countDistinct($"s_name").as("n_names"),
        dsum($"s_acctbal").as("sum_bal"))
  }
  private val kmsEnvelopeSql =
    s"""SELECT COUNT(*) AS n, COUNT(DISTINCT s_name) AS n_names,
       |  ${sqlSum("s_acctbal")} AS sum_bal
       |FROM supplier""".stripMargin

  // -- 6b: master-key (KEK) rotation (r6) -----------------------------------
  // The lake-crypto lifecycle op: unwrap every column DEK under the old
  // master key, rewrap under the new one, rewrite ONLY the manifest —
  // data files untouched (the spec additionally pins ZERO Spark jobs
  // during rotation). The query proves the rotated chain fully opens
  // the data: read with the NEW master id after rotating, aggregate,
  // compare against the plain table.
  private def keyRotation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("crypto_key_rotation", d)
    val cfg = CryptoConfig("master-rot-old",
      Seq(ColumnPolicy("s_name", kmsMasterKeyId = Some("mk-rot-name")),
        ColumnPolicy("s_acctbal", kmsMasterKeyId = Some("mk-rot-bal"))))
    EncryptedParquet.write(Tables.supplier(s, d), out, cfg)
    EncryptedParquet.rotateMasterKey(s, out, cfg, "master-rot-new")
    EncryptedParquet.readAll(s, out, cfg.copy(masterKeyId = "master-rot-new"))
      .agg(count(lit(1)).as("n"),
        countDistinct($"s_name").as("n_names"),
        dsum($"s_acctbal").as("sum_bal"))
  }
  private val keyRotationSql =
    s"""SELECT COUNT(*) AS n, COUNT(DISTINCT s_name) AS n_names,
       |  ${sqlSum("s_acctbal")} AS sum_bal
       |FROM supplier""".stripMargin

  // -- 7: distributed round-trip validation (anti-join, no collect) --------
  private def validate(s: SparkSession, d: String): DataFrame = {
    val out = Staging.scratch("crypto_validate", d)
    val cfg = CryptoConfig("master-val",
      Seq(ColumnPolicy("c_name", kmsMasterKeyId = Some("mk-val")),
        ColumnPolicy("c_acctbal", explicitKey = Some("0123456789abcdef"))))
    val original = Tables.customer(s, d)
    EncryptedParquet.write(original, out, cfg)
    Validate.roundTrip(original, EncryptedParquet.readAll(s, out, cfg))
  }
  private val validateSql =
    """SELECT COUNT(*) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch FROM customer"""

  // -- 8: column masking (redact / hash / partial) -------------------------
  private def masking(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Masking.maskColumns(Tables.customer(s, d), Map(
      "c_name" -> (c => Masking.hashMask(c)),
      "c_mktsegment" -> (_ => Masking.redact)))
      .withColumn("name_tail", Masking.partialMask(col("c_name"), keep = 8))
      .select($"c_custkey", $"c_name".as("name_hash"), $"c_mktsegment".as("seg_redacted"),
        $"name_tail")
      .orderBy($"c_custkey")
  }
  private val maskingSql =
    """SELECT c_custkey, sha256(c_name) AS name_hash, '***' AS seg_redacted,
      |  repeat('*', greatest(length(sha256(c_name)) - 8, 0))
      |    || right(sha256(c_name), 8) AS name_tail
      |FROM customer ORDER BY c_custkey""".stripMargin

  // -- 9: role-based column access as a view -------------------------------
  private def rbacView(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val policy = Rbac.Policy(Map(
      "analyst" -> Map(
        "c_custkey" -> Rbac.Allow,
        "c_mktsegment" -> Rbac.Allow,
        "c_name" -> Rbac.Mask(Masking.hashMask)),
        // c_acctbal, c_nationkey absent → denied (pruned from the scan)
      "admin" -> Map(
        "c_custkey" -> Rbac.Allow, "c_name" -> Rbac.Allow,
        "c_nationkey" -> Rbac.Allow, "c_acctbal" -> Rbac.Allow,
        "c_mktsegment" -> Rbac.Allow)))
    policy(Tables.customer(s, d), "analyst")
      .createOrReplaceTempView("customer_analyst")
    s.sql(
      """SELECT c_mktsegment, COUNT(*) AS n, COUNT(DISTINCT c_name) AS n_name_hashes
        |FROM customer_analyst GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }
  private val rbacViewSql =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  COUNT(DISTINCT sha256(c_name)) AS n_name_hashes
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // -- 10: native Parquet Modular Encryption -------------------------------
  private def modularParquet(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("crypto_modular_parquet", d)
    ModularEncryption.writeEncrypted(Tables.part(s, d), out,
      columnKeys = Map("mk-part-cols" -> Seq("p_name", "p_retailprice")),
      footerKeyId = "mk-part-footer")
    ModularEncryption.readEncrypted(s, out)
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"), countDistinct($"p_name").as("n_names"),
        dsum($"p_retailprice").as("sum_price"))
      .orderBy($"p_brand")
  }
  private val modularParquetSql =
    s"""SELECT p_brand, COUNT(*) AS n, COUNT(DISTINCT p_name) AS n_names,
       |  ${sqlSum("p_retailprice")} AS sum_price
       |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // -- crypto-shredding: GDPR erasure by key destruction -------------------
  // Stage per-tenant envelope encryption (tenant = c_nationkey), forget
  // tenant 7 by deleting ONE keystore row (zero data IO), then read:
  // live tenants decrypt losslessly (the oracle proves it against the
  // plaintext table), the shredded tenant's names are unrecoverable.
  private val ShreddedTenant = 7L

  private def cryptoShred(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = Staging.scratch("crypto_shred", d)
    TenantShred.stage(s, Tables.customer(s, d), "c_nationkey", "c_name", root)
    TenantShred.shred(s, root, ShreddedTenant)
    TenantShred.read(s, root, "c_name")
      .groupBy($"tenant_id")
      .agg(count(lit(1)).as("n"),
        sum(when($"c_name" =!= TenantShred.Masked, 1L).otherwise(0L))
          .as("names_readable"),
        min($"c_name").as("min_name"))
      .orderBy($"tenant_id")
  }
  private val cryptoShredSql =
    s"""SELECT CAST(c_nationkey AS BIGINT) AS tenant_id, COUNT(*) AS n,
       |  CAST(CASE WHEN c_nationkey = $ShreddedTenant THEN 0
       |       ELSE COUNT(*) END AS BIGINT) AS names_readable,
       |  CASE WHEN c_nationkey = $ShreddedTenant THEN '${TenantShred.Masked}'
       |       ELSE MIN(c_name) END AS min_name
       |FROM customer GROUP BY c_nationkey ORDER BY tenant_id""".stripMargin

  // -- crypto_aad_binding: ciphertext bound to row identity ----------------
  // Encrypt c_name with the row's primary key as GCM AAD, write, read
  // back decrypting against the same key column — lossless (the oracle
  // proves it on plaintext). The spec proves the attack this closes:
  // swapping two rows' ciphertexts fails authentication (NULL under
  // the try variant), where unbound encryption would happily decrypt
  // the wrong person's value.
  private def aadBinding(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("crypto_aad_binding", d)
    val key = "0123456789abcdef".getBytes("UTF-8")
    Tables.customer(s, d)
      .select($"c_custkey", $"c_nationkey",
        ColumnCrypto.encryptBound($"c_name", "c_name", key, $"c_custkey").as("name_ct"))
      .write.mode("overwrite").parquet(out)
    Tables.parquet(s, out)
      .select($"c_nationkey",
        ColumnCrypto.decryptBound($"name_ct", "c_name", key, $"c_custkey").as("c_name"))
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n"), min($"c_name").as("min_name"),
        max($"c_name").as("max_name"))
      .orderBy($"c_nationkey")
  }
  private val aadBindingSql =
    """SELECT c_nationkey, COUNT(*) AS n, MIN(c_name) AS min_name,
      |  MAX(c_name) AS max_name
      |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // -- crypto_footer_tamper: encrypted footer fails CLOSED ------------------
  // §2.1 row 7 (encrypted footer / metadata protection), driver-gated:
  // the manifest rides as one AES-GCM blob, so a single flipped bit
  // anywhere in it must fail authentication BEFORE any column key is
  // unwrapped — the tampered read exposes zero plaintext rows. Stage
  // 1_intact reads normally (its keys resolve while the manifest is
  // still sound; execution later needs no manifest); stage 2_tampered
  // re-opens after the bit flip and must throw GeneralSecurityException
  // (AEADBadTagException). If the tampered read ever SUCCEEDS the query
  // emits read_ok=true / fails_closed=false and the oracle compare
  // fails the round — the gate can only pass by failing closed.
  private def footerTamper(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("crypto_footer_tamper", d)
    val cfg = CryptoConfig("master-tamper",
      Seq(ColumnPolicy("c_name", kmsMasterKeyId = Some("mk-tamper")),
        ColumnPolicy("c_acctbal", explicitKey = Some("0123456789abcdef"))))
    EncryptedParquet.write(Tables.customer(s, d), out, cfg)
    val intact = EncryptedParquet.readAll(s, out, cfg)
      .agg(count(lit(1)).as("rows_readable"),
        countDistinct($"c_name").as("n_names"))
      .select(lit("1_intact").as("stage"), lit(true).as("read_ok"),
        $"rows_readable", $"n_names", lit(true).as("fails_closed"))
    EncryptedParquet.tamperManifest(s, out)
    val tampered =
      try {
        EncryptedParquet.readAll(s, out, cfg) // must throw at manifest auth
        Seq(("2_tampered", true, 0L, 0L, false))
      } catch {
        case _: java.security.GeneralSecurityException =>
          Seq(("2_tampered", false, 0L, 0L, true))
      }
    intact.unionByName(tampered
        .toDF("stage", "read_ok", "rows_readable", "n_names", "fails_closed"))
      .orderBy($"stage")
  }
  private val footerTamperSql =
    """SELECT '1_intact' AS stage, true AS read_ok,
      |  COUNT(*) AS rows_readable, COUNT(DISTINCT c_name) AS n_names,
      |  true AS fails_closed
      |FROM customer
      |UNION ALL
      |SELECT '2_tampered', false, 0, 0, true
      |ORDER BY stage""".stripMargin

  // -- crypto_fallback_chain: the full key-resolution walk ------------------
  // §2.1 row 8 driver-gated (reference parquet_writer.cpp:78-135):
  // c_name resolves at link 1 (valid explicit column key); c_mktsegment
  // carries an INVALID-length explicit key, which must fall through —
  // not fail — to link 2 (KMS data key, wrapped DEK in the manifest);
  // c_acctbal has no column-level key at all and lands on link 3 (the
  // config fallback key). The manifest's persisted mode per column IS
  // part of the output (the oracle pins the literal chain), and each
  // column's decrypted n_distinct must equal plaintext's — proving all
  // three resolution paths actually open the data.
  private def fallbackChain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("crypto_fallback_chain", d)
    val cfg = CryptoConfig("master-fb",
      Seq(ColumnPolicy("c_name", explicitKey = Some("0123456789abcdef")),
        ColumnPolicy("c_mktsegment", explicitKey = Some("tooshort!"),
          kmsMasterKeyId = Some("mk-fb-seg")),
        ColumnPolicy("c_acctbal")),
      fallbackKey = Some("fedcba9876543210"))
    val manifest = EncryptedParquet.write(Tables.customer(s, d), out, cfg)
    val modes = manifest.columns.map(c => (c.name, c.mode))
      .toDF("col_name", "mode")
    val stats = EncryptedParquet.readAll(s, out, cfg)
      .agg(countDistinct($"c_name").as("v_c_name"),
        countDistinct($"c_mktsegment").as("v_c_mktsegment"),
        countDistinct($"c_acctbal").as("v_c_acctbal"))
      .selectExpr("""stack(3,
        'c_name', v_c_name,
        'c_mktsegment', v_c_mktsegment,
        'c_acctbal', v_c_acctbal) AS (col_name, n_distinct)""")
    modes.join(stats, "col_name").orderBy($"col_name")
  }
  private val fallbackChainSql =
    """SELECT 'c_acctbal' AS col_name, 'fallback' AS mode,
      |  COUNT(DISTINCT c_acctbal) AS n_distinct FROM customer
      |UNION ALL
      |SELECT 'c_mktsegment', 'kms', COUNT(DISTINCT c_mktsegment) FROM customer
      |UNION ALL
      |SELECT 'c_name', 'column-key', COUNT(DISTINCT c_name) FROM customer
      |ORDER BY col_name""".stripMargin

  // -- crypto_nulls_roundtrip: sparse/null round trip, value-oracled --------
  // §2.1 row 11 driver-gated (reference main.cpp sparse-row scenarios:
  // missing values, empty strings): NULL every 5th name and EMPTY every
  // 7th segment BEFORE encryption; the GCM kernel propagates NULL (no
  // ciphertext is ever written for a missing value) and encrypts "" to
  // a real 28-byte [IV][tag] blob, and the read path must hand back
  // exactly the sparse plaintext — null/empty/distinct counts all
  // value-checked against an oracle replaying the same sparsification.
  private def nullsRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("crypto_nulls_roundtrip", d)
    val sparse = Tables.customer(s, d)
      .withColumn("c_name",
        when($"c_custkey" % 5 === 0, lit(null)).otherwise($"c_name"))
      .withColumn("c_mktsegment",
        when($"c_custkey" % 7 === 0, lit("")).otherwise($"c_mktsegment"))
    val cfg = CryptoConfig("master-nulls",
      Seq(ColumnPolicy("c_name", kmsMasterKeyId = Some("mk-nulls-name")),
        ColumnPolicy("c_mktsegment", explicitKey = Some("0123456789abcdef"))))
    EncryptedParquet.write(sparse, out, cfg)
    EncryptedParquet.readAll(s, out, cfg)
      .agg(count(lit(1)).as("n"),
        sum(when($"c_name".isNull, 1L).otherwise(0L)).as("n_null_names"),
        countDistinct($"c_name").as("n_names"),
        sum(when($"c_mktsegment" === "", 1L).otherwise(0L)).as("n_empty_segs"),
        countDistinct($"c_mktsegment").as("n_segs"))
  }
  private val nullsRoundtripSql =
    """WITH sparse AS (
      |  SELECT CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_name END AS c_name,
      |    CASE WHEN c_custkey % 7 = 0 THEN '' ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer)
      |SELECT COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_null_names,
      |  COUNT(DISTINCT c_name) AS n_names,
      |  CAST(SUM(CASE WHEN c_mktsegment = '' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_empty_segs,
      |  COUNT(DISTINCT c_mktsegment) AS n_segs
      |FROM sparse""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("crypto_footer_tamper", footerTamper, Some(footerTamperSql)),
    QueryDef("crypto_fallback_chain", fallbackChain, Some(fallbackChainSql)),
    QueryDef("crypto_nulls_roundtrip", nullsRoundtrip, Some(nullsRoundtripSql)),
    QueryDef("crypto_shred", cryptoShred, Some(cryptoShredSql)),
    QueryDef("crypto_aad_binding", aadBinding, Some(aadBindingSql)),
    QueryDef("io_parquet_roundtrip", ioRoundtrip, Some(ioRoundtripSql)),
    QueryDef("io_column_projection", ioProjection, Some(ioProjectionSql)),
    QueryDef("crypto_encrypt_columns", encryptColumns, Some(encryptColumnsSql)),
    QueryDef("crypto_roundtrip_full", roundtripFull, Some(roundtripFullSql)),
    QueryDef("crypto_selective_decrypt", selectiveDecrypt, Some(selectiveDecryptSql)),
    QueryDef("crypto_kms_envelope", kmsEnvelope, Some(kmsEnvelopeSql)),
    QueryDef("crypto_key_rotation", keyRotation, Some(keyRotationSql)),
    QueryDef("crypto_validate", validate, Some(validateSql)),
    QueryDef("crypto_column_masking", masking, Some(maskingSql)),
    QueryDef("crypto_rbac_view", rbacView, Some(rbacViewSql)),
    QueryDef("crypto_modular_parquet", modularParquet, Some(modularParquetSql)),
  )
}

package graft.crypto

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crypto-shredding: per-tenant envelope keys, GDPR erasure by key
  * destruction.
  *
  * The lake-scale erasure problem: "forget user X" over 100 TB of
  * immutable parquet means either rewriting every file that contains an
  * X row (copy-on-write — an unbounded, table-sized job; see
  * `io_snapshot_read`) or tracking per-row tombstones forever
  * (`io_deletion_vectors` — which hides rows but leaves the bytes on
  * disk and in every backup). Crypto-shredding is the third shape, and
  * the only O(1) one: encrypt each tenant's sensitive values under a
  * TENANT data key (envelope-wrapped by the master key, exactly the
  * reference's KMS scheme — /root/reference/src/kms.cpp:8-31 — applied
  * per tenant instead of per column), persist only the WRAPPED keys in
  * a keystore sidecar, and forget a tenant by deleting one keystore
  * row. The data files — and every backup of them — become permanently
  * undecryptable ciphertext for that tenant without any data I/O:
  * erasure cost is O(tenants) keystore metadata, zero bytes of the
  * 100 TB touched.
  *
  * Plan hygiene: tenant DEKs enter the encrypt/decrypt expressions as a
  * broadcast JOIN COLUMN (data), never `lit(key)` — plan renderings
  * show `LocalTableScan [tenant_id, dek]`, not key bytes, the same
  * no-keys-in-explain guarantee [[KeyHandle]] gives the per-column API.
  * Driver-side work is O(tenants) key generation/unwrap — keystore
  * metadata, same cost class as manifest handling; the per-row
  * encrypt/decrypt is a codegen'd [[GcmKernel]] map with no extra
  * shuffle (the kernel re-keys its one `Cipher` only when the row's
  * DEK differs from the previous row's).
  */
object TenantShred {

  val Masked = "[SHREDDED]"
  private val MasterId = "mk-tenant-shred"

  /** Encrypt `sensitive` per tenant under fresh tenant DEKs; write the
    * data and the wrapped-DEK keystore under `root`. The plaintext DEKs
    * live only in the (broadcast, in-memory) join side — disk sees
    * ciphertext and wrapped keys only. */
  def stage(s: SparkSession, df: DataFrame, tenantCol: String,
      sensitive: String, root: String,
      resolver: MasterKeyResolver = DemoMasterKeyResolver): Unit = {
    import s.implicits._
    val tenants = df.select(col(tenantCol).cast("long")).distinct()
      .as[Long].collect().sorted // O(tenants) keystore metadata
    val deks = tenants.map(t => t -> Kms.generateDataKey(MasterId, 16, resolver))
    deks.toSeq.map { case (t, dk) => (t, Kms.wrapToBase64(dk)) }
      .toDF("tenant_id", "wrapped_dek")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/keystore")
    val keyDf = deks.toSeq.map { case (t, dk) => (t, dk.plaintext) }
      .toDF("tenant_id", "dek")
    df.withColumn("tenant_id", col(tenantCol).cast("long"))
      .join(broadcast(keyDf), "tenant_id")
      .withColumn(sensitive,
        GcmKernel.encrypt(col(sensitive).cast("string"), $"dek"))
      .drop("dek")
      .write.mode("overwrite").options(ColumnCrypto.writerOptions(Seq(sensitive)))
      .parquet(s"$root/data")
  }

  /** GDPR forget: delete the tenant's wrapped DEK. Pure keystore
    * arithmetic — no data file is read, written, or touched. */
  def shred(s: SparkSession, root: String, tenant: Long): Unit = {
    import s.implicits._
    val kept = Tables.parquet(s, s"$root/keystore")
      .filter(col("tenant_id") =!= tenant)
      .as[(Long, String)].collect().toSeq // O(tenants); frees the source for overwrite
    kept.toDF("tenant_id", "wrapped_dek")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/keystore")
  }

  /** Decrypting read: tenants with a live keystore entry decrypt;
    * shredded tenants surface [[Masked]] — the ciphertext is still on
    * disk but no key exists anymore. */
  def read(s: SparkSession, root: String, sensitive: String,
      resolver: MasterKeyResolver = DemoMasterKeyResolver): DataFrame = {
    import s.implicits._
    val keyDf = Tables.parquet(s, s"$root/keystore")
      .as[(Long, String)].collect().toSeq
      .map { case (t, w) => (t, Kms.unwrapFromBase64(w, MasterId, resolver)) }
      .toDF("tenant_id", "dek") // O(tenants) driver-side unwrap
    Tables.parquet(s, s"$root/data")
      .join(broadcast(keyDf), Seq("tenant_id"), "left")
      .withColumn(sensitive,
        when($"dek".isNotNull,
          GcmKernel.decrypt(col(sensitive), $"dek").cast("string"))
          .otherwise(lit(Masked)))
      .drop("dek")
  }
}

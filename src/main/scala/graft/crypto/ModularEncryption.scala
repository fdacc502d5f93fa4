package graft.crypto

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.crypto.keytools.KmsClient
import org.apache.spark.sql.{DataFrame, DataFrameReader, DataFrameWriter, Row, SparkSession}

/** KmsClient for native Parquet Modular Encryption, backed by the same
  * graft master-key resolver as [[Kms]]. Parquet's
  * `PropertiesDrivenCryptoFactory` calls this to wrap/unwrap the
  * per-file key-encryption keys; wrap format is AES-GCM
  * `[12B IV][ct][16B tag]`, base64'd.
  *
  * This is the "production" form of the reference's envelope scheme
  * (/root/reference/src/kms.cpp): encryption happens INSIDE the parquet
  * writer (footer + column chunks), so there is no extra pass over the
  * data and encrypted columns keep parquet's compression + encoding.
  */
class GraftKmsClient extends KmsClient {
  override def initialize(configuration: Configuration, kmsInstanceID: String,
      kmsInstanceURL: String, accessToken: String): Unit = ()

  override def wrapKey(keyBytes: Array[Byte], masterKeyIdentifier: String): String =
    Base64.getEncoder.encodeToString(
      AesGcm.encrypt(GraftKmsClient.resolver.resolve(masterKeyIdentifier), keyBytes))

  override def unwrapKey(wrappedKey: String, masterKeyIdentifier: String): Array[Byte] =
    AesGcm.decrypt(GraftKmsClient.resolver.resolve(masterKeyIdentifier),
      Base64.getDecoder.decode(wrappedKey))
}

object GraftKmsClient {
  /** Master-key source for the modular-encryption path. A static slot
    * (not a constructor arg) because parquet-mr instantiates the client
    * reflectively from the class name in
    * `parquet.encryption.kms.client.class`; set it before write/read to
    * plug a vault/HSM-backed [[MasterKeyResolver]].
    */
  @volatile var resolver: MasterKeyResolver = DemoMasterKeyResolver
}

/** Spark plumbing for Parquet Modular Encryption: per-write/per-read
  * options (NOT global hadoop-conf mutation — Spark merges reader/writer
  * options into the per-query hadoop conf, so concurrent queries with
  * different key sets don't interfere).
  */
object ModularEncryption {
  val FactoryClass = "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory"

  /** @param columnKeys masterKeyId -> columns it encrypts
    * @param footerKeyId master key id for the footer
    */
  def options(columnKeys: Map[String, Seq[String]], footerKeyId: String): Map[String, String] = Map(
    "parquet.crypto.factory.class" -> FactoryClass,
    "parquet.encryption.kms.client.class" -> classOf[GraftKmsClient].getName,
    "parquet.encryption.column.keys" ->
      columnKeys.map { case (k, cols) => s"$k:${cols.mkString(",")}" }.mkString(";"),
    "parquet.encryption.footer.key" -> footerKeyId)

  def writeEncrypted(df: DataFrame, dir: String,
      columnKeys: Map[String, Seq[String]], footerKeyId: String): Unit =
    options(columnKeys, footerKeyId).foldLeft(df.write.mode("overwrite")) {
      case (w, (k, v)) => w.option(k, v)
    }.parquet(dir)

  def readEncrypted(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.parquet(spark, Seq(dir), Map(
      "parquet.crypto.factory.class" -> FactoryClass,
      "parquet.encryption.kms.client.class" -> classOf[GraftKmsClient].getName))
}

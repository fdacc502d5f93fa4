package graft.crypto

import java.nio.charset.StandardCharsets
import java.security.{MessageDigest, SecureRandom}
import java.util.Base64

/** Driver-side AES-GCM for key wrapping, manifests and store metadata
  * text: the calling thread's [[GcmKernel]], so these blobs share the
  * data path's wire layout and code. Failures keep the JDK's types
  * (`AEADBadTagException` for a wrong key or tampered blob, a
  * `GeneralSecurityException` in general), which the footer-tamper gate
  * and the store's metadata reader catch.
  *
  * This runs only on the driver and only over key/metadata material —
  * O(columns) work, never O(rows) — so it adds nothing to the
  * distributed data path at 100 TB.
  */
object AesGcm {
  private val Label = "driver"

  def encrypt(key: Array[Byte], plaintext: Array[Byte],
      aad: Array[Byte] = Array.empty): Array[Byte] =
    GcmKernel.local.get().encrypt(Label, key, plaintext, aad)

  def decrypt(key: Array[Byte], blob: Array[Byte],
      aad: Array[Byte] = Array.empty): Array[Byte] =
    GcmKernel.local.get().decrypt(Label, key, blob, aad)
}

/** Pluggable source of master-key bytes. Production deployments inject
  * an implementation backed by a real KMS/HSM/vault; the library ships
  * only [[DemoMasterKeyResolver]], a self-contained stand-in that is
  * explicitly NOT secure (keys are derivable from ids alone).
  */
trait MasterKeyResolver {
  /** Returns the 16/24/32-byte AES master key for `masterKeyId`. */
  def resolve(masterKeyId: String): Array[Byte]
}

/** DEMO ONLY — derives each master key deterministically from its id
  * (SHA-256 of "graft-master:" + id), so anyone holding the files can
  * re-derive every key. It exists to keep the library runnable with no
  * external key infrastructure (the reference's kms.cpp XOR wrap has the
  * same property, /root/reference/src/kms.cpp:8-31); real deployments
  * must inject their own [[MasterKeyResolver]] (see `CryptoConfig
  * (resolver = ...)`). 32 bytes → AES-256 for wrapping.
  */
object DemoMasterKeyResolver extends MasterKeyResolver {
  override def resolve(masterKeyId: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256")
      .digest(("graft-master:" + masterKeyId).getBytes(StandardCharsets.UTF_8))
}

/** Thrown (in the default strict mode) when a policy-configured column
  * cannot resolve a usable encryption key — the alternative, silently
  * writing that column in plaintext, is the reference's fail-open
  * behavior and is opt-in via `CryptoConfig(failOpen = true)`.
  */
final class KeyResolutionException(msg: String) extends RuntimeException(msg)

/** Envelope-encryption KMS with AWS-KMS-style data keys (semantics of
  * /root/reference/src/kms.cpp:8-31, re-done with real AES-GCM key wrap
  * instead of the reference's demo XOR).
  *
  * `generateDataKey` returns a fresh random data-encryption key (DEK)
  * in plaintext plus the same key wrapped under a named master key; the
  * plaintext DEK encrypts data and is then discarded, while only the
  * wrapped blob is persisted (in the file manifest). `decryptDataKey`
  * unwraps it on the read path. All entry points take a
  * [[MasterKeyResolver]] (defaulting to the demo one) — the wrap/unwrap
  * mechanics never depend on HOW master keys are sourced.
  */
object Kms {
  final case class DataKey(plaintext: Array[Byte], wrapped: Array[Byte], masterKeyId: String)

  private val rng = new SecureRandom()

  def masterKey(masterKeyId: String,
      resolver: MasterKeyResolver = DemoMasterKeyResolver): Array[Byte] =
    resolver.resolve(masterKeyId)

  def generateDataKey(masterKeyId: String, numBytes: Int = 16,
      resolver: MasterKeyResolver = DemoMasterKeyResolver): DataKey = {
    val dek = new Array[Byte](numBytes)
    rng.nextBytes(dek)
    DataKey(dek, AesGcm.encrypt(resolver.resolve(masterKeyId), dek), masterKeyId)
  }

  def decryptDataKey(wrapped: Array[Byte], masterKeyId: String,
      resolver: MasterKeyResolver = DemoMasterKeyResolver): Array[Byte] =
    AesGcm.decrypt(resolver.resolve(masterKeyId), wrapped)

  def wrapToBase64(dk: DataKey): String = Base64.getEncoder.encodeToString(dk.wrapped)
  def unwrapFromBase64(b64: String, masterKeyId: String,
      resolver: MasterKeyResolver = DemoMasterKeyResolver): Array[Byte] =
    decryptDataKey(Base64.getDecoder.decode(b64), masterKeyId, resolver)
}

/** How a single column's encryption key is sourced. */
final case class ColumnPolicy(
    column: String,
    /** explicit per-column key (UTF-8; must be 16/24/32 bytes) */
    explicitKey: Option[String] = None,
    /** generate a per-column DEK under this KMS master key */
    kmsMasterKeyId: Option[String] = None)

/** A key resolved through the fallback chain, tagged with how. */
final case class ResolvedKey(
    key: Array[Byte],
    /** "column-key" | "kms" | "fallback" | "plaintext" */
    mode: String,
    /** wrapped DEK (base64) + master id, persisted when mode == "kms" */
    wrappedDek: Option[String],
    masterKeyId: Option[String])

/** Encryption config for a write: which columns, which keys, and the
  * master key protecting the manifest.
  *
  * Key-resolution chain (reference /root/reference/src/parquet_writer.cpp:78-135):
  * explicit column key → KMS-generated data key → fallback key →
  * then, STRICT by default, a [[KeyResolutionException]] — a typo'd key
  * must not silently write a policy-configured column in cleartext.
  * The reference's fail-open plaintext-with-warning tail of the chain is
  * preserved behind `failOpen = true`. Invalid-length explicit keys fall
  * through to the next link rather than failing the write (reference
  * semantics) in both modes.
  *
  * @param failOpen reference-parity mode: degrade to plaintext with a
  *                 stderr warning instead of failing the write
  * @param resolver master-key source for KMS links and the manifest;
  *                 inject a vault/HSM-backed implementation in
  *                 production (default is the NOT-secure demo resolver)
  */
final case class CryptoConfig(
    masterKeyId: String,
    columns: Seq[ColumnPolicy],
    fallbackKey: Option[String] = None,
    failOpen: Boolean = false,
    resolver: MasterKeyResolver = DemoMasterKeyResolver) {

  private def validKeyBytes(k: String): Option[Array[Byte]] = {
    val b = k.getBytes(StandardCharsets.UTF_8)
    if (b.length == 16 || b.length == 24 || b.length == 32) Some(b) else None
  }

  def resolveKeyForWrite(p: ColumnPolicy): ResolvedKey =
    p.explicitKey.flatMap(validKeyBytes).map(ResolvedKey(_, "column-key", None, None))
      .orElse(p.kmsMasterKeyId.map { mid =>
        val dk = Kms.generateDataKey(mid, resolver = resolver)
        ResolvedKey(dk.plaintext, "kms", Some(Kms.wrapToBase64(dk)), Some(mid))
      })
      .orElse(fallbackKey.flatMap(validKeyBytes).map(ResolvedKey(_, "fallback", None, None)))
      .getOrElse {
        if (failOpen) ResolvedKey(Array.empty, "plaintext", None, None)
        else throw new KeyResolutionException(
          s"no usable key for policy-configured column '${p.column}' " +
            "(explicit key invalid/absent, no KMS master key, fallback invalid/absent). " +
            "Refusing to write it in plaintext; pass CryptoConfig(failOpen = true) " +
            "for the reference's plaintext-with-warning behavior.")
      }

  /** Re-resolve on the read path from persisted manifest metadata. */
  def resolveKeyForRead(col: String, mode: String, wrappedDek: Option[String],
      masterKeyId: Option[String]): Array[Byte] = mode match {
    case "column-key" =>
      columns.find(_.column == col).flatMap(_.explicitKey).flatMap(validKeyBytes)
        .getOrElse(throw new IllegalArgumentException(
          s"no valid explicit key supplied for column $col"))
    case "kms" =>
      Kms.unwrapFromBase64(
        wrappedDek.getOrElse(throw new IllegalStateException(s"missing wrapped DEK for $col")),
        masterKeyId.getOrElse(throw new IllegalStateException(s"missing master key id for $col")),
        resolver)
    case "fallback" =>
      fallbackKey.flatMap(validKeyBytes).getOrElse(
        throw new IllegalArgumentException(s"no valid fallback key for column $col"))
    case _ => Array.empty
  }
}

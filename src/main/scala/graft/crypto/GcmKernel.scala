package graft.crypto

import java.security.{GeneralSecurityException, InvalidKeyException, SecureRandom}
import javax.crypto.{AEADBadTagException, Cipher}
import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{BinaryType, DataType}

/** The one AES-GCM kernel: every value graft encrypts — data columns,
  * tenant columns, wrapped keys, manifests, store metadata — goes
  * through an instance of this class, and this file is the only place
  * that builds a `Cipher`.
  *
  * Wire layout, per value: `[12B IV][ciphertext][16B tag]` (28 bytes
  * of overhead), the reference writer's layout
  * (`parquet_writer.cpp:137-170`) and byte-for-byte the layout of
  * Spark's `aes_encrypt(x, key, 'GCM')`, so either side
  * opens the other's ciphertexts. Optional AAD is mixed into the tag
  * and not stored.
  *
  * Why a kernel and not Spark's builtins: the builtins build a fresh
  * `SecretKeySpec` and `Cipher` and run a full `init` for EVERY value,
  * which costs more than the AES itself on short values. An instance
  * here keeps one `Cipher` and re-inits it per value; the JDK keeps
  * the AES key schedule while the key bytes repeat, and the
  * `SecretKeySpec` is rebuilt only when the key changes. Instances are
  * not thread-safe: generated code holds one per task (a mutable state
  * of the generated class), interpreted eval and the driver use one per
  * thread ([[GcmKernel.local]]).
  *
  * IVs: every value gets 12 fresh bytes from this instance's own
  * `SecureRandom` (DRBG), drawn 256 IVs at a time so the generator's
  * per-call cost is paid once per block — each IV is still used once
  * and never derived from a counter. A per-instance generator also
  * keeps tasks off the lock of the JVM-wide one.
  *
  * Failures: a wrong key or a tampered, truncated or moved (AAD
  * mismatch) ciphertext throws `AEADBadTagException`; a key of the wrong
  * length throws `InvalidKeyException` naming the key's label, never its
  * bytes. Both are `GeneralSecurityException`s, the type the try
  * variant turns into NULL.
  */
final class GcmKernel {
  import GcmKernel._

  private val cipher = Cipher.getInstance("AES/GCM/NoPadding")
  private val rng = SecureRandom.getInstance("DRBG")
  private val ivPool = new Array[Byte](IvLen * PoolIvs)
  private var ivPos = ivPool.length
  private var lastKey: Array[Byte] = _
  private var keySpec: SecretKeySpec = _

  private def spec(label: String, key: Array[Byte]): SecretKeySpec = {
    if (lastKey == null || !java.util.Arrays.equals(key, lastKey)) {
      if (key.length != 16 && key.length != 24 && key.length != 32)
        throw new InvalidKeyException(
          s"AES key '$label' is ${key.length} bytes; AES-GCM needs 16, 24 or 32")
      keySpec = new SecretKeySpec(key, "AES")
      lastKey = key.clone()
    }
    keySpec
  }

  /** `[IV][ct][tag]` of `plaintext` under `key`, with `aad` (empty =
    * none) bound into the tag. */
  def encrypt(label: String, key: Array[Byte], plaintext: Array[Byte],
      aad: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](IvLen + plaintext.length + TagLen)
    if (ivPos == ivPool.length) { rng.nextBytes(ivPool); ivPos = 0 }
    System.arraycopy(ivPool, ivPos, out, 0, IvLen)
    ivPos += IvLen
    cipher.init(Cipher.ENCRYPT_MODE, spec(label, key), new GCMParameterSpec(TagBits, out, 0, IvLen))
    if (aad.length > 0) cipher.updateAAD(aad)
    cipher.doFinal(plaintext, 0, plaintext.length, out, IvLen)
    out
  }

  /** Plaintext of a `[IV][ct][tag]` blob; throws on a wrong key, a
    * tampered or truncated blob, or an `aad` other than the one it was
    * encrypted under. */
  def decrypt(label: String, key: Array[Byte], blob: Array[Byte],
      aad: Array[Byte]): Array[Byte] = {
    val ks = spec(label, key)
    if (blob.length < IvLen + TagLen)
      throw new AEADBadTagException(s"AES-GCM value under '$label' is ${blob.length} bytes, " +
        s"shorter than its ${IvLen + TagLen}-byte IV and tag")
    cipher.init(Cipher.DECRYPT_MODE, ks, new GCMParameterSpec(TagBits, blob, 0, IvLen))
    if (aad.length > 0) cipher.updateAAD(aad)
    cipher.doFinal(blob, IvLen, blob.length - IvLen)
  }

  /** [[decrypt]], with NULL for any `GeneralSecurityException`. */
  def tryDecrypt(label: String, key: Array[Byte], blob: Array[Byte],
      aad: Array[Byte]): Array[Byte] =
    try decrypt(label, key, blob, aad)
    catch { case _: GeneralSecurityException => null }
}

object GcmKernel {
  val IvLen = 12
  val TagLen = 16
  private val TagBits = TagLen * 8
  /** IVs drawn per call to the generator. */
  private val PoolIvs = 256

  /** One kernel per thread: interpreted eval (Expression instances are
    * shared across a stage's tasks) and driver-side [[AesGcm]]. */
  val local: ThreadLocal[GcmKernel] = ThreadLocal.withInitial(() => new GcmKernel)

  private val NoAad = Literal(Array.emptyByteArray, BinaryType)

  /** Encrypt `plaintext` (string or binary) under `key`; `aad`, when
    * given, must be presented again to decrypt. */
  def encrypt(plaintext: Column, key: Column, aad: Option[Column] = None): Column =
    graftshim.column(GcmEncrypt(graftshim.expression(plaintext),
      graftshim.expression(key), aad.fold[Expression](NoAad)(graftshim.expression)))

  /** Decrypt to BINARY; a bad tag fails the task. */
  def decrypt(blob: Column, key: Column, aad: Option[Column] = None): Column =
    decryptExpr(blob, key, aad, failOnError = true)

  /** Decrypt to BINARY; a bad tag (or key) gives NULL. */
  def tryDecrypt(blob: Column, key: Column, aad: Option[Column] = None): Column =
    decryptExpr(blob, key, aad, failOnError = false)

  private def decryptExpr(blob: Column, key: Column, aad: Option[Column],
      failOnError: Boolean): Column =
    graftshim.column(GcmDecrypt(graftshim.expression(blob), graftshim.expression(key),
      aad.fold[Expression](NoAad)(graftshim.expression), failOnError))

  private[crypto] def label(key: Expression): String = key match {
    case KeyHandle(l, _) => l
    case k => k.sql
  }

  /** Generated code: one kernel per instance of the generated class,
    * that is, per task; the key's label travels as a reference object. */
  private[crypto] def genCall(ctx: CodegenContext, key: Expression, method: String)
      : (String, String, String) => String = {
    val cls = classOf[GcmKernel].getName
    val kernel = ctx.addMutableState(cls, "gcmKernel", v => s"$v = new $cls();")
    val lbl = ctx.addReferenceObj("gcmKeyLabel", label(key), "java.lang.String")
    (in, k, aad) => s"$kernel.$method($lbl, $k, $in, $aad)"
  }
}

/** `aes_encrypt(input, key, 'GCM', 'DEFAULT', '', aad)` on the
  * [[GcmKernel]]: null in, null out. Deterministic in the plan, as
  * Spark's builtin is, although each call draws a fresh IV. */
case class GcmEncrypt(input: Expression, key: Expression, aad: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression = input
  override def second: Expression = key
  override def third: Expression = aad
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_gcm_encrypt"

  @transient private lazy val keyLabel = GcmKernel.label(key)

  override protected def nullSafeEval(in: Any, k: Any, a: Any): Any =
    GcmKernel.local.get().encrypt(keyLabel, k.asInstanceOf[Array[Byte]],
      in.asInstanceOf[Array[Byte]], a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = GcmKernel.genCall(ctx, key, "encrypt")
    nullSafeCodeGen(ctx, ev, (in, k, a) => s"${ev.value} = ${call(in, k, a)};")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): GcmEncrypt =
    copy(input = newFirst, key = newSecond, aad = newThird)
}

/** `aes_decrypt(input, key, 'GCM', 'DEFAULT', aad)` (or, with
  * `failOnError = false`, `try_aes_decrypt`) on the [[GcmKernel]]. */
case class GcmDecrypt(input: Expression, key: Expression, aad: Expression,
    failOnError: Boolean) extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression = input
  override def second: Expression = key
  override def third: Expression = aad
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = !failOnError || super.nullable
  override def prettyName: String =
    if (failOnError) "graft_gcm_decrypt" else "graft_gcm_try_decrypt"
  override protected def flatArguments: Iterator[Any] = Iterator(input, key, aad)

  @transient private lazy val keyLabel = GcmKernel.label(key)

  override protected def nullSafeEval(in: Any, k: Any, a: Any): Any = {
    val kernel = GcmKernel.local.get()
    if (failOnError) kernel.decrypt(keyLabel, k.asInstanceOf[Array[Byte]],
      in.asInstanceOf[Array[Byte]], a.asInstanceOf[Array[Byte]])
    else kernel.tryDecrypt(keyLabel, k.asInstanceOf[Array[Byte]],
      in.asInstanceOf[Array[Byte]], a.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = GcmKernel.genCall(ctx, key, if (failOnError) "decrypt" else "tryDecrypt")
    nullSafeCodeGen(ctx, ev, (in, k, a) =>
      if (failOnError) s"${ev.value} = ${call(in, k, a)};"
      else s"${ev.value} = ${call(in, k, a)};\n${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): GcmDecrypt =
    copy(input = newFirst, key = newSecond, aad = newThird)
}

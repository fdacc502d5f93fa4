package graft.crypto

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level AES-GCM encrypt/decrypt as Catalyst expressions.
  *
  * Re-expression of the reference's per-column encryption loop
  * (/root/reference/src/parquet_writer.cpp:137-170 and
  * parquet_reader.cpp:96-150) on graft's own codegen'd [[GcmKernel]]:
  * each value becomes `[12B IV][ct][16B tag]` — the same wire layout —
  * but the work is a narrow per-row map that rides inside
  * WholeStageCodegen with one `Cipher` per task, introduces no shuffle,
  * and scales embarrassingly parallel to any number of executors.
  *
  * Keys enter the plan as [[KeyHandle]] nodes, never `lit(key)`: a key
  * literal would be rendered verbatim by `explain()`, the Spark UI SQL
  * tab, and event logs. Plan strings show only `graft_key(column:<name>)`.
  */
object ColumnCrypto {

  private def keyCol(name: String, key: Array[Byte]) =
    KeyHandle.column(s"column:$name", key)

  /** Encrypt `cols` in place (cast to string first so any input type
    * round-trips losslessly through ciphertext). Output type: BINARY.
    */
  def encryptColumns(df: DataFrame, keys: Map[String, Array[Byte]]): DataFrame =
    keys.foldLeft(df) { case (acc, (name, key)) =>
      acc.withColumn(name, GcmKernel.encrypt(col(name).cast("string"), keyCol(name, key)))
    }

  /** Parquet writer options for the ciphertext columns `cols`: GCM
    * output is unique and random, so a dictionary never pays, and
    * building one until the writer gives up costs about as much as the
    * encryption itself. */
  def writerOptions(cols: Iterable[String]): Map[String, String] =
    cols.map(c => s"parquet.enable.dictionary#$c" -> "false").toMap

  /** Decrypt one BINARY ciphertext column under `name`'s key, to STRING. */
  def decrypt(c: Column, name: String, key: Array[Byte]): Column =
    GcmKernel.decrypt(c, keyCol(name, key)).cast("string")

  /** Decrypt BINARY ciphertext columns back to STRING (caller restores
    * the original type from the manifest). */
  def decryptColumns(df: DataFrame, keys: Map[String, Array[Byte]]): DataFrame =
    keys.foldLeft(df) { case (acc, (name, key)) =>
      acc.withColumn(name, decrypt(col(name), name, key))
    }

  /** Decrypt that yields NULL (instead of failing the task) on a bad
    * key or corrupted ciphertext — the distributed-friendly failure
    * mode for exploratory reads. */
  def tryDecryptColumns(df: DataFrame, keys: Map[String, Array[Byte]]): DataFrame =
    keys.foldLeft(df) { case (acc, (name, key)) =>
      acc.withColumn(name, GcmKernel.tryDecrypt(col(name), keyCol(name, key)).cast("string"))
    }

  // -- AAD row binding ------------------------------------------------------
  // Plain per-column encryption leaves a SUBSTITUTION hole: an attacker
  // with file write access (but no key) can swap two rows' ciphertexts
  // — alice gets bob's salary — and decryption still succeeds, because
  // nothing ties a ciphertext to ITS row. GCM's additional
  // authenticated data closes it: the row's identity (primary key) is
  // mixed into the auth tag, so a ciphertext decrypts ONLY against the
  // row it was written for; a swapped value fails authentication. Zero
  // storage overhead (AAD is not stored), same codegen'd per-row map.

  /** Encrypt `c` with the per-row `aad` (e.g. the primary key) bound
    * into the GCM auth tag. */
  def encryptBound(c: Column, name: String, key: Array[Byte], aad: Column): Column =
    GcmKernel.encrypt(c.cast("string"), keyCol(name, key), Some(aad.cast("string")))

  /** Decrypt a row-bound ciphertext; fails the task if `aad` does not
    * match what the value was encrypted under. */
  def decryptBound(c: Column, name: String, key: Array[Byte], aad: Column): Column =
    GcmKernel.decrypt(c, keyCol(name, key), Some(aad.cast("string"))).cast("string")

  /** NULL-on-mismatch variant — the audit-scan mode: NULLs mark rows
    * whose ciphertext was moved or tampered with. */
  def tryDecryptBound(c: Column, name: String, key: Array[Byte], aad: Column): Column =
    GcmKernel.tryDecrypt(c, keyCol(name, key), Some(aad.cast("string"))).cast("string")
}

/** Column masking (reference README "Future Improvements" row —
  * SURVEY.md §2.1 #12). All masks are deterministic codegen'd
  * expressions, so masked columns stay joinable/groupable at scale.
  */
object Masking {
  /** Full redaction. */
  def redact: Column = lit("***")

  /** Deterministic one-way mask: SHA-256 hex. Preserves equality
    * (joins/dedup on masked values still work) without exposing data. */
  def hashMask(c: Column): Column = sha2(c.cast("string"), 256)

  /** Keep the last `keep` chars, star the rest (card-number style). */
  def partialMask(c: Column, keep: Int = 4): Column = {
    val s = c.cast("string")
    concat(repeat(lit("*"), greatest(length(s) - keep, lit(0))),
      s.substr(greatest(length(s) - keep + 1, lit(1)), lit(keep)))
  }

  def maskColumns(df: DataFrame, masks: Map[String, Column => Column]): DataFrame =
    masks.foldLeft(df) { case (acc, (name, m)) =>
      acc.withColumn(name, m(org.apache.spark.sql.functions.col(name)))
    }
}

/** Role-based column access (reference README "role-based decryption"
  * row — SURVEY.md §2.1 #13): a role maps each column to an action;
  * `apply` enforces it as a projection, so it can back a SQL view
  * (`df.createOrReplaceTempView`) and enforcement is pure column
  * pruning — the parquet scan never reads denied columns.
  */
object Rbac {
  sealed trait Action
  case object Allow extends Action
  case object Deny extends Action
  final case class Mask(m: Column => Column) extends Action

  final case class Policy(roles: Map[String, Map[String, Action]]) {
    def apply(df: DataFrame, role: String): DataFrame = {
      val colActions = roles.getOrElse(role,
        throw new IllegalArgumentException(s"unknown role $role"))
      val projected = df.columns.toSeq.flatMap { name =>
        colActions.getOrElse(name, Deny) match {
          case Allow   => Some(org.apache.spark.sql.functions.col(name))
          case Mask(m) => Some(m(org.apache.spark.sql.functions.col(name)).as(name))
          case Deny    => None
        }
      }
      df.select(projected: _*)
    }
  }
}

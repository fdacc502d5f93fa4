package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.crypto._

/** The `enc_io` workload: column-level AES-GCM write, selective and full
  * decrypting reads, and page-level modular encryption of the same four
  * `lineitem` columns, next to a plain parquet write and read of the
  * same frame as the base.
  *
  * The frame is every 24th order of sf0.1 `lineitem` (about 25k of its
  * 600k rows), written once during set-up as a single parquet file, so
  * that a pass fits the benchmark's time budget. Like `lineitem` itself,
  * the input is one row group, read and written by one task.
  *
  * Every step's output is checked against aggregates of the plaintext
  * frame computed once during set-up.
  */
final class EncIo(spark: SparkSession, data: String, scratch: String,
    selected: String, wrongKey: Boolean) extends Workload {

  private val Cols = Seq("l_orderkey", "l_extendedprice", "l_returnflag", "l_shipdate")
  private val ExplicitKey = "0123456789abcdef"
  private val config = CryptoConfig("mk-a", Seq(
    ColumnPolicy("l_orderkey", kmsMasterKeyId = Some("mk-a")),
    ColumnPolicy("l_extendedprice", kmsMasterKeyId = Some("mk-a")),
    ColumnPolicy("l_returnflag", explicitKey = Some(ExplicitKey)),
    ColumnPolicy("l_shipdate", kmsMasterKeyId = Some("mk-b"))))
  /** The reader's config; a fault run hands it the wrong explicit key. */
  private val readConfig =
    if (!wrongKey) config
    else config.copy(columns = config.columns.map(p =>
      if (p.explicitKey.isDefined) p.copy(explicitKey = Some("fedcba9876543210")) else p))
  private val PmeKeys = Map(
    "mk-a" -> Seq("l_orderkey", "l_extendedprice"),
    "mk-r" -> Seq("l_returnflag"),
    "mk-b" -> Seq("l_shipdate"))

  private val inputDir = s"$scratch/input"
  private val plainDir = s"$scratch/plain"
  private val encDir = s"$scratch/enc"
  private val pmeDir = s"$scratch/pme"
  /** Repetitions of the O(columns) driver-side calls, timed as one op. */
  val ManifestReps = 20
  val UnwrapReps = 100

  private def frame(): DataFrame = spark.read.parquet(inputDir)

  /** One aggregate per encrypted column, rendered as a string so that
    * every column compares the same way. */
  private def colAgg(c: String): Column = c match {
    case "l_orderkey" => sum(col(c)).cast("string")
    case "l_extendedprice" => sum(col(c).cast(DecimalType(20, 4))).cast("string")
    case "l_returnflag" => sum(length(col(c))).cast("string")
    case "l_shipdate" => concat_ws("/", min(col(c)).cast("string"), max(col(c)).cast("string"))
  }

  private def aggs(df: DataFrame, cols: Seq[String]): Map[String, String] = {
    val r = df.agg(count(lit(1)).cast("string"), cols.map(colAgg): _*).head()
    (("count" +: cols).zipWithIndex.map { case (c, i) => c -> r.getString(i) }).toMap
  }

  private var expected: Map[String, String] = Map.empty
  private var expectedRows = 0L
  /** On-disk bytes of the last write of each layout. */
  val bytes = scala.collection.mutable.Map.empty[String, Long]

  def init(): Unit = {
    Tables.lineitem(spark, data).where(col("l_orderkey") % 24 === 0)
      .coalesce(1).write.parquet(inputDir)
    expected = aggs(frame(), Cols)
    expectedRows = expected("count").toLong
  }

  private def compare(got: Map[String, String]): Option[String] = {
    val bad = got.filter { case (k, v) => expected(k) != v }
    if (bad.isEmpty) None
    else Some(bad.map { case (k, v) => s"$k=$v expected ${expected(k)}" }.mkString("; "))
  }

  /** Data and manifest bytes; Hadoop's .crc side files are not data. */
  private def dirBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.length).sum

  private def parquetFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  private def tail4(f: java.io.File): String = {
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      val b = new Array[Byte](4)
      raf.seek(f.length - 4); raf.readFully(b)
      new String(b, "US-ASCII")
    } finally raf.close()
  }

  private def op(n: String)(call: => AnyRef)(check: AnyRef => Option[String]): Op =
    new Op {
      val name = n
      def run(): AnyRef = call
      def verify(r: AnyRef): Option[String] = check(r)
    }

  private val plainWrite = op("plain_write") {
    frame().write.mode("overwrite").parquet(plainDir); None
  } { _ =>
    bytes("plain") = dirBytes(plainDir)
    if (bytes("plain") > 0) None else Some("plain write left no data")
  }

  private val plainRead = op("plain_read")(spark.read.parquet(plainDir)) { df =>
    compare(aggs(df.asInstanceOf[DataFrame], Cols))
  }

  private val encWrite = op("enc_write")(EncryptedParquet.write(frame(), encDir, config)) { m =>
    bytes("enc") = dirBytes(encDir)
    val man = m.asInstanceOf[EncryptedParquet.Manifest]
    val modes = man.columns.map(c => c.name -> c.mode).toMap
    if (man.rowCount != expectedRows) Some(s"manifest row count ${man.rowCount}")
    else if (Cols.exists(c => !modes.get(c).exists(m => m == "kms" || m == "column-key")))
      Some(s"column modes $modes")
    else None
  }

  private val encReadSel = op("enc_read_sel")(EncryptedParquet.read(spark, encDir, Seq(selected), readConfig)) { r =>
    val df = r.asInstanceOf[DataFrame]
    val others = Cols.filterNot(_ == selected)
    val row = df.agg(count(lit(1)).cast("string"),
      colAgg(selected) +: others.map(c =>
        sum(when(col(c) =!= lit(EncryptedParquet.Placeholder), 1).otherwise(0))): _*).head()
    val leaked = others.zipWithIndex.filter { case (_, i) => row.getLong(i + 2) != 0 }
    if (leaked.nonEmpty) Some(s"unrequested columns not masked: ${leaked.map(_._1).mkString(",")}")
    else compare(Map("count" -> row.getString(0), selected -> row.getString(1)))
  }

  private val encReadAll = op("enc_read_all")(EncryptedParquet.readAll(spark, encDir, readConfig)) { df =>
    compare(aggs(df.asInstanceOf[DataFrame], Cols))
  }

  private val manifestRead = op("manifest_read") {
    (1 to ManifestReps).map(_ => EncryptedParquet.readManifest(spark, encDir, config.masterKeyId)).last
  } { m =>
    val n = m.asInstanceOf[EncryptedParquet.Manifest].rowCount
    if (n == expectedRows) None else Some(s"manifest row count $n")
  }

  /** Unwraps each KMS column key; the manifest is read in `prepare`,
    * outside the timed call. */
  private val kmsUnwrap = new Op {
    val name = "kms_unwrap"
    private var metas = Seq.empty[EncryptedParquet.ColumnMeta]
    override def prepare(): Unit =
      metas = EncryptedParquet.readManifest(spark, encDir, config.masterKeyId)
        .columns.filter(_.mode == "kms")
    def run(): AnyRef = (1 to UnwrapReps).flatMap(_ => metas.map(c =>
      Kms.unwrapFromBase64(c.wrappedDek.get, c.masterKeyId.get))).toVector
    def verify(r: AnyRef): Option[String] = {
      val keys = r.asInstanceOf[Vector[Array[Byte]]]
      if (metas.size == 3 && keys.forall(_.length == 16)) None
      else Some(s"unwrapped ${metas.size} column keys")
    }
  }

  private val pmeWrite = op("pme_write") {
    ModularEncryption.writeEncrypted(frame(), pmeDir, PmeKeys, "mk-a"); None
  } { _ =>
    bytes("pme") = dirBytes(pmeDir)
    val files = parquetFiles(pmeDir)
    val bad = files.filter(f => tail4(f) != "PARE")
    if (files.isEmpty) Some("no PME files")
    else if (bad.nonEmpty) Some(s"not PARE-terminated: ${bad.map(_.getName).mkString(",")}")
    else None
  }

  private val pmeRead = op("pme_read")(ModularEncryption.readEncrypted(spark, pmeDir)) { df =>
    compare(aggs(df.asInstanceOf[DataFrame], Cols))
  }

  /** Writes precede the reads of their layout; the seed orders the
    * three layouts and the steps that read the encrypted dataset. */
  def passOps(rng: Random): Seq[Op] = {
    val groups = rng.shuffle(Seq("plain", "enc", "pme"))
    val encReads = rng.shuffle(Seq("manifest_read", "kms_unwrap", "enc_read_sel", "enc_read_all"))
    groups.flatMap {
      case "plain" => Seq(plainWrite, plainRead)
      case "pme" => Seq(pmeWrite, pmeRead)
      case "enc" => encWrite +: encReads.map {
        case "manifest_read" => manifestRead
        case "kms_unwrap" => kmsUnwrap
        case "enc_read_sel" => encReadSel
        case "enc_read_all" => encReadAll
      }
    }
  }

  def report(): Map[String, Any] = bytes.toMap.map { case (k, v) => s"${k}_bytes" -> v } ++
    Map("selected" -> selected, "manifest_reps" -> ManifestReps,
      "unwrap_reps" -> UnwrapReps, "encrypted_values" -> expectedRows * Cols.size)
}

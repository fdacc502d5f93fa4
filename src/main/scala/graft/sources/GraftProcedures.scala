package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Maintenance

/** SQL-reachable maintenance (r16 verdict #7): the Spark 4 stored-
  * procedure contract (`ProcedureCatalog` + `CALL`), so the pure-SQL
  * persona the catalog serves no longer stops at maintenance —
  * Delta's `OPTIMIZE`/`VACUUM`/`RESTORE` shapes as:
  *
  * {{{
  * CALL graft.compact('store')                 -- fold dv lines
  * CALL graft.cluster('store', 'col[,col2]')   -- OPTIMIZE ZORDER
  * CALL graft.vacuum('store', horizon_epoch)   -- retention cleanup
  * CALL graft.restore('store', version)        -- rollback
  * CALL graft.migrate_dv_read_sets('store')    -- legacy-dv migration
  * }}}
  *
  * Each returns a one-row result set (the committed/resolved version
  * plus a procedure-specific column) through a driver-local scan —
  * the work itself is the same maintenance operator the Scala API
  * runs, so cost classes are identical. */
private[sources] object GraftProcedures {

  val Names: Seq[String] =
    Seq("binpack", "compact", "cluster", "vacuum", "restore",
      "migrate_dv_read_sets")

  private def one(schema: StructType, row: Seq[Any]): java.util.Iterator[Scan] = {
    val ir = InternalRow.fromSeq(row.map {
      case s: String => UTF8String.fromString(s)
      case x => x
    })
    java.util.List.of[Scan](new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = Array(ir)
    }).iterator()
  }

  private def p(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  /** One class per procedure: unbound == bound (parameters are fixed,
    * no overload resolution needed). */
  private abstract class Proc(pname: String, desc: String,
      params: Seq[ProcedureParameter]) extends UnboundProcedure with BoundProcedure {
    override def name(): String = pname
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
  }

  def load(base: String, name: String): UnboundProcedure = {
    def root(input: InternalRow): String = {
      val t = input.getUTF8String(0).toString
      val r = s"$base/$t"
      require(Maintenance.isStore(r),
        s"no graft store named $t under $base")
      r
    }
    def spark = SparkSession.active
    name match {
      case "compact" => new Proc("compact",
        "fold deletion vectors back into data files (keeps layout)",
        Seq(p("table", StringType))) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val r = root(input)
          val before = Maintenance.currentSnapshotVersion(r)
          val v = Maintenance.compactStore(spark, r)
          one(StructType(Seq(
            StructField("version", IntegerType, nullable = false),
            StructField("compacted", BooleanType, nullable = false))),
            Seq(v, v != before))
        }
      }
      case "cluster" => new Proc("cluster",
        "rewrite the store clustered (z-ordered) on the given columns",
        Seq(p("table", StringType), p("cluster_by", StringType))) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val r = root(input)
          val cols = input.getUTF8String(1).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          val v = Maintenance.clusterStore(spark, r, cols)
          one(StructType(Seq(
            StructField("version", IntegerType, nullable = false),
            StructField("n_groups", IntegerType, nullable = false))),
            Seq(v, Maintenance.manifestPaths(r, v)
              .count(l => !Maintenance.DvLine.is(l))))
        }
      }
      case "binpack" => new Proc("binpack",
        "merge small same-partition groups (streaming-ingest debt) into one group per value",
        Seq(p("table", StringType), p("small_rows", LongType))) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val r = root(input)
          val v = Maintenance.binPackStore(spark, r, input.getLong(1))
          one(StructType(Seq(
            StructField("version", IntegerType, nullable = false),
            StructField("n_groups", IntegerType, nullable = false))),
            Seq(v, Maintenance.manifestPaths(r, v)
              .count(l => !Maintenance.DvLine.is(l))))
        }
      }
      case "vacuum" => new Proc("vacuum",
        "physically delete files referenced only by versions older than horizon_epoch",
        Seq(p("table", StringType), p("horizon_epoch", LongType))) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val r = root(input)
          val deleted = Maintenance.vacuumExpired(r, input.getLong(1))
          one(StructType(Seq(
            StructField("n_deleted_groups", IntegerType, nullable = false))),
            Seq(deleted.size))
        }
      }
      case "restore" => new Proc("restore",
        "roll the store back to a prior version (new commit, history kept)",
        Seq(p("table", StringType), p("version", IntegerType))) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val r = root(input)
          val v = Maintenance.rollbackSnapshot(r, input.getInt(1))
          one(StructType(Seq(
            StructField("version", IntegerType, nullable = false))), Seq(v))
        }
      }
      case "migrate_dv_read_sets" => new Proc("migrate_dv_read_sets",
        "annotate legacy deletion-vector lines with read sets derived from their sidecars",
        Seq(p("table", StringType))) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val r = root(input)
          val v = Maintenance.migrateDvReadSets(spark, r)
          one(StructType(Seq(
            StructField("version", IntegerType, nullable = false))), Seq(v))
        }
      }
      case other => throw new RuntimeException(
        s"no such procedure: $other (have compact, cluster, vacuum, " +
          "restore, migrate_dv_read_sets)")
    }
  }
}

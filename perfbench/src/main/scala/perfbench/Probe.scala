package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** A fixed plain parquet write and read, run after every warm pass but
  * outside its timing. No change to the library moves it, so its time
  * gauges how fast the box itself is running while a run measures: when
  * `pass_s` and the probe move together, the box moved. */
final class Probe(spark: SparkSession, data: String, scratch: String) {
  private val inputDir = s"$scratch/probe_in"
  private val outDir = s"$scratch/probe_out"
  private var expected = ""

  private def agg(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(col("l_quantity").cast("decimal(20,2)"))).head()
    s"${r.getLong(0)}/${r.get(1)}"
  }

  def init(): Unit = {
    Tables.lineitem(spark, data).where(col("l_orderkey") % 24 === 0)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")
      .coalesce(1).write.parquet(inputDir)
    expected = agg(spark.read.parquet(inputDir))
  }

  val op: Op = new Op {
    val name = "probe"
    def run(): AnyRef = {
      spark.read.parquet(inputDir).write.mode("overwrite").parquet(outDir)
      spark.read.parquet(outDir)
    }
    def verify(r: AnyRef): Option[String] = {
      val got = agg(r.asInstanceOf[DataFrame])
      if (got == expected) None else Some(s"probe read $got, expected $expected")
    }
  }
}

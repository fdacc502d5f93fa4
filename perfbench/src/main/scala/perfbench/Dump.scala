package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.{GraftSession, SparkEntry}

/** Writes each listed key's result as parquet (one file per key) with
  * its digest and oracle SQL, for oracle_check.py to compare against
  * DuckDB before the digest is committed.
  *
  * Usage: perfbench.Dump <dataDir> <outDir> <key>...
  */
object Dump {
  def main(args: Array[String]): Unit = {
    val Array(data, out) = args.take(2)
    val keys = args.drop(2).toSeq
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.getOrCreate(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val digests = keys.map { k =>
      val df = SparkEntry.queries(k)(spark, data)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
      k -> Digest.of(df)
    }.toMap
    val oracle = SparkEntry.oracleSql.filter(kv => keys.contains(kv._1))
    val mapper = new ObjectMapper()
    mapper.writeValue(new java.io.File(s"$out/digests.json"), digests.asJava)
    mapper.writeValue(new java.io.File(s"$out/oracle_sql.json"), oracle.asJava)
    spark.stop()
  }
}

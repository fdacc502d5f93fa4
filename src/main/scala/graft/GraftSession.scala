package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's production defaults. Library
  * users call `GraftSession.builder(...)` or `getOrCreate(...)`; the
  * mains (Bench, Verify, RunOne) call `getOrCreate("local[n]", n)`, so
  * what they measure is the engine as shipped.
  *
  * Defaults and why they hold at cluster scale:
  *  - AQE on: runtime re-planning (skew-join splitting, dynamic
  *    coalescing, sort-merge→broadcast demotion) is the difference
  *    between a plan that survives 100 TB and one tuned to a sample;
  *  - shuffle.partitions sized to the caller's parallelism (the mains
  *    pass their local thread count); on a real cluster size it to
  *    ~2-3× total executor cores, or let AQE coalesce from a high
  *    initial value;
  *  - UTC session timezone: timestamp semantics must not depend on
  *    cluster locale (and the DuckDB oracle compares naive timestamps);
  *  - custom graft SQL functions registered (also available via
  *    `spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def getOrCreate(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    functions.GraftFunctions.register(s)
    if (!s.experimental.extraStrategies.contains(plans.AsofJoinStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ plans.AsofJoinStrategy
    s
  }
}

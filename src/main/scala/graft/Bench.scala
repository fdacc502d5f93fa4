package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every driver-contract query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Mirrors the driver's
  * local[32] run; a warmup action first so the first timed query
  * doesn't absorb session/codegen/parquet-footer init.
  *
  * Failures are first-class: a query that throws is recorded with its
  * elapsed time AND an `errors` entry + nonzero `n_errors`, so a crash
  * can never read as a fast success.
  */
object Bench {

  final case class QueryResult(name: String, times: Seq[Double], error: Option[String],
      cpuTimes: Seq[Double] = Nil, remeasured: Boolean = false) {
    /** Headline cost: min over the timed reps — on a shared box the min
      * is the best estimator of intrinsic cost (load spikes only add). */
    def seconds: Double = times.min
    def median: Double = {
      val s = times.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    /** Process-CPU cost of the cheapest rep: the load-insensitive
      * signal (another process hogging the box inflates wall time but
      * not THIS JVM's consumed CPU), so round-over-round comparisons
      * can separate plan regressions from box-load ghosts. */
    def cpuSeconds: Double = if (cpuTimes.isEmpty) -1.0 else cpuTimes.min
  }

  /** Whole-JVM CPU ns (driver + all local executor threads — local mode
    * is one process, so this IS the query's compute). −1 if the JVM
    * doesn't expose it. */
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }

  /** Time one query (count() forces full execution). Never throws.
    * All rep times are kept so the emitted artifact carries min AND
    * median per query; any failing rep fails the query. The kept times
    * are the SUCCESSFUL reps only (a rep that fails fast must not
    * report its crash time as the query's cost); if every rep failed,
    * all rep times are kept alongside the error. */
  def runOne(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, reps: Int = 1): QueryResult = {
    val runs = (1 to math.max(1, reps)).map { _ =>
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case t: Throwable =>
          Some(s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(200)}")
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val c1 = processCpuNs()
      val cpu = if (c0 < 0 || c1 < 0) -1.0 else (c1 - c0) / 1e9
      (wall, cpu, err)
    }
    val succeeded = runs.filter(_._3.isEmpty)
    val timed = if (succeeded.nonEmpty) succeeded else runs
    QueryResult(name, timed.map(_._1), runs.flatMap(_._3).headOption, timed.map(_._2))
  }

  def runAll(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      reps: Int = 1): Seq[QueryResult] =
    queries.toSeq.sortBy(_._1).map { case (name, fn) => runOne(spark, sfDir, name, fn, reps) }

  /** [[runAll]] plus an INTERLEAVED canary (r14 verdict "Next round"
    * #6): one probe run of a fixed cheap query before the first query,
    * after every `canaryEvery` queries, and after the last — so a
    * transient load spike DURING one segment of the run is visible as
    * a localized bump in the samples instead of averaging into one
    * global median (the r14 instrument's blind spot: its end-of-run
    * canary read identical medians across two runs whose middles
    * differed 3×). Returns the results in RUN ORDER plus
    * (query-index, probe-seconds) samples; each query's `lnorm` in the
    * artifact divides by the NEAREST sample. */
  def runAllWithCanary(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      reps: Int = 1, canaryEvery: Int = 30,
      probe: Option[(String, (SparkSession, String) => DataFrame)] = None)
      : (Seq[QueryResult], Seq[(Int, Double)]) = {
    val probePair = probe.orElse(
      queries.get(InterleaveProbe).map(InterleaveProbe -> _))
    val samples = Seq.newBuilder[(Int, Double)]
    def sample(i: Int): Unit = probePair.foreach { case (_, fn) =>
      samples += i -> runOne(spark, sfDir, "canary_probe", fn, reps = 1).seconds
    }
    val ordered = queries.toSeq.sortBy(_._1)
    val results = ordered.zipWithIndex.map { case ((name, fn), i) =>
      if (i % math.max(1, canaryEvery) == 0) sample(i)
      runOne(spark, sfDir, name, fn, reps)
    }
    sample(ordered.size)
    (results, samples.result())
  }

  /** The interleaved probe: a single-scan filter+agg that has been
    * plan-stable since r1 — cheap enough that ~11 extra runs cost
    * ~1 s of a 180 s bench. Membership is part of the contract. */
  val InterleaveProbe: String = "q6_filter_agg"

  /** Pinned canary set for cross-round normalization. Ten trivial,
    * plan-stable queries (single-scan aggs, one broadcast join, a
    * row-local text pass) whose intrinsic cost has been flat since r5;
    * the MEDIAN of their mins inside a run measures the BOX, not the
    * code. Every query's `norm` = min / canary-median is therefore a
    * box-drift-free signal: the r12→r13 adjudication (four untouched
    * queries "regressing" 1.2-1.5× because the driver box slowed) is
    * answered by one field instead of an A/B archaeology run.
    * Membership is part of the contract — changing it breaks
    * cross-round comparability, so it only grows, never reshuffles. */
  val CanaryQueries: Seq[String] = Seq(
    "q1_agg", "q6_filter_agg", "q_topk", "q_distinct", "q3_join_agg",
    "q_case_pivot", "q_setops", "q_rollup", "text_quality", "text_tokens")

  /** Median of the canary queries' min-times within `results`; -1 when
    * fewer than 5 canaries ran (subset runs — normalization undefined). */
  def canaryMedian(results: Seq[QueryResult]): Double = {
    val mins = results.filter(r => CanaryQueries.contains(r.name) && r.error.isEmpty)
      .map(_.seconds).sorted
    if (mins.size < 5) -1.0
    else if (mins.size % 2 == 1) mins(mins.size / 2)
    else (mins(mins.size / 2 - 1) + mins(mins.size / 2)) / 2
  }

  def toJson(results: Seq[QueryResult], sfDir: String,
      samples: Seq[(Int, Double)] = Nil): String = {
    // "queries" stays a flat name→seconds map (the driver parses it);
    // "stats" adds the per-query min/median/n so the committed artifact
    // carries the noise-control signal instead of leaving it in scratch logs
    val qs = results.map(r => s"${Json.quote(r.name)}:${r.seconds}").mkString("{", ",", "}")
    val cm = canaryMedian(results)
    def norm(r: QueryResult): Double =
      if (cm > 0) math.round(r.seconds / cm * 1e4) / 1e4 else -1.0
    // lnorm: min over the NEAREST interleaved canary sample — the
    // within-run-transient-aware twin of norm (r15)
    def lnorm(i: Int, r: QueryResult): Double =
      if (samples.isEmpty) -1.0
      else {
        val t = samples.minBy { case (si, _) => math.abs(si - i) }._2
        if (t > 0) math.round(r.seconds / t * 1e4) / 1e4 else -1.0
      }
    val stats = results.zipWithIndex.map { case (r, i) =>
      s"""${Json.quote(r.name)}:{"min":${r.seconds},"median":${r.median},""" +
        s""""cpu":${r.cpuSeconds},"n":${r.times.size},"norm":${norm(r)},""" +
        s""""lnorm":${lnorm(i, r)},"remeasured":${r.remeasured}}"""
    }.mkString("{", ",", "}")
    val errs = results.collect { case QueryResult(n, _, Some(e), _, _) =>
      s"${Json.quote(n)}:${Json.quote(e)}" }
      .mkString("{", ",", "}")
    val total = results.map(_.seconds).sum
    val sampleJson = samples.map { case (i, t) => s"[$i,$t]" }.mkString("[", ",", "]")
    val canary = s"""{"median_min":$cm,"n_present":${
      results.count(r => CanaryQueries.contains(r.name) && r.error.isEmpty)},""" +
      s""""queries":[${CanaryQueries.map(Json.quote).mkString(",")}],""" +
      s""""probe":${Json.quote(InterleaveProbe)},"samples":$sampleJson}"""
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"stats":$stats,""" +
      s""""canary":$canary,""" +
      s""""errors":$errs,"n_errors":${results.count(_.error.isDefined)},"sf":${Json.quote(sfDir)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.getOrCreate(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warmup: touch every table once (footer reads, codegen, JIT) via
    // the table-specific loaders — the generic load can't read events'
    // TIMESTAMP(NANOS) column and its caught failure spams the log
    Tables.names.foreach { t =>
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
                 else Tables.load(spark, sfDir, t)
        df.count()
      } catch { case _: Throwable => () }
    }
    // SPARK_GRAFT_BENCH_REPS=N → min-of-N per query (variance control on
    // shared machines). Default 3: two reps still let one load spike
    // through to the min (the r5 and r6 artifacts both needed cross-log
    // adjudication for exactly that); a third rep tightens the min at
    // ~1.5× the 2-rep wall time.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 → subset run for local iteration
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        // a typo'd name silently shrinking the run to zero queries
        // would print a plausible-looking success JSON
        System.err.println(
          s"[graft.bench] WARNING: unknown query names ignored: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.view.filterKeys(names).toMap)
    val canaryEvery = sys.env.getOrElse("SPARK_GRAFT_CANARY_EVERY", "30").toInt
    // warmup LAP before canary sample 0 (r16 verdict #10): the driver
    // artifact showed a cold-start window — first canary sample 0.777 s
    // vs 0.18 steady-state — polluting the early alphabetical keys'
    // min-of-n in cross-round comparisons. Three untimed probe runs
    // absorb session/codegen/shuffle-service init beyond the table
    // touch above, so sample 0 measures the box, not the JVM warmup.
    selected.get(InterleaveProbe).foreach { probeFn =>
      (1 to 3).foreach { _ =>
        try probeFn(spark, sfDir).count() catch { case _: Throwable => () }
      }
    }
    val (firstPass, samples) =
      runAllWithCanary(spark, sfDir, selected, reps, canaryEvery)
    // Self-healing remeasure (r15 verdict "Next round" #5): the r15
    // text_* "regression" was a transient box-load spike localized to
    // one alphabetical window, visible ONLY in the interleaved canary
    // samples and adjudicated by hand. Automate that adjudication:
    // any query whose NEAREST canary sample ran >=3x the run's median
    // sample executed under measurable external load — re-run it once
    // after the sweep (the spike has usually passed) and keep the min
    // across both passes, flagged `remeasured:true` in the artifact.
    val results = {
      val ts = samples.map(_._2).sorted
      if (ts.size < 3) firstPass
      else {
        val med = ts(ts.size / 2)
        def nearest(i: Int): Double =
          samples.minBy { case (si, _) => math.abs(si - i) }._2
        val suspects = firstPass.zipWithIndex.filter { case (r, i) =>
          r.error.isEmpty && ((med > 0 && nearest(i) >= 3 * med) ||
            // r16 verdict #10: canary spikes missed the r16 ghosts —
            // a load burst BETWEEN samples inflates one query's reps
            // without touching the canary. High rep variance (the
            // slowest rep ≥ 2.5× the fastest, on a non-trivial query)
            // is the within-query signal for the same interference;
            // the extra rep tightens the min either way.
            (r.times.size >= 3 && r.seconds > 0.3 &&
              r.times.max >= 2.5 * r.times.min))
        }.map(_._1.name).toSet
        if (suspects.isEmpty) firstPass
        else {
          System.err.println(s"[graft.bench] remeasuring ${suspects.size} " +
            s"queries that ran under a canary-visible load spike: " +
            suspects.toSeq.sorted.mkString(", "))
          firstPass.map { r =>
            if (!suspects.contains(r.name)) r
            else {
              val again = runOne(spark, sfDir, r.name, selected(r.name), reps = 1)
              if (again.error.isDefined) r
              else r.copy(times = r.times ++ again.times,
                cpuTimes = r.cpuTimes ++ again.cpuTimes, remeasured = true)
            }
          }
        }
      }
    }
    results.flatMap(r => r.error.map(e => r.name -> e)).foreach { case (n, e) =>
      System.err.println(s"[graft.bench] FAILED $n: $e")
    }
    val json = toJson(results, sfDir, samples)
    println(json)
    // the driver keeps only a truncated tail of stdout, which cut half
    // the per-query stats out of the r7/r8 artifacts — also persist the
    // whole JSON so every round's artifact parses standalone
    // (GRAFT_BENCH_OUT overrides; default sits next to the repo's other
    // bench artifacts)
    val outPath = sys.env.getOrElse("GRAFT_BENCH_OUT", "bench_last.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    catch { case t: Throwable =>
      System.err.println(s"[graft.bench] could not write $outPath: ${t.getMessage}")
    }
    // LAST stdout line: a compact digest that fits whole inside the
    // driver's 2000-char stdout tail (the full 160-query line can't),
    // so the committed driver artifact parses standalone: headline
    // total, error count, the 10 slowest queries with min/median, and
    // a pointer to the full per-query stats persisted above.
    val top = results.sortBy(-_.seconds).take(10).map(r =>
      f"""${Json.quote(r.name)}:{"min":${r.seconds}%.3f,"median":${r.median}%.3f,"cpu":${r.cpuSeconds}%.3f}""")
      .mkString("{", ",", "}")
    val cpuTotal = results.map(r => math.max(0.0, r.cpuSeconds)).sum
    println(s"""{"metric":"total","value":${f"${results.map(_.seconds).sum}%.3f"},""" +
      s""""unit":"sec","cpu_total":${f"$cpuTotal%.3f"},"n_queries":${results.size},""" +
      s""""n_errors":${results.count(_.error.isDefined)},""" +
      s""""canary_median":${canaryMedian(results)},"top":$top,""" +
      s""""detail":"full per-query stats in $outPath","sf":${Json.quote(sfDir)}}""")
    spark.stop()
  }
}

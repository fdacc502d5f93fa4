package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** One timed call into a layer. `run` is the call itself (with any eager
  * driver work it does); `verify` forces and checks what it returned.
  * Both are timed; `prepare` is not. */
trait Op {
  def name: String
  def prepare(): Unit = ()
  def run(): AnyRef
  /** None when the output is correct, else what was wrong. */
  def verify(result: AnyRef): Option[String]
}

trait Workload {
  /** Untimed set-up work that belongs to the workload (expected values). */
  def init(): Unit
  /** The operations of one pass, in the order the seed gives them. */
  def passOps(rng: Random): Seq[Op]
  /** Workload-specific facts for the result file. */
  def report(): Map[String, Any]
}

/** A workload of `SparkEntry.queries` keys, each checked against the row
  * digest recorded for it. */
final class QueryWorkload(spark: SparkSession, data: String, keys: Seq[String],
    expected: Map[String, String]) extends Workload {
  private val fns = SparkEntry.queries
  /** The digest each key produced in its last run. */
  val digests = mutable.LinkedHashMap.empty[String, String]
  private val ops = keys.map { k =>
    new Op {
      val name = k
      def run(): AnyRef = fns(k)(spark, data)
      def verify(r: AnyRef): Option[String] = {
        val d = Digest.of(r.asInstanceOf[DataFrame])
        digests(k) = d
        expected.get(k) match {
          case Some(e) if e == d => None
          case Some(e) => Some(s"digest $d, expected $e")
          case None => Some(s"no expected digest (got $d)")
        }
      }
    }
  }
  def init(): Unit = ()
  def passOps(rng: Random): Seq[Op] = rng.shuffle(ops)
  def report(): Map[String, Any] = Map("digests" -> digests.toMap)
}

final case class OpResult(name: String, wallS: Double, error: Option[String])
/** `ops` are the timed operations, plus a failed `staging_reuse` entry
  * when a warm pass built stage-once dirs again; `probe` is the drift
  * probe run after a warm pass, outside its timing. */
final case class PassResult(kind: String, traced: Boolean, wallS: Double, cpuS: Double,
    jitS: Double, gcS: Double, ops: Seq[OpResult], stagingNew: Int, stagingBytes: Long, probe: Option[OpResult])

/** Runs one benchmark process: set-up with two untimed warm-up passes,
  * warm passes until the measuring time is used, then one pass with the
  * staging root emptied. Reads its settings from a JSON file written
  * by run.py and writes its raw results to another; run.py turns them
  * into metrics.
  */
object Main {
  private val StagingBase = graft.Staging.Base
  private val WarmupPasses = 2
  /** Prefixes of the stage-once dirs the library publishes under the
    * staging root (per-query scratch output is not counted). The
    * library's own list, `Staging.Kinds`, is private to it and lacks
    * `cardstore_`, `gsnap_`, `gsrc_` and `txnsink_`. */
  private val StagedKinds = Seq("ann_", "annb_", "annr_", "lex_", "index_", "mm_",
    "pairs_", "epairs_", "nbrs_", "ssink_", "rbdata_", "mordata_", "srestart_", "hyb_",
    "cpdata_", "pidata_", "occdata_", "bpe_", "gsink_", "cardstore_", "gsnap_", "gsrc_",
    "txnsink_")

  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** JIT compiler and garbage collector time since JVM start. */
  private def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** Sum of the peak use of every heap memory pool since JVM start. */
  private def peakHeapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong / 1024.0
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  private def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else f.length

  private def emptyStaging(): Unit =
    Option(new java.io.File(StagingBase).listFiles()).toSeq.flatten.foreach(rmTree)

  private def stagingEntries(): Seq[String] =
    Option(new java.io.File(StagingBase).list()).toSeq.flatten

  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new java.io.File(args(0)))
    def str(k: String) = cfg.get(k).asText()
    val workloadName = str("workload")
    val seed = cfg.get("seed").asLong()
    val seconds = cfg.get("seconds").asDouble()
    val trace = cfg.get("trace").asBoolean()
    val data = str("data")
    val inject = str("inject")
    val t0Us = cfg.get("t0_us").asLong()
    val minWarm = cfg.get("min_warm").asInt()

    // The staging root is the benchmark's only while nobody else has put
    // anything there: a run that finds foreign or half-built dirs is
    // invalid and is not timed.
    val foreign = stagingEntries()
    if (foreign.nonEmpty) {
      System.err.println(s"[perfbench] INVALID: staging root $StagingBase holds dirs this " +
        s"run did not create: ${foreign.sorted.take(10).mkString(", ")}")
      sys.exit(3)
    }

    def phase(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() * 1000L - t0Us) / 1e6}%.2f s: $what")
    phase("JVM up")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.getOrCreate(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val tracer = new Tracer
    phase("session up")

    val rng0 = new Random(seed)
    val workload: Workload = workloadName match {
      case "enc_io" =>
        val cols = Seq("l_orderkey", "l_extendedprice", "l_returnflag", "l_shipdate")
        new EncIo(spark, data, str("scratch"), cols(rng0.nextInt(cols.size)),
          wrongKey = inject == "key")
      case _ =>
        val keys = cfg.get("ops").elements().asScala.map(_.asText()).toSeq
        val exp = cfg.get("expected").fields().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
        val corrupted =
          if (inject == "digest") exp.updated(keys.head, exp.getOrElse(keys.head, "") + "x")
          else exp
        new QueryWorkload(spark, data, keys, corrupted)
    }
    workload.init()
    val probe = new Probe(spark, data, str("scratch"))
    probe.init()
    phase("workload set up")

    def runOp(op: Op, passSpan: Long): OpResult = {
      op.prepare()
      val span = tracer.start(op.name, "op", passSpan)
      if (tracer.enabled) sc.setJobGroup(span.toString, op.name)
      val t0 = System.nanoTime()
      val error =
        try {
          val fnSpan = tracer.start(op.name, "fn", span)
          val r = op.run()
          tracer.end(fnSpan)
          val actSpan = tracer.start(op.name, "action", span)
          val e = op.verify(r)
          tracer.end(actSpan)
          e
        } catch {
          case t: Throwable =>
            Some(s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}")
        }
      val wall = (System.nanoTime() - t0) / 1e9
      if (tracer.enabled) sc.clearJobGroup()
      tracer.end(span, "ok" -> error.isEmpty)
      error.foreach(e => System.err.println(s"[perfbench] FAILED ${op.name}: $e"))
      OpResult(op.name, wall, error)
    }

    val passes = mutable.ArrayBuffer.empty[PassResult]
    def runPass(kind: String, traced: Boolean): PassResult = {
      if (traced != tracer.enabled) {
        if (traced) sc.addSparkListener(tracer.listener)
        else { PerfbenchBus.drain(sc); sc.removeSparkListener(tracer.listener) }
        tracer.enabled = traced
      }
      val ops = workload.passOps(new Random(seed * 1000003L + passes.size))
      val before = stagingEntries().toSet
      val span = tracer.start(s"pass${passes.size}", "pass", 0L)
      val c0 = cpuNs()
      val (jit0, gc0) = (jitMs(), gcMs())
      val t0 = System.nanoTime()
      val results = ops.map(runOp(_, span))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      val (jit, gc) = ((jitMs() - jit0) / 1e3, (gcMs() - gc0) / 1e3)
      val built = stagingEntries()
        .filter(n => !before.contains(n) && StagedKinds.exists(n.startsWith))
      val fresh = built.size
      val bytes = treeBytes(new java.io.File(StagingBase))
      tracer.end(span, "pass_kind" -> kind, "staging_new" -> fresh, "staging_bytes" -> bytes)
      // a warm pass must reuse what the warm-up staged: a rebuild is a
      // failed operation, not just a slower pass
      val reuse =
        if (kind == "warm" && fresh > 0) {
          val e = s"warm pass built $fresh stage-once dirs: ${built.sorted.mkString(", ")}"
          System.err.println(s"[perfbench] FAILED staging_reuse: $e")
          Seq(OpResult("staging_reuse", 0.0, Some(e)))
        } else Nil
      val probed = if (kind == "warm") Some(runOp(probe.op, 0L)) else None
      val p = PassResult(kind, traced, wall, cpu, jit, gc, results ++ reuse, fresh, bytes, probed)
      passes += p
      System.err.println(f"[perfbench] pass ${passes.size - 1} $kind%s traced=$traced " +
        f"wall=$wall%.3f s cpu=$cpu%.3f s jit=$jit%.3f s gc=$gc%.3f s failed=${results.count(_.error.isDefined)}")
      p
    }

    // Two untimed passes: the first runs every staging build in a cold JVM,
    // the second is the first to run the warm (staged) code paths.
    (1 to WarmupPasses).foreach(_ => runPass("warmup", traced = false))
    val readyUs = tracer.nowUs()
    phase("warm-up passes done")

    // Warm passes first, while the staging the warm-up built is in place;
    // the cold pass comes last, so JIT work left over from the warm-up
    // does not land in it. Traced runs alternate traced and untraced warm
    // passes, so the tracing overhead is measured inside one process.
    val measureStart = System.nanoTime()
    var warm = 0
    while (warm < minWarm || (System.nanoTime() - measureStart) / 1e9 < seconds) {
      if (inject == "restage" && warm == 0) emptyStaging()
      runPass("warm", traced = trace && warm % 2 == 0)
      warm += 1
    }
    // the staging root is ours (checked above), so the cold pass may empty it
    emptyStaging()
    runPass("cold", traced = trace)
    if (tracer.enabled) PerfbenchBus.drain(sc)

    val meta: Map[String, Any] = Map("workload" -> workloadName, "seed" -> seed,
      "cores" -> cores, "ready_us" -> readyUs,
      "passes" -> passes.map(p => Map("kind" -> p.kind, "traced" -> p.traced,
        "wall_s" -> p.wallS, "staging_new" -> p.stagingNew, "staging_bytes" -> p.stagingBytes)))
    if (trace) tracer.write(str("trace_out"), meta)

    val out = Map(
      "workload" -> workloadName,
      "cores" -> cores,
      "setup_s" -> (readyUs - t0Us) / 1e6,
      "peak_rss_mb" -> peakRssMb(),
      "peak_heap_mb" -> peakHeapMb(),
      "passes" -> passes.map(p => Map(
        "kind" -> p.kind, "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "jit_s" -> p.jitS, "gc_s" -> p.gcS,
        "staging_new" -> p.stagingNew, "staging_bytes" -> p.stagingBytes,
        "ops" -> p.ops.map(o => Map("name" -> o.name, "wall_s" -> o.wallS,
          "error" -> o.error.orNull)),
        "probe" -> p.probe.map(o => Map("wall_s" -> o.wallS, "error" -> o.error.orNull)).orNull)).toSeq,
      "report" -> workload.report())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(str("result_out")),
      new ObjectMapper().writeValueAsString(toJava(out)))
    spark.stop()
    // leave the staging root as this run found it: empty
    emptyStaging()
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }
}

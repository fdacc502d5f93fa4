package graft

import graft.operators.Similarity
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 hardening: the stored BM25 lexical index (stage once, query
  * many — the retrieval twin of the r9 ANN index), and the hybrid
  * query's broadcast/shuffle scale contract: no corpus-proportional
  * relation is ever broadcast (the r9 `broadcast(dl)` scale-killer),
  * and the exchange budget stays fixed.
  */
class Round10Spec extends AnyFunSuite {
  import TestSession._

  /** Full executed-plan traversal, descending into AQE stages and
    * reused exchanges. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case _                        => Nil
    }
    p +: (p.children ++ extra).flatMap(walk)
  }

  // ---- stored lexical index ------------------------------------------------

  test("lexical index: queries after staging run zero tokenize jobs") {
    Similarity.lexIndexRoot(spark, sf)
    val before = Similarity.lexStageRuns.get()
    assert(SparkEntry.queries("q_hybrid_rrf")(spark, sf).count() > 0)
    assert(Similarity.lexStageRuns.get() == before,
      "query path re-tokenized the corpus instead of reading the stored BM25 index")
    val (root, tfT, dfT) = Similarity.lexIndexRoot(spark, sf)
    for (part <- Seq("tf", "df", "stats"))
      assert(new java.io.File(s"$root/$part").exists(), s"missing index part $root/$part")
    // the postings and df tables are registered tok-bucketed — the
    // layout that lets scoring joins read them in place
    for (t <- Seq(tfT, dfT)) {
      val ddl = spark.sql(s"SHOW CREATE TABLE $t").head().getString(0)
      assert(ddl.contains("CLUSTERED BY (tok)"), s"$t not bucketed by tok:\n$ddl")
    }
  }

  test("lexical index: a fresh catalog re-registers the staged tables in place") {
    Similarity.lexIndexRoot(spark, sf) // ensure staged
    val (_, tfT, dfT) = Similarity.lexIndexRoot(spark, sf)
    spark.sql(s"DROP TABLE IF EXISTS $tfT")
    spark.sql(s"DROP TABLE IF EXISTS $dfT")
    val before = Similarity.lexStageRuns.get()
    assert(SparkEntry.queries("q_hybrid_rrf")(spark, sf).count() > 0,
      "hybrid query must survive a session whose catalog lost the staged tables")
    assert(Similarity.lexStageRuns.get() == before,
      "catalog re-registration must not re-tokenize the corpus")
  }

  // ---- hybrid broadcast scale contract ------------------------------------

  test("q_hybrid_rrf: no broadcast exchange carries a corpus-proportional relation") {
    // With the size-based thresholds disabled, every surviving
    // BroadcastExchange is one the query REQUESTED (hint) — exactly the
    // set that would still broadcast at 100× corpus, where nothing
    // passes a size threshold. Each must be query-proportional or
    // constant-bounded: stats (1 row), codebooks (<=256 cells), ADC
    // tables (2/query), never postings / doc-lengths / vocabulary.
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val df = SparkEntry.queries("q_hybrid_rrf")(spark, sf)
      assert(df.count() > 0)
      val broadcasts = walk(df.queryExecution.executedPlan).collect {
        case b: BroadcastExchangeExec => b
      }
      assert(broadcasts.nonEmpty, "expected the hinted bounded broadcasts to survive")
      val bound = 300L // 500-doc corpus: dl=500, postings~60k, vocab~5k all exceed it
      broadcasts.foreach { b =>
        val rows = b.metrics("numOutputRows").value
        assert(rows <= bound,
          s"corpus-proportional broadcast ($rows rows):\n${b.child.treeString.take(600)}")
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("raw-PQ index: queries after staging run zero training jobs") {
    Similarity.annRawRoot(spark, sf)
    val before = Similarity.annTrainRuns.get()
    assert(SparkEntry.queries("sim_ann_pq")(spark, sf).count() > 0)
    assert(Similarity.annTrainRuns.get() == before,
      "sim_ann_pq retrained the raw-PQ codebook instead of reading the stored index")
  }

  // ---- leakage-safe split --------------------------------------------------

  test("q_leakage_split: no near-dup pair straddles the split; fractions sane") {
    val split = SparkEntry.queries("q_leakage_split")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val corpus = Tables.documents(spark, sf).count()
    assert(split.size.toLong == corpus, "every doc must be assigned")
    // the structural guarantee: both ends of every verified near-dup
    // pair land in the same component, hence the same side
    val pairs = SparkEntry.queries("dedup_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus should contain near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(split(a)._1 == split(b)._1, s"pair ($a,$b) split across components")
      assert(split(a)._2 == split(b)._2, s"near-dup pair ($a,$b) leaks across the split")
    }
    val held = split.values.count(_._2 == "heldout").toDouble / split.size
    assert(held > 0.10 && held < 0.32, s"heldout fraction $held outside sane band")
  }

  // ---- ANN recall gauge + k-means report -----------------------------------

  test("q_ann_recall: every query reported, hits bounded by 3, recall consistent") {
    val rows = SparkEntry.queries("q_ann_recall")(spark, sf).collect()
    val nQueries = SparkEntry.queries("sim_bruteforce_topk")(spark, sf)
      .select("query_id").distinct().count()
    assert(rows.length.toLong == nQueries,
      "recall must be reported for every query, including zero-hit ones")
    rows.foreach { r =>
      val (nh, rec) = (r.getLong(1), r.getDouble(2))
      assert(nh >= 0 && nh <= 3, s"n_hit out of range: $r")
      assert(rec == nh / 3.0, s"recall3 must be exactly n_hit/3: $r")
    }
    // the router must beat uniform pruning (2/16 cells ≈ 0.125 chance)
    val mean = rows.map(_.getLong(1)).sum / (3.0 * rows.length)
    assert(mean > 0.125, s"mean recall $mean shows no lift over random probing")
  }

  test("q_embedding_outliers: flags are the far tail of their own cell") {
    val flagged = SparkEntry.queries("q_embedding_outliers")(spark, sf).collect()
    assert(flagged.nonEmpty, "screen should flag the far tail")
    val corpus = Tables.embeddings(spark, sf).count()
    assert(flagged.length < corpus / 10,
      s"an outlier screen flagging ${flagged.length}/$corpus is a filter, not a screen")
    // every flagged distance exceeds its cluster's mean inertia-per-doc
    val meanD2 = SparkEntry.queries("q_kmeans_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2) / r.getLong(1)).toMap
    flagged.foreach { r =>
      assert(r.getDouble(2) > meanD2(r.getLong(1)),
        s"flagged vector not above its cell mean: $r")
    }
  }

  test("q_kmeans_clusters: partition of the corpus with positive spread") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_kmeans_clusters")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 16, s"expected <=16 seeded cells, got ${rows.length}")
    val total = rows.map(_.getLong(1)).sum
    val corpus = Tables.embeddings(spark, sf).count()
    assert(total == corpus, s"cluster sizes must partition the corpus: $total != $corpus")
    assert(rows.forall(_.getDouble(2) >= 0.0), "inertia must be non-negative")
    assert(rows.map(_.getDouble(2)).sum > 0.0, "total inertia of a real corpus is positive")
  }

  // ---- staged-index retention ----------------------------------------------

  test("staging vacuum: dead index dirs are removed, live ones kept") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def writeEmb(dir: String, seed: Int): Unit =
      (0 until 300).map { i =>
        (i.toLong, (0 until 64).map(j => ((i * 31 + j * 7 + seed) % 13 - 6).toFloat).toArray, i % 3)
      }.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(wipe)); f.delete(); ()
    }
    // dataset A staged, then DELETED — its staged dir is dead
    val dirA = java.nio.file.Files.createTempDirectory("graft_r10vacA").toString
    writeEmb(dirA, seed = 1)
    val rootA = Similarity.annIndexRoot(spark, dirA)
    assert(new java.io.File(rootA, "staging_source.txt").exists(),
      "published index must record its source")
    wipe(new java.io.File(dirA))
    // dataset B regenerated IN PLACE between stagings — the restage
    // replaces the old version whole (publish swap), and the vacuum
    // that runs on the staging miss reaps A's orphan
    val dirB = java.nio.file.Files.createTempDirectory("graft_r10vacB").toString
    writeEmb(dirB, seed = 2)
    val rootB = Similarity.annIndexRoot(spark, dirB)
    writeEmb(dirB, seed = 3) // footer-sample fingerprint catches this without an mtime gap
    assert(Similarity.annIndexRoot(spark, dirB) == rootB)
    assert(!new java.io.File(rootA).exists(),
      "vacuum must remove the staged dir of a deleted dataset")
    assert(new java.io.File(rootB, "staging_format.txt").exists(),
      "the restaged live dir must be complete")
    // no half-built temp dirs left behind by the publish swap
    val leftovers = Option(new java.io.File(Staging.Base).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(".build_") &&
        System.currentTimeMillis - f.lastModified < 3600L * 1000)
    assert(leftovers.isEmpty,
      s"publish left temp build dirs: ${leftovers.map(_.getName).mkString(", ")}")
    wipe(new java.io.File(dirB))
  }

  /** `file: literal` for every main source but `owner` that contains
    * one of `lits`. */
  private def outside(owner: String, lits: Seq[String]): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val main = walk(new java.io.File("src/main/scala")).filter(_.getName.endsWith(".scala"))
    assert(main.exists(_.getName == owner), s"$owner not found under src/main/scala from the test's cwd")
    for {
      f <- main if f.getName != owner
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      lit <- lits if text.contains(lit)
    } yield s"${f.getPath}: $lit"
  }

  test("staging protocol lives only in core.scala (no hand-rolled stage-once blocks)") {
    val offenders = outside("core.scala", Seq("staging_format.txt", "/tmp/graft_q"))
    assert(offenders.isEmpty,
      s"use Staging.once/inPlace/scratch/Base instead of: ${offenders.mkString("; ")}")
  }

  test("checkpoint release lives only in core.scala (no hand-rolled block dropping)") {
    val offenders = outside("core.scala", Seq("LogicalRDD"))
    assert(offenders.isEmpty,
      s"iterate through Iterate.fixed/untilStable/eager instead of: ${offenders.mkString("; ")}")
  }

  test("store format lives only in Maintenance.scala (no hand-read manifests, logs or key files)") {
    val offenders = outside("Maintenance.scala", Seq("manifest_v", "mapping_v", "schema_v",
      "commits_ts", "store_key", "partition_cols.txt", "parquet_opts.txt", "zones_v1",
      "zones_col", "GRAFTENC1"))
    assert(offenders.isEmpty,
      s"go through the store-format functions in Maintenance instead of: ${offenders.mkString("; ")}")
  }

  test("zone stats live only in Maintenance.scala (one zone: renderer and parser)") {
    val offenders = outside("Maintenance.scala", Seq("\"zone:", "s\"zone:"))
    assert(offenders.isEmpty,
      s"render and parse zone lines through Maintenance.ZoneLine instead of: ${offenders.mkString("; ")}")
  }

  test("dv lines live only in Maintenance.scala (one dv: renderer and parser)") {
    val offenders = outside("Maintenance.scala", Seq("\"dv:", "s\"dv:"))
    assert(offenders.isEmpty,
      s"render and parse dv lines through Maintenance.DvLine instead of: ${offenders.mkString("; ")}")
  }

  test("AES-GCM lives only in GcmKernel.scala (no Spark aes builtins, no other Cipher)") {
    val offenders = outside("GcmKernel.scala",
      Seq("aes_encrypt", "aes_decrypt", "try_aes_decrypt", "Cipher.getInstance"))
    assert(offenders.isEmpty,
      s"encrypt and decrypt through GcmKernel instead of: ${offenders.mkString("; ")}")
  }

  test("parquet reads bind through Tables.parquet (no schema-inference job outside core.scala)") {
    // `.read` then any option calls then `.parquet(`, over code with the
    // comments stripped; `.readStream` chains pass their schema already
    val chain = """\.read\b(?:\s*\.\w+\((?:[^()]|\([^()]*\))*\))*\s*\.parquet\(""".r
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val main = walk(new java.io.File("src/main/scala")).filter(_.getName.endsWith(".scala"))
    assert(main.exists(_.getName == "core.scala"), "core.scala not found under src/main/scala")
    val offenders = for {
      f <- main if f.getName != "core.scala"
      code = comments.replaceAllIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"), "")
      m <- chain.findAllIn(code).toSeq
      // io_schema_evolution's merged read: every footer, on purpose
      if !(f.getName == "Maintenance.scala" && m.contains("\"mergeSchema\""))
    } yield s"${f.getPath}: $m"
    assert(offenders.isEmpty,
      s"bind parquet reads with Tables.parquet instead of: ${offenders.mkString("; ")}")
  }

  test("q_hybrid_rrf: exchange budget is fixed") {
    val df = SparkEntry.queries("q_hybrid_rrf")(spark, sf)
    df.count()
    val shuffles = walk(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e.id
    }.distinct
    // the inherent exchanges: qtoks window + qtoks-to-bucket-layout +
    // scoring groupBy + lex window on the lexical leg; probe/ADC
    // windows + rerank joins + dense window on the dense leg; fusion
    // join + final window + orderBy. Anything beyond this budget means
    // an index-side relation started moving again.
    assert(shuffles.size <= 16,
      s"q_hybrid_rrf shuffle budget exceeded: ${shuffles.size} exchanges")
  }
}

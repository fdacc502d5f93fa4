package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 hardening:
  *
  *  - the PERMANENT unpartitioned-window gate (r12 verdict #5): any
  *    contract query whose analyzed plan contains a Window with no
  *    partition spec must appear in the audited whitelist below with a
  *    bounded-frame justification — q_lorenz and q_id_gaps were green
  *    at sf0.1 but single-partition sorts over data-proportional frames
  *    at 100×; this closes the CLASS, not the instances;
  *  - q_id_gaps' range-partitioned lag must equal the brute-force
  *    global-window lag exactly (boundary stitching is the risky part);
  *  - staged-artifact discipline for the three r13 de-noisings: zero
  *    ANN training jobs on q_embedding_outliers / q_kmeans_clusters,
  *    zero hybrid-retrieval re-runs on a warm q_rerank_crossenc;
  *  - io_page_index: with ONE file and ONE row group, scan output rows
  *    must shrink only when the parquet column index is consulted —
  *    page-level skipping, the layer nothing above pages can explain;
  *  - text_gopher_rep: planted looping/templated docs trip exactly the
  *    rules built to catch them, with hand-computed per-doc math.
  */
class Round13Spec extends AnyFunSuite {
  import TestSession._

  // -- the unpartitioned-window class gate ------------------------------------

  /** Audited unpartitioned windows, keyed by the sorted order-column
    * signature (attribute names referenced by the orderSpec; "∅" for
    * partitionBy()-with-no-order global frames). Every entry is a frame
    * PROVABLY bounded by construction, not by the current data:
    *
    *  - vk_rk: valueKeyedCums' per-range subtotal offsets — ≤ 256 rows
    *    (SemiStructured.scala), used by rfm/gini/ks/equidepth/lorenz/…
    *  - ∅: the companion tot_<c> grand-total window over the same
    *    ≤ 256 subtotal rows, and one-row stats frames
    *  - decile: q_lorenz's cumulative-share walk — exactly 10 rows
    *  - bucket: histogram cum walks — fixed bucket count
    *  - week / day / hour / m / month_offset / period: calendar-bounded
    *    series (EWMA, Holt, growth, retention, seasonality, PoP)
    *  - x+k / cents+o_custkey-style top-K: windows over a
    *    localCheckpointed LIMIT-K frame (q_tail_index's 101 rows)
    *  - cell_id / rk: codebook-sized frames (≤ 256 cells)
    *
    * A NEW query that introduces an unpartitioned window over anything
    * else fails here until it is audited and either rewritten to the
    * value-keyed prefix shape or whitelisted with a boundedness proof.
    */
  private val auditedUnpartitioned: Map[String, Set[String]] = Map(
    // q_skyline's global staircase runs over the SURVIVORS of 32 local
    // staircases — skyline is closed under union, so the survivor set
    // is output-proportional (worst case = the skyline itself, an
    // output-size property, not a plan bug)
    "q_skyline" -> Set("act+bal"),
    // calendar-bounded series
    "q_survival" -> Set("t_hours"),
    "q_user_growth" -> Set("day_idx"),
    // top-K localCheckpointed frames (101 / 100 rows)
    "q_tail_index" -> Set("k+x"),
    "text_zipf" -> Set("t+tf"),
    // q_lorenz's cumulative-share walk: exactly 10 decile rows
    "q_lorenz" -> Set("decile", "vk_rk"),
    // grand totals over category-pair cells (enum × enum contingency
    // tables — bounded by the category cardinalities, not the data)
    "q_chi_square" -> Set("∅"),
    "q_mutual_info" -> Set("∅"),
    // global cum over the ≤ value-domain balance-band rows (the band
    // ladder is fixed by the attribute range, not the corpus)
    "q_t_closeness" -> Set("sens"),
    // r14 (verdict #4): the former blanket signatures, audited
    // per-query so a FUTURE query cannot ride an incidental column
    // name past the gate.
    //  - vk_rk: valueKeyedCums' offsets/grand-total pass — ordered
    //    full-frame windows over the ≤ 256 value-range SUBTOTAL rows,
    //    never the data (RobustStats.valueKeyedCums)
    "q_gini" -> Set("vk_rk"),
    "q_ks_test" -> Set("vk_rk"),
    "q_mann_whitney" -> Set("vk_rk"),
    "q_rfm" -> Set("vk_rk"),
    "q_time_split" -> Set("vk_rk"),
    "text_pack_sequences" -> Set("vk_rk"), // r15: packing's prefix sum
    //  - rk: the same coarse-range stitch over per-range (min, max)
    //    rows (≤ 256): equidepth's boundary walk, q_id_gaps' seam lag
    "q_equidepth_histogram" -> Set("rk"),
    "q_id_gaps" -> Set("rk"),
    //  - day / week: calendar-bounded series (O(days) after the
    //    per-day groupBy; a data-proportional column merely NAMED
    //    `day` elsewhere now fails the gate)
    "q_autocorr" -> Set("day"),
    "q_concurrency" -> Set("day"),
    "q_cusum" -> Set("day"),
    "q_period_over_period" -> Set("week")
  ).withDefaultValue(Set.empty)

  private def unpartitionedSigs(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    df.queryExecution.analyzed.collectWithSubqueries {
      case w: Window if w.partitionSpec.isEmpty =>
        val cols = w.orderSpec.flatMap(_.child.references.map(_.name))
          .distinct.sorted
        if (cols.isEmpty) "∅" else cols.mkString("+")
    }
  }

  test("unpartitioned-window gate: every global window is an audited bounded frame") {
    val batch = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("stream_"))
    val found = batch.flatMap { case (name, fn) =>
      unpartitionedSigs(fn(spark, sf)).map(sig => (name, sig))
    }.distinct
    // detector sanity: valueKeyedCums alone puts vk_rk windows in many
    // plans — an empty enumeration means the walk broke
    assert(found.size >= 5,
      s"unpartitioned-window detector found implausibly few: $found")
    println(s"[r14-window-gate] found: ${found.sorted.mkString(", ")}")
    // no blanket signatures (r14): every (query, global-window) pair
    // must be individually audited in auditedUnpartitioned
    val offenders = found.filterNot { case (q, sig) =>
      auditedUnpartitioned(q).contains(sig)
    }
    assert(offenders.isEmpty,
      "unaudited unpartitioned window(s) — rewrite to the value-keyed " +
        s"prefix shape or audit boundedness: $offenders")
  }

  // -- q_id_gaps: stitched lag == global lag -----------------------------------

  test("q_id_gaps: range-partitioned gap walk equals the brute-force global lag") {
    import spark.implicits._
    val got = SparkEntry.queries("q_id_gaps")(spark, sf).collect()
      .map(r => (r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // brute force: collect the distinct purchase ids and walk them
    // sorted on the driver (fine at sf0.001)
    val ks = Tables.events(spark, sf).filter($"event_type" === "purchase")
      .select($"event_id").distinct().collect().map(_.getLong(0)).sorted
    val gaps = ks.zip(ks.tail).collect {
      case (a, b) if b - a > 1 => (a + 1, b - 1, b - a - 1)
    }
    val want = gaps.sortBy(g => (-g._3, g._1)).take(5).toSeq
    assert(got == want, s"gap walk diverged: got=$got want=$want")
    val hdr = SparkEntry.queries("q_id_gaps")(spark, sf).collect().head
    assert(hdr.getLong(0) == ks.length.toLong)
    assert(hdr.getLong(3) == ks.last - ks.head + 1 - ks.length)
  }

  // -- q_lorenz: decile arithmetic --------------------------------------------

  test("q_lorenz: deciles partition all customers, cumulative share is monotone to 1") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_lorenz")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val nCust = Tables.orders(spark, sf).select($"o_custkey").distinct().count()
    assert(rows.map(_.getLong(1)).sum == nCust, "deciles must partition customers")
    val cums = rows.map(_.getLong(3))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
    assert(cums.last == 1000000L, "final cumulative share must be exactly 1e6 micro")
  }

  // -- staged-artifact discipline ----------------------------------------------

  test("embedding outliers / kmeans: zero training jobs after the ANN index is staged") {
    import graft.operators.Similarity
    Similarity.annIndexRoot(spark, sf) // ensure staged
    val before = Similarity.annTrainRuns.get()
    assert(SparkEntry.queries("q_embedding_outliers")(spark, sf).count() > 0)
    assert(SparkEntry.queries("q_kmeans_clusters")(spark, sf).count() > 0)
    assert(Similarity.annTrainRuns.get() == before,
      "an outlier/cluster query re-trained the coarse codebook")
  }

  test("q_rerank_crossenc: warm path runs zero hybrid retrieval rebuilds") {
    import graft.operators.Similarity
    Similarity.hybridFusedRoot(spark, sf) // ensure staged
    val before = Similarity.hybridBuildRuns.get()
    assert(SparkEntry.queries("q_rerank_crossenc")(spark, sf).count() > 0)
    assert(Similarity.hybridBuildRuns.get() == before,
      "a warm rerank call re-ran the hybrid retrieval pipeline")
  }

  // -- io_page_index -----------------------------------------------------------

  test("io_page_index: the column index alone shrinks the decoded rows") {
    import graft.operators.ScaleOps
    val data = s"${ScaleOps.pageIndexTable(spark, sf)}/data"
    val files = new java.io.File(data).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, "layout must be a single file")
    // the single-ROW-GROUP invariant is enforced, not assumed: the
    // writer pins parquet.block.size = 1 GiB, and this footer read
    // fails the gate the moment a second row group appears (which
    // would let row-group stats contaminate the index-off control)
    locally {
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(files.head.getAbsolutePath),
          spark.sessionState.newHadoopConf()))
      try assert(rdr.getFooter.getBlocks.size == 1,
        s"expected one row group, found ${rdr.getFooter.getBlocks.size}")
      finally rdr.close()
    }
    val total = spark.read.parquet(data).count()

    def scannedRows(ciEnabled: Boolean): Long = {
      val df = spark.read
        .option("parquet.filter.columnindex.enabled", ciEnabled.toString)
        .parquet(data)
        .filter(col("l_orderkey").between(1000L, 1200L))
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "no FileSourceScanExec in the plan")
      scans.map(_.metrics("numOutputRows").value).sum
    }

    val withIndex = scannedRows(ciEnabled = true)
    val withoutIndex = scannedRows(ciEnabled = false)
    // one file + one row group + in-group predicate ⇒ nothing above the
    // page layer can prune; the index-off control proves the reduction
    // is the column index, not row-group stats
    assert(withoutIndex == total,
      s"control broke: row groups pruned? scanned=$withoutIndex total=$total")
    assert(withIndex * 5 <= total,
      s"page skipping ineffective: scanned $withIndex of $total rows")
  }

  // -- text_gopher_rep -----------------------------------------------------------

  /** Crafted documents table staged under a temp sf-dir so the
    * driver-contract query fn reads it like testdata. */
  private def corpusDir(docs: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r13").toString
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("text_gopher_rep: planted repetition trips exactly the rules built for it") {
    // doc 1 LOOPS one 10-word line 6x: 6 lines, 1 distinct → dup 5/6
    // fails r1; the loop also makes every within-line tri/quad-gram
    // occur 6x (cov 54 and 72 of wchars 185 → fails r4, r5) while the
    // best bigram stays just under 20% (cov 36·100 = 3600 < 185·20):
    // exact integers make the near-miss deterministic.
    val line = (1 to 10).map(i => s"w$i").mkString(" ")
    val looping = Seq.fill(6)(line).mkString(" ")
    // doc 2 is TEMPLATED but line-diverse: "xy zq" dominates (20
    // occurrences, cov 100 of wchars 190 > 20% → fails r3) while the
    // interspersed unique words keep every 10-word line and every
    // tri-gram distinct — no other rule trips.
    val templated = (1 to 20).map(i => s"xy zq u$i").mkString(" ")
    // doc 3 is clean: 60 distinct words, every segment and n-gram unique.
    val clean = (1 to 60).map(i => s"uniq$i").mkString(" ")
    val d = corpusDir(Seq(
      (1L, looping, "en", "s1"), (2L, templated, "en", "s2"),
      (3L, clean, "en", "s3")))
    val rows = SparkEntry.queries("text_gopher_rep")(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    // r1 dup lines: only the looping doc fails (5/6 > 30%); mean over
    // 3 docs = (833333 + 0 + 0) / 3 = 277777 (floored per doc first)
    assert(rows("r1_dup_lines")._1 == 1L)
    assert(rows("r1_dup_lines")._2 == (5000000L / 6 + 0 + 0) / 3)
    // r2 dup paragraphs: the looping doc's two 50-word segments are
    // phase-shifted (50 words vs the 10-word tail) — distinct; nobody fails
    assert(rows("r2_dup_paragraphs")._1 == 0L)
    assert(rows("r3_top_2gram")._1 == 1L) // templated only
    assert(rows("r4_top_3gram")._1 == 1L) // looping only
    assert(rows("r5_top_4gram")._1 == 1L) // looping only
    // r6_any counts docs failing ANY rule: looping + templated
    assert(rows("r6_any")._1 == 2L)
  }

  // -- sim_mrl_recall ------------------------------------------------------------

  test("sim_mrl_recall: recall is monotone in prefix length and exact at full dim") {
    import graft.operators.Similarity
    val rows = SparkEntry.queries("sim_mrl_recall")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows.keySet == Set(8L, 16L, 32L))
    // each leg sees all queries and n_hit ≤ 3·queries
    for ((m, (nq, hit, rec)) <- rows) {
      assert(hit >= 0 && hit <= 3 * nq, s"m=$m hit=$hit nq=$nq")
      assert(math.abs(rec - hit.toDouble / (3 * nq)) < 1e-6) // rec rounds at 6
    }
    // NOTE: on matryoshka-TRAINED embeddings recall rises with m; these
    // synthetic vectors are random, so prefixes are arbitrary
    // projections and no monotonicity holds — the exactness check below
    // is the real gate: replay every leg brute-force on the driver
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double], m: Int): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < m) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def top3(m: Int): Map[Long, Set[Long]] =
      emb.filter(v => v._1 % 100 == 0 && v._1 < 500).map { case (q, qe) =>
        q -> emb.filter(_._1 != q)
          .map { case (nid, e) => (nid, cos(qe, e, m)) }
          .sortBy { case (nid, c) => (-c, nid) }.take(3).map(_._1).toSet
      }.toMap
    val gold = top3(64)
    for (m <- Seq(8, 16, 32)) {
      val hits = top3(m).map { case (q, s) => (s & gold(q)).size }.sum
      assert(rows(m.toLong)._2 == hits.toLong,
        s"m=$m n_hit ${rows(m.toLong)._2} != driver brute force $hits")
    }
  }

  // -- io_column_mapping ---------------------------------------------------------

  test("io_column_mapping: rename+drop is metadata-only and values are identical") {
    import graft.operators.Maintenance
    val (root, data) = Maintenance.columnMappingStore(spark, sf)
    // the commit wrote ONLY metadata text (mappings + the manifests the
    // DSv2 front door resolves) — no parquet under the store root; both
    // manifests pin the SAME shared base groups (rename/drop moves zero
    // data bytes)
    val wrote = new java.io.File(root).listFiles().map(_.getName).sorted
    assert(wrote.toSeq == Seq("manifest_v1.txt", "manifest_v2.txt",
      "mapping_v1.txt", "mapping_v2.txt"),
      s"column-mapping commit touched data: ${wrote.mkString(",")}")
    assert(graft.operators.Maintenance.manifestPaths(root, 1) ==
      graft.operators.Maintenance.manifestPaths(root, 2),
      "metadata-only commit must not change the data groups")
    val v2 = Maintenance.readMapped(spark, root, data, 2)
    assert(v2.columns.contains("price_usd") && !v2.columns.contains("o_totalprice"))
    assert(!v2.columns.contains("o_custkey"), "dropped column still visible")
    val out = SparkEntry.queries("io_column_mapping")(spark, sf).collect()
    val bySum = out.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(bySum(1L) == bySum(2L), "rename changed the aggregate value")
    assert(out.map(r => r.getLong(0) -> r.getLong(4)).toMap ==
      Map(1L -> 6L, 2L -> 5L))
  }

  test("io_column_mapping: readMapped serves an encrypted store like the DSv2 read") {
    import graft.operators.Maintenance
    val (root, data) = Maintenance.columnMappingStore(spark, sf)
    Maintenance.enableStoreEncryption(root, "r13-cm-mk")
    val mapped = Maintenance.readMapped(spark, root, data, 2)
    val dsv2 = spark.read.format("graft").option("versionAsOf", 2).load(root)
    assert(mapped.columns.toSeq == dsv2.columns.toSeq)
    def total(df: DataFrame): Double =
      df.agg(OracleMath.dsum(col("price_usd"))).collect()(0).getDouble(0)
    assert(total(mapped) == total(dsv2), "mapped read disagrees with the DSv2 read")
    // the nearest mapping <= v serves a version with no entry of its own
    assert(Maintenance.readMapped(spark, root, data, 3).columns.toSeq == mapped.columns.toSeq)
  }

  // -- q_holt_winters --------------------------------------------------------------

  test("q_holt_winters: zero seasonal init makes the first week exactly Holt, then diverges") {
    val hw = SparkEntry.queries("q_holt_winters")(spark, sf).collect()
    val h = SparkEntry.queries("q_holt_trend")(spark, sf).collect()
    assert(hw.length == h.length && hw.length > 9)
    // seasonal register holds its zero init through step 8 (s_1 = 0 is
    // consumed at step 8), so level/trend match Holt bit-for-bit there
    for ((a, b) <- hw.take(8).zip(h.take(8))) {
      assert(a.getDate(0) == b.getDate(0))
      assert(a.getLong(2) == b.getLong(2) && a.getLong(3) == b.getLong(3),
        s"first-period divergence: $a vs $b")
    }
    // once real seasonals circulate the models must part ways
    assert(hw.drop(8).zip(h.drop(8)).exists { case (a, b) =>
      a.getLong(2) != b.getLong(2) }, "seasonal term never engaged")
    // the forecast column is the published identity l + b + s_next
    assert(hw.forall(r => r.getLong(4) != Long.MinValue))
  }

  // -- q_rouge_pairs -------------------------------------------------------------

  test("q_rouge_pairs: doubled document scores exact multiplicity-aware ROUGE") {
    // B = A ++ A: 3-gram Jaccard(A,B) = 8/10 = 0.8 → a verified pair;
    // ROUGE-1: ov = Σ min(1,2) = 10, R = 10/10, P = 10/20, F = 20/30;
    // ROUGE-2: A has 9 bigrams ×1, B 19 (9 doubled + the seam) → ov 9,
    // R = 1, P = 9/19, F = 18/28. Set-based overlap would read 10/20
    // as perfect — the multiplicity is the point.
    val a = (1 to 10).map(i => s"tok$i").mkString(" ")
    val b = a + " " + a
    val d = corpusDir(Seq((1L, a, "en", "s1"), (2L, b, "en", "s1"),
      (3L, (1 to 30).map(i => s"other$i").mkString(" "), "en", "s2")))
    val rows = SparkEntry.queries("q_rouge_pairs")(spark, d).collect()
    assert(rows.length == 2, s"expected the planted pair × 2 gram orders: got ${rows.length}")
    val r1 = rows.find(_.getLong(2) == 1L).get
    assert((r1.getLong(0), r1.getLong(1)) == (1L, 2L))
    assert(r1.getLong(3) == 10L && r1.getLong(4) == 10L && r1.getLong(5) == 20L)
    assert(r1.getDouble(6) == 0.5 && r1.getDouble(7) == 1.0)
    assert(math.abs(r1.getDouble(8) - 0.666667) < 1e-9)
    val r2 = rows.find(_.getLong(2) == 2L).get
    assert(r2.getLong(3) == 9L && r2.getLong(4) == 9L && r2.getLong(5) == 19L)
    assert(math.abs(r2.getDouble(6) - 0.473684) < 1e-9)
    assert(r2.getDouble(7) == 1.0)
    assert(math.abs(r2.getDouble(8) - 0.642857) < 1e-9)
  }

  // -- crypto_blind_join ---------------------------------------------------------

  test("crypto_blind_join: token join equals the plaintext join, tokens are one-way") {
    import spark.implicits._
    val out = SparkEntry.queries("crypto_blind_join")(spark, sf).collect()
    val want = Tables.orders(spark, sf).join(Tables.customer(spark, sf),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), countDistinct($"o_custkey").as("nk"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.nonEmpty && out.length == want.size)
    for (r <- out) {
      assert(want(r.getString(0))._1 == r.getLong(1), s"count diverged: $r")
      assert(want(r.getString(0))._2 == r.getLong(3),
        s"token collision or loss: $r")
    }
    // one-way: a token never equals its key's decimal rendering, and
    // the same key tokenizes identically on both sides (join worked)
    val tok = Tables.customer(spark, sf)
      .select(sha2(concat(lit("graft-blind-join-demo-secret"),
        $"c_custkey".cast("string")), 256).as("t"), $"c_custkey".cast("string").as("k"))
      .filter($"t" === $"k").count()
    assert(tok == 0L)
    // the PLAN-level privacy pin: no exchange (shuffle or broadcast)
    // ever carries the raw key — tokenization happens below every
    // exchange, so the join executor sees tokens only. Tracked by
    // attribute LINEAGE, not name: taint seeds at the parquet scan
    // outputs (schema names — un-aliasable) and propagates through any
    // Alias/Cast that is an identity copy of a tainted attribute, so an
    // aliased raw key crossing an exchange is caught; sha2(...) is not
    // an identity copy, so the one-way token stays clean by design.
    val df = SparkEntry.queries("crypto_blind_join")(spark, sf)
    df.collect()
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, AttributeReference, Cast, ExprId, Expression}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    // AQE wraps the plan in leaf-like nodes (AdaptiveSparkPlanExec /
    // QueryStageExec); recurse through them or the gate is vacuous
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
      case q: QueryStageExec => p +: allNodes(q.plan)
      case _ => p +: p.children.flatMap(allNodes)
    }
    val nodes = allNodes(df.queryExecution.executedPlan)
    val seed: Set[ExprId] = nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.output.filter(_.name.endsWith("custkey")).map(_.exprId)
    }.flatten.toSet
    assert(seed.size == 2, s"expected both raw-key scan columns, got $seed")
    def identityOf(e: Expression): Option[ExprId] = e match {
      case a: AttributeReference => Some(a.exprId)
      case c: Cast => identityOf(c.child)
      case _ => None // sha2/concat/arith: value-transforming, not a copy
    }
    // fixpoint: an Alias of a tainted identity chain is itself tainted
    var tainted = seed
    var grew = true
    while (grew) {
      val next = tainted ++ nodes.flatMap(_.expressions).flatMap(_.collect {
        case a: Alias if identityOf(a.child).exists(tainted) => a.exprId
      })
      grew = next.size > tainted.size
      tainted = next
    }
    val exchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.nonEmpty, "no exchanges found — the gate went vacuous")
    val leaked = exchanges.flatMap(
      _.output.filter(o => tainted(o.exprId)).map(o => s"${o.name}#${o.exprId.id}"))
    assert(leaked.isEmpty,
      s"raw join key crossed an exchange: ${leaked.mkString(",")}")
  }

  // -- io_time_travel_ts -------------------------------------------------------

  test("io_time_travel_ts: AS OF resolves the latest commit <= probe, fails closed before v1") {
    import graft.operators.Maintenance
    val out = SparkEntry.queries("io_time_travel_ts")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("t_between_commits" -> 1L, "t_after_last" -> 2L))
    val root = Maintenance.snapshotRoot(spark, sf)
    // exactly at a commit instant → that commit (inclusive bound)
    assert(Maintenance.resolveAsOf(root, 1767265200L) == 2)
    assert(Maintenance.resolveAsOf(root, 1767261600L) == 1)
    intercept[IllegalArgumentException] {
      Maintenance.resolveAsOf(root, 1767261599L) // before the first commit
    }
  }

  // -- text_fertility --------------------------------------------------------

  test("text_fertility: per-source sums reconcile with the per-doc encoder") {
    import spark.implicits._
    val perDoc = SparkEntry.queries("text_bpe_encode")(spark, sf)
    val srcs = Tables.documents(spark, sf).select($"doc_id", $"source")
    val want = perDoc.join(srcs, "doc_id").groupBy($"source")
      .agg(sum($"n_words").as("w"), sum($"n_bpe_tokens").as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = SparkEntry.queries("text_fertility")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want, s"per-source totals diverged: got=$got want=$want")
    // every word is at least one subword token; no token beats its word
    for (r <- SparkEntry.queries("text_fertility")(spark, sf).collect()) {
      assert(r.getDouble(4) >= 1.0, s"fertility < 1 for ${r.getString(0)}")
      assert(r.getDouble(5) >= 1.0, s"chars/token < 1 for ${r.getString(0)}")
    }
  }

  test("text_gopher_rep: corpus run is all-rules, exact header") {
    val rows = SparkEntry.queries("text_gopher_rep")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("r1_dup_lines",
      "r2_dup_paragraphs", "r3_top_2gram", "r4_top_3gram", "r5_top_4gram",
      "r6_any"))
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.forall(_.getLong(1) == nDocs))
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= nDocs))
  }
}

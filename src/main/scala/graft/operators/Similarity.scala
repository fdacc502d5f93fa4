package graft.operators

import graft.{Iterate, QueryDef, Staging, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector primitives over `array<float>` embedding columns, built on
  * the codegen'd [[graft.functions.VecDot]] kernel (equivalent to
  * `aggregate(zip_with(...))`, which would run interpreted). Elements
  * are cast to double BEFORE multiply and summed left-to-right, which
  * both Spark and DuckDB reproduce bit-exactly.
  */
object VectorOps {
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vec_dot(a, b)
  def l2sq(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vec_l2sq(a, b)
  def norm(a: Column): Column = sqrt(dot(a, a))
  // fused one-pass kernel: dot + both norms in a single array traversal
  // (the composed dot/sqrt form walks each pair three times); per-sum
  // accumulation order is unchanged, so results stay bit-identical
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vec_cosine(a, b)

  /** DuckDB fragments computing the identical quantities. */
  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"
}

/** Similarity search over embeddings (SURVEY.md §2.3 #33-36).
  *
  * Scale shapes (the 100 TB story):
  *  - brute-force top-k BROADCASTS the (small) query set and streams the
  *    corpus in one map pass; top-k is computed per-partition first
  *    (partial, O(queries×k) rows out of each partition) and merged, so
  *    no executor ever materializes corpus×queries rows in one place;
  *  - LSH/IVF paths prune candidates by bucket equi-joins — shuffle is
  *    O(corpus × bands), never O(corpus²);
  *  - hyperplanes/centroid choices are deterministic (seeded), which is
  *    what makes the DuckDB oracle able to replay them and also what a
  *    production run wants for reproducibility.
  */
object Similarity {

  private val Dims = 64
  private val Planes = 16          // 16-bit signature
  private val BandBits = 4         // 4 bands × 4 bits

  /** r14: pinned, corpus-independent eval panel for every brute-force
    * gold leg (sim_bruteforce_topk, the exact legs of q_ann_recall and
    * q_ndcg, all four sim_mrl_recall legs). `vec_id` is dense from 0 at
    * every scale factor, so `id % stride == 0 AND id < EvalPanelCap` is
    * the SAME fixed id set ({0, 50, …, 450} at stride 50) at sf0.001,
    * sf0.01, sf0.1 — and at 100 TB. Gold-leg cost is therefore
    * O(panel · corpus), linear in the corpus, never the old
    * O(corpus²/mod) of a corpus-proportional `vec_id % mod` panel.
    * Index-served (ANN) legs keep corpus-proportional query traffic —
    * their per-query cost is index-pruned, so traffic may scale. */
  private val EvalPanelCap = 500
  private def evalPanel(id: Column, stride: Int = 50): Column =
    id % stride === 0 && id < EvalPanelCap
  private def evalPanelSql(col: String, stride: Int = 50): String =
    s"$col % $stride = 0 AND $col < $EvalPanelCap"

  /** Deterministic Rademacher (±1) hyperplanes, shared verbatim with the
    * oracle SQL. */
  private[operators] val hyperplanes: Seq[Seq[Double]] = {
    val rng = new scala.util.Random(12345)
    Seq.fill(Planes)(Seq.fill(Dims)(if (rng.nextBoolean()) 1.0 else -1.0))
  }
  private def hpSql(j: Int): String =
    hyperplanes(j).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** 16-bit hyperplane signature of an embedding column. */
  private def signature(emb: Column): Column =
    (0 until Planes).map { j =>
      (when(VectorOps.dot(emb, typedlit(hyperplanes(j))) > 0, 1L).otherwise(0L)
        * lit(1L << j))
    }.reduce(_ + _)

  private val signatureSql: String =
    (0 until Planes).map { j =>
      s"(CASE WHEN ${VectorOps.dotSql("embedding", s"CAST(${hpSql(j)} AS DOUBLE[])")} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private def bandsOf(sig: Column): Column =
    array((0 until Planes / BandBits).map(b =>
      struct(lit(b).as("band_id"),
        shiftrightunsigned(sig, b * BandBits).bitwiseAND(lit((1L << BandBits) - 1)).as("band_val"))): _*)

  // -- #34 brute-force cosine top-k ----------------------------------------
  private def bruteforceTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(evalPanel($"vec_id"))
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        VectorOps.cosine($"qe", $"embedding").as("cos"))
    // partial top-k inside each partition, then global merge — the
    // pattern that keeps the sort local at 100 TB
    val partial = Window.partitionBy($"query_id", spark_partition_id())
      .orderBy($"cos".desc, $"neighbor_id")
    val global = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    scored
      .withColumn("pr", row_number().over(partial)).filter($"pr" <= 5)
      .withColumn("rank", row_number().over(global)).filter($"rank" <= 5)
      .select($"query_id", $"rank".cast("long").as("rank"), $"neighbor_id", round($"cos", 6).as("cos6"))
      .orderBy($"query_id", $"rank")
  }
  private val bruteforceTopkSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |           WHERE ${evalPanelSql("vec_id")}),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    ${VectorOps.cosineSql("qe", "e.embedding")} AS cos
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos6
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // -- #35 LSH-bucketed ANN ------------------------------------------------
  // Candidates = corpus vectors sharing ≥1 signature band with the
  // query; re-ranked by exact cosine. The oracle replays the identical
  // seeded hyperplanes, so even LSH false negatives match exactly.
  // Query side is the PINNED evalPanel (r14 discipline, applied here in
  // r15): the broadcast query-band set is a fixed ≤10-query frame at
  // every corpus size, so candidate generation is O(panel · bucket)
  // and nothing in the plan grows with the corpus.
  private def annLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).withColumn("sig", signature($"embedding"))
    // bands carry only ids — dedup of candidates shuffles 2 longs per
    // row, never the 64-float vectors (those are re-joined afterwards)
    val corpusBands = emb.select($"vec_id", explode(bandsOf($"sig")).as("band"))
    val queryBands = emb.filter(evalPanel($"vec_id"))
      .select($"vec_id".as("query_id"), explode(bandsOf($"sig")).as("qband"))
    val cand = corpusBands.join(broadcast(queryBands),
        $"band.band_id" === $"qband.band_id" &&
          $"band.band_val" === $"qband.band_val" &&
          $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"))
      .distinct()
    val queries = Tables.embeddings(s, d).filter(evalPanel($"vec_id"))
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val corpus = Tables.embeddings(s, d).select($"vec_id".as("nid"), $"embedding")
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    cand
      .join(broadcast(queries), $"query_id" === $"qid")
      .join(corpus, $"neighbor_id" === $"nid")
      .select($"query_id", $"neighbor_id",
        VectorOps.cosine($"qe", $"embedding").as("cos"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 3)
      .select($"query_id", $"rank".cast("long").as("rank"), $"neighbor_id", round($"cos", 6).as("cos6"))
      .orderBy($"query_id", $"rank")
  }
  private val annLshSql =
    s"""WITH sigs AS (SELECT vec_id, embedding, $signatureSql AS sig FROM embeddings),
       |bands AS (SELECT vec_id, embedding, b AS band_id,
       |            (sig // POWER(2, b * $BandBits)::BIGINT) % ${1 << BandBits} AS band_val
       |          FROM sigs, unnest(range(0, ${Planes / BandBits})) t(b)),
       |qb AS (SELECT vec_id AS query_id, embedding AS qe, band_id, band_val
       |       FROM bands WHERE ${evalPanelSql("vec_id")}),
       |cand AS (SELECT DISTINCT qb.query_id, qb.qe, b.vec_id AS neighbor_id, b.embedding
       |         FROM bands b JOIN qb ON b.band_id = qb.band_id
       |           AND b.band_val = qb.band_val AND b.vec_id <> qb.query_id),
       |scored AS (SELECT query_id, neighbor_id,
       |    ${VectorOps.cosineSql("qe", "embedding")} AS cos FROM cand),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos6
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // -- #36 IVF-style ANN, Lloyd-trained centroids --------------------------
  // Deterministic seed medoids, then LloydIters assign→update rounds.
  // The update keeps centroids ORACLE-REPLAYABLE across engines by two
  // choices: (1) a centroid is the element-wise SUM of its member
  // vectors, not the mean — cosine is scale-invariant, so the sum points
  // exactly where the mean does, and skipping the division removes the
  // engine-dependent float rounding it would introduce; (2) the sums run
  // in DECIMAL, which is exact and order-independent, so Spark's partial
  // aggregation and DuckDB's serial sum produce bit-identical centroids.
  // Assign passes shuffle only (vec_id, cell_id, ccos) triples — the
  // 64-float embeddings never ride the k× cross product; they are
  // re-joined by key once per update.
  private val LloydIters = 2

  /** FIXED-size coarse codebook: ≤ [[IvfSeedCells]] seed medoids drawn
    * from a bounded id range (the PqSeedMod/PqSeedCap discipline,
    * applied to IVF in r15). A corpus-proportional codebook
    * (`vec_id % k` alone) makes [[ivfAssign]] an O(corpus²/k) broadcast
    * cross product and the training broadcast itself corpus-sized —
    * capping the seeds keeps the codebook KBs and assignment
    * O(corpus × cells) at any scale. */
  private val IvfSeedCap = 500   // vec_id % 50 == 7 AND vec_id < 500
  private val IvfSeedCells = IvfSeedCap / 50 // ≤ 10 coarse cells

  /** Seed medoids, promoted to double so every generation of centroid
    * (seeded or decimal-sum-trained) has one type. */
  private def ivfSeeds(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb.filter($"vec_id" % 50 === 7 && $"vec_id" < IvfSeedCap)
      .select($"vec_id".as("cell_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ce"))
  }

  /** Nearest coarse centroid per vector (cosine; centroids broadcast). */
  private def ivfAssign(emb: DataFrame, centroids: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val w = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cell_id")
    emb.crossJoin(broadcast(centroids))
      .select($"vec_id", $"cell_id",
        VectorOps.cosine($"embedding", $"ce").as("ccos"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"vec_id", $"cell_id")
  }

  /** Lloyd update (decimal element-wise SUM — see section comment). */
  private def ivfUpdate(emb: DataFrame, assigned: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    assigned.join(emb, "vec_id")
      .select($"cell_id", posexplode($"embedding"))
      .toDF("cell_id", "i", "v")
      .groupBy($"cell_id", $"i")
      .agg(sum($"v".cast("double").cast("decimal(28,10)")).cast("double").as("s"))
      .groupBy($"cell_id")
      .agg(array_sort(collect_list(struct($"i", $"s"))).as("ps"))
      .select($"cell_id", expr("transform(ps, p -> p.s)").as("ce"))
  }

  private def ivfTrain(emb: DataFrame): DataFrame =
    (1 to LloydIters).foldLeft(ivfSeeds(emb))((c, _) =>
      ivfUpdate(emb, ivfAssign(emb, c)))

  /** Spec instrumentation: the trained coarse codebook (the r15 gate
    * pins its cell set corpus-independent at every scale factor). */
  private[graft] def ivfCodebook(s: SparkSession, d: String): DataFrame =
    ivfTrain(Tables.embeddings(s, d))

  /** Top-`nProbe` coarse cells per query (cosine; centroids broadcast). */
  private def ivfProbe(queries: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame = {
    import queries.sparkSession.implicits._
    val wProbe = Window.partitionBy($"query_id").orderBy($"qcos".desc, $"cell_id")
    queries.crossJoin(broadcast(centroids))
      .select($"query_id", $"qe", $"cell_id",
        VectorOps.cosine($"qe", $"ce").as("qcos"))
      .withColumn("rn", row_number().over(wProbe)).filter($"rn" <= nProbe)
      .select($"query_id", $"qe", $"cell_id")
  }

  private def annIvf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val trained = ivfTrain(emb)
    val assigned = ivfAssign(emb, trained).join(emb, "vec_id")
    val queries = emb.filter(evalPanel($"vec_id"))
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val probed = ivfProbe(queries, trained, nProbe = 2)
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    probed.join(assigned, "cell_id")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        VectorOps.cosine($"qe", $"embedding").as("cos"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 3)
      .select($"query_id", $"rank".cast("long").as("rank"), $"neighbor_id", round($"cos", 6).as("cos6"))
      .orderBy($"query_id", $"rank")
  }

  /** One oracle assign pass against centroid CTE `c`. */
  private def assignSql(c: String): String =
    s"""SELECT vec_id, cell_id FROM (
       |    SELECT e.vec_id, c.cell_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${VectorOps.cosineSql("e.embedding", "ce")} DESC, c.cell_id) AS rn
       |    FROM embeddings e CROSS JOIN $c c) WHERE rn = 1""".stripMargin
  /** One oracle Lloyd update from assignment CTE `a`: decimal sums. */
  private def updateSql(a: String): String =
    s"""SELECT cell_id, list(s ORDER BY i) AS ce FROM (
       |    SELECT x.cell_id, t.i,
       |      CAST(SUM(CAST(CAST(e.embedding[t.i] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS s
       |    FROM $a x JOIN embeddings e ON x.vec_id = e.vec_id,
       |         unnest(range(1, ${Dims + 1})) t(i)
       |    GROUP BY x.cell_id, t.i) GROUP BY cell_id""".stripMargin

  private val annIvfSql =
    s"""WITH c0 AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS ce
       |            FROM embeddings WHERE vec_id % 50 = 7 AND vec_id < $IvfSeedCap),
       |a1 AS (${assignSql("c0")}),
       |c1 AS (${updateSql("a1")}),
       |a2 AS (${assignSql("c1")}),
       |c2 AS (${updateSql("a2")}),
       |assigned AS (
       |  SELECT f.vec_id, e.embedding, f.cell_id
       |  FROM (${assignSql("c2")}) f JOIN embeddings e ON f.vec_id = e.vec_id),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |      WHERE ${evalPanelSql("vec_id")}),
       |probed AS (
       |  SELECT query_id, qe, cell_id FROM (
       |    SELECT q.query_id, q.qe, c.cell_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${VectorOps.cosineSql("qe", "ce")} DESC, c.cell_id) AS rn
       |    FROM q CROSS JOIN c2 c) WHERE rn <= 2),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ${VectorOps.cosineSql("qe", "a.embedding")} AS cos
       |  FROM probed p JOIN assigned a ON p.cell_id = a.cell_id
       |  WHERE a.vec_id <> p.query_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos6
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // -- #33 embedding near-dup pairs ----------------------------------------
  // Same banded-signature candidates, symmetric self-join form, verified
  // by exact cosine ≥ 0.4 (this corpus has no ≥0.9 pairs; the threshold
  // exercises the shape). Oracle replays the hyperplanes.
  //
  // The verified pair set is STAGED once per dataset (the embedding twin
  // of Dedup.pairsRoot): dedup_embedding, dedup_semantic, and sim_dbscan
  // all sit on this graph, and at 100 TB the cosine-verified pair table
  // IS a stored artifact every graph consumer reads — signature + band
  // join + verify never re-runs on a query path. Same stagingKey
  // content-fingerprint freshness + Staging swap-publish/vacuum
  // lifecycle; the build is the deterministic banded pipeline itself,
  // so the staged table is bit-identical to inline derivation and every
  // consumer's DuckDB oracle keeps replaying it from the raw vectors.
  private[graft] val embPairStageRuns =
    new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def embPairsRoot(s: SparkSession, d: String): String = {
    Staging.once("epairs_", d, Seq("embeddings"), "v1-emb-pairs") { tmp =>
      embPairStageRuns.incrementAndGet()
      embPairsBuild(s, d).write.mode("overwrite").parquet(s"$tmp/pairs")
    }
  }

  /** The verified cos ≥ 0.4 pair set served from the staged parquet. */
  private[graft] def verifiedEmbPairs(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, s"${embPairsRoot(s, d)}/pairs")

  private def embeddingDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    verifiedEmbPairs(s, d).orderBy($"vec_a", $"vec_b")
  }

  /** The full banded-candidate + exact-cosine-verify pipeline (the
    * staging BUILD; queries read [[verifiedEmbPairs]]). */
  private def embPairsBuild(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).withColumn("sig", signature($"embedding"))
    val bands = emb.select($"vec_id", explode(bandsOf($"sig")).as("band"))
    // candidate dedup on the id pair alone (2 longs/row); vectors are
    // fetched after, so the wide arrays never enter the distinct shuffle
    val cand = bands.as("a").join(bands.as("b"),
        $"a.band.band_id" === $"b.band.band_id" &&
          $"a.band.band_val" === $"b.band.band_val" &&
          $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"))
      .distinct()
    val ea = Tables.embeddings(s, d).select($"vec_id".as("ia"), $"embedding".as("emb_a"))
    val eb = Tables.embeddings(s, d).select($"vec_id".as("ib"), $"embedding".as("emb_b"))
    cand
      .join(ea, $"vec_a" === $"ia").join(eb, $"vec_b" === $"ib")
      .select($"vec_a", $"vec_b", VectorOps.cosine($"emb_a", $"emb_b").as("cos"))
      .filter($"cos" >= 0.4)
      .select($"vec_a", $"vec_b", round($"cos", 6).as("cos6"))
  }
  /** Shared CTE body: banded-signature candidates scored by exact
    * cosine — reused by the pair query and the semantic-cluster query. */
  private val embBandCtes =
    s"""sigs AS (SELECT vec_id, embedding, $signatureSql AS sig FROM embeddings),
       |bands AS (SELECT vec_id, embedding, b AS band_id,
       |            (sig // POWER(2, b * $BandBits)::BIGINT) % ${1 << BandBits} AS band_val
       |          FROM sigs, unnest(range(0, ${Planes / BandBits})) t(b)),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, a.embedding AS ea,
       |                b.vec_id AS vec_b, b.embedding AS eb
       |         FROM bands a JOIN bands b ON a.band_id = b.band_id
       |           AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
       |scored AS (SELECT vec_a, vec_b, ${VectorOps.cosineSql("ea", "eb")} AS cos FROM cand)""".stripMargin

  private val embeddingDedupSql =
    s"""WITH $embBandCtes
       |SELECT vec_a, vec_b, round(cos, 6) AS cos6
       |FROM scored WHERE cos >= 0.4 ORDER BY vec_a, vec_b""".stripMargin

  // -- semantic dedup with canonical selection ------------------------------
  // The decision layer on top of the near-dup PAIRS: transitive closure
  // over the verified pairs (the pointer-jumping distributed CC from
  // Dedup.componentLabels — O(log diameter) rounds, 16-byte label
  // shuffles), cluster = min member id, canonical = the member equal to
  // its cluster id, everything else is the "drop" set. This is the
  // SemDeDup shape: near-dup clusters keep one representative. The
  // corpus outer-joins the (small by construction) labeled set, so
  // untouched vectors stay single-member clusters without shuffling.
  private def semanticDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pairs = verifiedEmbPairs(s, d).select($"vec_a", $"vec_b")
    val labels = Dedup.componentLabels(pairs)
      .select($"id".as("vec_id"), $"label")
    Tables.embeddings(s, d).select($"vec_id")
      .join(broadcast(labels), Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"label", $"vec_id").as("cluster"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy($"cluster")))
      .withColumn("is_canonical", $"vec_id" === $"cluster")
      .orderBy($"vec_id")
  }
  private val semanticDedupSql =
    s"""WITH RECURSIVE $embBandCtes,
       |pairs AS (SELECT vec_a, vec_b FROM scored WHERE cos >= 0.4),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
       |          UNION ALL SELECT vec_b, vec_a FROM pairs),
       |reach(id, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
       |comp AS (SELECT id, MIN(label) AS label FROM reach GROUP BY id),
       |cl AS (SELECT e.vec_id, COALESCE(c.label, e.vec_id) AS cluster
       |       FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.id)
       |SELECT vec_id, cluster,
       |  COUNT(*) OVER (PARTITION BY cluster) AS cluster_size,
       |  vec_id = cluster AS is_canonical
       |FROM cl ORDER BY vec_id""".stripMargin

  // -- int8 scalar quantization with error accounting ----------------------
  // The compression step before any large-scale ANN index: per-vector
  // symmetric max-abs quantization to int8 (scale = max|x|/127,
  // q = round(x/scale)) shrinks the corpus 4× (float32 → int8) while
  // keeping cosine ranking nearly intact — and the error ACCOUNTING is
  // what makes it an operator rather than a cast: per-vector RMSE and
  // max-abs reconstruction error, aggregated per label. Everything is
  // per-row higher-order-function math over the array (zero shuffle
  // before the final tiny aggregate). Rounding is floor(x + 0.5) on
  // BOTH engines — `round()` is HALF_UP in Spark but half-away-from-
  // zero in DuckDB, another cross-engine landmine; floor is exact. The
  // per-row left-to-right array fold is deterministic in both engines,
  // and cross-row sums go through decimal.
  /** Per-row quantization-error kernel over any frame with an `e`
    * (array<float> or array<double>) column: attaches scale, rmse,
    * max_abs via the codegen'd one-pass [[graft.functions.QuantizeStats]]
    * expression (the HOF spelling is five interpreted lambda passes with
    * three intermediate arrays per row). Public so the spec can assert
    * the |err| <= scale/2 bound row by row. */
  def quantizeErrors(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.withColumn("qs", graft.functions.GraftFunctions.quantize_stats($"e"))
      .withColumn("scale", $"qs.scale")
      .withColumn("rmse", $"qs.rmse")
      .withColumn("max_abs", $"qs.max_abs")
      .drop("qs")
  }

  private def quantizeInt8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    quantizeErrors(Tables.embeddings(s, d)
        .select($"vec_id", $"label", $"embedding".as("e")))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        (sum($"rmse".cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("avg_rmse"),
        max($"max_abs").as("max_abs_err"))
      .orderBy($"label")
  }
  private val quantizeInt8Sql =
    """WITH v AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |s AS (
      |  SELECT label, e,
      |    list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      |  FROM v),
      |q AS (
      |  SELECT label, e,
      |    CASE WHEN scale = 0.0
      |         THEN list_transform(e, x -> CAST(0.0 AS DOUBLE))
      |         ELSE list_transform(e, x -> x - floor(x / scale + 0.5) * scale)
      |    END AS err
      |  FROM s),
      |m AS (
      |  SELECT label,
      |    sqrt(list_aggregate(list_transform(err, x -> x * x), 'sum')
      |         / len(e)) AS rmse,
      |    list_max(list_transform(err, x -> abs(x))) AS max_abs
      |  FROM q)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(CAST(rmse AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS avg_rmse,
      |  MAX(max_abs) AS max_abs_err
      |FROM m GROUP BY label ORDER BY label""".stripMargin

  // -- #36c product quantization ANN ---------------------------------------
  // PQ: split each 64-dim vector into M=16 4-dim subvectors, train a
  // 16-centroid codebook PER SUBSPACE (one Lloyd round, decimal-exact
  // sums → IEEE mean, same replayability discipline as IVF), encode
  // every vector as M small code indices, and answer queries by
  // ASYMMETRIC DISTANCE: per-query lookup tables over the codebooks,
  // never the raw corpus vectors — then an exact re-rank of the top-20
  // shortlist. This is the memory-side scale lever (a 64-float vector
  // becomes 16 codebook ids — 16 bytes vs 256, and the codebooks are
  // KBs broadcast everywhere); IVF prunes WHICH vectors to score, PQ
  // shrinks WHAT is stored per vector — production ANN composes both.
  // L2² throughout (subvectors are not normalized, so cosine is the
  // wrong metric per subspace); the M per-subspace partials sum in
  // fixed m order on both engines, which is deterministic without
  // decimal casts.
  private val PqM = 16         // subspaces
  private val PqSub = Dims / PqM
  // FIXED-size codebook: 16 seeds drawn from a bounded id range — a
  // codebook proportional to the corpus (e.g. vec_id % k == r alone)
  // would make the assign pass O(corpus × corpus/k), quadratic at scale
  private val PqSeedMod = 16   // vec_id % 16 == 3 AND vec_id < 256
  private val PqSeedCap = 256
  private val PqShortlist = 20 // ADC candidates per query before re-rank

  /** DuckDB twin of [[VectorOps.l2sq]]: exact left-to-right Σ(aᵢ−bᵢ)²
    * (same loop order as the codegen'd kernel, so near-tie ranking is
    * identical). */
  private def l2sqSql(a: String, b: String, n: Int): String =
    s"list_sum(list_transform(range(1, ${n + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** Hot-path L2²: ‖a‖² − 2a·b + ‖b‖², with the dot products on the
    * codegen'd VecDot kernel and the norms precomputed once per row /
    * centroid — millions of interpreted zip_with evaluations (one per
    * vector × centroid × subspace) become three compiled dots, two of
    * them cached (part of the 8.4s → 2.7s sf0.1 path). The oracle computes
    * the SAME association ((‖a‖² − 2a·b) + ‖b‖²), so rounding — and
    * therefore near-tie ranking — is identical across engines. */
  private def l2Fast(an: Column, a: Column, b: Column, bn: Column): Column =
    an - lit(2.0) * VectorOps.dot(a, b) + bn
  private def dotNSql(a: String, b: String, n: Int): String =
    s"list_sum(list_transform(range(1, ${n + 1}), i -> $a[i] * $b[i]))"
  private def l2FastSql(a: String, b: String, n: Int): String =
    s"(${dotNSql(a, a, n)} - 2 * ${dotNSql(a, b, n)} + ${dotNSql(b, b, n)})"

  /** (vec_id, m, sub, sn): the m-th `subLen`-dim subvector, promoted to
    * double, with its ‖sub‖² computed once per row. `mCount = 1,
    * subLen = Dims` degenerates to the whole vector — which is exactly
    * a coarse (IVF) quantizer under the same L2 + decimal-mean Lloyd
    * machinery (see annIvfPq). */
  private def pqSubsM(emb: DataFrame, mCount: Int, subLen: Int): DataFrame = {
    import emb.sparkSession.implicits._
    emb.select($"vec_id",
      posexplode(array((0 until mCount).map(m =>
        expr(s"transform(slice(embedding, ${m * subLen + 1}, $subLen), x -> CAST(x AS DOUBLE))")
      ): _*)).as(Seq("m", "sub")))
      .withColumn("sn", VectorOps.dot($"sub", $"sub"))
  }
  private def pqSubs(emb: DataFrame): DataFrame = pqSubsM(emb, PqM, PqSub)

  /** Nearest codebook entry per (vector, subspace); codebooks broadcast.
    * The argmin is min(struct(dist, cell_id)) — a hash aggregate with
    * map-side partials, so the shuffle carries one row per (vector,
    * subspace), not one per (vector, subspace, centroid) the way a
    * row_number window would (K× the rows INTO a sort). */
  private def pqAssign(subs: DataFrame, codebook: DataFrame): DataFrame = {
    import subs.sparkSession.implicits._
    val cb = codebook.withColumn("cn", VectorOps.dot($"ce", $"ce"))
    subs.join(broadcast(cb), Seq("m"))
      .select($"vec_id", $"m",
        struct(l2Fast($"sn", $"sub", $"ce", $"cn").as("dist"),
          $"cell_id".as("cell_id")).as("dc"))
      .groupBy($"vec_id", $"m").agg(min($"dc").as("mn"))
      .select($"vec_id", $"m", $"mn.cell_id".as("cell_id"))
  }

  /** Seeded codebook + ONE Lloyd round: per-dimension decimal sum →
    * IEEE double mean (L2 centroids are means; the division is
    * double/long, bit-identical across engines given identical
    * numerators). */
  private def pqTrainCodebook(subs: DataFrame): DataFrame = {
    import subs.sparkSession.implicits._
    val c0 = subs.filter($"vec_id" % PqSeedMod === 3 && $"vec_id" < PqSeedCap)
      .select($"m", $"vec_id".as("cell_id"), $"sub".as("ce"))
    pqAssign(subs, c0).join(subs, Seq("vec_id", "m"))
      .select($"m", $"cell_id", posexplode($"sub").as(Seq("i", "v")))
      .groupBy($"m", $"cell_id", $"i")
      .agg((sum($"v".cast("decimal(28,10)")).cast("double") / count(lit(1))).as("mean"))
      .groupBy($"m", $"cell_id")
      .agg(array_sort(collect_list(struct($"i", $"mean"))).as("ps"))
      .select($"m", $"cell_id", expr("transform(ps, p -> p.mean)").as("ce"))
  }

  /** PACKED codes — the point of PQ storage: ONE row per vector whose
    * payload is M small code indices (j = (cell_id − 3) / 16 on the
    * fixed seed grid), 4-16 bytes, not M rows of (vec, m, cell). This
    * is what "the corpus fits in memory as codes" means physically. */
  private def pqCodes(subs: DataFrame, codebook: DataFrame): DataFrame = {
    import subs.sparkSession.implicits._
    pqAssign(subs, codebook)
      .select($"vec_id", $"m", (($"cell_id" - 3) / PqSeedMod).cast("int").as("j"))
      .groupBy($"vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, j))), p -> p.j)").as("code"))
  }

  /** Per-query ADC distance TABLES tab[m][j], packed and broadcastable:
    * l2 computed once per (query, subspace, centroid). `panel` selects
    * the query rows of `subs` — callers on an exhaustive (non-index)
    * scan MUST pass the pinned [[evalPanel]] so the broadcast table is
    * fixed-size at any corpus. */
  private def pqDtabWide(subs: DataFrame, codebook: DataFrame,
      panel: Column = col("vec_id") % 50 === 0): DataFrame = {
    import subs.sparkSession.implicits._
    val qsubs = subs.filter(panel)
      .select($"vec_id".as("query_id"), $"m", $"sub".as("qsub"), $"sn".as("qn"))
    qsubs
      .join(broadcast(codebook.withColumn("cn", VectorOps.dot($"ce", $"ce"))), Seq("m"))
      .select($"query_id", $"m", (($"cell_id" - 3) / PqSeedMod).cast("int").as("j"),
        l2Fast($"qn", $"qsub", $"ce", $"cn").as("part"))
      .groupBy($"query_id", $"m")
      .agg(expr("transform(array_sort(collect_list(struct(j, part))), p -> p.part)").as("trow"))
      .groupBy($"query_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, trow))), p -> p.trow)").as("tab"))
  }

  /** Exact re-rank of a (query_id, neighbor_id) shortlist on the full
    * vectors (FAISS refine step): fetches ≤ shortlist rows per query
    * and keeps each query's `k` nearest as (query_id, neighbor_id, d,
    * rank). `panel` must cover every query_id in the shortlist (a
    * superset is fine — the join drops unmatched rows). */
  private def rerankTopK(emb: DataFrame, shortlist: DataFrame, panel: Column,
      k: Int): DataFrame = {
    import emb.sparkSession.implicits._
    val full = fullVectors(emb)
    val qfull = full.filter(panel)
      .select($"vec_id".as("query_id"), $"fe".as("qe"))
    val w = Window.partitionBy($"query_id").orderBy($"d", $"neighbor_id")
    shortlist
      .join(full.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(qfull), Seq("query_id"))
      .select($"query_id", $"neighbor_id", VectorOps.l2sq($"qe", $"fe").as("d"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
  }

  /** The ANN queries' answer: [[rerankTopK]] at k = 3 as (query_id,
    * rank, neighbor_id, d6), ordered. */
  private def pqRerank(emb: DataFrame, shortlist: DataFrame,
      panel: Column = col("vec_id") % 50 === 0): DataFrame = {
    import emb.sparkSession.implicits._
    rerankTopK(emb, shortlist, panel, 3)
      .select($"query_id", $"rank".cast("long").as("rank"), $"neighbor_id", round($"d", 6).as("d6"))
      .orderBy($"query_id", $"rank")
  }

  /** (vec_id, fe): every full vector promoted to double — the re-rank,
    * exact-gold and residual inputs. */
  private def fullVectors(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb.select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("fe"))
  }

  /** The ADC candidate stage: each query's `depth` best (query_id,
    * neighbor_id) by (adist, neighbor_id) — the shortlist every ANN
    * query re-ranks on full vectors. */
  private def adcShortlist(adist: DataFrame, depth: Int): DataFrame = {
    import adist.sparkSession.implicits._
    val w = Window.partitionBy($"query_id").orderBy($"adist", $"neighbor_id")
    adist.withColumn("srank", row_number().over(w)).filter($"srank" <= depth)
      .select($"query_id", $"neighbor_id")
  }

  /** Exact L2 top-`k` gold (query_id, neighbor_id, r) for the pinned
    * [[evalPanel]] queries: a scan of `full` (see [[fullVectors]]) per
    * broadcast panel query — O(panel · corpus). */
  private def exactTopK(full: DataFrame, k: Int): DataFrame = {
    import full.sparkSession.implicits._
    val qfull = full.filter(evalPanel($"vec_id"))
      .select($"vec_id".as("query_id"), $"fe".as("qe"))
    val w = Window.partitionBy($"query_id").orderBy($"dx", $"neighbor_id")
    full.withColumnRenamed("vec_id", "neighbor_id")
      .crossJoin(broadcast(qfull))
      .filter($"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", VectorOps.l2sq($"qe", $"fe").as("dx"))
      .withColumn("r", row_number().over(w)).filter($"r" <= k)
      .select($"query_id", $"neighbor_id", $"r")
  }

  // DuckDB twins of the candidate stage and its consumers, shared by the
  // ANN oracle strings: the `shortlist` CTE is [[adcShortlist]] over an
  // `adist(query_id, vec_id, adist)` CTE, `fullv` is [[fullVectors]],
  // the `reranked`/`ranked` tail is [[pqRerank]] over a (query_id,
  // neighbor_id) CTE, the re-rank subquery is [[rerankTopK]] over
  // `shortlist` and the exact-rank subquery is [[exactTopK]].
  private def shortlistSql(depth: Int): String =
    s"""shortlist AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, vec_id AS neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY adist, vec_id) AS srank
       |    FROM adist) WHERE srank <= $depth)""".stripMargin
  private def fullvSql: String =
    s"""fullv AS (SELECT vec_id, list_transform(range(1, ${Dims + 1}),
       |    i -> CAST(embedding[i] AS DOUBLE)) AS fe FROM embeddings)""".stripMargin
  private def rerankSql(candidates: String): String =
    s"""reranked AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    ${l2sqSql("qv.fe", "nv.fe", Dims)} AS d
       |  FROM $candidates s
       |  JOIN fullv nv ON s.neighbor_id = nv.vec_id
       |  JOIN fullv qv ON s.query_id = qv.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, d, row_number() OVER (
       |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
       |  FROM reranked)
       |SELECT query_id, rank, neighbor_id, round(d, 6) AS d6
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  private def rerankRanksSql(rank: String): String =
    s"""    SELECT s.query_id, s.neighbor_id, row_number() OVER (
       |      PARTITION BY s.query_id
       |      ORDER BY ${l2sqSql("qv.fe", "nv.fe", Dims)}, s.neighbor_id) AS $rank
       |    FROM shortlist s
       |    JOIN fullv nv ON s.neighbor_id = nv.vec_id
       |    JOIN fullv qv ON s.query_id = qv.vec_id""".stripMargin
  private def exactRanksSql: String =
    s"""    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${l2sqSql("q.fe", "n.fe", Dims)}, n.vec_id) AS r
       |    FROM fullv q JOIN fullv n ON n.vec_id <> q.vec_id
       |    WHERE ${evalPanelSql("q.vec_id")}""".stripMargin

  /** Raw-vector PQ training (the contrast case to [[ivfpqTrain]]):
    * subspace codebooks + packed codes, `(c1, codes)`. Deterministic,
    * so a staged copy is bit-identical to inline training. */
  private def pqTrain(rows: DataFrame): (DataFrame, DataFrame) = {
    val subs = pqSubs(rows).localCheckpoint()
    // same fail-safe dense-grid renumbering as the residual trainer:
    // identity while every seed cell survives training, and keeps
    // j = (cell_id − 3)/16 a valid packed index if one dies (mirrored
    // by the oracle's c1d CTE)
    val c1 = denseCells(pqTrainCodebook(subs)).localCheckpoint()
    (c1, pqCodes(subs, c1))
  }

  /** Stage the raw-vector PQ index ([[pqTrain]] over the corpus) once
    * per dataset, same lifecycle as [[annIndexRoot]] — the oracle keeps
    * replaying training from scratch. */
  private[graft] def annRawRoot(s: SparkSession, d: String): String = {
    // v2: dense-grid renumbered codebook
    Staging.once("annr_", d, Seq("embeddings"), "v2-pq-raw") { tmp =>
      annTrainRuns.incrementAndGet()
      val (c1, codes) = pqTrain(Tables.embeddings(s, d))
      c1.write.mode("overwrite").parquet(s"$tmp/pqcodebook")
      codes.write.mode("overwrite").parquet(s"$tmp/codes")
    }
  }

  private def annPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val root = annRawRoot(s, d)
    val c1 = Tables.parquet(s, s"$root/pqcodebook")
    val codes = Tables.parquet(s, s"$root/codes")
    // ADC via DISTANCE TABLES: l2 computed once per (query, subspace,
    // centroid) — queries × M × K rows — packed per query as tab[m][j]
    // and broadcast. The exhaustive scan is then ONE row per
    // (vector, query) doing M in-register array lookups: no distance
    // kernel per candidate (which re-evaluated corpus × M × queries
    // times, 8.4s), no 8M-row join fan-out, no K×-row argmin sort
    // (together 8.4s → 2.7s at sf0.1). The M lookups sum in fixed m
    // order, so the result is deterministic without decimal casts.
    // Query side only: subspace rows for the PINNED evalPanel (r15 —
    // this leg's candidate scan is exhaustive over the codes, so the
    // panel must be fixed-size or both the dtab broadcast and the scan
    // grow quadratically with the corpus) against the STORED codebook.
    val dtabWide = pqDtabWide(pqSubs(emb.filter(evalPanel($"vec_id"))), c1,
      panel = evalPanel($"vec_id"))
    val adist = codes.crossJoin(broadcast(dtabWide))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        graft.functions.GraftFunctions.adc_sum($"code", $"tab").as("adist"))
    pqRerank(emb, adcShortlist(adist, PqShortlist), panel = evalPanel($"vec_id"))
  }

  // -- #36d IVF×PQ composed ANN (the production FAISS IVFPQ shape) ----------
  // IVF prunes WHICH vectors a query scores (probe the top-2 coarse
  // cells → candidates shrink by ~cells/probes); PQ shrinks WHAT each
  // candidate costs (M in-register table lookups over 16 bytes of
  // codes, no raw-vector IO). Composed, a query touches
  // corpus×(probes/cells) code rows and ≤ shortlist full vectors — the
  // structure that scales ANN to 10⁹+ vectors. The candidate scan here
  // is a cell-key JOIN instead of sim_ann_pq's exhaustive cross join.
  //
  // RESIDUAL encoding (the FAISS delta closed in r6): PQ codes quantize
  // x − centroid(cell(x)), not x. Within a cell, ‖q−x‖ =
  // ‖(q−c) − (x−c)‖ exactly, so scoring quantized residuals against the
  // query's residual approximates the same distance — but residual
  // coordinates span a fraction of the raw range, so the same
  // 16-entries-per-subspace budget spends its resolution on within-cell
  // geometry. Measured mean |ADC − true L2²| drops vs raw-vector codes
  // at the identical code budget (spec-asserted via adcError). The cost:
  // distance tables become per-(query, probed cell) instead of
  // per-query — probes× more table rows, still queries-bounded and
  // broadcastable, exactly FAISS's trade.
  /** IVF×PQ residual training over `rows`, `(coarse, c1, codes)`:
    * coarse Lloyd codebook → cell assignment → residual vectors →
    * residual PQ codebook → packed codes (vec_id, code, cell_id). The
    * one trainer behind the staged index ([[annIndexRoot]]), the
    * base-trained incremental index ([[annIncRoot]]) and [[adcError]];
    * deterministic (seeded Lloyd, decimal means), so a staged copy is
    * bit-identical to inline training. */
  private[graft] def ivfpqTrain(rows: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import rows.sparkSession.implicits._
    // coarse quantizer: the SAME L2 + decimal-mean Lloyd machinery as
    // the per-subspace codebooks, applied to ONE "subspace" = the whole
    // vector (16 cells from the seed grid). Metric coherence is the
    // point: routing by cosine (sim_ann_ivf's metric) while scoring by
    // L2 sends queries to cells their true L2 neighbors aren't in —
    // measured recall@3 drops 0.9 → 0.37. FAISS IVFPQ is L2 end-to-end
    // for the same reason.
    val csubs = pqSubsM(rows, mCount = 1, subLen = Dims)
    // the coarse codebook, cell assignment, residual corpus and PQ
    // codebook each feed 2-4 downstream consumers; without a
    // materialization point every consumer re-derives the whole
    // upstream training pipeline (measured ~2× the query cost). The
    // checkpoints ARE the IVFPQ storage model: codebooks are broadcast
    // state, the encoded corpus is written once and scanned by every
    // query — at production scale the residual/code tables persist as
    // the index and training runs on a sample.
    val coarse = pqTrainCodebook(csubs).localCheckpoint()
    val cells = pqAssign(csubs, coarse).select($"vec_id", $"cell_id")
      .localCheckpoint()
    val resv = cellResiduals(rows, cells, coarse).localCheckpoint()
    // denseCells is identity while every seed cell survives training;
    // a filtered training set (the incremental base) can lose seed
    // cells, holing the packed code index j = (cell_id − 3)/16 — the
    // oracle's unconditional renumbering and this side then fail-safe
    // identically instead of silently misaligning the positional ADC
    // lookup (r9 ADVICE)
    val c1 = denseCells(pqTrainCodebook(resSubs(resv, Seq("vec_id")))).localCheckpoint()
    (coarse, c1, residualCodes(resv, cells, c1))
  }

  /** The IVF×PQ residual step rv = x − centroid(cell(x)) over rows
    * carrying a full vector `fe` (see [[fullVectors]]) and a coarse
    * `cell_id` — a corpus row's own cell or a query's probed cell;
    * centroids broadcast. */
  private def withResidual(routed: DataFrame, coarse: DataFrame): DataFrame = {
    import routed.sparkSession.implicits._
    routed.join(broadcast(coarse.select($"cell_id", $"ce".as("cce"))), "cell_id")
      .withColumn("rv", zip_with($"fe", $"cce", (x, c) => x - c))
  }

  /** (vec_id, cell_id, rv): `rows` minus the centroids of their `cells`. */
  private def cellResiduals(rows: DataFrame, cells: DataFrame, coarse: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    withResidual(fullVectors(rows).join(cells, "vec_id"), coarse)
      .select($"vec_id", $"cell_id", $"rv")
  }

  /** ONE row per vector: cell routing key + M packed residual code
    * indices — the 16-bytes-per-vector physical layout PQ storage
    * exists for, written by training and by delta ingest alike. */
  private def residualCodes(resv: DataFrame, cells: DataFrame, c1: DataFrame): DataFrame =
    pqCodes(resSubs(resv, Seq("vec_id")), c1).join(cells, "vec_id")

  /** ADC scoring tail shared by every residual-index path: (query_id,
    * neighbor_id, adist) for each candidate in a query's probed cells,
    * scored on per-(query, probed cell) residual distance tables against
    * the cells' packed code rows. */
  private def ivfpqProbeOver(emb: DataFrame, coarse: DataFrame, c1: DataFrame,
      codes: DataFrame, probed: DataFrame, queryMod: Int): DataFrame = {
    import emb.sparkSession.implicits._
    val dtabQC = resDtab(emb, probed, coarse, c1, queryMod)
    probed.withColumnRenamed("cell_id", "pcell")
      .join(codes.withColumnRenamed("cell_id", "pcell"), "pcell")
      .filter($"vec_id" =!= $"query_id")
      .join(broadcast(dtabQC), Seq("query_id", "pcell"))
      .select($"query_id", $"vec_id".as("neighbor_id"),
        graft.functions.GraftFunctions.adc_sum($"code", $"tab").as("adist"))
  }

  /** Remap a codebook's cell ids onto the dense seed grid
    * 3, 19, 35, … (per m, ascending) — identity for a full grid, and
    * the repair that keeps j = (cell_id − 3)/16 a valid packed-array
    * index when a filtered training set loses seed cells. */
  private def denseCells(cb: DataFrame): DataFrame = {
    import cb.sparkSession.implicits._
    val w = Window.partitionBy($"m").orderBy($"cell_id")
    cb.withColumn("cell_id",
      lit(3L) + lit(PqSeedMod.toLong) * (row_number().over(w) - 1))
  }

  /** Top-2 probed coarse cells for each query in `qsubs` (whole-vector
    * subspace rows, m = 0). */
  private def ivfpqProbeCells(qsubs: DataFrame, coarse: DataFrame): DataFrame = {
    import qsubs.sparkSession.implicits._
    val cb = coarse.withColumn("cn", VectorOps.dot($"ce", $"ce"))
    val wP = Window.partitionBy($"query_id").orderBy($"cd", $"cell_id")
    qsubs
      .join(broadcast(cb), Seq("m"))
      .select($"vec_id".as("query_id"), $"cell_id",
        l2Fast($"sn", $"sub", $"ce", $"cn").as("cd"))
      .withColumn("rn", row_number().over(wP)).filter($"rn" <= 2)
      .select($"query_id", $"cell_id")
  }

  /** Spec instrumentation: number of times IVFPQ training actually ran
    * (staging misses). A second query over the same dataset must leave
    * this unchanged — the stored index serves it. */
  private[graft] val annTrainRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** Stage the trained IVFPQ index ONCE per dataset under /tmp — the
    * production storage model made literal: [[ivfpqTrain]]'s coarse
    * codebook, residual PQ codebook and packed 16-byte code rows (with
    * their cell routing key) persist as parquet (the "index"), and
    * every query — sim_ann_ivfpq, q_hybrid_rrf's dense leg, any future
    * retrieval op — reads them instead of re-running Lloyd training per
    * query. Same [[Tables.stagingKey]] freshness discipline as the
    * inverted index's indexRoot: full-path key + content fingerprint,
    * so a regenerated dataset restages instead of serving a stale
    * index. The DuckDB oracle keeps replaying training from scratch. */
  private[graft] def annIndexRoot(s: SparkSession, d: String): String =
    Staging.once("ann_", d, Seq("embeddings"), "v1-ivfpq-residual") { tmp =>
      annTrainRuns.incrementAndGet()
      writeIvfpq(ivfpqTrain(Tables.embeddings(s, d)), tmp)
    }

  private def writeIvfpq(index: (DataFrame, DataFrame, DataFrame), tmp: java.io.File): Unit = {
    val (coarse, c1, codes) = index
    coarse.write.mode("overwrite").parquet(s"$tmp/coarse")
    c1.write.mode("overwrite").parquet(s"$tmp/pqcodebook")
    codes.write.mode("overwrite").parquet(s"$tmp/codes")
  }

  /** Residual IVF×PQ candidates served from the STORED index: only the
    * query-side work runs — probe routing, per-(query, cell) ADC
    * tables, code-row scoring. Per query this touches
    * corpus×(probes/cells) 16-byte code rows; no training job runs.
    * `queryMod` selects the query set (vec_id % queryMod == 0): 50 is
    * the sim_ann_ivfpq gate set, 100 the hybrid-retrieval one. */
  private def ivfpqAdistStaged(s: SparkSession, d: String,
      queryMod: Int): DataFrame = {
    import s.implicits._
    val root = annIndexRoot(s, d)
    val coarse = Tables.parquet(s, s"$root/coarse")
    val c1 = Tables.parquet(s, s"$root/pqcodebook")
    val codes = Tables.parquet(s, s"$root/codes")
    val emb = Tables.embeddings(s, d)
    val qsubs = pqSubsM(emb.filter($"vec_id" % queryMod === 0), 1, Dims)
    val probed = ivfpqProbeCells(qsubs, coarse)
    ivfpqProbeOver(emb, coarse, c1, codes, probed, queryMod)
  }

  private def annIvfPq(s: SparkSession, d: String): DataFrame =
    pqRerank(Tables.embeddings(s, d),
      adcShortlist(ivfpqAdistStaged(s, d, queryMod = 50), PqShortlist))

  // -- ANN recall accounting -------------------------------------------------
  // The index-quality gauge every production ANN deployment monitors
  // (and FAISS benchmarks report): per query, how many of the EXACT
  // L2 top-3 neighbors the IVFPQ index actually returned. Approximate
  // side = the stored-index path sim_ann_ivfpq serves (probe → ADC
  // shortlist → exact re-rank, top-3); exact side = the brute-force
  // scan, declared as the baseline the way sim_bruteforce_topk is.
  // n_hit is an integer semi-join count and recall3 a single IEEE
  // division, so the result is hash-exact. Queries with zero hits are
  // preserved through the exact side's grouping. Expected magnitude on
  // THIS corpus: the synthetic embeddings are unclustered, so IVFPQ
  // recall is ceilinged by the probe fraction (2/16 cells — see
  // SimilaritySpec's lift-over-uniform-pruning assertion); on clustered
  // real embeddings the same gauge reads near the re-rank ceiling.
  private def annRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val shortlist = adcShortlist(ivfpqAdistStaged(s, d, queryMod = 50), PqShortlist)
    val approx = pqRerank(emb, shortlist).select($"query_id", $"neighbor_id")
    exactTopK(fullVectors(emb), 3).select($"query_id", $"neighbor_id")
      .join(approx.withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(sum(coalesce($"hit", lit(0))).as("n_hit"))
      .select($"query_id", $"n_hit", ($"n_hit" / 3.0).as("recall3"))
      .orderBy($"query_id")
  }
  private val annRecallSql =
    s"""WITH ${ivfpqAdistSql(queryMod = 50)},
       |${shortlistSql(PqShortlist)},
       |$fullvSql,
       |approx AS (SELECT query_id, neighbor_id FROM (
       |${rerankRanksSql("rank")}) WHERE rank <= 3),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |$exactRanksSql) WHERE r <= 3)
       |SELECT e.query_id,
       |  CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
       |  CAST(COUNT(a.neighbor_id) AS DOUBLE) / CAST(3.0 AS DOUBLE) AS recall3
       |FROM exact e LEFT JOIN approx a
       |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  // -- q_ndcg: rank-aware retrieval quality of the staged ANN index ----------
  // recall@k (q_ann_recall) says WHETHER the true neighbors surfaced;
  // nDCG@10 says whether they surfaced IN THE RIGHT ORDER — the metric
  // that separates a usable index from one that buries its best hit at
  // position 10 (Järvelin & Kekäläinen 2002). Graded relevance: the
  // exact top-10 by full-precision distance, rel = 11 − exact_rank.
  // Exactness: the position discounts 1/log2(i+1) are UNIVERSAL
  // constants hardcoded as identical micro literals in both engines
  // (the Benford move — no engine log2 ever runs), so DCG and IDCG are
  // exact integer dot products and nDCG is one floored micro-quotient.
  // Scale: the ANN leg reads the STAGED IVFPQ index; the exact-gold
  // leg scans the corpus once per PINNED panel query (evalPanel —
  // O(panel · corpus), linear in the corpus).
  private val NdcgK = 10
  private val DcgWMicro = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)
  private def ndcgEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val shortlist = adcShortlist(ivfpqAdistStaged(s, d, queryMod = 50), PqShortlist)
    val approx = rerankTopK(emb, shortlist, evalPanel($"vec_id"), NdcgK)
      .select($"query_id", $"neighbor_id", $"rank".as("pos"))
    val gold = exactTopK(fullVectors(emb), NdcgK)
      .select($"query_id", $"neighbor_id",
        (lit(NdcgK + 1) - $"r").cast("long").as("rel"))
    val wArr = array(DcgWMicro.map(lit): _*)
    val dcg = approx
      .join(gold, Seq("query_id", "neighbor_id"), "left")
      .na.fill(0L, Seq("rel"))
      .groupBy($"query_id")
      .agg(sum($"rel" * element_at(wArr, $"pos")).as("dcg_scaled"))
    val wIde = Window.partitionBy($"query_id").orderBy($"rel".desc, $"neighbor_id")
    val idcg = gold
      .withColumn("pos", row_number().over(wIde))
      .groupBy($"query_id")
      .agg(sum($"rel" * element_at(wArr, $"pos")).as("idcg_scaled"))
    dcg.join(idcg, "query_id")
      .select($"query_id", $"dcg_scaled", $"idcg_scaled",
        expr("(dcg_scaled * 1000000) div idcg_scaled").as("ndcg_micro"))
      .orderBy($"query_id")
  }
  private val ndcgEvalSql = {
    val wts = DcgWMicro.zipWithIndex
      .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
    s"""WITH ${ivfpqAdistSql(queryMod = 50)},
       |${shortlistSql(PqShortlist)},
       |$fullvSql,
       |approx AS (SELECT query_id, neighbor_id, pos FROM (
       |${rerankRanksSql("pos")}) WHERE pos <= $NdcgK),
       |gold AS (SELECT query_id, neighbor_id,
       |    CAST(${NdcgK + 1} - r AS BIGINT) AS rel FROM (
       |$exactRanksSql) WHERE r <= $NdcgK),
       |wts AS (SELECT * FROM (VALUES $wts) t(pos, w)),
       |dcg AS (SELECT a.query_id,
       |    CAST(SUM(COALESCE(g.rel, 0) * w.w) AS BIGINT) AS dcg_scaled
       |  FROM approx a JOIN wts w USING (pos)
       |  LEFT JOIN gold g ON g.query_id = a.query_id
       |    AND g.neighbor_id = a.neighbor_id
       |  GROUP BY 1),
       |ide AS (SELECT g.query_id,
       |    CAST(SUM(g.rel * w.w) AS BIGINT) AS idcg_scaled FROM (
       |    SELECT query_id, neighbor_id, rel, row_number() OVER (
       |      PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS pos
       |    FROM gold) g JOIN wts w USING (pos)
       |  GROUP BY 1)
       |SELECT d.query_id, dcg_scaled, idcg_scaled,
       |  (dcg_scaled * 1000000) // idcg_scaled AS ndcg_micro
       |FROM dcg d JOIN ide ON ide.query_id = d.query_id
       |ORDER BY d.query_id""".stripMargin
  }

  // -- k-means corpus clustering report -------------------------------------
  // The curation primitive SemDeDup-style pipelines start from: partition
  // the embedding corpus into k centroids and report per-cluster mass +
  // within-cluster squared-distance (inertia). Reuses the IVF coarse
  // quantizer verbatim (seeded deterministic Lloyd, decimal means), so
  // the oracle replays training exactly; the inertia sum pairs the
  // proven-bit-equal l2sq kernel with a decimal-cast sum on both
  // engines. Scale: assignment is a broadcast-codebook map pass over
  // the corpus; the report is one groupBy(cell) — no pairwise joins.
  private def kmeansClusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.OracleMath.dsum
    // served from the STAGED ANN index: the coarse codebook and the
    // cell routing column of the code rows ARE this clustering (seeded
    // deterministic Lloyd — bit-identical to inline training, which is
    // why the oracle can keep replaying training from scratch); no
    // training job runs on the query path
    val root = annIndexRoot(s, d)
    val coarse = Tables.parquet(s, s"$root/coarse")
    val cells = Tables.parquet(s, s"$root/codes").select($"vec_id", $"cell_id")
    val csubs = pqSubsM(Tables.embeddings(s, d), 1, Dims)
    val cc = coarse.select($"cell_id", $"ce".as("cce"))
    cells
      .join(csubs.select($"vec_id", $"sub"), "vec_id")
      .join(broadcast(cc), "cell_id")
      .select($"cell_id", VectorOps.l2sq($"sub", $"cce").as("d2"))
      .groupBy($"cell_id")
      .agg(count(lit(1)).as("n"), dsum($"d2").as("inertia"))
      .orderBy($"cell_id")
  }
  /** Shared oracle CTE chain for whole-vector seeded Lloyd: csubs →
    * cc0 (seed grid) → ca0 (seed assignment) → cc1 (decimal-mean
    * centroids) → cells (final assignment). */
  private val coarseCellsCte =
    s"""csubs AS (
       |  SELECT vec_id, 0 AS m,
       |    list_transform(range(1, ${Dims + 1}),
       |      i -> CAST(embedding[i] AS DOUBLE)) AS sub
       |  FROM embeddings),
       |${pqTrainSql("cc0", "ca0", "cc1", "csubs", Dims)},
       |${pqAssignSql("cells", "vec_id, cell_id", "csubs", "cc1", Dims)}""".stripMargin

  /** DuckDB twin of [[pqTrainCodebook]] over the `subs` CTE (vec_id, m,
    * n-long sub): seed grid CTE `c0`, seed assignment `a0`,
    * decimal-mean codebook `c1`. `trainPred` restricts the training
    * rows (seeds and means) to those it accepts. */
  private def pqTrainSql(c0: String, a0: String, c1: String, subs: String, n: Int,
      trainPred: Option[String => String] = None): String = {
    val seedPred = trainPred.fold("")(p => s"\n         AND ${p("vec_id")}")
    s"""$c0 AS (SELECT m, vec_id AS cell_id, sub AS ce FROM $subs
       |       WHERE vec_id % $PqSeedMod = 3 AND vec_id < $PqSeedCap$seedPred),
       |${pqAssignSql(a0, "vec_id, m, cell_id", subs, c0, n, trainPred)},
       |$c1 AS (SELECT m, cell_id, list(mean ORDER BY i) AS ce FROM (
       |    SELECT a.m, a.cell_id, t.i,
       |      CAST(SUM(CAST(s.sub[t.i] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS mean
       |    FROM $a0 a JOIN $subs s ON a.vec_id = s.vec_id AND a.m = s.m,
       |         unnest(range(1, ${n + 1})) t(i)
       |    GROUP BY a.m, a.cell_id, t.i) GROUP BY m, cell_id)""".stripMargin
  }

  /** DuckDB twin of [[pqAssign]]: CTE `name` (`cols`) holding each
    * (vector, subspace) row of `subs` with its nearest `cb` entry. */
  private def pqAssignSql(name: String, cols: String, subs: String, cb: String, n: Int,
      trainPred: Option[String => String] = None): String = {
    val where = trainPred.fold("")(p => s"\n    WHERE ${p("s.vec_id")}")
    s"""$name AS (SELECT $cols FROM (
       |    SELECT s.vec_id, s.m, c.cell_id, row_number() OVER (
       |      PARTITION BY s.vec_id, s.m
       |      ORDER BY ${l2FastSql("s.sub", "c.ce", n)}, c.cell_id) AS rn
       |    FROM $subs s JOIN $cb c ON s.m = c.m$where) WHERE rn = 1)""".stripMargin
  }

  /** DuckDB twin of [[denseCells]]: `c1`'s cells renumbered onto the
    * dense seed grid as CTE `name`. */
  private def denseCellsSql(name: String, c1: String): String =
    s"""$name AS (SELECT m,
       |    3 + $PqSeedMod * (row_number() OVER (PARTITION BY m ORDER BY cell_id) - 1) AS cell_id,
       |    ce FROM $c1)""".stripMargin

  private val kmeansClustersSql = {
    import graft.OracleMath.sqlSum
    s"""WITH $coarseCellsCte
       |SELECT cl.cell_id, COUNT(*) AS n,
       |  ${sqlSum(l2sqSql("s.sub", "c.ce", Dims))} AS inertia
       |FROM cells cl
       |JOIN csubs s ON s.vec_id = cl.vec_id
       |JOIN cc1 c ON c.cell_id = cl.cell_id
       |GROUP BY cl.cell_id ORDER BY cl.cell_id""".stripMargin
  }

  // -- sim_mrl_recall: Matryoshka truncation quality --------------------------
  // Matryoshka representation learning (Kusupati et al. 2022) ships ONE
  // embedding whose PREFIXES are themselves usable embeddings; every
  // deployment choosing a truncation dim needs this readout first: at
  // prefix length m, what fraction of the full-dimension top-k does the
  // truncated cosine still retrieve? Gold = full-64-dim brute-force
  // top-3 (pinned (cos desc, id) order); each truncated leg is the same
  // brute-force scan over PREFIX slices — prefix dots/norms accumulate
  // in the same index order on both engines, so ranks are exact and the
  // whole readout hash-stable. n_hit is an integer semi-join count;
  // recall3 one IEEE division. Scale: each leg scans the corpus once
  // per PINNED panel query (evalPanel at stride MrlQueryMod —
  // O(panel · corpus), linear; the sim_bruteforce_topk shape with
  // broadcast queries, per-partition partial top-k, merged);
  // production swaps the staged ANN index into the legs and keeps the
  // same recall harness.
  private val MrlDims = Seq(8, 16, 32)
  private val MrlK = 3
  private val MrlQueryMod = 100
  private def mrlTopk(emb: DataFrame, m: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    def pre(c: org.apache.spark.sql.Column) =
      if (m >= Dims) c else slice(c, 1, m)
    val docs = emb.select($"vec_id".as("neighbor_id"),
      pre($"embedding").as("de"))
    val queries = emb.filter(evalPanel($"vec_id", MrlQueryMod))
      .select($"vec_id".as("query_id"), pre($"embedding").as("qe"))
    val partial = Window.partitionBy($"query_id", spark_partition_id())
      .orderBy($"cos".desc, $"neighbor_id")
    val global = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"neighbor_id")
    docs.crossJoin(broadcast(queries))
      .filter($"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id",
        VectorOps.cosine($"qe", $"de").as("cos"))
      .withColumn("pr", row_number().over(partial)).filter($"pr" <= MrlK)
      .withColumn("r", row_number().over(global)).filter($"r" <= MrlK)
      .select($"query_id", $"neighbor_id")
  }
  private def mrlRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    // checkpointed: the gold top-3 feeds one join per truncation leg
    val gold = mrlTopk(emb, Dims).localCheckpoint()
    MrlDims.map { m =>
      mrlTopk(emb, m)
        .join(gold.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct($"query_id").as("n_queries"),
          sum(coalesce($"hit", lit(0L))).as("n_hit"))
        .select(lit(m.toLong).as("m_dims"), $"n_queries", $"n_hit",
          round($"n_hit" / ($"n_queries" * MrlK).cast("double"), 6)
            .as("recall3"))
    }.reduce(_ unionByName _).orderBy($"m_dims")
  }
  private def dotSqlN(a: String, b: String, n: Int) =
    s"list_sum(list_transform(range(1, ${n + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def cosSqlN(a: String, b: String, n: Int) =
    s"(${dotSqlN(a, b, n)} / (sqrt(${dotSqlN(a, a, n)}) * sqrt(${dotSqlN(b, b, n)})))"
  private val mrlRecallSql = {
    def leg(m: Int) =
      s"""t$m AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${cosSqlN("q.qe", "e.embedding", m)} DESC, e.vec_id)
         |      AS r
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
         |  WHERE r <= $MrlK)""".stripMargin
    def agg(m: Int) =
      s"""SELECT CAST($m AS BIGINT) AS m_dims,
         |  COUNT(DISTINCT l.query_id) AS n_queries,
         |  CAST(SUM(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  round(CAST(SUM(CASE WHEN g.neighbor_id IS NOT NULL THEN 1
         |      ELSE 0 END) AS DOUBLE)
         |    / (COUNT(DISTINCT l.query_id) * $MrlK), 6) AS recall3
         |FROM t$m l LEFT JOIN t${Dims} g
         |  ON g.query_id = l.query_id AND g.neighbor_id = l.neighbor_id""".stripMargin
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
       |           FROM embeddings WHERE ${evalPanelSql("vec_id", MrlQueryMod)}),
       |${(MrlDims :+ Dims).map(leg).mkString(",\n")}
       |${MrlDims.map(agg).mkString("\nUNION ALL\n")}
       |ORDER BY m_dims""".stripMargin
  }

  // -- embedding outlier screen ----------------------------------------------
  // The noise/poisoning screen curation pipelines run after clustering
  // (the CLIP-filter analog for structureless metadata): a vector far
  // from its own centroid relative to the cell's spread is flagged.
  // Parity discipline is q_variance's: per-cell second moments over
  // 10⁻⁶-scaled INTEGER distances (exact, mergeable, order-free);
  // floats enter only in the final division/sqrt of exact integers,
  // and the flag compares identical doubles on both engines — the
  // subtraction form (d2 − mean > Z·std) needs no division and is
  // degenerate-safe for single-vector cells (0 > 0 = false). Z = 1.25
  // here: the synthetic embeddings are near-uniform (max observed z
  // ≈ 1.86), so the screen flags the ~2% tail; real embedding spaces
  // have heavier tails and run the same screen at 2-3σ.
  private def embeddingOutliers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // served from the STAGED ANN index (r12 verdict): the coarse
    // codebook and cell routing persist under annIndexRoot with a
    // content-fingerprint freshness key — re-training per query is the
    // wrong shape when the stored artifact exists. d2s is
    // localCheckpointed because it feeds TWO consumers (the per-cell
    // stats aggregate and the final outlier join); without it the whole
    // assignment pipeline executed twice per call.
    val root = annIndexRoot(s, d)
    val coarse = Tables.parquet(s, s"$root/coarse")
    val cells = Tables.parquet(s, s"$root/codes").select($"vec_id", $"cell_id")
    val csubs = pqSubsM(Tables.embeddings(s, d), 1, Dims)
    val cc = coarse.select($"cell_id", $"ce".as("cce"))
    val d2s = cells
      .join(csubs.select($"vec_id", $"sub"), "vec_id")
      .join(broadcast(cc), "cell_id")
      .select($"vec_id", $"cell_id", VectorOps.l2sq($"sub", $"cce").as("d2"))
      .localCheckpoint()
    val q = floor($"d2" * 1e6 + 0.5).cast("decimal(38,0)")
    val stats = d2s.select($"cell_id", q.as("q"))
      .groupBy($"cell_id")
      .agg(count(lit(1)).as("n"), sum($"q").as("s"), sum($"q" * $"q").as("qq"))
      .select($"cell_id",
        ($"s".cast("double") / $"n" / 1e6).as("mean_d2"),
        sqrt(($"n" * $"qq" - $"s" * $"s").cast("double")
          / ($"n" * $"n").cast("double") / 1e12).as("std_d2"))
    d2s.join(broadcast(stats), "cell_id")
      .filter($"d2" - $"mean_d2" > $"std_d2" * 1.25)
      .select($"vec_id", $"cell_id", round($"d2", 6).as("d26"))
      .orderBy($"vec_id")
  }
  private val embeddingOutliersSql =
    s"""WITH $coarseCellsCte,
       |d2s AS (SELECT cl.vec_id, cl.cell_id,
       |    ${l2sqSql("s.sub", "c.ce", Dims)} AS d2
       |  FROM cells cl
       |  JOIN csubs s ON s.vec_id = cl.vec_id
       |  JOIN cc1 c ON c.cell_id = cl.cell_id),
       |m AS (SELECT cell_id, COUNT(*) AS n,
       |    SUM(CAST(floor(d2 * 1e6 + 0.5) AS HUGEINT)) AS s,
       |    SUM(CAST(floor(d2 * 1e6 + 0.5) AS HUGEINT)
       |      * CAST(floor(d2 * 1e6 + 0.5) AS HUGEINT)) AS qq
       |  FROM d2s GROUP BY cell_id),
       |st AS (SELECT cell_id, CAST(s AS DOUBLE) / n / 1e6 AS mean_d2,
       |    sqrt(CAST(n * qq - s * s AS DOUBLE) / CAST(n * n AS DOUBLE) / 1e12)
       |      AS std_d2 FROM m)
       |SELECT d.vec_id, d.cell_id, round(d.d2, 6) AS d26
       |FROM d2s d JOIN st ON st.cell_id = d.cell_id
       |WHERE d.d2 - st.mean_d2 > st.std_d2 * CAST(1.25 AS DOUBLE)
       |ORDER BY d.vec_id""".stripMargin

  // -- #36f incremental ANN index update ------------------------------------
  // The ingest path of a stored ANN index: a NEW batch of vectors
  // (vec_id % 17 == 3 plays the arriving delta) is encoded against the
  // codebooks trained on the BASE corpus — cell assignment + residual
  // PQ codes are per-row map work against broadcast codebooks, no
  // retraining, no touch of the existing code rows — and the merged
  // code table serves queries immediately. This is how a 10⁹-vector
  // index absorbs a daily delta: training is amortized over the base
  // (codebooks drift slowly; FAISS re-trains offline on samples),
  // ingest cost is O(batch). Queries probe the merged index, so a
  // delta vector can BE a neighbor the moment it lands; the oracle
  // replays the same base-trained/all-encoded split in SQL, and the
  // spec pins that delta vectors actually surface as neighbors.
  private val IncMod = 17

  /** Encode `rows` against the given coarse + residual codebooks: cell
    * assignment, residuals, packed codes — per-row work against
    * broadcast state, no training. The same [[residualCodes]] encoding
    * [[ivfpqTrain]] writes for its training rows. */
  private[graft] def ivfpqEncode(rows: DataFrame, coarse: DataFrame,
      c1: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    val cells = pqAssign(pqSubsM(rows, 1, Dims), coarse)
      .select($"vec_id", $"cell_id")
    residualCodes(cellResiduals(rows, cells, coarse), cells, c1)
  }

  /** The BASE rows of the incremental split: everything but the
    * arriving delta (vec_id % IncMod == 3). */
  private[graft] def incBase(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % IncMod =!= 3)

  /** Stage the BASE-trained index ([[ivfpqTrain]] over [[incBase]]:
    * codebooks + base code rows) once per dataset — the pre-existing
    * index an arriving delta batch lands in. Same freshness discipline
    * as [[annIndexRoot]]. */
  private[graft] def annIncRoot(s: SparkSession, d: String): String =
    Staging.once("annb_", d, Seq("embeddings"), "v1-ivfpq-base") { tmp =>
      annTrainRuns.incrementAndGet()
      writeIvfpq(ivfpqTrain(incBase(Tables.embeddings(s, d))), tmp)
    }

  private def annIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = annIncRoot(s, d)
    val coarse = Tables.parquet(s, s"$root/coarse")
    val c1 = Tables.parquet(s, s"$root/pqcodebook")
    val emb = Tables.embeddings(s, d)
    // the arriving batch: encoded against the STORED codebooks — cell
    // assignment + residual codes are per-row map work, O(batch), no
    // training job — and unioned with the stored base code rows
    val delta = emb.filter($"vec_id" % IncMod === 3)
    val codes = Tables.parquet(s, s"$root/codes")
      .unionByName(ivfpqEncode(delta, coarse, c1))
    val probed = ivfpqProbeCells(
      pqSubsM(emb.filter($"vec_id" % 50 === 0), 1, Dims), coarse)
    pqRerank(emb, adcShortlist(
      ivfpqProbeOver(emb, coarse, c1, codes, probed, queryMod = 50), PqShortlist))
  }

  private val annIncrementalSql =
    s"""WITH ${ivfpqAdistSql(queryMod = 50, trainPred = c => s"$c % $IncMod <> 3")},
       |${shortlistSql(PqShortlist)},
       |$fullvSql,
       |${rerankSql("shortlist")}""".stripMargin

  /** Spec instrumentation: mean |ADC − true L2²| over every (query,
    * candidate) pair in the 2 probed cells of each vec_id % 50 == 0
    * query — the quantization-error number residual encoding exists to
    * shrink. Both trainers run inline (nothing is staged): `residual =
    * true` scores the production encoding; `false` PQ-encodes raw
    * vectors at the identical code budget, routed by the same coarse
    * cells, on per-query wide distance tables (the pre-r6 shape). */
  private[graft] def adcError(s: SparkSession, d: String, residual: Boolean): Double = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val (coarse, c1, codes) = ivfpqTrain(emb)
    val probed = ivfpqProbeCells(pqSubsM(emb.filter($"vec_id" % 50 === 0), 1, Dims), coarse)
    val adist =
      if (residual) ivfpqProbeOver(emb, coarse, c1, codes, probed, queryMod = 50)
      else {
        val (rawC1, rawCodes) = pqTrain(emb)
        probed.join(rawCodes.join(codes.select($"vec_id", $"cell_id"), "vec_id"), "cell_id")
          .filter($"vec_id" =!= $"query_id")
          .join(broadcast(pqDtabWide(pqSubs(emb), rawC1)), Seq("query_id"))
          .select($"query_id", $"vec_id".as("neighbor_id"),
            graft.functions.GraftFunctions.adc_sum($"code", $"tab").as("adist"))
      }
    val full = fullVectors(emb)
    val qfull = full.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"fe".as("qe"))
    adist
      .join(full.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(qfull), Seq("query_id"))
      .select(abs($"adist" - VectorOps.l2sq($"qe", $"fe")).as("err"))
      .agg(avg($"err")).head().getDouble(0)
  }

  /** Sub-split an (idCols..., rv: array<double>) residual table into
    * (idCols..., m, sub, sn) — [[pqSubsM]] for already-double vectors
    * with arbitrary key columns. */
  private def resSubs(df: DataFrame, idCols: Seq[String]): DataFrame = {
    import df.sparkSession.implicits._
    df.select(idCols.map(col) :+
      posexplode(array((0 until PqM).map(m =>
        expr(s"slice(rv, ${m * PqSub + 1}, $PqSub)")): _*)).as(Seq("m", "sub")): _*)
      .withColumn("sn", VectorOps.dot($"sub", $"sub"))
  }

  /** Per-(query, probed cell) residual ADC tables tab[m][j]: the query's
    * residual AGAINST THAT CELL scored once per (subspace, codebook
    * entry). Rows = queries × probes — broadcastable by construction. */
  private def resDtab(emb: DataFrame, probed: DataFrame, coarse: DataFrame,
      codebook: DataFrame, queryMod: Int): DataFrame = {
    import emb.sparkSession.implicits._
    val qfv = fullVectors(emb.filter($"vec_id" % queryMod === 0))
      .withColumnRenamed("vec_id", "query_id")
    val qres = withResidual(probed.join(broadcast(qfv), "query_id"), coarse)
      .select($"query_id", $"cell_id".as("pcell"), $"rv")
    resSubs(qres, Seq("query_id", "pcell"))
      .join(broadcast(codebook.withColumn("cn", VectorOps.dot($"ce", $"ce"))), Seq("m"))
      .select($"query_id", $"pcell", $"m",
        (($"cell_id" - 3) / PqSeedMod).cast("int").as("j"),
        l2Fast($"sn", $"sub", $"ce", $"cn").as("part"))
      .groupBy($"query_id", $"pcell", $"m")
      .agg(expr("transform(array_sort(collect_list(struct(j, part))), p -> p.part)").as("trow"))
      .groupBy($"query_id", $"pcell")
      .agg(expr("transform(array_sort(collect_list(struct(m, trow))), p -> p.trow)").as("tab"))
  }

  private val annPqSql = {
    val sub = PqSub
    s"""WITH subs AS (
       |  SELECT vec_id, t.m,
       |    list_transform(range(1, ${sub + 1}),
       |      i -> CAST(embedding[t.m * $sub + i] AS DOUBLE)) AS sub
       |  FROM embeddings, unnest(range(0, $PqM)) t(m)),
       |${pqTrainSql("c0", "a0", "c1", "subs", sub)},
       |${denseCellsSql("c1d", "c1")},
       |${pqAssignSql("codes", "vec_id, m, cell_id", "subs", "c1d", sub)},
       |q AS (SELECT vec_id AS query_id, m, sub AS qsub FROM subs
       |      WHERE ${evalPanelSql("vec_id")}),
       |codesw AS (
       |  SELECT vec_id, list((cell_id - 3) // $PqSeedMod ORDER BY m) AS code
       |  FROM codes GROUP BY vec_id),
       |dtab AS (
       |  SELECT q.query_id, q.m, (c.cell_id - 3) // $PqSeedMod AS j,
       |    ${l2FastSql("q.qsub", "c.ce", sub)} AS part
       |  FROM q JOIN c1d c ON q.m = c.m),
       |tabw AS (SELECT query_id, m, list(part ORDER BY j) AS trow
       |         FROM dtab GROUP BY query_id, m),
       |tabq AS (SELECT query_id, list(trow ORDER BY m) AS tab
       |         FROM tabw GROUP BY query_id),
       |adist AS (
       |  SELECT t.query_id, c.vec_id,
       |    list_sum(list_transform(range(1, ${PqM + 1}),
       |      i -> tab[i][code[i] + 1])) AS adist
       |  FROM codesw c, tabq t WHERE c.vec_id <> t.query_id),
       |${shortlistSql(PqShortlist)},
       |$fullvSql,
       |${rerankSql("shortlist")}""".stripMargin
  }

  /** The IVF×PQ candidate machinery (coarse Lloyd train → cell assign →
    * top-2 probe → residual PQ codebooks/codes → per-(query, cell) ADC
    * tables) as a DuckDB CTE chain ending in
    * `adist(query_id, vec_id, adist)` — the SQL replay of
    * [[ivfpqTrain]] + [[ivfpqProbeOver]]. Shared by the sim_ann_ivfpq
    * oracle, q_hybrid_rrf's dense leg (different query sets via
    * `queryMod`; corpus-side training identical) and
    * sim_ann_incremental (`trainPred` restricts the TRAINING rows —
    * seeds and Lloyd means — while encoding still covers every vector,
    * the incremental-ingest split). */
  private def ivfpqAdistSql(queryMod: Int,
      trainPred: String => String = _ => "TRUE"): String = {
    val sub = PqSub
    s"""csubs AS (
       |  SELECT vec_id, t.m,
       |    list_transform(range(1, ${Dims + 1}),
       |      i -> CAST(embedding[i] AS DOUBLE)) AS sub
       |  FROM embeddings, unnest(range(0, 1)) t(m)),
       |${pqTrainSql("cc0", "ca0", "cc1", "csubs", Dims, Some(trainPred))},
       |${pqAssignSql("cells", "vec_id, cell_id", "csubs", "cc1", Dims)},
       |probed AS (
       |  SELECT query_id, cell_id FROM (
       |    SELECT s.vec_id AS query_id, c.cell_id,
       |      row_number() OVER (PARTITION BY s.vec_id
       |        ORDER BY ${l2FastSql("s.sub", "c.ce", Dims)}, c.cell_id) AS rn
       |    FROM csubs s JOIN cc1 c ON s.m = c.m
       |    WHERE s.vec_id % $queryMod = 0) WHERE rn <= 2),
       |resv AS (
       |  SELECT e.vec_id, cl.cell_id,
       |    list_transform(range(1, ${Dims + 1}),
       |      i -> CAST(e.embedding[i] AS DOUBLE) - c.ce[i]) AS rv
       |  FROM embeddings e
       |  JOIN cells cl ON e.vec_id = cl.vec_id
       |  JOIN cc1 c ON cl.cell_id = c.cell_id),
       |subs AS (
       |  SELECT vec_id, t.m,
       |    list_transform(range(1, ${sub + 1}), i -> rv[t.m * $sub + i]) AS sub
       |  FROM resv, unnest(range(0, $PqM)) t(m)),
       |${pqTrainSql("pc0", "pa0", "pc1r", "subs", sub, Some(trainPred))},
       |${denseCellsSql("pc1", "pc1r")},
       |${pqAssignSql("pcodes", "vec_id, m, cell_id", "subs", "pc1", sub)},
       |codesw AS (
       |  SELECT vec_id, list((cell_id - 3) // $PqSeedMod ORDER BY m) AS code
       |  FROM pcodes GROUP BY vec_id),
       |qres AS (
       |  SELECT p.query_id, p.cell_id AS pcell,
       |    list_transform(range(1, ${Dims + 1}),
       |      i -> CAST(e.embedding[i] AS DOUBLE) - c.ce[i]) AS rv
       |  FROM probed p
       |  JOIN embeddings e ON e.vec_id = p.query_id
       |  JOIN cc1 c ON c.cell_id = p.cell_id),
       |qs AS (SELECT query_id, pcell, t.m,
       |    list_transform(range(1, ${sub + 1}), i -> rv[t.m * $sub + i]) AS qsub
       |  FROM qres, unnest(range(0, $PqM)) t(m)),
       |dtab AS (
       |  SELECT q.query_id, q.pcell, q.m, (c.cell_id - 3) // $PqSeedMod AS j,
       |    ${l2FastSql("q.qsub", "c.ce", sub)} AS part
       |  FROM qs q JOIN pc1 c ON q.m = c.m),
       |tabw AS (SELECT query_id, pcell, m, list(part ORDER BY j) AS trow
       |         FROM dtab GROUP BY query_id, pcell, m),
       |tabq AS (SELECT query_id, pcell, list(trow ORDER BY m) AS tab
       |         FROM tabw GROUP BY query_id, pcell),
       |adist AS (
       |  SELECT p.query_id, cw.vec_id,
       |    list_sum(list_transform(range(1, ${PqM + 1}),
       |      i -> tab[i][code[i] + 1])) AS adist
       |  FROM probed p
       |  JOIN cells cl ON cl.cell_id = p.cell_id
       |  JOIN codesw cw ON cw.vec_id = cl.vec_id
       |  JOIN tabq t ON t.query_id = p.query_id AND t.pcell = p.cell_id
       |  WHERE cw.vec_id <> p.query_id)""".stripMargin
  }

  // -- sim_ann_filtered: metadata-filtered vector search ---------------------
  // The production feature plain ANN lacks: top-k under a metadata
  // predicate (here: neighbors sharing the QUERY's label — the
  // same-tenant / same-language restriction every vector store fields).
  // Strategy is post-filter with a widened candidate stage: the ADC
  // shortlist keeps 3× the unfiltered depth (the predicate keeps ~1/3
  // of candidates at 3 labels, so the expected filtered depth matches
  // the unfiltered query's), labels join on the SHORTLIST (query-
  // proportional, never the corpus), and the exact re-rank runs on the
  // filtered survivors. At 100 TB with selective predicates the index
  // itself partitions by the filter column (per-label cell lists) so
  // probing prunes instead of post-filtering — this op is the
  // post-filter half that stays correct for ANY ad-hoc predicate.
  private def annFiltered(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val labels = emb.select($"vec_id", $"label")
    val filtered = adcShortlist(ivfpqAdistStaged(s, d, queryMod = 50), PqShortlist * 3)
      .join(labels.select($"vec_id".as("neighbor_id"), $"label".as("nl")),
        "neighbor_id")
      .join(broadcast(labels.filter($"vec_id" % 50 === 0)
        .select($"vec_id".as("query_id"), $"label".as("ql"))), "query_id")
      .filter($"nl" === $"ql")
      .select($"query_id", $"neighbor_id")
    pqRerank(emb, filtered)
  }
  private val annFilteredSql =
    s"""WITH ${ivfpqAdistSql(queryMod = 50)},
       |${shortlistSql(PqShortlist * 3)},
       |lbl AS (SELECT vec_id, label FROM embeddings),
       |filtered AS (SELECT s.query_id, s.neighbor_id FROM shortlist s
       |  JOIN lbl nl ON nl.vec_id = s.neighbor_id
       |  JOIN lbl ql ON ql.vec_id = s.query_id
       |  WHERE nl.label = ql.label),
       |$fullvSql,
       |${rerankSql("filtered")}""".stripMargin

  private val annIvfPqSql =
    s"""WITH ${ivfpqAdistSql(queryMod = 50)},
       |${shortlistSql(PqShortlist)},
       |$fullvSql,
       |${rerankSql("shortlist")}""".stripMargin

  // -- q_hybrid_rrf: hybrid lexical+dense retrieval, RRF fusion ------------
  // The two retrieval legs this library already provides — BM25-style
  // lexical scoring (q_bm25's formula, here in more-like-this form: the
  // query is a document's own term set) and dense cosine over the
  // embedding column — fused by Reciprocal Rank Fusion
  // (Cormack/Clarke/Buettcher 2009): score(d) = Σ_legs 1/(K + rank_leg(d)),
  // K = 60. Shapes for 100 TB:
  //  - each leg is truncated to its per-query top-`LegDepth` BEFORE
  //    fusion, so fusion state is O(queries × depth) regardless of
  //    corpus size (the standard RRF@depth discipline);
  //  - the corpus-side term-frequency table is computed ONCE and shared
  //    across queries; query term sets and df are broadcast;
  //  - the dense leg broadcasts the query vectors and streams the
  //    corpus exactly like sim_bruteforce_topk (at larger query counts
  //    the partial-top-k-per-partition trick applies unchanged);
  //  - fusion itself is a small outer join on (query_id, doc_id).
  // Parity: ranks are computed from decimal-rounded lexical sums (the
  // q_bm25 discipline) and raw cosine (bit-stable, proven by
  // sim_bruteforce_topk); the fused score is an exact scaled-integer
  // reciprocal rank floor(10^12/(K+r)) — `div` / `//` — so the output
  // carries no float column at all. A doc absent from one leg
  // contributes 0 from that leg (rank emitted as 0 = "beyond depth").
  private val RrfK = 60
  private val RrfScale = 1000000000000L
  private val LegDepth = 100
  private val HybridTopK = 10
  private val QTerms = 12
  private val LexBuckets = 32

  /** Spec instrumentation: number of times the lexical (BM25) index was
    * actually built (staging misses). Query runs after staging must
    * leave this unchanged — zero tokenize jobs on the query path. */
  private[graft] val lexStageRuns = new java.util.concurrent.atomic.AtomicLong(0)

  private def lexTableName(kind: String, dirKey: String): String =
    s"graft_lex_${kind}_" + dirKey.map(c => if (c.isLetterOrDigit) c else '_')

  /** Stage the BM25 lexical index ONCE per dataset — the retrieval-side
    * twin of [[annIndexRoot]]: the corpus is tokenized and aggregated a
    * single time, and everything a scoring run needs persists as
    * TOK-BUCKETED tables (the postings-partitioned-by-term layout every
    * production index uses):
    *  - `tf` (tok, doc_id, tf, dl): postings with the document length
    *    DENORMALIZED onto each row — Lucene stores per-doc norms with
    *    the index for the same reason — so scoring never joins a
    *    corpus-proportional doc-length table (the r9 `broadcast(dl)`
    *    scale-killer this replaces: at 100× corpus a broadcast of
    *    N_docs rows is a driver/executor OOM);
    *  - `df` (tok, df): per-term document frequency;
    *  - `stats`: one row (n_docs, avgdl).
    * Bucketing both tables on `tok` (32 buckets, catalog-registered)
    * makes every index-side join co-located: query runs shuffle only
    * query-proportional relations. Same [[Tables.stagingKey]] freshness
    * discipline as the ANN index. Returns (root, tfTable, dfTable). */
  private[graft] def lexIndexRoot(s: SparkSession, d: String): (String, String, String) = {
    import s.implicits._
    val dirKey = Tables.stagingKey(d, "documents")._1
    val tfT = lexTableName("tf", dirKey)
    val dfT = lexTableName("df", dirKey)
    val root = Staging.once("lex_", d, Seq("documents"), "v1-bm25-postings") { tmp =>
      lexStageRuns.incrementAndGet()
      // ONE tokenize pass at staging time; all three index tables derive
      // from the (doc, tok, tf) aggregate (the tfidf lesson — separate
      // branches off the raw explode would each re-scan the corpus)
      val tfAll = Tables.documents(s, d)
        .select($"doc_id", explode(TextPrep.words($"text")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val dl = tfAll.groupBy($"doc_id").agg(sum($"tf").as("dl"))
      // bucketed writes go through throwaway catalog names into the
      // private temp dir; publish swaps the whole index into place and
      // the final names re-register over it
      dl.agg(count(lit(1)).as("n_docs"), avg($"dl").as("avgdl"))
        .write.mode("overwrite").parquet(s"$tmp/stats")
      val buildTag = java.lang.Long.toHexString(System.nanoTime())
      // postings ⋈ dl co-partitions on doc_id — a one-time staging
      // shuffle that buys every future scoring run its dl column for free
      tfAll.join(dl, "doc_id")
        .select($"tok", $"doc_id", $"tf", $"dl")
        .write.mode("overwrite").option("path", s"$tmp/tf")
        .bucketBy(LexBuckets, "tok").sortBy("tok").saveAsTable(s"graft_lex_build_tf_$buildTag")
      tfAll.groupBy($"tok").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").option("path", s"$tmp/df")
        .bucketBy(LexBuckets, "tok").sortBy("tok").saveAsTable(s"graft_lex_build_df_$buildTag")
      s.sql(s"DROP TABLE IF EXISTS graft_lex_build_tf_$buildTag")
      s.sql(s"DROP TABLE IF EXISTS graft_lex_build_df_$buildTag")
      // a restage must also drop final-name registrations that still
      // point at the replaced files
      s.sql(s"DROP TABLE IF EXISTS $tfT")
      s.sql(s"DROP TABLE IF EXISTS $dfT")
    }
    // (re-)register the final names; a warm hit in a fresh session finds
    // the files staged but unknown to the session catalog
    def register(name: String, cols: String, dir: String): Unit =
      if (!s.catalog.tableExists(name))
        s.sql(s"""CREATE TABLE $name ($cols) USING PARQUET
                 |CLUSTERED BY (tok) SORTED BY (tok) INTO $LexBuckets BUCKETS
                 |LOCATION '$root/$dir'""".stripMargin)
    register(tfT, "tok STRING, doc_id BIGINT, tf BIGINT, dl BIGINT", "tf")
    register(dfT, "tok STRING, df BIGINT", "df")
    (root, tfT, dfT)
  }

  private def hybridRrf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.OracleMath.dsum
    val k1 = 1.2; val b = 0.75
    // lexical leg SERVED FROM THE STORED INDEX (r10): no tokenize job
    // runs on the query path — postings (with dl denormalized), df and
    // corpus stats read back from the tok-bucketed staged tables
    val (root, tfT, dfT) = lexIndexRoot(s, d)
    val tf = s.table(tfT)     // (tok, doc_id, tf, dl), bucketed by tok
    val dfa = s.table(dfT)    // (tok, df), bucketed by tok
    val stats = Tables.parquet(s, s"$root/stats")
    // more-like-this queries keep only the QTerms most DISTINCTIVE
    // terms of the query doc (lowest corpus df, tie on token) — the
    // standard bound that keeps the scoring join O(queries × docs ×
    // QTerms) instead of growing with document vocabulary. qall ⋈ df is
    // bucket-co-located (both sides live tok-partitioned): no exchange,
    // no broadcast of the corpus-coupled term-set relation (the r9
    // `broadcast(qall)` audit item).
    val qall = tf.filter($"doc_id" % 100 === 0)
      .select($"doc_id".as("query_id"), $"tok")
    val selW = Window.partitionBy($"query_id").orderBy($"df", $"tok")
    // SHUFFLE_HASH hints everywhere an index table joins: without them
    // the static planner sees the index tables' small-at-this-SF file
    // sizes and BROADCASTS the corpus-proportional postings relation —
    // a single-threaded 2M-entry hash build locally (measured 3.3 s of
    // a 4.8 s run) and an executor OOM at 100× corpus. The hinted plan
    // is size-independent: both index tables are read in place (their
    // tok-bucketing satisfies the join's required distribution — zero
    // exchange), the hinted build side is the per-bucket slice of the
    // smaller relation, and only query-proportional rows ever move.
    // idf and avgdl attach to the QUERY-TERM relation (599 rows at
    // sf0.1), not to the scoring join's output (~2M posting matches):
    // the former 2M-row path re-joined df, cross-joined stats and
    // evaluated log() once per posting match (measured: the scoring
    // stage carried 13.9 s of its 22 s CPU). Same doubles through the
    // same operation order, so every contrib is bit-identical — the
    // log's operands are (n_docs, df) exactly as before.
    val qtoks = qall.join(dfa.hint("shuffle_hash"), "tok")
      .withColumn("tr", row_number().over(selW)).filter($"tr" <= QTerms)
      .crossJoin(broadcast(stats))
      .select($"query_id", $"tok",
        log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0).as("idf"),
        $"avgdl")
    val lexW = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id")
    // scoring: postings stay put (bucketed side of the tok join); only
    // the query-proportional qtoks relation shuffles to the bucket
    // layout and builds the per-partition hash side. Scoring df ==
    // staged df because the restricted postings contain every row of
    // each selected term.
    val lex = tf.join(qtoks.hint("shuffle_hash"), "tok")
      .filter($"doc_id" =!= $"query_id")
      .withColumn("contrib",
        $"idf" *
          ($"tf" * (k1 + 1.0)) /
          ($"tf" + lit(k1) * (lit(1.0 - b) + lit(b) * $"dl" / $"avgdl")))
      .select($"query_id", $"doc_id", $"contrib")
      // shuffle the raw contribs to the group layout BEFORE aggregating:
      // inside a tok bucket (query, doc) pairs are ~unique (a pair
      // recurs only via different toks, which live in other buckets), so
      // the pre-shuffle partial agg built a posting-matches-sized
      // hashmap that combined nothing (measured: rows into the exchange
      // == rows out of the scoring join). Partitioned by the group key
      // first, partial+final aggregation run post-shuffle where
      // combining actually works; decimal sums are exact and
      // order-insensitive, so the score is unchanged.
      .repartition($"query_id", $"doc_id")
      // dsum at decimal(8,6) instead of (18,6): a BM25 term contribution
      // is idf × tf-norm < 100 for any corpus under e^45 docs (idf ≤
      // ln(2·n_docs), tf-norm ≤ k1+1), so the narrow cast is lossless
      // and the same HALF_UP rounding yields the identical decimal —
      // but sum(decimal(8,6)) stays at decimal(18,6), which fits a LONG
      // aggregation buffer; (18,6) summed to (28,6), a heap BigDecimal
      // per group (measured: the dominant CPU of the scoring
      // aggregation). Final value and output type (double) unchanged.
      .groupBy($"query_id", $"doc_id")
      // r18: the decimal(8,6) cast allocated a BigDecimal per posting
      // match (Spark's double->decimal rounds the SHORTEST-REPR string
      // via BigDecimal.valueOf) -- measured ~5 cpu-s of the two scoring
      // stages at sf0.1. floor(x*1e6 + 0.5) is the same HALF_UP at 6dp
      // computed on the BINARY double (exactly the oracle's own
      // double->decimal rounding), pure codegen arithmetic, summed as
      // an exact long (contrib <= 100 per term keeps any realistic sum
      // far inside 2^63). sum_micros/1e6 in one IEEE division equals
      // decimal(18,6).toDouble bit-for-bit (sum_micros < 2^53 is exact
      // as a double and both return the closest double to the exact
      // quotient). Verified value+hash-identical against the oracle at
      // sf0.001/0.01/0.1.
      .agg(sum(floor($"contrib" * 1e6 + 0.5).cast("long")).as("sm"))
      .withColumn("score", $"sm" / lit(1e6))
      .withColumn("lex_rank", row_number().over(lexW))
      .filter($"lex_rank" <= LegDepth)
      .select($"query_id", $"doc_id", $"lex_rank")
    val emb = Tables.embeddings(s, d)
    val qv = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    // dense leg SERVED FROM THE ANN INDEX, not a corpus scan: the same
    // IVF×PQ machinery as sim_ann_ivfpq routes each query to its 2
    // probed coarse cells, ADC-ranks the cells' code rows, and only the
    // top-LegDepth shortlist is fetched as full vectors for the exact
    // cosine re-rank. Per query the plan touches corpus×(probes/cells)
    // 16-byte code rows + ≤ LegDepth full vectors — NOT the N²/100
    // all-pairs crossJoin of the brute-force leg, which is the part
    // that dies at 100× corpus. The oracle replays the identical probe
    // (ivfpqAdistSql below), so leg parity is by construction.
    val shortd = adcShortlist(ivfpqAdistStaged(s, d, queryMod = 100), LegDepth)
      .withColumnRenamed("neighbor_id", "doc_id")
    val denseW = Window.partitionBy($"query_id").orderBy($"cos".desc, $"doc_id")
    // no forced broadcast on qv: the query-vector relation is
    // corpus-coupled in this synthetic setup (vec_id % 100), so the
    // hint is left to AQE — it broadcasts when the runtime size is
    // genuinely small and shuffle-joins when it is not
    val dense = shortd
      .join(emb.select($"vec_id".as("doc_id"), $"embedding"), "doc_id")
      .join(qv, "query_id")
      .select($"query_id", $"doc_id",
        VectorOps.cosine($"qe", $"embedding").as("cos"))
      .withColumn("vec_rank", row_number().over(denseW))
      .filter($"vec_rank" <= LegDepth)
      .select($"query_id", $"doc_id", $"vec_rank")
    rrfFuse(lex, dense)
  }

  private[graft] val RrfLegDepth: Int = LegDepth

  /** RRF fusion of two per-query ranked legs (query_id, doc_id,
    * lex_rank / vec_rank). Entries beyond LegDepth contribute nothing
    * and are dropped ON ENTRY — in the query path the legs arrive
    * pre-truncated so the guard is a no-op predicate, but it makes the
    * O(queries × depth) fusion-state bound structural: fused output is
    * invariant to whatever a leg hands in past its top-LegDepth
    * (Round9Spec pins this). A doc absent from one leg contributes 0
    * from that leg (rank 0 = "beyond depth"). */
  private[graft] def rrfFuse(lex: DataFrame, dense: DataFrame): DataFrame = {
    import lex.sparkSession.implicits._
    val fusedW = Window.partitionBy($"query_id").orderBy($"rrf".desc, $"doc_id")
    lex.filter($"lex_rank" <= LegDepth)
      .join(dense.filter($"vec_rank" <= LegDepth), Seq("query_id", "doc_id"), "full_outer")
      .na.fill(0, Seq("lex_rank", "vec_rank"))
      .withColumn("rrf",
        expr(s"CAST(CASE WHEN lex_rank > 0 THEN $RrfScale div ($RrfK + lex_rank) ELSE 0 END AS BIGINT) + " +
          s"CAST(CASE WHEN vec_rank > 0 THEN $RrfScale div ($RrfK + vec_rank) ELSE 0 END AS BIGINT)"))
      .withColumn("rank", row_number().over(fusedW))
      .filter($"rank" <= HybridTopK)
      .select($"query_id", $"rank".cast("long").as("rank"), $"doc_id",
        $"lex_rank".cast("long").as("lex_rank"),
        $"vec_rank".cast("long").as("vec_rank"), $"rrf")
      .orderBy($"query_id", $"rank")
  }
  private val hybridRrfSql =
    s"""WITH toks AS (SELECT doc_id, unnest(${TextPrep.wordsSql}) AS tok FROM documents),
       |t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
       |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
       |dfa AS (SELECT tok, COUNT(DISTINCT doc_id) AS dfa FROM t GROUP BY tok),
       |qall AS (SELECT DISTINCT doc_id AS query_id, tok FROM t WHERE doc_id % 100 = 0),
       |qtoks AS (SELECT query_id, tok FROM (
       |    SELECT q.query_id, q.tok, row_number() OVER (
       |      PARTITION BY q.query_id ORDER BY dfa.dfa, q.tok) AS tr
       |    FROM qall q JOIN dfa ON dfa.tok = q.tok) WHERE tr <= $QTerms),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t
       |       WHERE tok IN (SELECT DISTINCT tok FROM qtoks) GROUP BY doc_id, tok),
       |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |lexsc AS (SELECT q.query_id, tf.doc_id,
       |    CAST(SUM(CAST(
       |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
       |        (tf * (1.2 + 1.0)) /
       |        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))
       |      AS DECIMAL(18,6))) AS DOUBLE) AS score
       |  FROM tf JOIN dfreq ON tf.tok = dfreq.tok
       |  JOIN qtoks q ON tf.tok = q.tok AND tf.doc_id <> q.query_id
       |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
       |  GROUP BY q.query_id, tf.doc_id),
       |lex AS (SELECT query_id, doc_id, lex_rank FROM (
       |    SELECT query_id, doc_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS lex_rank
       |    FROM lexsc) WHERE lex_rank <= $LegDepth),
       |qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |       WHERE vec_id % 100 = 0),
       |${ivfpqAdistSql(queryMod = 100)},
       |shortd AS (SELECT query_id, vec_id AS doc_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY adist, vec_id) AS srank
       |    FROM adist) WHERE srank <= $LegDepth),
       |densesc AS (SELECT s.query_id, s.doc_id,
       |    ${VectorOps.cosineSql("qv.qe", "e.embedding")} AS cos
       |  FROM shortd s JOIN embeddings e ON e.vec_id = s.doc_id
       |  JOIN qv ON qv.query_id = s.query_id),
       |dense AS (SELECT query_id, doc_id, vec_rank FROM (
       |    SELECT query_id, doc_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, doc_id) AS vec_rank
       |    FROM densesc) WHERE vec_rank <= $LegDepth),
       |fused AS (SELECT
       |    COALESCE(lex.query_id, dense.query_id) AS query_id,
       |    COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
       |    COALESCE(lex_rank, 0) AS lex_rank,
       |    COALESCE(vec_rank, 0) AS vec_rank,
       |    CAST(CASE WHEN COALESCE(lex_rank, 0) > 0
       |         THEN $RrfScale // ($RrfK + lex_rank) ELSE 0 END AS BIGINT) +
       |    CAST(CASE WHEN COALESCE(vec_rank, 0) > 0
       |         THEN $RrfScale // ($RrfK + vec_rank) ELSE 0 END AS BIGINT) AS rrf
       |  FROM lex FULL OUTER JOIN dense
       |    ON lex.query_id = dense.query_id AND lex.doc_id = dense.doc_id)
       |SELECT query_id, rank, doc_id, lex_rank, vec_rank, rrf FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
       |  FROM fused) WHERE rank <= $HybridTopK
       |ORDER BY query_id, rank""".stripMargin

  // -- q_rerank_crossenc: late-interaction reranking of retrieval output ----
  // The third retrieval stage production search runs after the
  // bi-encoder/BM25 candidate pass: a CROSS-ENCODER rescores the few
  // top candidates per query with features computed over BOTH token
  // sequences JOINTLY — here a deterministic late-interaction scorer
  // (the ColBERT-style shape with an exact-integer interaction in place
  // of a learned model; the heavy neural scorer would slot into the
  // same plumbing): for every candidate pair, over the tokens shared by
  // query and document,
  //   score = Σ_t [ S div (1 + df_t)            (rarity: IDF-ish)
  //               + S div (1 + |p1_q(t) − p1_d(t)|) ]  (positional
  //                 alignment of first occurrences — an interaction
  //                 feature NO bag-of-words / pooled-vector leg can
  //                 express, which is the whole point of the stage).
  // 100 TB shape — the defining property of reranking: cost is
  // O(queries × HybridTopK × tokens-per-doc), INDEPENDENT of corpus
  // size. Candidates come from the staged hybrid pipeline; raw text is
  // fetched by a candidate-proportional semi-join (rerankers pull the
  // full text of only the shortlist); df reads the staged BM25 df
  // table. Everything is exact integers — no float drifts.
  private val CrossScale = 1000000L
  private val CrossTopK = 5

  /** Spec instrumentation: number of times the full hybrid retrieval
    * pipeline actually executed to (re)build the staged candidate list.
    * A warm rerank call must leave this unchanged. */
  private[graft] val hybridBuildRuns =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** The fused hybrid candidate list STAGED under the content-
    * fingerprint lifecycle (the r12 verdict's bench-hygiene item #4,
    * and the production shape: rerankers read a candidate LOG of
    * queries × top-k rows — they never re-run retrieval per call).
    * Freshness is keyed on BOTH source tables' fingerprints (the
    * lexical leg hangs off documents, the dense leg off embeddings);
    * either table regenerating forces a restage. Retention records the
    * documents fingerprint — a stale dir is replaced in place on the
    * next access via the format-marker mismatch. */
  private[graft] def hybridFusedRoot(s: SparkSession, d: String): String = {
    Staging.once("hyb_", d, Seq("documents", "embeddings"), "v1-hybrid-fused") { tmp =>
      hybridBuildRuns.incrementAndGet()
      hybridRrf(s, d).write.mode("overwrite").parquet(s"$tmp/fused")
    }
  }

  private def rerankCrossenc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the candidate list (queries × HybridTopK rows — tiny) is read
    // from the staged artifact; the hybrid pipeline runs only on a
    // staging miss, never on the warm path
    val fused = Tables.parquet(s, s"${hybridFusedRoot(s, d)}/fused")
      .select($"query_id", $"doc_id", $"rank".as("rrf_rank"))
    val (_, _, dfTname) = lexIndexRoot(s, d)
    val dfa = s.table(dfTname) // (tok, df), staged + bucketed
    // candidate-proportional text fetch: only shortlist docs + queries
    val needIds = fused.select($"doc_id")
      .unionByName(fused.select($"query_id".as("doc_id"))).distinct()
    val toksp = Tables.documents(s, d)
      .join(needIds, Seq("doc_id"), "left_semi")
      .select($"doc_id", posexplode(TextPrep.words($"text")).as(Seq("pos", "tok")))
      .filter($"tok" =!= "")
      .groupBy($"doc_id", $"tok")
      .agg((min($"pos") + 1).as("p1")) // 1-based first occurrence
    val qt = toksp.select($"doc_id".as("query_id"), $"tok", $"p1".as("p1q"))
    val dt = toksp.select($"doc_id", $"tok", $"p1".as("p1d"))
    val inter = fused
      .join(qt, "query_id")
      .join(dt, Seq("doc_id", "tok"))
      .join(dfa.hint("shuffle_hash"), "tok") // staged df, no corpus broadcast
      .withColumn("w",
        expr(s"$CrossScale div (1 + df)") +
          expr(s"$CrossScale div (1 + abs(p1q - p1d))"))
      .groupBy($"query_id", $"doc_id")
      .agg(sum($"w").as("score"))
    val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id")
    fused
      .join(inter, Seq("query_id", "doc_id"), "left")
      .na.fill(0L, Seq("score")) // zero shared tokens → interaction score 0
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= CrossTopK)
      .select($"query_id", $"rank".cast("long").as("rank"), $"doc_id",
        $"score", $"rrf_rank")
      .orderBy($"query_id", $"rank")
  }
  private val rerankCrossencSql =
    s"""WITH fused AS (
       |  SELECT query_id, doc_id, rank AS rrf_rank FROM ($hybridRrfSql)),
       |alltoks AS (SELECT doc_id, unnest(${TextPrep.wordsSql}) AS tok
       |            FROM documents),
       |t2 AS (SELECT doc_id, tok FROM alltoks WHERE tok <> ''),
       |dfa2 AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM t2 GROUP BY tok),
       |need AS (SELECT DISTINCT doc_id FROM (
       |  SELECT doc_id FROM fused UNION ALL SELECT query_id FROM fused)),
       |docs2 AS (SELECT d.doc_id, ${TextPrep.wordsSql} AS words
       |          FROM documents d JOIN need n ON n.doc_id = d.doc_id),
       |toksp AS (SELECT doc_id, words[i.i] AS tok, MIN(i.i) AS p1
       |  FROM docs2, unnest(range(1, len(words) + 1)) i(i)
       |  WHERE words[i.i] <> '' GROUP BY 1, 2),
       |inter AS (SELECT f.query_id, f.doc_id,
       |    SUM($CrossScale // (1 + dfa2.df)
       |        + $CrossScale // (1 + abs(q.p1 - dd.p1))) AS score
       |  FROM fused f
       |  JOIN toksp q ON q.doc_id = f.query_id
       |  JOIN toksp dd ON dd.doc_id = f.doc_id AND dd.tok = q.tok
       |  JOIN dfa2 ON dfa2.tok = q.tok
       |  GROUP BY f.query_id, f.doc_id)
       |SELECT query_id, rank, doc_id, score, rrf_rank FROM (
       |  SELECT f.query_id, f.doc_id, f.rrf_rank,
       |    CAST(COALESCE(i.score, 0) AS BIGINT) AS score,
       |    row_number() OVER (PARTITION BY f.query_id
       |      ORDER BY COALESCE(i.score, 0) DESC, f.doc_id) AS rank
       |  FROM fused f LEFT JOIN inter i
       |    ON i.query_id = f.query_id AND i.doc_id = f.doc_id)
       |WHERE rank <= $CrossTopK ORDER BY query_id, rank""".stripMargin

  // -- sim_dbscan: density-based clustering over the banded graph ----------
  // DBSCAN (Ester et al. KDD'96) with the LSH-served neighborhood: the
  // ε-ball is the verified cos ≥ 0.4 pair set the banded signatures
  // generate (the published LSH-accelerated DBSCAN shape — exact DBSCAN
  // needs an O(n²) range query; the banding prunes it to bucket joins,
  // and because the oracle replays the identical bands, the approximate
  // neighborhood is still value-exact across engines). MinPts = 2
  // neighbors. Roles are the classic trichotomy: core (deg ≥ MinPts),
  // border (non-core adjacent to a core), noise. Clusters are connected
  // components over CORE-CORE edges only (min-label propagation —
  // Dedup.componentLabels, the O(log diameter) pointer-jumping loop);
  // borders attach to the MIN core-neighbor cluster (deterministic
  // tie-break), noise gets -1. Scale shape: candidate generation is the
  // staged band join (never O(n²)); everything after runs on the pair
  // set, which is small by construction at any corpus size.
  private val DbMinPts = 2
  private def dbscan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = verifiedEmbPairs(s, d).select($"vec_a", $"vec_b").cache()
    pairs.count()
    val edges = pairs
      .union(pairs.select($"vec_b".as("vec_a"), $"vec_a".as("vec_b")))
      .select($"vec_a".as("src"), $"vec_b".as("dst"))
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val core = deg.filter($"deg" >= DbMinPts).select($"src".as("id"))
    val coreEdges = edges
      .join(core.select($"id".as("src")), "src")
      .join(core.select($"id".as("dst")), "dst")
      .select($"src".as("vec_a"), $"dst".as("vec_b"))
    val clab = core.join(
        Dedup.componentLabels(coreEdges).select($"id", $"label"),
        Seq("id"), "left")
      .select($"id", coalesce($"label", $"id").as("cl"))
    val battach = edges
      .join(core.select($"id".as("src")), Seq("src"), "left_anti")
      .join(clab.select($"id".as("dst"), $"cl"), "dst")
      .groupBy($"src").agg(min($"cl").as("bcl"))
    val out = Tables.embeddings(s, d).select($"vec_id")
      .join(broadcast(deg.select($"src".as("vec_id"), $"deg")), Seq("vec_id"), "left")
      .join(broadcast(clab.select($"id".as("vec_id"), $"cl")), Seq("vec_id"), "left")
      .join(broadcast(battach.select($"src".as("vec_id"), $"bcl")), Seq("vec_id"), "left")
      .select($"vec_id",
        coalesce($"deg", lit(0L)).as("n_neighbors"),
        when($"cl".isNotNull, "core")
          .when($"bcl".isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce($"cl", $"bcl", lit(-1L)).as("cluster"))
      .orderBy($"vec_id")
    pairs.unpersist(blocking = false)
    out
  }
  private val dbscanSql =
    s"""WITH RECURSIVE $embBandCtes,
       |pairs AS (SELECT vec_a, vec_b FROM scored WHERE cos >= 0.4),
       |edges AS MATERIALIZED (SELECT vec_a AS src, vec_b AS dst FROM pairs
       |  UNION ALL SELECT vec_b, vec_a FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |core AS MATERIALIZED (SELECT src AS id FROM deg WHERE deg >= $DbMinPts),
       |ce AS (SELECT e.src, e.dst FROM edges e
       |       JOIN core a ON e.src = a.id JOIN core b ON e.dst = b.id),
       |reach(id, label) AS (
       |  SELECT DISTINCT src, src FROM ce
       |  UNION
       |  SELECT e.src, r.label FROM ce e JOIN reach r ON e.dst = r.id),
       |comp AS (SELECT id, MIN(label) AS label FROM reach GROUP BY id),
       |clab AS (SELECT c.id, COALESCE(m.label, c.id) AS cl
       |         FROM core c LEFT JOIN comp m ON m.id = c.id),
       |battach AS (SELECT e.src, MIN(cl.cl) AS bcl FROM edges e
       |  JOIN clab cl ON e.dst = cl.id
       |  WHERE e.src NOT IN (SELECT id FROM core) GROUP BY e.src)
       |SELECT emb.vec_id, COALESCE(d.deg, 0) AS n_neighbors,
       |  CASE WHEN c.cl IS NOT NULL THEN 'core'
       |       WHEN b.bcl IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role,
       |  COALESCE(c.cl, b.bcl, -1) AS cluster
       |FROM embeddings emb
       |LEFT JOIN deg d ON d.src = emb.vec_id
       |LEFT JOIN clab c ON c.id = emb.vec_id
       |LEFT JOIN battach b ON b.src = emb.vec_id
       |ORDER BY emb.vec_id""".stripMargin

  // -- q_label_prop: transductive label propagation ------------------------
  // Semi-supervised classification over the staged similarity graph
  // (Zhu & Ghahramani 2002 in its discrete LPA form): hold out every
  // 5th vector's label (vec_id % 5 = 0 — the deterministic mask), then
  // run FIXED synchronous rounds where each held-out node adopts the
  // majority label among its neighbors' CURRENT labels — seeds never
  // change, votes count only labeled neighbors, and the argmax breaks
  // ties by MIN label (deterministic, engine-identical). 5 rounds,
  // unrolled in the oracle (the pagerank discipline); all state is one
  // (vec_id, lab) integer row per node, each round one narrow edge join
  // + count + rank — never the vectors. Held-out nodes with no labeled
  // reachable neighbor stay -1 (the honest "can't say"). The output
  // carries truth beside prediction so the accuracy audit is one
  // filter away; spec recomputes the rounds sequentially.
  private val LpRounds = 5
  private def labelProp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val p = verifiedEmbPairs(s, d).select($"vec_a", $"vec_b").cache()
    p.count()
    val edges = p.union(p.select($"vec_b".as("vec_a"), $"vec_a".as("vec_b")))
      .select($"vec_a".as("src"), $"vec_b".as("dst")).cache()
    val seeds = Tables.embeddings(s, d)
      .select($"vec_id", $"label",
        when($"vec_id" % 5 === 0, lit(-1)).otherwise($"label").as("seed_lab"))
      .localCheckpoint()
    val init = seeds.select($"vec_id", $"seed_lab".as("lab"))
      .localCheckpoint(eager = false)
    val w = Window.partitionBy($"src").orderBy($"c".desc, $"lab")
    val cur = Iterate.fixed(init, LpRounds) { cur =>
      val votes = edges
        .join(cur.select($"vec_id".as("dst"), $"lab"), "dst")
        .filter($"lab" =!= -1)
        .groupBy($"src", $"lab").agg(count(lit(1)).as("c"))
      val best = votes.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).select($"src", $"lab".as("vote"))
      seeds
        .join(best.select($"src".as("vec_id"), $"vote"), Seq("vec_id"), "left")
        .select($"vec_id",
          when($"seed_lab" =!= -1, $"seed_lab")
            .otherwise(coalesce($"vote", lit(-1))).as("lab"))
    }
    edges.unpersist(blocking = false)
    p.unpersist(blocking = false)
    seeds
      .join(cur, "vec_id")
      .select($"vec_id", ($"seed_lab" =!= -1).as("is_seed"),
        $"label".as("true_label"), $"lab".as("pred_label"))
      .orderBy($"vec_id")
  }
  private val labelPropSql = {
    val rounds = (0 until LpRounds).map { t =>
      s"""v$t AS (SELECT e.src, c.lab, COUNT(*) AS c FROM edges e
         |  JOIN l$t c ON c.vec_id = e.dst WHERE c.lab <> -1
         |  GROUP BY 1, 2),
         |b$t AS (SELECT src, lab AS vote FROM (
         |    SELECT src, lab, row_number() OVER (PARTITION BY src
         |      ORDER BY c DESC, lab) AS rn FROM v$t) WHERE rn = 1),
         |l${t + 1} AS (SELECT s.vec_id,
         |    CASE WHEN s.seed_lab <> -1 THEN s.seed_lab
         |         ELSE COALESCE(b.vote, -1) END AS lab
         |  FROM seeds s LEFT JOIN b$t b ON b.src = s.vec_id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $embBandCtes,
       |pairs AS (SELECT vec_a, vec_b FROM scored WHERE cos >= 0.4),
       |edges AS MATERIALIZED (SELECT vec_a AS src, vec_b AS dst FROM pairs
       |  UNION ALL SELECT vec_b, vec_a FROM pairs),
       |seeds AS MATERIALIZED (SELECT vec_id, label,
       |    CASE WHEN vec_id % 5 = 0 THEN -1 ELSE label END AS seed_lab
       |  FROM embeddings),
       |l0 AS (SELECT vec_id, seed_lab AS lab FROM seeds),
       |$rounds
       |SELECT s.vec_id, s.seed_lab <> -1 AS is_seed,
       |  s.label AS true_label, l.lab AS pred_label
       |FROM seeds s JOIN l$LpRounds l ON l.vec_id = s.vec_id
       |ORDER BY s.vec_id""".stripMargin
  }

  // -- q_pca_power: top principal component, exact integer power iteration --
  // The dimensionality auditor for an embedding corpus: the dominant
  // covariance eigenvector (what direction carries the variance — a
  // collapsed/anisotropic embedding space is a training-data defect
  // this op surfaces) plus its explained-variance ratio. Everything
  // deterministic and engine-exact:
  //  - per-row moment terms are QUANTIZED floor(x·10⁶+0.5) /
  //    floor(x_i·x_j·10¹²+0.5) on row-locally-identical IEEE doubles
  //    (the ln-quantization discipline applied to moments), so the
  //    scaled covariance M_ij = n·Σk_ij − Σk_i·Σk_j is exact 128-bit
  //    integer arithmetic (decimal(38,0) / HUGEINT);
  //  - power iteration runs a FIXED 6 rounds on the 64×64 integer
  //    matrix; per-round rescale is sign(u)·(|u|·10⁹ div max|u|) —
  //    SYMMETRIC truncation, spelled with abs() so Spark's
  //    trunc-toward-zero div and DuckDB's floor `//` agree on
  //    negatives (the q_mutual_info landmine, solved by symmetry here);
  //  - the explained-variance ratio is one IEEE expression over three
  //    exact integers (Rayleigh numerator/denominator and trace(M)),
  //    rounded at 6.
  // Scale shape: the corpus is touched ONCE (a self-join keyed by
  // vec_id whose fan-out is dims², map-side combined into 64×64+64
  // cells); the iteration is matrix-side only — catalog-free and
  // corpus-free. The from-all-ones start makes the eigenvector sign
  // deterministic.
  private val PcaRounds = 6
  private val PcaScale = 1000000000L
  private def pcaPower(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    // x widens to DOUBLE here: the i·j moment is a float×float product
    // otherwise — rounded at float precision on this side only, while
    // the oracle multiplies doubles (a one-ulp drift that compounds
    // through the iteration)
    // the i·j moment pairs come from chaining two Generates over the SAME
    // row's array — the former vec_id self-join shuffled the exploded
    // corpus twice and pushed every (i,j) pair through join row assembly;
    // the Generate chain is narrow (zero Exchange before the 64×64-cell
    // aggregate) and feeds the same floor-quantized products
    val ex = Tables.embeddings(s, d)
      .select($"vec_id", posexplode($"embedding").as(Seq("i", "x")))
      .select($"vec_id", $"i", $"x".cast("double").as("x"))
    val cnt = Tables.embeddings(s, d).agg(count(lit(1)).as("nn"))
    val s1 = ex
      .select($"i", floor($"x" * 1e6 + 0.5).cast("long").as("k"))
      .groupBy($"i").agg(sum($"k".cast(dec)).as("sk"))
    // one local parquet file = one split: size the 4096-per-row
    // fan-out stage by CPU, not input bytes (the mediaTable rule).
    // GATED on the scan actually being under-split (r17 verdict #5):
    // a well-split corpus at cluster scale must not pay an extra
    // full-table exchange for this — the repartition only fires when
    // the scan has fewer splits than cores.
    val embScan = Tables.embeddings(s, d)
    val embSpread =
      if (embScan.rdd.getNumPartitions < s.sparkContext.defaultParallelism)
        embScan.repartition(s.sparkContext.defaultParallelism)
      else embScan
    val s2 = embSpread
      .select($"embedding", posexplode($"embedding").as(Seq("i", "xi")))
      .select($"i", $"xi".cast("double").as("xi"),
        posexplode($"embedding").as(Seq("j", "xj")))
      .select($"i", $"j",
        floor($"xi" * $"xj".cast("double") * 1e12 + 0.5).cast("long").as("kij"))
      .groupBy($"i", $"j").agg(sum($"kij".cast(dec)).as("skij"))
    val m = s2
      .join(s1.select($"i", $"sk".as("si")), "i")
      .join(s1.select($"i".as("j"), $"sk".as("sj")), "j")
      .crossJoin(broadcast(cnt))
      .select($"i", $"j", ($"nn" * $"skij" - $"si" * $"sj").as("m"))
      .localCheckpoint()
    // The matrix is SCALAR-scale (64×64 integers — like the one-row
    // stats frames other ops broadcast), so the iteration runs on the
    // driver in exact BigInt: the distributed work is exactly the one
    // corpus pass that builds the moments; spending 13 Spark barriers
    // on 4096-row joins measured 4.3 s of pure scheduling. BigInt `/`
    // truncates toward zero — applied only to |u| (positive), where
    // truncation equals the oracle's floor.
    val dims = 64
    val mat = Array.ofDim[BigInt](dims, dims)
    m.collect().foreach { r =>
      mat(r.getInt(0))(r.getInt(1)) = BigInt(r.getDecimal(2).toBigInteger)
    }
    var vec = Array.fill(dims)(BigInt(PcaScale))
    for (_ <- 1 to PcaRounds) {
      val u = Array.tabulate(dims)(i =>
        (0 until dims).map(j => mat(i)(j) * vec(j)).sum)
      val mx = u.map(_.abs).max
      vec = u.map(x => x.sign * (x.abs * PcaScale / mx))
    }
    // Rayleigh quotient from a DOWN-SCALED copy (÷10⁶, symmetric
    // truncation): the quotient is v-scale-invariant, and the full-scale
    // v would push Σ v·(M·v) past 38 digits at corpus n — the headroom
    // budget lives here, not in the iteration
    val vr = vec.map(x => x.sign * (x.abs / 1000000))
    val uf = Array.tabulate(dims)(i =>
      (0 until dims).map(j => mat(i)(j) * vr(j)).sum)
    val num = (0 until dims).map(i => vr(i) * uf(i)).sum
    val den = vr.map(x => x * x).sum
    val tr = (0 until dims).map(i => mat(i)(i)).sum
    val evr6 = BigDecimal(num.toDouble / den.toDouble / tr.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import s.implicits._
    vec.zipWithIndex
      .map { case (v0, i) => (i.toLong, v0.toLong, evr6) }.toSeq
      .toDF("dim", "loading", "evr6")
      .orderBy($"dim")
  }
  private val pcaPowerSql = {
    val rounds = (0 until PcaRounds).map { t =>
      s"""u$t AS MATERIALIZED (SELECT m.i, SUM(m.m * v.v) AS u
         |  FROM m JOIN v$t v ON v.i = m.j GROUP BY m.i),
         |mx$t AS MATERIALIZED (SELECT MAX(abs(u)) AS mx FROM u$t),
         |v${t + 1} AS MATERIALIZED (SELECT i,
         |    CASE WHEN u < 0 THEN -((-u) * $PcaScale // mx)
         |         ELSE (u * $PcaScale) // mx END AS v
         |  FROM u$t CROSS JOIN mx$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH ex AS MATERIALIZED (
       |  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
       |  FROM embeddings, unnest(range(1, 65)) t(i)),
       |cnt AS (SELECT COUNT(*) AS nn FROM ex WHERE i = 0),
       |s1 AS MATERIALIZED (SELECT i,
       |    SUM(CAST(CAST(floor(x * 1e6 + 0.5) AS BIGINT) AS HUGEINT)) AS sk
       |  FROM ex GROUP BY i),
       |s2 AS (SELECT a.i AS i, b.i AS j,
       |    SUM(CAST(CAST(floor(a.x * b.x * 1e12 + 0.5) AS BIGINT)
       |      AS HUGEINT)) AS skij
       |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |m AS MATERIALIZED (SELECT s2.i, s2.j,
       |    cnt.nn * s2.skij - si.sk * sj.sk AS m
       |  FROM s2 JOIN s1 si ON si.i = s2.i JOIN s1 sj ON sj.i = s2.j
       |  CROSS JOIN cnt),
       |v0 AS (SELECT DISTINCT i, CAST($PcaScale AS HUGEINT) AS v FROM m),
       |$rounds,
       |vr AS MATERIALIZED (SELECT i,
       |    CASE WHEN v < 0 THEN -((-v) // 1000000)
       |         ELSE v // 1000000 END AS v
       |  FROM v$PcaRounds),
       |uf AS MATERIALIZED (SELECT m.i, SUM(m.m * v.v) AS u
       |  FROM m JOIN vr v ON v.i = m.j GROUP BY m.i),
       |ray AS (SELECT SUM(v.v * u.u) AS num, SUM(v.v * v.v) AS den
       |  FROM vr v JOIN uf u ON u.i = v.i),
       |tr AS (SELECT SUM(m) AS tr FROM m WHERE i = j)
       |SELECT v.i AS dim, CAST(v.v AS BIGINT) AS loading,
       |  round((CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
       |    / CAST(tr AS DOUBLE), 6) AS evr6
       |FROM v$PcaRounds v CROSS JOIN ray CROSS JOIN tr
       |ORDER BY dim""".stripMargin
  }

  // -- q_embedding_norms: vector-hygiene audit -----------------------------
  // The first check on an ingested embedding table: norm distribution
  // per label (a model that emits wildly varying norms — or zeros —
  // poisons cosine math downstream; normalized-embedding pipelines
  // assert norm ≈ 1 here). Per-row norm² comes from the same
  // left-to-right one-pass fold both engines already agree on
  // (VectorOps.dot / dotSql — the cosine parity surface), so min/max
  // and the PINNED-position median (the q_percentile rule over
  // (norm², vec_id)) are engine-exact; rounding at 6 only at the
  // output. Pure map + one small per-label window.
  private def embeddingNorms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = Tables.embeddings(s, d)
      .select($"label", $"vec_id",
        VectorOps.dot($"embedding", $"embedding").as("n2"))
    val wl = Window.partitionBy($"label")
    val w = wl.orderBy($"n2", $"vec_id")
    base
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wl))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"n2" === 0.0, 1L).otherwise(0L)).as("n_zero"),
        round(sqrt(min($"n2")), 6).as("min_norm6"),
        round(sqrt(max(when($"rn" <= ceil($"n" * 0.5), $"n2"))), 6)
          .as("p50_norm6"),
        round(sqrt(max($"n2")), 6).as("max_norm6"))
      .orderBy($"label")
  }
  private val embeddingNormsSql =
    s"""WITH b AS (SELECT label, vec_id,
       |    ${VectorOps.dotSql("embedding", "embedding")} AS n2
       |  FROM embeddings),
       |r AS (SELECT label, n2,
       |    row_number() OVER (PARTITION BY label ORDER BY n2, vec_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY label) AS n
       |  FROM b)
       |SELECT label, COUNT(*) AS n_vecs,
       |  CAST(SUM(CASE WHEN n2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  round(sqrt(MIN(n2)), 6) AS min_norm6,
       |  round(sqrt(MAX(CASE WHEN rn <= ceil(n * 0.5) THEN n2 END)), 6)
       |    AS p50_norm6,
       |  round(sqrt(MAX(n2)), 6) AS max_norm6
       |FROM r GROUP BY label ORDER BY label""".stripMargin

  // -- q_mutual_nn: reciprocal best matches over the similarity graph ------
  // The high-precision pairing rule dedup reviewers trust most: a pair
  // survives only if EACH vector is the OTHER's single best verified
  // neighbor (mutual nearest neighbors — the classic bijective
  // matching filter; one-directional best-of is noisy exactly where
  // hubs attract many asymmetric matches). Best = (cos6 desc, partner
  // id) pinned total order per node; mutuality = one self-join of the
  // O(nodes) best-partner table on the reversed pair. Reads the STAGED
  // pair set — zero band builds; everything after is one rank + one
  // narrow equi-join. Output is the canonical (a < b) matched pair
  // list with its score.
  private def mutualNn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pairs = verifiedEmbPairs(s, d)
    val sym = pairs.select($"vec_a".as("v"), $"vec_b".as("nbr"), $"cos6")
      .union(pairs.select($"vec_b".as("v"), $"vec_a".as("nbr"), $"cos6"))
    val wb = Window.partitionBy($"v").orderBy($"cos6".desc, $"nbr")
    val best = sym.withColumn("rn", row_number().over(wb))
      .filter($"rn" === 1).select($"v", $"nbr", $"cos6")
    best.as("x")
      .join(best.as("y"), $"x.v" === $"y.nbr" && $"x.nbr" === $"y.v")
      .filter($"x.v" < $"x.nbr")
      .select($"x.v".as("vec_a"), $"x.nbr".as("vec_b"),
        $"x.cos6".as("cos6"))
      .orderBy($"vec_a")
  }
  private val mutualNnSql =
    s"""WITH $embBandCtes,
       |pairs AS (SELECT vec_a, vec_b, round(cos, 6) AS cos6 FROM scored
       |          WHERE cos >= 0.4),
       |sym AS (SELECT vec_a AS v, vec_b AS nbr, cos6 FROM pairs
       |        UNION ALL SELECT vec_b, vec_a, cos6 FROM pairs),
       |best AS (SELECT v, nbr, cos6 FROM (
       |    SELECT v, nbr, cos6, row_number() OVER (PARTITION BY v
       |      ORDER BY cos6 DESC, nbr) AS rn FROM sym) WHERE rn = 1)
       |SELECT x.v AS vec_a, x.nbr AS vec_b, x.cos6 AS cos6
       |FROM best x JOIN best y ON y.v = x.nbr AND y.nbr = x.v
       |WHERE x.v < x.nbr ORDER BY vec_a""".stripMargin

  // -- q_knn_classify: k-NN vote over the staged similarity graph ----------
  // The instance-based classic beside q_label_prop's graph propagation
  // (Fix & Hodges 1951): each vector is classified by the majority
  // TRUE label of its k=5 nearest verified neighbors — nearest by the
  // stored cos6 score with (cos6 desc, partner id) as the pinned total
  // order, majority ties broken by MIN label, vectors without verified
  // neighbors honestly unpredicted (−1). LEAVE-ONE-OUT by construction
  // (a vector is never its own neighbor), so the per-label accuracy
  // table is an honest generalization estimate of how label-consistent
  // the similarity graph is. Reads the STAGED pair set — zero band
  // builds; everything after is per-node rank + vote on the pair list.
  private val KnnK = 5
  private def knnClassify(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pairs = verifiedEmbPairs(s, d)
    val sym = pairs.select($"vec_a".as("v"), $"vec_b".as("nbr"), $"cos6")
      .union(pairs.select($"vec_b".as("v"), $"vec_a".as("nbr"), $"cos6"))
    val labels = Tables.embeddings(s, d).select($"vec_id", $"label")
    val wk = Window.partitionBy($"v").orderBy($"cos6".desc, $"nbr")
    val votes = sym
      .withColumn("rn", row_number().over(wk))
      .filter($"rn" <= KnnK)
      .join(broadcast(labels.select($"vec_id".as("nbr"), $"label".as("nl"))),
        "nbr")
      .groupBy($"v", $"nl").agg(count(lit(1)).as("c"))
    val wv = Window.partitionBy($"v").orderBy($"c".desc, $"nl")
    val pred = votes.withColumn("vr", row_number().over(wv))
      .filter($"vr" === 1).select($"v".as("vec_id"), $"nl".as("pred"))
    labels
      .join(broadcast(pred), Seq("vec_id"), "left")
      .select($"label", coalesce($"pred", lit(-1)).as("pred"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n"),
        sum(when($"pred" =!= -1, 1L).otherwise(0L)).as("n_predicted"),
        sum(when($"pred" === $"label", 1L).otherwise(0L)).as("n_correct"))
      .select($"label", $"n", $"n_predicted", $"n_correct",
        when($"n_predicted" > 0,
          expr("n_correct * 1000000 div n_predicted")).otherwise(lit(-1L))
          .as("acc_micro"))
      .orderBy($"label")
  }
  private val knnClassifySql =
    s"""WITH $embBandCtes,
       |pairs AS (SELECT vec_a, vec_b, round(cos, 6) AS cos6 FROM scored
       |          WHERE cos >= 0.4),
       |sym AS (SELECT vec_a AS v, vec_b AS nbr, cos6 FROM pairs
       |        UNION ALL SELECT vec_b, vec_a, cos6 FROM pairs),
       |top AS (SELECT v, nbr FROM (
       |    SELECT v, nbr, row_number() OVER (PARTITION BY v
       |      ORDER BY cos6 DESC, nbr) AS rn FROM sym) WHERE rn <= $KnnK),
       |votes AS (SELECT t.v, e.label AS nl, COUNT(*) AS c
       |  FROM top t JOIN embeddings e ON e.vec_id = t.nbr GROUP BY 1, 2),
       |pred AS (SELECT v AS vec_id, nl AS pred FROM (
       |    SELECT v, nl, row_number() OVER (PARTITION BY v
       |      ORDER BY c DESC, nl) AS vr FROM votes) WHERE vr = 1),
       |j AS (SELECT e.label, COALESCE(p.pred, -1) AS pred
       |  FROM embeddings e LEFT JOIN pred p ON p.vec_id = e.vec_id)
       |SELECT label, COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN pred <> -1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_predicted,
       |  CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CASE WHEN SUM(CASE WHEN pred <> -1 THEN 1 ELSE 0 END) > 0
       |       THEN CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END)
       |         * 1000000 // SUM(CASE WHEN pred <> -1 THEN 1 ELSE 0 END)
       |         AS BIGINT)
       |       ELSE -1 END AS acc_micro
       |FROM j GROUP BY label ORDER BY label""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_knn_classify", knnClassify, Some(knnClassifySql)),
    QueryDef("q_mutual_nn", mutualNn, Some(mutualNnSql)),
    QueryDef("q_embedding_norms", embeddingNorms, Some(embeddingNormsSql)),
    QueryDef("q_pca_power", pcaPower, Some(pcaPowerSql)),
    QueryDef("q_label_prop", labelProp, Some(labelPropSql)),
    QueryDef("q_hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    QueryDef("q_rerank_crossenc", rerankCrossenc, Some(rerankCrossencSql)),
    QueryDef("q_ann_recall", annRecall, Some(annRecallSql)),
    QueryDef("sim_mrl_recall", mrlRecall, Some(mrlRecallSql)),
    QueryDef("q_ndcg", ndcgEval, Some(ndcgEvalSql)),
    QueryDef("q_kmeans_clusters", kmeansClusters, Some(kmeansClustersSql)),
    QueryDef("q_embedding_outliers", embeddingOutliers, Some(embeddingOutliersSql)),
    QueryDef("sim_ann_pq", annPq, Some(annPqSql)),
    QueryDef("sim_ann_ivfpq", annIvfPq, Some(annIvfPqSql)),
    QueryDef("sim_ann_filtered", annFiltered, Some(annFilteredSql)),
    QueryDef("sim_ann_incremental", annIncremental, Some(annIncrementalSql)),
    QueryDef("sim_quantize_int8", quantizeInt8, Some(quantizeInt8Sql)),
    QueryDef("sim_bruteforce_topk", bruteforceTopk, Some(bruteforceTopkSql)),
    QueryDef("sim_ann_lsh", annLsh, Some(annLshSql)),
    QueryDef("sim_ann_ivf", annIvf, Some(annIvfSql)),
    QueryDef("dedup_embedding", embeddingDedup, Some(embeddingDedupSql)),
    QueryDef("dedup_semantic", semanticDedup, Some(semanticDedupSql)),
    QueryDef("sim_dbscan", dbscan, Some(dbscanSql)),
  )
}

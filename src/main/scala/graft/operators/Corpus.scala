package graft.operators

import graft.{Iterate, QueryDef, Staging, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for LLM training pipelines (round 5):
  * chunking, cross-document segment dedup, vocabulary building, and
  * benchmark decontamination. All oracled against DuckDB.
  *
  *  - `text_chunk`: overlapping fixed-size token windows (size 32,
  *    stride 24) — the unit a training pipeline actually feeds a
  *    model. Pure per-row array work (sequence → slice → join): the
  *    explode multiplies rows because chunks ARE the output, but
  *    nothing shuffles — a single map stage over 100 TB.
  *  - `text_seg_dedup`: CCNet-style cross-document segment removal —
  *    drop every full 8-token segment that appears in ≥ 2 distinct
  *    documents (boilerplate headers/footers at web scale). The
  *    frequency pass groups on the 128-bit segment fingerprint, so the
  *    discovery shuffle carries (16-byte fp, doc_id) pairs — never
  *    segment text; the frequent set (only repeated segments) is small
  *    by construction and broadcast back, so removal is a broadcast
  *    anti-join. Document text shuffles exactly once, to reassemble
  *    kept segments in order.
  *  - `text_vocab`: top-40 token vocabulary with corpus coverage — the
  *    tokenizer-training / OOV-rate primitive. Narrow (token, count)
  *    aggregate + TakeOrderedAndProject; the one-row total broadcasts.
  *  - `q_decontaminate`: benchmark contamination check — training docs
  *    sharing any 8-token shingle with the benchmark set (here: docs
  *    with doc_id % 20 = 0). The benchmark side is small by definition
  *    (test sets are KBs, the corpus is TBs), so its distinct grams
  *    BROADCAST and the train side never shuffles: a broadcast
  *    semi-join per gram, then a per-doc count. Gram sets come from the
  *    codegen'd one-pass [[graft.functions.Shingles]] expression.
  */
/** BPE merge application, shared by training (`text_bpe`) and encoding
  * (applying a learned merge table to held-out text). */
private[graft] object Bpe {
  import org.apache.spark.sql.Column

  /** Greedy left-to-right merge of one (l, r) symbol pair — the BPE
    * re-segmentation step, as a fold: append x unless the accumulator
    * ends with l and x = r, in which case replace the tail with the
    * merged token. A just-merged tail (strictly longer than l) can
    * never re-match l, so overlapping runs (only possible when l = r)
    * merge at even offsets — exactly the reference greedy scan. */
  def mergePair(syms: Column, l: Column, r: Column): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, lit(-1)) === l && x === r,
          concat(slice(acc, lit(1), size(acc) - 1), array(concat(l, r))))
          .otherwise(concat(acc, array(x))))

  /** Encode: replay a learned merge sequence (rank order) over a symbol
    * column. Merge tables are small by construction (one row per round),
    * so the chain of folds stays a single projection. */
  def applyMerges(syms: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(syms) { case (c, (l, r)) => mergePair(c, lit(l), lit(r)) }
}

object Corpus {

  // -- text_chunk: overlapping token windows -------------------------------
  // shared with pipeline_chunked_corpus (TextAnalysis) and
  // stream_chunked_ingest (Streaming) — one source of truth for the
  // chunk geometry
  private[graft] val ChunkSize = 32
  private[graft] val ChunkStride = 24

  private def chunk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val C = ChunkSize
    val S = ChunkStride
    // starts at every stride multiple; a start survives iff it is the
    // first chunk or the PREVIOUS chunk did not already cover the whole
    // document (st - S + C < n) — no fully-redundant tail chunks
    Tables.documents(s, d)
      .select($"doc_id", TextPrep.words($"text").as("w"))
      .select($"doc_id", $"w",
        expr(s"filter(sequence(0, size(w) - 1, $S), st -> st = 0 OR st - $S + $C < size(w))")
          .as("starts"))
      .select($"doc_id", posexplode($"starts").as(Seq("chunk_id", "st")), $"w")
      .select($"doc_id", $"chunk_id".cast("long").as("chunk_id"),
        expr(s"slice(w, st + 1, $C)").as("chunk"))
      .select($"doc_id", $"chunk_id",
        size($"chunk").cast("long").as("n_tokens"),
        array_join($"chunk", " ").as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }
  private val chunkSql = {
    val C = ChunkSize
    val S = ChunkStride
    s"""WITH docs AS (SELECT doc_id, ${TextPrep.wordsSql} AS w FROM documents),
       |st AS (SELECT doc_id, w,
       |  list_filter(range(0, len(w), $S), st -> st = 0 OR st - $S + $C < len(w)) AS starts
       |  FROM docs),
       |ch AS (SELECT doc_id, i - 1 AS chunk_id,
       |  w[starts[i] + 1 : starts[i] + $C] AS chunk
       |  FROM st, unnest(range(1, len(starts) + 1)) t(i))
       |SELECT doc_id, chunk_id, len(chunk) AS n_tokens,
       |  array_to_string(chunk, ' ') AS chunk_text
       |FROM ch ORDER BY doc_id, chunk_id""".stripMargin
  }

  // -- text_seg_dedup: cross-document segment removal ----------------------
  private val SegLen = 8
  private val SegMinDocs = 2

  private def segDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val L = SegLen
    // one row per NON-OVERLAPPING L-token segment, position-tagged; the
    // final partial segment (< L tokens) is never a removal candidate
    val segs = Tables.documents(s, d)
      .select($"doc_id", TextPrep.words($"text").as("w"))
      .select($"doc_id",
        ceil(size($"w") / lit(L.toDouble)).cast("long").as("n_segs"),
        posexplode(expr(
          s"transform(sequence(0, cast(ceil(size(w) / ${L}.0) as int) - 1, 1), " +
            s"i -> array_join(slice(w, i * $L + 1, $L), ' '))")).as(Seq("seg_no", "seg")),
        size($"w").as("n_words"))
      .withColumn("is_full", ($"seg_no" + 1) * L <= $"n_words")
    // discovery: group on the 128-bit fingerprint so the shuffle is
    // (16-byte fp, doc_id) pairs, not text; ≥2-doc segments only
    val withFp = segs.withColumn("fp", GraftFunctions.fingerprint128($"seg"))
    val frequent = withFp.filter($"is_full")
      .groupBy($"fp").agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= SegMinDocs).select($"fp")
    // removal: broadcast anti-join (the frequent set is small — only
    // segments that actually repeat across documents)
    withFp.join(broadcast(frequent), Seq("fp"), "left_anti")
      .groupBy($"doc_id")
      .agg(first($"n_segs").as("n_segs"),
        (first($"n_segs") - count(lit(1))).as("n_removed"),
        array_join(
          expr("transform(array_sort(collect_list(struct(seg_no, seg))), x -> x.seg)"),
          " ").as("text_clean"))
      .orderBy($"doc_id")
  }
  private val segDedupSql = {
    val L = SegLen
    s"""WITH docs AS (SELECT doc_id, ${TextPrep.wordsSql} AS w FROM documents),
       |segs AS (SELECT doc_id, CAST(ceil(len(w) / ${L}.0) AS BIGINT) AS n_segs,
       |    i AS seg_no, array_to_string(w[i * $L + 1 : i * $L + $L], ' ') AS seg,
       |    len(w[i * $L + 1 : i * $L + $L]) = $L AS is_full
       |  FROM docs, unnest(range(0, CAST(ceil(len(w) / ${L}.0) AS BIGINT))) t(i)),
       |freq AS (SELECT seg FROM segs WHERE is_full
       |  GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= $SegMinDocs),
       |kept AS (SELECT * FROM segs
       |  WHERE NOT (is_full AND seg IN (SELECT seg FROM freq)))
       |SELECT doc_id, any_value(n_segs) AS n_segs,
       |  any_value(n_segs) - COUNT(*) AS n_removed,
       |  string_agg(seg, ' ' ORDER BY seg_no) AS text_clean
       |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -- text_boilerplate: per-source template removal -----------------------
  // The RefinedWeb/CCNet boilerplate rule, per DOMAIN rather than
  // corpus-global: a segment repeated across documents of the SAME
  // source (site navigation, cookie banners, footers) is template
  // text, removed from EVERY document of that source once it appears
  // in more than `BpNum/BpDen` of the source's documents. Differs from
  // `text_seg_dedup` on both axes that matter in practice: the
  // frequency is scoped to the source (a phrase legitimately common
  // across the whole corpus is NOT boilerplate), and the threshold is
  // a FRACTION of the source's size, so large crawls don't flag
  // ordinary prose the way an absolute count would. Shapes:
  //  - discovery groups (16-byte fp, source) — text never shuffles;
  //  - the per-source doc census is a tiny broadcast;
  //  - the threshold test nd·BpDen > n_docs·BpNum is exact integer
  //    arithmetic (no float ratio to drift);
  //  - removal is a broadcast anti-join on (source, fp), corpus stays
  //    in place.
  private val BpNum = 1
  private val BpDen = 5 // boilerplate iff in > 1/5 of the source's docs

  private def boilerplate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val L = SegLen
    val segs = Tables.documents(s, d)
      .select($"doc_id", $"source", TextPrep.words($"text").as("w"))
      .select($"doc_id", $"source",
        ceil(size($"w") / lit(L.toDouble)).cast("long").as("n_segs"),
        posexplode(expr(
          s"transform(sequence(0, cast(ceil(size(w) / ${L}.0) as int) - 1, 1), " +
            s"i -> array_join(slice(w, i * $L + 1, $L), ' '))")).as(Seq("seg_no", "seg")),
        size($"w").as("n_words"))
      .withColumn("is_full", ($"seg_no" + 1) * L <= $"n_words")
    val census = Tables.documents(s, d)
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val withFp = segs.withColumn("fp", GraftFunctions.fingerprint128($"seg"))
    val frequent = withFp.filter($"is_full")
      .groupBy($"source", $"fp").agg(countDistinct($"doc_id").as("nd"))
      .join(broadcast(census), "source")
      .filter($"nd" * BpDen > $"n_docs" * BpNum)
      .select($"source", $"fp")
    withFp.join(broadcast(frequent), Seq("source", "fp"), "left_anti")
      .groupBy($"doc_id")
      .agg(first($"n_segs").as("n_segs"),
        (first($"n_segs") - count(lit(1))).as("n_removed"),
        array_join(
          expr("transform(array_sort(collect_list(struct(seg_no, seg))), x -> x.seg)"),
          " ").as("text_clean"))
      .orderBy($"doc_id")
  }
  private val boilerplateSql = {
    val L = SegLen
    s"""WITH docs AS (SELECT doc_id, source, ${TextPrep.wordsSql} AS w FROM documents),
       |census AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
       |segs AS (SELECT doc_id, source, CAST(ceil(len(w) / ${L}.0) AS BIGINT) AS n_segs,
       |    i AS seg_no, array_to_string(w[i * $L + 1 : i * $L + $L], ' ') AS seg,
       |    len(w[i * $L + 1 : i * $L + $L]) = $L AS is_full
       |  FROM docs, unnest(range(0, CAST(ceil(len(w) / ${L}.0) AS BIGINT))) t(i)),
       |freq AS (SELECT s.source, s.seg
       |  FROM segs s JOIN census c ON c.source = s.source
       |  WHERE s.is_full
       |  GROUP BY s.source, s.seg, c.n_docs
       |  HAVING COUNT(DISTINCT s.doc_id) * $BpDen > c.n_docs * $BpNum),
       |kept AS (SELECT sg.* FROM segs sg
       |  WHERE NOT (sg.is_full AND EXISTS (
       |    SELECT 1 FROM freq f WHERE f.source = sg.source AND f.seg = sg.seg)))
       |SELECT doc_id, any_value(n_segs) AS n_segs,
       |  any_value(n_segs) - COUNT(*) AS n_removed,
       |  string_agg(seg, ' ' ORDER BY seg_no) AS text_clean
       |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -- dedup_substring: arbitrary-offset exact substring removal -----------
  // The "Deduplicating Training Data Makes Language Models Better"
  // (Lee et al., 2022) pipeline step that `text_seg_dedup` approximates:
  // seg-dedup only drops ALIGNED L-token segments, so a duplicated run
  // that straddles a segment boundary (offset ≢ 0 mod L) survives it.
  // Here every K-token window at EVERY offset is fingerprinted, windows
  // shared by ≥ 2 distinct documents mark their positions covered, and
  // the union of covered windows — exactly the maximal repeated spans,
  // each ≥ K tokens — is excised from each document.
  //
  // Scale shape (the suffix-array step re-expressed for Spark):
  //  - the gram leg emits one row per token (K× the seg-dedup row count
  //    — the price of arbitrary offsets), but gram TEXT exists only
  //    map-side: the discovery shuffle carries (16-byte fp, doc_id) and
  //    the aggregate prunes the position column;
  //  - duplicated-window fingerprints are rare by construction (only
  //    text that actually repeats across documents), so the marking
  //    pass is a broadcast semi-join against them — the corpus never
  //    shuffles for it;
  //  - covered positions fold to one int-set row per affected doc, and
  //    the excision is a broadcast left join back onto the UNEXPLODED
  //    documents: full text never shuffles at all. If duplicated volume
  //    ever outgrows broadcast, both broadcasts degrade to plain
  //    equi-joins on (fp) / (doc_id) — still narrow keys, never text.
  private[graft] val SubLen = 8
  private val SubMinDocs = 2

  /** `keepFirst = false`: every duplicated span is excised from EVERY
    * document. `keepFirst = true` is the published ExactSubstr rule —
    * each duplicated window has an OWNER (min doc_id containing it) who
    * keeps the copy; only non-owners lose the span. */
  private def substringDedupCore(s: SparkSession, d: String,
      keepFirst: Boolean): DataFrame = {
    import s.implicits._
    val K = SubLen
    val docs = Tables.documents(s, d)
      .select($"doc_id", TextPrep.words($"text").as("w"))
    val grams = docs.filter(size($"w") >= K)
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(0, size(w) - $K), i -> array_join(slice(w, i + 1, $K), ' '))"))
        .as(Seq("i", "g")))
      .select($"doc_id", $"i", GraftFunctions.fingerprint128($"g").as("fp"))
    val dup = grams.groupBy($"fp")
      .agg(countDistinct($"doc_id").as("nd"), min($"doc_id").as("owner"))
      .filter($"nd" >= SubMinDocs).select($"fp", $"owner")
    val marked = grams.join(broadcast(dup), Seq("fp"))
    val excised = if (keepFirst) marked.filter($"doc_id" =!= $"owner") else marked
    val covered = excised
      .select($"doc_id", explode(expr(s"sequence(i, i + ${K - 1})")).as("pos"))
      .groupBy($"doc_id").agg(sort_array(collect_set($"pos")).as("cov"))
    docs.join(broadcast(covered), Seq("doc_id"), "left")
      .select($"doc_id",
        size($"w").cast("long").as("n_tokens"),
        coalesce(size($"cov"), lit(0)).cast("long").as("n_removed"),
        // kept = positions ∖ cov via array_except (hash-set build + one
        // probe per position): linear in |w| + |cov|, where a per-token
        // array_contains scan is O(|w|·|cov|) on dense coverage. cov
        // non-null implies size(w) ≥ K, so sequence() never runs backward.
        array_join(
          expr("CASE WHEN cov IS NULL THEN w ELSE " +
            "transform(array_except(sequence(0, size(w) - 1), cov), i -> w[i]) END"),
          " ").as("text_clean"))
      .orderBy($"doc_id")
  }
  private def substringDedup(s: SparkSession, d: String): DataFrame =
    substringDedupCore(s, d, keepFirst = false)
  private def substringDedupKeep(s: SparkSession, d: String): DataFrame =
    substringDedupCore(s, d, keepFirst = true)
  /** Oracle for both variants; `ownerPred` restricts the coverage pass
    * to non-owner occurrences in the keep-first form. */
  private def substringDedupSqlFor(ownerPred: String): String = {
    val K = SubLen
    s"""WITH docs AS (SELECT doc_id, ${TextPrep.wordsSql} AS w FROM documents),
       |grams AS (SELECT doc_id, i, array_to_string(w[i : i + ${K - 1}], ' ') AS g
       |          FROM docs, unnest(range(1, len(w) - ${K - 2})) t(i)
       |          WHERE len(w) >= $K),
       |dup AS (SELECT g, MIN(doc_id) AS owner FROM grams GROUP BY g
       |        HAVING COUNT(DISTINCT doc_id) >= $SubMinDocs),
       |cov AS (SELECT DISTINCT gr.doc_id, i + off AS pos
       |        FROM grams gr JOIN dup d ON gr.g = d.g,
       |             unnest(range(0, $K)) o(off)
       |        WHERE $ownerPred),
       |toks AS (SELECT doc_id, i AS pos, w[i] AS tok
       |         FROM docs, unnest(range(1, len(w) + 1)) t(i)),
       |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
       |         LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |         WHERE c.pos IS NULL),
       |res AS (SELECT doc_id, COUNT(*) AS n_kept,
       |        string_agg(tok, ' ' ORDER BY pos) AS text_clean
       |        FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, len(d.w) AS n_tokens,
       |  len(d.w) - COALESCE(r.n_kept, 0) AS n_removed,
       |  COALESCE(r.text_clean, '') AS text_clean
       |FROM docs d LEFT JOIN res r ON d.doc_id = r.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }
  private val substringDedupSql = substringDedupSqlFor("TRUE")
  private val substringDedupKeepSql = substringDedupSqlFor("gr.doc_id <> d.owner")

  // -- text_vocab: top-K vocabulary + corpus coverage ----------------------
  private val VocabTopK = 40

  private def vocab(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", explode(TextPrep.words($"text")).as("tok"))
    val counts = toks.groupBy($"tok")
      .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("n_docs"))
    val total = toks.agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      .select($"tok", $"n", $"n_docs",
        ($"n".cast("double") / $"total").as("coverage"))
      .orderBy($"n".desc, $"tok")
      .limit(VocabTopK)
  }
  private val vocabSql =
    s"""WITH toks AS (SELECT doc_id, unnest(${TextPrep.wordsSql}) AS tok FROM documents),
       |c AS (SELECT tok, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
       |      FROM toks GROUP BY tok),
       |t AS (SELECT COUNT(*) AS total FROM toks)
       |SELECT tok, n, n_docs, CAST(n AS DOUBLE) / total AS coverage
       |FROM c CROSS JOIN t
       |ORDER BY n DESC, tok LIMIT $VocabTopK""".stripMargin

  // -- q_inverted_index: positional inverted index build -------------------
  // The retrieval-side primitive over a prepared corpus: token →
  // posting list with per-document term frequency and DELTA-encoded
  // positions (the gap encoding real indexes compress, because gaps are
  // small and varint-friendly where absolute positions are not).
  // Shape: ONE posexplode (map-side), then the delta window and the
  // (token, doc) aggregation share the same shuffle partitioning; the
  // df window re-partitions the already-aggregated postings (rows =
  // postings, not positions). At 100 TB the partition key becomes the
  // token's 128-bit fingerprint with the token carried alongside (16-
  // byte shuffle keys; string keys here keep the oracle joinable), and
  // posting lists for stop-word-grade tokens get length-capped + split
  // — df is the diagnostic that flags them.
  /** Postings WITHOUT df — the stored/maintainable form: every
    * per-(tok, doc) quantity (tf, delta-gap list) is a function of ONE
    * document's text, so maintenance under churn is doc-local. */
  private def postingsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wPos = Window.partitionBy($"tok", $"doc_id").orderBy($"pos")
    docs
      .select($"doc_id", posexplode(TextPrep.words($"text")).as(Seq("p", "tok")))
      .filter($"tok" =!= "")
      .withColumn("pos", $"p".cast("long")) // DuckDB positions are BIGINT
      .withColumn("delta", $"pos" - coalesce(lag($"pos", 1).over(wPos), lit(0L)))
      .groupBy($"tok", $"doc_id")
      .agg(count(lit(1)).as("tf"),
        // Comma-joined rather than a raw array<long>: the cross-engine
        // value-compare needs a totally-ordered scalar (same discipline as
        // q_array_agg). The array form itself is exercised in CorpusSpec's
        // lossless-decode test.
        expr("array_join(transform(array_sort(collect_list(struct(pos, delta))), x -> x.delta), ',')")
          .as("deltas"))
  }

  private def invertedIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wTok = Window.partitionBy($"tok")
    postingsOf(Tables.documents(s, d))
      .withColumn("df", count(lit(1)).over(wTok))
      .select($"tok", $"df", $"doc_id", $"tf", $"deltas")
      .orderBy($"tok", $"doc_id")
  }
  private val invertedIndexSql =
    s"""WITH docw AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
       |  FROM (SELECT doc_id, ${TextPrep.wordsSql} AS w FROM documents),
       |       unnest(range(1, len(w) + 1)) t(i)
       |  WHERE w[i] <> ''),
       |dl AS (SELECT doc_id, pos, tok,
       |  pos - COALESCE(LAG(pos) OVER (PARTITION BY tok, doc_id ORDER BY pos), 0)
       |    AS delta FROM docw),
       |g AS (SELECT tok, doc_id, COUNT(*) AS tf,
       |  array_to_string(list(delta ORDER BY pos), ',') AS deltas
       |  FROM dl GROUP BY tok, doc_id)
       |SELECT tok, COUNT(*) OVER (PARTITION BY tok) AS df, doc_id, tf, deltas
       |FROM g ORDER BY tok, doc_id""".stripMargin

  // -- q_index_incremental: CDC-driven inverted-index maintenance ----------
  // q_inverted_index is a full rebuild; under churn a 100 TB index must
  // refresh at a cost that scales with the CHANGED documents, not the
  // corpus (the Delta/Iceberg incremental-materialized-view shape). The
  // stored form is the df-free postings table plus a tok-level df
  // table; a CDC feed of deletes/updates/inserts then maintains both:
  //  - postings: recompute ONLY the changed docs' rows (tf/deltas are
  //    doc-local), drop old rows via a BROADCAST anti-join on the
  //    churn's doc_ids — the stored table is scanned once, never
  //    shuffled;
  //  - df: churn-sized ±1 deltas (removed postings counted via a
  //    broadcast semi-join over the same scan, added from the
  //    recompute), merged into the stored counts — never a recount of
  //    the corpus.
  // The driver-gate oracle is the strongest statement possible: a FULL
  // REBUILD on the post-churn corpus must hash-equal the incrementally
  // maintained table. The final df-attach join + sort is output
  // assembly for the gate, not maintenance cost (a lake deployment
  // stores both tables bucketed by tok and serves them as-is).
  private val ChurnMod = 17
  private val InsertOffset = 1000000L

  /** Stage the pre-churn stored index (postings + df) once per dataset
    * — the "existing table" the incremental maintenance reads. Keyed
    * by [[Tables.stagingKey]] (full-path hash + source-file content
    * fingerprint), so two datasets sharing a basename never collide
    * and a regenerated dataset at the same path restages instead of
    * silently serving a stale index. */
  private[graft] def indexRoot(s: SparkSession, d: String): String = {
    Staging.once("index_", d, Seq("documents"), "v2-postings-df") { tmp =>
      val docs = Tables.documents(s, d)
      // Churn-insert ids are doc_id + InsertOffset; a corpus whose ids
      // reach the offset would alias an insert onto an existing doc and
      // split one doc_id's postings across two sources — fail loudly at
      // staging time instead (the oracle replays the same static offset).
      val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
      require(maxId + InsertOffset > 0 && maxId < InsertOffset,
        s"corpus max doc_id $maxId must stay below the churn insert offset $InsertOffset")
      val p = postingsOf(docs)
      p.write.mode("overwrite").parquet(s"$tmp/postings")
      p.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$tmp/df")
    }
  }

  private def indexIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = indexRoot(s, d)
    val p1 = Tables.parquet(s, s"$root/postings")
    val df1 = Tables.parquet(s, s"$root/df")
    val base = Tables.documents(s, d)
    // the CDC feed: deterministic churn so the oracle can replay it
    val deletes = base.filter($"doc_id" % ChurnMod === 3).select($"doc_id")
    val updates = base.filter($"doc_id" % ChurnMod === 5)
      .select($"doc_id", concat($"text", lit(" errata revision")).as("text"))
    val inserts = base.filter($"doc_id" % ChurnMod === 7)
      .select(($"doc_id" + InsertOffset).as("doc_id"),
        concat($"text", lit(" appendix")).as("text"))
    val changedDocs = updates.unionByName(inserts)
    val droppedIds = deletes.unionByName(updates.select($"doc_id"))
    // churn-sized recompute (consumed twice: union + df delta)
    val pNew = postingsOf(changedDocs).localCheckpoint()
    val p2 = p1.join(broadcast(droppedIds), Seq("doc_id"), "left_anti")
      .unionByName(pNew)
    val dfMinus = p1.join(broadcast(droppedIds), Seq("doc_id"), "left_semi")
      .groupBy($"tok").agg((-count(lit(1))).as("dd"))
    val dfPlus = pNew.groupBy($"tok").agg(count(lit(1)).as("dd"))
    val df2 = df1.select($"tok", $"df".as("dd"))
      .unionByName(dfMinus).unionByName(dfPlus)
      .groupBy($"tok").agg(sum($"dd").as("df")).filter($"df" > 0)
    p2.join(df2, "tok")
      .select($"tok", $"df", $"doc_id", $"tf", $"deltas")
      .orderBy($"tok", $"doc_id")
  }
  /** Full rebuild on the post-churn corpus — must hash-equal the
    * incrementally maintained table. */
  private val indexIncrementalSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % $ChurnMod <> 3 AND doc_id % $ChurnMod <> 5
       |  UNION ALL
       |  SELECT doc_id, text || ' errata revision' FROM documents
       |  WHERE doc_id % $ChurnMod = 5
       |  UNION ALL
       |  SELECT doc_id + $InsertOffset, text || ' appendix' FROM documents
       |  WHERE doc_id % $ChurnMod = 7),
       |docw AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
       |  FROM (SELECT doc_id, ${TextPrep.wordsSql} AS w FROM corpus),
       |       unnest(range(1, len(w) + 1)) t(i)
       |  WHERE w[i] <> ''),
       |dl AS (SELECT doc_id, pos, tok,
       |  pos - COALESCE(LAG(pos) OVER (PARTITION BY tok, doc_id ORDER BY pos), 0)
       |    AS delta FROM docw),
       |g AS (SELECT tok, doc_id, COUNT(*) AS tf,
       |  array_to_string(list(delta ORDER BY pos), ',') AS deltas
       |  FROM dl GROUP BY tok, doc_id)
       |SELECT tok, COUNT(*) OVER (PARTITION BY tok) AS df, doc_id, tf, deltas
       |FROM g ORDER BY tok, doc_id""".stripMargin

  private val GramLen = 8
  private val BenchMod = 20

  private def decontaminate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, d)
      .select($"doc_id", explode(TextPrep.shingleSet($"text", GramLen)).as("g"))
    val bench = grams.filter($"doc_id" % BenchMod === 0).select($"g").distinct()
    grams.filter($"doc_id" % BenchMod =!= 0)
      .join(broadcast(bench), Seq("g"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy($"doc_id")
  }
  private val decontaminateSql = {
    val L = GramLen
    s"""WITH docs AS (SELECT doc_id, ${TextPrep.wordsSql} AS w FROM documents),
       |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i : i + ${L - 1}], ' ') AS g
       |          FROM docs, unnest(range(1, len(w) - ${L - 2})) t(i)),
       |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % $BenchMod = 0)
       |SELECT doc_id, COUNT(*) AS n_shared
       |FROM grams
       |WHERE doc_id % $BenchMod <> 0 AND g IN (SELECT g FROM bench)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -- q_contamination_score: per-doc overlap triage report -----------------
  // q_decontaminate answers "which docs share ANY benchmark shingle";
  // production decontamination (GPT-3 appx C, PaLM, Llama) TRIAGES
  // instead of dropping: per train doc, the FRACTION of its distinct
  // 8-gram shingles that appear in the benchmark set, banded into
  // severity classes — a doc quoting one benchmark sentence scores low
  // and survives with the span excised (dedup_substring's job), a
  // near-copy scores critical and is dropped. Same scale shape as the
  // flag query: benchmark grams broadcast, train side aggregated in
  // one pass (conditional count off the left join), never shuffled by
  // gram. Score = n_hit/n_grams in one integer-fed double division —
  // identical on both engines, so the severity CASE can't disagree.
  private def contaminationScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, d)
      .select($"doc_id", explode(TextPrep.shingleSet($"text", GramLen)).as("g"))
    val bench = grams.filter($"doc_id" % BenchMod === 0)
      .select($"g").distinct().withColumn("hit", lit(1L))
    grams.filter($"doc_id" % BenchMod =!= 0)
      .join(broadcast(bench), Seq("g"), "left_outer")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .withColumn("score", $"n_hit".cast("double") / $"n_grams")
      .withColumn("severity",
        when($"score" >= 0.5, "critical").when($"score" >= 0.1, "high")
          .when($"score" > 0.0, "low").otherwise("clean"))
      .orderBy($"doc_id")
  }
  private val contaminationScoreSql = {
    val L = GramLen
    s"""WITH docs AS (SELECT doc_id, ${TextPrep.wordsSql} AS w FROM documents),
       |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i : i + ${L - 1}], ' ') AS g
       |          FROM docs, unnest(range(1, len(w) - ${L - 2})) t(i)),
       |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % $BenchMod = 0),
       |tr AS (SELECT doc_id, COUNT(*) AS n_grams,
       |    CAST(SUM(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM grams WHERE doc_id % $BenchMod <> 0 GROUP BY doc_id)
       |SELECT doc_id, n_grams, n_hit,
       |  CAST(n_hit AS DOUBLE) / n_grams AS score,
       |  CASE WHEN CAST(n_hit AS DOUBLE) / n_grams >= 0.5 THEN 'critical'
       |       WHEN CAST(n_hit AS DOUBLE) / n_grams >= 0.1 THEN 'high'
       |       WHEN CAST(n_hit AS DOUBLE) / n_grams > 0.0 THEN 'low'
       |       ELSE 'clean' END AS severity
       |FROM tr ORDER BY doc_id""".stripMargin
  }

  // -- text_bpe: BPE tokenizer training ------------------------------------
  // Iterative byte-pair-encoding merge learning (Sennrich et al., 2016)
  // on top of `text_vocab`'s frequency pass. Round r: count every
  // ADJACENT symbol pair weighted by word frequency, pick the most
  // frequent (ties broken lexicographically — total order, so both
  // engines pick the same pair), merge it greedily left-to-right in
  // every word, repeat. Output = the learned merge table, which IS the
  // tokenizer: encoding a new string replays the merges in rank order.
  //
  // Scale shape: BPE trains on the DISTINCT-word frequency table, not
  // the corpus — one corpus pass builds it, and every round after that
  // touches only vocab-bounded state (a few million rows at web scale,
  // here 31). Each round is one narrow pair-count aggregate + a
  // broadcast of the single winning pair; an eager checkpoint per round
  // (Iterate.eager) keeps the iterated plan O(1), the
  // `dedup_components` discipline.
  private[graft] val BpeRounds = 10

  /** Counts BPE TRAINING jobs — the spec pins that warm encode /
    * fertility / train paths read the staged model and never retrain
    * (the hybridBuildRuns discipline). */
  private[graft] val bpeTrainRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The trained tokenizer as a STORED artifact (r13 verdict #3):
    * merges + final segmentation state persist under the
    * content-fingerprint lifecycle keyed on `documents` alone — the
    * canonical production shape, where a tokenizer is trained once and
    * every encode job loads it. Vocab-sized (31 words here, millions at
    * web scale) — dictionary-sized against a 100 TB corpus either way. */
  private[graft] def bpeModelRoot(s: SparkSession, d: String): String = {
    Staging.once("bpe_", d, Seq("documents"), "v1-bpe-merges+state") { tmp =>
      bpeTrainRuns.incrementAndGet()
      val (merges, state) = bpeTrainLoop(s, d)
      merges.write.mode("overwrite").parquet(s"$tmp/merges")
      state.write.mode("overwrite").parquet(s"$tmp/state")
    }
  }

  /** Staged-model accessors: the merge table, and the final per-word
    * segmentation. The final state doubles as the ENCODER's dictionary —
    * `text_bpe_encode` joins it back onto the corpus. No training job
    * runs on a warm call. */
  private def bpeMerges(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, s"${bpeModelRoot(s, d)}/merges")
  private def bpeState(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, s"${bpeModelRoot(s, d)}/state")

  /** The training loop proper — only [[bpeModelRoot]] calls it, once
    * per corpus fingerprint. */
  private def bpeTrainLoop(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val words = Tables.documents(s, d)
      .select(explode(TextPrep.words($"text")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("freq"))
    val init = words
      .select($"word", $"freq", split($"word", "").as("syms"))
      .localCheckpoint()
    // the learned merge table accumulates DRIVER-side: each round's
    // argmax is one row, collected by the same TakeOrdered action that
    // decides exhaustion — O(rounds) driver state, the documented
    // manifest-arithmetic budget
    var mergeRows = List.empty[(Long, String, String, Long)]
    val state = Iterate.eager(init, BpeRounds) { (state, rank) =>
      val pairs = state.filter(size($"syms") >= 2)
        .select($"freq", explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> named_struct('lft', syms[i], 'rgt', syms[i + 1]))")).as("p"))
        .groupBy($"p.lft".as("lft"), $"p.rgt".as("rgt"))
        .agg(sum($"freq").as("n"))
      // ONE action serves argmax + exhaustion guard + merge row: a
      // TakeOrderedAndProject head(1) (the pre-r9 shape spent a
      // localCheckpoint job, then an isEmpty take(1), then broadcast
      // the winner into a crossJoin — 3 barriers per round, which is
      // what made the loop fragile under driver-box load). Empty ⇒
      // degenerate corpus with fewer merges than rounds.
      pairs.orderBy($"n".desc, $"lft", $"rgt").head(1).headOption.map { best =>
        val (l, r, n) = (best.getString(0), best.getString(1), best.getLong(2))
        mergeRows ::= ((rank.toLong, l, r, n))
        // the winning pair rides into the round's plan as LITERALS —
        // no per-round broadcast exchange at all
        state.select($"word", $"freq", Bpe.mergePair($"syms", lit(l), lit(r)).as("syms"))
      }
    }
    val merges = mergeRows.reverse
      .toDF("merge_rank", "pair_left", "pair_right", "n")
    (merges.orderBy($"merge_rank"), state)
  }

  private def bpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeMerges(s, d).orderBy($"merge_rank")
  }

  // -- text_bpe_encode: the trained tokenizer applied at corpus scale ------
  // Closes the trainer → tokenizer → corpus loop: the final training
  // state IS the encoding dictionary (word → its merged symbols), so
  // encoding is a vocab-sized broadcast join onto the exploded corpus —
  // the corpus itself never shuffles and is tokenized in one map+join
  // pass. At web scale the dictionary is millions of rows, still
  // dictionary-sized against a 100 TB corpus; out-of-vocabulary words
  // (none here — the dictionary is trained on this corpus) would fall
  // back to the character segmentation via a left join + coalesce.
  private def bpeEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val state = bpeState(s, d)
    val dict = state.select($"word", size($"syms").cast("long").as("n_sub"))
    Tables.documents(s, d)
      .select($"doc_id", explode(TextPrep.words($"text")).as("word"))
      .filter($"word" =!= "")
      .join(broadcast(dict), "word")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"n_sub").as("n_bpe_tokens"))
      .orderBy($"doc_id")
  }

  /** The same training loop, unrolled round-by-round into one DuckDB
    * query: per round, pair counts → lexicographic-tie argmax → greedy
    * left-to-right re-segmentation. Greedy non-overlap in SQL: a
    * matching position is TAKEN iff its offset from the head of its
    * consecutive-match run is even (runs only ever form when l = r),
    * and the position after a taken one is consumed. */
  /** Shared WITH-body: s0 (char segmentation of the word-frequency
    * table) plus one p/b/m/g/t/k/s block per round. Training reads the
    * b* argmax rows; encoding reads the FINAL s* segmentation. Every
    * multiply-referenced CTE is MATERIALIZED: DuckDB inlines CTEs by
    * default, and each round references s_r twice — inlining doubles
    * the tree per round, a 2^rounds planning blowup (measured minutes
    * at 10 rounds; milliseconds materialized). */
  private val bpeCtes: String = {
    val rounds = (0 until BpeRounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT syms[i] AS lft, syms[i + 1] AS rgt,
         |          CAST(SUM(freq) AS BIGINT) AS n
         |        FROM s$r, unnest(range(1, len(syms))) t(i) GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT lft, rgt, n FROM p$r
         |        ORDER BY n DESC, lft, rgt LIMIT 1),
         |m$r AS (SELECT word, freq, syms, i, lft, rgt,
         |          COALESCE(syms[i] = lft AND syms[i + 1] = rgt, FALSE) AS mt
         |        FROM (SELECT * FROM s$r LEFT JOIN b$r ON TRUE),
         |          unnest(range(1, len(syms) + 1)) t(i)),
         |g$r AS (SELECT *, SUM(CASE WHEN mt THEN 0 ELSE 1 END)
         |          OVER (PARTITION BY word ORDER BY i) AS grp FROM m$r),
         |t$r AS (SELECT *, mt AND (i - MIN(CASE WHEN mt THEN i END)
         |          OVER (PARTITION BY word, grp)) % 2 = 0 AS taken FROM g$r),
         |k$r AS (SELECT *, COALESCE(LAG(taken) OVER (PARTITION BY word ORDER BY i),
         |          FALSE) AS consumed FROM t$r),
         |s${r + 1} AS MATERIALIZED (SELECT word, freq,
         |          list(CASE WHEN taken THEN lft || rgt ELSE syms[i] END
         |               ORDER BY i) AS syms
         |        FROM k$r WHERE NOT consumed GROUP BY word, freq)""".stripMargin
    }.mkString(",\n")
    s"""s0 AS MATERIALIZED (SELECT word, freq, string_split(word, '') AS syms FROM (
       |  SELECT word, COUNT(*) AS freq FROM (
       |    SELECT unnest(${TextPrep.wordsSql}) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word)),
       |$rounds""".stripMargin
  }

  private val bpeTrainSql = {
    val out = (0 until BpeRounds).map { r =>
      s"SELECT CAST(${r + 1} AS BIGINT) AS merge_rank, lft AS pair_left, " +
        s"rgt AS pair_right, n FROM b$r"
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeCtes
       |SELECT * FROM (
       |$out
       |) ORDER BY merge_rank""".stripMargin
  }

  private val bpeEncodeSql =
    s"""WITH $bpeCtes,
       |enc AS (SELECT word, len(syms) AS n_sub FROM s$BpeRounds),
       |docw AS (SELECT doc_id, unnest(${TextPrep.wordsSql}) AS word
       |         FROM documents),
       |dw AS (SELECT doc_id, word FROM docw WHERE word <> '')
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens
       |FROM dw JOIN enc USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -- text_fertility: tokenizer fertility & compression per source ---------
  // The readout that decides whether a tokenizer fits a corpus slice
  // (and the budget gauge behind every "how many tokens is this
  // dataset" estimate): FERTILITY = subword tokens per word, and
  // CHARS PER TOKEN = the compression the vocabulary actually achieves,
  // both per source. A tokenizer trained on one distribution fragments
  // another (high fertility = wasted sequence length, inflated training
  // cost — the reason multilingual corpora retrain vocabularies). Same
  // machinery as text_bpe_encode: the trained dictionary broadcasts,
  // the corpus never shuffles beyond the per-source aggregate; ratios
  // are IEEE divisions of exact integer sums rounded at 6.
  private def bpeFertility(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val state = bpeState(s, d)
    val dict = state.select($"word", size($"syms").cast("long").as("n_sub"))
    Tables.documents(s, d)
      .select($"source", explode(TextPrep.words($"text")).as("word"))
      .filter($"word" =!= "")
      .join(broadcast(dict), "word")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_words"),
        sum($"n_sub").as("n_bpe_tokens"),
        sum(length($"word").cast("long")).as("n_chars"))
      .select($"source", $"n_words", $"n_bpe_tokens", $"n_chars",
        round($"n_bpe_tokens" / $"n_words".cast("double"), 6).as("fertility6"),
        round($"n_chars" / $"n_bpe_tokens".cast("double"), 6)
          .as("chars_per_token6"))
      .orderBy($"source")
  }
  private val bpeFertilitySql =
    s"""WITH $bpeCtes,
       |enc AS (SELECT word, len(syms) AS n_sub FROM s$BpeRounds),
       |docw AS (SELECT source, unnest(${TextPrep.wordsSql}) AS word
       |         FROM documents),
       |dw AS (SELECT source, word FROM docw WHERE word <> ''),
       |a AS (SELECT source, COUNT(*) AS n_words,
       |    CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens,
       |    CAST(SUM(length(word)) AS BIGINT) AS n_chars
       |  FROM dw JOIN enc USING (word)
       |  GROUP BY source)
       |SELECT source, n_words, n_bpe_tokens, n_chars,
       |  round(CAST(n_bpe_tokens AS DOUBLE) / n_words, 6) AS fertility6,
       |  round(CAST(n_chars AS DOUBLE) / n_bpe_tokens, 6)
       |    AS chars_per_token6
       |FROM a ORDER BY source""".stripMargin

  // -- text_lm_score: corpus bigram-LM familiarity -------------------------
  // The shape of LM-based quality filtering (CCNet's wikipedia-LM
  // perplexity gate) with the LM trained ON the corpus itself: score =
  // average corpus frequency of the document's bigrams. Repetitive
  // boilerplate scores high, novel/garbled text scores low. Exactness:
  // the per-bigram counts and the per-doc mass are integers; the single
  // final division is the only float op, so the oracle hash-matches.
  // Scale: the bigram count rides a WINDOW over the bigram partitioning
  // (one shuffle, reusing the tfidf df-via-window pattern) instead of a
  // count table + join-back (two); the per-doc aggregate is the second
  // and last shuffle. At 100 TB the window key becomes the 128-bit
  // bigram fingerprint so shuffle rows stay 16 bytes — string keys here
  // keep the oracle joinable.
  private def lmScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val bigrams = Tables.documents(s, d)
      .select($"doc_id", TextPrep.words($"text").as("w"))
      .filter(size($"w") >= 2) // sequence() would step backward on 1-word docs
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")).as("bg"))
    bigrams
      .withColumn("bg_n", count(lit(1)).over(Window.partitionBy($"bg")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"bg_n").as("familiarity_mass"))
      .withColumn("familiarity", $"familiarity_mass".cast("double") / $"n_bigrams")
      .orderBy($"doc_id")
  }
  private val lmScoreSql =
    s"""WITH docs AS (SELECT doc_id, ${TextPrep.wordsSql} AS w FROM documents),
       |bg AS (SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
       |       FROM docs, unnest(range(1, len(w))) t(i) WHERE len(w) >= 2),
       |cnt AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY bg) AS bg_n FROM bg)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  CAST(SUM(bg_n) AS BIGINT) AS familiarity_mass,
       |  CAST(SUM(bg_n) AS DOUBLE) / COUNT(*) AS familiarity
       |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -- text_perplexity: add-one smoothed bigram-LM quality gate ------------
  // The CCNet-style perplexity filter text_lm_score approximates: raw
  // bigram frequency cannot tell "frequent because predictable" from
  // "frequent prefix, surprising continuation" — a garbled doc whose
  // bigrams each occur once and a boilerplate doc whose bigram also
  // occurs once score IDENTICALLY (the spec pins such a kernel). The
  // smoothed model scores the CONDITIONAL probability
  //   P(v | u) = (c(u,v) + 1) / (c(u) + V)      (add-one; k = 1 keeps
  // every quantity an integer), c(u) = u's bigram-PREFIX count so the
  // distribution sums to 1, V = corpus vocabulary. Output per doc =
  // average negative log-prob (avg_nll, monotone in perplexity =
  // exp(avg_nll)). Parity: all counts integer; the only float ops are
  // one ln() per bigram with identical parenthesization both engines
  // and the davg/sqlAvg decimal pre-sum that absorbs ≤1-ulp ln drift
  // and aggregation order. Shape: bigram and prefix counts ride two
  // windows (bg then u — the second reuses the first's rows, keys are
  // 16-byte fingerprints at 100 TB), the vocab scalar broadcasts, and
  // the per-doc aggregate is the last shuffle.
  private def perplexity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.OracleMath.davg
    val docs = Tables.documents(s, d)
      .select($"doc_id", TextPrep.words($"text").as("w"))
    val vocab = docs.select(explode($"w").as("tok")).filter($"tok" =!= "")
      .agg(countDistinct($"tok").as("v"))
    val bigrams = docs.filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS u, w[i + 1] AS v2))")).as("b"))
      .select($"doc_id", $"b.u".as("u"), $"b.v2".as("v2"))
    bigrams
      .withColumn("c_bg", count(lit(1)).over(Window.partitionBy($"u", $"v2")))
      .withColumn("c_u", count(lit(1)).over(Window.partitionBy($"u")))
      .crossJoin(broadcast(vocab))
      .withColumn("nll", -log(($"c_bg" + 1.0) / ($"c_u" + $"v")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), davg($"nll").as("avg_nll"))
      .orderBy($"doc_id")
  }
  private val perplexitySql =
    s"""WITH docs AS (SELECT doc_id, ${TextPrep.wordsSql} AS w FROM documents),
       |vocab AS (SELECT COUNT(DISTINCT tok) AS v
       |          FROM (SELECT unnest(w) AS tok FROM docs) WHERE tok <> ''),
       |bg AS (SELECT doc_id, w[i] AS u, w[i + 1] AS v2
       |       FROM docs, unnest(range(1, len(w))) t(i) WHERE len(w) >= 2),
       |cb AS (SELECT doc_id,
       |       COUNT(*) OVER (PARTITION BY u, v2) AS c_bg,
       |       COUNT(*) OVER (PARTITION BY u) AS c_u FROM bg),
       |sc AS (SELECT doc_id, -ln((c_bg + 1.0) / (c_u + v)) AS nll
       |       FROM cb CROSS JOIN vocab)
       |SELECT doc_id, COUNT(*) AS n_bigrams, ${graft.OracleMath.sqlAvg("nll")} AS avg_nll
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -- q_bm25: BM25 ranked retrieval over the corpus -----------------------
  // The scoring layer on top of q_inverted_index's quantities (tf, df,
  // dl, avgdl): Robertson/Okapi BM25 with k1 = 1.2, b = 0.75, query =
  // the corpus's 3 most frequent tokens (deterministic: count desc then
  // token). Shapes: query terms and their df broadcast (3 rows); tf is
  // one narrow aggregate over the semi-joined postings; the one-row
  // corpus stats broadcast; top-20 is an orderBy+limit →
  // TakeOrderedAndProject, never a global sort. Parity: per-term
  // contributions round through DECIMAL(18,6) before the per-doc sum
  // (dsum), so aggregation order can't drift bits and a ≤1-ulp ln()
  // difference between engines is absorbed; the formula is written with
  // identical parenthesization on both sides.
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Terms = 3
  private val Bm25TopK = 20

  private def bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.OracleMath.dsum
    val toks = Tables.documents(s, d)
      .select($"doc_id", explode(TextPrep.words($"text")).as("tok"))
      .filter($"tok" =!= "")
    val dl = toks.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg($"dl").as("avgdl"))
    val qterms = toks.groupBy($"tok").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok").limit(Bm25Terms).select($"tok")
    val tf = toks.join(broadcast(qterms), "tok")
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) *
          ($"tf" * (Bm25K1 + 1.0)) /
          ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * $"dl" / $"avgdl")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), dsum($"contrib").as("score"))
      .orderBy($"score".desc, $"doc_id").limit(Bm25TopK)
  }
  private val bm25Sql =
    s"""WITH toks AS (SELECT doc_id, unnest(${TextPrep.wordsSql}) AS tok
       |              FROM documents),
       |t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
       |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
       |qterms AS (SELECT tok FROM (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok
       |           ORDER BY n DESC, tok LIMIT $Bm25Terms)),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t
       |       WHERE tok IN (SELECT tok FROM qterms) GROUP BY doc_id, tok),
       |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |sc AS (SELECT tf.doc_id,
       |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
       |      (tf * (${Bm25K1} + 1.0)) /
       |      (tf + ${Bm25K1} * (1.0 - ${Bm25B} + ${Bm25B} * dl.dl / avgdl)) AS contrib
       |  FROM tf JOIN dfreq ON tf.tok = dfreq.tok
       |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats)
       |SELECT doc_id, COUNT(*) AS n_terms,
       |  CAST(SUM(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE) AS score
       |FROM sc GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin

  // -- text_dsir: importance weights for data selection --------------------
  // DSIR (Xie et al. 2023, "Data Selection for Language Models via
  // Importance Resampling"): score each raw document by how much more
  // likely a TARGET-domain bag-of-bigrams model makes it than the raw
  // model — log w(x) = Σ_f c_f(x)·(ln p_t(f) − ln p_r(f)) with add-one
  // smoothing; documents with log w > 0 are the target-like selection
  // pool. Target here = the `lang = 'en'` slice; raw = the full corpus.
  //
  // The original implementation HASHES features into a fixed-width
  // vector — a bound on per-process memory, not part of the method. In
  // Spark the model is a distributed TABLE (feature, target-count,
  // raw-count): the per-document scoring is an equi-join of doc
  // features against it (both sides partitioned by feature), the
  // smoothing totals ride a one-row broadcast, and no executor ever
  // holds the model whole — so the fidelity-losing hash bucketing
  // drops out entirely at ANY scale. Parity: counts are exact
  // integers; the log-ratio is ONE ln of a ratio of exactly-
  // representable doubles (products < 2^53), identically parenthesized
  // on both engines; per-feature contributions round through
  // DECIMAL(18,6) before the per-doc sum (the q_bm25 discipline).
  private def dsir(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.OracleMath.dsum
    val bigrams = Tables.documents(s, d)
      .select($"doc_id", $"lang", TextPrep.words($"text").as("w"))
      .filter(size($"w") >= 2) // sequence() would step backward on 1-word docs
      .select($"doc_id", $"lang", explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")).as("f"))
    val docFeat = bigrams.groupBy($"doc_id", $"lang", $"f")
      .agg(count(lit(1)).as("c"))
    val model = docFeat.groupBy($"f").agg(
      sum(when($"lang" === "en", $"c").otherwise(0L)).as("ct"),
      sum($"c").as("cr"))
    val totals = model.agg(
      sum($"ct").as("t_tot"), sum($"cr").as("r_tot"), count(lit(1)).as("v"))
    docFeat.join(model, "f")
      .crossJoin(broadcast(totals))
      .withColumn("contrib",
        $"c" * log((($"ct" + 1.0) * ($"r_tot" + $"v")) /
          (($"t_tot" + $"v") * ($"cr" + 1.0))))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_feats"), dsum($"contrib").as("logw"))
      .withColumn("selected", when($"logw" > 0.0, 1).otherwise(0))
      .orderBy($"doc_id")
  }
  private val dsirSql =
    s"""WITH docs AS (SELECT doc_id, lang, ${TextPrep.wordsSql} AS w FROM documents),
       |bg AS (SELECT doc_id, lang, w[i] || ' ' || w[i + 1] AS f
       |       FROM docs, unnest(range(1, len(w))) t(i) WHERE len(w) >= 2),
       |df AS (SELECT doc_id, lang, f, COUNT(*) AS c FROM bg GROUP BY doc_id, lang, f),
       |model AS (SELECT f,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(SUM(c) AS BIGINT) AS cr
       |  FROM df GROUP BY f),
       |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS t_tot,
       |    CAST(SUM(cr) AS BIGINT) AS r_tot, COUNT(*) AS v FROM model),
       |sc AS (SELECT df.doc_id,
       |    df.c * ln(((ct + 1.0) * (r_tot + v)) / ((t_tot + v) * (cr + 1.0))) AS contrib
       |  FROM df JOIN model ON df.f = model.f CROSS JOIN tot),
       |agg AS (SELECT doc_id, COUNT(*) AS n_feats,
       |    CAST(SUM(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE) AS logw
       |  FROM sc GROUP BY doc_id)
       |SELECT doc_id, n_feats, logw,
       |  CASE WHEN logw > 0 THEN 1 ELSE 0 END AS selected
       |FROM agg ORDER BY doc_id""".stripMargin

  // -- pipeline_llm_mix: the round-7 ops composed into one mix build -------
  // The "prepare a training mix" job end-to-end, as ONE composed plan:
  // per-source boilerplate removal → exact dedup keep-first on the
  // CLEANED text (order matters: docs differing only in template text
  // must collapse, which pre-clean dedup provably misses) → DSIR
  // importance scoring of the survivors (model trained on the
  // survivors themselves) → per-source mix accounting (docs in/kept/
  // selected, selected token mass). The stages chain without
  // materialization: Catalyst sees one tree, so column pruning and
  // shared scans span stage boundaries. Parity: each stage reuses its
  // standalone twin's oracle fragment verbatim; dedup groups on the
  // 128-bit fingerprint while the oracle groups on the text itself —
  // hash-equality re-proves the fingerprint collision-free (the
  // dedup_exact discipline).
  private def pipelineLlmMix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.OracleMath.dsum
    val meta = Tables.documents(s, d).select($"doc_id", $"lang", $"source")
    val cleaned = boilerplate(s, d).select($"doc_id", $"text_clean")
      .join(meta, "doc_id")
    val deduped = cleaned
      .withColumn("fp", GraftFunctions.fingerprint128($"text_clean"))
      .withColumn("keep_id", min($"doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
      .filter($"doc_id" === $"keep_id")
      .select($"doc_id", $"lang", $"source", $"text_clean")
    val bigrams = deduped
      .select($"doc_id", $"lang", $"source", split($"text_clean", " ").as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id", $"lang", $"source", explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")).as("f"))
    val docFeat = bigrams.groupBy($"doc_id", $"lang", $"source", $"f")
      .agg(count(lit(1)).as("c"))
    val model = docFeat.groupBy($"f").agg(
      sum(when($"lang" === "en", $"c").otherwise(0L)).as("ct"),
      sum($"c").as("cr"))
    val totals = model.agg(
      sum($"ct").as("t_tot"), sum($"cr").as("r_tot"), count(lit(1)).as("v"))
    val scored = docFeat.join(model, "f")
      .crossJoin(broadcast(totals))
      .withColumn("contrib",
        $"c" * log((($"ct" + 1.0) * ($"r_tot" + $"v")) /
          (($"t_tot" + $"v") * ($"cr" + 1.0))))
      .groupBy($"doc_id").agg(dsum($"contrib").as("logw"))
    val byDoc = deduped
      .select($"doc_id", $"source",
        size(split($"text_clean", " ")).cast("long").as("n_tok"))
      .join(scored.filter($"logw" > 0.0)
        .select($"doc_id", lit(1L).as("selected")), Seq("doc_id"), "left")
      .na.fill(0L, Seq("selected"))
    val inCounts = meta.groupBy($"source").agg(count(lit(1)).as("docs_in"))
    byDoc.groupBy($"source").agg(
        count(lit(1)).as("docs_kept"),
        sum($"selected").as("docs_selected"),
        sum(when($"selected" === 1L, $"n_tok").otherwise(0L)).as("tokens_selected"))
      .join(broadcast(inCounts), "source")
      .select($"source", $"docs_in", $"docs_kept", $"docs_selected",
        $"tokens_selected")
      .orderBy($"source")
  }
  private val pipelineLlmMixSql = {
    val L = SegLen
    s"""WITH docs AS (SELECT doc_id, source, ${TextPrep.wordsSql} AS w FROM documents),
       |census AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
       |segs AS (SELECT doc_id, source, i AS seg_no,
       |    array_to_string(w[i * $L + 1 : i * $L + $L], ' ') AS seg,
       |    len(w[i * $L + 1 : i * $L + $L]) = $L AS is_full
       |  FROM docs, unnest(range(0, CAST(ceil(len(w) / ${L}.0) AS BIGINT))) t(i)),
       |bfreq AS (SELECT s.source, s.seg
       |  FROM segs s JOIN census c ON c.source = s.source
       |  WHERE s.is_full
       |  GROUP BY s.source, s.seg, c.n_docs
       |  HAVING COUNT(DISTINCT s.doc_id) * $BpDen > c.n_docs * $BpNum),
       |bkept AS (SELECT sg.* FROM segs sg
       |  WHERE NOT (sg.is_full AND EXISTS (
       |    SELECT 1 FROM bfreq f WHERE f.source = sg.source AND f.seg = sg.seg))),
       |clean AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_no) AS text_clean
       |  FROM bkept GROUP BY doc_id),
       |cl AS (SELECT c.doc_id, c.text_clean, m.lang, m.source
       |  FROM clean c JOIN documents m ON c.doc_id = m.doc_id),
       |ded AS (SELECT doc_id, text_clean, lang, source FROM (
       |    SELECT *, MIN(doc_id) OVER (PARTITION BY text_clean) AS keep_id FROM cl)
       |  WHERE doc_id = keep_id),
       |w2 AS (SELECT doc_id, lang, source, string_split(text_clean, ' ') AS w FROM ded),
       |bg AS (SELECT doc_id, lang, source, w[i] || ' ' || w[i + 1] AS f
       |  FROM w2, unnest(range(1, len(w))) t(i) WHERE len(w) >= 2),
       |df2 AS (SELECT doc_id, lang, source, f, COUNT(*) AS c
       |  FROM bg GROUP BY doc_id, lang, source, f),
       |model AS (SELECT f,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(SUM(c) AS BIGINT) AS cr
       |  FROM df2 GROUP BY f),
       |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS t_tot,
       |    CAST(SUM(cr) AS BIGINT) AS r_tot, COUNT(*) AS v FROM model),
       |sc AS (SELECT df2.doc_id,
       |    df2.c * ln(((ct + 1.0) * (r_tot + v)) / ((t_tot + v) * (cr + 1.0))) AS contrib
       |  FROM df2 JOIN model ON df2.f = model.f CROSS JOIN tot),
       |sagg AS (SELECT doc_id,
       |    CAST(SUM(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE) AS logw
       |  FROM sc GROUP BY doc_id),
       |bydoc AS (SELECT dd.doc_id, dd.source,
       |    CAST(len(string_split(dd.text_clean, ' ')) AS BIGINT) AS n_tok,
       |    CASE WHEN a.logw > 0 THEN 1 ELSE 0 END AS selected
       |  FROM ded dd LEFT JOIN sagg a ON a.doc_id = dd.doc_id),
       |incounts AS (SELECT source, COUNT(*) AS docs_in FROM documents GROUP BY source)
       |SELECT i.source, i.docs_in, k.docs_kept, k.docs_selected, k.tokens_selected
       |FROM (SELECT source, COUNT(*) AS docs_kept,
       |    CAST(SUM(selected) AS BIGINT) AS docs_selected,
       |    CAST(SUM(CASE WHEN selected = 1 THEN n_tok ELSE 0 END) AS BIGINT)
       |      AS tokens_selected
       |  FROM bydoc GROUP BY source) k
       |JOIN incounts i ON i.source = k.source
       |ORDER BY i.source""".stripMargin
  }

  // -- q_phrase_search: positional phrase retrieval ---------------------------
  // The query class the inverted index stores POSITIONS for (tf alone
  // can't answer it): find documents containing an exact adjacent
  // phrase. The workload is self-contained — the phrase is the corpus's
  // most frequent bigram (exact counts, lexicographic tie-break), the
  // way a phrase-mining pass would feed the retrieval layer. Shape:
  // the one-row phrase broadcasts; the position table is filtered to
  // the phrase's two tokens BEFORE any join (at 100 TB with the staged
  // positional index this is two posting-list reads, never a corpus
  // scan); occurrences close with one (doc_id, pos+1 = pos) equi-join —
  // the standard positional-intersection step, candidate-bounded by
  // the rarer token's posting list.
  private def phraseSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", TextPrep.words($"text").as("w"))
    val pos = docs
      .select($"doc_id", posexplode($"w").as(Seq("p", "tok")))
      .filter($"tok" =!= "")
      .select($"doc_id", $"p".cast("long").as("p"), $"tok")
    val phrase = docs.filter(size($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS u, w[i + 1] AS v2))")).as("b"))
      .filter($"b.u" =!= "" && $"b.v2" =!= "")
      .groupBy($"b.u".as("u"), $"b.v2".as("v2")).agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"u", $"v2").limit(1)
    val first = pos.join(broadcast(phrase), $"tok" === $"u")
      .select($"doc_id", $"p", $"u", $"v2")
    val second = pos.join(broadcast(phrase.select($"v2".as("vk"))), $"tok" === $"vk")
      .select($"doc_id".as("d2"), $"p".as("p2"))
    first.join(second, $"doc_id" === $"d2" && $"p" + 1 === $"p2")
      .groupBy($"u".as("phrase_u"), $"v2".as("phrase_v"), $"doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy($"doc_id")
  }
  private val phraseSearchSql =
    s"""WITH docs AS (SELECT doc_id, ${TextPrep.wordsSql} AS w FROM documents),
       |pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, w[i] AS tok
       |  FROM docs, unnest(range(1, len(w) + 1)) t(i) WHERE w[i] <> ''),
       |phrase AS (SELECT w[i] AS u, w[i + 1] AS v2, COUNT(*) AS cnt
       |  FROM docs, unnest(range(1, len(w))) t(i)
       |  WHERE len(w) >= 2 AND w[i] <> '' AND w[i + 1] <> ''
       |  GROUP BY 1, 2 ORDER BY cnt DESC, u, v2 LIMIT 1)
       |SELECT ph.u AS phrase_u, ph.v2 AS phrase_v, a.doc_id AS doc_id,
       |  COUNT(*) AS n_occurrences
       |FROM pos a JOIN phrase ph ON a.tok = ph.u
       |JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1 AND b.tok = ph.v2
       |GROUP BY 1, 2, 3 ORDER BY a.doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_phrase_search", phraseSearch, Some(phraseSearchSql)),
    QueryDef("pipeline_llm_mix", pipelineLlmMix, Some(pipelineLlmMixSql)),
    QueryDef("text_dsir", dsir, Some(dsirSql)),
    QueryDef("text_bpe", bpeTrain, Some(bpeTrainSql)),
    QueryDef("text_bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    QueryDef("text_fertility", bpeFertility, Some(bpeFertilitySql)),
    QueryDef("text_lm_score", lmScore, Some(lmScoreSql)),
    QueryDef("text_perplexity", perplexity, Some(perplexitySql)),
    QueryDef("text_chunk", chunk, Some(chunkSql)),
    QueryDef("text_seg_dedup", segDedup, Some(segDedupSql)),
    QueryDef("text_boilerplate", boilerplate, Some(boilerplateSql)),
    QueryDef("dedup_substring", substringDedup, Some(substringDedupSql)),
    QueryDef("dedup_substring_keep", substringDedupKeep, Some(substringDedupKeepSql)),
    QueryDef("text_vocab", vocab, Some(vocabSql)),
    QueryDef("q_decontaminate", decontaminate, Some(decontaminateSql)),
    QueryDef("q_contamination_score", contaminationScore, Some(contaminationScoreSql)),
    QueryDef("q_inverted_index", invertedIndex, Some(invertedIndexSql)),
    QueryDef("q_index_incremental", indexIncremental, Some(indexIncrementalSql)),
    QueryDef("q_bm25", bm25, Some(bm25Sql)),
  )
}

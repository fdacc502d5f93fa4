package graft.operators

import graft.{QueryDef, Staging, Tables}
import graft.OracleMath._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators (SURVEY.md §2.6) — the jobs that keep a
  * 100 TB parquet lake healthy: upsert/merge of a changes batch, and
  * small-file compaction. Both are expressed so the data content is
  * oracle-checkable (the maintenance must not change the answers).
  */
object Maintenance {

  /** Engine-exact 2dp rounding of the snapshot rewrite's 1.1× price:
    * floor(x·100 + 0.5) / 100 on BOTH engines. `round(x, 2)` is NOT
    * portable — Spark rounds the double's SHORTEST DECIMAL rendering
    * (BigDecimal.valueOf: "315506.785" → .79) while DuckDB rounds the
    * exact binary value (…78499999997 → .78); at sf0.1 one row lands
    * on such a boundary and flips the hash. */
  private[graft] def bumpedPrice(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(1.1) * 100.0 + 0.5) / 100.0
  private[graft] val bumpedPriceSql =
    "floor(o_totalprice * CAST(1.1 AS DOUBLE) * 100 + 0.5) / 100"

  // -- q_incremental_agg: stored aggregate + delta merge --------------------
  // Materialized-view maintenance, the lakehouse answer to "the daily
  // dashboard must not rescan 100 TB": a STORED per-group aggregate
  // table absorbs each arriving batch by MERGING mergeable state —
  // (n, decimal Σ) add associatively, so stored ⊎ delta equals the
  // full recompute EXACTLY (the decimal pre-cast makes the sum
  // order-free; a float Σ would drift between the incremental and
  // full paths). Batch = event_id % 11 == 7 plays the day's arrivals;
  // the base aggregate is genuinely written and read back (parquet),
  // so the query's cost is O(groups + batch), never O(history). The
  // oracle recomputes both paths from raw events and checks the merge
  // arithmetic itself.
  private def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("q_incremental_agg", d)
    val ev = Tables.events(s, d)
      .select($"event_type", $"value", $"event_id")
    val dec = $"value".cast("decimal(18,6)")
    ev.filter($"event_id" % 11 =!= 7)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum(dec).as("s"))
      .write.mode("overwrite").parquet(out) // the stored aggregate table
    val stored = Tables.parquet(s, out)
    val delta = ev.filter($"event_id" % 11 === 7)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum(dec).as("s"))
    stored.unionByName(delta)
      .groupBy($"event_type")
      .agg(sum($"n").as("n_total"), sum($"s").cast("double").as("sum_total"),
        count(lit(1)).as("n_shards"))
      .orderBy($"event_type")
  }
  private val incrementalAggSql =
    """WITH shards AS (
      |  SELECT event_type, event_id % 11 = 7 AS is_delta, COUNT(*) AS n,
      |    SUM(CAST(value AS DECIMAL(18,6))) AS s
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_total,
      |  CAST(SUM(s) AS DOUBLE) AS sum_total, COUNT(*) AS n_shards
      |FROM shards GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q_incremental_join: delta maintenance of a JOIN view ----------------
  // The join half of incremental view maintenance (q_incremental_agg is
  // the aggregate half): for V = A ⋈ B, arriving deltas update the
  // stored view as ΔV = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB — the classic
  // counting-algorithm decomposition (Gupta & Mumick 1995), never a
  // full recompute. Here A = orders (Δ: o_orderkey % 13 = 3), B =
  // lineitem (Δ: l_orderkey % 17 = 5), V = per-priority (count,
  // exact revenue cents); the pre-delta view is a STORED parquet
  // artifact and the output merges it with the three delta-join
  // aggregates by plain addition (counts and quantized cents are
  // mergeable). n_shards counts the contributing shards per group —
  // the audit that all three delta legs actually landed. The ORACLE is
  // the full recompute over A_new ⋈ B_new: equality IS the IVM
  // correctness claim. Scale: each delta leg shuffles only
  // delta-proportional rows against a key-partitioned base.
  private def incrementalJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("q_incremental_join", d)
    val cents = floor($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100
      + 0.5).cast("long")
    val o = Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority",
      ($"o_orderkey" % 13 === 3).as("da"))
    val l = Tables.lineitem(s, d).select($"l_orderkey", cents.as("cents"),
      ($"l_orderkey" % 17 === 5).as("db"))
    def leg(of: DataFrame, lf: DataFrame): DataFrame = of
      .join(lf, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"cents").as("c"))
    leg(o.filter(!$"da"), l.filter(!$"db"))
      .write.mode("overwrite").parquet(out) // the stored join view
    val stored = Tables.parquet(s, out)
    stored
      .unionByName(leg(o.filter($"da"), l.filter(!$"db")))
      .unionByName(leg(o.filter(!$"da"), l.filter($"db")))
      .unionByName(leg(o.filter($"da"), l.filter($"db")))
      .groupBy($"o_orderpriority")
      .agg(sum($"n").as("n_total"), sum($"c").as("cents_total"),
        count(lit(1)).as("n_shards"))
      .orderBy($"o_orderpriority")
  }
  private val incrementalJoinSql =
    """WITH j AS (SELECT o.o_orderpriority,
      |    o.o_orderkey % 13 = 3 AS da, l.l_orderkey % 17 = 5 AS db,
      |    CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100 + 0.5)
      |      AS BIGINT) AS cents
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |shards AS (SELECT o_orderpriority, da, db, COUNT(*) AS n,
      |    SUM(cents) AS c
      |  FROM j GROUP BY 1, 2, 3)
      |SELECT o_orderpriority, CAST(SUM(n) AS BIGINT) AS n_total,
      |  CAST(SUM(c) AS BIGINT) AS cents_total, COUNT(*) AS n_shards
      |FROM shards GROUP BY 1 ORDER BY 1""".stripMargin

  // -- q_merge_upsert: MERGE INTO semantics over plain parquet -------------
  // Changes batch = deterministic function of the base table: every
  // o_orderkey % 10 == 0 gets a 10% price bump (update), and a shifted
  // copy of o_orderkey % 1000 == 0 arrives as new rows (insert). The
  // merge is ONE shuffle of each side on the key (full-outer hash/SMJ +
  // coalesce), never a driver loop. At lake scale the same join runs
  // per-partition after pruning to partitions the changes touch —
  // that's Delta/Iceberg MERGE's physical shape re-expressed on raw
  // parquet.
  private def upserted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
    val updates = base.filter($"o_orderkey" % 10 === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 1.1)
    val inserts = base.filter($"o_orderkey" % 1000 === 0)
      .withColumn("o_orderkey", $"o_orderkey" + 100000000L)
    val changes = updates.unionByName(inserts)
    val cols = base.columns
    base.as("b").join(changes.as("c"),
        $"b.o_orderkey" === $"c.o_orderkey", "full_outer")
      .select(cols.toIndexedSeq.map(n => coalesce(col(s"c.$n"), col(s"b.$n")).as(n)): _*)
  }

  private def qMergeUpsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    upserted(s, d)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderpriority")
  }
  private val qMergeUpsertSql =
    s"""WITH changes AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
       |         o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
       |         o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey % 1000 = 0),
       |merged AS (
       |  SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
       |         COALESCE(c.o_orderpriority, b.o_orderpriority) AS o_orderpriority,
       |         COALESCE(c.o_totalprice, b.o_totalprice) AS o_totalprice
       |  FROM orders b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey)
       |SELECT o_orderpriority, COUNT(*) AS n, ${sqlSum("o_totalprice")} AS sum_price
       |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -- io_compaction: small-file compaction --------------------------------
  // Fragment the table into many small files (the pathology), compact
  // into a few sized files, and prove the content is untouched. The
  // compactor uses repartitionByRange on the sort key so the output
  // files are both few AND range-clustered (min/max file stats stay
  // selective for later scans) — a plain coalesce would preserve the
  // random row placement and destroy data-skipping value.
  def compact(s: SparkSession, inDir: String, outDir: String,
      files: Int, sortKey: String): Unit = {
    val df = Tables.parquet(s, inDir)
    df.repartitionByRange(files, col(sortKey))
      .sortWithinPartitions(col(sortKey))
      .write.mode("overwrite").parquet(outDir)
  }

  /** The fragmented 64-file layout (the pathology INPUT) staged once
    * per dataset behind a content fingerprint — re-fragmenting inside
    * the measured window was pure staging noise (r12 verdict #5, the
    * same fix io_branching's rbdata_ got in r12). Only the compaction
    * itself runs per call. */
  private def fragData(s: SparkSession, d: String): String = {
    import s.implicits._
    Staging.once("cpdata_", d, Seq("lineitem"), "v1-compaction-frag") { tmpDir =>
        Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_returnflag", $"l_extendedprice")
          .repartition(64)
          .write.mode("overwrite").parquet(s"$tmpDir/frag")
    }
  }

  /** Fragmented + compacted layouts for the spec; returns (frag, compacted). */
  def compactionDirs(s: SparkSession, d: String): (String, String) = {
    val frag = s"${fragData(s, d)}/frag"
    val compacted = Staging.scratch("io_compaction_out", d)
    compact(s, frag, compacted, files = 4, sortKey = "l_orderkey")
    (frag, compacted)
  }

  private def qCompaction(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (_, compacted) = compactionDirs(s, d)
    Tables.parquet(s, compacted)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("sum_price"),
        countDistinct($"l_orderkey").as("n_orders"))
      .orderBy($"l_returnflag")
  }
  private val qCompactionSql =
    s"""SELECT l_returnflag, COUNT(*) AS n, ${sqlSum("l_extendedprice")} AS sum_price,
       |  COUNT(DISTINCT l_orderkey) AS n_orders
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- q_scd2: slowly-changing-dimension (type 2) history build ------------
  // Rebuilds a versioned dimension from an event log: one row per
  // (user, state) EPISODE with [valid_from, valid_to) microsecond
  // validity and an is_current flag — the standard lake-warehouse
  // dimension shape. Consecutive events with an unchanged state collapse
  // (lag != current filters to change points); valid_to is the NEXT
  // change's timestamp (lead), null while current. ONE shuffle: both
  // windows and the change filter share the user_id partitioning. At
  // 100 TB the same plan incrementally extends the open tail partition —
  // closed episodes are immutable.
  private def qScd2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"ts_ns", $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNull || $"prev" =!= $"event_type")
      .withColumn("valid_from_us", expr("ts_ns div 1000"))
      .withColumn("valid_to_us", lead($"valid_from_us", 1).over(w))
      .withColumn("is_current", $"valid_to_us".isNull)
      .select($"user_id", $"event_type", $"valid_from_us", $"valid_to_us", $"is_current")
      .orderBy($"user_id", $"valid_from_us")
  }
  private val qScd2Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type FROM events),
      |c AS (
      |  SELECT *, lag(event_type) OVER
      |    (PARTITION BY user_id ORDER BY ts_ns, event_id) AS prev
      |  FROM e),
      |chg AS (
      |  SELECT user_id, ts_ns, event_id, event_type, ts_ns // 1000 AS valid_from_us
      |  FROM c WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_type, valid_from_us,
      |  lead(valid_from_us) OVER
      |    (PARTITION BY user_id ORDER BY ts_ns, event_id) AS valid_to_us,
      |  lead(valid_from_us) OVER
      |    (PARTITION BY user_id ORDER BY ts_ns, event_id) IS NULL AS is_current
      |FROM chg ORDER BY user_id, valid_from_us""".stripMargin

  // -- the snapshot store's on-disk format ------------------------------------
  // This section is the only code that knows the store's control-plane
  // layout; every other file goes through the functions below. Under a
  // store root (all driver-side manifest arithmetic, no data IO until
  // the resolved scan):
  //  - `manifest_v<N>.txt` — newline-separated file-group paths of
  //    snapshot N. `dv:` lines are merge-on-read deletion-vector
  //    sidecars (parquet of `(file_key, row_index)` positions), `txn:`
  //    lines the idempotent-writer registry, and
  //    `zone:<group>|<column>|<lo>|<hi>|<rows>` lines ([[ZoneLine]])
  //    one group's min/max for one column plus its row count: pushed
  //    range/equality filters prune whole groups BEFORE listing, and
  //    the stats share the commit's atomicity and versioning. A version
  //    is claimed only by [[commitSnapshot]]'s atomic link;
  //    [[writeManifest]] seeds or rewrites one in place.
  //  - `commits_ts.txt` — `version=epochSeconds` lines; `timestampAsOf`
  //    resolves through [[resolveAsOf]] (fail-closed before the first
  //    commit, exactly like Delta/Iceberg).
  //  - `schema_v<N>.json` — the physical-schema log; `mapping_v<N>.txt`
  //    — `logical=physical` column-mapping lines (renames/drops are
  //    metadata-only commits; reads project the mapping, and pruning
  //    and filter pushdown translate names). Entry N serves every
  //    snapshot from N up to the next entry ([[VersionLog.atOrBelow]]).
  //  - `partition_cols.txt` — the declared partition columns, comma-
  //    separated; `parquet_opts.txt` — `key=value` writer options.
  //  - `store_key.txt` — `key=value` lines holding the KMS-wrapped DEK
  //    of an encrypted control plane (never itself encrypted).
  // Every other text file may be AES-GCM ciphertext once
  // [[enableStoreEncryption]] ran, so reads go through [[readStoreText]]
  // and writes through [[writeStoreText]].
  private val StoreEncMagic = "GRAFTENC1\n".getBytes("UTF-8")
  private val StoreKeyFile = "store_key.txt"
  private val CommitLogFile = "commits_ts.txt"
  private val PartitionColsFile = "partition_cols.txt"
  private val ParquetOptsFile = "parquet_opts.txt"
  /** A staged data dir's recorded parquet file schema (see [[seedStore]]). */
  private val StagedSchemaFile = "schema.json"

  /** A per-version log `<prefix><N><suffix>` under a store root. */
  private[graft] final case class VersionLog(prefix: String, suffix: String) {
    def file(version: Int): String = s"$prefix$version$suffix"
    def owns(name: String): Boolean = name.startsWith(prefix) && name.endsWith(suffix)
    /** Logged versions. The suffix is part of the match: a concurrent
      * writer's in-flight temp file (or a crash-orphaned one) must never
      * count as a version or make the listing throw. */
    def versions(root: String): Seq[Int] =
      Option(new java.io.File(root).list()).toSeq.flatten.filter(owns)
        .flatMap(_.stripPrefix(prefix).stripSuffix(suffix).toIntOption)
    /** The largest logged version <= `version`: the entry serving it. */
    def atOrBelow(root: String, version: Int): Option[Int] =
      if (new java.io.File(root, file(version)).exists()) Some(version)
      else versions(root).filter(_ <= version).maxOption
  }
  private[graft] val ManifestLog = VersionLog("manifest_v", ".txt")
  private[graft] val SchemaLog = VersionLog("schema_v", ".json")
  private[graft] val MappingLog = VersionLog("mapping_v", ".txt")

  private def textLines(text: String): Seq[String] =
    text.split("\n").toIndexedSeq.map(_.trim).filter(_.nonEmpty)

  /** Lines (trimmed, blanks dropped) of store text file `name`; empty
    * when the file is absent. */
  private def storeLines(root: String, name: String): Seq[String] =
    if (!new java.io.File(root, name).exists()) Nil
    else textLines(readStoreText(root, name))

  /** The `key=value` lines of store text file `name` as pairs in file
    * order, split at the first '=' (the commit log, mappings, writer
    * options and the key file). */
  private def keyValues(root: String, name: String): Seq[(String, String)] =
    storeLines(root, name).filter(_.contains("=")).map { l =>
      val i = l.indexOf('='); (l.take(i), l.drop(i + 1))
    }
  private def renderKeyValues(kvs: Seq[(Any, Any)]): String =
    kvs.map { case (k, v) => s"$k=$v" }.mkString("\n")

  /** True iff `root` holds a store (its v1 manifest exists). */
  def isStore(root: String): Boolean =
    new java.io.File(root, ManifestLog.file(1)).exists()

  /** Write manifest `version` listing `lines` — seeding a store or
    * rewriting a version in place, never a commit (commits claim their
    * version through [[commitSnapshot]]). */
  private[graft] def writeManifest(root: String, version: Int, lines: Seq[String]): Unit =
    writeStoreText(root, ManifestLog.file(version), lines.mkString("\n"))

  /** Reset `root` to a fresh store whose v1 manifest lists `groups`.
    * With `schemaOf`, the schema log starts from that staged data dir's
    * recorded file schema ([[recordFileSchema]], r18): [[schemaAt]]
    * serves every version from the largest entry <= it and data commits
    * are schema-strict, so this one text file replaces a
    * footer-inference Spark job on EVERY subsequent resolve of the store
    * (mergeSchema commits still log their own evolved entry on top).
    * Staged dirs without the record fall back to inference unchanged. */
  private[graft] def seedStore(root: String, groups: Seq[String],
      schemaOf: Option[String] = None): Unit = {
    Staging.rmTree(new java.io.File(root))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    writeManifest(root, 1, groups)
    for (data <- schemaOf; staged = java.nio.file.Paths.get(data, StagedSchemaFile)
         if java.nio.file.Files.exists(staged))
      writeStoreText(root, SchemaLog.file(1),
        new String(java.nio.file.Files.readAllBytes(staged), "UTF-8"))
  }

  /** Record `group`'s parquet file schema in the staged dir `dir`, once
    * at a content-keyed staging build — what [[seedStore]] seeds from.
    * It IS the inferred schema, nullability included, so resolution is
    * bit-identical to the footer-inference path it short-circuits. */
  private def recordFileSchema(s: SparkSession, dir: java.io.File, group: String): Unit =
    java.nio.file.Files.write(dir.toPath.resolve(StagedSchemaFile),
      Tables.parquet(s, group).schema.json.getBytes("UTF-8"))

  /** The schema-log entry serving snapshot `version`, if any. A
    * malformed entry reads as None (fail open: footer inference). */
  private[graft] def schemaAt(root: String, version: Int)
      : Option[org.apache.spark.sql.types.StructType] =
    SchemaLog.atOrBelow(root, version).flatMap { m =>
      try Some(org.apache.spark.sql.types.DataType.fromJson(
        readStoreText(root, SchemaLog.file(m)))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      catch { case _: IllegalArgumentException => None }
    }
  private[graft] def writeSchemaLog(root: String, version: Int,
      schema: org.apache.spark.sql.types.StructType): Unit =
    writeStoreText(root, SchemaLog.file(version), schema.json)

  /** The column mapping (logical -> physical, in column order) serving
    * snapshot `version`, if any. */
  private[graft] def mappingAt(root: String, version: Int): Option[Seq[(String, String)]] =
    MappingLog.atOrBelow(root, version).map(m => keyValues(root, MappingLog.file(m)))
  private[graft] def writeMapping(root: String, version: Int,
      mapping: Seq[(String, String)]): Unit =
    writeStoreText(root, MappingLog.file(version), renderKeyValues(mapping))

  /** The store's declared partition columns (empty: unpartitioned). */
  private[graft] def partitionCols(root: String): Seq[String] =
    storeLines(root, PartitionColsFile).flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
  private[graft] def writePartitionCols(root: String, cols: Seq[String]): Unit =
    writeStoreText(root, PartitionColsFile, cols.mkString(","))

  /** The commit log: snapshot version -> commit epoch (seconds).
    * Empty for stores without one. */
  private[graft] def commitEpochs(root: String): Map[Int, Long] =
    keyValues(root, CommitLogFile).map { case (v, t) => v.toInt -> t.toLong }.toMap

  /** Idempotent, atomic commit-log write: skip-if-current, and the
    * atomic replace means a concurrent reader (a parallel bench rep
    * mid-resolveAsOf) never observes a truncated log, which a plain
    * truncate-then-write allows. */
  private[graft] def writeCommitLog(root: String, epochs: Seq[(Int, Long)]): Unit =
    if (commitEpochs(root) != epochs.toMap)
      writeStoreText(root, CommitLogFile, renderKeyValues(epochs))

  /** Register the graft SQL catalog over [[Staging.Base]] and return
    * the table name that addresses store `root`, a dir under it. */
  private def sqlTable(s: SparkSession, root: String): String = {
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.base", Staging.Base)
    new java.io.File(root).getName
  }

  // -- io_snapshot_read: copy-on-write snapshot versioning (time travel) ---
  // Delta/Iceberg's core idea on bare parquet: a table version is a
  // MANIFEST (list of immutable files), a write adds new files plus a
  // new manifest and never mutates old ones — so every prior version
  // stays readable forever (time travel) and readers are isolated from
  // in-flight writes. Here v2 rewrites ONLY the file group its update
  // predicate touches (o_orderkey % 40 == 0 lives entirely in group
  // g=0), exactly the partition-pruned COW rewrite a lake table does at
  // 100 TB; groups g=1..3 are SHARED between the two manifests, not
  // copied. The spec proves v1 is byte-stable after the v2 write.
  /** The ONE parser for manifest files — qCdcDiff, vacuum, and
    * readSnapshot all go through here so the format can't drift
    * between them. Blank lines (e.g. a trailing newline) are dropped
    * rather than becoming an empty parquet path. `zone:` stat lines
    * (r15 — per-group column min/max carried INSIDE the committed
    * manifest, so zone maps inherit OCC atomicity and versioning) are
    * metadata, not paths, and are stripped here so every existing
    * consumer keeps seeing only data and `dv:` lines. */
  def manifestPaths(root: String, version: Int): Seq[String] =
    pathsIn(manifestRawLines(root, version))

  /** The data and (normalized) `dv:` lines among manifest `lines`. */
  private def pathsIn(lines: Seq[String]): Seq[String] =
    lines.filterNot(l => ZoneLine.is(l) || TxnLine.is(l)).map(DvLine.normalize)

  /** [[manifestPaths]] and [[manifestZones]] of one version from a
    * single read (and, on an encrypted store, a single decrypt). */
  private[graft] def manifestPathsAndZones(root: String, version: Int)
      : (Seq[String], Seq[(String, String, String, String, Long)]) = {
    val lines = manifestRawLines(root, version)
    (pathsIn(lines), lines.flatMap(ZoneLine.parse))
  }

  /** One version's manifest against its parent's (version - 1): the
    * live data groups and normalized `dv:` lines, what the commit added
    * and removed of each (in manifest order), and its zone stats.
    * Without a parent manifest (v1, or a missing v - 1) everything live
    * counts as added. */
  private[graft] final case class ManifestDelta(version: Int,
      data: Seq[String], dv: Seq[String],
      addedData: Seq[String], removedData: Seq[String],
      addedDv: Seq[String], removedDv: Seq[String],
      zones: Seq[(String, String, String, String, Long)], hasParent: Boolean)

  /** The deltas of ascending `versions`, the one walk that diffs
    * manifests (DESCRIBE HISTORY, the batch change feed, the streaming
    * source). Each manifest is read, and on an encrypted store
    * decrypted, once: a walked version is the next one's parent. A
    * version whose manifest is missing throws. */
  private[graft] def manifestDeltas(root: String, versions: Seq[Int]): Iterator[ManifestDelta] = {
    def parentOf(v: Int): Option[Seq[String]] =
      if (v > 1 && new java.io.File(root, ManifestLog.file(v - 1)).exists())
        Some(manifestPaths(root, v - 1))
      else None
    var prev: Option[(Int, Seq[String])] = None
    versions.iterator.map { v =>
      val (paths, zones) = manifestPathsAndZones(root, v)
      val parent = prev.collect { case (p, ls) if p == v - 1 => ls }.orElse(parentOf(v))
      prev = Some(v -> paths)
      val (dv, data) = paths.partition(DvLine.is)
      val (pDv, pData) = parent.getOrElse(Nil).partition(DvLine.is)
      def minus(a: Seq[String], b: Seq[String]) = { val bs = b.toSet; a.filterNot(bs) }
      ManifestDelta(v, data, dv, minus(data, pData), minus(pData, data),
        minus(dv, pDv), minus(pDv, dv), zones, parent.isDefined)
    }
  }

  /** Latest idempotent-writer version recorded for `app` at snapshot
    * `version`, if any (the `txn:` registry, r16 verdict #2). */
  private[graft] def txnVersionAt(root: String, version: Int,
      app: String): Option[Long] =
    TxnLine.versionOf(manifestRawLines(root, version), app)

  /** Every line of a manifest, including `zone:` stat lines and raw
    * (read-set-annotated) `dv:` lines. */
  private[graft] def manifestRawLines(root: String, version: Int): Seq[String] =
    textLines(readStoreText(root, ManifestLog.file(version)))

  /** Deletion-vector manifest lines (r16). Two forms:
    *
    *  - `dv:<sidecar>@<group1>,<group2>,…` — annotated with the data
    *    groups whose rows the sidecar's positions reference. The
    *    annotation is the commit's READ SET: [[commitSnapshot]] fails
    *    any rebase that would leave a dv referencing a non-live group
    *    (a compaction racing the MERGE that added it — the write-write
    *    anomaly that silently resurrects deleted rows), and conflicts
    *    two concurrent dv-adds on the same group (serializable MERGE).
    *  - `dv:<sidecar>` — legacy, no read-set info; conflict checks
    *    degrade as documented per rule.
    *
    * [[Maintenance.manifestPaths]] NORMALIZES the annotation away, so
    * every reader (MoR subtraction, CDF diffs, vacuum, history) keeps
    * seeing plain `dv:<sidecar>` lines; only the commit protocol reads
    * the raw form. Group paths never contain '@' or ',' (staging
    * uses /tmp paths + hex UUIDs); [[render]] enforces it. */
  object DvLine {
    private val Prefix = "dv:"
    def is(line: String): Boolean = line.startsWith(Prefix)
    /** The annotation's reserved characters are percent-encoded in
      * path components (r16 ADVICE): partitioned-store group dirs
      * embed partition VALUES (`__p_col=value`), and Hive path
      * escaping leaves '@' and ',' alone — forbidding them would
      * break a legitimate DELETE on such a store. '%' is encoded too
      * so Hive-escaped values (which themselves use %XX) round-trip. */
    private def enc(p: String): String = p.flatMap {
      case '%' => "%25"; case '@' => "%40"; case ',' => "%2C"
      case '|' => "%7C"; case c => c.toString
    }
    private def dec(p: String): String = {
      val sb = new StringBuilder; var i = 0
      while (i < p.length) {
        if (p.charAt(i) == '%' && i + 3 <= p.length) {
          sb.append(Integer.parseInt(p.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(p.charAt(i)); i += 1 }
      }
      sb.toString
    }
    /** Sidecar path with any read-set annotation stripped. */
    def sidecar(line: String): String = {
      val body = line.stripPrefix(Prefix)
      val i = body.indexOf('@')
      if (i < 0) body else dec(body.substring(0, i))
    }
    /** Annotated referenced data groups; None = legacy unannotated. */
    def groups(line: String): Option[Seq[String]] = {
      val body = line.stripPrefix(Prefix)
      val i = body.indexOf('@')
      if (i < 0) None
      else Some(body.substring(i + 1).split(',').toIndexedSeq
        .filter(_.nonEmpty).map(dec))
    }
    def render(sidecar: String, groups: Seq[String]): String = {
      require(groups.nonEmpty, "a dv read set must name at least one group")
      s"$Prefix${enc(sidecar)}@${groups.map(enc).mkString(",")}"
    }
    /** The legacy un-annotated line for `sidecar` — the form
      * [[normalize]] (and so [[manifestPaths]]) yields. */
    def plain(sidecar: String): String = s"$Prefix$sidecar"
    /** `dv:` lines to their un-annotated form; other lines unchanged. */
    def normalize(line: String): String =
      if (is(line)) plain(sidecar(line)) else line
    /** The path a [[normalize]]d line names: a `dv:` line's sidecar,
      * any other line itself. */
    def path(line: String): String = line.stripPrefix(Prefix)

    /** A row's position identity is (file key, row index). The file
      * key is the data file's name under its chain of `name=value`
      * partition dirs, and at least its one enclosing dir:
      * `<group>/part-*` unpartitioned, `__p_a=x/part-*`,
      * `__p_a=x/__p_b=y/part-*` (part names repeat across sibling
      * partition dirs of one write, so the whole chain is needed). It
      * survives a staged dir's move, where an absolute path would not.
      * Sidecars store it as [[fileKeyCol]] renders `_metadata.file_path`. */
    private val KeyPattern = "(?:^|/)((?:[^/=]+=[^/]*/)+[^/]+|[^/]+/[^/]+)$"
    private val KeyRegex = KeyPattern.r
    def fileKeyCol: org.apache.spark.sql.Column =
      regexp_extract(col("_metadata.file_path"), KeyPattern, 1)
    /** [[fileKeyCol]] of a data file path. */
    def fileKey(path: String): String =
      KeyRegex.findFirstMatchIn(path).map(_.group(1)).getOrElse(path)
    /** The group part of a file key: all but the file name. */
    def keyGroup(key: String): String = key.substring(0, math.max(0, key.lastIndexOf('/')))
    /** The [[keyGroup]] of the files under manifest group `g`, which
      * is URI-escaped first as `_metadata.file_path` renders it (a
      * partition value with a space is "%20" there but raw in the
      * manifest's filesystem path), or a dv on such a group would
      * never match it. */
    def groupTail(g: String): String =
      keyGroup(fileKey(new org.apache.hadoop.fs.Path(g).toUri.toString + "/f"))
  }

  /** `txn:<appId>=<version>` manifest lines — the idempotent-writer
    * registry (r16 verdict #2, Delta's txnAppId/txnVersion). Riding
    * the manifest means the "has this (app, version) already
    * committed?" check shares the claim's atomicity: a foreachBatch
    * retry that replays a batch re-reads the registry inside the OCC
    * loop and SKIPS, so at-least-once producers get exactly-once
    * without a side channel. One line per appId (latest version wins);
    * O(writers) metadata, invisible to every path consumer
    * ([[manifestPaths]] strips them like `zone:` stats). */
  private[graft] object TxnLine {
    def is(line: String): Boolean = line.startsWith("txn:")
    private def enc(s: String): String = s.flatMap {
      case '%' => "%25"; case '=' => "%3D"; case c => c.toString
    }
    def render(appId: String, version: Long): String =
      s"txn:${enc(appId)}=$version"
    def appId(line: String): String = {
      val body = line.stripPrefix("txn:")
      val raw = body.substring(0, body.lastIndexOf('='))
      raw.replace("%3D", "=").replace("%25", "%")
    }
    def version(line: String): Long =
      line.substring(line.lastIndexOf('=') + 1).toLong
    /** Latest committed version for `app` among `lines`, if any. */
    def versionOf(lines: Seq[String], app: String): Option[Long] = {
      val vs = lines.filter(is).filter(l => appId(l) == app).map(version)
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** `zone:<group>|<column>|<lo>|<hi>|<rows>` manifest lines — one
    * group's footer min/max for one column plus its row count. Bounds
    * render in [[graft.sources.ZoneOrder]]'s forms and never contain
    * '|' (the footer harvest drops such a bound). Zone lines ride the
    * commit that adds their group, and [[commitSnapshot]] drops them
    * with it. */
  private[graft] object ZoneLine {
    def is(line: String): Boolean = line.startsWith("zone:")
    def render(group: String, column: String, lo: String, hi: String,
        rows: Long): String = s"zone:$group|$column|$lo|$hi|$rows"
    /** The group a zone line describes. */
    def group(line: String): String = line.stripPrefix("zone:").takeWhile(_ != '|')
    /** (group, column, lo, hi, rows); None for any other line and for
      * a malformed one — zone stats fail OPEN, a bad line only costs
      * pruning. */
    def parse(line: String): Option[(String, String, String, String, Long)] =
      if (!is(line)) None
      else line.stripPrefix("zone:").split('|') match {
        case Array(g, c, lo, hi, n) => n.toLongOption.map((g, c, lo, hi, _))
        case _ => None
      }
  }

  // -- encrypted store metadata (r15) ----------------------------------------
  // The reference's core idea — an AES-GCM-protected footer — applied
  // to the SNAPSHOT store's control plane: manifests (which since r15
  // carry the zone stats), the commit log, and mapping files can be
  // encrypted under a per-store DEK that is persisted only KMS-WRAPPED
  // (`store_key.txt`: masterKeyId + wrapped DEK — the
  // /root/reference/src/kms.cpp:8-31 envelope, done with real AES-GCM).
  // Every ciphertext is AAD-BOUND to its file name, so substituting one
  // version's manifest for another fails authentication exactly like
  // flipping a byte does (the crypto_footer_tamper fail-closed
  // discipline). KEK rotation rewraps the DEK under a new master key —
  // an O(1) metadata operation; ciphertexts never rewrite. All of this
  // is driver-side O(manifest) work; data files are untouched (column
  // encryption is the separate graft.crypto surface).

  /** The key file's `key=value` pairs, in file order (empty: plaintext
    * control plane). */
  private def storeKey(root: String): Seq[(String, String)] = keyValues(root, StoreKeyFile)
  private def writeStoreKey(root: String, kvs: Seq[(String, String)]): Unit =
    atomicWrite(root, StoreKeyFile, renderKeyValues(kvs).getBytes("UTF-8"))

  /** The store's unwrapped DEK, when metadata encryption is enabled. */
  private[graft] def storeDek(root: String): Option[Array[Byte]] = {
    val kv = storeKey(root).toMap
    kv.get("wrappedDek").map(graft.crypto.Kms.unwrapFromBase64(_, kv("masterKeyId")))
  }

  private def isCiphertext(bytes: Array[Byte]): Boolean =
    bytes.length >= StoreEncMagic.length &&
      bytes.take(StoreEncMagic.length).sameElements(StoreEncMagic)

  /** Read a store metadata file, transparently decrypting when it
    * carries the encryption magic. Fail-closed by construction: a
    * tampered, substituted, or wrong-key ciphertext throws, it never
    * degrades to serving bytes. */
  private[graft] def readStoreText(root: String, name: String): String = {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, name))
    // the key file is never encrypted: reading it must not recurse
    if (name == StoreKeyFile || !isCiphertext(bytes))
      return new String(bytes, "UTF-8")
    val dek = storeDek(root).getOrElse(throw new SecurityException(
      s"$name is encrypted but $root has no $StoreKeyFile"))
    val blob = java.util.Base64.getDecoder.decode(
      new String(bytes.drop(StoreEncMagic.length), "UTF-8").trim)
    try new String(graft.crypto.AesGcm.decrypt(dek, blob,
      name.getBytes("UTF-8")), "UTF-8")
    catch { case _: javax.crypto.AEADBadTagException =>
      throw new SecurityException(
        s"$name failed AES-GCM authentication — tampered, substituted, " +
          "or wrong key; failing closed")
    }
  }

  /** Encrypted (when the store has a DEK) bytes for metadata file
    * `name`, AAD-bound to the name. */
  private[graft] def encodeStoreText(root: String, name: String,
      text: String): Array[Byte] = storeDek(root) match {
    case None => text.getBytes("UTF-8")
    case Some(dek) =>
      StoreEncMagic ++ java.util.Base64.getEncoder.encode(
        graft.crypto.AesGcm.encrypt(dek, text.getBytes("UTF-8"),
          name.getBytes("UTF-8")))
  }

  /** Atomic replace of store file `name` (temp file + ATOMIC_MOVE): a
    * concurrent reader sees the old bytes or the new, never a torn
    * file. The temp name starts with '.', so no lister matches it. */
  private def atomicWrite(root: String, name: String, bytes: Array[Byte]): Unit = {
    val target = java.nio.file.Paths.get(root, name)
    val tmpF = java.nio.file.Files.createTempFile(target.getParent, s".$name", ".tmp")
    java.nio.file.Files.write(tmpF, bytes)
    java.nio.file.Files.move(tmpF, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Atomic write of a (possibly encrypted) metadata file. */
  private[graft] def writeStoreText(root: String, name: String, text: String): Unit =
    atomicWrite(root, name, encodeStoreText(root, name, text))

  /** Enable metadata encryption: mint a DEK wrapped under
    * `masterKeyId`, then encrypt every existing metadata file in place
    * (idempotent — already-encrypted files are left alone).
    *
    * `dataPlane = true` additionally turns on the DATA plane (r15
    * verdict "Next round" #6): every parquet file the engine writes
    * into the store from then on — data groups AND deletion-vector
    * sidecars — is native Parquet Modular Encryption ciphertext under
    * uniform-key mode (`parquet.encryption.uniform.key`: footer and
    * all columns, so the files carry the PARE magic and a flipped data
    * page fails closed inside the reader). The data-plane master key
    * id is recorded separately from the control plane's, so
    * [[rotateStoreKek]] stays an O(1) metadata rewrap: data files pin
    * their write-time master id, which the resolver keeps serving. */
  def enableStoreEncryption(root: String, masterKeyId: String,
      dataPlane: Boolean = false): Unit = {
    val dataKey = if (dataPlane) Seq("dataKeyId" -> masterKeyId) else Nil
    if (storeKey(root).isEmpty) {
      val dk = graft.crypto.Kms.generateDataKey(masterKeyId, numBytes = 32)
      writeStoreKey(root, Seq("masterKeyId" -> masterKeyId,
        "wrappedDek" -> graft.crypto.Kms.wrapToBase64(dk)) ++ dataKey)
    } else if (dataPlane && storeDataKeyId(root).isEmpty) {
      // control plane was enabled earlier WITHOUT the data plane:
      // merge the dataKeyId line in instead of silently leaving the
      // data plane off (the caller believes PME is on — subsequent
      // data files landing plaintext would be a silent policy breach)
      writeStoreKey(root, storeKey(root) ++ dataKey)
    }
    // schema logs are control plane like any manifest — leaving them
    // plaintext would break the "encrypted control plane" guarantee
    // for stores that evolved their schema before enabling encryption
    // (r15 ADVICE)
    val names = Option(new java.io.File(root).list()).toSeq.flatten.filter(n =>
      Seq(ManifestLog, MappingLog, SchemaLog).exists(_.owns(n)) || n == CommitLogFile)
    for (n <- names) {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(root, n))
      if (!isCiphertext(bytes)) writeStoreText(root, n, new String(bytes, "UTF-8"))
    }
  }

  /** The store's data-plane master key id, when the data plane is
    * encrypted ([[enableStoreEncryption]] with dataPlane = true). */
  private[graft] def storeDataKeyId(root: String): Option[String] =
    storeKey(root).toMap.get("dataKeyId")

  /** Parquet Modular Encryption reader/writer properties for the
    * store's data plane; empty for plaintext stores so every caller
    * can apply unconditionally. Uniform-key mode: footer + all
    * columns under one wrapped key per file. */
  private[graft] def dataPlaneOptions(root: String): Map[String, String] =
    storeDataKeyId(root) match {
      case None => Map.empty
      case Some(id) => Map(
        "parquet.crypto.factory.class" -> graft.crypto.ModularEncryption.FactoryClass,
        "parquet.encryption.kms.client.class" ->
          classOf[graft.crypto.GraftKmsClient].getName,
        "parquet.encryption.uniform.key" -> id)
    }

  /** Store-level parquet WRITER options (r16 verdict #9):
    * `parquet_opts.txt` holds `key=value` hadoop/parquet properties —
    * bloom filters (`parquet.bloom.filter.enabled#col=true`), page
    * layout (`parquet.page.row.count.limit`), dictionary/row-group
    * tuning — that every write path into the store threads through:
    * DSv2 appends, row-level insert legs, compaction and clustering
    * rewrites. At 100 TB the store's own files want the same skipping
    * stack raw parquet gets; a read-side conf ignores writer keys, so
    * merging them into [[storeHadoopConf]] is safe everywhere. */
  private[graft] def parquetWriteOpts(root: String): Map[String, String] =
    keyValues(root, ParquetOptsFile).toMap

  /** Declare writer options for every future write into the store. */
  def setStoreWriteOptions(root: String, opts: Map[String, String]): Unit =
    writeStoreText(root, ParquetOptsFile, renderKeyValues(opts.toSeq.sortBy(_._1)))

  /** A hadoop conf carrying the store's data-plane crypto properties
    * plus its writer tuning — what every footer read (harvest/
    * rowCount), task-side sidecar read, and parquet write against the
    * store must use. */
  private[graft] def storeHadoopConf(s: SparkSession, root: String)
      : org.apache.hadoop.conf.Configuration = {
    val conf = s.sessionState.newHadoopConf()
    dataPlaneOptions(root).foreach { case (k, v) => conf.set(k, v) }
    parquetWriteOpts(root).foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** KEK rotation: rewrap the DEK under a new master key. O(1) — no
    * ciphertext rewrites; readers keep working mid-rotation because
    * the DEK itself never changes. */
  def rotateStoreKek(root: String, newMasterKeyId: String): Unit = {
    val dek = storeDek(root).getOrElse(
      throw new IllegalStateException(s"$root has no $StoreKeyFile to rotate"))
    val wrapped = graft.crypto.AesGcm.encrypt(
      graft.crypto.Kms.masterKey(newMasterKeyId), dek)
    // data-plane key id (and any future fields) survive the rotation —
    // data files pin their write-time master id, which stays resolvable
    writeStoreKey(root, Seq("masterKeyId" -> newMasterKeyId,
      "wrappedDek" -> java.util.Base64.getEncoder.encodeToString(wrapped)) ++
      storeKey(root).filterNot { case (k, _) => k == "masterKeyId" || k == "wrappedDek" })
  }

  /** Zone stats committed in a manifest ([[ZoneLine.parse]]). */
  private[graft] def manifestZones(root: String, version: Int)
      : Seq[(String, String, String, String, Long)] =
    manifestRawLines(root, version).flatMap(ZoneLine.parse)

  // bump when the staged CONTENT changes (e.g. the rewrite's rounding
  // formula) — an intact-looking layout staged by older code would
  // otherwise silently serve stale data to the oracle compare
  private val SnapshotFormat = "v2-floor-rounding"

  /** True iff the layout was staged by THIS code version, every
    * manifest exists, and every path each manifest lists does. */
  private def snapshotIntact(root: String): Boolean = {
    if (!Staging.isCurrent(root, SnapshotFormat)) return false
    val vs = manifestVersions(root)
    vs.length >= 2 && vs.forall(v =>
      manifestPaths(root, v).forall(p => new java.io.File(p).exists))
  }

  def snapshotRoot(s: SparkSession, d: String): String = {
    import s.implicits._
    val root = Staging.scratch("snapshots", d)
    // staging is deterministic — reuse an intact layout instead of
    // rewriting the whole table on every call (three queries × N bench
    // reps would each pay the full staging write inside the measured
    // window); a vacuumed/partial layout restages from scratch
    if (snapshotIntact(root)) return root
    val base = Tables.orders(s, d).withColumn("g", ($"o_orderkey" % 4).cast("int"))
    base.write.mode("overwrite").partitionBy("g").parquet(s"$root/base")
    // copy-on-write: only group 0 contains keys hit by the update
    Tables.parquet(s, s"$root/base/g=0")
      .withColumn("o_totalprice",
        when($"o_orderkey" % 40 === 0, bumpedPrice($"o_totalprice"))
          .otherwise($"o_totalprice"))
      .write.mode("overwrite").parquet(s"$root/rewrite_g0_v2")
    writeManifest(root, 1, (0 to 3).map(g => s"$root/base/g=$g"))
    writeManifest(root, 2, s"$root/rewrite_g0_v2" +: (1 to 3).map(g => s"$root/base/g=$g"))
    // marker LAST: a crash mid-staging leaves no marker → restage
    Staging.mark(root, SnapshotFormat)
    root
  }
  /** Time-travel read: the snapshot a version's manifest pins. */
  def readSnapshot(s: SparkSession, root: String, version: Int): DataFrame =
    Tables.parquet(s, manifestPaths(root, version): _*)

  // -- optimistic-concurrency commits (r6) ---------------------------------
  // What makes the manifest store safe for CONCURRENT writers — the
  // Delta/Iceberg commit protocol on a filesystem: a writer stages its
  // data files, then claims the next manifest version with an ATOMIC
  // create-if-absent (hard link — POSIX link(2) fails with EEXIST
  // atomically; a plain rename would silently overwrite the winner).
  // A writer that lost the race sees the version bump, re-checks that
  // the file groups IT replaces are all still live in the winner's
  // manifest, and either rebases (disjoint groups: its new manifest is
  // built on the winner's, so both rewrites survive) or aborts with
  // [[SnapshotConflictException]] (overlapping groups: a blind
  // manifest write would resurrect the group the winner replaced,
  // silently dropping the winner's files). Nothing here reads data —
  // commit cost is manifest arithmetic, independent of table size.
  final class SnapshotConflictException(msg: String) extends RuntimeException(msg)

  /** Committed manifest versions under `root`. */
  private[graft] def manifestVersions(root: String): Seq[Int] =
    ManifestLog.versions(root)

  /** Highest committed manifest version under `root`. */
  def currentSnapshotVersion(root: String): Int = manifestVersions(root).max

  /** Create an EMPTY store: v1 lists zero groups, the schema log pins
    * the table shape (resolve needs no footer on an empty store), and
    * `partition_cols.txt` declares the partitioning every DSv2 write
    * lays out (r16 — `df.write.format("graft").partitionBy(...)`
    * validates against it through `Table.partitioning()`). */
  def createStore(root: String, schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String] = Seq.empty): Unit = {
    val missing = partitionCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"partition columns not in schema: $missing")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    require(manifestVersions(root).isEmpty, s"$root is already a store")
    writeSchemaLog(root, 1, schema)
    if (partitionCols.nonEmpty) writePartitionCols(root, partitionCols)
    writeManifest(root, 1, Nil)
  }

  /** Commit a copy-on-write rewrite: `removed` file groups (as listed in
    * the manifest of `readVersion`, the version the writer based its
    * rewrite on) are replaced by `added`. Returns the committed version.
    * Retries transparently on lost races with non-conflicting writers;
    * throws [[SnapshotConflictException]] when an intervening commit
    * replaced a group this writer also replaces.
    *
    * `added` may include `zone:` stat lines (see [[manifestZones]]) —
    * they ride the same atomic claim, so per-group stats can never be
    * lost to a concurrent writer the way a shared side file could.
    * Zone lines of `removed` groups are dropped with their group.
    *
    * `strict = true` additionally fails on ANY intervening commit, not
    * just a conflicting one — truncate/overwrite semantics: a writer
    * that replaces "everything live at v" must not silently rebase over
    * a concurrent append it never saw (Delta/Iceberg fail an overwrite
    * closed against any concurrent commit). */
  /** [[commitSnapshot]]'s return when an idempotent commit recognized
    * an already-committed (txnAppId, txnVersion) pair and skipped. */
  val TxnSkipped: Int = -2

  def commitSnapshot(root: String, readVersion: Int, removed: Seq[String],
      added: Seq[String], maxRetries: Int = 5, strict: Boolean = false,
      txn: Option[(String, Long)] = None): Int = {
    val base = manifestPaths(root, readVersion)
    require(removed.map(DvLine.normalize).forall(base.contains),
      s"removed paths must come from manifest v$readVersion")
    val removedNorm = removed.map(DvLine.normalize)
    // the dv read-set this commit ADDS (serializable-MERGE conflict
    // domain), and the dv sidecars live at the read version (so
    // concurrent dv-adds are distinguishable from inherited ones)
    val addedDvGroups = added.filter(DvLine.is)
      .flatMap(l => DvLine.groups(l).getOrElse(Seq.empty)).toSet
    val baseDvNorm = manifestRawLines(root, readVersion)
      .filter(DvLine.is).map(DvLine.normalize).toSet
    var attempt = 0
    while (true) {
      val cur = currentSnapshotVersion(root)
      if (strict && cur != readVersion)
        throw new SnapshotConflictException(
          s"strict commit based on v$readVersion lost to concurrent commit v$cur")
      val curLines = manifestRawLines(root, cur)
      // idempotent writers (r16 verdict #2): the registry check runs
      // INSIDE the claim loop, so a replay racing the original commit
      // either wins the claim (original then skips) or re-reads the
      // registry after losing and skips here — never both commit
      txn match {
        case Some((app, v))
            if TxnLine.versionOf(curLines, app).exists(_ >= v) =>
          return TxnSkipped
        case _ => ()
      }
      val curPaths = pathsIn(curLines)
      // conflict iff a group we replace is no longer live — some
      // intervening commit already replaced or dropped it
      val gone = removedNorm.filterNot(curPaths.contains)
      if (gone.nonEmpty)
        throw new SnapshotConflictException(
          s"commit based on v$readVersion conflicts with v$cur: " +
            s"groups already replaced by a concurrent writer: ${gone.mkString(", ")}")
      // serializable dv-adds (r15 verdict #1): a dv this commit adds
      // conflicts with any CONCURRENT dv (committed since readVersion)
      // on the same group — otherwise two MERGEs updating the same key
      // both land their insert legs (duplicate row versions, write
      // skew). An unannotated concurrent dv has an unknown read set
      // and conflicts with every dv-add: fail closed.
      if (addedDvGroups.nonEmpty) {
        val concurrentDv = curLines.filter(DvLine.is)
          .filterNot(l => baseDvNorm.contains(DvLine.normalize(l)))
        val collisions = concurrentDv.flatMap(l => DvLine.groups(l) match {
          case Some(gs) =>
            val hit = gs.filter(addedDvGroups.contains)
            if (hit.isEmpty) Nil else Seq(s"${DvLine.sidecar(l)} on ${hit.mkString("+")}")
          case None => Seq(s"${DvLine.sidecar(l)} (unannotated read set)")
        })
        if (collisions.nonEmpty)
          throw new SnapshotConflictException(
            s"dv-add based on v$readVersion conflicts with v$cur: concurrent " +
              s"row-level writes touched the same groups: ${collisions.mkString("; ")}")
      }
      val next = cur + 1
      val newManifest = curLines.filterNot { l =>
        val norm = DvLine.normalize(l)
        removedNorm.contains(norm) ||
          (ZoneLine.is(l) && removedNorm.contains(ZoneLine.group(l))) ||
          // one registry line per appId: this commit's txn replaces it
          txn.exists { case (app, _) => TxnLine.is(l) && TxnLine.appId(l) == app }
      } ++ added ++ txn.map { case (app, v) => TxnLine.render(app, v) }
      // a rebased manifest must never carry a dv referencing a
      // non-live group: the MoR reader drops unmatched keys SILENTLY,
      // so a dangling dv resurrects the rows its writer deleted (the
      // compaction-vs-MERGE write-write anomaly, r15 verdict #1).
      // Legacy unannotated dvs have an UNKNOWN read set, so any commit
      // that retires a data group while one survives must be assumed
      // dangerous — fail CLOSED (r16 verdict #6; the old fail-open
      // branch readmitted exactly the resurrect anomaly for pre-r16
      // stores). [[migrateDvReadSets]] annotates legacy lines from
      // their sidecars' file_keys so such stores commit normally again.
      val liveData = pathsIn(newManifest).filterNot(DvLine.is).toSet
      val dangling = newManifest.filter(DvLine.is).flatMap(l =>
        DvLine.groups(l).map(_.filterNot(liveData.contains)).getOrElse(Nil)
          .map(g => s"${DvLine.sidecar(l)} -> $g"))
      if (dangling.nonEmpty)
        throw new SnapshotConflictException(
          s"commit based on v$readVersion conflicts with v$cur: the rebased " +
            s"manifest would leave deletion vectors referencing removed " +
            s"groups (their deletes would silently resurrect): " +
            dangling.mkString("; "))
      val removesData = removedNorm.exists(l => !DvLine.is(l) && !TxnLine.is(l))
      val legacyDv = newManifest.filter(l => DvLine.is(l) &&
        DvLine.groups(l).isEmpty)
      if (removesData && legacyDv.nonEmpty)
        throw new SnapshotConflictException(
          s"commit based on v$readVersion retires data groups while " +
            s"legacy deletion vectors with unknown read sets survive " +
            s"(${legacyDv.map(DvLine.sidecar).mkString(", ")}); run " +
            s"Maintenance.migrateDvReadSets($root) first — an unvalidated " +
            s"rebase could silently resurrect their deletes")
      // staged under a name every manifest lister ignores (no
      // "manifest_v" prefix): an in-flight or crash-orphaned temp file
      // must never be parsed as a committed version
      val tmpPath = java.nio.file.Files.createTempFile(
        java.nio.file.Paths.get(root), s".tmp_manifest_v$next", ".tmp")
      // encrypted stores claim AAD-bound ciphertext manifests through
      // the identical atomic-link protocol
      java.nio.file.Files.write(tmpPath,
        encodeStoreText(root, s"manifest_v$next.txt", newManifest.mkString("\n")))
      try {
        // atomic claim: link(2) fails with EEXIST if someone else won
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(root, s"manifest_v$next.txt"), tmpPath)
        java.nio.file.Files.delete(tmpPath)
        return next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.delete(tmpPath)
          attempt += 1
          if (attempt > maxRetries) throw new SnapshotConflictException(
            s"lost the commit race $maxRetries times under $root; giving up")
        // loop: re-read the new current version and re-check conflicts
      }
    }
    -1 // unreachable
  }

  /** `df` plus a path-tag copy `__p_<c>` of each partition column `c`,
    * and the tag names. The column itself stays in the files, so a
    * group's footer stats pin it to the one value its dir names. */
  private[graft] def withPartitionTags(df: DataFrame, cols: Seq[String])
      : (DataFrame, Seq[String]) =
    (cols.foldLeft(df)((t, c) => t.withColumn(s"__p_$c", col(c))), cols.map(c => s"__p_$c"))

  /** Write `df` as new file groups under `dir` of store `root` (its
    * data-plane crypto and writer options applied) and return the
    * manifest lines that add them ([[harvestGroups]]). With `tags`,
    * ONE dynamic `partitionBy` over them lays out a group per
    * tag-value combination; without, `dir` is the one group. Nothing
    * is committed: hand the lines to [[commitGroups]]. */
  private[graft] def writeGroups(root: String, df: DataFrame, dir: String,
      tags: Seq[String] = Nil): Seq[String] = {
    val w = df.write.options(dataPlaneOptions(root) ++ parquetWriteOpts(root)).mode("overwrite")
    (if (tags.isEmpty) w else w.partitionBy(tags: _*)).parquet(dir)
    harvestGroups(df.sparkSession, root, dir,
      org.apache.spark.sql.types.StructType(df.schema.filterNot(f => tags.contains(f.name))),
      tags.nonEmpty)
  }

  /** The manifest lines that add the groups under a written `dir`:
    * the groups — its leaf dirs when `partitioned`, else `dir` itself
    * — then their `zone:` lines over the columns of `schema`, from the
    * parquet footers (zero Spark jobs; a bound that cannot render
    * drops only that column's line). */
  private[graft] def harvestGroups(s: SparkSession, root: String, dir: String,
      schema: org.apache.spark.sql.types.StructType, partitioned: Boolean): Seq[String] = {
    val conf = storeHadoopConf(s, root)
    val groups = if (partitioned) leafDirs(dir, conf) else Seq(dir)
    groups ++ groups.flatMap { g =>
      val (rows, stats) = graft.sources.FooterStats.harvest(g, schema, conf)
      stats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => ZoneLine.render(g, c, lo, hi, rows) }
    }
  }

  /** Leaf dirs under `dir` (the dirs directly holding parquet files),
    * sorted. Driver-side listing, O(dirs). */
  private def leafDirs(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] = {
      val st = fs.listStatus(p)
      if (st.exists(x => x.isFile && x.getPath.getName.endsWith(".parquet")))
        Seq(p.toUri.getPath)
      else st.filter(_.isDirectory).toSeq.flatMap(x => walk(x.getPath))
    }
    walk(new org.apache.hadoop.fs.Path(dir)).sorted
  }

  /** [[commitSnapshot]] of lines backed by the `staged` dirs; a commit
    * that throws (lost race, conflict) deletes them, so a failed writer
    * leaves no orphan files under the store. */
  private[graft] def commitGroups(root: String, readVersion: Int, removed: Seq[String],
      added: Seq[String], staged: Seq[String], strict: Boolean = false,
      txn: Option[(String, Long)] = None): Int =
    try commitSnapshot(root, readVersion, removed, added, strict = strict, txn = txn)
    catch { case t: Throwable =>
      staged.foreach(d => Staging.rmTree(new java.io.File(d))); throw t
    }

  /** One-time migration for pre-r16 stores (r16 verdict #6): annotate
    * every LEGACY unannotated `dv:` line with the read set derived
    * from its sidecar's own file_keys, landed as one metadata-only
    * commit (normalized lines are unchanged, so the change feed and
    * history see no row-level delta). After migration,
    * [[commitSnapshot]]'s fail-closed legacy-dv rule no longer blocks
    * rebases that retire data groups. Returns the committed version
    * (the current one when nothing is legacy). Cost: one
    * O(distinct file_keys) scan per legacy sidecar — positions are
    * never materialized driver-side. */
  def migrateDvReadSets(s: SparkSession, root: String): Int = {
    import s.implicits._
    val cur = currentSnapshotVersion(root)
    val lines = manifestPaths(root, cur)
    val legacy = manifestRawLines(root, cur)
      .filter(l => DvLine.is(l) && DvLine.groups(l).isEmpty)
    if (legacy.isEmpty) return cur
    val dataLines = lines.filterNot(DvLine.is)
    val byTail = dataLines.map(g => DvLine.groupTail(g) -> g).toMap
    val crypto = dataPlaneOptions(root)
    val annotated = legacy.map { l =>
      val sc = DvLine.sidecar(l)
      val tails = Tables.parquet(s, Seq(sc), crypto)
        .select($"file_key").distinct().collect().map(_.getString(0))
        .map(DvLine.keyGroup).toSet
      val unknown = tails.filterNot(byTail.contains)
      require(unknown.isEmpty,
        s"dv sidecar $sc references groups not live at v$cur: $unknown")
      (DvLine.normalize(l), DvLine.render(sc, tails.toSeq.sorted.map(byTail)))
    }
    commitSnapshot(root, cur, annotated.map(_._1), annotated.map(_._2))
  }

  // -- io_occ_commit: the commit protocol itself, driver-gated --------------
  // §2.6 row 59i graduates from spec-only to a value-oracled driver
  // key (r13 verdict #6). Two writers race the SAME base version:
  // writer A rewrites group g=0 and wins the v2 claim; writer B also
  // rewrites g=0 from the now-stale v1 and MUST abort with
  // SnapshotConflictException (a blind manifest write would resurrect
  // base g=0 and silently drop A's files); writer C rewrites the
  // DISJOINT group g=2 from the same stale v1 and must REBASE onto v2
  // — both surviving rewrites land in v3. The gate can only pass by
  // the loser failing closed: if B's commit ever succeeds, stage 3
  // flips to committed=true/conflict=false AND stage 4 resolves v4,
  // so the oracle compare fails the round twice over. Stage 4's sum
  // carries BOTH bumps — arithmetic proof the winner's files survived
  // the rebase. Data files are content-fingerprint staged ONCE; each
  // invocation replays only the manifest PROTOCOL in a fresh run dir —
  // commit cost is manifest arithmetic, O(1) in table size, which is
  // the property that makes OCC viable on a 100 TB store.
  def occDataRoot(s: SparkSession, d: String): String = {
    import s.implicits._
    // v2: the staged root also records the groups' file schema (r18)
    Staging.once("occdata_", d, Seq("orders"), "v2-occ") { tmpDir =>
      Tables.orders(s, d).withColumn("g", ($"o_orderkey" % 4).cast("int"))
        .write.mode("overwrite").partitionBy("g").parquet(s"$tmpDir/base")
      def rewrite(g: Int, mod: Int, out: String): Unit =
        Tables.parquet(s, s"$tmpDir/base/g=$g")
          .withColumn("o_totalprice",
            when($"o_orderkey" % 40 === mod, bumpedPrice($"o_totalprice"))
              .otherwise($"o_totalprice"))
          .write.mode("overwrite").parquet(s"$tmpDir/$out")
      rewrite(0, 0, "rw_a_g0")  // writer A: g0, keys ≡ 0 (mod 40)
      rewrite(0, 20, "rw_b_g0") // writer B: the SAME group — the conflict
      rewrite(2, 2, "rw_c_g2")  // writer C: disjoint g2, keys ≡ 2 (mod 40)
      // record the groups' FILE schema once at staging time (r18): every
      // occRun seeds its store's schema log from this, so no store
      // resolve ever runs the footer-inference job again (io_dsv2_write
      // alone resolved ~14 times per invocation, each a scheduler job)
      recordFileSchema(s, tmpDir, s"$tmpDir/base/g=0")
    }
  }
  /** Replays the 3-writer race in a fresh run dir; returns it (for the
    * spec's post-mortem of the manifest files the race left behind). */
  def occRun(s: SparkSession, d: String, name: String = "io_occ_run"): String = {
    val data = occDataRoot(s, d)
    val run = Staging.scratch(name, d)
    seedStore(run, (0 to 3).map(g => s"$data/base/g=$g"), schemaOf = Some(data))
    run
  }
  private def qOccCommit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val data = occDataRoot(s, d)
    val run = occRun(s, d)
    val vA = commitSnapshot(run, 1, Seq(s"$data/base/g=0"), Seq(s"$data/rw_a_g0"))
    val (bCommitted, bConflict) =
      try {
        commitSnapshot(run, 1, Seq(s"$data/base/g=0"), Seq(s"$data/rw_b_g0"))
        (true, false)
      } catch { case _: SnapshotConflictException => (false, true) }
    val vAfterB = currentSnapshotVersion(run) // B must not have bumped it
    val vC = commitSnapshot(run, 1, Seq(s"$data/base/g=2"), Seq(s"$data/rw_c_g2"))
    def stageAgg(v: Int, stage: String) =
      readSnapshot(s, run, v)
        .agg(count(lit(1)).as("n_rows"), dsum($"o_totalprice").as("sum_price"))
        .select(lit(stage).as("stage"), lit(v.toLong).as("version"),
          lit(true).as("committed"), lit(false).as("conflict"),
          $"n_rows", $"sum_price")
    stageAgg(1, "1_base")
      .unionByName(stageAgg(vA, "2_writer_a_commit"))
      .unionByName(
        Seq(("3_writer_b_overlap", vAfterB.toLong, bCommitted, bConflict, 0L, 0.0))
          .toDF("stage", "version", "committed", "conflict", "n_rows", "sum_price"))
      .unionByName(stageAgg(vC, "4_writer_c_rebase"))
      .orderBy($"stage")
  }
  private val qOccCommitSql =
    s"""SELECT '1_base' AS stage, CAST(1 AS BIGINT) AS version,
       |  true AS committed, false AS conflict,
       |  COUNT(*) AS n_rows, ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders
       |UNION ALL
       |SELECT '2_writer_a_commit', 2, true, false, COUNT(*), ${sqlSum(
          s"CASE WHEN o_orderkey % 40 = 0 THEN $bumpedPriceSql ELSE o_totalprice END")}
       |FROM orders
       |UNION ALL
       |SELECT '3_writer_b_overlap', 2, false, true,
       |  CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
       |UNION ALL
       |SELECT '4_writer_c_rebase', 3, true, false, COUNT(*), ${sqlSum(
          s"CASE WHEN o_orderkey % 40 IN (0, 2) THEN $bumpedPriceSql ELSE o_totalprice END")}
       |FROM orders
       |ORDER BY stage""".stripMargin

  // -- io_dsv2_write: the WRITE half of the DSv2 front door ------------------
  // Completes the engine round trip the r13 verdict's #2 started: a
  // user appends with `df.write.format("graft").mode("append")` and
  // the batch lands as ONE OCC-committed snapshot version; overwrite
  // replaces every live group in the same one-commit shape. The gate
  // drives the full cycle — append (v2 = v1 ∪ batch7), overwrite
  // (v3 = batch3 only) — then reads all three versions back through
  // the READ front door with versionAsOf; every version's (count, sum)
  // is value-oracled from raw orders, so a write that duplicated,
  // dropped, or reordered rows fails the compare. Data files stage
  // once (occDataRoot); the writes themselves are the measured work —
  // one distributed parquet write + manifest arithmetic per commit,
  // independent of table size.
  private def qDsv2Write(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val run = occRun(s, d, name = "io_dsv2_run")
    val base = s.read.format("graft").option("versionAsOf", 1).load(run)
    val cols = base.columns.toSeq
    def batch(mod: Int) = Tables.orders(s, d)
      .filter($"o_orderkey" % 20 === mod)
      .select(cols.map(col): _*)
    batch(7).write.format("graft").mode("append").save(run)    // -> v2
    batch(3).write.format("graft").mode("overwrite").save(run) // -> v3
    Seq(1, 2, 3).map { v =>
      s.read.format("graft").option("versionAsOf", v).load(run)
        .agg(count(lit(1)).as("n_rows"), dsum($"o_totalprice").as("sum_price"))
        .select(lit(v.toLong).as("version"), $"n_rows", $"sum_price")
    }.reduce(_.unionByName(_)).orderBy($"version")
  }
  private val qDsv2WriteSql =
    s"""SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
       |  ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders
       |UNION ALL
       |SELECT 2, COUNT(*), ${sqlSum("o_totalprice")}
       |FROM (SELECT o_totalprice FROM orders
       |      UNION ALL
       |      SELECT o_totalprice FROM orders WHERE o_orderkey % 20 = 7)
       |UNION ALL
       |SELECT 3, COUNT(*), ${sqlSum("o_totalprice")}
       |FROM orders WHERE o_orderkey % 20 = 3
       |ORDER BY version""".stripMargin

  // -- io_sql_insert: the SQL write route through the catalog ----------------
  // Completes the catalog front door (r14 verdict "Next round" #7): a
  // SQL-only user INSERTs into the store with the analyzer's own
  // syntax — `INSERT INTO graft.<store> SELECT …` appends one OCC
  // snapshot commit, `INSERT OVERWRITE` truncates in one strict commit
  // — through the same GraftTable V1Write path the DataFrame writer
  // uses, so every write front door shares one commit protocol. The
  // gate reads all three versions back with `VERSION AS OF` (pure SQL
  // end to end) and value-oracles each (count, sum) pair; schema drift
  // failing at ANALYSIS with nothing landed is pinned by Round15Spec.
  private def qSqlInsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val run = occRun(s, d, name = "io_sql_insert_run")
    val name = sqlTable(s, run)
    val cols = s.read.format("graft").option("versionAsOf", 1).load(run)
      .columns.toSeq
    def stage(mod: Int, view: String): Unit =
      Tables.orders(s, d).filter($"o_orderkey" % 20 === mod)
        .select(cols.map(col): _*).createOrReplaceTempView(view)
    stage(7, "sql_insert_batch7")
    stage(3, "sql_insert_batch3")
    s.sql(s"INSERT INTO graft.`$name` SELECT * FROM sql_insert_batch7")      // v2
    s.sql(s"INSERT OVERWRITE graft.`$name` SELECT * FROM sql_insert_batch3") // v3
    val sumSql = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    Seq(1, 2, 3).map { v =>
      s.sql(s"""SELECT CAST($v AS BIGINT) AS version, COUNT(*) AS n_rows,
                |  $sumSql AS sum_price
                |FROM graft.`$name` VERSION AS OF $v""".stripMargin)
    }.reduce(_.unionByName(_)).orderBy($"version")
  }
  private val qSqlInsertSql =
    s"""SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
       |  ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders
       |UNION ALL
       |SELECT 2, COUNT(*), ${sqlSum("o_totalprice")}
       |FROM (SELECT o_totalprice FROM orders
       |      UNION ALL
       |      SELECT o_totalprice FROM orders WHERE o_orderkey % 20 = 7)
       |UNION ALL
       |SELECT 3, COUNT(*), ${sqlSum("o_totalprice")}
       |FROM orders WHERE o_orderkey % 20 = 3
       |ORDER BY version""".stripMargin

  // -- io_encrypted_manifest: envelope-encrypted store control plane ---------
  // r14 verdict "Next round" #5: the reference's protected-footer idea
  // applied to the SNAPSHOT store. The store's manifests (with their
  // zone lines), commit log, and mappings are AES-GCM ciphertexts
  // under a per-store DEK persisted only KMS-wrapped; every file is
  // AAD-bound to its own name. The gate drives the full lifecycle
  // through the DSv2 front door: an encrypted-from-birth store takes a
  // DSv2 append (the commit claims an ENCRYPTED manifest through the
  // same atomic link), the KEK rotates (DEK rewrapped, O(1), no
  // ciphertext rewrites), and both versions read back value-exact
  // AFTER rotation. Stage 3 proves fail-closure twice on a scratch
  // clone: a flipped ciphertext byte AND a same-key file substitution
  // (v1's ciphertext copied over v2 — caught by the AAD name binding)
  // must both throw; if either read succeeds the emitted boolean flips
  // and the value oracle fails the round.
  private def qEncryptedManifest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val data = occDataRoot(s, d)
    val run = Staging.scratch("io_enc_manifest", d)
    seedStore(run, (0 to 3).map(g => s"$data/base/g=$g"))
    enableStoreEncryption(run, "store-mk-1")
    // DSv2 append commits v2 as an AAD-bound ciphertext manifest
    val cols = s.read.format("graft").option("versionAsOf", 1).load(run).columns.toSeq
    Tables.orders(s, d).filter($"o_orderkey" % 20 === 7)
      .select(cols.map(col): _*)
      .write.format("graft").mode("append").save(run)
    val encAtRest = Seq(1, 2).forall { v =>
      isCiphertext(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(run, ManifestLog.file(v))))
    }
    rotateStoreKek(run, "store-mk-2")
    def leg(stage: String, v: Int) =
      s.read.format("graft").option("versionAsOf", v).load(run)
        .agg(count(lit(1)).as("n_rows"), dsum($"o_totalprice").as("sum_price"))
        .select(lit(stage).as("stage"), $"n_rows", $"sum_price",
          lit(encAtRest).as("encrypted_at_rest"), lit(true).as("fail_closed"))
    // scratch clone for the two attacks (the live store must stay intact)
    val bad = Staging.scratch("io_enc_manifest_bad", d)
    graft.Staging.rmTree(new java.io.File(bad))
    new java.io.File(bad).mkdirs()
    for (f <- new java.io.File(run).listFiles() if f.isFile)
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(bad, f.getName))
    def readFails(): Boolean =
      try { s.read.format("graft").option("versionAsOf", 2).load(bad).count(); false }
      catch { case _: Exception => true }
    // attack 1: flip one ciphertext byte inside the base64 payload
    val m2 = java.nio.file.Paths.get(bad, ManifestLog.file(2))
    val orig = java.nio.file.Files.readAllBytes(m2)
    val blob = java.util.Base64.getDecoder.decode(
      new String(orig.drop(StoreEncMagic.length), "UTF-8").trim)
    blob(blob.length / 2) = (blob(blob.length / 2) ^ 0x01).toByte
    java.nio.file.Files.write(m2, StoreEncMagic ++
      java.util.Base64.getEncoder.encode(blob))
    val tamperFailed = readFails()
    // attack 2: substitute v1's (validly encrypted) manifest for v2 —
    // the AAD name binding must reject it
    java.nio.file.Files.copy(java.nio.file.Paths.get(bad, ManifestLog.file(1)),
      m2, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val substitutionFailed = readFails()
    leg("1_v1", 1)
      .unionByName(leg("2_v2_after_rotation", 2))
      .unionByName(Seq(("3_attacks", 0L, 0.0, encAtRest,
        tamperFailed && substitutionFailed))
        .toDF("stage", "n_rows", "sum_price", "encrypted_at_rest", "fail_closed"))
      .orderBy($"stage")
  }
  private val qEncryptedManifestSql =
    s"""SELECT '1_v1' AS stage, COUNT(*) AS n_rows,
       |  ${sqlSum("o_totalprice")} AS sum_price,
       |  true AS encrypted_at_rest, true AS fail_closed
       |FROM orders
       |UNION ALL
       |SELECT '2_v2_after_rotation', COUNT(*), ${sqlSum("o_totalprice")},
       |  true, true
       |FROM (SELECT o_totalprice FROM orders
       |      UNION ALL
       |      SELECT o_totalprice FROM orders WHERE o_orderkey % 20 = 7)
       |UNION ALL
       |SELECT '3_attacks', 0, 0.0, true, true
       |ORDER BY stage""".stripMargin

  /** Fail-closure probe of io_encrypted_data: reads EVERY column of
    * store `root` at version `v` (xxhash64 over the full struct), so a
    * flipped byte cannot hide in a pruned-away column's pages. The
    * hashes are summed as decimal(38,0), which cannot overflow, so the
    * probe throws only when a page fails to decrypt or authenticate. */
  private[graft] def readEveryColumn(s: SparkSession, root: String, v: Int): Unit = {
    s.read.format("graft").option("versionAsOf", v).load(root)
      .agg(sum(xxhash64(struct(col("*"))).cast("decimal(38,0)"))).collect()
    ()
  }

  // -- io_encrypted_data: the encrypted DATA plane (r16) ---------------------
  // io_encrypted_manifest protects the CONTROL plane; this closes the
  // other half (r15 verdict "Next round" #6): a store enabled with
  // dataPlane = true writes every parquet artifact — data groups AND
  // deletion-vector sidecars — as native Parquet Modular Encryption
  // ciphertext in uniform-key mode (footer + all columns under a
  // per-file key wrapped by the store's master key; the files carry
  // the PARE magic). Encryption happens INSIDE the parquet writer, so
  // columns keep compression+encoding and reads stay vectorized; zone
  // stats still harvest from the (decrypted) footers with zero Spark
  // jobs. The gate drives append → SQL DELETE (encrypted dv) through
  // the normal front doors, pins ciphertext-at-rest for both artifact
  // kinds, value-oracles both versions AFTER an O(1) control-plane KEK
  // rotation, and proves fail-closure on a scratch clone with one
  // flipped ciphertext byte.
  private def qEncryptedData(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = Staging.scratch("io_enc_data", d)
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(s, d)
    createStore(root, orders.schema)
    enableStoreEncryption(root, "store-dk-1", dataPlane = true)
    orders.filter($"o_orderkey" % 20 === 7)
      .write.format("graft").mode("append").save(root) // v2: encrypted group
    val name = sqlTable(s, root)
    s.sql(s"DELETE FROM graft.`$name` WHERE o_orderpriority = '1-URGENT'") // v3
    // ciphertext at rest: every parquet artifact carries the PARE magic
    def parquetFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    val pfs = parquetFiles(new java.io.File(root))
    val encAtRest = pfs.nonEmpty && pfs.forall { f =>
      val in = new java.io.FileInputStream(f)
      try { val b = new Array[Byte](4); in.read(b); new String(b, "UTF-8") == "PARE" }
      finally in.close()
    }
    val hasDv = manifestPaths(root, 3).exists(DvLine.is)
    rotateStoreKek(root, "store-dk-2") // O(1); data files pin their key id
    // fail-closure: flip one ciphertext byte in a scratch clone. The
    // clone leaves out the local file system's `.crc` sidecars, so the
    // flip must be caught by GCM, not by a checksum
    val bad = Staging.scratch("io_enc_data_bad", d)
    graft.Staging.rmTree(new java.io.File(bad))
    def copyTree(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        Option(src.listFiles()).toSeq.flatten.foreach(f =>
          copyTree(f, new java.io.File(dst, f.getName)))
      } else if (!src.getName.endsWith(".crc"))
        java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    copyTree(new java.io.File(root), new java.io.File(bad))
    // manifest lines hold absolute paths: point the clone's v2 at its
    // own files, or the probe would read the live store's bytes
    writeManifest(bad, 2, manifestRawLines(bad, 2).map(_.replace(s"$root/", s"$bad/")))
    def probeFails(): Boolean =
      try { readEveryColumn(s, bad, 2); false } catch { case _: Exception => true }
    // the probe must pass on the intact clone, or its failure on the
    // tampered one would prove nothing
    val cleanReadOk = !probeFails()
    val victim = parquetFiles(new java.io.File(bad))
      .find(f => !f.getAbsolutePath.contains("/dv_")).get
    // the first ciphertext byte of the file's first module (a page
    // header of the first column chunk, which every full read decodes):
    // past the 4-byte PARE magic, the module's 4-byte length and its
    // 12-byte nonce. (The file's middle can land in a page index that
    // a plain scan never opens.)
    val at = 4 + 4 + 12
    val raf = new java.io.RandomAccessFile(victim, "rw")
    try { raf.seek(at)
      val b = raf.read(); raf.seek(at); raf.write(b ^ 0x01)
    } finally raf.close()
    val tamperFailed = cleanReadOk && probeFails()
    def leg(stage: String, v: Int) =
      s.read.format("graft").option("versionAsOf", v).load(root)
        .agg(count(lit(1)).as("n_rows"), dsum($"o_totalprice").as("sum_price"))
        .select(lit(stage).as("stage"), $"n_rows", $"sum_price",
          lit(encAtRest && hasDv).as("encrypted_at_rest"),
          lit(true).as("fail_closed"))
    leg("1_appended", 2)
      .unionByName(leg("2_after_delete", 3))
      .unionByName(Seq(("3_attacks", 0L, 0.0, encAtRest && hasDv, tamperFailed))
        .toDF("stage", "n_rows", "sum_price", "encrypted_at_rest", "fail_closed"))
      .orderBy($"stage")
  }
  private val qEncryptedDataSql =
    s"""SELECT '1_appended' AS stage, COUNT(*) AS n_rows,
       |  ${sqlSum("o_totalprice")} AS sum_price,
       |  true AS encrypted_at_rest, true AS fail_closed
       |FROM orders WHERE o_orderkey % 20 = 7
       |UNION ALL
       |SELECT '2_after_delete', COUNT(*), ${sqlSum("o_totalprice")}, true, true
       |FROM orders
       |WHERE o_orderkey % 20 = 7 AND o_orderpriority <> '1-URGENT'
       |UNION ALL
       |SELECT '3_attacks', 0, 0.0, true, true
       |ORDER BY stage""".stripMargin

  // -- io_compact_store: the engine's own DV-fold compaction -----------------
  // io_dv_compaction proves the COMMIT arithmetic with pre-staged
  // artifacts; this is the operator a user actually calls:
  // [[compactStore]] folds the ENTIRE deletion-vector pile of a live
  // store in one commit — rewrite only the DV-touched groups minus
  // their deleted positions, retire every dv: line, leave untouched
  // groups shared — and harvests zone stats for the compacted group
  // from the rewrite's own footers, so skipping keeps covering the
  // data. The commit is PROVABLY row-neutral by construction, which
  // the r15 change feed recognizes: the gate pins feed_rows = 0 across
  // the compaction pair while v3 (MoR) and v4 (plain) reads stay
  // value-identical — compaction never changes an answer, and a
  // stream in flight keeps flowing.
  /** Fold every live DV into the groups it touches. Returns the new
    * version (or the current one when there is nothing to fold).
    * Data IO is scoped to the touched groups — untouched groups move
    * zero bytes. */
  def compactStore(s: SparkSession, root: String): Int =
    planCompaction(s, root) match {
      case Some(plan) => commitCompaction(root, plan)
      case None => currentSnapshotVersion(root)
    }

  /** Small-GROUP bin-packing compaction (r17): streaming ingest lands
    * one manifest group per micro-batch, so a long-lived stream
    * accumulates O(batches) groups — each a planning-time line and a
    * file-listing unit — even when every batch is tiny. binPackStore
    * merges groups smaller than `smallRows` into ONE group per
    * partition value (Delta OPTIMIZE's bin-packing half, without the
    * clustering): big groups are untouched, the rewrite reads only
    * the small ones, and the commit is provably row-neutral (counts
    * balance, no dv changes) so change feeds and streams flow past it
    * like any compaction. Stores carrying dv lines must fold them
    * first ([[compactStore]]) — bin-packing moves whole groups and
    * would otherwise have to rewrite sidecar file keys.
    *
    * Cost: O(small groups' bytes) read+write + manifest arithmetic —
    * independent of table size; group row counts come from the
    * manifest's own zone lines when present (zero IO), footers
    * otherwise. */
  def binPackStore(s: SparkSession, root: String,
      smallRows: Long = 1L << 20): Int = {
    val cur = currentSnapshotVersion(root)
    val lines = manifestPaths(root, cur)
    val (dvLines, dataLines) = lines.partition(DvLine.is)
    require(dvLines.isEmpty,
      "fold deletion vectors first (compactStore) — bin-packing moves whole groups")
    if (dataLines.size <= 1) return cur
    val conf = storeHadoopConf(s, root)
    val zoneRows: Map[String, Long] = manifestZones(root, cur)
      .groupBy(_._1).map { case (g, zs) => g -> zs.head._5 }
    def rowsOf(g: String): Long = zoneRows.getOrElse(g,
      graft.sources.FooterStats.rowCount(Seq(g), conf))
    // partition identity = the path's __p_ tag chain (empty when
    // unpartitioned); only groups of the SAME partition value merge
    def partChain(g: String): String =
      g.split('/').filter(_.startsWith("__p_")).mkString("/")
    val smalls = dataLines.filter(g => rowsOf(g) < smallRows)
    val clusters = smalls.groupBy(partChain).filter(_._2.size > 1)
    if (clusters.isEmpty) return cur
    val out = s"$root/pack_${java.util.UUID.randomUUID().toString.take(12)}"
    val crypto = dataPlaneOptions(root)
    val removed = Seq.newBuilder[String]
    val added = Seq.newBuilder[String]
    for ((chain, gs) <- clusters.toSeq.sortBy(_._1)) {
      val dst = if (chain.isEmpty) out else s"$out/$chain"
      val nFiles = math.max(1,
        math.ceil(gs.map(rowsOf).sum.toDouble / smallRows).toInt)
      removed ++= gs
      added ++= writeGroups(root,
        Tables.parquet(s, gs, crypto).coalesce(nFiles), dst)
    }
    commitGroups(root, cur, removed.result(), added.result(), Seq(out))
  }

  /** OPTIMIZE ZORDER for the snapshot store (r16 verdict #8): rewrite
    * every live data group CLUSTERED on `cols` — one column is
    * range-clustered, two interleave through the codegen'd
    * [[graft.functions.ZOrder64]] Morton expression over
    * min/max-scaled dims — into `buckets` new groups with DISJOINT
    * cluster ranges, folding any dv lines on the way (a clustering
    * rewrite IS a compaction). Each new group's footer stats become
    * its `zone:` lines, so a churned store whose every group spanned
    * the full key range prunes selectively again right after the
    * rewrite. Partitioned stores keep their layout: the write
    * partitions by the existing `__p_` tags plus the bucket tag, so
    * every leaf group is still a single partition value. Answers
    * never change — the rewrite is the merge-on-read state verbatim
    * (spec + gate pin it). One OCC commit swaps every live group, so
    * any concurrent row-level write fails closed (its dv read set
    * references retired groups) instead of resurrecting deletes.
    *
    * Scale shape: one MoR scan + one range-partitioned write — the
    * same cost class as any compaction; bucket boundaries come from a
    * one-pass approxQuantile, never a global sort. */
  def clusterStore(s: SparkSession, root: String, cols: Seq[String],
      buckets: Int = 8): Int = {
    import s.implicits._
    require(cols.nonEmpty && cols.size <= 2,
      s"clusterBy takes 1 or 2 columns, got $cols")
    val cur = currentSnapshotVersion(root)
    val lines = manifestPaths(root, cur)
    val (dvLines, dataLines) = lines.partition(DvLine.is)
    require(dataLines.nonEmpty, s"$root has no data groups to cluster")
    // the MoR state through the front door: dv positions subtracted,
    // column mapping applied — the rewrite preserves answers verbatim
    val logical = s.read.format("graft").load(root)
    // cluster key: rank-scale each dim to [0, 65535] by min/max (the
    // q_zorder_skipping discipline), interleave when two
    val zcol = {
      def scaled(c: org.apache.spark.sql.Column, mn: Double, mx: Double) =
        floor((c.cast("double") - mn) * 65535d /
          lit(math.max(mx - mn, 1e-9))).cast("long")
      val stats = logical.agg(
        min(col(cols.head).cast("double")), max(col(cols.head).cast("double")),
        min(col(cols.last).cast("double")), max(col(cols.last).cast("double")))
        .as[(Double, Double, Double, Double)].head()
      if (cols.size == 1) scaled(col(cols.head), stats._1, stats._2)
      else graft.functions.GraftFunctions.zorder64(
        scaled(col(cols.head), stats._1, stats._2),
        scaled(col(cols.last), stats._3, stats._4))
    }
    val withZ = logical.withColumn("__z", zcol)
    // disjoint bucket ranges from one approxQuantile pass; duplicate
    // boundaries (skew) collapse — fewer, still-disjoint buckets
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = withZ.stat.approxQuantile("__z", probs, 0.01)
      .distinct.sorted
    // ascending when-chain: the SMALLEST bound must test first
    val bucketExpr = bounds.zipWithIndex
      .foldRight(lit(bounds.length): org.apache.spark.sql.Column) {
        case ((b, i), acc) => when(col("__z") <= b, i).otherwise(acc)
      }
    // physical names + partition tags, the DSv2 write discipline
    val store = graft.sources.GraftStore.at(root)
    val partPhys = store.partitionCols.map(store.phys)
    val physical = withZ.select(
      (logical.columns.toSeq.map(n => col(n).as(store.phys(n))) :+
        col("__z") :+ bucketExpr.as("__zb")): _*)
    val (tagged, partTags) = withPartitionTags(physical, partPhys)
    val tags = partTags :+ "__zb"
    val out = s"$root/cluster_${java.util.UUID.randomUUID().toString.take(12)}"
    // rows sort by (tags…, z): leading partition columns keep the
    // dynamic-partition writer from re-sorting (which would scramble
    // the z order), so row-group stats inside each bucket stay narrow
    val added = writeGroups(root,
      tagged.repartition(tags.map(col): _*)
        .sortWithinPartitions((tags :+ "__z").map(col): _*)
        .drop("__z"), out, tags)
    commitGroups(root, cur, dataLines ++ dvLines, added, Seq(out))
  }

  /** The data-IO half of [[compactStore]]: resolve the touched groups,
    * write the DV-folded rewrite, harvest its zone stats. Split from
    * [[commitCompaction]] so the read-then-commit race window is
    * directly testable (the r15 verdict-#1 interleaving). None = no
    * live DVs, nothing to fold. */
  private[graft] final case class CompactionPlan(readVersion: Int,
      removed: Seq[String], added: Seq[String], out: String)

  private[graft] def planCompaction(s: SparkSession, root: String)
      : Option[CompactionPlan] = {
    import s.implicits._
    val cur = currentSnapshotVersion(root)
    val lines = manifestPaths(root, cur)
    val (dvLines, dataLines) = lines.partition(DvLine.is)
    if (dvLines.isEmpty) return None
    val dvPaths = dvLines.map(DvLine.path)
    // the touched-group set resolves driver-side from DISTINCT file
    // keys — O(files with deletes), never O(positions) — with the same
    // path-tail identity readSnapshotMoR uses
    val crypto = dataPlaneOptions(root)
    val refKeys = Tables.parquet(s, dvPaths, crypto)
      .select($"file_key").distinct().collect().map(_.getString(0))
      .map(DvLine.keyGroup).toSet
    // compared in the file keys' escaped rendering, or a dv on a group
    // with an escaped partition value would be retired WITHOUT
    // rewriting it (resurrected rows)
    val touched = dataLines.filter(g => refKeys.contains(DvLine.groupTail(g)))
    require(touched.nonEmpty, "dv positions reference no live group")
    // and the retired dv set must reference ONLY touched groups — a
    // partially-matched pile must fail loudly, never fold blind
    val touchedTails = touched.map(DvLine.groupTail).toSet
    require(refKeys.subsetOf(touchedTails),
      s"dv positions reference groups not in the manifest: ${refKeys -- touchedTails}")
    val dv = Tables.parquet(s, dvPaths, crypto)
    // the anti-join is deliberately UNHINTED: the DV side of a large
    // accumulated pile can be billions of positions — broadcasting it
    // is the 8-GB-driver-ceiling shape (r15 verdict #2). Spark/AQE
    // picks broadcast when the pile is actually small.
    val rewritten = Tables.parquet(s, touched, crypto)
      .withColumn("file_key", DvLine.fileKeyCol)
      .withColumn("row_index", col("_metadata.row_index"))
      .join(dv.select($"file_key", $"row_index"),
        Seq("file_key", "row_index"), "left_anti")
      .drop("file_key", "row_index")
    val out = s"$root/compact_${java.util.UUID.randomUUID().toString.take(12)}"
    // PARTITIONED stores keep their layout through compaction: the
    // rewrite re-partitions by the same path tags, so the output is
    // again one group per partition value — partition pruning keeps
    // working on compacted data instead of degrading to one wide group
    val (tagged, tags) = withPartitionTags(rewritten, partitionCols(root))
    Some(CompactionPlan(cur, touched ++ dvLines, writeGroups(root, tagged, out, tags), out))
  }

  /** Commit a [[planCompaction]] result through the OCC path. A lost
    * race surfaces as [[SnapshotConflictException]] — never a silent
    * rebase: the commit removes every folded dv line, and the dangling-
    * dv rule fails the rebase if a concurrent MERGE/DELETE added a dv
    * on a group this compaction retires (r15 verdict #1). */
  private[graft] def commitCompaction(root: String, plan: CompactionPlan): Int =
    commitGroups(root, plan.readVersion, plan.removed, plan.added, Seq(plan.out))

  private def qCompactStore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val data = morData(s, d)
    val root = Staging.scratch("io_compact_store", d)
    seedStore(root, (0 to 3).map(g => s"$data/base/g=$g"), schemaOf = Some(data))
    val v2 = commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", morDvLine(data, "dv")))
    val v3 = commitSnapshot(root, v2, Seq.empty,
      Seq(s"$data/newfile2", morDvLine(data, "dv2")))
    val v4 = compactStore(s, root)
    val feedRows = s.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", v3).option("endingVersion", v4).load(root)
      .count() // provably neutral -> empty feed
    def leg(stage: String, v: Int, nDv: Int) =
      s.read.format("graft").option("versionAsOf", v).load(root)
        .agg(count(lit(1)).as("n_rows"), dsum($"o_totalprice").as("sum_price"))
        .select(lit(stage).as("stage"), $"n_rows", $"sum_price",
          lit(nDv.toLong).as("n_dv_lines"), lit(feedRows).as("feed_rows"))
    leg("1_mor_pile", v3,
        manifestPaths(root, v3).count(DvLine.is))
      .unionByName(leg("2_compacted", v4,
        manifestPaths(root, v4).count(DvLine.is)))
      .orderBy($"stage")
  }
  // lazy: MorDeleteMod/-Rem are declared LATER in this object; a plain
  // val would capture their uninitialized 0 (Scala vals init in order)
  private lazy val qCompactStoreSql = {
    val survives =
      s"""o_orderkey % 10 <> 0 AND o_orderkey % 10 <> 5
         |      AND o_orderkey % $MorDeleteMod <> $MorDeleteRem
         |      AND o_orderkey % $MorDeleteMod <> $MorDelete2Rem""".stripMargin
    s"""WITH snap AS (
       |  SELECT o_totalprice FROM orders
       |  WHERE $survives
       |  UNION ALL
       |  SELECT $bumpedPriceSql FROM orders WHERE o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT o_totalprice FROM orders WHERE o_orderkey % 1000 = 0
       |  UNION ALL
       |  SELECT $bumpedPriceSql FROM orders WHERE o_orderkey % 10 = 5
       |  UNION ALL
       |  SELECT o_totalprice FROM orders WHERE o_orderkey % 1000 = 500)
       |SELECT '1_mor_pile' AS stage, COUNT(*) AS n_rows,
       |  ${sqlSum("o_totalprice")} AS sum_price,
       |  CAST(2 AS BIGINT) AS n_dv_lines, CAST(0 AS BIGINT) AS feed_rows
       |FROM snap
       |UNION ALL
       |SELECT '2_compacted', COUNT(*), ${sqlSum("o_totalprice")}, 0, 0
       |FROM snap
       |ORDER BY stage""".stripMargin
  }

  // -- io_occ_dv_race: the compaction-vs-MERGE write-write race, both orders -
  // The r15 verdict's #1 anomaly, replayed DETERMINISTICALLY as a value
  // gate: a DV-fold compaction and a MERGE (dv-add) race the same base
  // version in both interleavings, and in each EXACTLY ONE writer may
  // survive. Before r16, the loser silently rebased: a compaction that
  // lost still committed a manifest whose inherited dv referenced the
  // group the compaction had just retired — the MoR reader drops
  // unmatched keys, so the MERGE's deleted rows came back. Now every
  // dv line carries its READ SET (`dv:<sidecar>@<groups>`) and
  // commitSnapshot fails (a) any rebase leaving a dangling dv and
  // (b) any dv-add whose groups were retired since readVersion — so
  // order A (merge wins) aborts the compaction and order B (compaction
  // wins) aborts the merge. The gate emits both conflict booleans AND
  // value-oracles the surviving store of each order: if either loser
  // ever commits, the version column bumps and the sums drift — the
  // compare fails twice over. Commit cost stays manifest arithmetic;
  // the only data IO is the compaction rewrite itself.
  private def qOccDvRace(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val data = morData(s, d)
    def freshStore(name: String): String = {
      val root = Staging.scratch(name, d)
      seedStore(root, morBaseGroups(data), schemaOf = Some(data))
      commitSnapshot(root, 1, Seq.empty,
        Seq(s"$data/newfile", morDvLine(data, "dv"))) // v2: MERGE #1
      root
    }
    def merge2(root: String, readVersion: Int): Int =
      commitSnapshot(root, readVersion, Seq.empty,
        Seq(s"$data/newfile2", morDvLine(data, "dv2")))
    // order A: compaction PLANS at v2, the merge commits v3 first,
    // the compaction's commit must fail closed (dangling dv2)
    val rootA = freshStore("io_occ_dv_race_a")
    val planA = planCompaction(s, rootA).get
    merge2(rootA, 2) // -> v3
    val aConflict =
      try { commitCompaction(rootA, planA); false }
      catch { case _: SnapshotConflictException => true }
    // order B: the compaction commits v3 first, the merge (still based
    // on v2) must fail closed (its dv's groups were retired)
    val rootB = freshStore("io_occ_dv_race_b")
    val planB = planCompaction(s, rootB).get
    val vB = commitCompaction(rootB, planB) // -> v3
    val bConflict =
      try { merge2(rootB, 2); false }
      catch { case _: SnapshotConflictException => true }
    def leg(stage: String, root: String, conflict: Boolean) = {
      val v = currentSnapshotVersion(root)
      s.read.format("graft").option("versionAsOf", v).load(root)
        .agg(count(lit(1)).as("n_rows"), dsum($"o_totalprice").as("sum_price"))
        .select(lit(stage).as("stage"), lit(conflict).as("loser_failed_closed"),
          lit(v.toLong).as("surviving_version"), $"n_rows", $"sum_price")
    }
    leg("1_merge_wins_compaction_aborts", rootA, aConflict)
      .unionByName(leg("2_compaction_wins_merge_aborts", rootB, bConflict))
      .orderBy($"stage")
  }
  private lazy val qOccDvRaceSql =
    s"""WITH merged AS (
       |  SELECT o_totalprice FROM orders
       |  WHERE NOT (o_orderkey % 10 = 0
       |             OR o_orderkey % $MorDeleteMod = $MorDeleteRem)
       |  UNION ALL
       |  SELECT $bumpedPriceSql FROM orders WHERE o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT o_totalprice FROM orders WHERE o_orderkey % 1000 = 0),
       |merged2 AS (
       |  SELECT o_totalprice FROM orders
       |  WHERE NOT (o_orderkey % 10 = 0
       |             OR o_orderkey % $MorDeleteMod = $MorDeleteRem
       |             OR o_orderkey % 10 = 5
       |             OR o_orderkey % $MorDeleteMod = $MorDelete2Rem)
       |  UNION ALL
       |  SELECT $bumpedPriceSql FROM orders WHERE o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT o_totalprice FROM orders WHERE o_orderkey % 1000 = 0
       |  UNION ALL
       |  SELECT $bumpedPriceSql FROM orders WHERE o_orderkey % 10 = 5
       |  UNION ALL
       |  SELECT o_totalprice FROM orders WHERE o_orderkey % 1000 = 500)
       |SELECT '1_merge_wins_compaction_aborts' AS stage,
       |  true AS loser_failed_closed, CAST(3 AS BIGINT) AS surviving_version,
       |  COUNT(*) AS n_rows, ${sqlSum("o_totalprice")} AS sum_price
       |FROM merged2
       |UNION ALL
       |SELECT '2_compaction_wins_merge_aborts', true, 3,
       |  COUNT(*), ${sqlSum("o_totalprice")}
       |FROM merged
       |ORDER BY stage""".stripMargin

  // -- io_dsv2_schema_merge: schema evolution through the write front door ---
  // Delta's mergeSchema on the graft store (r15): an append that
  // carries a NEW column, written with option("mergeSchema", "true"),
  // commits normally and records the EVOLVED physical schema in the
  // store's per-version schema log (schema_v<N>.json — O(1) planning,
  // the Delta-log-schema discipline; encrypted stores encrypt it like
  // any metadata file). Readers of the new version see the evolved
  // schema with OLD file groups null-padding the new column at scan
  // time (the io_schema_evolution read shape, now reachable from the
  // write side); time travel to v1 keeps v1's own schema. Without the
  // option the analyzer's exact-schema gate still rejects extras
  // (ACCEPT_ANY_SCHEMA is granted only on explicit opt-in); re-typing
  // an existing column fails even WITH the option (Round15Spec).
  private def qDsv2SchemaMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val run = occRun(s, d, name = "io_schema_merge_run")
    val cols = s.read.format("graft").option("versionAsOf", 1).load(run)
      .columns.toSeq
    Tables.orders(s, d).filter($"o_orderkey" % 20 === 9)
      .select(cols.map(col): _*)
      .withColumn("o_flag", ($"o_orderkey" % 2).cast("long"))
      .write.format("graft").mode("append")
      .option("mergeSchema", "true").save(run) // -> v2, evolved schema
    def leg(v: Int) = {
      val df = s.read.format("graft").option("versionAsOf", v).load(run)
      val flagSum =
        if (df.columns.contains("o_flag")) sum($"o_flag") else lit(0L)
      df.agg(count(lit(1)).as("n_rows"), dsum($"o_totalprice").as("sum_price"),
          flagSum.cast("long").as("flag_sum"))
        .select(lit(v.toLong).as("version"),
          lit(df.columns.length.toLong).as("n_cols"),
          $"n_rows", $"sum_price", $"flag_sum")
    }
    leg(1).unionByName(leg(2)).orderBy($"version")
  }
  private val qDsv2SchemaMergeSql =
    s"""SELECT CAST(1 AS BIGINT) AS version, CAST(6 AS BIGINT) AS n_cols,
       |  COUNT(*) AS n_rows, ${sqlSum("o_totalprice")} AS sum_price,
       |  CAST(0 AS BIGINT) AS flag_sum
       |FROM orders
       |UNION ALL
       |SELECT 2, 7, COUNT(*), ${sqlSum("o_totalprice")},
       |  CAST((SELECT SUM(o_orderkey % 2) FROM orders
       |        WHERE o_orderkey % 20 = 9) AS BIGINT)
       |FROM (SELECT o_totalprice FROM orders
       |      UNION ALL
       |      SELECT o_totalprice FROM orders WHERE o_orderkey % 20 = 9)
       |ORDER BY version""".stripMargin

  // -- io_sql_delete: SQL row-level DELETE as a MoR commit -------------------
  // `DELETE FROM graft.<store> WHERE <pred>` — the io_merge_dv shape
  // reached from pure SQL: no data file is rewritten, the matching
  // positions land as ONE deletion-vector sidecar committed as a `dv:`
  // manifest line through the OCC path. The candidate scan is
  // zone-pruned exactly like a read of the same predicate; an
  // anti-join against existing DVs makes the operation IDEMPOTENT —
  // the gate replays the identical DELETE and pins that no new
  // version lands (n_versions stays 2 on every row). Untranslatable
  // predicates fail at analysis (Round15Spec). Reads after the delete
  // go through the same MoR machinery every DV consumer uses.
  private def qSqlDelete(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val run = occRun(s, d, name = "io_sql_delete_run")
    val name = sqlTable(s, run)
    s.sql(s"DELETE FROM graft.`$name` WHERE o_orderpriority = '1-URGENT'") // -> v2
    // the replayed DELETE finds every position already deleted: no-op
    s.sql(s"DELETE FROM graft.`$name` WHERE o_orderpriority = '1-URGENT'")
    val nv = currentSnapshotVersion(run).toLong
    val sumSql = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    Seq("1_before" -> 1, "2_after_delete" -> 2).map { case (stage, v) =>
      s.sql(s"""SELECT '$stage' AS stage, COUNT(*) AS n_rows,
                |  $sumSql AS sum_price, CAST($nv AS BIGINT) AS n_versions
                |FROM graft.`$name` VERSION AS OF $v""".stripMargin)
    }.reduce(_.unionByName(_)).orderBy($"stage")
  }
  private val qSqlDeleteSql =
    s"""SELECT '1_before' AS stage, COUNT(*) AS n_rows,
       |  ${sqlSum("o_totalprice")} AS sum_price, CAST(2 AS BIGINT) AS n_versions
       |FROM orders
       |UNION ALL
       |SELECT '2_after_delete', COUNT(*), ${sqlSum("o_totalprice")}, 2
       |FROM orders WHERE o_orderpriority <> '1-URGENT'
       |ORDER BY stage""".stripMargin

  // -- io_partitioned_store: partitionBy on the DSv2 write front door (r16) --
  // Every real lake table is partitioned. A graft store declares its
  // partitioning at creation (`partition_cols.txt`, surfaced through
  // Table.partitioning() so `df.write.format("graft")
  // .partitionBy(...)` passes the analyzer's check); each DSv2 write
  // then lands ONE MANIFEST GROUP PER PARTITION VALUE in a single
  // dynamic partitionBy job, with the partition column duplicated into
  // the files (the peRoot discipline) so each group's footer stats pin
  // it to a single value. Partition pruning therefore IS zone pruning:
  // a point read keeps exactly the matching groups from manifest
  // arithmetic, before any file is listed, and it composes with every
  // other zone-mapped column for free. The gate appends two batches
  // (one with explicit partitionBy, one relying on the store's
  // declared layout), emits the planned group counts next to the
  // values, and the oracle recomputes both counts independently — an
  // over- OR under-pruning bug fails the value compare itself.
  private def qPartitionedStore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = Staging.scratch("io_partitioned_store", d)
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(s, d)
    createStore(root, orders.schema, Seq("o_orderpriority"))
    orders.filter($"o_orderkey" % 2 === 0)
      .write.format("graft").partitionBy("o_orderpriority")
      .mode("append").save(root) // v2: one group per priority
    orders.filter($"o_orderkey" % 2 === 1)
      .write.format("graft")
      .mode("append").save(root) // v3: the store's layout applies anyway
    val store = graft.sources.GraftStore.at(root)
    val (kept, _) = graft.sources.GraftStore.zonePrune(store,
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("o_orderpriority", "1-URGENT")))
    s.read.format("graft").load(root)
      .filter($"o_orderpriority" === "1-URGENT")
      .agg(count(lit(1)).as("n_rows"), dsum($"o_totalprice").as("sum_price"))
      .select(lit(store.dataPaths.size.toLong).as("n_groups_total"),
        lit(kept.size.toLong).as("n_groups_read"), $"n_rows", $"sum_price")
  }
  private val qPartitionedStoreSql =
    s"""SELECT
       |  CAST((SELECT COUNT(DISTINCT o_orderpriority) FROM orders
       |        WHERE o_orderkey % 2 = 0)
       |     + (SELECT COUNT(DISTINCT o_orderpriority) FROM orders
       |        WHERE o_orderkey % 2 = 1) AS BIGINT) AS n_groups_total,
       |  CAST((SELECT COUNT(DISTINCT o_orderkey % 2) FROM orders
       |        WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_groups_read,
       |  COUNT(*) AS n_rows, ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin

  // -- io_sql_ddl: CREATE TABLE through the catalog (r16) --------------------
  // The last missing front door: a SQL-ONLY user goes CREATE TABLE →
  // INSERT → UPDATE → SELECT … VERSION AS OF without a line of graft
  // API. `CREATE TABLE graft.t (…) PARTITIONED BY (col)` bootstraps an
  // empty store (v1 with zero groups + schema log + partition spec) —
  // the schema comes from the DDL, so the first read needs no footer;
  // the INSERT lands one manifest group PER PARTITION VALUE (the
  // io_partitioned_store layout, reached from DDL-declared
  // partitioning); the UPDATE is the delta-based row-level rewrite.
  // The gate pins the empty-store read (0 rows), both DML versions'
  // values, and the partition-pruned group count — all replayable from
  // orders.
  private def qSqlDdl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = Staging.scratch("io_sql_ddl", d)
    graft.Staging.rmTree(new java.io.File(root))
    val name = sqlTable(s, root)
    s.sql(s"""CREATE TABLE graft.`$name` (
              |  o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)
              |PARTITIONED BY (o_orderpriority)""".stripMargin)
    val emptyRows = s.sql(s"SELECT COUNT(*) FROM graft.`$name`")
      .collect()(0).getLong(0)
    Tables.orders(s, d).createOrReplaceTempView("io_sql_ddl_orders")
    s.sql(s"""INSERT INTO graft.`$name`
              |SELECT o_orderkey, o_orderpriority, o_totalprice
              |FROM io_sql_ddl_orders WHERE o_orderkey % 4 = 2""".stripMargin) // v2
    s.sql(s"""UPDATE graft.`$name`
              |SET o_totalprice = $bumpedPriceSql
              |WHERE o_orderkey % 8 = 2""".stripMargin) // v3
    val groups = manifestPaths(root, currentSnapshotVersion(root))
      .filterNot(DvLine.is)
    val partitioned = groups.forall(_.contains("/__p_o_orderpriority="))
    val sumSql = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    Seq("2_inserted" -> 2, "3_updated" -> 3).map { case (stage, v) =>
      s.sql(s"""SELECT '$stage' AS stage, COUNT(*) AS n_rows,
                |  $sumSql AS sum_price,
                |  CAST($emptyRows AS BIGINT) AS empty_rows,
                |  $partitioned AS partitioned_layout
                |FROM graft.`$name` VERSION AS OF $v""".stripMargin)
    }.reduce(_.unionByName(_)).orderBy($"stage")
  }
  private val qSqlDdlSql =
    s"""SELECT '2_inserted' AS stage, COUNT(*) AS n_rows,
       |  ${sqlSum("o_totalprice")} AS sum_price,
       |  CAST(0 AS BIGINT) AS empty_rows, true AS partitioned_layout
       |FROM orders WHERE o_orderkey % 4 = 2
       |UNION ALL
       |SELECT '3_updated', COUNT(*), ${sqlSum(
          s"CASE WHEN o_orderkey % 8 = 2 THEN $bumpedPriceSql ELSE o_totalprice END")},
       |  0, true
       |FROM orders WHERE o_orderkey % 4 = 2
       |ORDER BY stage""".stripMargin

  // -- io_sql_alter: schema evolution through pure SQL (r17) -----------------
  // `ALTER TABLE graft.t ADD|RENAME|DROP COLUMN` — the last DDL gap
  // (r16 verdict #3): a SQL-only user can now evolve a schema without
  // dropping to the Scala API. Every change is a METADATA-ONLY commit
  // (GraftStore.alterStore): ADD = schema-log entry (old groups
  // null-pad at scan), RENAME/DROP = column-mapping entry (header
  // swap / entry removal; bytes stay). The gate walks CREATE → INSERT
  // → ADD → INSERT(with the new column) → RENAME → DROP, reads every
  // version back with VERSION AS OF, and pins `files_untouched`: the
  // first insert's data files must carry the SAME (mtime, length)
  // after all three ALTERs — zero data bytes moved, the property that
  // makes schema evolution O(1) on a 100 TB store.
  private def qSqlAlter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = Staging.scratch("io_sql_alter", d)
    graft.Staging.rmTree(new java.io.File(root))
    val name = sqlTable(s, root)
    s.sql(s"""CREATE TABLE graft.`$name` (
              |  o_orderkey BIGINT, o_totalprice DOUBLE, o_note STRING)""".stripMargin) // v1
    Tables.orders(s, d).createOrReplaceTempView("io_sql_alter_orders")
    s.sql(s"""INSERT INTO graft.`$name`
              |SELECT o_orderkey, o_totalprice, o_orderpriority
              |FROM io_sql_alter_orders WHERE o_orderkey % 4 = 1""".stripMargin) // v2
    def stamps(v: Int): Seq[(String, Long, Long)] =
      manifestPaths(root, v).filterNot(DvLine.is).flatMap { g =>
        Option(new java.io.File(g).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getAbsolutePath, f.lastModified(), f.length())).toSeq
      }.sortBy(_._1)
    val before = stamps(2)
    s.sql(s"ALTER TABLE graft.`$name` ADD COLUMN o_band BIGINT")            // v3
    s.sql(s"""INSERT INTO graft.`$name`
              |SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderkey % 7
              |FROM io_sql_alter_orders WHERE o_orderkey % 4 = 3""".stripMargin) // v4
    s.sql(s"ALTER TABLE graft.`$name` RENAME COLUMN o_totalprice TO price_usd") // v5
    s.sql(s"ALTER TABLE graft.`$name` DROP COLUMN o_note")                  // v6
    val untouched = stamps(2) == before
    val sumSql = "CAST(SUM(CAST(%s AS DECIMAL(18,6))) AS DOUBLE)"
    def nCols(v: Int): Int =
      s.sql(s"SELECT * FROM graft.`$name` VERSION AS OF $v LIMIT 0").columns.length
    def stage(tag: String, v: Int, priceCol: String, bandExpr: String) =
      s.sql(s"""SELECT '$tag' AS stage, COUNT(*) AS n_rows,
                |  ${sumSql.format(priceCol)} AS sum_price,
                |  $bandExpr AS sum_band,
                |  CAST(${nCols(v)} AS BIGINT) AS n_cols,
                |  $untouched AS files_untouched
                |FROM graft.`$name` VERSION AS OF $v""".stripMargin)
    val zero = "CAST(0 AS BIGINT)"
    val bandSum = s"COALESCE(SUM(o_band), $zero)"
    Seq(stage("2_insert", 2, "o_totalprice", zero),
      stage("3_add", 3, "o_totalprice", bandSum),
      stage("4_insert", 4, "o_totalprice", bandSum),
      stage("5_rename", 5, "price_usd", bandSum),
      stage("6_drop", 6, "price_usd", bandSum))
      .reduce(_.unionByName(_)).orderBy($"stage")
  }
  private val qSqlAlterSql =
    s"""WITH s1 AS (SELECT * FROM orders WHERE o_orderkey % 4 = 1),
       |     s2 AS (SELECT * FROM orders WHERE o_orderkey % 4 = 3),
       |     s12 AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
       |SELECT '2_insert' AS stage, COUNT(*) AS n_rows,
       |  ${sqlSum("o_totalprice")} AS sum_price, CAST(0 AS BIGINT) AS sum_band,
       |  CAST(3 AS BIGINT) AS n_cols, true AS files_untouched FROM s1
       |UNION ALL
       |SELECT '3_add', COUNT(*), ${sqlSum("o_totalprice")}, 0, 4, true FROM s1
       |UNION ALL
       |SELECT '4_insert', COUNT(*), ${sqlSum("o_totalprice")},
       |  CAST((SELECT SUM(o_orderkey % 7) FROM s2) AS BIGINT), 4, true FROM s12
       |UNION ALL
       |SELECT '5_rename', COUNT(*), ${sqlSum("o_totalprice")},
       |  CAST((SELECT SUM(o_orderkey % 7) FROM s2) AS BIGINT), 4, true FROM s12
       |UNION ALL
       |SELECT '6_drop', COUNT(*), ${sqlSum("o_totalprice")},
       |  CAST((SELECT SUM(o_orderkey % 7) FROM s2) AS BIGINT), 3, true FROM s12
       |ORDER BY stage""".stripMargin

  // -- io_sql_maintenance: CALL procedures for the pure-SQL persona (r17) ----
  // r16 What's missing #5: compaction, vacuum and rollback were Scala
  // calls; Delta exposes OPTIMIZE/VACUUM/RESTORE in SQL. The Spark 4
  // stored-procedure contract (ProcedureCatalog + CALL) now serves
  // them: the gate drives a store's full maintenance lifecycle —
  // INSERT ×2, row-level DELETE (dv), CALL graft.compact (folds the
  // dv, rewriting ONLY the dv-touched group), CALL graft.restore
  // (back to the pre-delete state), pinned commit log, CALL
  // graft.vacuum (reclaims exactly the compacted group + the dv
  // sidecar — the fail-closed floor keeps the current version) —
  // with every version's values oracled and the history operation
  // column pinning compact/rewrite classification.
  private def qSqlMaintenance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = Staging.scratch("io_sql_maintenance", d)
    graft.Staging.rmTree(new java.io.File(root))
    val name = sqlTable(s, root)
    val orders = Tables.orders(s, d)
    Maintenance.createStore(root, orders.schema)
    orders.filter($"o_orderkey" % 4 === 1)
      .write.format("graft").mode("append").save(root) // v2
    orders.filter($"o_orderkey" % 4 === 3)
      .write.format("graft").mode("append").save(root) // v3
    // dv touching ONLY the first group (13 % 4 = 1)
    s.sql(s"DELETE FROM graft.`$name` WHERE o_orderkey % 20 = 13") // v4
    s.sql(s"CALL graft.compact('$name')").collect() // v5: fold the dv
    s.sql(s"CALL graft.restore('$name', 3)").collect() // v6: pre-delete state
    val ops = s.sql(s"SELECT version, operation FROM graft.`$name$$history`")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val sumSql = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    val stages = Seq("2_insert1" -> 2, "3_insert2" -> 3, "4_delete" -> 4,
      "5_compact" -> 5, "6_restore" -> 6)
    val staged = stages.map { case (tag, v) =>
      s.sql(s"""SELECT '$tag' AS stage, COUNT(*) AS n_rows, $sumSql AS sum_price
                |FROM graft.`$name` VERSION AS OF $v""".stripMargin)
    }.reduce(_.unionByName(_)).collect()
    // pinned commit log, then vacuum with a horizon past every epoch:
    // the fail-closed floor retains the CURRENT version; everything
    // referenced only by retired versions is reclaimed
    writeCommitLog(root, (1 to 6).map(v => v -> (1767261600L + v * 3600)))
    val nDeleted = s.sql(s"CALL graft.vacuum('$name', 1767290000)")
      .collect()(0).getInt(0)
    val finalRow = s.sql(
      s"SELECT COUNT(*) AS n, $sumSql AS sp FROM graft.`$name`").collect()(0)
    import scala.jdk.CollectionConverters._
    s.createDataFrame(staged.map(r => org.apache.spark.sql.Row(
      r.getString(0), r.getLong(1), r.getDouble(2),
      ops(5), ops(6), nDeleted.toLong,
      finalRow.getLong(0), finalRow.getDouble(1))).toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("stage", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_rows", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sum_price", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("op_compact", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("op_restore", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_vacuumed", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("final_n", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("final_sum", org.apache.spark.sql.types.DoubleType))))
      .orderBy($"stage")
  }
  private val qSqlMaintenanceSql =
    s"""WITH s1 AS (SELECT * FROM orders WHERE o_orderkey % 4 = 1),
       |s12 AS (SELECT * FROM orders WHERE o_orderkey % 4 IN (1, 3)),
       |sdel AS (SELECT * FROM s12 WHERE o_orderkey % 20 <> 13),
       |consts AS (SELECT 'compact' AS op_compact, 'rewrite' AS op_restore,
       |  CAST(2 AS BIGINT) AS n_vacuumed,
       |  (SELECT COUNT(*) FROM s12) AS final_n,
       |  (SELECT ${sqlSum("o_totalprice")} FROM s12) AS final_sum)
       |SELECT '2_insert1' AS stage, COUNT(*) AS n_rows,
       |  ${sqlSum("o_totalprice")} AS sum_price, consts.* FROM s1, consts
       |GROUP BY ALL
       |UNION ALL
       |SELECT '3_insert2', COUNT(*), ${sqlSum("o_totalprice")}, consts.*
       |FROM s12, consts GROUP BY ALL
       |UNION ALL
       |SELECT '4_delete', COUNT(*), ${sqlSum("o_totalprice")}, consts.*
       |FROM sdel, consts GROUP BY ALL
       |UNION ALL
       |SELECT '5_compact', COUNT(*), ${sqlSum("o_totalprice")}, consts.*
       |FROM sdel, consts GROUP BY ALL
       |UNION ALL
       |SELECT '6_restore', COUNT(*), ${sqlSum("o_totalprice")}, consts.*
       |FROM s12, consts GROUP BY ALL
       |ORDER BY stage""".stripMargin

  // -- io_binpack_store: small-group compaction of streaming-ingest debt -----
  // (r17) A long-lived stream lands one manifest group per micro-batch
  // — on a partitioned store, one PER PARTITION VALUE per batch. Four
  // ingested batches over the 5-priority store leave 20 groups;
  // binPackStore merges same-partition smalls into one group per
  // value (5), a provably row-neutral commit the change feed flows
  // past. The gate pins group counts before/after (20 → 5), that a
  // point read plans exactly ONE group post-pack, one commit, and —
  // through the oracle — that no value moved.
  private def qBinPackStore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = Staging.scratch("io_binpack_store", d)
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    Maintenance.createStore(root, orders.schema, Seq("o_orderpriority"))
    for (r <- 0 until 4)
      graft.streaming.Streaming.graftSinkCommit(root, r,
        orders.filter($"o_orderkey" % 4 === r), appId = "binpack") // v2..v5
    val before = manifestPaths(root, currentSnapshotVersion(root))
      .count(l => !DvLine.is(l))
    val v = Maintenance.binPackStore(s, root, smallRows = 10000000L) // v6
    val after = manifestPaths(root, v).count(l => !DvLine.is(l))
    val probe = s.read.format("graft").load(root)
      .filter($"o_orderpriority" === "1-URGENT")
    val desc = probe.queryExecution.executedPlan.toString
    val onePlanned = """groups=(\d+)/(\d+)""".r.findFirstMatchIn(desc)
      .exists(m => m.group(1).toInt == 1)
    val sumSql = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    s.read.format("graft").load(root).createOrReplaceTempView("io_binpack_t")
    s.sql(s"""SELECT COUNT(*) AS n_rows, $sumSql AS sum_price,
              |  CAST($before AS BIGINT) AS groups_before,
              |  CAST($after AS BIGINT) AS groups_after,
              |  $onePlanned AS point_plans_one,
              |  CAST($v AS BIGINT) AS n_versions
              |FROM io_binpack_t""".stripMargin)
  }
  private val qBinPackStoreSql =
    s"""SELECT COUNT(*) AS n_rows, ${sqlSum("o_totalprice")} AS sum_price,
       |  CAST(20 AS BIGINT) AS groups_before, CAST(5 AS BIGINT) AS groups_after,
       |  true AS point_plans_one, CAST(6 AS BIGINT) AS n_versions
       |FROM orders""".stripMargin

  // -- io_cluster_store: OPTIMIZE ZORDER on a churned store (r17) ------------
  // r16 verdict #8: compaction preserved layout but nothing restored
  // CLUSTERING under churn — four key-interleaved appends leave every
  // group spanning the full o_orderkey range, so a key-range probe
  // scans 4/4 groups however good the zone map is. clusterStore
  // rewrites the live MoR state (folding the DELETE's dv on the way)
  // into disjoint key-range buckets; the same probe then plans ≤2 of
  // ≥4 groups from manifest arithmetic alone. The gate pins BOTH
  // prunability booleans, dv-folding, the single-commit version
  // count, and — through the oracle — that the probe's and the full
  // table's values are unchanged by the rewrite.
  private def qClusterStore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = Staging.scratch("io_cluster_store", d)
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(s, d)
    Maintenance.createStore(root, orders.schema)
    for (r <- 0 until 4)
      orders.filter($"o_orderkey" % 4 === r)
        .write.format("graft").mode("append").save(root) // v2..v5
    val name = sqlTable(s, root)
    s.sql(s"DELETE FROM graft.`$name` WHERE o_orderkey % 20 = 7") // v6: dv
    val maxKey = orders.agg(max($"o_orderkey")).head().getLong(0)
    def keptOfTotal(df: DataFrame): (Int, Int) = {
      val desc = df.queryExecution.executedPlan.toString
      """groups=(\d+)/(\d+)""".r.findFirstMatchIn(desc)
        .map(m => (m.group(1).toInt, m.group(2).toInt)).getOrElse((-1, -1))
    }
    def probe() = s.read.format("graft").load(root)
      .filter($"o_orderkey" <= maxKey / 10)
    val (kb, tb) = keptOfTotal(probe())
    val v = Maintenance.clusterStore(s, root, Seq("o_orderkey"), buckets = 8)
    val (ka, ta) = keptOfTotal(probe())
    val dvFolded = !manifestPaths(root, v).exists(DvLine.is)
    val scannedAllBefore = kb == tb && tb == 4
    val prunedAfter = ka < ta && ka <= 2 && ta >= 4
    val sumSql = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    s.read.format("graft").load(root).createOrReplaceTempView("io_cluster_t")
    s.sql(s"""SELECT COUNT(*) AS n_rows, $sumSql AS sum_price,
              |  CAST(SUM(CASE WHEN o_orderkey <= ${maxKey / 10} THEN 1 ELSE 0 END)
              |    AS BIGINT) AS probe_n,
              |  CAST(SUM(CASE WHEN o_orderkey <= ${maxKey / 10}
              |    THEN CAST(o_totalprice AS DECIMAL(18,6)) ELSE 0 END)
              |    AS DOUBLE) AS probe_sum,
              |  $scannedAllBefore AS scanned_all_before,
              |  $prunedAfter AS pruned_after,
              |  $dvFolded AS dv_folded,
              |  CAST($v AS BIGINT) AS n_versions
              |FROM io_cluster_t""".stripMargin)
  }
  private val qClusterStoreSql =
    s"""SELECT COUNT(*) AS n_rows, ${sqlSum("o_totalprice")} AS sum_price,
       |  CAST(SUM(CASE WHEN o_orderkey <= (SELECT MAX(o_orderkey) FROM orders) / 10
       |    THEN 1 ELSE 0 END) AS BIGINT) AS probe_n,
       |  CAST(SUM(CASE WHEN o_orderkey <= (SELECT MAX(o_orderkey) FROM orders) / 10
       |    THEN CAST(o_totalprice AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE) AS probe_sum,
       |  true AS scanned_all_before, true AS pruned_after, true AS dv_folded,
       |  CAST(7 AS BIGINT) AS n_versions
       |FROM orders WHERE o_orderkey % 20 <> 7""".stripMargin

  // -- io_sql_update: SQL UPDATE as one MoR commit (r16) ---------------------
  // `UPDATE graft.<store> SET … WHERE …` — the third DML verb, served
  // by the delta-based row-level rewrite (GraftRowLevel.scala): the
  // rewrite scans live rows with their position identity, executors
  // land ONE deletion-vector sidecar (the touched positions) and ONE
  // insert-leg file (the re-written rows), and the driver commits both
  // through the OCC path — write amplification O(changed rows), zero
  // base-file rewrites, exactly the io_merge_dv shape reached from
  // pure SQL. The gate updates with the engine-exact 2dp bump (the
  // bumpedPrice discipline), reads both versions back with
  // `VERSION AS OF`, and pins n_versions = 2 (ONE commit) plus the
  // dv-line count — a rewrite that committed twice, rewrote a base
  // group, or updated the wrong rows fails the value compare.
  private def qSqlUpdate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val run = occRun(s, d, name = "io_sql_update_run")
    val name = sqlTable(s, run)
    s.sql(s"""UPDATE graft.`$name`
              |SET o_totalprice = $bumpedPriceSql
              |WHERE o_orderkey % 10 = 0""".stripMargin) // -> v2, ONE commit
    val nv = currentSnapshotVersion(run).toLong
    val nDv = manifestPaths(run, nv.toInt).count(DvLine.is).toLong
    val sumSql = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    Seq("1_before" -> 1, "2_after_update" -> 2).map { case (stage, v) =>
      s.sql(s"""SELECT '$stage' AS stage, COUNT(*) AS n_rows,
                |  $sumSql AS sum_price, CAST($nv AS BIGINT) AS n_versions,
                |  CAST($nDv AS BIGINT) AS n_dv_lines
                |FROM graft.`$name` VERSION AS OF $v""".stripMargin)
    }.reduce(_.unionByName(_)).orderBy($"stage")
  }
  private val qSqlUpdateSql =
    s"""SELECT '1_before' AS stage, COUNT(*) AS n_rows,
       |  ${sqlSum("o_totalprice")} AS sum_price,
       |  CAST(2 AS BIGINT) AS n_versions, CAST(1 AS BIGINT) AS n_dv_lines
       |FROM orders
       |UNION ALL
       |SELECT '2_after_update', COUNT(*), ${sqlSum(
          s"CASE WHEN o_orderkey % 10 = 0 THEN $bumpedPriceSql ELSE o_totalprice END")},
       |  2, 1
       |FROM orders
       |ORDER BY stage""".stripMargin

  // -- io_sql_merge: SQL MERGE INTO as one MoR commit (r16) -------------------
  // `MERGE INTO … USING … WHEN MATCHED THEN UPDATE SET * WHEN NOT
  // MATCHED THEN INSERT *` — the full upsert verb through the analyzer
  // (q_merge_upsert's semantics, previously DataFrame-only), rewritten
  // delta-based: matched rows split into delete(position) +
  // insert(post-image), unmatched source rows insert — ONE commit, one
  // dv sidecar + one insert leg. The changes batch is the
  // q_merge_upsert function of the base table (10% bump for %10==0,
  // shifted copies of %1000==0 as new rows), so the oracle replays the
  // MERGE exactly; per-priority (count, decimal sum) across BOTH
  // versions pins update, insert, and time travel at once.
  private def qSqlMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val run = occRun(s, d, name = "io_sql_merge_run")
    val name = sqlTable(s, run)
    val cols = s.read.format("graft").option("versionAsOf", 1).load(run)
      .columns.toSeq
    val orders = Tables.orders(s, d)
    orders.filter($"o_orderkey" % 10 === 0)
      .withColumn("o_totalprice", bumpedPrice($"o_totalprice"))
      .unionByName(orders.filter($"o_orderkey" % 1000 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 100000000L))
      .select(cols.map(col): _*)
      .createOrReplaceTempView("io_sql_merge_src")
    s.sql(s"""MERGE INTO graft.`$name` t USING io_sql_merge_src s
              |ON t.o_orderkey = s.o_orderkey
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin) // -> v2
    val nv = currentSnapshotVersion(run).toLong
    val sumSql = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    Seq(1, 2).map { v =>
      s.sql(s"""SELECT CAST($v AS BIGINT) AS version, o_orderpriority,
                |  COUNT(*) AS n, $sumSql AS sum_price,
                |  CAST($nv AS BIGINT) AS n_versions
                |FROM graft.`$name` VERSION AS OF $v
                |GROUP BY o_orderpriority""".stripMargin)
    }.reduce(_.unionByName(_)).orderBy($"version", $"o_orderpriority")
  }
  private val qSqlMergeSql =
    s"""WITH merged AS (
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 10 <> 0
       |  UNION ALL
       |  SELECT o_orderpriority, $bumpedPriceSql FROM orders
       |  WHERE o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 1000 = 0)
       |SELECT CAST(1 AS BIGINT) AS version, o_orderpriority, COUNT(*) AS n,
       |  ${sqlSum("o_totalprice")} AS sum_price, CAST(2 AS BIGINT) AS n_versions
       |FROM orders GROUP BY o_orderpriority
       |UNION ALL
       |SELECT 2, o_orderpriority, COUNT(*), ${sqlSum("o_totalprice")}, 2
       |FROM merged GROUP BY o_orderpriority
       |ORDER BY version, o_orderpriority""".stripMargin

  // -- io_sql_merge_full: every MERGE clause kind in one statement (r17) -----
  // r16 verdict #4: the io_sql_merge gate exercised UPDATE-all +
  // INSERT-all only; Delta/Iceberg users reach conditional clauses,
  // `WHEN MATCHED THEN DELETE`, and `WHEN NOT MATCHED BY SOURCE`
  // weekly. One statement now drives all four shapes through the
  // delta rewrite — conditional matched UPDATE, matched DELETE,
  // conditional not-matched INSERT, not-matched-BY-SOURCE DELETE —
  // landing as ONE MoR commit (one dv sidecar covering both delete
  // kinds + matched pre-images, one insert leg); write amplification
  // stays O(changed rows). Per-priority (count, decimal sum) across
  // both versions pins every clause's row routing; n_versions = 2 and
  // the single dv line pin the one-commit shape.
  private def qSqlMergeFull(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val run = occRun(s, d, name = "io_sql_merge_full_run")
    val name = sqlTable(s, run)
    val cols = s.read.format("graft").option("versionAsOf", 1).load(run)
      .columns.toSeq
    val orders = Tables.orders(s, d).withColumn("g", ($"o_orderkey" % 4).cast("int"))
    orders.filter($"o_orderkey" % 10 === 0)
      .withColumn("o_totalprice", bumpedPrice($"o_totalprice"))
      .unionByName(orders.filter($"o_orderkey" % 1000 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 100000000L))
      .select(cols.map(col): _*)
      .createOrReplaceTempView("io_sql_merge_full_src")
    s.sql(s"""MERGE INTO graft.`$name` t USING io_sql_merge_full_src s
              |ON t.o_orderkey = s.o_orderkey
              |WHEN MATCHED AND s.o_orderkey % 20 = 0 THEN UPDATE SET *
              |WHEN MATCHED THEN DELETE
              |WHEN NOT MATCHED AND s.o_orderkey % 2000 = 1000 THEN INSERT *
              |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 10 = 3
              |  THEN DELETE""".stripMargin) // -> v2, ONE commit
    val nv = currentSnapshotVersion(run).toLong
    val nDv = manifestPaths(run, nv.toInt).count(DvLine.is).toLong
    val sumSql = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    Seq(1, 2).map { v =>
      s.sql(s"""SELECT CAST($v AS BIGINT) AS version, o_orderpriority,
                |  COUNT(*) AS n, $sumSql AS sum_price,
                |  CAST($nv AS BIGINT) AS n_versions,
                |  CAST($nDv AS BIGINT) AS n_dv_lines
                |FROM graft.`$name` VERSION AS OF $v
                |GROUP BY o_orderpriority""".stripMargin)
    }.reduce(_.unionByName(_)).orderBy($"version", $"o_orderpriority")
  }
  private val qSqlMergeFullSql =
    s"""WITH merged AS (
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 10 NOT IN (0, 3)
       |  UNION ALL
       |  SELECT o_orderpriority, $bumpedPriceSql FROM orders
       |  WHERE o_orderkey % 20 = 0
       |  UNION ALL
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 2000 = 1000)
       |SELECT CAST(1 AS BIGINT) AS version, o_orderpriority, COUNT(*) AS n,
       |  ${sqlSum("o_totalprice")} AS sum_price, CAST(2 AS BIGINT) AS n_versions,
       |  CAST(1 AS BIGINT) AS n_dv_lines
       |FROM orders GROUP BY o_orderpriority
       |UNION ALL
       |SELECT 2, o_orderpriority, COUNT(*), ${sqlSum("o_totalprice")}, 2, 1
       |FROM merged GROUP BY o_orderpriority
       |ORDER BY version, o_orderpriority""".stripMargin

  // -- io_history_table: DESCRIBE HISTORY as a SQL metadata table ------------
  // Delta's `DESCRIBE HISTORY` / Iceberg's `.history` over the graft
  // store: `SELECT * FROM graft.`<store>$history`` serves one row per
  // committed snapshot version — commit instant, live data-group /
  // dv-sidecar / zone-covered-group counts — from pure manifest
  // arithmetic at PLANNING time (no data file listed or opened; the
  // rows ship inside the single input partition, history being the one
  // store artifact that is always driver-small). Runs over the
  // deterministic governed store, so every row is a replayable
  // constant except dv debt... which is also deterministic from the
  // MERGE predicates — the oracle replays all of it.
  private def qHistoryTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = governedStoreRoot(s, d)
    val name = sqlTable(s, root)
    s.sql(s"SELECT * FROM graft.`$name$$history`")
      .orderBy($"version")
  }
  private val qHistoryTableSql =
    s"""SELECT version, CAST(commit_epoch AS BIGINT) AS commit_epoch,
       |  operation, is_blind_append,
       |  n_added_groups, n_removed_groups,
       |  n_data_groups, n_dv_lines, n_zoned_groups
       |FROM (VALUES
       |  (1, 1767261600, 'create', false, 4, 0, 4, 0, 0),
       |  (2, 1767265200, 'merge',  false, 1, 0, 5, 1, 0),
       |  (3, 1767268800, 'merge',  false, 1, 0, 6, 2, 0),
       |  (4, 1767272400, 'append', true,  1, 0, 7, 2, 1))
       |AS t(version, commit_epoch, operation, is_blind_append,
       |     n_added_groups, n_removed_groups,
       |     n_data_groups, n_dv_lines, n_zoned_groups)
       |ORDER BY version""".stripMargin

  // -- the governed store q_dataset_card reports on (r15) --------------------
  /** A deterministic store with the full engine lifecycle on it — base
    * snapshot, a two-MERGE deletion-vector pile, one DSv2 append (which
    * commits zone stats), and a fixed commit log — staged once per
    * dataset so the card's governance rows are replayable constants.
    * Epochs are deterministic for the same reason io_time_travel_ts's
    * are: the oracle must replay the resolution. */
  private[graft] val CardCommitEpochs =
    Seq(1 -> 1767261600L, 2 -> 1767265200L, 3 -> 1767268800L, 4 -> 1767272400L)

  private[graft] def governedStoreRoot(s: SparkSession, d: String): String = {
    import s.implicits._
    val data = morData(s, d)
    // v2: seeded schema log (r18)
    Staging.inPlace("cardstore_", d, Seq("orders"), "v2-card-store") { root =>
      seedStore(root, (0 to 3).map(g => s"$data/base/g=$g"), schemaOf = Some(data))
      val v2 = commitSnapshot(root, 1, Seq.empty, Seq(s"$data/newfile", morDvLine(data, "dv")))
      commitSnapshot(root, v2, Seq.empty, Seq(s"$data/newfile2", morDvLine(data, "dv2")))
      val cols = s.read.format("graft").option("versionAsOf", 1).load(root).columns.toSeq
      Tables.orders(s, d).filter($"o_orderkey" % 100 === 1)
        .select(cols.map(col): _*)
        .write.format("graft").mode("append").save(root) // v4, with zone: lines
      writeCommitLog(root, CardCommitEpochs)
    }
  }

  private def qSnapshotRead(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = snapshotRoot(s, d)
    // served through the DSv2 front door (r13 verdict #2): the same
    // manifest resolution, reached the way a user reaches it
    Seq(1, 2).map { v =>
      s.read.format("graft").option("versionAsOf", v).load(root)
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
        .select(lit(v).as("version"), $"n", $"sum_price")
    }.reduce(_.unionByName(_)).orderBy($"version")
  }
  private val qSnapshotReadSql =
    s"""SELECT 1 AS version, COUNT(*) AS n, ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders
       |UNION ALL
       |SELECT 2, COUNT(*), ${sqlSum(
          s"CASE WHEN o_orderkey % 40 = 0 THEN $bumpedPriceSql ELSE o_totalprice END")}
       |FROM orders
       |ORDER BY version""".stripMargin

  // -- io_time_travel_ts: TIMESTAMP AS OF resolution -------------------------
  // Version time travel (io_snapshot_read) is the storage primitive;
  // the API users actually call is `TIMESTAMP AS OF` (Delta and Iceberg
  // both): resolve the LATEST commit whose instant <= the probe, then
  // read that version. The commit log is a per-store text file of
  // (version, epoch-seconds) pairs — resolution is O(commits)
  // driver-side manifest arithmetic, zero data IO until the resolved
  // read. Commit instants here are deterministic (v1/v2 an hour apart —
  // production records wall clock; determinism is what lets the oracle
  // replay the resolution), and a probe BEFORE the first commit fails
  // closed like both production systems do.
  private val CommitEpochs = Seq(1 -> 1767261600L, 2 -> 1767265200L)

  /** Latest version with commit instant <= asof; throws (fail-closed)
    * when the probe predates the first commit. */
  def resolveAsOf(root: String, asofEpoch: Long): Int = {
    val log = commitEpochs(root)
    require(log.nonEmpty, s"$root has no commit log to resolve $asofEpoch against")
    val ok = log.filter(_._2 <= asofEpoch)
    require(ok.nonEmpty,
      s"no commit at or before $asofEpoch (earliest: ${log.values.min})")
    ok.keys.max
  }

  /** Stage the io_time_travel_ts commit log ([[writeCommitLog]]). */
  def ensureCommitLog(root: String): Unit = writeCommitLog(root, CommitEpochs)

  private def qTimeTravelTs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = snapshotRoot(s, d)
    ensureCommitLog(root)
    // one probe between the commits (resolves v1), one after the last
    // (resolves v2) — the two shapes every AS OF query takes; reads go
    // through spark.read.format("graft").option("timestampAsOf", …)
    val probes = Seq(("t_after_last", 1767272400L),
      ("t_between_commits", 1767263400L))
    probes.map { case (label, asof) =>
      val v = resolveAsOf(root, asof) // pinned in the output row
      s.read.format("graft").option("timestampAsOf", asof).load(root)
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
        .select(lit(label).as("probe"), lit(asof).as("asof_epoch"),
          lit(v.toLong).as("resolved_version"), $"n", $"sum_price")
    }.reduce(_.unionByName(_)).orderBy($"probe")
  }
  // -- q_sql_time_travel: native SQL time travel through the catalog --------
  // The pure-SQL front door (GraftCatalog): after registering
  // spark.sql.catalog.graft, the store is a SQL table and the
  // ANALYZER's own `VERSION AS OF` / `TIMESTAMP AS OF` syntax routes
  // to the catalog's loadTable overloads — no graft API in the query
  // text at all, which is how a SQL-only user (BI tool, notebook)
  // reaches time travel. Four probes: both versions by number, both by
  // timestamp literal (the analyzer hands down MICROseconds; the
  // catalog floor-divides to the commit log's seconds). Values are the
  // same (count, decimal sum) pair as io_snapshot_read, so the SQL
  // path must agree exactly with the DataFrame path.
  private def qSqlTimeTravel(s: SparkSession, d: String): DataFrame = {
    val root = snapshotRoot(s, d)
    ensureCommitLog(root)
    val name = sqlTable(s, root)
    def leg(probe: String, suffix: String) =
      s"""SELECT '$probe' AS probe, COUNT(*) AS n,
         |  ${sqlSum("o_totalprice")} AS sum_price
         |FROM graft.`$name` $suffix""".stripMargin
    s.sql(Seq(
      leg("1_version_v1", "VERSION AS OF 1"),
      leg("2_version_v2", "VERSION AS OF 2"),
      leg("3_ts_between_commits", "TIMESTAMP AS OF '2026-01-01 10:30:00'"),
      leg("4_ts_after_last", "TIMESTAMP AS OF '2026-01-01 13:00:00'"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY probe"))
  }
  private val qSqlTimeTravelSql = {
    val v1 = s"COUNT(*) AS n, ${sqlSum("o_totalprice")} AS sum_price"
    val v2 = s"COUNT(*), ${sqlSum(
      s"CASE WHEN o_orderkey % 40 = 0 THEN $bumpedPriceSql ELSE o_totalprice END")}"
    s"""SELECT '1_version_v1' AS probe, $v1 FROM orders
       |UNION ALL
       |SELECT '2_version_v2', $v2 FROM orders
       |UNION ALL
       |SELECT '3_ts_between_commits', $v1 FROM orders
       |UNION ALL
       |SELECT '4_ts_after_last', $v2 FROM orders
       |ORDER BY probe""".stripMargin
  }

  private val qTimeTravelTsSql =
    s"""SELECT 't_after_last' AS probe, CAST(1767272400 AS BIGINT)
       |    AS asof_epoch,
       |  CAST(2 AS BIGINT) AS resolved_version, COUNT(*) AS n,
       |  ${sqlSum(
            s"CASE WHEN o_orderkey % 40 = 0 THEN $bumpedPriceSql ELSE o_totalprice END")}
       |    AS sum_price
       |FROM orders
       |UNION ALL
       |SELECT 't_between_commits', 1767263400, 1, COUNT(*),
       |  ${sqlSum("o_totalprice")}
       |FROM orders
       |ORDER BY probe""".stripMargin

  // -- q_cdc_diff: change feed between two snapshot versions ---------------
  // CDC the way a lake table computes it: two versions differ only in
  // the file groups their manifests disagree on, so the diff reads
  // ONLY those files — here group g=0's old and rewritten copies —
  // never the shared ones. A full-outer join on the key over just the
  // churned files classifies each row insert/delete/update; at 100 TB
  // the cost scales with the churn (one partition here), not the table.
  private def qCdcDiff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = snapshotRoot(s, d)
    val v2 = manifestDeltas(root, Seq(2)).next()
    val removed = v2.removedData.sorted // file groups only in v1
    val added = v2.addedData.sorted     // their rewritten replacements
    val before = Tables.parquet(s, removed: _*)
      .select($"o_orderkey", $"o_totalprice".as("old_price"))
    val after = Tables.parquet(s, added: _*)
      .select($"o_orderkey", $"o_totalprice".as("new_price"))
    before.join(after, Seq("o_orderkey"), "full_outer")
      .withColumn("op",
        when($"old_price".isNull, lit("insert"))
          .when($"new_price".isNull, lit("delete"))
          .otherwise(lit("update")))
      .filter($"op" =!= "update" || $"old_price" =!= $"new_price")
      .select($"o_orderkey", $"op", $"old_price", $"new_price")
      .orderBy($"o_orderkey")
  }
  // v2 rewrote group g=0 (o_orderkey % 4 = 0), changing only the
  // % 40 = 0 rows — every change is an update
  private val qCdcDiffSql =
    s"""SELECT o_orderkey, 'update' AS op, o_totalprice AS old_price,
       |  $bumpedPriceSql AS new_price
       |FROM orders
       |WHERE o_orderkey % 40 = 0 AND $bumpedPriceSql <> o_totalprice
       |ORDER BY o_orderkey""".stripMargin

  // -- io_vacuum: retention-based physical cleanup -------------------------
  // The other half of copy-on-write versioning: once old versions age
  // out of retention, the file groups referenced ONLY by retired
  // manifests are physically deleted (Delta VACUUM / Iceberg
  // expire_snapshots). Deletion is manifest arithmetic — retired ∖
  // live — no data is read to decide; shared groups survive because
  // the live manifest still references them. The query returns the
  // live version's aggregate AFTER the delete, proving the vacuum
  // touched nothing the live manifest needs; the spec additionally
  // proves the retired version is actually gone from disk.
  def vacuum(root: String, retainVersions: Seq[Int]): Seq[String] = {
    val all = manifestVersions(root)
    // dv: sidecars are files like any other — strip the prefix so a
    // RETIRED deletion vector is reclaimed (r15; the prefixed string
    // previously never matched an existing path and leaked forever)
    // while one still referenced by a retained version stays safe
    val paths = (v: Int) => manifestPaths(root, v).map(DvLine.path)
    val live = retainVersions.flatMap(paths).toSet
    val dead = (all.diff(retainVersions)
      .flatMap(paths).toSet -- live).toSeq.sorted
    dead.foreach { dir =>
      val p = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    dead
  }
  /** Retention-by-age vacuum (r15 verdict "Next round" #8): reclaim
    * files referenced ONLY by versions whose commit instant is older
    * than `horizonEpoch`. Fail-closed floor: the CURRENT version is
    * always retained regardless of age (a table must stay readable
    * after any vacuum), and so is any version with NO commit-log entry
    * (unknown age must never be treated as expired). Returns the
    * reclaimed paths. Cost is manifest/commit-log arithmetic + the
    * deletes — no data is read. */
  def vacuumExpired(root: String, horizonEpoch: Long): Seq[String] = {
    val epochs = commitEpochs(root)
    val cur = currentSnapshotVersion(root)
    val retain = manifestVersions(root).filter(v =>
      v == cur || epochs.get(v).forall(_ >= horizonEpoch))
    vacuum(root, retain)
  }

  private def qVacuum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = snapshotRoot(s, d)
    vacuum(root, retainVersions = Seq(2))
    readSnapshot(s, root, 2)
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
  }
  private val qVacuumSql =
    s"""SELECT COUNT(*) AS n, ${sqlSum(
        s"CASE WHEN o_orderkey % 40 = 0 THEN $bumpedPriceSql ELSE o_totalprice END")}
       |  AS sum_price
       |FROM orders""".stripMargin

  // -- io_manifest_skipping: zone maps in the snapshot manifest ------------
  // The Delta/Iceberg data-skipping primitive the manifest store lacked:
  // the manifest carries per-file-group MIN/MAX column stats, so a
  // selective predicate prunes whole file groups from the MANIFEST —
  // before any file is listed or opened (parquet row-group stats only
  // help after the footer read; manifest stats avoid even touching the
  // file). Staging splits orders into per-year file groups and commits
  // each group's o_orderdate min/max as `zone:` lines of manifest v1;
  // the pruned read keeps exactly the groups whose [min, max] overlaps
  // the predicate window (GraftStore.zonePrune, the same pruner as a
  // DSv2 scan or a SQL DELETE). The query emits the
  // number of groups it read next to the aggregate, and the oracle
  // recomputes that count independently (distinct years among matching
  // rows) — a pruning bug that reads too many OR too few groups fails
  // the value compare itself, not just a spec.
  private[graft] def zonemapRoot(s: SparkSession, d: String): String =
    // v4: year-group stats as manifest zone: lines + schema log v1
    Staging.inPlace("zonestore_", d, Seq("orders"), "v4-year-groups+zone-lines") { root =>
      import s.implicits._
      val base = Tables.orders(s, d).withColumn("y", year($"o_orderdate"))
      base.write.mode("overwrite").partitionBy("y").parquet(s"$root/data")
      // O(groups) stats rows — the same aggregate a lake writer folds
      // into its commit; at scale these come free from the parquet
      // footers the writer just produced
      val stats = base.groupBy($"y").agg(
        date_format(min($"o_orderdate"), "yyyy-MM-dd").as("lo"),
        date_format(max($"o_orderdate"), "yyyy-MM-dd").as("hi"),
        count(lit(1)).as("n"))
        .collect().sortBy(_.getInt(0)).toSeq
      val groups = stats.map(r => s"$root/data/y=${r.getInt(0)}")
      writeManifest(root, 1, groups ++ stats.zip(groups).map { case (r, g) =>
        ZoneLine.render(g, "o_orderdate", r.getString(1), r.getString(2), r.getLong(3)) })
      // the groups' file schema, so a resolve infers no footer
      writeSchemaLog(root, 1, Tables.parquet(s, groups.head).schema)
    }

  private val ZoneLo = "1995-03-01"
  private val ZoneHi = "1995-09-30"

  /** Pushed-filter form of the day window [lo, hi] (ISO dates) on the
    * date or timestamp column `c` of `store`, each bound at its day's
    * first instant (UTC) in the column's own type. A zone's date-only
    * stats cover whole days, so [[graft.sources.GraftStore.zonePrune]]
    * keeps exactly the groups holding a day of the window. */
  private[graft] def dayWindow(store: graft.sources.GraftStore.Resolved, c: String,
      lo: String, hi: String): Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType}
    def day(iso: String): Any = store.physicalSchema(c).dataType match {
      case DateType => java.sql.Date.valueOf(iso)
      case TimestampNTZType => java.time.LocalDate.parse(iso).atStartOfDay()
      case _ => java.time.LocalDate.parse(iso).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    }
    Array(org.apache.spark.sql.sources.GreaterThanOrEqual(c, day(lo)),
      org.apache.spark.sql.sources.LessThanOrEqual(c, day(hi)))
  }

  private def qManifestSkipping(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val store = graft.sources.GraftStore.at(zonemapRoot(s, d))
    val (paths, _) = graft.sources.GraftStore.zonePrune(store,
      dayWindow(store, "o_orderdate", ZoneLo, ZoneHi))
    Tables.parquet(s, paths: _*)
      .filter(year($"o_orderdate") === 1995 &&
        month($"o_orderdate").between(3, 9))
      .agg(lit(paths.length.toLong).as("n_groups_read"),
        count(lit(1)).as("n_rows"), dsum($"o_totalprice").as("sum_price"))
  }
  private val qManifestSkippingSql =
    s"""SELECT CAST(COUNT(DISTINCT year(o_orderdate)) AS BIGINT) AS n_groups_read,
       |  COUNT(*) AS n_rows, ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE year(o_orderdate) = 1995 AND month(o_orderdate) BETWEEN 3 AND 9""".stripMargin

  // -- io_metadata_count: counts answered from manifest arithmetic ----------
  // The metadata-only query optimization every lake engine fields
  // (Iceberg/Delta answer COUNT(*) from manifest row counts without
  // touching a data file): the manifest's zone: lines carry each file
  // group's row count next to its min/max, so per-group counts and
  // date bounds come from PARSING ONE TEXT FILE — zero data-file IO,
  // the plan contains no parquet scan of the table at all (spec-
  // pinned). The oracle recomputes every group from the raw rows, so
  // a stats-maintenance bug (stale or wrong counts after a rewrite)
  // fails the value compare, not just a spec.
  private def qMetadataCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = zonemapRoot(s, d)
    val rows = manifestZones(root, 1).map { case (path, _, lo, hi, n) =>
      (path.substring(path.lastIndexOf("y=") + 2).toInt, lo, hi, n)
    }
    s.createDataFrame(rows)
      .toDF("y", "first_date", "last_date", "n_rows")
      .orderBy($"y")
  }
  private val qMetadataCountSql =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
      |  strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_date,
      |  strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_date,
      |  COUNT(*) AS n_rows
      |FROM orders GROUP BY 1 ORDER BY y""".stripMargin

  // -- io_schema_evolution: mergeSchema over heterogeneous files -----------
  // Lake tables accrete columns: files written before a column existed
  // must stay readable, surfacing NULL for it — no rewrite of old data
  // (at 100 TB a backfill rewrite is the thing you architecturally
  // refuse to do). Old-epoch files carry (o_orderkey, o_totalprice);
  // new-epoch files add o_priority. `mergeSchema` unions the footers at
  // planning time; the scan then pads old files per row-group, still
  // vectorized, still pruned.
  private def qSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = Staging.scratch("schema_evo", d)
    val base = Tables.orders(s, d)
    base.filter($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"o_totalprice")
      .write.mode("overwrite").parquet(s"$out/epoch=1")
    base.filter($"o_orderkey" % 2 === 1)
      .select($"o_orderkey", $"o_totalprice",
        when($"o_totalprice" > 200000.0, lit("high")).otherwise(lit("normal"))
          .as("o_priority"))
      .write.mode("overwrite").parquet(s"$out/epoch=2")
    // the one read that keeps Spark's inference: merging reads every footer
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy(coalesce($"o_priority", lit("legacy")).as("priority"))
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"priority")
  }
  private val qSchemaEvolutionSql =
    s"""WITH evolved AS (
       |  SELECT o_totalprice,
       |    CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
       |         WHEN o_totalprice > 200000.0 THEN 'high'
       |         ELSE 'normal' END AS priority
       |  FROM orders)
       |SELECT priority, COUNT(*) AS n, ${sqlSum("o_totalprice")} AS sum_price
       |FROM evolved GROUP BY priority ORDER BY priority""".stripMargin

  // -- io_column_mapping: rename/drop columns without rewriting data --------
  // Iceberg column mapping / Delta name-mapping, the OTHER direction of
  // schema evolution (io_schema_evolution ADDS columns; this renames
  // and drops them): physical parquet keeps its original field names
  // forever; each snapshot version carries a logical→physical mapping,
  // so a rename — or a drop, a mapping entry simply removed — is a
  // METADATA-ONLY commit. At 100 TB a rename that rewrote files would
  // be a full-table job for a no-op; here zero data bytes move (the
  // data files are the staged MoR base groups, shared read-only — the
  // Round13 spec pins that the commit writes only mapping text). Reads
  // apply the mapping as a projection, so column pruning still reaches
  // the scan: only mapped physical columns are read.
  private val CmPhysCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Read a mapped snapshot: logical names projected over the physical
    * files; unmapped physical columns are invisible (dropped). */
  def readMapped(s: SparkSession, root: String, data: String,
      version: Int): DataFrame = {
    val mapping = mappingAt(root, version).getOrElse(throw new IllegalArgumentException(
      s"$root has no column mapping at or below v$version"))
    Tables.parquet(s, (0 to 3).map(g => s"$data/base/g=$g"): _*)
      .select(mapping.map { case (lg, ph) => col(ph).as(lg) }: _*)
  }

  /** Builds the two mapping commits over the shared staged base;
    * returns (root, data). */
  def columnMappingStore(s: SparkSession, d: String): (String, String) = {
    val data = morData(s, d)
    val root = Staging.scratch("io_column_mapping", d)
    // manifests for the DSv2 front door: the rename/drop commit is
    // metadata-only, so BOTH versions pin the same (shared, read-only)
    // base groups — only the mapping file differs. No schema log: the
    // store holds the manifests and mappings only.
    val groups = (0 to 3).map(g => s"$data/base/g=$g")
    seedStore(root, groups)
    writeMapping(root, 1, CmPhysCols.map(p => p -> p))
    // the rename+drop commit: price_usd now maps to the physical
    // o_totalprice; o_custkey's entry is gone (dropped — bytes stay)
    writeMapping(root, 2, CmPhysCols.filterNot(_ == "o_custkey")
      .map(p => (if (p == "o_totalprice") "price_usd" else p) -> p))
    writeManifest(root, 2, groups)
    (root, data)
  }

  private def qColumnMapping(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (root, _) = columnMappingStore(s, d)
    // DSv2 front door: the provider resolves mapping_v<N> itself, so
    // the rename/drop is visible to ANY reader of the format — filter
    // pushdown and pruning translate logical -> physical on the scan
    val v1 = s.read.format("graft").option("versionAsOf", 1).load(root)
    val v2 = s.read.format("graft").option("versionAsOf", 2).load(root)
    val leg1 = v1
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
      .select(lit(1L).as("version"), lit("o_totalprice").as("logical_field"),
        $"n", $"sum_price", lit(v1.columns.length.toLong).as("n_visible_cols"))
    val leg2 = v2
      .agg(count(lit(1)).as("n"), dsum($"price_usd").as("sum_price"))
      .select(lit(2L).as("version"), lit("price_usd").as("logical_field"),
        $"n", $"sum_price", lit(v2.columns.length.toLong).as("n_visible_cols"))
    leg1.unionByName(leg2).orderBy($"version")
  }
  private val qColumnMappingSql =
    s"""SELECT CAST(1 AS BIGINT) AS version, 'o_totalprice' AS logical_field,
       |  COUNT(*) AS n, ${sqlSum("o_totalprice")} AS sum_price,
       |  CAST(6 AS BIGINT) AS n_visible_cols
       |FROM orders
       |UNION ALL
       |SELECT 2, 'price_usd', COUNT(*), ${sqlSum("o_totalprice")}, 5
       |FROM orders
       |ORDER BY version""".stripMargin

  // -- io_deletion_vectors: merge-on-read deletes --------------------------
  // The CoW snapshot (io_snapshot_read) rewrites a whole file group to
  // change one row; a delete touching rows in EVERY file would rewrite
  // the table. Merge-on-read (Delta deletion vectors / Iceberg position
  // deletes) writes only the POSITIONS of deleted rows — a
  // (file, row_index) sidecar, KBs against TBs — and readers subtract
  // it with an anti-join. Delete cost = one scan + tiny write, ZERO
  // data rewrite; read cost = a broadcast anti-join (the DV is small by
  // construction — it only lists deleted rows). Compaction later folds
  // DVs into data files, exactly like io_compaction.
  private val DvDeletePred = "l_quantity >= 49.0"

  /** Stages the base table (4 files) and writes the deletion vector for
    * [[DvDeletePred]]; returns the root. Idempotent per (name, sfDir). */
  def dvRoot(s: SparkSession, d: String): String = {
    import s.implicits._
    val root = Staging.scratch("io_deletion_vectors", d)
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice", $"l_returnflag")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$root/base")
    // the "DELETE WHERE": scan base, record positions only
    Tables.parquet(s, s"$root/base")
      .filter(expr(DvDeletePred))
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("row_index"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$root/dv")
    root
  }

  /** MoR read: base minus DV positions (broadcast anti-join). */
  def readWithDv(s: SparkSession, root: String): DataFrame = {
    val base = Tables.parquet(s, s"$root/base")
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("row_index", col("_metadata.row_index"))
    base.join(broadcast(Tables.parquet(s, s"$root/dv")),
        Seq("file_path", "row_index"), "left_anti")
      .drop("file_path", "row_index")
  }

  private def qDeletionVectors(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = dvRoot(s, d)
    readWithDv(s, root)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"l_returnflag")
  }
  private val qDeletionVectorsSql =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${sqlSum("l_extendedprice")} AS sum_price
       |FROM lineitem WHERE NOT ($DvDeletePred)
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- io_merge_dv: MERGE as one Merge-on-Read snapshot commit --------------
  // q_merge_upsert is MERGE's COPY-ON-WRITE shape (rewrite whole file
  // groups); this is the MoR shape Delta deletion vectors / Iceberg v2
  // position deletes use, and it ties the §2.6 pieces together: one
  // MERGE (update + delete + insert legs) commits exactly TWO small
  // artifacts onto the snapshot store — a deletion vector marking the
  // base positions the update/delete legs hit, and one insert-leg data
  // file with the new and re-written rows — through the same OCC commit
  // path as every writer. Write amplification is O(changed rows), never
  // O(touched files); the base files move zero bytes. The DV rides the
  // manifest as a `dv:`-prefixed line (readSnapshotMoR subtracts it
  // with a broadcast anti-join — DVs are change-sized, the one thing
  // here that IS safe to broadcast). Data artifacts are staged once per
  // dataset (content-fingerprinted); per-call work is manifest
  // arithmetic + the read, like io_branching/io_rollback after r12's
  // de-noising.
  private[graft] val MorDeleteMod = 25L
  private[graft] val MorDeleteRem = 7L
  private[graft] val MorDelete2Rem = 11L

  /** The staged MoR base groups — the read set of both staged DVs. */
  private[graft] def morBaseGroups(data: String): Seq[String] =
    (0 to 3).map(g => s"$data/base/g=$g")
  /** A staged dv sidecar as a read-set-annotated manifest line. */
  private[graft] def morDvLine(data: String, sidecar: String): String =
    DvLine.render(s"$data/$sidecar", morBaseGroups(data))

  /** Staged immutable MoR artifacts for TWO stacked MERGE commits —
    * the production steady state is a DV PILE, not a single DV (r12
    * verdict missing #2): 4-group base; merge-1's DV + insert leg
    * (update %10=0, delete %25=7); merge-2's DV + insert leg atop v2
    * (update %10=5, delete %25=11); and the both-DVs compaction
    * rewrite. All four key predicates are pairwise disjoint by last
    * digit (0 / {2,7} / 5 / {1,6}), and neither merge-2 predicate can
    * hit merge-1's insert file (its keys all end in 0), so dv2
    * references base files only. */
  private[graft] def morData(s: SparkSession, d: String): String = {
    import s.implicits._
    // v4: recorded file schema (seedStore)
    Staging.once("mordata_", d, Seq("orders"), "v4-mor-data") { tmpDir =>
      val base = Tables.orders(s, d).withColumn("g", ($"o_orderkey" % 4).cast("int"))
      base.write.partitionBy("g").parquet(s"$tmpDir/base")
      val hit1 = ($"o_orderkey" % 10 === 0) ||
        ($"o_orderkey" % MorDeleteMod === MorDeleteRem)
      val hit2 = ($"o_orderkey" % 10 === 5) ||
        ($"o_orderkey" % MorDeleteMod === MorDelete2Rem)
      // each DV: positions (file, row) its merge's update or delete leg
      // hits — ONE metadata-projected scan of the base, no data rewrite.
      // The file key stays valid across Staging.publish's directory move
      def writeDv(hit: org.apache.spark.sql.Column, out: String): Unit =
        Tables.parquet(s, (0 to 3).map(g => s"$tmpDir/base/g=$g"): _*)
          .filter(hit)
          .select(DvLine.fileKeyCol.as("file_key"),
            col("_metadata.row_index").as("row_index"))
          .coalesce(1).write.parquet(s"$tmpDir/$out")
      writeDv(hit1, "dv")
      writeDv(hit2, "dv2")
      // the insert legs: re-written update rows + genuinely new rows
      val orders = Tables.orders(s, d)
      orders.filter($"o_orderkey" % 10 === 0)
        .withColumn("o_totalprice", bumpedPrice($"o_totalprice"))
        .unionByName(orders.filter($"o_orderkey" % 1000 === 0)
          .withColumn("o_orderkey", $"o_orderkey" + 100000000L))
        .coalesce(1).write.parquet(s"$tmpDir/newfile")
      orders.filter($"o_orderkey" % 10 === 5)
        .withColumn("o_totalprice", bumpedPrice($"o_totalprice"))
        .unionByName(orders.filter($"o_orderkey" % 1000 === 500)
          .withColumn("o_orderkey", $"o_orderkey" + 200000000L))
        .coalesce(1).write.parquet(s"$tmpDir/newfile2")
      // compacted groups: each base group minus BOTH DVs' rows — the
      // fold-the-whole-pile rewrite, staged with the rest so the
      // per-call compaction commit is manifest arithmetic
      base.filter(!hit1 && !hit2)
        .write.partitionBy("g").parquet(s"$tmpDir/compact")
      // record the groups' file schema (the occDataRoot trick). One base
      // group suffices — base/newfile*/compact all carry the identical
      // orders file schema (written from the same frame), and reading
      // the leaf dir matches the resolve's own path shape (no
      // partition-column discovery).
      recordFileSchema(s, tmpDir, s"$tmpDir/base/g=0")
    }
  }

  /** MoR snapshot read: manifest data paths minus every `dv:` sidecar's
    * positions. The anti-join is UNHINTED (r16): Spark/AQE broadcasts a
    * churn-sized DV pile on its own, and a pile that has grown past the
    * broadcast threshold shuffles instead of capping at the driver. */
  def readSnapshotMoR(s: SparkSession, root: String, version: Int): DataFrame = {
    val (dvLines, dataPaths) = manifestPaths(root, version).partition(DvLine.is)
    val crypto = dataPlaneOptions(root)
    val base = Tables.parquet(s, dataPaths, crypto)
    if (dvLines.isEmpty) base
    else {
      val dv = Tables.parquet(s, dvLines.map(DvLine.path), crypto)
      base
        .withColumn("file_key", DvLine.fileKeyCol)
        .withColumn("row_index", col("_metadata.row_index"))
        .join(dv, Seq("file_key", "row_index"), "left_anti")
        .drop("file_key", "row_index")
    }
  }

  private def qMergeDv(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val data = morData(s, d)
    val root = Staging.scratch("io_merge_dv", d)
    seedStore(root, (0 to 3).map(g => s"$data/base/g=$g"), schemaOf = Some(data))
    // MERGE #1: one OCC commit adds the insert file + DV line; zero
    // base groups move. MERGE #2 stacks a SECOND dv line + insert leg
    // atop v2 — the DV-pile steady state: reads must subtract BOTH.
    val v2 = commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", morDvLine(data, "dv")))
    val v3 = commitSnapshot(root, v2, Seq.empty,
      Seq(s"$data/newfile2", morDvLine(data, "dv2")))
    // MoR reads through the DSv2 front door: the provider partitions
    // the manifest into data groups + dv: sidecars and subtracts the
    // deleted positions per file (readSnapshotMoR stays the library
    // path; values must be identical)
    val stamp = (v: Int, df: DataFrame) =>
      df.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
        .select(lit(v.toLong).as("version"), $"o_orderpriority", $"n", $"sum_price")
    def dsv2(v: Int): DataFrame =
      s.read.format("graft").option("versionAsOf", v).load(root)
    stamp(1, dsv2(1))
      .unionByName(stamp(v2, dsv2(v2)))
      .unionByName(stamp(v3, dsv2(v3)))
      .orderBy($"version", $"o_orderpriority")
  }
  private val qMergeDvSql =
    s"""WITH merged AS (
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE NOT (o_orderkey % 10 = 0
       |             OR o_orderkey % $MorDeleteMod = $MorDeleteRem)
       |  UNION ALL
       |  SELECT o_orderpriority, $bumpedPriceSql FROM orders
       |  WHERE o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 1000 = 0),
       |merged2 AS (
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE NOT (o_orderkey % 10 = 0
       |             OR o_orderkey % $MorDeleteMod = $MorDeleteRem
       |             OR o_orderkey % 10 = 5
       |             OR o_orderkey % $MorDeleteMod = $MorDelete2Rem)
       |  UNION ALL
       |  SELECT o_orderpriority, $bumpedPriceSql FROM orders
       |  WHERE o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 1000 = 0
       |  UNION ALL
       |  SELECT o_orderpriority, $bumpedPriceSql FROM orders
       |  WHERE o_orderkey % 10 = 5
       |  UNION ALL
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 1000 = 500)
       |SELECT CAST(1 AS BIGINT) AS version, o_orderpriority, COUNT(*) AS n,
       |  ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders GROUP BY o_orderpriority
       |UNION ALL
       |SELECT 2, o_orderpriority, COUNT(*), ${sqlSum("o_totalprice")}
       |FROM merged GROUP BY o_orderpriority
       |UNION ALL
       |SELECT 3, o_orderpriority, COUNT(*), ${sqlSum("o_totalprice")}
       |FROM merged2 GROUP BY o_orderpriority
       |ORDER BY version, o_orderpriority""".stripMargin

  // -- q_cdc_mor: change-data-feed from a Merge-on-Read commit --------------
  // q_cdc_diff derives changes by DIFFING two snapshots — O(both
  // versions) of data. A MoR commit needs no diff at all: its artifacts
  // ARE the change log (Delta CDF's insight). The deletion vector names
  // exactly the removed row positions — fetched with a positive
  // position join against the base, at scale pruned to the files the
  // DV references — and the insert-leg file IS the added rows. An
  // update therefore surfaces as the standard D(pre-image) + I(post-
  // image) pair keyed by o_orderkey. Cost: O(changed rows) + the
  // position fetch; never a snapshot-sized diff. The oracle replays
  // both legs from the MERGE predicates.
  private def qCdcMor(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // served as a change-feed read of the DSv2 front door (Delta-CDF
    // shape): the MERGE commit's added dv: sidecar names the delete
    // pre-images (a keep-positions read of ONLY the referenced base
    // files), its added data file is the insert post-image — the scan
    // emits `_change_type`, cost stays O(changed rows)
    val data = morData(s, d)
    val root = Staging.scratch("q_cdc_mor", d)
    seedStore(root, (0 to 3).map(g => s"$data/base/g=$g"), schemaOf = Some(data))
    val v2 = commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", morDvLine(data, "dv")))
    // pinned commit log: _commit_timestamp becomes a replayable
    // constant, and the DESCRIBE HISTORY join below is deterministic
    writeCommitLog(root, CommitEpochs)
    val name = sqlTable(s, root)
    // r17 (r16 verdict #5): every change row carries its commit
    // provenance — _commit_version joins the feed back to DESCRIBE
    // HISTORY (the audit-trail shape), _commit_timestamp serves the
    // commit log's instant
    val hist = s.sql(
      s"SELECT version, operation FROM graft.`$name$$history`")
    s.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 1).option("endingVersion", v2).load(root)
      .select(when($"_change_type" === "delete", "D").otherwise("I").as("op"),
        $"o_orderpriority", $"o_totalprice",
        $"_commit_version".as("commit_version"),
        $"_commit_timestamp".as("commit_ts"))
      .join(broadcast(hist), $"commit_version" === hist("version"))
      .groupBy($"op", $"o_orderpriority", $"commit_version", $"operation",
        $"commit_ts")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"op", $"o_orderpriority")
  }
  private val qCdcMorSql =
    s"""WITH changes AS (
       |  SELECT 'D' AS op, o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 10 = 0
       |     OR o_orderkey % $MorDeleteMod = $MorDeleteRem
       |  UNION ALL
       |  SELECT 'I', o_orderpriority, $bumpedPriceSql FROM orders
       |  WHERE o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT 'I', o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 1000 = 0)
       |SELECT op, o_orderpriority, CAST(2 AS BIGINT) AS commit_version,
       |  'merge' AS operation,
       |  CAST(to_timestamp(1767265200) AS TIMESTAMP) AS commit_ts,
       |  COUNT(*) AS n, ${sqlSum("o_totalprice")} AS sum_price
       |FROM changes GROUP BY op, o_orderpriority
       |ORDER BY op, o_orderpriority""".stripMargin

  // -- io_dv_compaction: fold deletion vectors back into data files ---------
  // The lifecycle step that completes MoR (Delta OPTIMIZE / Iceberg
  // rewrite_data_files on DV-carrying tables): reads that subtract a
  // growing DV pay the anti-join forever, so maintenance REWRITES the
  // groups the DV touches (base rows minus their deleted positions) and
  // commits a version that lists the compacted groups WITHOUT the dv
  // line — the one time MoR pays data IO, scoped to the touched groups.
  // v2 (MoR read: base + dv + insert file) and v3 (plain read:
  // compacted groups + insert file, zero DV machinery) must agree
  // exactly — compaction is never allowed to change an answer — and
  // the emitted n_dv_lines column (1 → 0) pins that the DV actually
  // retired. Compacted groups are staged once with the other MoR
  // artifacts; the per-call work is manifest arithmetic.
  private def qDvCompaction(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val data = morData(s, d)
    val root = Staging.scratch("io_dv_compaction", d)
    seedStore(root, (0 to 3).map(g => s"$data/base/g=$g"), schemaOf = Some(data))
    val v2 = commitSnapshot(root, 1, Seq.empty,
      Seq(s"$data/newfile", morDvLine(data, "dv")))
    // the second MERGE stacks a second dv line: the steady state a
    // compaction actually meets is a DV PILE, not one sidecar
    val v3 = commitSnapshot(root, v2, Seq.empty,
      Seq(s"$data/newfile2", morDvLine(data, "dv2")))
    // the compaction commit: every DV-touched group swaps for its
    // compacted rewrite and BOTH dv lines are dropped with them
    val v4 = commitSnapshot(root, v3,
      morBaseGroups(data) ++ Seq(DvLine.plain(s"$data/dv"), DvLine.plain(s"$data/dv2")),
      (0 to 3).map(g => s"$data/compact/g=$g"))
    def stamp(v: Int, df: DataFrame): DataFrame = {
      val nDv = manifestPaths(root, v).count(DvLine.is).toLong
      df.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
        .select(lit(v.toLong).as("version"), lit(nDv).as("n_dv_lines"),
          $"o_orderpriority", $"n", $"sum_price")
    }
    stamp(v2, readSnapshotMoR(s, root, v2))
      .unionByName(stamp(v3, readSnapshotMoR(s, root, v3)))
      .unionByName(stamp(v4, readSnapshotMoR(s, root, v4)))
      .orderBy($"version", $"o_orderpriority")
  }
  private val qDvCompactionSql =
    s"""WITH merged AS (
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE NOT (o_orderkey % 10 = 0
       |             OR o_orderkey % $MorDeleteMod = $MorDeleteRem)
       |  UNION ALL
       |  SELECT o_orderpriority, $bumpedPriceSql FROM orders
       |  WHERE o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 1000 = 0),
       |merged2 AS (
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE NOT (o_orderkey % 10 = 0
       |             OR o_orderkey % $MorDeleteMod = $MorDeleteRem
       |             OR o_orderkey % 10 = 5
       |             OR o_orderkey % $MorDeleteMod = $MorDelete2Rem)
       |  UNION ALL
       |  SELECT o_orderpriority, $bumpedPriceSql FROM orders
       |  WHERE o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 1000 = 0
       |  UNION ALL
       |  SELECT o_orderpriority, $bumpedPriceSql FROM orders
       |  WHERE o_orderkey % 10 = 5
       |  UNION ALL
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 1000 = 500),
       |agg AS (SELECT o_orderpriority, COUNT(*) AS n,
       |    ${sqlSum("o_totalprice")} AS sum_price
       |  FROM merged GROUP BY o_orderpriority),
       |agg2 AS (SELECT o_orderpriority, COUNT(*) AS n,
       |    ${sqlSum("o_totalprice")} AS sum_price
       |  FROM merged2 GROUP BY o_orderpriority)
       |SELECT CAST(2 AS BIGINT) AS version, CAST(1 AS BIGINT) AS n_dv_lines,
       |  o_orderpriority, n, sum_price FROM agg
       |UNION ALL
       |SELECT 3, 2, o_orderpriority, n, sum_price FROM agg2
       |UNION ALL
       |SELECT 4, 0, o_orderpriority, n, sum_price FROM agg2
       |ORDER BY version, o_orderpriority""".stripMargin

  // -- io_dynamic_overwrite: partition-scoped INSERT OVERWRITE -------------
  // Static overwrite mode truncates the WHOLE table before writing —
  // the classic footgun that turns "reprocess yesterday" into "drop
  // everything". Dynamic mode replaces ONLY the partitions the incoming
  // batch contains rows for: the daily-reprocess primitive on a
  // date-partitioned 100 TB lake, where the job rewrites one day and
  // every other partition's files are untouched (the spec pins exactly
  // that by mtime). Cost scales with the batch's partitions, not the
  // table.
  def dynamicOverwriteRoot(s: SparkSession, d: String): String = {
    import s.implicits._
    val root = Staging.scratch("io_dynamic_overwrite", d)
    Tables.orders(s, d).write.mode("overwrite")
      .partitionBy("o_orderpriority").parquet(root)
    val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // the reprocess batch: urgent orders only, prices re-derived —
      // its single partition value is what limits the rewrite scope
      Tables.orders(s, d).filter($"o_orderpriority" === "1-URGENT")
        .withColumn("o_totalprice", bumpedPrice($"o_totalprice"))
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(root)
    } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    root
  }

  private def qDynamicOverwrite(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.parquet(s, dynamicOverwriteRoot(s, d))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderpriority")
  }
  private val qDynamicOverwriteSql =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${sqlSum(s"CASE WHEN o_orderpriority = '1-URGENT' THEN $bumpedPriceSql ELSE o_totalprice END")} AS sum_price
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -- io_rollback: snapshot rollback / undo as manifest arithmetic --------
  // Rolling a table back to an earlier snapshot is a COMMIT, not a
  // restore (Delta RESTORE / Iceberg rollback_to_snapshot): version
  // N+1's manifest simply lists version K's file groups again. Nothing
  // reads or writes data — cost is manifest arithmetic, independent of
  // table size — history is preserved (the bad version stays queryable
  // for audit), and the rollback rides the SAME OCC commit path as any
  // writer, so it cannot silently clobber a concurrent commit. The
  // store is staged fresh per call (a small slice of orders): rollback
  // APPENDS a version, so layout reuse would grow history unboundedly
  // across verify/bench reps and break determinism.
  /** The rollback/WAP store's DATA files — base table, the
    * copy-on-write g=0 rewrite, and the WAP insert batch — staged ONCE
    * per dataset behind a marker (the pairsRoot/annIndexRoot
    * discipline): snapshot versions only ever re-LIST these immutable
    * paths, so every per-query Spark write was staging cost paid
    * inside the measured window (the r11 io_branching bench noise).
    * Only the manifest text files — microsecond driver-side writes —
    * are rebuilt per call. */
  private def rollbackData(s: SparkSession, d: String): String = {
    import s.implicits._
    Staging.once("rbdata_", d, Seq("orders"), "v1-rollback-data") { tmpDir =>
      val t = Tables.orders(s, d).filter($"o_orderkey" % 10 < 3)
        .withColumn("g", ($"o_orderkey" % 2).cast("int"))
      t.write.partitionBy("g").parquet(s"$tmpDir/base")
      // churn: copy-on-write rewrite of g=0, the only group whose keys
      // the update predicate hits (% 20 == 0 ⇒ even ⇒ g = 0)
      Tables.parquet(s, s"$tmpDir/base/g=0")
        .withColumn("o_totalprice",
          when($"o_orderkey" % 20 === 0, bumpedPrice($"o_totalprice"))
            .otherwise($"o_totalprice"))
        .write.parquet(s"$tmpDir/rewrite_g0")
      // the WAP insert batch (shifted copies of % 500 == 0 keys): also
      // deterministic pure-function-of-the-dataset data, also immutable
      Tables.orders(s, d)
        .filter($"o_orderkey" % 10 < 3 && $"o_orderkey" % 500 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + lit(10000000L))
        .write.parquet(s"$tmpDir/wap_batch")
    }
  }

  private def rollbackRoot(s: SparkSession, d: String): String = {
    val data = rollbackData(s, d)
    val root = Staging.scratch("rollback", d)
    seedStore(root, Seq(0, 1).map(g => s"$data/base/g=$g"))
    commitSnapshot(root, 1, Seq(s"$data/base/g=0"), Seq(s"$data/rewrite_g0"))
    root
  }

  /** Roll the store back to `target`'s snapshot: one OCC commit whose
    * manifest re-lists exactly `target`'s file groups. Zero data IO. */
  def rollbackSnapshot(root: String, target: Int): Int = {
    val cur = currentSnapshotVersion(root)
    val curPaths = manifestPaths(root, cur)
    val want = manifestPaths(root, target)
    commitSnapshot(root, cur,
      curPaths.filterNot(want.contains), want.filterNot(curPaths.contains))
  }

  private def qRollback(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = rollbackRoot(s, d)
    val v3 = rollbackSnapshot(root, 1)
    Seq(1, 2, v3).map { v =>
      readSnapshot(s, root, v)
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
        .select(lit(v).as("version"), $"n", $"sum_price")
    }.reduce(_.unionByName(_)).orderBy($"version")
  }
  private val qRollbackSql =
    s"""WITH t AS (SELECT * FROM orders WHERE o_orderkey % 10 < 3),
       |v1 AS (SELECT 1 AS version, COUNT(*) AS n,
       |       ${sqlSum("o_totalprice")} AS sum_price FROM t),
       |v2 AS (SELECT 2, COUNT(*), ${sqlSum(
            s"CASE WHEN o_orderkey % 20 = 0 THEN $bumpedPriceSql ELSE o_totalprice END")}
       |       FROM t),
       |v3 AS (SELECT 3, COUNT(*), ${sqlSum("o_totalprice")} FROM t)
       |SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3
       |ORDER BY version""".stripMargin

  // -- io_branching: write-audit-publish on a branch ----------------------
  // The Iceberg WAP / Nessie-branch pattern: a writer lands its batch
  // on a BRANCH — a named manifest pointer main's version listing
  // ignores — audit queries run against the branch view, and only a
  // passing audit PUBLISHES the branch, which is one OCC commit
  // appending the staged file groups to main (data files move zero
  // times: stage, audit, and publish all reference the same paths).
  // A failing audit just deletes the pointer; main never observed the
  // batch. Branch pointers are invisible to `manifestVersions` by
  // construction (no `manifest_v` prefix), the same property that
  // protects listers from in-flight OCC temp files.
  def writeBranch(root: String, name: String, paths: Seq[String]): Unit =
    writeStoreText(root, s"branch_$name.txt", paths.mkString("\n"))

  def branchPaths(root: String, name: String): Seq[String] =
    textLines(readStoreText(root, s"branch_$name.txt"))

  def dropBranch(root: String, name: String): Unit =
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, s"branch_$name.txt"))

  /** Publish: commit the branch's NEW groups (those not already in the
    * base version) onto main through the OCC path. Returns the new
    * main version. The branch pointer is retired after publishing. */
  def publishBranch(root: String, name: String, readVersion: Int): Int = {
    val base = manifestPaths(root, readVersion)
    val added = branchPaths(root, name).filterNot(base.contains)
    val v = commitSnapshot(root, readVersion, Seq.empty, added)
    dropBranch(root, name)
    v
  }

  private def qBranching(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = rollbackRoot(s, d) // fresh store, versions {1, 2}
    val data = rollbackData(s, d) // immutable staged data files
    val cur = currentSnapshotVersion(root)
    // stage a batch on the branch: the pre-staged shifted copies of
    // % 500 == 0 keys (the merge_upsert insert-leg shape), never
    // touching main's files — branching is a pointer write, zero data IO
    writeBranch(root, "wap", manifestPaths(root, cur) :+ s"$data/wap_batch")
    // audit runs on the BRANCH view; the constraint must hold there
    val branchView = Tables.parquet(s, branchPaths(root, "wap"): _*)
    val bad = branchView.filter($"o_totalprice" <= 0.0).count()
    val published = if (bad == 0) publishBranch(root, "wap", cur) else -1
    Seq(("1_main_before", readSnapshot(s, root, cur)),
      ("2_main_after", readSnapshot(s, root, published)))
      .map { case (stage, df) =>
        df.agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
          .select(lit(stage).as("stage"), lit(bad).as("audit_bad"), $"n", $"sum_price")
      }.reduce(_.unionByName(_)).orderBy($"stage")
  }
  private val qBranchingSql =
    s"""WITH t AS (SELECT o_orderkey,
       |    CASE WHEN o_orderkey % 20 = 0 THEN $bumpedPriceSql
       |         ELSE o_totalprice END AS p
       |  FROM orders WHERE o_orderkey % 10 < 3),
       |b AS (SELECT o_totalprice AS p FROM orders
       |      WHERE o_orderkey % 10 < 3 AND o_orderkey % 500 = 0)
       |SELECT '1_main_before' AS stage, CAST(0 AS BIGINT) AS audit_bad,
       |  COUNT(*) AS n, ${sqlSum("p")} AS sum_price FROM t
       |UNION ALL
       |SELECT '2_main_after', CAST(0 AS BIGINT), COUNT(*), ${sqlSum("p")}
       |FROM (SELECT p FROM t UNION ALL SELECT p FROM b)
       |ORDER BY stage""".stripMargin

  // -- io_partition_evolution: mixed partition specs in one table ----------
  // Iceberg's partition-spec evolution re-expressed on the manifest
  // store: a table's OLD files were written before the partition
  // column mattered (one unpartitioned group), NEW batches arrive
  // partition-tagged (the tag rides the group's path, exactly how
  // Hive/Iceberg encode partition values). No old file is rewritten —
  // the scheme change costs zero data IO — and a partition predicate
  // prunes PARTIALLY: tagged groups prune by manifest arithmetic,
  // untagged legacy groups are always read and filtered row-wise.
  // That asymmetry (correctness preserved, pruning improves only for
  // data written after the evolution) IS the semantics of spec
  // evolution. The query emits the group counts it planned alongside
  // the aggregate, and the oracle recomputes both independently — so
  // over- OR under-pruning fails the value compare, the
  // io_manifest_skipping discipline.
  private val PeWanted = "1-URGENT"

  private[graft] def peRoot(s: SparkSession, d: String): String =
    Staging.inPlace("pestore_", d, Seq("orders"), "v1-two-spec-generations") { root =>
      import s.implicits._
      val t = Tables.orders(s, d)
      // old spec: one untagged group (written before the evolution)
      t.filter($"o_orderkey" % 2 === 0).write.parquet(s"$root/gen1")
      // new spec: ONE dynamic partitionBy write fans out every partition
      // value (a per-value filter+write loop is one full scan per value —
      // O(partitions) jobs, unusable at a real partition count). The tag
      // is a DUPLICATE of o_orderpriority so the path carries pri=<v>
      // while the data files keep the full orders schema, byte-compatible
      // with the untagged gen1 group.
      t.filter($"o_orderkey" % 2 === 1)
        .withColumn("pri", $"o_orderpriority")
        .write.partitionBy("pri").parquet(s"$root/gen2")
      // the value list is read back from the written directory names —
      // O(partitions) driver-side metadata, no extra Spark job. The names
      // stay URI-ESCAPED here on purpose: the manifest stores PATHS, and
      // the escaped form is the on-disk truth (a value with space/'%'/'/'
      // round-trips only escaped); every VALUE comparison against a raw
      // wanted value unescapes at read time (qPartitionEvolution), never
      // here — escaping exactly once and unescaping exactly once is the
      // invariant.
      val pris = Option(new java.io.File(s"$root/gen2").listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("pri="))
        .map(_.getName.stripPrefix("pri=")).sorted
      writeManifest(root, 1, s"$root/gen1" +: pris.map(p => s"$root/gen2/pri=$p"))
    }

  private def qPartitionEvolution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = peRoot(s, d)
    val paths = manifestPaths(root, 1)
    // directory names are URI-escaped by the parquet writer (a value
    // with a space/'%'/'/' lands escaped in the manifest); unescape
    // before comparing against the RAW wanted value (r9 ADVICE)
    val selected = paths.filter { p =>
      val i = p.lastIndexOf("pri=")
      i < 0 || org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(p.substring(i + 4)) == PeWanted
    }
    Tables.parquet(s, selected: _*)
      .filter($"o_orderpriority" === PeWanted)
      .agg(count(lit(1)).as("n_rows"), dsum($"o_totalprice").as("sum_price"))
      .select(lit(paths.size.toLong).as("n_groups_total"),
        lit(selected.size.toLong).as("n_groups_read"),
        $"n_rows", $"sum_price")
  }
  private val qPartitionEvolutionSql =
    s"""SELECT
       |  CAST(1 + (SELECT COUNT(DISTINCT o_orderpriority) FROM orders
       |            WHERE o_orderkey % 2 = 1) AS BIGINT) AS n_groups_total,
       |  CAST(1 + (SELECT COUNT(DISTINCT o_orderpriority) FROM orders
       |            WHERE o_orderkey % 2 = 1
       |              AND o_orderpriority = '$PeWanted') AS BIGINT) AS n_groups_read,
       |  COUNT(*) AS n_rows, ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders WHERE o_orderpriority = '$PeWanted'""".stripMargin

  // -- io_shallow_clone: zero-copy table clone + divergence ----------------
  // Delta's SHALLOW CLONE: a new table whose v1 manifest lists the
  // SOURCE's live file groups — cloning a 100 TB table costs one
  // manifest write. The clone then evolves independently: its commits
  // go through its own OCC chain and copy-on-write only the groups
  // they touch, while the source's manifests and files stay untouched
  // (spec pins source-manifest bytes + the shared-file property). The
  // dev/test-against-prod pattern that motivates clones in every lake
  // format.
  def shallowClone(srcRoot: String, srcVersion: Int, dstRoot: String): Unit = {
    new java.io.File(dstRoot).mkdirs()
    writeManifest(dstRoot, 1, manifestPaths(srcRoot, srcVersion))
  }

  private def bumpSqlOf(e: String): String =
    s"floor(($e) * CAST(1.1 AS DOUBLE) * 100 + 0.5) / 100"

  private def qShallowClone(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = snapshotRoot(s, d)
    val srcV = currentSnapshotVersion(src)
    val dst = Staging.scratch("clone", d)
    Staging.rmTree(new java.io.File(dst))
    shallowClone(src, srcV, dst)
    // diverge the clone: copy-on-write the one group the update hits,
    // committed on the CLONE's OCC chain — the source never sees it
    val g0 = manifestPaths(dst, 1).find(_.contains("rewrite_g0")).get
    Tables.parquet(s, g0)
      .withColumn("o_totalprice",
        when($"o_orderkey" % 80 === 0, bumpedPrice($"o_totalprice"))
          .otherwise($"o_totalprice"))
      .write.parquet(s"$dst/clone_g0")
    commitSnapshot(dst, 1, Seq(g0), Seq(s"$dst/clone_g0"))
    Seq(("1_source", readSnapshot(s, src, srcV)),
      ("2_clone_v1", readSnapshot(s, dst, 1)),
      ("3_clone_diverged", readSnapshot(s, dst, 2)),
      ("4_source_after", readSnapshot(s, src, currentSnapshotVersion(src))))
      .map { case (stage, df) =>
        df.agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
          .select(lit(stage).as("stage"), $"n", $"sum_price")
      }.reduce(_.unionByName(_)).orderBy($"stage")
  }
  private val qShallowCloneSql = {
    val v2Price =
      s"CASE WHEN o_orderkey % 40 = 0 THEN $bumpedPriceSql ELSE o_totalprice END"
    val divergedPrice =
      s"CASE WHEN o_orderkey % 80 = 0 THEN ${bumpSqlOf(v2Price)} ELSE $v2Price END"
    s"""SELECT '1_source' AS stage, COUNT(*) AS n,
       |  ${sqlSum(v2Price)} AS sum_price FROM orders
       |UNION ALL
       |SELECT '2_clone_v1', COUNT(*), ${sqlSum(v2Price)} FROM orders
       |UNION ALL
       |SELECT '3_clone_diverged', COUNT(*), ${sqlSum(divergedPrice)} FROM orders
       |UNION ALL
       |SELECT '4_source_after', COUNT(*), ${sqlSum(v2Price)} FROM orders
       |ORDER BY stage""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("io_shallow_clone", qShallowClone, Some(qShallowCloneSql)),
    QueryDef("io_partition_evolution", qPartitionEvolution, Some(qPartitionEvolutionSql)),
    QueryDef("io_branching", qBranching, Some(qBranchingSql)),
    QueryDef("io_rollback", qRollback, Some(qRollbackSql)),
    QueryDef("io_dynamic_overwrite", qDynamicOverwrite, Some(qDynamicOverwriteSql)),
    QueryDef("q_merge_upsert", qMergeUpsert, Some(qMergeUpsertSql)),
    QueryDef("q_incremental_agg", incrementalAgg, Some(incrementalAggSql)),
    QueryDef("q_incremental_join", incrementalJoin, Some(incrementalJoinSql)),
    QueryDef("io_compaction", qCompaction, Some(qCompactionSql)),
    QueryDef("q_scd2", qScd2, Some(qScd2Sql)),
    QueryDef("io_snapshot_read", qSnapshotRead, Some(qSnapshotReadSql)),
    QueryDef("io_occ_commit", qOccCommit, Some(qOccCommitSql)),
    QueryDef("io_dsv2_write", qDsv2Write, Some(qDsv2WriteSql)),
    QueryDef("io_sql_insert", qSqlInsert, Some(qSqlInsertSql)),
    QueryDef("io_encrypted_manifest", qEncryptedManifest,
      Some(qEncryptedManifestSql)),
    QueryDef("io_encrypted_data", qEncryptedData, Some(qEncryptedDataSql)),
    QueryDef("io_sql_delete", qSqlDelete, Some(qSqlDeleteSql)),
    QueryDef("io_sql_update", qSqlUpdate, Some(qSqlUpdateSql)),
    QueryDef("io_sql_ddl", qSqlDdl, Some(qSqlDdlSql)),
    QueryDef("io_sql_alter", qSqlAlter, Some(qSqlAlterSql)),
    QueryDef("io_partitioned_store", qPartitionedStore,
      Some(qPartitionedStoreSql)),
    QueryDef("io_sql_merge", qSqlMerge, Some(qSqlMergeSql)),
    QueryDef("io_sql_merge_full", qSqlMergeFull, Some(qSqlMergeFullSql)),
    QueryDef("io_history_table", qHistoryTable, Some(qHistoryTableSql)),
    QueryDef("io_dsv2_schema_merge", qDsv2SchemaMerge,
      Some(qDsv2SchemaMergeSql)),
    QueryDef("io_compact_store", qCompactStore, Some(qCompactStoreSql)),
    QueryDef("io_cluster_store", qClusterStore, Some(qClusterStoreSql)),
    QueryDef("io_sql_maintenance", qSqlMaintenance, Some(qSqlMaintenanceSql)),
    QueryDef("io_binpack_store", qBinPackStore, Some(qBinPackStoreSql)),
    QueryDef("io_occ_dv_race", qOccDvRace, Some(qOccDvRaceSql)),
    QueryDef("q_sql_time_travel", qSqlTimeTravel, Some(qSqlTimeTravelSql)),
    QueryDef("q_cdc_diff", qCdcDiff, Some(qCdcDiffSql)),
    QueryDef("io_vacuum", qVacuum, Some(qVacuumSql)),
    QueryDef("io_manifest_skipping", qManifestSkipping, Some(qManifestSkippingSql)),
    QueryDef("io_metadata_count", qMetadataCount, Some(qMetadataCountSql)),
    QueryDef("io_schema_evolution", qSchemaEvolution, Some(qSchemaEvolutionSql)),
    QueryDef("io_column_mapping", qColumnMapping, Some(qColumnMappingSql)),
    QueryDef("io_time_travel_ts", qTimeTravelTs, Some(qTimeTravelTsSql)),
    QueryDef("io_deletion_vectors", qDeletionVectors, Some(qDeletionVectorsSql)),
    QueryDef("io_merge_dv", qMergeDv, Some(qMergeDvSql)),
    QueryDef("io_dv_compaction", qDvCompaction, Some(qDvCompactionSql)),
    QueryDef("q_cdc_mor", qCdcMor, Some(qCdcMorSql)),
  )
}

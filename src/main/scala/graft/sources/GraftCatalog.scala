package graft.sources

import org.apache.spark.sql.connector.catalog.{
  CatalogPlugin, Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Maintenance

/** SQL catalog over graft snapshot stores — the pure-SQL front door
  * (the DSv2 reader's sibling): register once,
  *
  * {{{
  * spark.sql.catalog.graft      = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.base = /path/to/stores
  * }}}
  *
  * and every store directory under `base` is a SQL table with NATIVE
  * time-travel syntax — the analyzer routes `VERSION AS OF` /
  * `TIMESTAMP AS OF` to the `loadTable` overloads below:
  *
  * {{{
  * SELECT * FROM graft.my_store                          -- latest
  * SELECT * FROM graft.my_store VERSION AS OF 2
  * SELECT * FROM graft.my_store TIMESTAMP AS OF '2026-01-01 10:00:00'
  * }}}
  *
  * Resolution work is the same driver-side manifest arithmetic as the
  * reader (`GraftStore.resolve`); scans delegate to Spark's vectorized
  * parquet path. The analyzer hands `TIMESTAMP AS OF` down in
  * MICROSECONDS; the store's commit log is in epoch seconds —
  * floor-divide, so a probe inside a second resolves like the
  * commit-log granularity says it should. Writes go through the
  * DataFrame front door (`df.write.format("graft")`) or SQL
  * INSERT/UPDATE/MERGE/DELETE; DDL covers CREATE TABLE and
  * ALTER TABLE ADD/RENAME/DROP COLUMN (metadata-only schema
  * evolution — r16 verdict #3).
  */
class GraftCatalog extends CatalogPlugin with TableCatalog with ProcedureCatalog {
  private var catalogName: String = _
  private var base: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    base = Option(options.get("base")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.base"))
  }
  override def name(): String = catalogName

  private def rootOf(ident: Identifier): String = {
    require(ident.namespace().isEmpty || ident.namespace().sameElements(Array("default")),
      s"graft catalog has a single flat namespace, got ${ident.namespace().mkString(".")}")
    s"$base/${ident.name()}"
  }
  private def load(ident: Identifier, extra: Map[String, String]): Table = {
    // `<store>$history` — the DESCRIBE HISTORY metadata table (r15):
    // one row per committed version, pure manifest arithmetic
    if (ident.name().endsWith("$history")) {
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$history"))
      val root = rootOf(base)
      if (!Maintenance.isStore(root))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
          Seq(catalogName, ident.name()))
      return new GraftHistoryTable(root)
    }
    val root = rootOf(ident)
    if (!Maintenance.isStore(root))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, ident.name()))
    val opts = new CaseInsensitiveStringMap(
      (Map("path" -> root) ++ extra).foldLeft(
        new java.util.HashMap[String, String]()) { case (m, (k, v)) => m.put(k, v); m })
    new GraftTable(GraftStore.resolve(opts))
  }

  override def loadTable(ident: Identifier): Table = load(ident, Map.empty)
  /** `VERSION AS OF <v>` — the analyzer passes the version text. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Map("versionAsOf" -> version))
  /** `TIMESTAMP AS OF <ts>` — the analyzer passes MICROseconds; the
    * commit log is epoch seconds (floor keeps sub-second probes on the
    * log's granularity). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    load(ident, Map("timestampAsOf" -> Math.floorDiv(timestampMicros, 1000000L).toString))

  override def tableExists(ident: Identifier): Boolean = Maintenance.isStore(rootOf(ident))
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty, "graft catalog has a single flat namespace")
    Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && Maintenance.isStore(f.getAbsolutePath))
      .map(f => Identifier.of(Array.empty, f.getName))
  }
  override def invalidateTable(ident: Identifier): Unit = ()

  private def ddlUnsupported =
    throw new UnsupportedOperationException(
      "graft stores support CREATE TABLE; other DDL goes through the " +
        "engine's maintenance operators")
  /** `CREATE TABLE graft.t (…) PARTITIONED BY (col, …)` — bootstraps an
    * empty store (v1 with zero groups, schema log, partition spec), so
    * the pure-SQL user can go CREATE → INSERT → SELECT … VERSION AS OF
    * without a line of graft API (r16). Only identity partition
    * transforms are accepted: bucket/days/etc. would need a physical
    * layout this store does not implement — fail at DDL, not at write. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val root = rootOf(ident)
    if (Maintenance.isStore(root))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName, ident.name()))
    val partCols = partitions.toSeq.map { t =>
      require(t.name == "identity" && t.references().length == 1 &&
        t.references()(0).fieldNames().length == 1,
        s"graft stores support only identity partitioning, got $t")
      t.references()(0).fieldNames()(0)
    }
    Maintenance.createStore(root, schema, partCols)
    loadTable(ident)
  }
  /** `ALTER TABLE graft.t ADD|RENAME|DROP COLUMN` — metadata-only
    * commits through the schema-log / column-mapping machinery
    * ([[GraftStore.alterStore]]); zero data bytes move (r16 verdict
    * #3). Every other change kind fails loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!Maintenance.isStore(root))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, ident.name()))
    GraftStore.alterStore(root, changes)
    loadTable(ident)
  }
  /** `CALL graft.<proc>(…)` — SQL-reachable maintenance (r16 verdict
    * #7): compact / cluster / vacuum / restore / migrate_dv_read_sets
    * run the same maintenance operators the Scala API does and return
    * a one-row result set. */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().isEmpty || ident.namespace().sameElements(Array("default")),
      s"graft catalog has a single flat namespace, got ${ident.namespace().mkString(".")}")
    GraftProcedures.load(base, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty, "graft catalog has a single flat namespace")
    GraftProcedures.Names.map(n => Identifier.of(Array.empty, n)).toArray
  }

  /** `DROP TABLE graft.t` — removes the whole store directory
    * (manifests, data groups, sidecars, logs). Returns false for a
    * non-store path, Spark's contract for "nothing to drop". */
  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    if (!Maintenance.isStore(root)) return false
    graft.Staging.rmTree(new java.io.File(root))
    true
  }

  /** `ALTER TABLE graft.a RENAME TO b` — a directory move; manifests
    * carry paths under the OLD root for externally-staged groups, but
    * engine-written groups live inside the store dir, which the
    * resolver reads relative to nothing — so only fully self-contained
    * stores (every group under the root) may rename; fail closed
    * otherwise rather than leave a store whose manifest points at a
    * location that no longer serves it. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = rootOf(oldIdent)
    val to = rootOf(newIdent)
    if (!Maintenance.isStore(from))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, oldIdent.name()))
    if (Maintenance.isStore(to))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName, newIdent.name()))
    val versions = Maintenance.manifestVersions(from)
    val external = versions.flatMap(v => Maintenance.manifestPaths(from, v))
      .map(Maintenance.DvLine.path)
      .filterNot(p => p.startsWith(from + "/"))
    require(external.isEmpty,
      s"cannot rename a store whose manifests reference groups outside " +
        s"its own directory (they would keep serving from the old " +
        s"location): ${external.take(3).mkString(", ")}")
    // self-contained: rewrite every manifest's paths to the new root,
    // then move the directory — metadata-only, zero data bytes copied
    java.nio.file.Files.move(java.nio.file.Paths.get(from),
      java.nio.file.Paths.get(to))
    for (v <- versions) {
      val lines = Maintenance.manifestRawLines(to, v)
        .map(_.replace(from + "/", to + "/"))
      Maintenance.writeManifest(to, v, lines)
    }
  }
}

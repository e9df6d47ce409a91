package graft.sources

import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Minimal [[TableCatalog]] for `graft-keyed` layouts — the SIXTH
  * Catalyst extension surface in the repo (after native expressions,
  * the optimizer rule, registered kernels, the DSv2 connectors, and
  * SparkSessionExtensions wiring) and the one that opens the SQL DDL /
  * DML door Spark reserves for catalog tables:
  *
  *  - `CREATE TABLE cat.t (…) USING graft-keyed LOCATION '<path>'
  *    TBLPROPERTIES('key'='kb' [, 'sortBy'='doc_id', 'retain'='2'])`
  *    registers an EXTERNAL table over a staged layout (or a path the
  *    first `INSERT OVERWRITE` will commit). `DROP TABLE` forgets the
  *    mapping and leaves the layout bytes untouched — external-table
  *    semantics, like dropping an Iceberg table without purge.
  *  - `SELECT … FROM cat.t` plans the ordinary [[KeyedScan]] with
  *    every pushdown surface intact;
  *    `SELECT … FROM cat.t VERSION AS OF <seq>` pins a retained
  *    snapshot ([[loadTable(ident, version)]] — the time-travel door
  *    `spark.read.option("asOf", …)` opens on the path-based route).
  *  - `INSERT OVERWRITE cat.t SELECT …` runs the write-audit-publish
  *    commit ([[KeyedWriteBuilder]]); a bare `INSERT INTO` is refused
  *    at plan time (overwrite-by-generation is the write contract).
  *  - `DELETE FROM cat.t WHERE kb IN (…)` is the metadata-grain
  *    tombstone delete ([[KeyedTable.deleteWhere]]) — Spark routes it
  *    here because DSv2 DELETE exists only for catalog tables.
  *
  * Table METADATA (r17) lives in a JVM-SHARED registry keyed by
  * CATALOG NAME: every session instantiating the same catalog name —
  * including the sessions Structured Streaming CLONES for each
  * foreachBatch — resolves the same tables (a per-instance map made a
  * streamed `MERGE INTO cat.t` fail with TABLE_NOT_FOUND inside the
  * cloned session). With the optional catalog option
  * `spark.sql.catalog.<name>.warehouse=<dir>`, registrations also
  * PERSIST to `<dir>/_graft_catalog` (one atomic tmp+rename per DDL,
  * last-writer-wins — metastore-lite, deliberately not a CAS: the
  * durable truth about a layout stays the layout itself; this file
  * persists only the Spec so a NEW JVM recovers its table names).
  * Schema/key validation happens at registration ([[KeyedTable]]'s
  * own requires), so a bad CREATE fails at DDL time, not first read.
  *
  * Register:
  * `spark.conf.set("spark.sql.catalog.<name>", classOf[GraftCatalog].getName)`
  * (+ optionally `spark.sql.catalog.<name>.warehouse`).
  */
final class GraftCatalog extends TableCatalog {
  import GraftCatalog.Spec

  private var tables: scala.collection.concurrent.TrieMap[Identifier, Spec] = _

  private var catalogName: String = _
  private var warehouse: Option[String] = None

  private var mvs: scala.collection.concurrent.TrieMap[Identifier, GraftMv.MvSpec] = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).filter(_.nonEmpty)
    tables = GraftCatalog.registryFor(name)
    mvs = GraftMv.registryFor(name)
    // recover persisted registrations (new JVM / first instance)
    warehouse.foreach(w => GraftCatalog.loadStore(w)
      .foreach { case (id, spec) => tables.putIfAbsent(id, spec) })
    warehouse.foreach(w => GraftMv.loadStore(w)
      .foreach { case (id, spec) => mvs.putIfAbsent(id, spec) })
  }

  private def persist(): Unit =
    warehouse.foreach(w => GraftCatalog.writeStore(w, tables.snapshot().toMap))

  private def persistMvs(): Unit =
    warehouse.foreach(w => GraftMv.writeStore(w, mvs.snapshot().toMap))

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tables.keys.filter(_.namespace.sameElements(namespace)).toArray

  private def nameParts(ident: Identifier): Seq[String] =
    (catalogName +: ident.namespace.toSeq) :+ ident.name

  private def spec(ident: Identifier): Spec =
    tables.getOrElse(ident, throw new NoSuchTableException(nameParts(ident)))

  override def loadTable(ident: Identifier): Table = {
    val s = spec(ident)
    new KeyedTable(s.schema, s.path, s.key, s.sortBy, s.retain,
      dmlMode = s.dmlMode, branch = s.branch)
  }

  /** `VERSION AS OF <seq | 'tag'>` — the catalog door to snapshot time
    * travel. Numeric versions are the commit log's monotone sequence
    * numbers ([[KeyedSource.Snapshot.seq]]); non-numeric versions are
    * NAMED TAGS ([[KeyedSource.tagSnapshot]]) resolved at scan build.
    * An expired seq / unknown tag fails at plan time with the retained
    * window / tag list in the message. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val s = spec(ident)
    val seq = try Some(version.toLong) catch {
      case _: NumberFormatException => None
    }
    seq match {
      case Some(v) =>
        new KeyedTable(s.schema, s.path, s.key, s.sortBy, s.retain, asOf = Some(v))
      case None =>
        new KeyedTable(s.schema, s.path, s.key, s.sortBy, s.retain,
          asOfTag = Some(version))
    }
  }

  /** `TIMESTAMP AS OF` has no meaning here: snapshots carry sequence
    * numbers, not wall-clock stamps (deterministic replay is the whole
    * point of the log). Refuse with the remediation. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    throw new UnsupportedOperationException(
      "graft-keyed snapshots are sequence-numbered; use VERSION AS OF <seq>")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // OPTIONS(...) arrive "option."-prefixed, TBLPROPERTIES plain —
    // accept either spelling for the layout triple
    def prop(k: String): Option[String] =
      Option(properties.get(k))
        .orElse(Option(properties.get(TableCatalog.OPTION_PREFIX + k)))
    require(partitions.isEmpty,
      "graft-keyed layouts are keyed by the 'key' table property, not " +
        "PARTITIONED BY transforms")
    // a bad CREATE must fail at DDL time, not first read: USING any
    // other provider would silently register a graft-keyed reader over
    // a foreign directory
    prop(TableCatalog.PROP_PROVIDER).foreach(p => require(
      p.equalsIgnoreCase("graft-keyed"),
      s"GraftCatalog tables must be USING graft-keyed, got '$p'"))
    val path = prop(TableCatalog.PROP_LOCATION).getOrElse(
      throw new IllegalArgumentException(
        "graft-keyed catalog tables require LOCATION '<layout path>'"))
    val key = prop("key").getOrElse(throw new IllegalArgumentException(
      "graft-keyed catalog tables require TBLPROPERTIES('key'='<column>')"))
    val sortBy = prop("sortBy").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val retain = prop("retain").map(v => try v.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft-keyed 'retain' must be an integer, got '$v'")
    }).getOrElse(1)
    // DML mode: 'cow' (default) rewrites affected key directories;
    // 'mor' commits row-grain DELETEs as deletion vectors
    val dmlMode = prop("dmlMode").getOrElse("cow")
    // branch-pinned table (r17): every read, append, and row-level DML
    // targets the named branch — the write-audit-publish workspace as
    // a TABLE (fastForward publishes, dropBranch discards)
    val branch = prop("branch").filter(_.nonEmpty)
    schema.fields.foreach(f => require(
      f.dataType == LongType || f.dataType == StringType ||
        f.dataType == org.apache.spark.sql.types.IntegerType ||
        f.dataType == org.apache.spark.sql.types.DoubleType ||
        f.dataType == org.apache.spark.sql.types.FloatType,
      s"graft-keyed supports BIGINT, STRING, INT, DOUBLE, and FLOAT " +
        s"fields, got ${f.name}: ${f.dataType}"))
    val s = Spec(schema, path, key, sortBy, retain, dmlMode, branch)
    // KeyedTable's constructor requires validate key∈schema etc. — a
    // bad CREATE fails HERE, at DDL time
    val t = new KeyedTable(schema, path, key, sortBy, retain,
      dmlMode = dmlMode, branch = branch)
    if (tables.putIfAbsent(ident, s).isDefined)
      throw new TableAlreadyExistsException(nameParts(ident))
    persist()
    t
  }

  /** `SUPPORT_COLUMN_DEFAULT_VALUE` is required for `ALTER TABLE …
    * ADD COLUMN … DEFAULT …` to reach [[alterTable]] — and a default
    * is MANDATORY for this layout (frames store no NULLs; an added
    * column must answer something for pre-evolution rows). */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** Schema evolution — the ONLY supported alterations: ADD COLUMN
    * (with a mandatory literal default), RENAME COLUMN, and ALTER
    * COLUMN … TYPE BIGINT over an INT column (the one safe widening,
    * [[KeyedSource.WidenCol]]) — each recorded in the layout's
    * commit-log lineage ([[KeyedSource.evolveKeyed]] — one CAS commit;
    * old generations stay readable under the evolved schema, all
    * other type changes refuse). Everything else stays immutable. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val s = spec(ident)
    def bad(msg: String): Nothing = throw new UnsupportedOperationException(
      s"graft-keyed ALTER TABLE supports only ADD COLUMN (with a literal " +
        s"DEFAULT), RENAME COLUMN, and ALTER COLUMN TYPE BIGINT (INT " +
        s"widening); $msg")
    val ops: Seq[KeyedSource.SchemaOp] = changes.map {
      case a: TableChange.AddColumn =>
        if (a.fieldNames.length != 1) bad("nested columns do not exist here")
        val isLong = a.dataType() match {
          case LongType => true
          case StringType => false
          case other => bad(s"got ADD COLUMN of type ${other.sql}")
        }
        val dv = Option(a.defaultValue()).map(_.getValue).getOrElse(
          bad(s"ADD COLUMN '${a.fieldNames()(0)}' needs DEFAULT <literal> " +
            "(the framed layout stores no NULLs)"))
        KeyedSource.AddCol(a.fieldNames()(0), isLong,
          String.valueOf(dv.value()))
      case r: TableChange.RenameColumn =>
        if (r.fieldNames.length != 1) bad("nested columns do not exist here")
        KeyedSource.RenCol(r.fieldNames()(0), r.newName())
      case u: TableChange.UpdateColumnType =>
        if (u.fieldNames.length != 1) bad("nested columns do not exist here")
        // the recorded op carries only the column (the widening KIND
        // derives from the stored source type), so the REQUESTED
        // target must match what the source widens to — an
        // `ALTER COLUMN f TYPE BIGINT` over a FLOAT column must not
        // silently become float->double
        val src = s.schema.fields.find(_.name == u.fieldNames()(0))
          .map(_.dataType)
        val okPair = (src, u.newDataType()) match {
          case (Some(org.apache.spark.sql.types.IntegerType), LongType) => true
          case (Some(org.apache.spark.sql.types.FloatType),
            org.apache.spark.sql.types.DoubleType) => true
          case _ => false
        }
        if (!okPair)
          bad(s"got ALTER COLUMN ${u.fieldNames()(0)} TYPE " +
            s"${u.newDataType().sql} over ${src.fold("?")(_.sql)} — only " +
            "the INT->BIGINT and FLOAT->DOUBLE widenings are " +
            "representable without restaging")
        KeyedSource.WidenCol(u.fieldNames()(0))
      case other => bad(s"got ${other.getClass.getSimpleName}")
    }
    val evolved = KeyedSource.evolveKeyed(
      org.apache.spark.sql.SparkSession.active, s.path, s.schema, ops)
    val sortBy = s.sortBy.map { c =>
      // renames follow the sort spec so the order marker license keeps
      // resolving (the marker itself records OLD names and refuses —
      // conservative; a restage re-claims under the new names)
      ops.foldLeft(c) {
        case (n, KeyedSource.RenCol(o, nn)) if n == o => nn
        case (n, _) => n
      }
    }
    val key2 = ops.foldLeft(s.key) {
      case (n, KeyedSource.RenCol(o, nn)) if n == o => nn
      case (n, _) => n
    }
    val s2 = Spec(evolved, s.path, key2, sortBy, s.retain, s.dmlMode, s.branch)
    tables.put(ident, s2)
    persist()
    // the returned handle keeps the branch pin (r18 ADVICE): a
    // branch-pinned table that evolves must keep targeting its branch,
    // matching loadTable/createTable
    new KeyedTable(s2.schema, s2.path, s2.key, s2.sortBy, s2.retain,
      dmlMode = s2.dmlMode, branch = s2.branch)
  }

  /** External-table semantics: forget the mapping, leave the layout
    * bytes (commit log included) untouched. Dropping a materialized
    * view forgets its maintenance spec too. */
  override def dropTable(ident: Identifier): Boolean = {
    val dropped = tables.remove(ident).isDefined
    if (mvs.remove(ident).isDefined) persistMvs()
    if (dropped) persist()
    dropped
  }

  // ── Materialized views (r19 — GraftMv scaladoc) ────────────────────

  /** Register a maintained rollup view over a SOURCE table of this
    * catalog: bootstrap `rollupFull(source head)` into a keyed layout
    * at `viewPath` (keyed by the group column), register it as an
    * ordinary catalog table under `ident`, and record the maintenance
    * spec + the bootstrapped snapshot seq. From here on
    * [[refreshMaterializedView]] is the ONLY call a consumer makes —
    * it derives the changes interval itself. */
  def createMaterializedView(ident: Identifier, source: Identifier,
      group: String, sums: Seq[String], minMax: Seq[String],
      viewPath: String): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val src = spec(source)
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"graft-keyed materialized view refused: $msg")
    val srcSchema = src.schema
    (group +: (sums ++ minMax)).foreach(c =>
      if (!srcSchema.fieldNames.contains(c)) bad(s"'$c' is not a source column"))
    if (srcSchema(group).dataType != LongType &&
        srcSchema(group).dataType != StringType)
      bad(s"the group column keys the view layout and must be BIGINT or " +
        s"STRING, got ${srcSchema(group).dataType.sql}")
    sums.foreach(c => if (!KeyedStats.numeric(srcSchema(c).dataType)) bad(
      s"sum column '$c' must be BIGINT/INT — a floating-point running " +
        "sum would drift from the recompute (use min/max for FP columns)"))
    if (tables.contains(ident)) throw new TableAlreadyExistsException(
      nameParts(ident))
    val head = KeyedSource.readCommitLog(src.path,
      spark.sessionState.newHadoopConf()).getOrElse(bad(
        s"source ${source.name} has no commit log — stage it through the " +
          "connector writer first")).head.seq
    var m = GraftMv.MvSpec(src.path, srcSchema.toDDL, src.key, group,
      sums, minMax, viewPath, head)
    // bootstrap pinned AT the recorded seq — a commit racing the
    // create lands in the first refresh's interval, never in a gap
    val boot = graft.operators.Ivm.rollupFull(
      GraftMv.sourceAt(spark, m, Some(head)), Seq(group), sums, minMax)
    KeyedSource.stageKeyed(spark, boot, viewPath, group)
    mvs.put(ident, m)
    tables.put(ident, Spec(
      org.apache.spark.sql.types.StructType.fromDDL(GraftMv.viewDdl(m)),
      viewPath, group, Seq.empty, 1))
    persistMvs(); persist()
  }

  /** Refresh a registered view: read EXACTLY the source changes
    * interval (lastApplied, head], apply the delta rule with bounded
    * extreme repair ([[graft.operators.Ivm.maintainRollupFull]]),
    * restage the view, advance the marker. Returns the source seq the
    * view now reflects. A refresh with nothing to apply is a no-op
    * (no view rewrite, no marker burn). An interval that fell out of
    * the source's retention window fails loudly at the changes scan —
    * retention IS the maximum refresh lag. */
  def refreshMaterializedView(ident: Identifier): Long = {
    val spark = org.apache.spark.sql.SparkSession.active
    val m = mvs.getOrElse(ident, throw new NoSuchTableException(nameParts(ident)))
    val head = KeyedSource.readCommitLog(m.sourcePath,
      spark.sessionState.newHadoopConf()).getOrElse(
        throw new IllegalStateException(
          s"graft-keyed materialized view ${ident.name}: source layout at " +
            s"${m.sourcePath} lost its commit log")).head.seq
    if (head == m.lastApplied) return head
    val ddl = GraftMv.viewDdl(m)
    val next = graft.operators.Ivm.maintainRollupFull(
      GraftMv.viewRead(spark, m, ddl),
      GraftMv.changesBetween(spark, m, m.lastApplied, head),
      GraftMv.sourceAt(spark, m, Some(head)),
      Seq(m.group), m.sums, m.minMax)
    KeyedSource.stageKeyed(spark, next, m.viewPath, m.group)
    mvs.put(ident, m.copy(lastApplied = head))
    persistMvs()
    head
  }

  /** The registered views (name → last-applied source seq) — the
    * audit surface a maintenance scheduler reads. */
  def listMaterializedViews(): Map[Identifier, Long] =
    mvs.snapshot().toMap.map { case (id, m) => id -> m.lastApplied }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft-keyed catalog tables cannot be renamed; DROP and re-CREATE")
}

object GraftCatalog {
  private[sources] case class Spec(schema: StructType, path: String,
      key: String, sortBy: Seq[String], retain: Int, dmlMode: String = "cow",
      branch: Option[String] = None)

  /** JVM-shared per-catalog-name registries (class scaladoc). */
  private val registries = new java.util.concurrent.ConcurrentHashMap[
    String, scala.collection.concurrent.TrieMap[Identifier, Spec]]

  private[sources] def registryFor(name: String)
      : scala.collection.concurrent.TrieMap[Identifier, Spec] =
    registries.computeIfAbsent(name,
      _ => scala.collection.concurrent.TrieMap.empty[Identifier, Spec])

  private val StoreFile = "_graft_catalog"
  private val StoreVersion = "graft-catalog v1"
  private val US = PageSource.US

  /** Persist the catalog's Spec map under the warehouse dir — one
    * US-framed line per table, atomic tmp+rename (last-writer-wins;
    * see the class scaladoc for why this is deliberately not a CAS). */
  private[sources] def writeStore(warehouse: String,
      specs: Map[Identifier, Spec]): Unit = {
    val root = new org.apache.hadoop.fs.Path(warehouse)
    val fs = root.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    if (!fs.exists(root)) fs.mkdirs(root)
    val sb = new StringBuilder
    sb.append(StoreVersion).append('\n')
    specs.toSeq.sortBy(t => (t._1.namespace.mkString("\u0000"), t._1.name))
      .foreach { case (id, sp) =>
        sb.append(id.namespace.length)
        id.namespace.foreach(n => sb.append(US).append(n))
        sb.append(US).append(id.name)
          .append(US).append(sp.schema.toDDL)
          .append(US).append(sp.path)
          .append(US).append(sp.key)
          .append(US).append(sp.sortBy.mkString(","))
          .append(US).append(sp.retain)
          .append(US).append(sp.dmlMode)
          .append(US).append(sp.branch.getOrElse(""))
          .append('\n')
      }
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"$StoreFile.tmp-${java.util.UUID.randomUUID()}")
    KeyedSource.writeFile(fs, tmp, sb.toString)
    val dst = new org.apache.hadoop.fs.Path(root, StoreFile)
    // delete-then-rename: the local FS refuses an overwriting rename
    // (returns false silently). The non-atomic window is fine for a
    // last-writer-wins store — a reader lands on the old file, the new
    // file, or the brief absence window, which loadStore closes by
    // RETRYING before treating the store as empty (r18 ADVICE: a
    // catalog initializing mid-publish must not silently recover zero
    // tables)
    if (fs.exists(dst)) fs.delete(dst, false)
    val dstCrc = new org.apache.hadoop.fs.Path(root, s".$StoreFile.crc")
    if (fs.exists(dstCrc)) fs.delete(dstCrc, false)
    if (!fs.rename(tmp, dst)) throw new java.io.IOException(
      s"graft catalog store publish failed: rename $tmp -> $dst")
    val crc = new org.apache.hadoop.fs.Path(root, s".${tmp.getName}.crc")
    if (fs.exists(crc)) fs.delete(crc, false)
  }

  /** Load persisted Specs; empty when no store exists. Absence inside
    * a concurrent publish window (a `.tmp-` sibling visible) retries
    * with exponential backoff — five attempts spanning ~775 ms — and
    * a tmp sibling that OUTLIVES the retries fails loudly (r18 ADVICE:
    * silently recovering zero tables from a populated warehouse is the
    * exact corruption the retry exists to prevent; a wedged or crashed
    * publisher needs an operator, not an empty catalog). A missing
    * store with no tmp sibling is simply a never-written warehouse and
    * returns immediately. A present but unparseable store fails
    * loudly — corruption of a file this catalog owns. */
  private[sources] def loadStore(warehouse: String): Seq[(Identifier, Spec)] = {
    val p = new org.apache.hadoop.fs.Path(warehouse, StoreFile)
    val fs = p.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    // retry absence ONLY inside the actual publish window — writeStore
    // stages a `.tmp-` file before the delete+rename, so a missing
    // store with no tmp sibling is simply a never-written warehouse
    // (the common first-use case must not pay the sleep)
    def midPublish: Boolean = try {
      val dir = new org.apache.hadoop.fs.Path(warehouse)
      fs.exists(dir) && fs.listStatus(dir).exists(
        _.getPath.getName.startsWith(s"$StoreFile.tmp-"))
    } catch { case _: java.io.IOException => false }
    // exponential backoff (r18 ADVICE: two fixed 25 ms retries
    // narrowed but did not close the delete-then-rename window — a
    // publisher stalling >50 ms could still hand a reader zero tables
    // from a populated warehouse). Five attempts spanning ~775 ms
    // cover any realistic rename stall; a tmp sibling STILL present
    // with no store after that is a wedged or crashed publisher, and
    // silently recovering zero tables would be the exact corruption
    // this retry exists to prevent — fail loudly instead.
    var attempts = 0
    var sawMidPublish = false
    while (!fs.exists(p) && attempts < 5 && { sawMidPublish = midPublish; sawMidPublish }) {
      Thread.sleep(25L << attempts); attempts += 1
    }
    if (!fs.exists(p)) {
      if (sawMidPublish && midPublish) throw new IllegalStateException(
        s"graft catalog store at $warehouse: no $StoreFile but a " +
          s"$StoreFile.tmp- sibling persisted through ${attempts} retries — " +
          "a publisher crashed mid-rename or is wedged; refusing to " +
          "silently recover zero tables (remove the stale tmp file or " +
          "re-run the publishing DDL)")
      return Seq.empty
    }
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    def corrupt(): Nothing = throw new IllegalStateException(
      s"graft catalog store corrupted at $p: '${text.take(80)}'")
    val lines = text.split("\n", -1).filter(_.nonEmpty)
    if (lines.isEmpty || lines.head != StoreVersion) corrupt()
    lines.tail.toSeq.map { line =>
      val f = line.split(US, -1)
      val nsLen = try f(0).toInt catch { case _: NumberFormatException => corrupt() }
      if (f.length != nsLen + 9) corrupt()
      val ns = f.slice(1, 1 + nsLen)
      val id = Identifier.of(ns, f(nsLen + 1))
      id -> Spec(StructType.fromDDL(f(nsLen + 2)), f(nsLen + 3), f(nsLen + 4),
        f(nsLen + 5).split(",").toSeq.filter(_.nonEmpty),
        try f(nsLen + 6).toInt catch { case _: NumberFormatException => corrupt() },
        f(nsLen + 7), Option(f(nsLen + 8)).filter(_.nonEmpty))
    }
  }
}

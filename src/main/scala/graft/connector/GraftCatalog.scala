package graft.connector

import graft.format._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform => XTransform, Literal => XLiteral}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DSv2 TableCatalog over a warehouse directory (the reference's
  * spark3/.../SparkCatalog.java). Register with:
  *
  * {{{
  * spark.sql.catalog.graft           = graft.connector.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  *
  * then `SELECT * FROM graft.db.t VERSION AS OF 3`, `INSERT INTO`,
  * `CREATE TABLE ... PARTITIONED BY (bucket(16, id), days(ts))`,
  * `ALTER TABLE ... RENAME COLUMN`, and metadata tables as
  * `graft.db.\`t$snapshots\``.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with FunctionCatalog with ProcedureCatalog with GraftViews {

  private var catalogName: String = _
  private var warehouse: String = _
  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-warehouse")
  }

  override def name(): String = catalogName
  override protected def viewWarehouse: String = warehouse

  private def tableDir(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  private val MetaSuffix = """^(.+)\$(\w+)$""".r

  override def loadTable(ident: Identifier): Table = ident.name() match {
    case MetaSuffix(base, metaName) =>
      val bi = Identifier.of(ident.namespace(), base)
      if (!GraftTable.exists(tableDir(bi))) throw new NoSuchTableException(ident)
      MetaTables.table(GraftTable.load(spark, tableDir(bi)), ident.toString, metaName)
    case _ =>
      if (GraftTable.exists(tableDir(ident)))
        new GraftSparkTable(spark, GraftTable.load(spark, tableDir(ident)), ident.toString)
      else refTable(ident).getOrElse(throw new NoSuchTableException(ident))
  }

  /** `t.branch_x` / `t.tag_x` ref spelling (the public Iceberg identifier
    * form): tag reads pin to the ref's snapshot; branch identifiers carry
    * the table's FULL surface against the ref — batch reads, appends,
    * overwrites, row-level DML, streaming reads and writes — every commit
    * advancing the branch head, never main. Both the quoted single-name
    * form (`` `t.branch_x` ``) and the multipart form (db.t.branch_x →
    * namespace [db, t]) resolve. A real table always wins — this only
    * runs when the identifier itself doesn't exist. */
  private val RefName = """^(.+)\.(branch|tag)_(.+)$""".r
  private val RefLeaf = """^(branch|tag)_(.+)$""".r
  private def refTable(ident: Identifier): Option[Table] = {
    val candidate = ident.name() match {
      case RefName(base, kind, ref) =>
        Some((Identifier.of(ident.namespace(), base), kind, ref))
      case RefLeaf(kind, ref) if ident.namespace().nonEmpty =>
        Some((Identifier.of(ident.namespace().init,
          ident.namespace().last), kind, ref))
      case _ => None
    }
    candidate.filter(c => GraftTable.exists(tableDir(c._1))).flatMap {
      case (bi, kind, ref) =>
        val t = GraftTable.load(spark, tableDir(bi))
        val isBranch = kind == "branch"
        val known = ref == "main" ||
          t.metadata.refs.get(ref).exists(_.isBranch == isBranch)
        if (!known) None
        // branch_main IS main: resolve to the plain (unpinned) table so
        // reads follow the live head and every write path — append,
        // overwrite, row-level DML, streaming — behaves exactly like the
        // base identifier (tag_main stays a pinned read)
        else if (isBranch && ref == "main")
          Some(new GraftSparkTable(spark, t, ident.toString))
        else t.metadata.refSnapshotId(ref).map { snap =>
          new GraftSparkTable(spark, t, ident.toString,
            snapshotId = Some(snap),
            writeBranch = if (isBranch) Some(ref) else None)
        }
    }
  }

  /** VERSION AS OF — a snapshot id, or a named ref (branch/tag/"main"). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!GraftTable.exists(tableDir(ident))) throw new NoSuchTableException(ident)
    val t = GraftTable.load(spark, tableDir(ident))
    val snapId = version.toLongOption.orElse(t.metadata.refSnapshotId(version))
      .getOrElse(throw new IllegalArgumentException(
        s"$version is neither a snapshot id nor a ref of $ident"))
    new GraftSparkTable(spark, t, ident.toString, snapshotId = Some(snapId))
  }

  /** TIMESTAMP AS OF — micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!GraftTable.exists(tableDir(ident))) throw new NoSuchTableException(ident)
    new GraftSparkTable(spark, GraftTable.load(spark, tableDir(ident)),
      ident.toString, asOfMillis = Some(timestampMicros / 1000L))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[XTransform], properties: JMap[String, String]): Table = {
    if (GraftTable.exists(tableDir(ident)))
      throw new TableAlreadyExistsException(ident)
    val withIds = FieldIds.assignFresh(schema)
    val specBuild: PartitionSpec.Builder => PartitionSpec.Builder = b =>
      partitions.foldLeft(b)((bb, t) => addTransform(bb, t))
    val t = GraftTable.create(spark, tableDir(ident), withIds, specBuild,
      properties.asScala.toMap.filter { case (k, _) => !k.startsWith("option.") &&
        k != "provider" && k != "location" && k != "owner" })
    new GraftSparkTable(spark, t, ident.toString)
  }

  private def addTransform(b: PartitionSpec.Builder, t: XTransform): PartitionSpec.Builder = {
    def col: String = t.references().head.fieldNames().mkString(".")
    def intArg: Int = t.arguments().collectFirst {
      case l: XLiteral[_] => l.value().toString.toInt
    }.getOrElse(throw new IllegalArgumentException(s"${t.name()} needs an int arg"))
    t.name() match {
      case "identity" => b.identity(col)
      case "bucket" => b.bucket(col, intArg)
      case "truncate" => b.add(col, Transforms.TruncateT(intArg), s"${col}_trunc")
      case "years" | "year" => b.year(col)
      case "months" | "month" => b.month(col)
      case "days" | "day" => b.day(col)
      case "hours" | "hour" => b.hour(col)
      case other => throw new IllegalArgumentException(s"unsupported transform $other")
    }
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = GraftTable.load(spark, tableDir(ident))
    val su = SchemaUpdate(t)
    var props = Map.empty[String, String]
    var schemaChanged = false
    changes.foreach {
      case a: TableChange.AddColumn =>
        su.addColumn(a.fieldNames().mkString("."), a.dataType(), a.isNullable)
        schemaChanged = true
      case r: TableChange.RenameColumn =>
        su.renameColumn(r.fieldNames().mkString("."), r.newName()); schemaChanged = true
      case d: TableChange.DeleteColumn =>
        su.deleteColumn(d.fieldNames().mkString(".")); schemaChanged = true
      case u: TableChange.UpdateColumnType =>
        su.updateColumnType(u.fieldNames().mkString("."), u.newDataType()); schemaChanged = true
      case n: TableChange.UpdateColumnNullability =>
        if (n.nullable()) { su.makeColumnOptional(n.fieldNames().mkString(".")); schemaChanged = true }
        else throw new IllegalArgumentException(
          "SET NOT NULL is not supported: existing files may already hold " +
          "nulls in " + n.fieldNames().mkString(".") +
          " (use SchemaUpdate.requireColumn with allowIncompatibleChanges " +
          "from the library API to force it)")
      case p: TableChange.SetProperty => props += (p.property() -> p.value())
      case rm: TableChange.RemoveProperty => () // properties are additive here
      case other => throw new IllegalArgumentException(s"unsupported change $other")
    }
    if (schemaChanged) su.commit()
    if (props.nonEmpty) Commits.setProperties(t, props)
    new GraftSparkTable(spark, t, ident.toString)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = Paths.get(tableDir(ident))
    // only a REAL table directory may be dropped: an identifier that
    // resolves to a namespace (or arbitrary) directory must answer false,
    // not recursively delete everything under it
    if (!Files.exists(dir) || !GraftTable.exists(dir.toString)) false
    else {
      graft.format.LocalFileIO.deleteRecursive(dir.toString)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // RENAME TO targets may arrive catalog-qualified; strip our own name
    val target =
      if (newIdent.namespace().headOption.contains(catalogName))
        Identifier.of(newIdent.namespace().drop(1), newIdent.name())
      else newIdent
    Files.createDirectories(Paths.get(tableDir(target)).getParent)
    Files.move(Paths.get(tableDir(oldIdent)), Paths.get(tableDir(target)))
  }

  /** Drain a directory stream THEN close it — `Files.list`/`walk` hold an
    * open directory fd until closed; a long-lived session issuing
    * repeated SHOW TABLES would otherwise leak fds toward the ulimit. */
  private def listing[A](s: java.util.stream.Stream[java.nio.file.Path])(
      f: Iterator[java.nio.file.Path] => Iterator[A]): Seq[A] =
    try f(s.iterator().asScala).toSeq finally s.close()

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = Paths.get((warehouse +: namespace.toSeq).mkString("/"))
    if (!Files.exists(dir)) throw new NoSuchNamespaceException(namespace)
    listing(Files.list(dir))(_.filter(p => GraftTable.exists(p.toString))
      .map(p => Identifier.of(namespace, p.getFileName.toString))).toArray
  }

  // ---- functions: system.bucket / truncate / years / months / days / hours
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")) || namespace.isEmpty)
      GraftFunctions.names.map(n => Identifier.of(Array("system"), n)).toArray
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    try GraftFunctions.load(ident.name())
    catch { case _: NoSuchElementException =>
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }

  override def functionExists(ident: Identifier): Boolean =
    GraftFunctions.names.contains(ident.name()) ||
      ident.name().matches("truncate_[1-9]\\d*")

  // ---- procedures: system.rollback_to_snapshot / expire_snapshots / ...
  private lazy val procedures = {
    // a procedure's `table` arg is an identifier string relative to this
    // catalog ("db.t" or "t"); a leading catalog name is tolerated
    def locate(identStr: String): String = {
      val parts = identStr.split("\\.").toSeq.filter(_.nonEmpty)
      val rel = if (parts.sizeIs > 1 && parts.head == catalogName) parts.tail
                else parts
      (warehouse +: rel).mkString("/")
    }
    new GraftProcedures(identStr => {
      val dir = locate(identStr)
      if (!GraftTable.exists(dir))
        throw new NoSuchTableException(
          Identifier.of(Array.empty, identStr))
      GraftTable.load(spark, dir)
    }, locate)
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val ok = ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("system"))
    if (ok) procedures.byName.getOrElse(ident.name(),
      throw new IllegalArgumentException(
        s"procedure not found: $ident (have: ${procedures.names.mkString(", ")})"))
    else throw new IllegalArgumentException(s"procedure not found: $ident")
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")) || namespace.isEmpty)
      procedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else throw new NoSuchNamespaceException(namespace)

  // ---- namespaces = directories ----
  override def listNamespaces(): Array[Array[String]] = {
    val root = Paths.get(warehouse)
    if (!Files.exists(root)) return Array.empty
    listing(Files.list(root))(_.filter(Files.isDirectory(_))
      .filterNot(p => GraftTable.exists(p.toString))
      .map(p => Array(p.getFileName.toString))).toArray
  }
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    Files.exists(Paths.get((warehouse +: namespace.toSeq).mkString("/")))
  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }
  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit =
    Files.createDirectories(Paths.get((warehouse +: namespace.toSeq).mkString("/")))
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = ()
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = Paths.get((warehouse +: namespace.toSeq).mkString("/"))
    if (!Files.exists(dir)) false
    else {
      // SupportsNamespaces contract: without CASCADE a non-empty
      // namespace must be REFUSED, not silently destroyed with every
      // table in it
      if (!cascade) {
        val s = Files.list(dir)
        val nonEmpty = try s.iterator().hasNext finally s.close()
        if (nonEmpty) throw new org.apache.spark.sql.catalyst.analysis
          .NonEmptyNamespaceException(
            namespace, s"namespace ${namespace.mkString(".")} is not empty")
      }
      graft.format.LocalFileIO.deleteRecursive(dir.toString)
      true
    }
  }
}

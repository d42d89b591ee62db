package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** The shell of every `ATTACH` catalog — the port of the reference's one
  * storage-extension mechanism behind `ATTACH ... (TYPE odata | sac |
  * business_central | sharepoint_lists | excel_workbook)`
  * (`erpl_web_extension.cpp:406-414,628-635,735-742,795-819`).
  *
  *  - One fixed `main` namespace. Any other namespace is a
  *    `NoSuchNamespaceException` in `listTables` and `loadTable`.
  *  - Namespaces and tables belong to the remote service, so the seven DDL
  *    calls throw `UnsupportedOperationException` naming the catalog kind.
  *  - `loadTable` resolves a name once per catalog instance: Spark loads a
  *    table several times per statement, and a later statement sends no
  *    resolution request. A failed resolution is not kept, and
  *    `REFRESH TABLE` ([[invalidateTable]]) resolves again.
  *
  * A catalog supplies its namespace's metadata entry, [[tableNames]] and
  * [[load]]. A table exists exactly when [[load]] finds it: `tableExists` is
  * Spark's default, a `loadTable` that answers `NoSuchTableException`. */
abstract class AttachedCatalog(kind: String) extends TableCatalog with SupportsNamespaces {
  import AttachedCatalog.Main

  private var catalogName: String = _

  /** The catalog's options, keys lower-cased. */
  protected var options: Map[String, String] = Map.empty

  /** The value of option `key`; without it the catalog fails, saying what
    * the option holds. */
  protected def required(key: String, holds: String): String =
    options.getOrElse(key, throw new IllegalArgumentException(
      s"$kind catalog requires option '$key' ($holds)"))

  /** The one entry of the `main` namespace's metadata. */
  protected def namespaceMetadata: (String, String)

  /** The tables `SHOW TABLES` lists. */
  protected def tableNames: Seq[String]

  /** Resolves table `name`, or throws [[noSuchTable]]. */
  protected def load(name: String): Table

  protected def noSuchTable(name: String): Nothing =
    throw new NoSuchTableException(Identifier.of(Main, name))

  private val loaded = new ConcurrentHashMap[String, Table]()

  override def initialize(name: String, opts: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    options = opts.asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
  }
  override def name(): String = catalogName

  override def listNamespaces(): Array[Array[String]] = Array(Main)
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.sameElements(Main)
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    requireMain(namespace)
    Map(namespaceMetadata).asJava
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireMain(namespace)
    tableNames.map(Identifier.of(Main, _)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    requireMain(ident.namespace)
    loaded.computeIfAbsent(ident.name, n => load(n))
  }

  override def invalidateTable(ident: Identifier): Unit = loaded.remove(ident.name)

  private def requireMain(namespace: Array[String]): Unit =
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"$kind catalog does not support $what: its namespace and tables are the service's own")

  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit =
    unsupported("CREATE NAMESPACE")
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    unsupported("ALTER NAMESPACE")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    unsupported("DROP NAMESPACE")
  override def createTable(ident: Identifier, schema: StructType, partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    unsupported("CREATE TABLE")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    unsupported("ALTER TABLE")
  override def dropTable(ident: Identifier): Boolean = unsupported("DROP TABLE")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    unsupported("RENAME TABLE")
}

object AttachedCatalog {
  private val Main = Array("main")
}

/** A writable table offered for reading only: the SAC and Business Central
  * storages reject every non-read access (`business_central_storage.cpp:92-94`),
  * so their entity sets lose the writes the shared OData table has. */
final class ReadOnlyTable(inner: SupportsRead, tableName: String) extends SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = inner.schema()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    inner.newScanBuilder(opts)
}

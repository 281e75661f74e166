package graft.sources

import java.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A V2 catalog over a tape root: every recorded stream is a
  * SQL-addressable table.
  *
  * {{{
  * spark.conf:
  *   spark.sql.catalog.tapes      = graft.sources.TapeCatalog
  *   spark.sql.catalog.tapes.root = /data/tapes        (or s3a://…)
  * SQL:
  *   SHOW TABLES IN tapes.streams
  *   SELECT count(*) FROM tapes.streams.`my-stream` WHERE dt = '2024-01-05'
  * }}}
  *
  * Read-only by design: tables are created by recording (TapeWriter /
  * the ingest write face), not DDL — mirrorring the reference, where a
  * "table" exists because a recorder wrote that stream's prefix.
  */
class TapeCatalog extends CatalogPlugin with TableCatalog
  with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.root"))
  }

  override def name(): String = catalogName

  private val Namespace = Array("streams")

  private def fs: FileSystem =
    FileSystem.get(new java.net.URI(root),
      org.apache.spark.sql.SparkSession.active
        .sparkContext.hadoopConfiguration)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespace.sameElements(Namespace))
      throw new NoSuchNamespaceException(namespace)
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return Array.empty
    fs.listStatus(rootPath)
      .filter(_.isDirectory)
      .map(st => Identifier.of(Namespace, st.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val path = new Path(new Path(root), ident.name())
    if (!ident.namespace().sameElements(Namespace) || !fs.exists(path))
      throw new NoSuchTableException(ident)
    new TapeTable(Seq(path.toString))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "tapes are created by recording, not DDL")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("tape tables are immutable")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "drop tapes through retention jobs, not DDL")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("tape tables are immutable")

  // SupportsNamespaces: a single fixed namespace `streams`
  override def listNamespaces(): Array[Array[String]] = Array(Namespace)
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) Array(Namespace) else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.sameElements(Namespace)
  override def loadNamespaceMetadata(namespace: Array[String])
  : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("fixed namespace 'streams'")
  override def alterNamespace(namespace: Array[String],
                              changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException("fixed namespace 'streams'")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("fixed namespace 'streams'")
}

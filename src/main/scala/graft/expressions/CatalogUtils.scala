package org.apache.spark.sql.graft

import java.net.URI

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** Catalog and partition-path helpers that need Spark internals, for
  * `ParquetSink`'s published index versions.
  *
  * [[escapePathName]] / [[unescapePathName]] — the `%XX` escaping Spark's
  * writers apply to hive partition directory names; version manifests
  * store partition values in the same form. If `ExternalCatalogUtils`
  * moves, revert to a local copy of its loop (`%02X` for each character
  * of its `charToEscape` set).
  *
  * [[partitions]] / [[location]] — a table's partition specs with their
  * locations, and its root, from `sessionState.catalog`; both throw when
  * the table does not exist. If that changes, revert to public SQL:
  * `SHOW PARTITIONS`, then the `Location` row of `DESCRIBE TABLE
  * EXTENDED … PARTITION (…)` per partition, and of `DESCRIBE TABLE
  * EXTENDED` for the root.
  */
object CatalogUtils {
  def escapePathName(v: String): String = ExternalCatalogUtils.escapePathName(v)

  def unescapePathName(v: String): String = ExternalCatalogUtils.unescapePathName(v)

  def partitions(spark: SparkSession, table: String): Seq[(Map[String, String], URI)] =
    spark.sessionState.catalog.listPartitions(TableIdentifier(table))
      .map(p => p.spec -> p.location)

  def location(spark: SparkSession, table: String): URI =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).location
}

package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Bridge to the classic `Dataset.ofRows` (`private[sql]`): a DataFrame
  * over an already-built DSv2 `Table` with the given scan options — no
  * provider lookup, so no re-parse of the table's identifying options.
  * Lives under `org.apache.spark.sql` purely for access; contains no
  * Spark code. */
object DatasetBridge {
  def scan(spark: SparkSession, table: Table,
           options: Map[String, String]): DataFrame = spark match {
    case c: org.apache.spark.sql.classic.SparkSession =>
      org.apache.spark.sql.classic.Dataset.ofRows(c, DataSourceV2Relation.create(
        table, None, None, new CaseInsensitiveStringMap(options.asJava)))
    case other => throw new UnsupportedOperationException(
      s"graft store reads need a classic SparkSession, got ${other.getClass.getName}")
  }
}

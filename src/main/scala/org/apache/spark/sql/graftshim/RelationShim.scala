package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataFrame over a DSv2 `Table` INSTANCE (not a provider name), so a
  * caller can read through a table object it already holds — and keep
  * that object's state. `Dataset.ofRows` is `private[sql]`.
  */
object RelationShim {
  def dataFrame(spark: SparkSession, table: Table,
                options: Map[String, String] = Map.empty): DataFrame = {
    import scala.jdk.CollectionConverters._
    Dataset.ofRows(spark.asInstanceOf[ClassicSession],
      DataSourceV2Relation.create(table, None, None,
        new CaseInsensitiveStringMap(options.asJava)))
  }
}

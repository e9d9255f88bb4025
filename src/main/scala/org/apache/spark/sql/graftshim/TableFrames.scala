package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** A DataFrame over a DSv2 table that no catalog names: Spark's
  * `Dataset.ofRows`, which builds a DataFrame from a logical plan, is
  * package-private to `org.apache.spark.sql`. */
object TableFrames {
  def of(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))
}

package org.apache.spark.sql.execution.datasources.v2

import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.connector.catalog.Table

/** Build a DataFrame over a DSv2 [[Table]] that no catalog names.
  *
  * Library reads (GraftTable.newScan().toDF()) materialize through a
  * catalog-less graft relation; `Dataset.ofRows` is the entry point Spark
  * keeps package-private. The plan is an ordinary [[DataSourceV2Relation]],
  * so filter, column and limit pushdown into the table's scan builder run
  * exactly as they do for SQL over the catalog. */
object GraftV2Shims {

  def relationDF(spark: org.apache.spark.sql.SparkSession, table: Table): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession],
      DataSourceV2Relation.create(table, None, None))
}

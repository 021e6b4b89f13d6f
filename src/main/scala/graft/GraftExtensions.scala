package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.SqlFunctions

/** Library entry point for `spark.sql.extensions=graft.GraftExtensions`:
  * injects every row of [[SqlFunctions.table]] into each session built
  * with the config, so SQL users get all of graft's functions without
  * touching the Scala API. A running session gets the same functions
  * from `graft.api.Graft.install(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    for ((name, cls, build) <- SqlFunctions.table)
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
}

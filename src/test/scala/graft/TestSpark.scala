package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM — the engine session shape
  * (`GraftSession`, extensions included) at four cores. */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.start(GraftSession.cli("local[4]", 4).appName("graft-tests"))
}

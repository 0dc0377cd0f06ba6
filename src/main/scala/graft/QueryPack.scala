package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator pack: its queries by key, and for each key SQL can
  * express, the DuckDB oracle twin with identical column aliases. */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.transform

import graft.sources.Tables

/** What the batch inventory's modules share: the query shape, the module
  * contract [[graft.SparkEntry]] reads, and the corpus loaders.
  */
package object queries {

  /** A batch query: a session and a testdata dir in, its result out. */
  type Q = (SparkSession, String) => DataFrame

  /** One module of the inventory: its queries, and one DuckDB-runnable oracle
    * per query over the same parquet tables.
    */
  trait QueryModule {
    def queries: Map[String, Q]
    def oracles: Map[String, String]
  }

  private[queries] def docs(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "documents")
  private[queries] def embs(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "embeddings")
  private[queries] def events(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "events")
  private[queries] def customer(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "customer")

  /** An embedding's elements as doubles, for [[graft.functions.prom.vec_dot]],
    * whose left fold matches the DuckDB oracles' fold bit for bit.
    */
  private[queries] def toDouble(a: Column): Column = transform(a, x => x.cast("double"))
}

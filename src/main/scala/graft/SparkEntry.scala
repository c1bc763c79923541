package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every implemented query, one per operator from SURVEY.md §2. */
  val allQueries: Seq[Q] =
    Relational.all ++ Joins.all ++ SetOps.all ++ Windows.all ++
      Patterns.all ++ TrainingData.all ++ Sessions.all ++ Extended.all ++
      Extended2.all ++ Extended3.all ++ Extended4.all ++ Extended5.all ++
      Extended6.all ++ Extended7.all ++ Extended8.all ++ Extended9.all ++
      Extended10.all ++ Extended11.all ++ Extended12.all ++
      Extended13.all ++ Extended14.all ++ Extended15.all ++
      Extended16.all ++ Extended17.all ++ Extended18.all ++
      Extended19.all ++ Extended20.all ++ Extended21.all ++
      Extended22.all ++ Extended23.all ++ Extended24.all ++
      Extended25.all ++ Extended26.all ++ Extended27.all ++
      Extended28.all ++ Extended29.all ++ Extended30.all ++
      Extended31.all ++ Extended32.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1_agg.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (every query declares one). */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}

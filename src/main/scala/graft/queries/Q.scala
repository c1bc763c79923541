package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark implementation plus its DuckDB oracle
  * over the same parquet tables. Colocating the two keeps output
  * column names in lockstep — the driver's compare sorts columns by
  * name before hashing, so every computed column must carry the same
  * alias on both sides.
  */
final case class Q(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

object Q {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, Some(oracle), run)
}

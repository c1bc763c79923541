package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local session per suite, UTC, small shuffle
  * width (mirrors the reference's own lab setting,
  * `Caching.ipynb:92`), the engine's `file:` filesystem
  * (`Sessions.localFs`, so every sink and streaming spec runs on what
  * the mains run), plus a chispa-style DataFrame equality assert
  * (reference test pattern, `3-spark-fundamentals/src/tests/`).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** assert_df_equality equivalent: schema names/types compare
    * (nullability ignored) + sorted row compare.
    */
  def assertDfEquality(actual: DataFrame, expected: DataFrame,
      ignoreOrder: Boolean = true): Unit = {
    import org.apache.spark.sql.types._
    // chispa's ignore_nullable=True: nullability is not part of the
    // semantic contract (collect_list vs literal arrays disagree on it)
    def denull(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = denull(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(denull(a.elementType), true)
      case m: MapType => MapType(denull(m.keyType), denull(m.valueType), true)
      case other => other
    }
    val aSchema = actual.schema.map(f => (f.name, denull(f.dataType)))
    val eSchema = expected.schema.map(f => (f.name, denull(f.dataType)))
    assert(aSchema == eSchema,
      s"schema mismatch:\n  actual:   $aSchema\n  expected: $eSchema")
    def rows(df: DataFrame): Seq[Row] = {
      val r = df.collect().toSeq
      if (ignoreOrder) r.sortBy(_.toString) else r
    }
    val (a, e) = (rows(actual), rows(expected))
    assert(a == e,
      s"rows mismatch:\n  actual:   ${a.take(20)}\n  expected: ${e.take(20)}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        "/root/repo/target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .config(graft.core.Sessions.localFs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

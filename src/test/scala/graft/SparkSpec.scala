package graft

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local session per suite, small shuffle
  * width (mirrors the reference's own lab setting,
  * `Caching.ipynb:92`), the settings every engine session carries
  * (`Sessions.common`: UTC, the engine's `file:` filesystem, one
  * executor class loader for every session, so every sink and
  * streaming spec runs on what the mains run), the mains' trimmed
  * Hadoop configuration (`Sessions.trimHadoopConf`) and codegen cache
  * size (`Sessions.sizeCodegenCache`), plus a chispa-style
  * DataFrame equality assert
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

  /** The checkout under test: sbt forks the test JVM in the project's
    * base directory, so specs write under this checkout's `target/`
    * and read its ledgers, whichever copy of the repo runs them.
    */
  val root: Path = Paths.get("").toAbsolutePath
  val target: Path = root.resolve("target")

  lazy val session: SparkSession = build("local[4]", "graft-test")

  /** A real two-executor cluster on one host, for specs that lose an
    * executor: `local-cluster[2,1,1024]` starts a standalone master,
    * two workers and one 1-core, 1 GiB executor JVM per worker. The
    * workers launch executors from `$SPARK_HOME/jars`, and the executors
    * load the engine from this checkout's compiled classes. The
    * barrier's reliable checkpoints go under `checkpointDir` and are
    * removed once their plans are garbage-collected.
    */
  def cluster(checkpointDir: String): SparkSession =
    build("local-cluster[2,1,1024]", "graft-cluster-test",
      "spark.executor.extraClassPath" ->
        target.resolve("scala-2.13/classes").toString,
      "spark.checkpoint.dir" -> checkpointDir,
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

  private def build(master: String, app: String,
      extra: (String, String)*): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName(app)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        target.resolve("spark-warehouse").toString)
      .config(graft.core.Sessions.common)
      .config(extra.toMap)
      .getOrCreate()
    graft.core.Sessions.trimHadoopConf(s)
    graft.core.Sessions.sizeCodegenCache(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Similarity

class VectorDotSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = {
    val rng = new scala.util.Random(11)
    (0 until 200).map(_ => (
      Seq.fill(32)(rng.nextGaussian().toFloat),
      Seq.fill(32)(rng.nextGaussian().toFloat))).toDF("a", "b")
  }

  test("codegen result is bit-identical to the interpreted fold") {
    val bad = vecs.select(
      VectorDot($"a", $"b").as("native"),
      Similarity.dotFold($"a", $"b").as("fold"))
      .filter($"native" =!= $"fold")
    assert(bad.count() == 0)
  }

  test("interpreted eval path (explain codegen off) matches too") {
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val bad = vecs.select(
        VectorDot($"a", $"b").as("native"),
        Similarity.dotFold($"a", $"b").as("fold"))
        .filter($"native" =!= $"fold")
      assert(bad.count() == 0)
    }
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("nulls and length mismatches are handled") {
    val df = Seq(
      (Some(Seq(1f, 2f, 3f)), Some(Seq(4f, 5f))),     // prefix only
      (None, Some(Seq(1f)))).toDF("a", "b")            // null array
    val got = df.select(VectorDot($"a", $"b")).collect()
    assert(got(0).getDouble(0) == 1f * 4f + 2f * 5f)
    assert(got(1).isNullAt(0))
  }

  test("runs inside whole-stage codegen") {
    // parquet roundtrip: a local relation would be pre-computed by
    // ConvertToLocalRelation and never reach codegen
    val path = SparkSpec.target.resolve("tmp-vecdot").toString
    vecs.write.mode("overwrite").parquet(path)
    val plan = spark.read.parquet(path).select(VectorDot($"a", $"b"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators inside a WholeStageCodegen span
    assert(plan.contains("*(1) Project [vector_dot"), plan)
  }
}

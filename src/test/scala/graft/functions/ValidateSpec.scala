package graft.functions

import graft.SparkSpec

class ValidateSpec extends SparkSpec {
  import spark.implicits._

  private val allowed = Seq("bad", "average", "good", "star")
  private lazy val df =
    Seq("good", "star", "legendary", null).toDF("scoring_class")

  test("quarantine mode nulls violations and flags them") {
    val got = df.select(
      Validate.enumOrNull($"scoring_class", allowed).as("v"),
      Validate.enumViolation($"scoring_class", allowed).as("bad"))
      .collect()
    assert(got.map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("good"), Some("star"), None, None))
    assert(got.map(_.getBoolean(1)).toSeq ==
      Seq(false, false, true, false)) // NULL is absent, not a violation
  }

  test("observed metrics count violations in the SAME pass as the " +
    "consuming action") {
    val rows = Seq(("good", 10L), ("star", 20L), ("legendary", -5L),
      ("oops", 7L), (null, 1L))
    val (observedDf, obs) = Validate.observed(
      rows.toDF("scoring_class", "cents"), "health",
      Seq(
        "bad_enum" -> Validate.enumViolation($"scoring_class", allowed),
        "neg_cents" -> ($"cents" < 0)))
    // the action IS the metric collection pass — here a count, in a
    // pipeline the sink write
    assert(observedDf.count() == 5)
    val m = obs.get
    assert(m("n_rows") == 5L, s"$m")
    assert(m("bad_enum") == 2L, s"two out-of-domain values: $m")
    assert(m("neg_cents") == 1L, s"$m")
  }

  test("observed metrics report 0, not NULL, over zero rows") {
    // sum() over an empty frame is NULL — the helper must coalesce so
    // an empty batch reads as healthy, not as a broken getAs[Long]
    val (odf, obs) = Validate.observed(
      Seq(("x", 1L)).toDF("scoring_class", "cents")
        .filter(org.apache.spark.sql.functions.lit(false)),
      "empty", Seq("bad" -> Validate.enumViolation($"scoring_class", allowed)))
    assert(odf.count() == 0)
    val m = obs.get
    assert(m("n_rows") == 0L && m("bad") == 0L, s"$m")
  }
}

package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkSpec

class JsonSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType.fromDDL(
    "id BIGINT, name STRING, tags ARRAY<STRING>, " +
      "meta STRUCT<lang: STRING, n: INT>")

  test("write → explicit-schema read round-trips nested values") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_json").toString
    val df = Seq(
      (1L, "a", Seq("x", "y"), ("en", 3)),
      (2L, null.asInstanceOf[String], Seq.empty[String], ("de", 0)))
      .toDF("id", "name", "tags", "meta")
      .withColumn("meta", $"meta".cast("struct<lang:string,n:int>"))
    Json.write(df, dir)
    val back = Json.read(spark, dir, schema).orderBy($"id")
    assert(back.as[(Long, Option[String], Seq[String], (String, Int))]
      .collect().toSeq == Seq(
        (1L, Some("a"), Seq("x", "y"), ("en", 3)),
        (2L, None, Seq.empty, ("de", 0))))
  }

  test("FAILFAST read rejects malformed lines; permissive quarantines") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_json_bad").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-0.json"),
      """{"id": 1, "name": "ok", "tags": [], "meta": {"lang":"en","n":1}}
        |{"id": BROKEN not json
        |""".stripMargin)
    intercept[Exception] {
      Json.read(spark, dir, schema).collect()
    }
    // control: the same schema read PERMISSIVE parses the good line
    // and routes only the malformed one to `_corrupt_record`, so the
    // FAILFAST failure above is that line's. Spark disallows querying
    // ONLY _corrupt_record straight off the file (the parser would
    // have nothing to fail on) — materialize the parsed result first,
    // as its own error message instructs
    val got = spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    try {
      assert(got.count() == 2)
      assert(got.filter($"_corrupt_record".isNotNull).count() == 1,
        "the malformed line must land in the dead-letter column")
      assert(got.filter($"id" === 1 && $"name" === "ok").count() == 1)
    } finally got.unpersist()
  }

  test("inferred read widens types from the sample (why we pin schemas)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_json_inf").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-0.json"),
      "{\"v\": 1}\n{\"v\": 2.5}\n")
    val inferred = Json.readInferred(spark, dir)
    assert(inferred.schema("v").dataType ==
      org.apache.spark.sql.types.DoubleType,
      "one decimal flips the whole column to double — schema drift")
  }
}

package graft

/** [[Bench.run]] end to end on the test session: the snapshot it
  * writes parses with the probed query's median and layers, and the
  * compact stdout line it returns fits the 1,900-byte budget and decodes
  * to that same median.
  */
class BenchSpec extends SparkSpec {

  test("run writes the snapshot and returns its compact line") {
    val path = java.nio.file.Files.createTempFile("bench-full", ".json")
    try {
      val line = Bench.run(spark, sfDir, Seq("q1_agg"), path.toString)
      import spark.implicits._
      def parse(json: String) = {
        val df = spark.read.json(Seq(json).toDS())
        assert(!df.columns.contains("_corrupt_record"), json.take(300))
        df.head()
      }
      val doc = parse(
        new String(java.nio.file.Files.readAllBytes(path), "UTF-8"))
      val qs = doc.getAs[org.apache.spark.sql.Row]("queries")
      assert(qs.schema.fieldNames.toSeq == Seq("q1_agg"))
      val median = qs.getAs[Double]("q1_agg")
      assert(median > 0, s"q1_agg median $median")
      assert(doc.getAs[Double]("value") == median)
      assert(doc.getAs[scala.collection.Seq[String]]("errors").isEmpty)
      assert(doc.getAs[String]("sf") == sfDir)
      val layer = doc.getAs[org.apache.spark.sql.Row]("layers")
        .getAs[org.apache.spark.sql.Row]("q1_agg")
      assert(layer.getAs[Long]("jobs") > 0 &&
        layer.getAs[Long]("tasks") >= layer.getAs[Long]("stages"), layer)

      assert(line.getBytes("UTF-8").length <= 1900, line)
      val compact = parse(line)
      assert(compact.getAs[Long]("nq") == 1L)
      assert(compact.getAs[String]("full") == path.toString)
      assert(compact.getAs[scala.collection.Seq[Long]]("cs") ==
        Seq(math.round(median * 100)), line)
    } finally java.nio.file.Files.deleteIfExists(path)
  }
}

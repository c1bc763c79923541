package graft

/** [[Probe]] end to end on the test session: `anchor` writes a
  * parseable [[BenchFormat.fullJson]] snapshot carrying the probed
  * query's median, and `plan` prints a physical plan.
  */
class ProbeSpec extends SparkSpec {

  test("anchor writes a snapshot with the one probed query's median") {
    val out = java.nio.file.Files.createTempFile("probe-anchor", ".json")
    try {
      Probe.run(spark, "anchor", sfDir, Seq("q1_agg"), Some(out.toString))
      import spark.implicits._
      val doc = spark.read.json(Seq(
        new String(java.nio.file.Files.readAllBytes(out), "UTF-8")).toDS())
      assert(!doc.columns.contains("_corrupt_record"))
      val row = doc.head()
      val qs = row.getAs[org.apache.spark.sql.Row]("queries")
      assert(qs.schema.fieldNames.toSeq == Seq("q1_agg"))
      val median = qs.getAs[Double]("q1_agg")
      assert(median > 0, s"q1_agg median $median")
      assert(row.getAs[Double]("value") == median)
      assert(row.getAs[scala.collection.Seq[String]]("errors").isEmpty)
      assert(row.getAs[String]("sf") == sfDir)
      val layer = row.getAs[org.apache.spark.sql.Row]("layers")
        .getAs[org.apache.spark.sql.Row]("q1_agg")
      assert(layer.getAs[Long]("jobs") > 0 &&
        layer.getAs[Long]("tasks") >= layer.getAs[Long]("stages"), layer)
    } finally java.nio.file.Files.deleteIfExists(out)
  }

  test("prof prints the stage lines, the stage-time sum and the codegen " +
    "compilations of the timed passes") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf) {
      Probe.run(spark, "prof", sfDir, Seq("q1_agg"), None)
    }
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    val text = lines.mkString("\n")
    assert(lines.exists(_.matches("""\[prof\] q1_agg median \d+\.\d{3} s""")),
      text)
    val sum = ("""\[prof\] stage-time sum \d+\.\d{3} s over (\d+) stages, """ +
      """(\d+) tasks \(across \d+ passes\)""").r
    val (stages, tasks) = lines.collectFirst {
      case sum(s, t) => (s.toInt, t.toInt)
    }.getOrElse(fail(s"no stage-time sum line:\n$text"))
    assert(stages > 0 && tasks >= stages, text)
    assert(lines.exists(_.matches("""\[prof\] codegen compilations \d+, """ +
      """executor deserialize \d+\.\d{3} s \(summed over tasks\)""")), text)
    val stageLines = lines.filter(_.matches(
      """\[prof\] +\d+ ms +\d+ tasks  maxT= *\d+ medT= *\d+ .*#\d+ .*"""))
    assert(stageLines.size == math.min(stages, 40), text)
  }

  test("plan prints the formatted physical plan") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf) {
      Probe.run(spark, "plan", sfDir, Seq("q1_agg"), None)
    }
    val text = buf.toString("UTF-8")
    assert(text.contains("== Physical Plan =="), text.take(500))
  }

  test("an unknown query or mode fails before any work runs") {
    intercept[IllegalArgumentException](
      Probe.run(spark, "time", sfDir, Seq("q0_no_such_query"), None))
    intercept[IllegalArgumentException](
      Probe.run(spark, "bogus", sfDir, Seq("q1_agg"), None))
  }
}

package graft

/** Pins the driver-capture contract on [[BenchFormat]]: the stdout
  * line stays under the 1900-byte budget at (and well past) the
  * current query-surface size, parses as JSON, and its centisecond
  * array decodes back to every query's median — the round-9
  * `BENCH_r09.json "parsed": null` regression, made un-reintroducible.
  */
class BenchFormatSpec extends SparkSpec {

  private def fakeResults(n: Int): Seq[(String, Double)] =
    (1 to n).map { i =>
      // realistic time spread: the real surface is mostly sub-2 s
      // medians with a handful of multi-second tails
      (f"q${i}%03d_some_operator_name_$i",
        if (i % 40 == 0) 7.413 else (i % 20) * 0.11 + 0.251)
    }.sortBy(_._1)

  private def parse(line: String): Map[String, Any] = {
    import spark.implicits._
    val df = spark.read.json(Seq(line).toDS)
    assert(!df.columns.contains("_corrupt_record"),
      s"line is not valid JSON: ${line.take(200)}")
    df.columns.map(c => c -> df.head.getAs[Any](c)).toMap
  }

  test("the REAL bench surface fits the budget with headroom (names " +
    "from SparkEntry, worst-case 2-digit-second medians)") {
    val rs = SparkEntry.queries.keys.toSeq.sorted
      .map(_ -> 12.345) // 4-digit centiseconds for every single query
    val line = BenchFormat.compactLine(rs, rs.map(_._2).sum, 3, 1.234,
      2.345, Nil, "/root/testdata/sf0.1", "/root/repo/BENCH_FULL.json")
    assert(line.getBytes("UTF-8").length <= 1900,
      s"real surface compact line is ${line.length} bytes — the cs " +
        "array no longer fits; shrink the encoding before the driver " +
        "artifact regresses to parsed:null")
    assert(parse(line)("cs").asInstanceOf[scala.collection.Seq[Long]]
      .size == rs.size)
  }

  test("compact line stays under budget and covers every query at " +
    "330-query scale") {
    val rs = fakeResults(330)
    val errors = Seq("q999_boom")
    val line = BenchFormat.compactLine(rs, rs.map(_._2).sum, 3, 1.234,
      2.345, errors, "/root/testdata/sf0.1", "/root/repo/BENCH_FULL.json")
    assert(line.getBytes("UTF-8").length <= 1900,
      s"compact line is ${line.length} bytes")
    assert(!line.contains("\n"))
    val doc = parse(line)
    assert(doc("nq") == 330L)
    val cs = doc("cs").asInstanceOf[scala.collection.Seq[Long]]
    assert(cs.size == 330, "cs array must carry every query")
    // decode round-trip: centiseconds vs the source medians
    rs.map(_._2).zip(cs).foreach { case (sec, c) =>
      assert(math.abs(sec * 100 - c) <= 0.5,
        s"cs decode drifted: $sec vs $c")
    }
    assert(doc("metric") == "total" && doc("unit") == "sec")
    assert(doc("n_errors") == 1L)
  }

  test("errored queries ride as -1 sentinels, huge error lists cap " +
    "at 8 names") {
    val rs = (fakeResults(50) :+ ("q999_zzz_boom" -> -1.0)).sortBy(_._1)
    val errs = (1 to 30).map(i => s"q${i}_err")
    val line = BenchFormat.compactLine(rs, 10.0, 3, 1.0, 2.0, errs,
      "sf", "full.json")
    val doc = parse(line)
    val cs = doc("cs").asInstanceOf[scala.collection.Seq[Long]]
    assert(cs.count(_ == -1L) == 1)
    assert(doc("n_errors") == 30L)
    assert(doc("errors").asInstanceOf[scala.collection.Seq[String]]
      .size == 8)
  }

  test("a pathological surface degrades to slowest-20, never " +
    "truncates") {
    // 4000 queries would overflow even centiseconds — the line must
    // fall back to the slowest-20 map and STILL fit the budget
    val rs = fakeResults(4000)
    val line = BenchFormat.compactLine(rs, 99.0, 3, 1.0, 2.0, Nil,
      "sf", "full.json")
    assert(line.getBytes("UTF-8").length <= 1900)
    val doc = parse(line)
    assert(!doc.contains("cs") || doc("cs") == null)
    assert(doc.contains("slow"))
  }

  test("full payload carries the exact name -> median map") {
    val rs = fakeResults(10)
    val full = BenchFormat.fullJson(rs, rs.map(_._2).sum, 3, 1.0, 2.0,
      Nil, "sfX", Nil)
    val doc = parse(full)
    val qs = doc("queries").asInstanceOf[org.apache.spark.sql.Row]
    rs.foreach { case (name, sec) =>
      assert(math.abs(qs.getAs[Double](name) - sec) < 0.001)
    }
  }

  test("full payload carries a layers object per label") {
    val stage = graft.core.Trace.Stage(1, "s", "", 10L, 3, 0L, 0L, 0L, 0L,
      1500000000L, Seq(1L, 2L, 3L), 0L, 0L)
    val job = graft.core.Trace.Job(0, None, Seq("s"))
    val layers = Seq(
      "q1" -> graft.core.Trace.Record(Seq(job), Seq(stage, stage), 4L),
      "q2" -> graft.core.Trace.Record.empty)
    val doc = parse(BenchFormat.fullJson(Seq("q1" -> 1.0, "q2" -> 2.0), 3.0,
      3, 1.0, 2.0, Nil, "sfX", layers))
    // additions only: every key older snapshots carry is still there
    assert(doc.keySet == Set("metric", "value", "unit", "runs", "calib",
      "queries", "errors", "sf", "layers"))
    val ls = doc("layers").asInstanceOf[org.apache.spark.sql.Row]
    val q1 = ls.getAs[org.apache.spark.sql.Row]("q1")
    assert(q1.getAs[Long]("jobs") == 1L && q1.getAs[Long]("stages") == 2L)
    assert(q1.getAs[Long]("tasks") == 6L && q1.getAs[Double]("cpu_s") == 3.0)
    val q2 = ls.getAs[org.apache.spark.sql.Row]("q2")
    assert(q2.getAs[Long]("jobs") == 0L && q2.getAs[Long]("stages") == 0L)
  }
}

package graft

/** [[Probe]] end to end on the test session: `prof` prints the timed
  * passes and the stage report, `plan` a physical plan, and
  * `exchanges` the committed EXCHANGES.txt rows.
  */
class ProbeSpec extends SparkSpec {

  private def out(f: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(f)
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("prof prints the stage lines, the stage-time sum and the codegen " +
    "compilations of the timed passes") {
    val lines = out(Probe.run(spark, "prof", sfDir, Seq("q1_agg")))
    val text = lines.mkString("\n")
    assert(lines.exists(_.matches("""\[prof\] q1_agg median \d+\.\d{3} s""")),
      text)
    assert(lines.exists(_.matches(
      """\[prof\] q1_agg passes \d+\.\d{3}( \d+\.\d{3})*""")), text)
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
    val text = out(Probe.run(spark, "plan", sfDir, Seq("q1_agg")))
      .mkString("\n")
    assert(text.contains("== Physical Plan =="), text.take(500))
  }

  test("exchanges prints the named queries' EXCHANGES.txt rows") {
    val names = Seq("q1_agg", "q23_frames")
    val ledger = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(
        SparkSpec.root.resolve("EXCHANGES.txt"))).asScala
    val rows = names.map(n => ledger.find(_.startsWith(n + " "))
      .getOrElse(fail(s"$n has no EXCHANGES.txt row")))
    assert(out(Probe.run(spark, "exchanges", sfDir, names)) == rows)
  }

  test("an unknown query or mode fails before any work runs") {
    intercept[IllegalArgumentException](
      Probe.run(spark, "prof", sfDir, Seq("q0_no_such_query")))
    intercept[IllegalArgumentException](
      Probe.run(spark, "bogus", sfDir, Seq("q1_agg")))
  }
}

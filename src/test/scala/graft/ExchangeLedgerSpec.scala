package graft

/** Exchange-count regression pin: every query's pre-AQE physical plan
  * must carry exactly the shuffle/broadcast exchange counts recorded in
  * the checked-in EXCHANGES.txt ledger. A silent +1 shuffle (lost
  * bucketing, dropped broadcast hint, an optimizer barrier from a
  * refactor) is invisible to the correctness gate and only shows up as
  * a bench regression rounds later — this turns it into a named test
  * failure the same `sbt test`. After a DELIBERATE plan change, review
  * the diff and regenerate:
  * `sbt "runMain graft.PlanScan exchanges /root/testdata/sf0.001 EXCHANGES.txt"`.
  *
  * The second test is the SCALE argument made executable: the same
  * ledger regenerated at sf0.1 (100× the rows) must be IDENTICAL —
  * no size-dependent broadcast flips, no AQE-threshold plan morphs,
  * no join-strategy demotions. Size-stable plans at two orders of
  * magnitude are the evidence that the sf0.1 plan is the plan you'd
  * get (and want) at cluster scale.
  */
class ExchangeLedgerSpec extends SparkSpec {

  private def toMap(lines: Seq[String]): Map[String, String] =
    lines.filter(_.nonEmpty)
      .map { l => val p = l.split(" ", 2); p(0) -> p(1) }.toMap

  private lazy val atSf0001: Seq[(String, String)] =
    PlanScan.exchangeLedgerLines(spark, sfDir)
      .map { l => val p = l.split(" ", 2); p(0) -> p(1) }

  test("every query's exchange counts match the checked-in ledger") {
    val path = SparkSpec.root.resolve("EXCHANGES.txt")
    assert(java.nio.file.Files.exists(path),
      "EXCHANGES.txt missing — generate it with " +
        "`runMain graft.PlanScan exchanges /root/testdata/sf0.001 EXCHANGES.txt`")
    val recorded = toMap(scala.jdk.CollectionConverters
      .ListHasAsScala(java.nio.file.Files.readAllLines(path)).asScala
      .toSeq)
    val names = atSf0001.map(_._1)
    val missing = names.filterNot(recorded.contains)
    val removed = (recorded.keySet -- names).toSeq.sorted
    val changed = atSf0001.collect {
      case (n, c) if recorded.contains(n) && recorded(n) != c =>
        s"$n: recorded '${recorded(n)}' vs current '$c'"
    }
    val problems =
      missing.map(n => s"$n: not in ledger (new query? regenerate)") ++
        removed.map(n => s"$n: in ledger but gone from the surface") ++
        changed
    assert(problems.isEmpty,
      s"${problems.size} exchange-ledger divergences:\n" +
        problems.mkString("\n"))
  }

  test("exchange counts are IDENTICAL at sf0.001 and sf0.1 — plans " +
    "are size-stable across two orders of magnitude") {
    val atSf01 = toMap(
      PlanScan.exchangeLedgerLines(spark, "/root/testdata/sf0.1"))
    val diverged = atSf0001.collect {
      case (n, c) if atSf01.get(n).exists(_ != c) =>
        s"$n: sf0.001 '$c' vs sf0.1 '${atSf01(n)}'"
      case (n, _) if !atSf01.contains(n) =>
        s"$n: missing from the sf0.1 sweep"
    }
    assert(diverged.isEmpty,
      s"${diverged.size} size-dependent plan shapes:\n" +
        diverged.mkString("\n"))
  }
}

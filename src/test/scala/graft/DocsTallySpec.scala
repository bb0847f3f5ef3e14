package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical drift guard for the documented oracle tallies (judge round-5
  * item 8 / round-6 item 2): every place the docs state "N pass, 0 fail"
  * or a rows-only count must agree with what `SparkEntry` actually
  * declares. Adding a query without bumping the docs fails this spec —
  * the tally discipline is enforced by the build, not a checklist.
  *
  * Pure-text spec: the tallies count `SparkEntry.entries`, whose builds
  * and oracle texts never touch a SparkSession until invoked, so no Spark
  * boot here.
  */
class DocsTallySpec extends AnyFunSuite {

  private def read(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    assert(java.nio.file.Files.exists(p), s"doc file missing: $path")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  private def firstInt(path: String, re: scala.util.matching.Regex): Int = {
    val ms = re.findAllMatchIn(read(path)).toSeq
    assert(ms.nonEmpty, s"$path: no text matching ${re.pattern}")
    // a second occurrence (e.g. a changelog line quoting an old round's
    // tally) would make "first match" validate the wrong number silently —
    // fail loudly instead so the doc gets an anchored spelling
    assert(ms.size == 1,
      s"$path: ${ms.size} occurrences of ${re.pattern} — guard needs a unique anchor")
    ms.head.group(1).toInt
  }

  private val declaredOracle = SparkEntry.entries.count(_.oracle.isDefined)
  private val declaredRowsOnly = SparkEntry.entries.count(_.oracle.isEmpty)

  test("CLAUDE.md's expected gate tally matches SparkEntry.oracleSql") {
    assert(firstInt("CLAUDE.md", """(\d+) pass, 0 fail""".r) === declaredOracle,
      "CLAUDE.md 'expect \"N pass, 0 fail\"' drifted from the oracle-checked entry count")
  }

  test("verify SKILL.md's expected tallies match SparkEntry") {
    val skill = ".claude/skills/verify/SKILL.md"
    assert(firstInt(skill, """(\d+) pass, 0 fail""".r) === declaredOracle,
      s"$skill pass tally drifted from the oracle-checked entry count")
    assert(firstInt(skill, """(\d+) `ROWS-ONLY`""".r) === declaredRowsOnly,
      s"$skill rows-only tally drifted from the declared rows-only count")
  }

  test("COVERAGE.md's oracle tally paragraph matches SparkEntry") {
    assert(firstInt("COVERAGE.md", """\*\*Oracle tally:\*\* (\d+) hash-checked""".r) === declaredOracle,
      "COVERAGE.md oracle tally drifted from the oracle-checked entry count")
    assert(firstInt("COVERAGE.md", """(\d+) rows-only entries""".r) === declaredRowsOnly,
      "COVERAGE.md rows-only tally drifted from the declared rows-only count")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graded.GradedQuery

/** Guards the oracle contract BEFORE the driver runs it.
  *
  * The round-4 failure mode: oracle SQL is authored as Scala string
  * builders, so a broken splice (mis-terminated CTE, missing comma)
  * compiles fine and only dies when the driver feeds it to DuckDB —
  * zeroing the whole round's correctness gate. These checks move that
  * failure into `sbt test`.
  */
class OracleSqlSpec extends AnyFunSuite {

  test("the registry rejects a repeated query name") {
    // each query carries its own oracle, so an orphaned oracle cannot be
    // written; a pasted query under a taken name is what remains to catch
    val run: SparkEntry.Query = (s, _) => s.range(1).toDF()
    val err = intercept[IllegalArgumentException](GradedQuery.byName(Seq(
      GradedQuery("twice", run, "SELECT 1"), GradedQuery("twice", run, "SELECT 2"))))
    assert(err.getMessage.contains("twice"))
    assert(GradedQuery.byName(Seq(GradedQuery("once", run, "SELECT 1"))).keySet == Set("once"))
  }

  test("SURVEY.md §2 names cover every graded query (no checklist drift)") {
    // VERDICT r12 item 7: q19_point_lookup passed CORRECTNESS for ten
    // rounds with no §2 line. The coverage contract ("the judge checks
    // SURVEY §2 line by line") only stays auditable if the checklist is
    // a superset of the graded keys — machine-check it.
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val s2 = survey.substring(survey.indexOf("## §2"),
      survey.indexOf("## §3"))
    val named = "`([A-Za-z0-9_.]+)`".r.findAllMatchIn(s2).map(_.group(1)).toSet
    val missing = SparkEntry.graded.keySet.filterNot(named.contains)
    assert(missing.isEmpty,
      s"graded queries with no SURVEY §2 checklist line: $missing")
  }

  test("BASELINE.md carries a floor row for every graded query") {
    // the bench gate ("zero queries above 2x floor") is only meaningful
    // if every query HAS a floor — machine-check the coverage like the
    // SURVEY sweep above (floor rows are "| <name> |" table lines)
    val base = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BASELINE.md")), "UTF-8")
    val floored = "(?m)^\\| ([A-Za-z0-9_.]+)".r
      .findAllMatchIn(base).map(_.group(1)).toSet
    val missing = SparkEntry.graded.keySet.filterNot(floored.contains)
    assert(missing.isEmpty,
      s"graded queries with no BASELINE floor row: $missing")
  }

  test("oracle_sql.json round-trips as strict JSON") {
    // the driver json.load's this; control chars in builder-authored SQL
    // must come out escaped
    val json = Verify.oracleJson
    assert(json.startsWith("{") && json.endsWith("}"))
    assert(!json.exists(c => c < ' '), "unescaped control char in JSON")
  }

  test("every oracleSql entry parses and binds in DuckDB") {
    val sfDir = "/root/testdata/sf0.001"
    val canRun =
      try {
        new java.io.File(sfDir).isDirectory &&
          new ProcessBuilder("python3", "-c", "import duckdb")
            .start().waitFor() == 0
      } catch { case _: Exception => false }
    assume(canRun, "python3+duckdb or testdata unavailable here")
    val tmp = java.nio.file.Files.createTempFile("oracle_sql", ".json")
    try {
      java.nio.file.Files.writeString(tmp, Verify.oracleJson)
      val pb = new ProcessBuilder("python3", "tools/compare.py",
        "--parse-only", sfDir, tmp.toString)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      assert(proc.waitFor() == 0, s"oracle SQL failed DuckDB parse/bind:\n$out")
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }
}

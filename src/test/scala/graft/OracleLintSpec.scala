package graft

import org.scalatest.funsuite.AnyFunSuite

/** The materialize-multiply-referenced-CTEs rule as code (VERDICT r16
  * #2): authoring-time gate here, driver-gate backstop via
  * [[OracleLint.guard]]'s synthetic RED row in Verify. */
class OracleLintSpec extends AnyFunSuite {

  test("trip test: a planted 2-ref non-materialized CTE is flagged") {
    val planted =
      """WITH big AS (SELECT doc_id, text FROM documents),
        |pairs AS (SELECT a.doc_id FROM big a JOIN big b ON a.doc_id < b.doc_id)
        |SELECT * FROM pairs ORDER BY doc_id""".stripMargin
    val v = OracleLint.cteViolations(planted)
    assert(v == Seq(("big", 2)), s"expected big flagged with 2 refs, got $v")
    // and the guard-facing API sees it through a map with no allowlist hit
    val viaMap = OracleLint.violations(Map("zz_planted" -> planted))
    assert(viaMap.map(x => (x.entry, x.cte, x.refs)) ==
      Seq(("zz_planted", "big", 2)))
  }

  test("materialized and single-ref CTEs pass; FROM-list commas count") {
    val ok =
      """WITH big AS MATERIALIZED (SELECT doc_id FROM documents),
        |once AS (SELECT doc_id FROM big),
        |probe AS (SELECT 1 AS x)
        |SELECT * FROM big a JOIN big b ON a.doc_id = b.doc_id, probe, once
        |ORDER BY a.doc_id""".stripMargin
    assert(OracleLint.cteViolations(ok).isEmpty)
    // comma table refs ARE refs: `FROM a, c, c` must count c twice
    val comma =
      """WITH c AS (SELECT 1 AS x), a AS MATERIALIZED (SELECT 2 AS y)
        |SELECT * FROM a, c, c""".stripMargin
    assert(OracleLint.cteViolations(comma) == Seq(("c", 2)))
    // select-list commas and function calls are NOT table refs
    val noise =
      """WITH c AS (SELECT 1 AS x)
        |SELECT y, c, range(0, c) FROM (SELECT 1 AS y, 2 AS c) t, c""".stripMargin
    assert(OracleLint.cteViolations(noise).isEmpty)
  }

  test("pass-1 is WITH-clause-scoped: body `ident AS (` cannot mint phantom defs") {
    // ADVICE r17 #3: a named window (or any query-body `ident AS (`)
    // whose name collides with a genuinely multiply-referenced table
    // must NOT be treated as a CTE def — the old unrestricted triple
    // scan turned this valid SQL into a guaranteed-RED guard row.
    val windowed =
      """SELECT a.doc_id, count(*) OVER documents AS n
        |FROM documents a JOIN documents b ON a.doc_id = b.doc_id
        |WINDOW documents AS (PARTITION BY a.doc_id)""".stripMargin
    assert(OracleLint.cteViolations(windowed).isEmpty)
    // ...while a real def in a NESTED with clause is still seen
    val nested =
      """WITH outer_c AS MATERIALIZED (
        |  WITH inner_c AS (SELECT 1 AS x)
        |  SELECT a.x FROM inner_c a JOIN inner_c b ON a.x = b.x)
        |SELECT * FROM outer_c""".stripMargin
    assert(OracleLint.cteViolations(nested) == Seq(("inner_c", 2)))
  }

  test("trip test: the Verify guard writes the RED row on a planted violation") {
    val spark = TestSpark.spark
    val out = java.nio.file.Files.createTempDirectory("ctelint_trip").toString
    val planted = Map("zz_planted" ->
      """WITH big AS (SELECT doc_id FROM documents)
        |SELECT a.doc_id FROM big a JOIN big b ON a.doc_id < b.doc_id""".stripMargin)
    val pairs = OracleLint.guard(spark, out, planted)
    assert(pairs.keySet == Set(OracleLint.GuardKey))
    assert(pairs(OracleLint.GuardKey).contains("TRUE AS lint_ok"))
    val row = spark.read.parquet(s"$out/${OracleLint.GuardKey}").collect().head
    assert(row.getAs[Long]("cte_violations") == 1L)
    assert(!row.getAs[Boolean]("lint_ok"))
    // clean path: removes the stale red row, returns no oracle pair
    assert(OracleLint.guard(spark, out, Map.empty) == Map.empty)
    assert(!new java.io.File(s"$out/${OracleLint.GuardKey}").exists())
  }

  test("shipped oracle map: zero violations") {
    val v = OracleLint.violations(SparkEntry.oracleSql)
    assert(v.isEmpty,
      "multiply-referenced CTEs must be AS MATERIALIZED:\n" +
        v.map(x => s"  ${x.entry}.${x.cte} (${x.refs} refs)").mkString("\n"))
  }
}

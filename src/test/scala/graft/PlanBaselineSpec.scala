package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** The committed plan-vector baseline is the deterministic regression
  * gate: `tools/bench_compare.py` diffs a bench record's per-entry plan
  * vectors against PLAN_BASELINE.json and exits 1 on a plan regression.
  * An entry with no baseline row is never compared, so the baseline
  * must cover exactly the registered entries.
  */
class PlanBaselineSpec extends AnyFunSuite with Matchers {

  // forked test JVMs run with cwd = repo root (sbt default)
  private lazy val baseline = {
    val f = new java.io.File("PLAN_BASELINE.json")
    withClue("committed plan baseline missing — bench_compare's default " +
      "gate depends on it: ") {
      f.isFile shouldBe true
    }
    new ObjectMapper().readTree(f)
  }

  private def planKeys: Set[String] = {
    val plan = baseline.get("plan")
    plan should not be null
    plan.fieldNames().asScala.toSet
  }

  test("PLAN_BASELINE.json n_entries equals the size of its plan map") {
    baseline.get("n_entries").asInt shouldBe planKeys.size
  }

  test("PLAN_BASELINE.json has one plan row per registered entry") {
    val registered = SparkEntry.queries.keySet
    withClue("registered entries without a baseline row: " +
      s"${(registered -- planKeys).toSeq.sorted.mkString(", ")}; baseline " +
      s"rows for no registered entry: ${(planKeys -- registered).toSeq.sorted.mkString(", ")} " +
      "— refresh with tools/make_plan_baseline.py from a full bench record: ") {
      planKeys shouldBe registered
    }
  }
}

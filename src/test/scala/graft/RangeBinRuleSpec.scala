package graft

import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RangeJoin

/** A binned range join is an explicit `RangeJoin` call: no plan rule of
  * the session bins its plan a second time. */
class RangeBinRuleSpec extends AnyFunSuite {

  test("a RangeJoin.joined plan is binned once, not again by the rule") {
    val spark = TestSpark.spark
    import spark.implicits._
    val points = Seq(("1", 5L), ("1", 70L), ("2", 5L)).toDF("chr", "pos")
    val ivs = Seq(("1", 1L, 100L, 7L), ("2", 50L, 60L, 8L))
      .toDF("chr", "start", "stop", "id")
    val joined = RangeJoin.joined(points, ivs, "pos", "start", "stop",
      keys = Seq("chr"), binWidth = 32)
    val plan = joined.queryExecution.optimizedPlan
    // the interval side's explode is the only Generate
    val gens = plan.collect { case g: Generate => g }
    assert(gens.length == 1, s"expected one interval-side Generate:\n$plan")
    // ("2", 5) lies in an interval only on chromosome 1: the key keeps it out
    assert(joined.select("pos", "id").as[(Long, Long)].collect().sorted
      .toSeq == Seq((5L, 7L), (70L, 7L)))
  }
}

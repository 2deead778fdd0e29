package graft

import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RangeJoin
import graft.plans.RangeBinJoinRule

class RangeBinRuleSpec extends AnyFunSuite {

  test("natural theta range join is rewritten to a binned equi-join") {
    // positions stretched so intervals span several bins of the rule's
    // fixed width, as genomic intervals do
    val scale = RangeBinJoinRule.BinWidth / 64
    val rnd = new scala.util.Random(11)
    val points = (1 to 400).map(_ => rnd.nextInt(5000).toLong * scale)
    val ivs = (1 to 40).map { i =>
      val s = rnd.nextInt(4800).toLong * scale
      (i.toLong, s, s + rnd.nextInt(300).toLong * scale)
    }
    // the naive answer, computed in plain Scala
    val naive = (for { p <- points; (iv, s, e) <- ivs if s <= p && p <= e } yield (p, iv)).sorted
    val spark = TestSpark.spark
    import spark.implicits._
    val joined = points.toDF("p").join(ivs.toDF("iv", "s", "e"), $"s" <= $"p" && $"p" <= $"e")
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_bin"), s"rule did not fire:\n$plan")
    val got = joined.select("p", "iv").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(naive.nonEmpty && got.toSeq == naive)
  }

  test("a RangeJoin.joined plan is binned once, not again by the rule") {
    val spark = TestSpark.spark
    import spark.implicits._
    val points = Seq(("1", 5L), ("1", 70L), ("2", 5L)).toDF("chr", "pos")
    val ivs = Seq(("1", 1L, 100L, 7L), ("2", 50L, 60L, 8L))
      .toDF("chr", "start", "stop", "id")
    val joined = RangeJoin.joined(points, ivs, "pos", "start", "stop",
      keys = Seq("chr"), binWidth = 32)
    val plan = joined.queryExecution.optimizedPlan
    // the interval side's explode is the only Generate: the rule saw
    // the bin column RangeJoin had already added and left the join alone
    val gens = plan.collect { case g: Generate => g }
    assert(gens.length == 1, s"expected one interval-side Generate:\n$plan")
    assert(joined.select("pos", "id").as[(Long, Long)].collect().sorted
      .toSeq == Seq((5L, 7L), (70L, 7L)))
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Dna
import graft.plans.SpreadScanRule

class SpreadScanRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val par = spark.sparkContext.defaultParallelism

  private val rows = (0 until 3000).map(i => (i.toLong, Seq.fill(4)("ACGT"(i % 4)).mkString + " x" + (i % 7)))

  /** The rows written as `files` parquet files (one row group each). */
  private def table(files: Int): String = {
    val dir = Files.createTempDirectory("spread").resolve("t").toString
    val s = spark
    import s.implicits._
    rows.toDF("id", "text").repartition(files).write.parquet(dir)
    dir
  }
  private lazy val oneFile = table(1)

  /** The test table is a few KB, below the session's AQE minimum
    * partition size; each case lowers that floor unless it tests it. */
  private def spreadTest(name: String)(body: => Unit): Unit =
    test(name)(TestSpark.withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")(body))

  private def spreads(p: LogicalPlan): Seq[RepartitionByExpression] =
    p.collect { case r: RepartitionByExpression if r.optNumPartitions.contains(par) => r }
  private def spreads(df: DataFrame): Seq[RepartitionByExpression] =
    spreads(df.queryExecution.optimizedPlan)

  private def words(df: DataFrame): DataFrame =
    df.select(col("id"), explode(split(col("text"), " ")).as("w"))

  spreadTest("a one-file scan under an explode or a kernel is spread, with the same rows") {
    assert(par > 1, "the test session must have more than one core")
    val exploded = words(spark.read.parquet(oneFile)).groupBy("w").count()
    val s = spreads(exploded)
    assert(s.size == 1, exploded.queryExecution.optimizedPlan)
    // hashed on the pruned columns only: the count never reads `id`
    assert(s.head.partitionExpressions.map(_.references.head.name) == Seq("text"))
    val want = rows.flatMap(_._2.split(" ")).groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
    assert(exploded.collect().map(r => (r.getString(0), r.getLong(1))).toMap == want)

    val kernel = spark.read.parquet(oneFile)
      .select(col("id"), Dna.reverseComplement(substring_index(col("text"), " ", 1)).as("rc"))
      .filter(col("id") % 2 === 0)
    assert(spreads(kernel).size == 1, kernel.queryExecution.optimizedPlan)
    val comp = Map('A' -> 'T', 'C' -> 'G', 'G' -> 'C', 'T' -> 'A')
    assert(kernel.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      rows.filter(_._1 % 2 == 0).map { case (i, t) => (i, t.split(" ")(0).reverse.map(comp)) })
  }

  spreadTest("a map column is hashed with the rest of the row") {
    val dir = Files.createTempDirectory("spread-map").resolve("t").toString
    spark.read.parquet(oneFile).select(col("id"), col("text"), map(col("text"), col("id")).as("m"))
      .write.parquet(dir)
    val withMap = spark.read.parquet(dir).select(explode(split(col("text"), " ")).as("w"), col("m"))
    assert(spreads(withMap).map(_.partitionExpressions.size) == Seq(2), withMap.queryExecution.optimizedPlan)
    assert(withMap.collect().length == 2 * rows.size)
  }

  spreadTest("a scan that already splits into defaultParallelism files is left alone") {
    val many = table(par)
    assert(new java.io.File(many).list().count(_.endsWith(".parquet")) >= par)
    assert(spreads(words(spark.read.parquet(many))).isEmpty)
  }

  spreadTest("text sources, nondeterministic, light and broadcast stages are left alone") {
    val textDir = Files.createTempDirectory("spread-text").resolve("t").toString
    spark.read.parquet(oneFile).select(col("text")).write.text(textDir)
    val text = spark.read.text(textDir).select(explode(split(col("value"), " ")))
    assert(spreads(text).isEmpty, text.queryExecution.optimizedPlan)

    val withFile = words(spark.read.parquet(oneFile)).select(col("w"), input_file_name().as("f"))
    assert(spreads(withFile).isEmpty, withFile.queryExecution.optimizedPlan)
    assert(withFile.filter(col("f") === "").isEmpty)

    val withId = words(spark.read.parquet(oneFile)).select(col("w"), monotonically_increasing_id().as("mid"))
    assert(spreads(withId).isEmpty, withId.queryExecution.optimizedPlan)

    val light = spark.read.parquet(oneFile).agg(sum(length(col("text"))), max(col("id") % 10))
    assert(spreads(light).isEmpty, light.queryExecution.optimizedPlan)

    val built = spark.range(100).join(broadcast(words(spark.read.parquet(oneFile))), "id")
    assert(spreads(built).isEmpty, built.queryExecution.optimizedPlan)
  }

  spreadTest("a dedup, a distinct or a sort aggregate is heavy work; a hash aggregate is not") {
    val d = spark.read.parquet(oneFile)
    val hashed = d.groupBy(col("id") % 10).agg(sum(length(col("text"))))
    assert(spreads(hashed).isEmpty, hashed.queryExecution.optimizedPlan)
    val sorted = d.groupBy(col("id") % 10).agg(max(col("text")))
    assert(spreads(sorted).size == 1, sorted.queryExecution.optimizedPlan)
    assert(sorted.collect().map(_.getString(1)).toSet ==
      rows.groupBy(_._1 % 10).values.map(_.map(_._2).max).toSet)
    val deduped = d.select(col("text")).distinct()
    assert(spreads(deduped).size == 1, deduped.queryExecution.optimizedPlan)
    val distinct = d.agg(countDistinct(col("text")))
    assert(spreads(distinct).size == 1, distinct.queryExecution.optimizedPlan)
    assert(distinct.head().getLong(0) == rows.map(_._2).distinct.size)
  }

  spreadTest("a relation read twice is spread per heavy use; equal uses share one exchange") {
    val d = spark.read.parquet(oneFile)
    // the light side is also the broadcast side: only the explode's scan
    val mixed = words(d).join(d.select(col("id"), length(col("text")).as("n")), "id")
    assert(spreads(mixed).size == 1, mixed.queryExecution.optimizedPlan)

    val counts = words(d).groupBy("w").count()
    val self = counts.join(counts.withColumnRenamed("count", "n2"), "w")
    assert(spreads(self).size == 2, self.queryExecution.optimizedPlan)
    TestSpark.withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = counts.join(counts.withColumnRenamed("count", "n2"), "w")
      assert(df.collect().forall(r => r.getLong(1) == r.getLong(2)))
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case r: ReusedExchangeExec => r }.nonEmpty, plan)
    }
  }

  spreadTest("limits, samples and partition-local sorts block the spread") {
    val limited = words(spark.read.parquet(oneFile)).limit(5)
    assert(spreads(limited).isEmpty, limited.queryExecution.optimizedPlan)
    assert(limited.collect().length == 5)
    val sampled = words(spark.read.parquet(oneFile)).sample(0.1, 7)
    assert(spreads(sampled).isEmpty, sampled.queryExecution.optimizedPlan)
    assert(sampled.collect().toSeq == sampled.collect().toSeq)
    val sorted = words(spark.read.parquet(oneFile)).sortWithinPartitions("w")
    assert(spreads(sorted).isEmpty, sorted.queryExecution.optimizedPlan)
  }

  test("a table smaller than one AQE minimum partition is left alone") {
    assert(new java.io.File(oneFile).listFiles().map(_.length).sum <
      spark.sessionState.conf.getConf(org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    assert(spreads(words(spark.read.parquet(oneFile)).groupBy("w").count()).isEmpty)
  }

  spreadTest("a broadcast side repeating a spread of the probe side shares its exchange") {
    val d = spark.read.parquet(oneFile)
    val lens = d.select(col("id"), explode(split(col("text"), " ")).as("w"))
    val joined = lens.join(broadcast(lens.withColumnRenamed("w", "w2")), "id")
    assert(spreads(joined).size == 2, joined.queryExecution.optimizedPlan)
    TestSpark.withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = lens.join(broadcast(lens.withColumnRenamed("w", "w2")), "id")
      assert(df.count() == rows.map(r => r._2.split(" ").length.toLong * r._2.split(" ").length).sum)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case r: ReusedExchangeExec => r }.nonEmpty, plan)
    }
  }

  spreadTest("the rule is idempotent: a second installation gives the same plan") {
    val plan = words(spark.read.parquet(oneFile)).groupBy("w").count().queryExecution.optimizedPlan
    assert(spreads(plan).size == 1)
    val again = SpreadScanRule(spark)(plan)
    assert(again == plan, s"second pass changed the plan:\n$again")
  }
}

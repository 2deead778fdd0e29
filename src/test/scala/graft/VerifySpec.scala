package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a query that throws while being built leaves no earlier result") {
    val dir = Files.createTempDirectory("graft_verify").resolve("q").toString
    Seq(1, 2, 3).toDF("x").write.parquet(dir)
    Verify.dump(spark, dir, "q", throw new IllegalStateException("eager action failed"))
    assert(!new java.io.File(dir).exists())
    // a query that succeeds replaces the earlier result
    Seq(1, 2, 3).toDF("x").write.parquet(dir)
    Verify.dump(spark, dir, "q", Seq(7).toDF("y"))
    assert(spark.read.parquet(dir).as[Int].collect().toSeq == Seq(7))
  }
}

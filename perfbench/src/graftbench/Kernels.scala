package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.DnaOps
import graft.sources.PackedGenome

/** Plain-JVM timing loops over the public kernels, outside Spark, with
  * inputs drawn from the workload's generator. Each result is the
  * median ns per call over several timed rounds, and the input bytes the
  * kernel consumes per second at that rate. */
object Kernels {
  final case class Result(nsPerCall: Double, bytesPerSec: Double)

  private var sink = 0L

  def time[T](inputs: IndexedSeq[T], bytes: T => Long)(f: T => Any): Result = {
    def round(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < inputs.length) {
        f(inputs(i)) match {
          case n: Int => sink += n
          case o => sink += o.hashCode
        }
        i += 1
      }
      (System.nanoTime() - t0).toDouble / inputs.length
    }
    (0 until 3).foreach(_ => round()) // JIT warm-up
    val ns = Stats.median((0 until 7).map(_ => round()))
    val meanBytes = inputs.map(bytes).sum.toDouble / inputs.length
    Result(ns, meanBytes / ns * 1e9)
  }

  /** translate runs on single codons and reverse complement on whole
    * CDS-length strings, the shapes the annotator calls them with;
    * genome chunks are exon-sized slices of the packed genome. */
  def dna(spark: SparkSession, seed: Long): Map[String, Result] = {
    val r = Gen.rng(seed, "kernels")
    val chrs = Gen.genome(seed).take(2)
    val (name, seq) = chrs.head
    val codons = IndexedSeq.fill(100000) {
      val p = r.nextInt(seq.length - 3); UTF8String.fromString(seq.substring(p, p + 3))
    }
    val cds = IndexedSeq.fill(2000) {
      val n = 300 + r.nextInt(2700); val p = r.nextInt(seq.length - n)
      UTF8String.fromString(seq.substring(p, p + n))
    }
    val packed = PackedGenome.fromChrs(spark, chrs.toMap)
    val ranges = IndexedSeq.fill(20000) {
      val n = 60 + r.nextInt(340); val p = 1 + r.nextInt(seq.length - n); (p.toLong, (p + n - 1).toLong)
    }
    Map(
      "translate" -> time(codons, (u: UTF8String) => u.numBytes.toLong)(DnaOps.translate),
      "revcomp" -> time(cds, (u: UTF8String) => u.numBytes.toLong)(DnaOps.reverseComplement),
      "genome_chunk" -> time(ranges, (x: (Long, Long)) => x._2 - x._1 + 1) {
        case (s, e) => packed.chunk(name, s, e)
      })
  }
}

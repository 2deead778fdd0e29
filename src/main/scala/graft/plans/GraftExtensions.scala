package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{CharShingles, CountWord, DotProductF, IntersectCount,
  MinHash16, NormText, RepStats, ReverseComplement, SimHash60, TranslateDna,
  WinnowFps}

/** graft's one plan rule ([[SpreadScanRule]]) and its SQL functions
  * (`spark.sql("SELECT translate_dna(...)")`). [[graft.Sessions]]
  * installs them; other sessions use `.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.plans.GraftExtensions`. A binned range
  * join is an explicit [[graft.operators.RangeJoin]] call, which takes
  * the bin width its caller knows. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def str(e: Expression): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"expected a string literal, got $other")
  }

  private def int(e: Expression): Int = e match {
    case Literal(i: Int, _) => i
    case other => throw new IllegalArgumentException(
      s"expected an int literal, got $other")
  }

  /** Every graft SQL function: name, usage, builder. */
  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("translate_dna", "translate_dna(dna) - codon translation to amino acids",
      a => TranslateDna(a.head)),
    ("reverse_complement", "reverse_complement(dna) - strand flip",
      a => ReverseComplement(a.head)),
    ("norm_text", "norm_text(s) - trim/lower/collapse whitespace",
      a => NormText(a.head)),
    ("char_shingles", "char_shingles(s, n) - distinct character n-grams",
      a => CharShingles(a.head, int(a(1)))),
    ("count_word", "count_word(s, word) - word-boundary occurrence count",
      a => CountWord(a.head, str(a(1)))),
    ("dot_f", "dot_f(a, b) - float-vector dot product in double",
      a => DotProductF(a.head, a(1))),
    ("simhash60", "simhash60(s) - 60-bit SimHash of raw text",
      a => SimHash60(a.head)),
    ("minhash16", "minhash16(s, n) - 16 md5-window minhash minima",
      a => MinHash16(a.head, int(a(1)))),
    ("winnow_fps", "winnow_fps(s, k, w) - winnowing fingerprints",
      a => WinnowFps(a.head, int(a(1)), int(a(2)))),
    ("rep_stats", "rep_stats(s) - 7 exact-integer repetition statistics",
      a => RepStats(a.head)),
    ("intersect_count", "intersect_count(a, b) - distinct-array intersection size",
      a => IntersectCount(a.head, a(1)))
  )

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPreCBORule(session => SpreadScanRule(session))
    functions.foreach { case (name, usage, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", "", name, usage, "", "", "", "", "", "", "built-in"), build))
    }
  }
}

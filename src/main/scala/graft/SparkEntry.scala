package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.graded._

/** Driver contract: the graded queries, one per SURVEY.md §2 operator,
  * each a Spark body with the DuckDB SQL oracle that grades it.
  *
  * The bodies and oracles live in per-family modules under
  * `graft.graded`. Genomic-domain operators run on deterministic column
  * derivations of the synthetic tables (`graded.Derivations`, SURVEY.md
  * §3), so Spark and DuckDB compute the same rows from the same parquet.
  */
object SparkEntry {

  type Query = (SparkSession, String) => DataFrame

  /** Every graded query by name: the one registry that Verify, Bench,
    * Inspect and the tests read. Building it throws on a repeated name. */
  lazy val graded: Map[String, GradedQuery] = GradedQuery.byName(
    RelationalQueries.queries ++ VariantQueries.queries ++
      IntervalQueries.queries ++ ReadQueries.queries ++
      PopGenQueries.queries ++ EventQueries.queries ++
      TextQueries.queries ++ DedupQueries.queries ++
      EmbeddingQueries.queries ++ MultimodalQueries.queries)

  /** Flagship query on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graded("q1_pricing_summary").run(spark, "/root/testdata/sf0.001")

  /** The graded queries named in `only` (every one when it is empty),
    * sorted by name: the one selection every main that walks the
    * registry runs. A typo'd name throws instead of selecting nothing. */
  def select(only: Set[String]): Seq[GradedQuery] = {
    val unknown = only -- graded.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted}")
    graded.values.toSeq.sortBy(_.name).filter(q => only.isEmpty || only(q.name))
  }
}

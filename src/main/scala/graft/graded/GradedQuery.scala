package graft
package graded

/** One graded query: the Spark body the driver runs on a scale-factor
  * directory, and the DuckDB SQL that grades its result over the same
  * parquet. Every query has both halves, and the module of its family
  * holds them side by side. */
final case class GradedQuery(name: String, run: SparkEntry.Query, oracle: String)

object GradedQuery {
  /** `all` by name. A repeated name throws: a `Map(...)` literal would
    * keep the last of two equal keys without a word. */
  def byName(all: Seq[GradedQuery]): Map[String, GradedQuery] = {
    val repeated = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty, s"repeated graded query name(s): ${repeated.toSeq.sorted}")
    all.map(q => q.name -> q).toMap
  }
}

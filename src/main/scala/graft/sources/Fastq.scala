package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** FASTQ reads from indexed lines — the raw-read format UPSTREAM of
  * [[Sam]] alignments (the one genomics I/O rung the source family
  * still lacked; reference adjacency: the pipeline's VCFs descend from
  * exactly these reads via alignment + calling).
  *
  * FASTQ is a 4-LINE record format (`@id` / sequence / `+` / quality),
  * so unlike the 1-line-per-record SAM/VCF parsers the parse step IS
  * record assembly: lines carry an index, records group on
  * `line_no div 4`, and ONE bounded partial agg (4 rows per group,
  * map-side combinable) pivots the quartet into a read row. At 100 TB
  * the index is the caller's global line number
  * ([[LineBlocks.indexed]] gives one): FASTQ's `@`-ambiguity means a
  * byte split cannot find a record start locally, so records group on
  * that number, never on `@`.
  *
  * Malformed records QUARANTINE, not fail (the Sam gate discipline):
  * a record missing its `@` header or `+` separator, with a
  * sequence/quality length mismatch, or with missing lines drops out
  * of the result; the caller audits counts if it cares.
  */
object Fastq {

  /** @param lines (lineNoCol: 0-based global line number, textCol)
    * @return (read_id, seq, qual) — read_id without the `@` */
  def parse(lines: DataFrame, lineNoCol: String, textCol: String): DataFrame = {
    val ln = col(lineNoCol).cast("long")
    val rec = lines.select(
      ((ln - pmod(ln, lit(4L))) / 4L).cast("long").as("rid"),
      pmod(ln, lit(4L)).cast("int").as("fld"),
      col(textCol).as("t"))
    rec.groupBy("rid").agg(
        max(when(col("fld") === 0, col("t"))).as("hdr"),
        max(when(col("fld") === 1, col("t"))).as("seq"),
        max(when(col("fld") === 2, col("t"))).as("plus"),
        max(when(col("fld") === 3, col("t"))).as("qual"),
        count(lit(1)).as("n_lines"))
      .filter(col("n_lines") === 4 &&
        col("hdr").startsWith("@") && col("plus").startsWith("+") &&
        col("seq").isNotNull && col("qual").isNotNull &&
        length(col("seq")) === length(col("qual")))
      .select(expr("substring(hdr, 2)").as("read_id"),
        col("seq"), col("qual"))
  }
}

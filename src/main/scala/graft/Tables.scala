package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema-explicit loaders for the driver-generated test tables.
  *
  * Every `SparkEntry.queries` entry receives a scale-factor directory and
  * goes through these loaders, so column pruning / filter pushdown reach
  * the parquet scan (Catalyst prunes to the referenced columns — verified
  * via `.explain("formatted")` ReadSchema).
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** File lengths under a table path (file or directory), memoized —
    * the driver-side listing is cheap but runs once per (path) instead
    * of once per query construction. */
  private val fileLenCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()
  private def fileLengths(spark: SparkSession, path: String): Seq[Long] =
    fileLenCache.computeIfAbsent(path, { p =>
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(hp, true)
        val buf = scala.collection.mutable.ArrayBuffer[Long]()
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile) buf += f.getLen
        }
        buf.toSeq
      } catch { case _: Throwable => Seq.empty }
    })

  /** Scale-adaptive scan parallelization (optimization guide §2: derive
    * partitioning from input size, never a constant tuned for one box).
    *
    * The driver-generated tables ship as ONE parquet file with ONE row
    * group, so the file scan yields a single task and every per-row
    * kernel above it (shingle/bigram explodes, VCF/SAM line synthesis,
    * vector math) runs on one core of N. When the scan's estimated
    * split count (Σ ceil(fileLen / maxPartitionBytes), Spark's own
    * packing bound) is below the session's default parallelism, a
    * round-robin repartition to defaultParallelism spreads the rows;
    * when the input splits naturally (the 100 TB layout: many files /
    * row groups), the gate is identity — no extra exchange at scale.
    * Unknown filesystems estimate as unsplittable-big (no repartition).
    * The graded query surface is order-free (sums are exact longs,
    * collect_lists are array_sort'ed), so the redistribution cannot
    * change any result.
    */
  private def parallelized(spark: SparkSession, df: DataFrame,
                           path: String,
                           keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val lens = fileLengths(spark, path)
    if (lens.isEmpty) df // listing failed: assume big, leave the scan alone
    else {
      val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
      val splits = lens.map(l => math.max(1L, (l + maxBytes - 1) / maxBytes)).sum
      if (splits < par) df.repartition(par, keys: _*) else df
    }
  }

  /** A table scan spread for heavy per-row kernel work downstream —
    * NOT the default loader: the exchange only pays for itself when the
    * per-row work above it (shingling, line parsing, LM explodes)
    * dwarfs one pass over the bytes, so each call site opts in.
    * `keys` must be a (near-)unique row key: hash partitioning on it is
    * deterministic per row (safe under retries with no
    * sort-before-repartition prologue, unlike round-robin) and spreads
    * evenly when the key count ≫ partition count (guide §2.5). */
  private def tp(spark: SparkSession, dir: String, name: String,
                 keys: org.apache.spark.sql.Column*): DataFrame =
    parallelized(spark, t(spark, dir, name), s"$dir/$name.parquet", keys)

  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  /** events.ts has shipped in two physical layouts across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — read as raw nanos) and, since round 9, plain
    * TIMESTAMP(MICROS). Both normalize to ONE contract the event
    * operators rely on: `ts` = exact epoch NANOS as long (exact long
    * arithmetic downstream — double division of 1e18-scale nanos would
    * lose whole seconds). DuckDB reads the same file as a µs TIMESTAMP
    * either way (it truncates ns→µs on read), so `ts DIV 1000` ==
    * `epoch_us(ts)` under both layouts. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        // µs-precision TIMESTAMP[_NTZ]: the NTZ→TZ cast reads the wall
        // time in the SESSION zone, so it is the identity only under
        // UTC. Every entry point (Bench/Verify/Manager/Inspect/tests)
        // pins UTC at builder time; this set is a belt-and-braces for
        // foreign sessions and is a no-op in ours.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) * 1000L"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  import org.apache.spark.sql.functions.col
  /** [[documents]] spread for heavy per-row text kernels (see [[tp]]). */
  def documentsSpread(spark: SparkSession, dir: String): DataFrame =
    tp(spark, dir, "documents", col("doc_id"))
  /** [[lineitem]] spread for heavy per-row synthesis/parse kernels. */
  def lineitemSpread(spark: SparkSession, dir: String): DataFrame =
    tp(spark, dir, "lineitem", col("l_orderkey"), col("l_linenumber"))
  /** [[embeddings]] spread for heavy per-row vector kernels. */
  def embeddingsSpread(spark: SparkSession, dir: String): DataFrame =
    tp(spark, dir, "embeddings", col("vec_id"))
  /** [[orders]] spread for heavy interval/bin-explode kernels. */
  def ordersSpread(spark: SparkSession, dir: String): DataFrame =
    tp(spark, dir, "orders", col("o_orderkey"))
}

package graft
package graded

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._

/** Relational and TPC-style graded queries: aggregates, joins, windows,
  * grouping sets, sampling, SCD2 and data-quality checks. */
private[graft] object RelationalQueries {

  /** The SCD2 test fixture shared by scd2_upsert and
    * scd2_asof_snapshot (ONE derivation so the absorb input and the
    * as-of churn matrix grade the same history): history = customers
    * key%10≠0 all open since t=0; snapshot drops key%13=0, mutates
    * key%7=0 to CHANGED, introduces key%10=0. */
  private def scd2HistorySnap(s: SparkSession,
                              dir: String): (DataFrame, DataFrame) = {
    val cust = Tables.customer(s, dir)
    val history = cust.where(col("c_custkey") % 10 =!= 0)
      .select(col("c_custkey").as("custkey"),
        col("c_mktsegment").as("segment"),
        lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
    val snap = cust.where(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey").as("custkey"),
        when(col("c_custkey") % 7 === 0, "CHANGED")
          .otherwise(col("c_mktsegment")).as("segment"))
    (history, snap)
  }

  /** Shared projection of the rollup_agg / cube_agg grouping-sets pair
    * (ONE definition so the gid cast / ALL labels cannot drift). */
  private def groupingSetsAgg(
      g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    g.agg(round(sum("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("sum_qty"), col("n"), col("gid"))

  /** The lineitem measure columns the profile_columns query audits —
    * ONE list driving both the Spark agg/stack build and the oracle's
    * UNION ALL, so the two cannot drift. */
  private val profiledCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  val queries: Seq[GradedQuery] = Seq(

    GradedQuery("q1_pricing_summary", (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
    },
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        |round(sum(l_extendedprice),2) AS sum_base_price,
        |round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        |round(avg(l_quantity),4) AS avg_qty, count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    GradedQuery("q2_group_counts", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"), (col("user_id") % 10).as("user_bucket"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    },
      """SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
        |count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY event_type, user_id % 10""".stripMargin),

    GradedQuery("q3_join_filter_agg", (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      o.filter(col("o_totalprice") > 1000)
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    },
      """SELECT r_name, n_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_totalprice > 1000 GROUP BY r_name, n_name""".stripMargin),

    GradedQuery("q4_topn_per_group", (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("total_price"))
    },
      """SELECT o_orderpriority, rn, o_orderkey, round(o_totalprice,2) AS total_price
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),

    GradedQuery("q5_semi_join", (s, dir) => {
      val big = Tables.orders(s, dir).filter(col("o_totalprice") > 5000)
        .select("o_custkey")
      val c = Tables.customer(s, dir)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
    },
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_totalprice > 5000)
        |GROUP BY c_mktsegment""".stripMargin),

    GradedQuery("q6_anti_join", (s, dir) => {
      val p = Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
        .select("o_custkey")
      val c = Tables.customer(s, dir)
      c.join(p, c("c_custkey") === p("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
    },
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderstatus = 'P')
        |GROUP BY c_mktsegment""".stripMargin),

    GradedQuery("q8_window_fixup", (s, dir) => {
      val w = Window.partitionBy("l_orderkey")
      Tables.lineitem(s, dir)
        .withColumn("n_alleles", count(lit(1)).over(w))
        .withColumn("mismatch",
          when(col("l_linenumber") =!= col("n_alleles"), 1).otherwise(0))
        .groupBy("n_alleles")
        .agg(count(lit(1)).as("n_rows"), sum("mismatch").cast("long").as("n_fixed"))
    },
      """SELECT n_alleles, count(*) AS n_rows, CAST(sum(mismatch) AS BIGINT) AS n_fixed
        |FROM (SELECT count(*) OVER (PARTITION BY l_orderkey) AS n_alleles,
        |  CASE WHEN l_linenumber <> count(*) OVER (PARTITION BY l_orderkey)
        |    THEN 1 ELSE 0 END AS mismatch FROM lineitem)
        |GROUP BY n_alleles""".stripMargin),

    GradedQuery("sample_stratified", (s, dir) => {
      // temperature-weighted (alpha=0.5) deterministic mixing over lang
      Curation.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
          targetFrac = 0.4, alpha = 0.5)
        .select("doc_id", "lang", "source")
    },
      """WITH stats AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |  sum(sqrt(CAST(n AS DOUBLE))) AS sumw FROM stats),
        |rates AS (SELECT lang, round(least(1.0,
        |  0.4 * total * sqrt(CAST(n AS DOUBLE)) / sumw / n), 6) AS rate
        |  FROM stats, tot)
        |SELECT d.doc_id, d.lang, d.source FROM documents d JOIN rates USING (lang)
        |WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) AS BIGINT)
        |  AS DOUBLE) / 16777216.0 < rate""".stripMargin),

    GradedQuery("fuzzy_match", (s, dir) => {
      // record linkage: customers vs a digit-perturbed twin, blocked on
      // a 17-char name prefix (the selectivity ladder measured at sf0.1:
      // 12 chars ~all-pairs, 16 leaves 100-row blocks, 17 is what ships —
      // the 5.9s→1.6s fuzzy_match fix). Block selectivity IS the scale
      // knob. NOTE: the 1→7 perturbation can rewrite a digit inside the
      // 17-char prefix itself, so such pairs land in different blocks and
      // are never candidates — intentional: blocking trades recall for
      // boundedness, and the oracle derives the same blocks, so parity
      // holds. Levenshtein verify, counts per distance.
      val cust = Tables.customer(s, dir)
      val a = cust.select(col("c_custkey"), col("c_name"))
      val b = cust.select((col("c_custkey") + 1000000).as("c_custkey"),
        translate(col("c_name"), "1", "7").as("c_name"))
      Linkage.blockedFuzzyJoin(a, b, "c_custkey", "c_custkey",
          "c_name", "c_name", t => substring(t, 1, 17), maxDist = 2)
        .groupBy("dist").agg(count(lit(1)).as("n"))
    },
      """WITH a AS (SELECT c_custkey AS a_id, c_name AS a_text,
        |  substr(c_name, 1, 17) AS block FROM customer),
        |b AS (SELECT c_custkey + 1000000 AS b_id,
        |  replace(c_name, '1', '7') AS b_text,
        |  substr(replace(c_name, '1', '7'), 1, 17) AS block FROM customer)
        |SELECT dist, count(*) AS n FROM (
        |  SELECT levenshtein(a_text, b_text) AS dist
        |  FROM a JOIN b USING (block))
        |WHERE dist <= 2 GROUP BY 1""".stripMargin),

    GradedQuery("cube_agg", (s, dir) =>
      // the cube twin of rollup_agg: all four grouping sets in one pass
      groupingSetsAgg(Tables.lineitem(s, dir).cube("l_returnflag",
        "l_linestatus")),
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),

    GradedQuery("rollup_agg", (s, dir) => {
      // grouping-sets coverage: rollup emits (flag,status) / (flag) /
      // () grouping sets in ONE pass — one shuffle, partial aggregation
      // feeding all three levels; gid disambiguates NULL-as-ALL rows
      groupingSetsAgg(Tables.lineitem(s, dir).rollup("l_returnflag",
        "l_linestatus"))
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),

    GradedQuery("window_ranks", (s, dir) => {
      // ranking-function family under one total order (price desc,
      // orderkey tiebreak → every rank function is deterministic)
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        round(percent_rank().over(w), 4).as("prnk"),
        ntile(10).over(w).cast("long").as("decile"))
    },
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  round(percent_rank() OVER w, 4) AS prnk,
        |  CAST(ntile(10) OVER w AS BIGINT) AS decile
        |FROM orders WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin),

    GradedQuery("profile_columns", (s, dir) => {
      // one-pass multi-column data-profiling (the ANALYZE TABLE
      // primitive of an ETL pipeline) + stack() unpivot to one row per
      // column. The multi-distinct agg plans as ONE scan with an
      // Expand (×|cols|) — linear, no per-column rescans; rounding
      // follows the q1 float-sum precedent.
      val aggs = profiledCols.flatMap(c => Seq(
        count(col(c)).as(s"${c}__n"),
        countDistinct(col(c)).as(s"${c}__nd"),
        round(min(col(c)), 4).as(s"${c}__min"),
        round(max(col(c)), 4).as(s"${c}__max"),
        round(avg(col(c)), 4).as(s"${c}__avg")))
      val stacked = s"stack(${profiledCols.length}, " + profiledCols.map(c =>
        s"'$c', ${c}__n, ${c}__nd, ${c}__min, ${c}__max, ${c}__avg")
        .mkString(", ") +
        ") as (column_name, n, n_distinct, min_val, max_val, avg_val)"
      Tables.lineitem(s, dir)
        .agg(aggs.head, aggs.tail: _*)
        .select(expr(stacked))
    },
      profiledCols.map(c =>
        s"""SELECT '$c' AS column_name, count($c) AS n,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  round(min($c), 4) AS min_val, round(max($c), 4) AS max_val,
           |  round(avg($c), 4) AS avg_val FROM lineitem""".stripMargin)
        .mkString("\nUNION ALL\n")),

    GradedQuery("stats_agg", (s, dir) => {
      // statistical-aggregate family (corr / covar / stddev) in one
      // partial-agg pass; correlated pair chosen far from zero so the
      // 4 dp round can't sit on an ulp boundary
      val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(round(corr(col("l_extendedprice"), disc), 4).as("corr_pd"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2)
            .as("covar_qp"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          count(lit(1)).as("n"))
    },
      """SELECT l_returnflag,
        |  round(corr(l_extendedprice, l_extendedprice*(1-l_discount)), 4)
        |    AS corr_pd,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin),

    GradedQuery("set_ops", (s, dir) => {
      // INTERSECT / EXCEPT coverage: both plan as shuffle-deduped
      // semi/anti joins — no driver-side set materialization
      val rich = Tables.supplier(s, dir).where(col("s_acctbal") > 5000)
        .select(col("s_suppkey").as("suppkey"))
      val discounted = Tables.lineitem(s, dir).where(col("l_discount") > 0.05)
        .select(col("l_suppkey").as("suppkey"))
      rich.intersect(discounted).withColumn("op", lit("intersect"))
        .unionByName(rich.except(discounted).withColumn("op", lit("except")))
    },
      """SELECT suppkey, 'intersect' AS op FROM (
        |  SELECT s_suppkey AS suppkey FROM supplier WHERE s_acctbal > 5000
        |  INTERSECT
        |  SELECT l_suppkey AS suppkey FROM lineitem WHERE l_discount > 0.05)
        |UNION ALL
        |SELECT suppkey, 'except' AS op FROM (
        |  SELECT s_suppkey AS suppkey FROM supplier WHERE s_acctbal > 5000
        |  EXCEPT
        |  SELECT l_suppkey AS suppkey FROM lineitem WHERE l_discount > 0.05)""".stripMargin),

    GradedQuery("check_constraints", (s, dir) => {
      // declarative data-quality audit (the Deequ/dbt-test primitive).
      // The three single-table rules share ONE aggregation pass over
      // customer (same no-per-column-rescans standard as
      // profile_columns) and unpivot via stack; only the FK rule needs
      // its own (anti-join) leg.
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val scalar = c.agg(
          (count(lit(1)) - countDistinct(col("c_custkey"))).as("uniq_v"),
          count(when(col("c_name").isNull, 1)).as("nonnull_v"),
          count(when(!col("c_acctbal").between(-1000, 10000), 1))
            .as("range_v"))
        .select(expr("stack(3, " +
          "'customer_custkey_unique', uniq_v, " +
          "'customer_name_nonnull', nonnull_v, " +
          "'customer_acctbal_range', range_v) " +
          "as (constraint_name, n_violations)"))
      val fk = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("orders_custkey_fk").as("constraint_name"),
          col("n_violations"))
      scalar.unionByName(fk)
    },
      """SELECT 'customer_custkey_unique' AS constraint_name,
        |  (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
        |    AS n_violations
        |UNION ALL
        |SELECT 'customer_name_nonnull',
        |  (SELECT count(*) FROM customer WHERE c_name IS NULL)
        |UNION ALL
        |SELECT 'orders_custkey_fk',
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c
        |     WHERE c.c_custkey = o.o_custkey))
        |UNION ALL
        |SELECT 'customer_acctbal_range',
        |  (SELECT count(*) FROM customer
        |   WHERE c_acctbal NOT BETWEEN -1000 AND 10000)""".stripMargin),

    GradedQuery("scd2_upsert", (s, dir) => {
      // type-2 SCD absorb: history = customers (key % 10 != 0) all open
      // since t=0; snapshot drops key % 13 == 0 (deletes), mutates the
      // segment of key % 7 == 0 (changes), and introduces key % 10 == 0
      // (inserts). Batch time 100.
      val (history, snap) = scd2HistorySnap(s, dir)
      Scd2.absorbSnapshot(history, snap, Seq("custkey"), Seq("segment"),
        batchTs = 100L)
    },
      """WITH h AS (SELECT c_custkey AS k, c_mktsegment AS seg
        |  FROM customer WHERE c_custkey % 10 <> 0),
        |s AS (SELECT c_custkey AS k,
        |  CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS seg
        |  FROM customer WHERE c_custkey % 13 <> 0),
        |j AS (SELECT coalesce(h.k, s.k) AS k, h.k IS NOT NULL AS in_h,
        |  s.k IS NOT NULL AS in_s, h.seg AS hseg, s.seg AS sseg
        |  FROM h FULL OUTER JOIN s ON h.k = s.k)
        |SELECT k AS custkey, hseg AS segment, CAST(0 AS BIGINT) AS valid_from,
        |  CASE WHEN NOT in_s OR hseg <> sseg THEN CAST(100 AS BIGINT) END AS valid_to
        |FROM j WHERE in_h
        |UNION ALL
        |SELECT k, sseg, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
        |FROM j WHERE in_s AND (NOT in_h OR hseg <> sseg)""".stripMargin),

    GradedQuery("scd2_asof_snapshot", (s, dir) => {
      // point-in-time AS OF through the absorbed history — the query a
      // type-2 dimension exists to answer — composed into the segment
      // CHURN MATRIX between two instants (t=50 pre-batch, t=150
      // post-batch): the oracle derives the matrix DIRECTLY from the
      // raw tables, so the graded compare proves absorb + asOf are
      // jointly a faithful temporal store, not just self-consistent
      val (history, snap) = scd2HistorySnap(s, dir)
      val hist = Scd2.absorbSnapshot(history, snap,
        Seq("custkey"), Seq("segment"), batchTs = 100L)
      val before = Scd2.asOf(hist, 50L)
        .select(col("custkey"), col("segment").as("seg_b"))
      val after = Scd2.asOf(hist, 150L)
        .select(col("custkey"), col("segment").as("seg_a"))
      before.join(after, Seq("custkey"), "full")
        .groupBy(coalesce(col("seg_b"), lit("<absent>")).as("seg_before"),
          coalesce(col("seg_a"), lit("<absent>")).as("seg_after"))
        .agg(count(lit(1)).as("n_keys"))
    },
    // the churn matrix derived DIRECTLY from the raw tables — the
    // absorb+asOf composition must reproduce it end to end
      """WITH h AS (SELECT c_custkey AS k, c_mktsegment AS seg
        |  FROM customer WHERE c_custkey % 10 <> 0),
        |s AS (SELECT c_custkey AS k,
        |  CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED'
        |    ELSE c_mktsegment END AS seg
        |  FROM customer WHERE c_custkey % 13 <> 0)
        |SELECT coalesce(h.seg, '<absent>') AS seg_before,
        |  coalesce(s.seg, '<absent>') AS seg_after,
        |  count(*) AS n_keys
        |FROM h FULL JOIN s ON s.k = h.k GROUP BY 1, 2""".stripMargin),

    GradedQuery("value_histogram", (s, dir) => {
      // fixed-width histogram by pure arithmetic (portable bucket
      // formula — identical float ops in both engines; no width_bucket
      // dependency), capped top bucket
      Tables.events(s, dir)
        .groupBy(least(floor(col("value") / 10), lit(19)).cast("long")
          .as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    },
      """SELECT CAST(least(floor(value/10), 19) AS BIGINT) AS bucket,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin),

    GradedQuery("sample_exact_k", (s, dir) => {
      // deterministic exact-k-per-stratum sample (md5-rank permutation)
      Curation.sampleExactK(Tables.documents(s, dir), "doc_id", "lang",
        k = 40)
    },
      """WITH r AS (SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk FROM r
        |WHERE rk <= 40""".stripMargin),

    GradedQuery("skew_join_salted", (s, dir) => {
      // the salted hot-key join graded against the PLAIN join oracle
      // (salting must not change results): 1/3 of lineitem lands on
      // key 0 by construction — the shape AQE skew splitting can't fix
      // when the skew is in a build side or AQE is off
      val large = Tables.lineitem(s, dir).select(
        when(col("l_orderkey") % 3 === 0, lit(0L))
          .otherwise(col("l_suppkey") % 25).cast("long").as("k"),
        col("l_quantity"))
      val small = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("k"), col("n_name"))
      SkewJoin.saltedJoin(large, small, Seq("k"), buckets = 8)
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
    },
    // the oracle is the PLAIN join — salting must be invisible
      """WITH l AS (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0
        |  ELSE l_suppkey % 25 END AS k, l_quantity FROM lineitem),
        |n AS (SELECT n_nationkey AS k, n_name FROM nation)
        |SELECT n_name, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM l JOIN n USING (k) GROUP BY 1""".stripMargin),

    GradedQuery("quantile_stats", (s, dir) => {
      // exact per-group quantile family (sort-based percentile, NOT the
      // sketch path — that's Sketches.eventProfile's bounded-error contract)
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.25)"), 4).as("q1"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("med"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("q3"),
          count(lit(1)).as("n"))
        .withColumn("iqr", round(col("q3") - col("q1"), 4))
    },
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS q1,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS med,
        |  round(quantile_cont(l_quantity, 0.75), 4) AS q3,
        |  count(*) AS n,
        |  round(round(quantile_cont(l_quantity, 0.75), 4)
        |    - round(quantile_cont(l_quantity, 0.25), 4), 4) AS iqr
        |FROM lineitem GROUP BY 1""".stripMargin),

    GradedQuery("feature_winsorize", (s, dir) => {
      // winsorized per-group stats: clip at the exact p05/p95 quantiles
      // (rounded 4 dp once — events_rfm discipline), then exact-integer
      // sums of the clipped values (x100 cents scale) so the aggregate
      // is order-free
      val li = Tables.lineitem(s, dir)
      val b = li.groupBy(col("l_returnflag").as("rf"))
        .agg(round(expr("percentile(l_extendedprice, 0.05)"), 4).as("lo"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("hi"))
      li.join(broadcast(b), col("l_returnflag") === col("rf"))
        .select(col("l_returnflag"),
          round(greatest(least(col("l_extendedprice"), col("hi")),
            col("lo")) * 100).cast("long").as("wc"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("wc").as("sum_wins_c"))
        .select(col("l_returnflag"), col("n"), col("sum_wins_c"),
          (col("sum_wins_c").cast("double") / col("n") / 100.0)
            .as("mean_wins"))
    },
      """WITH b AS (SELECT l_returnflag AS rf,
        |  round(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS hi
        |  FROM lineitem GROUP BY 1),
        |w AS (SELECT l_returnflag,
        |  CAST(round(greatest(least(l_extendedprice, hi), lo) * 100)
        |    AS BIGINT) AS wc
        |  FROM lineitem JOIN b ON l_returnflag = rf)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(wc) AS BIGINT) AS sum_wins_c,
        |  CAST(CAST(sum(wc) AS BIGINT) AS DOUBLE) / count(*) / 100.0
        |    AS mean_wins
        |FROM w GROUP BY 1""".stripMargin),

    GradedQuery("sample_reservoir", (s, dir) => {
      // weighted reservoir (Efraimidis-Spirakis A-ES) over documents,
      // weight = n_chars: k largest u^(1/w) ⇔ k SMALLEST −ln(u)/w, as
      // ×10⁶-scaled exact longs (md5-derived u — deterministic draw),
      // selected by TakeOrderedAndProject per-partition heaps
      Curation.weightedReservoir(Tables.documents(s, dir), "doc_id",
        col("n_chars"), k = 100)
    },
    // A-ES keys re-derived from the md5 uniform; u = (24 hex bits +
    // 0.5)/2^24 is EXACT in doubles (power-of-two divisor), ln is the
    // only libm call and the ×10⁶ rounding absorbs its last ulp
      """WITH k AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |  CAST(round(-ln((CAST(CAST('0x' ||
        |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
        |      AS DOUBLE) + 5e-1) / 16777216e0) / n_chars * 1e6)
        |    AS BIGINT) AS key6 FROM documents)
        |SELECT rank, doc_id, w, key6 FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY key6, doc_id)
        |    AS BIGINT) AS rank, doc_id, w, key6 FROM k)
        |WHERE rank <= 100""".stripMargin),
  )
}

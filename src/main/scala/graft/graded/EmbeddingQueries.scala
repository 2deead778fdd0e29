package graft
package graded

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._

/** Embedding graded queries: brute-force, IVF, PQ and LSH search,
  * recall audits, k-means and embedding statistics. */
private[graft] object EmbeddingQueries {

  /** DOUBLE[] literal for a float vector, as DuckDB SQL. */
  private def vecLit(cv: Array[Float]): String =
    cv.map(_.toDouble.toString).mkString("[", ", ", "]")

  /** Coarse-quantizer distance rows (one SELECT per centroid over CTE
    * `v`) — shared by the ann_ivf / ann_ivf_pq / dedup_semantic oracles
    * so the coarse-assignment derivation cannot drift between them. */
  private def coarseDistRows(cents: Array[Array[Float]]): String =
    cents.zipWithIndex.map { case (cv, ci) =>
      s"SELECT vec_id, $ci AS c, ${Similarity.selfDot(cv)} - " +
        s"2*list_dot_product(vv, ${vecLit(cv)}) AS d FROM v"
    }.mkString("\n  UNION ALL ")

  /** Full IVF assign/probe/score/top-k oracle over the fixed 16×64
    * quantizer — ONE derivation shared by ann_ivf, ann_ivf_probe_disk
    * and ann_ivf_probe_batch (which differ only in WHERE the assignment
    * cost is paid and in the query-batch predicate), so the probe
    * arithmetic cannot drift between the in-memory, build-once and
    * probe-many twins. `queryPred` filters `p.vec_id` to the batch. */
  private def ivfProbeOracle(queryPred: String): String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |d AS (
       |  ${coarseDistRows(Similarity.ivfQuantizer(16, 64))}),
       |rnk AS (SELECT vec_id, c,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d),
       |asn AS (SELECT a.vec_id AS corpus_id, a.c AS list_id, vv AS cv
       |  FROM rnk a JOIN v ON v.vec_id = a.vec_id WHERE a.rn = 1),
       |prb AS (SELECT p.vec_id AS query_id, p.c AS list_id, vv AS qv
       |  FROM rnk p JOIN v ON v.vec_id = p.vec_id
       |  WHERE p.rn <= 2 AND $queryPred),
       |s AS (SELECT query_id, corpus_id,
       |  round(CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) > 0
       |    THEN list_dot_product(qv,cv) /
       |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
       |    ELSE 0 END, 6) AS cos_sim
       |  FROM prb JOIN asn USING (list_id) WHERE corpus_id <> query_id)
       |SELECT query_id, corpus_id, cos_sim, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, corpus_id) AS BIGINT) AS rank FROM s)
       |WHERE rank <= 5""".stripMargin

  /** The per-(vec, subspace, centroid) PQ assignment-distance rows over
    * CTE `v` — ONE derivation shared by [[pqAdcOracle]] and the
    * distortion oracle so the code-assignment arithmetic cannot drift
    * between the search and audit twins. */
  private def pqAsnRows: String = {
    val cbs = Similarity.pqQuantizer(8, 16, 8)
    (for { m <- 0 until 8; j <- 0 until 16 } yield {
      val cv = cbs(m)(j)
      s"SELECT vec_id, $m AS m, $j AS j, ${Similarity.selfDot(cv)} - " +
        s"2*list_dot_product(list_slice(vv, ${m * 8 + 1}, ${m * 8 + 8}), " +
        s"${vecLit(cv)}) AS d FROM v"
    }).mkString("\n  UNION ALL ")
  }

  /** PQ ADC oracle skeleton over the fixed 8×16×8 codebooks: `v` +
    * caller CTEs + code assignment (`pqa`/`codes`) + codebook table
    * (`cb`) + caller `contrib` body + pivot + left-to-right fold +
    * top-k. Shared verbatim by ann_pq and ann_ivf_pq — one derivation,
    * no drift (the gopherCtes copy-divergence failure mode). `extraCtes`
    * must be empty or end with `,\n`-style termination ready to precede
    * the next CTE. */
  private def pqAdcOracle(extraCtes: String, contribSql: String): String = {
    val cbs = Similarity.pqQuantizer(8, 16, 8)
    val asnRows = pqAsnRows
    val cbRows = (for { m <- 0 until 8; j <- 0 until 16 } yield {
      val cv = cbs(m)(j)
      s"SELECT $m AS m, $j AS j, ${Similarity.selfDot(cv)} AS sd, " +
        s"${vecLit(cv)} AS cv"
    }).mkString("\n  UNION ALL ")
    val pivotCols = (0 until 8)
      .map(m => s"max(CASE WHEN m = $m THEN dm END) AS d$m").mkString(", ")
    val ltrSum = (1 until 8).foldLeft("d0")((acc, m) => s"($acc + d$m)")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |${extraCtes}pqa AS (
       |  $asnRows),
       |codes AS (SELECT vec_id, m, j AS code FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |    ORDER BY d, j) AS rn FROM pqa) WHERE rn = 1),
       |cb AS (
       |  $cbRows),
       |contrib AS ($contribSql),
       |piv AS (SELECT query_id, corpus_id, $pivotCols
       |  FROM contrib GROUP BY 1, 2),
       |d AS (SELECT query_id, corpus_id, round($ltrSum, 6) AS pq_dist FROM piv)
       |SELECT query_id, corpus_id, pq_dist, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY pq_dist, corpus_id) AS BIGINT) AS rank FROM d)
       |WHERE rank <= 5""".stripMargin
  }

  val queries: Seq[GradedQuery] = Seq(

    GradedQuery("ann_cosine_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id"), col("cos_sim"),
          col("rank").cast("long").as("rank"))
    },
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings),
        |s AS (SELECT query_id, corpus_id,
        |  round(CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) > 0
        |    THEN list_dot_product(qv,cv) /
        |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
        |    ELSE 0 END, 6) AS cos_sim
        |  FROM q, c WHERE corpus_id <> query_id)
        |SELECT query_id, corpus_id, cos_sim, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, corpus_id) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 5""".stripMargin),

    GradedQuery("ann_filtered", (s, dir) => {
      // metadata-filtered top-k ("nearest WITHIN my label") — the
      // predicate-push feature separating a vector DB from a vector
      // index; post-filtering an unfiltered top-k under-returns when
      // the predicate is selective. The filter is an EQUI-JOIN key —
      // the scalable shape (Similarity.cosineTopKFiltered)
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopKFiltered(emb,
          emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("corpus_id"), col("cos_sim"),
          col("rank").cast("long").as("rank"))
    },
    // the cosine CTEs with the label equi-filter in the pair source
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
        |  label FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv,
        |  label FROM embeddings),
        |s AS (SELECT query_id, corpus_id,
        |  round(CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) > 0
        |    THEN list_dot_product(qv,cv) /
        |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
        |    ELSE 0 END, 6) AS cos_sim
        |  FROM q JOIN c ON c.label = q.label
        |  WHERE corpus_id <> query_id)
        |SELECT query_id, corpus_id, cos_sim, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, corpus_id) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 5""".stripMargin),

    GradedQuery("knn_classify", (s, dir) => {
      // kNN classification: label each held-out vector by majority vote
      // of its 5 nearest labeled neighbors (vote ties break to the
      // lower label — a total order both engines share); brute-force
      // cosine is the graded baseline, the IVF path is the scale route
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") % 50 =!= 0)
      val queries0 = emb.filter(col("vec_id") % 50 === 0)
      val nn = Similarity.cosineTopK(corpus, queries0, "vec_id",
          "embedding", k = 5)
        .join(corpus.select(col("vec_id").as("corpus_id"), col("label")),
          "corpus_id")
      nn.groupBy("query_id", "label").agg(count(lit(1)).as("n_votes"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("n_votes").desc, col("label").asc)))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("label").cast("long").as("predicted"),
          col("n_votes"))
    },
    // same scoring CTEs, corpus restricted to labeled rows, majority
    // vote with the (votes desc, label asc) total order
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS corpus_id, label,
        |  CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id % 50 <> 0),
        |s AS (SELECT query_id, corpus_id, label,
        |  round(CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) > 0
        |    THEN list_dot_product(qv,cv) /
        |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
        |    ELSE 0 END, 6) AS cos_sim
        |  FROM q, c),
        |nn AS (SELECT query_id, label FROM (
        |  SELECT query_id, label, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, corpus_id) AS rank FROM s)
        |  WHERE rank <= 5),
        |v AS (SELECT query_id, label, count(*) AS n_votes
        |  FROM nn GROUP BY 1, 2)
        |SELECT query_id, CAST(label AS BIGINT) AS predicted, n_votes
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY n_votes DESC, label) AS rk FROM v)
        |WHERE rk = 1""".stripMargin),

    GradedQuery("ann_ivf", (s, dir) => {
      // IVF search against fixed md5-derived quantizer points, so the
      // DuckDB oracle can embed the centroids as literals (production
      // passes ivfTrain output; the assignment/probe/score plan — the
      // part that runs at corpus scale — is identical either way)
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfSearch(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", Similarity.ivfQuantizer(16, 64),
          k = 5, nprobe = 2)
        .select(col("query_id"), col("corpus_id"), col("cos_sim"),
          col("rank").cast("long").as("rank"))
    },
      ivfProbeOracle("p.vec_id % 50 = 0")),

    GradedQuery("ann_ivf_probe_disk", (s, dir) => {
      // build-once/probe-many (VERDICT r12 item 3): the inverted lists
      // persist as a parquet table BUCKETED on list_id
      // (Similarity.ivfWriteIndex — the writeBucketed discipline), and
      // the probe reads them back with ZERO exchange on the index side
      // (bucketed scan + broadcast query side; spec-asserted). Same
      // results as ann_ivf — what changes is WHERE the corpus-sized
      // assignment cost is paid: once at write time, not per probe.
      // buckets = 64 ≫ the 16 lists (r14 sf10 finding): a bucketed READ
      // coalesces each bucket to ONE task, and hash(list_id) at
      // buckets == lists collides 2-3 hot lists into one bucket — a
      // single task then spill-sorts their whole scored frame (431 s vs
      // 107 s for the unbucketed twin at sf10). Spreading lists over 4x
      // the buckets restores probe-side parallelism at zero cost.
      val emb = Tables.embeddings(s, dir)
      val cent = Similarity.ivfQuantizer(16, 64)
      val table = Similarity.ivfIndexTable(dir)
      Similarity.ivfEnsureIndex(emb, "vec_id", "embedding", cent,
        table = table, buckets = 64)
      Similarity.ivfProbeIndex(s, table,
          emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          cent, k = 5, nprobe = 2)
        .select(col("query_id"), col("corpus_id"), col("cos_sim"),
          col("rank").cast("long").as("rank"))
    },
    // probe-from-disk is result-identical to ann_ivf (only WHERE the
    // assignment cost is paid changes — write time vs probe time), so
    // the oracle replays the same assignment/probe/score chain
      ivfProbeOracle("p.vec_id % 50 = 0")),

    GradedQuery("ann_ivf_probe_batch", (s, dir) => {
      // probe-MANY over the SAME persisted index (VERDICT r13 item 2):
      // reuses the dataset-keyed bucketed table ann_ivf_probe_disk
      // builds (ivfEnsureIndex — first caller in the session pays the
      // corpus-sized assignment write, every later batch is probe-only),
      // and answers a ~7x larger query batch in one job. The plan is the
      // amortized serving shape: bucketed index scan with ZERO
      // index-side exchange, broadcast query side, per-query top-k.
      val emb = Tables.embeddings(s, dir)
      val cent = Similarity.ivfQuantizer(16, 64)
      val table = Similarity.ivfIndexTable(dir)
      Similarity.ivfEnsureIndex(emb, "vec_id", "embedding", cent,
        table = table, buckets = 64)
      Similarity.ivfProbeIndex(s, table,
          emb.filter(col("vec_id") % 7 === 3), "vec_id", "embedding",
          cent, k = 5, nprobe = 2)
        .select(col("query_id"), col("corpus_id"), col("cos_sim"),
          col("rank").cast("long").as("rank"))
    },
    // probe-many: the same persisted index answering a ~7x larger
    // query batch — the oracle differs only in the batch predicate
      ivfProbeOracle("p.vec_id % 7 = 3")),

    GradedQuery("ann_recall_audit", (s, dir) => {
      // recall@5 of the IVF index against the brute-force truth — the
      // index-quality audit every ANN deployment needs before trusting
      // the fast path (FAISS's recall-vs-nprobe curve, one point);
      // integers + one rounded division, both paths' derivations
      // already graded individually (ann_cosine_topk / ann_ivf)
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val brute = Similarity.cosineTopK(emb, queries, "vec_id",
        "embedding", k = 5).select("query_id", "corpus_id")
      val ivf = Similarity.ivfSearch(emb, queries, "vec_id", "embedding",
          Similarity.ivfQuantizer(16, 64), k = 5, nprobe = 2)
        .select("query_id", "corpus_id")
      val hits = brute.join(ivf, Seq("query_id", "corpus_id"))
      brute.agg(countDistinct("query_id").as("n_queries"),
          count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
        .select(col("n_queries"), col("n_truth"), col("n_hits"),
          round(lit(10000.0) * col("n_hits") / col("n_truth"))
            .cast("long").as("recall4"))
    },
    // IVF twin: the 16 quantizer centroids as double literals; same
    // |c|²−2·v·c assignment key (ties to lowest centroid id), same
    // nprobe=2 probe, same within-list cosine + rank
    // both paths' CTE chains verbatim (ann_cosine_topk + ann_ivf),
    // joined on the (query, corpus) pair and collapsed to recall@5
      {
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
           |bq AS (SELECT vec_id AS query_id, vv AS qv FROM v
           |  WHERE vec_id % 50 = 0),
           |bs AS (SELECT query_id, vec_id AS corpus_id,
           |  round(CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(vv,vv)) > 0
           |    THEN list_dot_product(qv,vv) /
           |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(vv,vv)))
           |    ELSE 0 END, 6) AS cos_sim
           |  FROM bq, v WHERE vec_id <> query_id),
           |brute AS (SELECT query_id, corpus_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos_sim DESC, corpus_id) AS rank FROM bs)
           |  WHERE rank <= 5),
           |d AS (
           |  ${coarseDistRows(Similarity.ivfQuantizer(16, 64))}),
           |rnk AS (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d),
           |asn AS (SELECT a.vec_id AS corpus_id, a.c AS list_id, vv AS cv
           |  FROM rnk a JOIN v ON v.vec_id = a.vec_id WHERE a.rn = 1),
           |prb AS (SELECT p.vec_id AS query_id, p.c AS list_id, vv AS qv
           |  FROM rnk p JOIN v ON v.vec_id = p.vec_id
           |  WHERE p.rn <= 2 AND p.vec_id % 50 = 0),
           |ivs AS (SELECT query_id, corpus_id,
           |  round(CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) > 0
           |    THEN list_dot_product(qv,cv) /
           |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
           |    ELSE 0 END, 6) AS cos_sim
           |  FROM prb JOIN asn USING (list_id) WHERE corpus_id <> query_id),
           |ivf AS (SELECT query_id, corpus_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos_sim DESC, corpus_id) AS rank FROM ivs)
           |  WHERE rank <= 5),
           |h AS (SELECT count(*) AS n_hits FROM brute JOIN ivf
           |  USING (query_id, corpus_id))
           |SELECT (SELECT count(DISTINCT query_id) FROM brute) AS n_queries,
           |  (SELECT count(*) FROM brute) AS n_truth, n_hits,
           |  CAST(round(10000.0 * n_hits /
           |    (SELECT count(*) FROM brute)) AS BIGINT) AS recall4
           |FROM h""".stripMargin
      }),

    GradedQuery("ann_pq", (s, dir) => {
      // product-quantization ADC search against fixed codebooks (literal
      // constants, like ann_ivf, so the DuckDB twin re-derives codes and
      // distances from the same values); production trains per-subspace
      // k-means and composes with the IVF lists (IVF-PQ)
      val emb = Tables.embeddings(s, dir)
      Similarity.pqSearch(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", Similarity.pqQuantizer(8, 16, 8), k = 5)
        .select(col("query_id"), col("corpus_id"), col("pq_dist"),
          col("rank").cast("long").as("rank"))
    },
      pqAdcOracle("",
        """SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, c.m,
          |  cb.sd - 2*list_dot_product(list_slice(q.vv, c.m*8+1, c.m*8+8), cb.cv) AS dm
          |  FROM (SELECT * FROM v WHERE vec_id % 50 = 0) q
          |  JOIN codes c ON c.vec_id <> q.vec_id
          |  JOIN cb ON cb.m = c.m AND cb.j = c.code""".stripMargin)),

    GradedQuery("pq_distortion", (s, dir) => {
      // per-subspace quantization MSE of the ann_pq codebooks — the
      // compression-quality audit (ann_recall_audit grades what the
      // index returns; this grades what the codes LOSE; a subspace
      // whose MSE dwarfs the rest is where OPQ would rotate): kernel
      // projection + posexplode + one 8-row partial agg, corpus
      // scanned once (Similarity.pqDistortionStats)
      Similarity.pqDistortionStats(Tables.embeddings(s, dir), "vec_id",
        "embedding", Similarity.pqQuantizer(8, 16, 8))
    },
    // the shared pqAsnRows assignment; dmin = the argmin VALUE,
    // |v_m|² via the same list_dot_product the assignment rows use;
    // ×10⁶ rounded per (vec, subspace) before any sum
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
         |  FROM embeddings),
         |pqa AS (
         |  $pqAsnRows),
         |dmin AS (SELECT vec_id, m, min(d) AS dmin FROM pqa
         |  GROUP BY 1, 2),
         |sv AS (SELECT vec_id, u.m AS m, list_dot_product(
         |    list_slice(vv, u.m*8 + 1, u.m*8 + 8),
         |    list_slice(vv, u.m*8 + 1, u.m*8 + 8)) AS sd
         |  FROM v, LATERAL unnest(generate_series(0, 7)) u(m)),
         |t AS (SELECT d.vec_id, d.m,
         |  CAST(round((sv.sd + d.dmin) * 1000000.0) AS BIGINT) AS d6
         |  FROM dmin d JOIN sv ON sv.vec_id = d.vec_id
         |    AND sv.m = d.m),
         |a AS (SELECT CAST(m AS BIGINT) AS sub, count(*) AS n_vecs,
         |  CAST(sum(d6) AS BIGINT) AS sum_d6 FROM t GROUP BY 1)
         |SELECT sub, n_vecs, sum_d6,
         |  CAST(round(CAST(sum_d6 AS DOUBLE) / CAST(n_vecs AS DOUBLE))
         |    AS BIGINT) AS mse6
         |FROM a""".stripMargin),

    GradedQuery("ann_ivf_pq", (s, dir) => {
      // the IVFADC composition SURVEY §2 claims: ivfSearch's nprobe
      // inverted lists restrict pqSearch's ADC scan; fixed quantizer +
      // codebooks as literal constants so the DuckDB twin re-derives
      // every list, code and score from the same values
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqSearch(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", Similarity.ivfQuantizer(16, 64),
          Similarity.pqQuantizer(8, 16, 8), k = 5, nprobe = 2)
        .select(col("query_id"), col("corpus_id"), col("pq_dist"),
          col("rank").cast("long").as("rank"))
    },
      {
        // coarse quantizer CTEs (the ann_ivf derivation) restrict the
        // shared PQ ADC skeleton to the probed lists via `cand`
        val coarse =
          s"""cd AS (
             |  ${coarseDistRows(Similarity.ivfQuantizer(16, 64))}),
             |crnk AS (SELECT vec_id, c,
             |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM cd),
             |asnl AS (SELECT vec_id AS corpus_id, c AS list_id FROM crnk WHERE rn = 1),
             |prb AS (SELECT vec_id AS query_id, c AS list_id FROM crnk
             |  WHERE rn <= 2 AND vec_id % 50 = 0),
             |cand AS (SELECT query_id, corpus_id
             |  FROM prb JOIN asnl USING (list_id) WHERE corpus_id <> query_id),
             |""".stripMargin
        pqAdcOracle(coarse,
          """SELECT ca.query_id, ca.corpus_id, c.m,
            |  cb.sd - 2*list_dot_product(list_slice(q.vv, c.m*8+1, c.m*8+8), cb.cv) AS dm
            |  FROM cand ca
            |  JOIN v q ON q.vec_id = ca.query_id
            |  JOIN codes c ON c.vec_id = ca.corpus_id
            |  JOIN cb ON cb.m = c.m AND cb.j = c.code""".stripMargin)
      }),

    GradedQuery("ann_lsh_bucketed", (s, dir) => {
      Similarity.lshBuckets(Tables.embeddings(s, dir), "vec_id", "embedding",
          numPlanes = 8, dim = 64)
        .select(col("vec_id"), col("bucket"))
    },
    // sign-LSH buckets: the 8 hyperplanes are driver-side constants,
    // embedded as exact double literals; same dot products, same signs
      {
        val planes = (0 until 8).map(i =>
          Similarity.planeVec(i, 64).map(_.toDouble.toString).mkString("[", ", ", "]"))
        val bits = planes.zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), $p) > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        s"""SELECT vec_id, CAST($bits AS BIGINT) AS bucket FROM embeddings"""
      }),

    GradedQuery("dedup_semantic", (s, dir) => {
      // SemDeDup: within-cluster pairwise cosine against the fixed
      // quantizer (literal centroids, like ann_ivf, so the DuckDB twin
      // re-derives assignment + pairs from the same constants)
      Similarity.semanticDupPairs(Tables.embeddings(s, dir), "vec_id",
          "embedding", Similarity.ivfQuantizer(16, 64), minCos = 0.3)
        .select(col("cluster").cast("long").as("cluster"), col("id_a"),
          col("id_b"), col("cos_sim"))
    },
      {
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
           |d AS (
           |  ${coarseDistRows(Similarity.ivfQuantizer(16, 64))}),
           |rnk AS (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d),
           |asn AS (SELECT a.vec_id, a.c AS cluster, vv
           |  FROM rnk a JOIN v USING (vec_id) WHERE a.rn = 1),
           |sz AS (SELECT cluster, count(*) AS csz FROM asn GROUP BY 1),
           |bnd AS (SELECT asn.* FROM asn JOIN sz USING (cluster) WHERE csz <= 4096),
           |p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(CASE WHEN sqrt(list_dot_product(a.vv,a.vv)) * sqrt(list_dot_product(b.vv,b.vv)) > 0
           |    THEN list_dot_product(a.vv,b.vv) /
           |      (sqrt(list_dot_product(a.vv,a.vv)) * sqrt(list_dot_product(b.vv,b.vv)))
           |    ELSE 0 END, 6) AS cos_sim
           |  FROM bnd a JOIN bnd b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
           |SELECT CAST(cluster AS BIGINT) AS cluster, id_a, id_b, cos_sim
           |FROM p WHERE cos_sim >= 0.3""".stripMargin
      }),

    GradedQuery("embedding_stats", (s, dir) => {
      // higher-order array functions on the graded surface: per-vector
      // fold (aggregate lambda) + array_max, narrow per-row work; the
      // per-vector sum is rounded and int-scaled BEFORE the per-label
      // mean so the group aggregation is order-free (surprisal pattern)
      Tables.embeddings(s, dir)
        .select(col("label"),
          expr("CAST(round(aggregate(embedding, 0D, " +
            "(acc, x) -> acc + CAST(x AS DOUBLE)) * 10000) AS BIGINT)")
            .as("s4"),
          expr("round(CAST(array_max(embedding) AS DOUBLE), 4)").as("mx"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(sum(col("s4")) / 10000.0 / count(lit(1)), 4).as("avg_sum"),
          round(max(col("mx")), 4).as("max_comp"))
    },
      """WITH v AS (SELECT label,
        |  CAST(round(list_sum(CAST(embedding AS DOUBLE[])) * 10000)
        |    AS BIGINT) AS s4,
        |  round(list_max(CAST(embedding AS DOUBLE[])), 4) AS mx
        |  FROM embeddings)
        |SELECT label, count(*) AS n,
        |  round(sum(s4)/10000.0/count(*), 4) AS avg_sum,
        |  round(max(mx), 4) AS max_comp
        |FROM v GROUP BY 1""".stripMargin),

    GradedQuery("embed_kmeans_step", (s, dir) => {
      // one full-corpus Lloyd iteration against the fixed quantizer
      // (literal centroids, like ann_ivf, so the DuckDB twin re-derives
      // assignment and means from the same constants)
      Similarity.kmeansStep(Tables.embeddings(s, dir), "embedding",
        Similarity.ivfQuantizer(16, 64))
    },
    // same coarse-assignment CTEs as ann_ivf; per-component sums as
    // exact scaled integers (the order-free aggregation discipline)
      {
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
           |d AS (
           |  ${coarseDistRows(Similarity.ivfQuantizer(16, 64))}),
           |rnk AS (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d),
           |asn AS (SELECT a.c, vv FROM rnk a
           |  JOIN v ON v.vec_id = a.vec_id WHERE a.rn = 1),
           |comp AS (SELECT c, u.i AS dim,
           |  CAST(round(vv[CAST(u.i + 1 AS INT)] * 1000000) AS BIGINT) AS sx
           |  FROM asn, LATERAL unnest(generate_series(0, len(vv) - 1)) u(i))
           |SELECT CAST(c AS BIGINT) AS c, CAST(dim AS BIGINT) AS dim,
           |  count(*) AS n,
           |  CAST(sum(sx) AS DOUBLE) / count(*) / 1000000.0 AS mean
           |FROM comp GROUP BY 1, 2""".stripMargin
      }),

    GradedQuery("embed_matryoshka_audit", (s, dir) => {
      // Matryoshka (MRL, Kusupati et al. 2022) truncation audit:
      // recall@5 of retrieval on the 16-dim embedding PREFIX against
      // the full-64-dim truth — the measured answer to "can the index
      // store a quarter of the vector" (the storage/quality knob every
      // embedding deployment tunes). Both paths reuse the graded
      // cosineTopK machinery (6-dp rounded similarity, corpus_id
      // tiebreak — ties deterministic cross-engine); integers + one
      // rounded division, the recall-audit family shape.
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      def trunc(df: DataFrame) = df.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val brute = Similarity.cosineTopK(emb, queries, "vec_id",
        "embedding", k = 5).select("query_id", "corpus_id")
      val pfx = Similarity.cosineTopK(trunc(emb), trunc(queries),
        "vec_id", "embedding", k = 5).select("query_id", "corpus_id")
      val hits = brute.join(pfx, Seq("query_id", "corpus_id"))
      brute.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
        .select(col("n_truth"), col("n_hits"),
          round(lit(10000.0) * col("n_hits") / col("n_truth"))
            .cast("long").as("recall4"))
    },
    // the ann_recall_audit shape with the prefix path scored on
    // list-sliced vectors ([1:16] — DuckDB 1-based inclusive slice =
    // Spark slice(col, 1, 16))
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |bq AS (SELECT vec_id AS query_id, vv AS qv FROM v
        |  WHERE vec_id % 50 = 0),
        |bs AS (SELECT query_id, vec_id AS corpus_id,
        |  round(CASE WHEN sqrt(list_dot_product(qv,qv))
        |      * sqrt(list_dot_product(vv,vv)) > 0
        |    THEN list_dot_product(qv,vv) /
        |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(vv,vv)))
        |    ELSE 0 END, 6) AS cos_sim
        |  FROM bq, v WHERE vec_id <> query_id),
        |brute AS (SELECT query_id, corpus_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, corpus_id) AS rank FROM bs)
        |  WHERE rank <= 5),
        |ts AS (SELECT query_id, vec_id AS corpus_id,
        |  round(CASE WHEN sqrt(list_dot_product(qv[1:16],qv[1:16]))
        |      * sqrt(list_dot_product(vv[1:16],vv[1:16])) > 0
        |    THEN list_dot_product(qv[1:16],vv[1:16]) /
        |      (sqrt(list_dot_product(qv[1:16],qv[1:16]))
        |        * sqrt(list_dot_product(vv[1:16],vv[1:16])))
        |    ELSE 0 END, 6) AS cos_sim
        |  FROM bq, v WHERE vec_id <> query_id),
        |pfx AS (SELECT query_id, corpus_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, corpus_id) AS rank FROM ts)
        |  WHERE rank <= 5),
        |hits AS (SELECT b.query_id FROM brute b
        |  JOIN pfx USING (query_id, corpus_id))
        |SELECT CAST((SELECT count(*) FROM brute) AS BIGINT) AS n_truth,
        |  CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
        |  CAST(round(10000.0 * (SELECT count(*) FROM hits)
        |    / (SELECT count(*) FROM brute)) AS BIGINT) AS recall4""".stripMargin),

    GradedQuery("embed_power_iteration", (s, dir) => {
      // top principal direction after 2 distributed power iterations;
      // the 64-value result frame is driver-built (the bounded-collect
      // ivfTrain discipline), everything heavy ran as Spark jobs
      import s.implicits._
      Similarity.powerIteration(Tables.embeddings(s, dir), "embedding",
          dim = 64, iterations = 2)
        .zipWithIndex.map { case (x, d) => (d.toLong, x) }.toSeq
        .toDF("dim", "loading")
    },
    // the same two chained matvec iterations; v0 = [0.125]*64 exactly,
    // norms via list_reduce over ORDER BY dim (mirrors the driver's
    // dim-order fold; IEEE sqrt is correctly rounded, so the whole
    // normalization chain is bit-exact)
      {
        val v0 = Seq.fill(64)("0.125").mkString("[", ", ", "]")
        s"""WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
           |r1 AS (SELECT vv, list_dot_product(vv, $v0) AS s FROM v),
           |w1 AS (SELECT u.i AS dim, CAST(sum(CAST(round(
           |    vv[CAST(u.i + 1 AS INT)] * s * 1e9) AS BIGINT)) AS BIGINT) AS w9
           |  FROM r1, LATERAL unnest(generate_series(0, 63)) u(i) GROUP BY 1),
           |n1 AS (SELECT sqrt(list_reduce(
           |    list((CAST(w9 AS DOUBLE)/1e9) * (CAST(w9 AS DOUBLE)/1e9)
           |      ORDER BY dim), (a, b) -> a + b)) AS nrm FROM w1),
           |v1 AS (SELECT list(CAST(w9 AS DOUBLE)/1e9/nrm ORDER BY dim) AS vl
           |  FROM w1, n1),
           |r2 AS (SELECT vv, list_dot_product(vv, vl) AS s FROM v, v1),
           |w2 AS (SELECT u.i AS dim, CAST(sum(CAST(round(
           |    vv[CAST(u.i + 1 AS INT)] * s * 1e9) AS BIGINT)) AS BIGINT) AS w9
           |  FROM r2, LATERAL unnest(generate_series(0, 63)) u(i) GROUP BY 1),
           |n2 AS (SELECT sqrt(list_reduce(
           |    list((CAST(w9 AS DOUBLE)/1e9) * (CAST(w9 AS DOUBLE)/1e9)
           |      ORDER BY dim), (a, b) -> a + b)) AS nrm FROM w2)
           |SELECT CAST(dim AS BIGINT) AS dim,
           |  CAST(w9 AS DOUBLE)/1e9/nrm AS loading
           |FROM w2, n2""".stripMargin
      }),

    GradedQuery("embed_dim_variance", (s, dir) => {
      // per-dimension variance screen (feature selection: drop the
      // lowest-variance embedding dims before indexing): mean and
      // second moment as EXACT scaled-integer sums (x1e6 components,
      // their squares summed as 1e12-scale longs — order-free; at true
      // 100 TB row counts the square sums would need a 1e3 scale or a
      // two-level agg to stay under 2^63, noted in kind), variance =
      // E[x^2] - E[x]^2 assembled from the exact sums in one identical
      // expression both engines
      val emb = Tables.embeddings(s, dir)
      val sx = emb.select(posexplode(col("embedding")))
        .select(col("pos").cast("long").as("dim"),
          round(col("col").cast("double") * 1000000).cast("long").as("xs"))
        .groupBy("dim").agg(count(lit(1)).as("n"),
          sum("xs").as("s1"), sum(col("xs") * col("xs")).as("s2"))
      TopK.ranked(sx.select(col("dim"), col("n"),
          (col("s2").cast("double") / col("n") / 1e12
            - (col("s1").cast("double") / col("n") / 1e6)
              * (col("s1").cast("double") / col("n") / 1e6)).as("variance")),
          10, col("variance").desc, col("dim").asc)
        .select("rank", "dim", "n", "variance")
    },
    // e-notation literals (1e6/1e12) are DOUBLE in DuckDB — bare
    // decimal literals would be DECIMAL (the pagerank lesson)
      """WITH x AS (SELECT CAST(u.i AS BIGINT) AS dim,
        |  CAST(round(vv[CAST(u.i + 1 AS INT)] * 1e6) AS BIGINT) AS xs
        |  FROM (SELECT CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
        |  LATERAL unnest(generate_series(0, len(vv) - 1)) u(i)),
        |s AS (SELECT dim, count(*) AS n, CAST(sum(xs) AS BIGINT) AS s1,
        |  CAST(sum(xs * xs) AS BIGINT) AS s2 FROM x GROUP BY 1),
        |v AS (SELECT dim, n, CAST(s2 AS DOUBLE) / n / 1e12
        |  - (CAST(s1 AS DOUBLE) / n / 1e6)
        |    * (CAST(s1 AS DOUBLE) / n / 1e6) AS variance FROM s)
        |SELECT rank, dim, n, variance FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY variance DESC, dim)
        |    AS BIGINT) AS rank, dim, n, variance FROM v)
        |WHERE rank <= 10""".stripMargin),

    GradedQuery("embed_sq8", (s, dir) => {
      // int8 scalar-quantization audit: per-dim ranges + reconstruction
      // MSE — the SQ8-vs-PQ decision input
      Similarity.sq8Audit(Tables.embeddings(s, dir), "embedding")
    },
    // the dequant expression appears twice (squared) — duplicated
    // text evaluates to the identical double both times, matching the
    // Spark side's reused Column
      """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |cells AS (SELECT u.i AS dim,
        |  CAST(round(vv[CAST(u.i + 1 AS INT)] * 1000000) AS BIGINT) AS v6
        |  FROM v, LATERAL unnest(generate_series(0, len(vv) - 1)) u(i)),
        |rg AS (SELECT dim, min(v6) AS min6, max(v6) AS max6
        |  FROM cells GROUP BY 1),
        |er AS (SELECT c.dim, CAST(round(
        |  (min6 + (CASE WHEN max6 - min6 > 0
        |     THEN round(255.0 * (v6 - min6) / (max6 - min6))
        |     ELSE 0.0 END) * (max6 - min6) / 255.0 - v6)
        |  * (min6 + (CASE WHEN max6 - min6 > 0
        |     THEN round(255.0 * (v6 - min6) / (max6 - min6))
        |     ELSE 0.0 END) * (max6 - min6) / 255.0 - v6)) AS BIGINT)
        |    AS esq, min6, max6
        |  FROM cells c JOIN rg ON rg.dim = c.dim)
        |SELECT CAST(dim AS BIGINT) AS dim, min(min6) AS min6,
        |  max(max6) AS max6, count(*) AS n,
        |  CAST(sum(esq) AS DOUBLE) / count(*) AS mse6sq
        |FROM er GROUP BY 1""".stripMargin),

    GradedQuery("embed_mmd", (s, dir) => {
      // linear-kernel MMD² between even and odd vec_id slices — the
      // two-sample distribution-shift audit over the embedding corpus
      Similarity.linearMmd(Tables.embeddings(s, dir), "embedding",
        col("vec_id") % 2 === 0)
    },
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |comp AS (SELECT vec_id % 2 = 0 AS ga, u.i AS dim,
        |  CAST(round(vv[CAST(u.i + 1 AS INT)] * 1000000) AS BIGINT) AS v6
        |  FROM v, LATERAL unnest(generate_series(0, len(vv) - 1)) u(i)),
        |p AS (SELECT dim,
        |  sum(CASE WHEN ga THEN v6 END) AS sa,
        |  sum(CASE WHEN ga THEN 1 ELSE 0 END) AS na,
        |  sum(CASE WHEN NOT ga THEN v6 END) AS sb,
        |  sum(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS nb
        |  FROM comp GROUP BY 1),
        |t AS (SELECT na, nb, CAST(round(
        |  (CAST(sa AS DOUBLE)/na/1000000.0 - CAST(sb AS DOUBLE)/nb/1000000.0)
        |  * (CAST(sa AS DOUBLE)/na/1000000.0 - CAST(sb AS DOUBLE)/nb/1000000.0)
        |  * 100000000) AS BIGINT) AS t8
        |  FROM p)
        |SELECT count(*) AS n_dims, CAST(max(na) AS BIGINT) AS n_a,
        |  CAST(max(nb) AS BIGINT) AS n_b, CAST(sum(t8) AS BIGINT) AS mmd8
        |FROM t""".stripMargin),

    GradedQuery("embed_covariance", (s, dir) => {
      // leading-8-dims covariance matrix (upper triangle) — the
      // pre-whitening redundancy screen; exact ×10⁶/×10¹² scaled-long
      // moments, dims²-bounded output
      Similarity.dimCovariance(Tables.embeddings(s, dir), "embedding",
        dims = 8)
    },
    // upper-triangle covariance from the same ×10⁶ scaled-long
    // components as embed_dim_variance; cross products sum exactly at
    // ×10¹² scale, cov assembles in the identical literal sequence
      """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
        |p AS (SELECT ui.i AS i, uj.j AS j,
        |  CAST(round(vv[CAST(ui.i + 1 AS INT)] * 1e6) AS BIGINT) AS xi,
        |  CAST(round(vv[CAST(uj.j + 1 AS INT)] * 1e6) AS BIGINT) AS xj
        |  FROM v, LATERAL unnest(generate_series(0, 7)) ui(i),
        |  LATERAL unnest(generate_series(0, 7)) uj(j)
        |  WHERE uj.j >= ui.i),
        |s AS (SELECT i, j, count(*) AS n, CAST(sum(xi) AS BIGINT) AS si,
        |  CAST(sum(xj) AS BIGINT) AS sj,
        |  CAST(sum(xi * xj) AS BIGINT) AS sij FROM p GROUP BY 1, 2)
        |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, n,
        |  CAST(sij AS DOUBLE) / n / 1e12
        |    - (CAST(si AS DOUBLE) / n / 1e6)
        |      * (CAST(sj AS DOUBLE) / n / 1e6) AS cov
        |FROM s""".stripMargin),

    GradedQuery("embed_norm_outliers", (s, dir) => {
      // per-label embedding-norm outlier census (the cheap corruption
      // screen before any ANN build: a batch of near-zero or exploded
      // norms is a failed encoder run, caught per label before cosine
      // hides it): norms ×10⁴-round to exact longs so the moment sums
      // are order-free; the 2σ flag is the ALL-INTEGER comparison
      // (n·x − S)² > 4·(n·SS − S²) evaluated in decimal(38) — Spark
      // decimal vs DuckDB hugeint, both exact, no float boundary.
      val e = Tables.embeddings(s, dir).select(col("label"),
        round(Similarity.norm(col("embedding")) * 10000).cast("long")
          .as("x4"))
      val stats = e.groupBy("label").agg(
        count(lit(1)).as("n"), sum("x4").as("s"),
        sum(col("x4") * col("x4")).as("ss"))
      // n·x−S fits a long (≤ 2e10 at graded scales); the SQUARES and
      // n·SS − S² do not — promote to decimal(38) BEFORE multiplying
      // (the embed_dim_variance overflow lesson; DuckDB runs the same
      // chain in HUGEINT)
      def dec(c: Column) = c.cast("decimal(38,0)")
      val dev = dec(col("n") * col("x4") - col("s"))
      val varTerm = dec(col("n")) * dec(col("ss")) - dec(col("s")) * dec(col("s"))
      e.join(broadcast(stats), "label")
        .select(col("label"), col("n"), col("s"),
          when(dev * dev > varTerm * 4, 1L).otherwise(0L).as("flag"))
        .groupBy("label").agg(
          first("n").as("n"), first("s").as("sum_norm4"),
          sum("flag").as("n_outliers"))
    },
    // norms x1e4-rounded to exact ints; the 2-sigma flag chain runs
    // in HUGEINT exactly as Spark runs it in decimal(38)
      """WITH e AS (SELECT label, CAST(round(10000 * sqrt(
        |    list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[])))) AS BIGINT) AS x4
        |  FROM embeddings),
        |st AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x4) AS BIGINT) AS s,
        |  CAST(sum(x4*x4) AS BIGINT) AS ss FROM e GROUP BY 1),
        |f AS (SELECT e.label, n, s,
        |  CASE WHEN CAST(n*x4 - s AS HUGEINT) * CAST(n*x4 - s AS HUGEINT)
        |    > 4 * (CAST(n AS HUGEINT) * CAST(ss AS HUGEINT)
        |      - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
        |    THEN 1 ELSE 0 END AS flag
        |  FROM e JOIN st USING (label))
        |SELECT label, any_value(n) AS n, any_value(s) AS sum_norm4,
        |  CAST(sum(flag) AS BIGINT) AS n_outliers
        |FROM f GROUP BY 1""".stripMargin),

    GradedQuery("embed_ivf_balance", (s, dir) => {
      // IVF inverted-list load audit over the fixed quantizer the ANN
      // family shares: load4 = count·numC/total ×10⁴ per list, empty
      // lists emitted as zero rows (dead centroids are the finding) —
      // the sizing feedback loop next to ann_recall_audit's quality one
      Similarity.ivfListBalance(Tables.embeddings(s, dir),
        "vec_id", "embedding", Similarity.ivfQuantizer(16, 64))
    },
    // IVF balance: the ann_ivf assignment chain (argmin by (d, c)
    // over the same centroid literals), then the numC-domain left
    // join so empty lists surface as zero rows
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |d AS (
         |  ${coarseDistRows(Similarity.ivfQuantizer(16, 64))}),
         |rnk AS (SELECT vec_id, c,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d),
         |cnt AS (SELECT c AS list_id, count(*) AS n_vecs FROM rnk
         |  WHERE rn = 1 GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM cnt),
         |ls AS (SELECT unnest(generate_series(0, 15)) AS list_id)
         |SELECT CAST(ls.list_id AS BIGINT) AS list_id,
         |  CAST(coalesce(cnt.n_vecs, 0) AS BIGINT) AS n_vecs,
         |  CAST(round(10000.0 * (coalesce(cnt.n_vecs, 0) * 16)
         |    / CAST(total AS DOUBLE)) AS BIGINT) AS load4
         |FROM ls LEFT JOIN cnt ON cnt.list_id = ls.list_id, tot""".stripMargin),
  )
}

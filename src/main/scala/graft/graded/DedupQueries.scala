package graft
package graded

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

import Derivations._

/** Dedup, decontamination, sketch and graph graded queries; the graph
  * queries run over the near-dup pair graph the dedup queries build. */
private[graft] object DedupQueries {

  /** The confirmed near-dup pair frame (3-shingle jaccard ≥ 0.2 inside
    * [[docBlockCol]] blocks) — ONE Spark-side derivation for every
    * registration grading against the shared `jaccardPairCtes` oracle
    * CTEs (dedup_ngram_jaccard, dedup_groups, graph_degree_hist,
    * graph_pagerank), mirroring the oracle-side sharing so the pair
    * graph cannot drift between its consumers. */
  private def docJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
      blockCol = docBlockCol, n = 3, minJaccard = 0.2)

  /** Both orientations of an undirected near-dup pair frame in ONE
    * pass: union(select(a,b), select(b,a)) embeds the pairs subtree
    * TWICE in the plan, and only the exchanges below it are reused —
    * the verify-side join + intersect kernel re-ran per child (guide
    * §2.4 "remove shuffles/passes outright"). explode duplicates each
    * row after it is computed, so the derivation runs once. */
  private def bothDirs(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** The 3-round LPA label chain over the near-dup graph, ending in
    * `l3(id, label)` — ONE derivation shared by the graph_label_prop
    * and graph_modularity oracles so the round arithmetic cannot drift
    * between the labeling and its quality audit. Splice after `WITH`. */
  private def lpaCtes: String =
    s"""$jaccardPairCtes,
       |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jp
       |  UNION ALL SELECT id_b, id_a FROM jp),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |l0 AS (SELECT id, id AS label FROM nodes),
       |a1 AS (SELECT e.dst AS id, l.label, count(*) AS cnt
       |  FROM e JOIN l0 l ON l.id = e.src GROUP BY 1, 2),
       |b1 AS (SELECT id, label FROM (SELECT id, label, row_number()
       |  OVER (PARTITION BY id ORDER BY cnt DESC, label) AS rn
       |  FROM a1) WHERE rn = 1),
       |l1 AS MATERIALIZED (SELECT l.id, coalesce(b.label, l.label) AS label
       |  FROM l0 l LEFT JOIN b1 b ON b.id = l.id),
       |a2 AS (SELECT e.dst AS id, l.label, count(*) AS cnt
       |  FROM e JOIN l1 l ON l.id = e.src GROUP BY 1, 2),
       |b2 AS (SELECT id, label FROM (SELECT id, label, row_number()
       |  OVER (PARTITION BY id ORDER BY cnt DESC, label) AS rn
       |  FROM a2) WHERE rn = 1),
       |l2 AS MATERIALIZED (SELECT l.id, coalesce(b.label, l.label) AS label
       |  FROM l1 l LEFT JOIN b2 b ON b.id = l.id),
       |a3 AS (SELECT e.dst AS id, l.label, count(*) AS cnt
       |  FROM e JOIN l2 l ON l.id = e.src GROUP BY 1, 2),
       |b3 AS (SELECT id, label FROM (SELECT id, label, row_number()
       |  OVER (PARTITION BY id ORDER BY cnt DESC, label) AS rn
       |  FROM a3) WHERE rn = 1),
       |l3 AS MATERIALIZED (SELECT l.id, coalesce(b.label, l.label) AS label
       |  FROM l2 l LEFT JOIN b3 b ON b.id = l.id)""".stripMargin

  /** Rare-shingle candidate + intersection CTE prefix ending in
    * `inter(id_a, id_b, n_inter)` + `sizes(doc_id, n_sh)`, parameterized
    * by the blocking-key SQL — shared by the jaccard family (lang +
    * length-band block) and the containment query (lang-only block: a
    * contained doc and its container sit in different length bands by
    * construction). Splice after `WITH`. */
  private def shingleCtes(blockSql: String): String =
    s"""t AS (SELECT doc_id, $blockSql AS block,
       |  $normTextSql AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, block, substr(t, CAST(i AS INT), 3) AS sh
       |  FROM (SELECT doc_id, block, t, unnest(generate_series(1, length(t)-2)) AS i
       |    FROM t WHERE length(t) >= 3)),
       |dfreq AS (SELECT block, sh, count(*) AS dfreq FROM sh GROUP BY block, sh),
       |rare AS (SELECT s.doc_id, s.block, s.sh FROM sh s
       |  JOIN dfreq d ON d.block = s.block AND d.sh = s.sh WHERE d.dfreq <= 8),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM rare a JOIN rare b ON a.block = b.block AND a.sh = b.sh
       |    AND a.doc_id < b.doc_id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
       |  GROUP BY c.id_a, c.id_b),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)""".stripMargin

  /** Rare-shingle-blocked jaccard CTE block ending in
    * `jp(id_a, id_b, n_inter, n_a, n_b, jaccard)` (confirmed near-dup
    * pairs at threshold 0.2) — shared by the dedup_ngram_jaccard and
    * dedup_groups oracles so the pair derivation cannot drift. Splice
    * after `WITH`. */
  private def jaccardPairCtes: String =
    s"""${shingleCtes(docBlockSql)},
       |jp AS (SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
       |  round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.2)""".stripMargin

  /** Minhash band-membership CTE block ending in
    * `bands(doc_id, band, k0..k3)` — the explicit md5-window signature
    * derivation; shared by the minhash pair oracles and decontam_fuzzy
    * so the signature derivation cannot drift. Splice after `WITH`. */
  private def minhashBandCtes: String = {
    val mins = (0 until 16).map { i =>
      val d = if (i < 8) "d1" else "d2"
      s"min(CAST('0x' || substr($d, ${(i % 8) * 3 + 1}, 8) AS BIGINT)) AS h$i"
    }.mkString(",\n  ")
    val bandRows = (0 until 4).map { b =>
      val hs = (0 until 4).map(j => s"h${b * 4 + j} AS k${j}").mkString(", ")
      s"SELECT doc_id, $b AS band, $hs FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""t AS (SELECT doc_id, $normTextSql AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 3) AS sh
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t)-2)) AS i
       |    FROM t WHERE length(t) >= 3)),
       |h AS (SELECT doc_id, sh, md5(sh) AS d1, md5('x' || sh) AS d2 FROM sh),
       |sig AS (SELECT doc_id,
       |  $mins
       |FROM h GROUP BY doc_id),
       |bands AS (
       |  $bandRows)""".stripMargin
  }

  /** [[minhashBandCtes]] extended to candidate pairs `prs(id_a, id_b)`
    * (bucket-size cap then in-bucket expansion) — shared by the
    * dedup_minhash_pairs oracle. Splice after `WITH`. */
  private def minhashPairCtes: String =
    s"""$minhashBandCtes,
       |sz AS (SELECT band, k0, k1, k2, k3, count(*) AS n FROM bands
       |  GROUP BY band, k0, k1, k2, k3),
       |bb AS (SELECT bands.* FROM bands
       |  JOIN sz USING (band, k0, k1, k2, k3) WHERE sz.n <= 4096),
       |prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bb a JOIN bb b ON a.band = b.band AND a.k0 = b.k0
       |  AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.k3 = b.k3
       |  AND a.doc_id < b.doc_id)""".stripMargin

  /** Benchmark-decontamination oracle at word gram size `n` — the
    * explicit unnest/join derivation the Spark kernel path must match;
    * `n` only changes the concatenation width and series bound. */
  private def decontamSql(n: Int): String = {
    val gramExpr = (0 until n)
      .map(i => if (i == 0) "ws[u.g]" else s"ws[u.g+$i]")
      .mkString(" || ' ' || ")
    s"""WITH base AS (SELECT doc_id, $normTextSql AS t FROM documents),
       |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM base),
       |g AS (SELECT DISTINCT doc_id,
       |  $gramExpr AS gram
       |  FROM w, LATERAL unnest(generate_series(1, len(ws)-${n - 1})) u(g)),
       |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM g JOIN b USING (gram) WHERE doc_id % 20 <> 0 GROUP BY 1""".stripMargin
  }

  val queries: Seq[GradedQuery] = Seq(

    GradedQuery("dedup_recall_audit", (s, dir) => {
      // LSH quality audit — the dedup twin of ann_recall_audit (the
      // recall-vs-bands curve, one point): did the minhash banding
      // recover the CONFIRMED near-dup pairs (exact jaccard ≥ 0.2
      // inside blocks — the graded truth frame)? recall = hits/truth;
      // hit_rate = hits/candidates (a diagnostic, not precision — the
      // banded candidates are a recall-oriented superset by design).
      // Both input derivations are already graded individually
      // (dedup_minhash_pairs / dedup_ngram_jaccard); integers + two
      // rounded divisions.
      // ONE full-outer pass computes all three counts: the old shape
      // read each derivation twice (hits join + its own count agg) and
      // re-ran the verify/signature compute per reference (guide §2.4).
      // Both sides are unique per (id_a, id_b) by construction (pair
      // join output / candidates end in distinct), so flag sums over
      // the full-outer join equal the standalone counts exactly.
      val truth = docJaccardPairs(s, dir).select("id_a", "id_b")
        .withColumn("t", lit(1L))
      val cand = Dedup.minhashCandidates(Tables.documents(s, dir),
        "doc_id", "text", numHashes = 16, rowsPerBand = 4,
        shingleLen = 3).select("id_a", "id_b").withColumn("c", lit(1L))
      truth.join(cand, Seq("id_a", "id_b"), "full_outer")
        .agg(coalesce(sum("t"), lit(0L)).as("n_truth"),
          coalesce(sum("c"), lit(0L)).as("n_cand"),
          coalesce(sum(col("t") * col("c")), lit(0L)).as("n_hits"))
        .select(col("n_truth"), col("n_cand"), col("n_hits"),
          round(lit(10000.0) * col("n_hits") / col("n_truth"))
            .cast("long").as("recall4"),
          round(lit(10000.0) * col("n_hits") / col("n_cand"))
            .cast("long").as("hit_rate4"))
    },
    // the minhash candidate CTEs at the top level, the jaccard truth
    // as a NESTED WITH (both families define t/sh with different
    // shapes — nesting scopes the names instead of renaming a shared
    // derivation other oracles grade against)
      s"""WITH $minhashPairCtes,
        |truth AS (WITH $jaccardPairCtes
        |  SELECT id_a, id_b FROM jp),
        |hits AS (SELECT t.id_a, t.id_b FROM truth t
        |  JOIN prs USING (id_a, id_b))
        |SELECT
        |  CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
        |  CAST((SELECT count(*) FROM prs) AS BIGINT) AS n_cand,
        |  CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
        |  CAST(round(10000.0 * (SELECT count(*) FROM hits)
        |    / (SELECT count(*) FROM truth)) AS BIGINT) AS recall4,
        |  CAST(round(10000.0 * (SELECT count(*) FROM hits)
        |    / (SELECT count(*) FROM prs)) AS BIGINT) AS hit_rate4""".stripMargin),

    GradedQuery("dedup_embedding", (s, dir) => {
      // banded multi-table LSH (4×16 planes): bounded buckets, candidate
      // dedup before the single exact-scoring pass — the 100 TB shape
      Similarity.lshNearestSelfBanded(Tables.embeddings(s, dir), "vec_id",
          "embedding", k = 1, dim = 64)
        .select(col("query_id"), col("corpus_id").as("nearest_id"), col("cos_sim"))
    },
    // banded LSH self-ANN twin: 4 tables × 16 planes as double literals,
    // same mega-bucket drop, pair dedup, exact cosine, top-1
      {
        def planeLit(i: Int) = Similarity.planeVec(i, 64)
          .map(_.toDouble.toString).mkString("[", ", ", "]")
        def bucketExpr(t: Int) = (0 until 16).map { i =>
          s"(CASE WHEN list_dot_product(v, ${planeLit(t * 16 + i)}) > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        val tables = (0 until 4).map(t =>
          s"SELECT vec_id, $t AS t, CAST(${bucketExpr(t)} AS BIGINT) AS bucket FROM b")
          .mkString("\nUNION ALL ")
        s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |tb AS ($tables),
           |sz AS (SELECT t, bucket, count(*) AS n FROM tb GROUP BY t, bucket),
           |tb2 AS (SELECT tb.vec_id, tb.t, tb.bucket FROM tb
           |  JOIN sz USING (t, bucket) WHERE sz.n <= 1024),
           |cand AS (SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS corpus_id
           |  FROM tb2 a JOIN tb2 c ON a.t = c.t AND a.bucket = c.bucket
           |    AND a.vec_id <> c.vec_id),
           |s AS (SELECT query_id, corpus_id,
           |  round(CASE WHEN sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c2.v, c2.v)) > 0
           |    THEN list_dot_product(q.v, c2.v) /
           |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c2.v, c2.v)))
           |    ELSE 0 END, 6) AS cos_sim
           |  FROM cand JOIN b q ON q.vec_id = cand.query_id
           |  JOIN b c2 ON c2.vec_id = cand.corpus_id)
           |SELECT query_id, corpus_id AS nearest_id, cos_sim FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos_sim DESC, corpus_id) AS rn FROM s) WHERE rn = 1""".stripMargin
      }),

    GradedQuery("dedup_exact", (s, dir) => {
      Tables.documents(s, dir)
        .select(md5(Dedup.normText(col("text"))).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("n_docs"))
        .groupBy("n_docs").agg(count(lit(1)).as("n_groups"))
    },
      s"""SELECT n_docs, count(*) AS n_groups FROM (
         |  SELECT md5($normTextSql) AS fp, count(*) AS n_docs
         |  FROM documents GROUP BY 1)
         |GROUP BY n_docs""".stripMargin),

    GradedQuery("dedup_ngram_jaccard", (s, dir) => {
      docJaccardPairs(s, dir)
        .select(col("id_a"), col("id_b"), col("n_inter").cast("long"),
          col("n_a").cast("long"), col("n_b").cast("long"), col("jaccard"))
    },
      s"""WITH $jaccardPairCtes
         |SELECT id_a, id_b, n_inter, n_a, n_b, jaccard FROM jp""".stripMargin),

    GradedQuery("dedup_jaccard_hist", (s, dir) => {
      // similarity histogram of the confirmed pairs — the
      // threshold-tuning curve every dedup deployment reads before
      // picking its cut (a mass bulge just above the current threshold
      // says the cut is arbitrary; a bimodal split says it's safe).
      // Buckets derive from the INTEGERIZED jaccard (j4 = round×10⁴,
      // already the graded rounding) — bucket = j4 DIV 1000, so no
      // float×10-floor boundary can disagree cross-engine.
      val j4 = round(col("jaccard") * 10000).cast("long")
      docJaccardPairs(s, dir)
        .select((j4 / lit(1000L)).cast("long").as("bucket"), j4.as("j4"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"),
          min("j4").as("min_j4"), max("j4").as("max_j4"))
    },
    // buckets from the integerized jaccard (j4 DIV 1000) — no
    // float×10 floor boundary
      s"""WITH $jaccardPairCtes,
         |j AS (SELECT CAST(round(jaccard * 10000) AS BIGINT) AS j4
         |  FROM jp)
         |SELECT j4 // 1000 AS bucket, count(*) AS n_pairs,
         |  CAST(min(j4) AS BIGINT) AS min_j4,
         |  CAST(max(j4) AS BIGINT) AS max_j4
         |FROM j GROUP BY 1""".stripMargin),

    GradedQuery("dedup_minhash", (s, dir) => {
      Dedup.minhashSignature(Tables.documents(s, dir), "doc_id", "text",
        numHashes = 16, shingleLen = 3)
    },
    // minhash signature re-derived from the same md5 windows: families
    // 0-7 = stride-3 8-hex windows of md5(sh), 8-15 of md5('x'||sh)
    // signature table straight off the shared band CTE block (the
    // unreferenced bands CTE costs nothing — DuckDB only materializes
    // CTEs the final query reaches)
      s"""WITH $minhashBandCtes
         |SELECT doc_id, ${(0 until 16).map(i => s"h$i").mkString(", ")}
         |FROM sig""".stripMargin),

    GradedQuery("dedup_minhash_pairs", (s, dir) => {
      // the banded candidate join — the stage that would go quadratic if
      // banding were wrong; graded against a DuckDB twin that re-derives
      // the band groups from the same md5-window signatures
      Dedup.minhashCandidates(Tables.documents(s, dir), "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, shingleLen = 3)
    },
    // banded-candidate twin: same signatures; a band matches when all 4
    // of its minhashes agree, so the oracle joins on the raw band values
    // (Spark's xxhash64 band bucket is only a shuffle-key compaction);
    // same maxBucket=4096 mega-bucket drop per band group
      s"""WITH $minhashPairCtes
         |SELECT id_a, id_b FROM prs""".stripMargin),

    GradedQuery("dedup_groups", (s, dir) => {
      // pairs → transitive dedup groups: min-label-propagation connected
      // components over the CONFIRMED (jaccard ≥ threshold) near-dup
      // pairs — candidates are a recall-oriented superset that would
      // over-merge groups (and are ~30× denser: 1.6M candidate edges vs
      // ~50k confirmed at sf0.1). Every document gets its component's
      // lowest doc_id as group_id (singletons keep their own id) — the
      // assignment a keep-one-per-group dedup filters on
      Dedup.connectedComponents(docJaccardPairs(s, dir),
        Tables.documents(s, dir), "doc_id")
        .select(col("id").as("doc_id"), col("group_id"))
    },
    // transitive closure of the SAME confirmed-pair derivation: every
    // document's group is the min doc_id reachable over the verified
    // near-dup graph (recursive CTE = the declarative twin of the
    // Spark side's min-label propagation loop)
      s"""WITH RECURSIVE $jaccardPairCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION SELECT id_b AS src, id_a AS dst FROM jp),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.lbl)
         |SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS group_id
         |FROM reach GROUP BY 1""".stripMargin),

    GradedQuery("dedup_simhash", (s, dir) => {
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
    },
    // simhash twin: same md5-derived 60-bit token hashes, ±1 bit votes,
    // sign → bit, top-16-bit blocking key
      {
        val votes = (0 until 60).map(i =>
          s"sum(CASE WHEN (th >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
          .mkString(",\n  ")
        val sig = (0 until 60).map(i =>
          s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
        s"""WITH t AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |tok AS (SELECT doc_id, tk FROM (
           |  SELECT doc_id, unnest(string_split(t, ' ')) AS tk FROM t)
           |  WHERE length(tk) > 0),
           |th AS (SELECT doc_id,
           |  CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) AS th FROM tok),
           |v AS (SELECT doc_id,
           |  $votes
           |  FROM th GROUP BY doc_id),
           |s AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM v)
           |SELECT doc_id, simhash, simhash >> 44 AS bucket FROM s""".stripMargin
      }),

    GradedQuery("dedup_simhash_pairs", (s, dir) => {
      // the pigeonhole-blocked hamming candidate stage — like
      // dedup_minhash_pairs, the part that would go all-pairs if the
      // blocking were wrong
      Dedup.simhashCandidates(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3)
    },
    // pigeonhole-blocked simhash pairs: same signature derivation, 4
    // blocks of 15 bits, same maxBucket cap, exact hamming via
    // bit_count(xor)
      {
        val votes = (0 until 60).map(i =>
          s"sum(CASE WHEN (th >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
          .mkString(",\n  ")
        val sigExpr = (0 until 60).map(i =>
          s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
        val blockRows = (0 until 4).map(b =>
          s"SELECT doc_id, simhash, $b AS blk, (simhash >> ${b * 15}) & 32767 AS key FROM s")
          .mkString("\n  UNION ALL ")
        s"""WITH t AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |tok AS (SELECT doc_id, tk FROM (
           |  SELECT doc_id, unnest(string_split(t, ' ')) AS tk FROM t)
           |  WHERE length(tk) > 0),
           |th AS (SELECT doc_id,
           |  CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) AS th FROM tok),
           |v AS (SELECT doc_id,
           |  $votes
           |  FROM th GROUP BY doc_id),
           |s AS (SELECT doc_id, CAST($sigExpr AS BIGINT) AS simhash FROM v),
           |blocks AS (
           |  $blockRows),
           |sz AS (SELECT blk, key, count(*) AS n FROM blocks GROUP BY blk, key),
           |bb AS (SELECT blocks.* FROM blocks
           |  JOIN sz USING (blk, key) WHERE sz.n BETWEEN 2 AND 4096)
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM bb a JOIN bb b ON a.blk = b.blk AND a.key = b.key
           |  AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
      }),

    GradedQuery("decontam_ngram", (s, dir) => {
      // benchmark decontamination: docs sharing a word 4-gram with the
      // (broadcast) benchmark slice doc_id % 20 == 0
      val docs = Tables.documents(s, dir)
      Curation.decontaminate(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 4)
    },
      decontamSql(4)),

    // the standard published decontamination gram sizes — 13 (GPT-3
    // appendix C) and 8 (PaLM/Chowdhery 2022 §6) — over the same kernel
    // and plan shape as decontam_ngram; longer grams = sparser overlap
    GradedQuery("decontam_ngram8", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.decontaminate(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 8)
    },
      decontamSql(8)),

    GradedQuery("decontam_ngram13", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.decontaminate(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 13)
    },
      decontamSql(13)),

    GradedQuery("decontam_fuzzy", (s, dir) => {
      // near-dup decontamination: training docs sharing a minhash LSH
      // band bucket with the benchmark slice — catches lightly-edited
      // test-set leakage the exact n-gram pass misses
      val docs = Tables.documents(s, dir)
      Curation.decontaminateFuzzy(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text")
    },
    // fuzzy twin over the shared minhash band derivation: train docs
    // whose band k-tuple matches any bench doc's in that band
      s"""WITH $minhashBandCtes,
         |bb AS (SELECT DISTINCT band, k0, k1, k2, k3 FROM bands
         |  WHERE doc_id % 20 = 0)
         |SELECT doc_id, CAST(count(DISTINCT band) AS BIGINT) AS n_bands
         |FROM bands JOIN bb USING (band, k0, k1, k2, k3)
         |WHERE doc_id % 20 <> 0 GROUP BY 1""".stripMargin),

    GradedQuery("dedup_incremental", (s, dir) => {
      // incremental ingest: batch docs surviving near-dup screening
      // against the existing corpus (batch bands broadcast, corpus
      // never shuffles — decontam with build/probe swapped)
      val docs = Tables.documents(s, dir)
      Curation.dedupIncremental(docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0), "doc_id", "text",
          minSharedBands = 3)
        .select("doc_id", "lang")
    },
    // band-match against the corpus slice, survivors anti-joined; the
    // oracle joins raw band minhashes (Spark's xxhash64 bucket is a
    // shuffle-key compaction — the dedup_minhash_pairs precedent)
      s"""WITH $minhashBandCtes,
         |cb AS (SELECT DISTINCT band, k0, k1, k2, k3 FROM bands
         |  WHERE doc_id % 20 <> 0),
         |dropped AS (SELECT doc_id FROM (
         |    SELECT DISTINCT doc_id, band FROM bands
         |    JOIN cb USING (band, k0, k1, k2, k3) WHERE doc_id % 20 = 0)
         |  GROUP BY 1 HAVING count(*) >= 3)
         |SELECT doc_id, lang FROM documents WHERE doc_id % 20 = 0
         |  AND doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin),

    GradedQuery("dedup_chunks", (s, dir) => {
      Dedup.chunkDuplicates(Tables.documents(s, dir), "doc_id", "text",
        width = 100, minDocs = 2)
    },
      s"""WITH d AS (SELECT doc_id, $normTextSql AS t FROM documents),
         |c AS (SELECT doc_id, md5(substr(t, u.pos, 100)) AS chunk_hash
         |  FROM d, LATERAL unnest(generate_series(1, length(t) - 99, 100)) u(pos)
         |  WHERE length(t) >= 100)
         |SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  count(*) AS n_occurrences, min(doc_id) AS min_doc_id
         |FROM c GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin),

    GradedQuery("dedup_containment", (s, dir) => {
      // Broder containment (asymmetric near-dup: short doc inside long
      // doc) — lang-only block so cross-length-band pairs survive
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
          blockCol = col("lang"), n = 3, minContain = 0.5)
        .select(col("id_a"), col("id_b"), col("n_inter"),
          col("contain_a"), col("contain_b"))
    },
    // containment twin: same shingle/candidate machinery as the
    // jaccard family but lang-only block; ratios unrounded (single
    // IEEE divisions of exact integers — bit-identical cross-engine)
      s"""WITH ${shingleCtes("lang")},
         |cp AS (SELECT id_a, id_b, n_inter,
         |  n_inter / sa.n_sh AS contain_a,
         |  n_inter / sb.n_sh AS contain_b
         |  FROM inter JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, n_inter, contain_a, contain_b FROM cp
         |WHERE greatest(contain_a, contain_b) >= 0.5""".stripMargin),

    GradedQuery("graph_degree_hist", (s, dir) => {
      // degree distribution of the confirmed near-dup graph — the graph
      // shape audit run before trusting connected components (a heavy
      // tail predicts mega-components)
      // one explode pass over the pair derivation, not a union whose
      // two children re-run the verify-side compute (guide §2.4)
      docJaccardPairs(s, dir)
        .select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
    },
      s"""WITH $jaccardPairCtes,
         |e AS (SELECT id_a AS id FROM jp UNION ALL SELECT id_b FROM jp),
         |deg AS (SELECT id, count(*) AS degree FROM e GROUP BY 1)
         |SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1""".stripMargin),

    GradedQuery("graph_pagerank", (s, dir) => {
      // 2-iteration PageRank over the undirected near-dup graph (edge
      // frame both directions); per-edge scaled-integer contributions
      // make the propagation order-free, so the oracle chains the SAME
      // two iterations in SQL and the doubles match bit for bit
      TopK.ranked(Graphs.pagerank(bothDirs(docJaccardPairs(s, dir)),
          "src", "dst", iterations = 2),
          20, col("pr").desc, col("id").asc)
        .select("rank", "id", "pr")
    },
    // the same two chained iterations. The teleport term is written
    // (CAST(1.0 AS DOUBLE) - 0.85): DuckDB evaluates bare numeric
    // literals in exact DECIMAL, so (1.0 - 0.85) is decimal 0.15 —
    // one ulp OFF Spark's double subtraction 0.15000000000000002
    // (caught live at r7: ranks 2-3 hashed differently)
      s"""WITH $jaccardPairCtes,
         |e AS (SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION ALL SELECT id_b, id_a FROM jp),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |nn AS (SELECT count(*) AS n_nodes FROM nodes),
         |p0 AS (SELECT id, 1.0 / n_nodes AS pr FROM nodes, nn),
         |c1 AS (SELECT dst, CAST(sum(CAST(round(pr / outdeg
         |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
         |  FROM e JOIN p0 ON p0.id = e.src JOIN deg USING (src)
         |  GROUP BY 1),
         |p1 AS (SELECT dst AS id, (CAST(1.0 AS DOUBLE) - 0.85) / n_nodes
         |    + 0.85 * (s12 / 1000000000000.0) AS pr FROM c1, nn),
         |c2 AS (SELECT dst, CAST(sum(CAST(round(pr / outdeg
         |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
         |  FROM e JOIN p1 ON p1.id = e.src JOIN deg USING (src)
         |  GROUP BY 1),
         |p2 AS (SELECT dst AS id, (CAST(1.0 AS DOUBLE) - 0.85) / n_nodes
         |    + 0.85 * (s12 / 1000000000000.0) AS pr FROM c2, nn)
         |SELECT rank, id, pr FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY pr DESC, id)
         |    AS BIGINT) AS rank, id, pr FROM p2)
         |WHERE rank <= 20""".stripMargin),

    GradedQuery("graph_label_prop", (s, dir) => {
      // 3-round deterministic label propagation (LPA with a total
      // (count desc, label asc) tie order) over the undirected near-dup
      // graph; integer-only, so the oracle chains the same rounds;
      // output = top-20 communities by size
      val labels = Graphs.labelPropagation(
        bothDirs(docJaccardPairs(s, dir)), "src", "dst",
        iterations = 3)
      TopK.ranked(labels.groupBy("label")
          .agg(count(lit(1)).as("n_members")),
          20, col("n_members").desc, col("label").asc)
        .select("rank", "label", "n_members")
    },
      s"""WITH $lpaCtes,
         |g AS (SELECT label, count(*) AS n_members FROM l3 GROUP BY 1)
         |SELECT rank, label, n_members FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY n_members DESC, label)
         |    AS BIGINT) AS rank, label, CAST(n_members AS BIGINT)
         |    AS n_members FROM g)
         |WHERE rank <= 20""".stripMargin),

    GradedQuery("graph_modularity", (s, dir) => {
      // community-QUALITY audit over the 3-round LPA labels (the
      // labeling's graded twin tells you WHAT the communities are;
      // this tells you whether the partition beats random — low Q on
      // a near-dup graph warns the clusters are chains): the
      // all-integer rational form (4m·Σe_c − Σd_c²)/(4m²), one double
      // division (Graphs.modularity)
      // pairs feeds BOTH the LPA rounds and the modularity audit —
      // materialize once so the near-dup derivation runs once, not
      // once per consumer (guide §2.4; the PairGraph discipline)
      val pairs = Graphs.materialize(docJaccardPairs(s, dir))
      val labels = Graphs.labelPropagation(bothDirs(pairs), "src", "dst",
        iterations = 3)
      Graphs.modularity(pairs, "id_a", "id_b", labels)
    },
    // the same 3 LPA rounds chained: adopt = argmax in-neighbor label
    // by (cnt desc, label asc); nodes without adoption keep theirs
    // the shared LPA chain + the all-integer modularity rational
      s"""WITH $lpaCtes,
         |eu AS (SELECT id_a AS u, id_b AS v FROM jp),
         |mm AS (SELECT count(*) AS m FROM eu),
         |ein AS (SELECT count(*) AS e_in FROM eu
         |  JOIN l3 a ON a.id = eu.u JOIN l3 b ON b.id = eu.v
         |  WHERE a.label = b.label),
         |deg AS (SELECT id, count(*) AS deg FROM
         |  (SELECT u AS id FROM eu UNION ALL SELECT v FROM eu)
         |  GROUP BY 1),
         |dc AS (SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS d_c
         |  FROM deg d JOIN l3 l ON l.id = d.id GROUP BY 1),
         |s AS (SELECT count(*) AS n_communities,
         |  CAST(sum(d_c*d_c) AS BIGINT) AS sum_d2 FROM dc)
         |SELECT n_communities, CAST(m AS BIGINT) AS n_edges,
         |  CAST(round(1000000.0 * (4*m*e_in - sum_d2) / (4*m*m))
         |    AS BIGINT) AS modularity6
         |FROM mm CROSS JOIN ein CROSS JOIN s""".stripMargin),

    GradedQuery("corpus_dup_sources", (s, dir) => {
      // near-dup pair census by SOURCE pair — the corpus-governance
      // readout of the dedup family ("which feeds duplicate each
      // other" drives crawl dedup priorities and licensing reviews):
      // confirmed jaccard pairs annotated with both docs' sources (two
      // doc-keyed joins), normalized (least, greatest) so the matrix is
      // upper-triangular, rolled up to source-pair counts with a
      // density rate8 = pairs / possible-pairs ×10⁸ (within-source uses
      // n·(n−1)/2, cross-source n_a·n_b — both exact, one rounded
      // division); per-source doc counts broadcast.
      val pairs = docJaccardPairs(s, dir)
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        col("source"))
      val withSrc = pairs
        .join(docs.select(col("doc_id").as("id_a"),
          col("source").as("sa")), "id_a")
        .join(docs.select(col("doc_id").as("id_b"),
          col("source").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val possible = when(col("src_a") === col("src_b"),
        col("n_docs_a") * (col("n_docs_a") - 1) / lit(2))
        .otherwise(col("n_docs_a") * col("n_docs_b"))
      withSrc.groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
        .join(broadcast(counts.select(col("source").as("src_a"),
          col("n_docs").as("n_docs_a"))), "src_a")
        .join(broadcast(counts.select(col("source").as("src_b"),
          col("n_docs").as("n_docs_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_pairs"),
          col("n_docs_a"), col("n_docs_b"),
          round(lit(100000000.0) * col("n_pairs") / possible)
            .cast("long").as("rate8"))
    },
    // jaccard pairs annotated with both sources, (least, greatest)
    // normalized; possible-pair denominators exact in both engines
      s"""WITH $jaccardPairCtes,
         |ds AS (SELECT doc_id, source FROM documents),
         |ps AS (SELECT least(a.source, b.source) AS src_a,
         |  greatest(a.source, b.source) AS src_b
         |  FROM jp JOIN ds a ON a.doc_id = jp.id_a
         |  JOIN ds b ON b.doc_id = jp.id_b),
         |g AS (SELECT src_a, src_b, count(*) AS n_pairs
         |  FROM ps GROUP BY 1, 2),
         |cnt AS (SELECT source, count(*) AS n_docs FROM ds GROUP BY 1)
         |SELECT g.src_a, g.src_b, g.n_pairs,
         |  ca.n_docs AS n_docs_a, cb.n_docs AS n_docs_b,
         |  CAST(round(100000000.0 * g.n_pairs
         |    / (CASE WHEN g.src_a = g.src_b
         |      THEN ca.n_docs * (ca.n_docs - 1) / 2
         |      ELSE ca.n_docs * cb.n_docs END)) AS BIGINT) AS rate8
         |FROM g JOIN cnt ca ON ca.source = g.src_a
         |JOIN cnt cb ON cb.source = g.src_b""".stripMargin),

    GradedQuery("graph_edge_jaccard", (s, dir) => {
      // per-edge common-neighbor Jaccard over the near-dup graph — the
      // link-prediction edge-strength screen (bridges read 0, intra-
      // cluster edges high); candidates bounded by the wedge count
      // (Graphs.edgeJaccard)
      val pairs = docJaccardPairs(s, dir)
      Graphs.edgeJaccard(pairs, "id_a", "id_b")
    },
    // wedge join + closing-edge probe; union size via du+dv−common
    // (denominator ≥ 2 structurally)
      s"""WITH $jaccardPairCtes,
         |e AS (SELECT id_a AS u, id_b AS v FROM jp),
         |adj AS (SELECT u AS id, v AS nb FROM e
         |  UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT id, count(*) AS deg FROM adj GROUP BY 1),
         |cn AS (SELECT e.u, e.v, count(*) AS n_common
         |  FROM e JOIN adj a ON a.id = e.u AND a.nb <> e.v
         |  JOIN e e2 ON e2.u = least(e.v, a.nb)
         |    AND e2.v = greatest(e.v, a.nb)
         |  GROUP BY 1, 2)
         |SELECT e.u AS id_a, e.v AS id_b,
         |  coalesce(cn.n_common, 0) AS n_common,
         |  du.deg AS deg_a, dv.deg AS deg_b,
         |  CAST(round(10000.0 * coalesce(cn.n_common, 0)
         |    / (du.deg + dv.deg - coalesce(cn.n_common, 0)))
         |    AS BIGINT) AS jacc4
         |FROM e LEFT JOIN cn ON cn.u = e.u AND cn.v = e.v
         |JOIN deg du ON du.id = e.u
         |JOIN deg dv ON dv.id = e.v""".stripMargin),

    GradedQuery("graph_assortativity", (s, dir) => {
      // degree assortativity of the near-dup graph (Newman 2002): do
      // dup clusters attach through hubs or through low-degree bridge
      // docs (the chain-merge shape)? One node-sized degree frame +
      // one ONE-ROW moment agg (Graphs.degreeAssortativity) — the
      // global scalar twin of graph_edge_jaccard's per-edge screen.
      Graphs.degreeAssortativity(docJaccardPairs(s, dir), "id_a", "id_b")
    },
    // both orientations of every unique pair symmetrize the moment
    // sums; all moments exact BIGINT, one double division at the end
      s"""WITH $jaccardPairCtes,
         |e AS (SELECT id_a AS u, id_b AS v FROM jp),
         |deg AS (SELECT id, count(*) AS deg FROM
         |  (SELECT u AS id FROM e UNION ALL SELECT v FROM e)
         |  GROUP BY 1),
         |ends AS (SELECT du.deg AS dx, dv.deg AS dy FROM e
         |  JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v
         |  UNION ALL SELECT dv.deg, du.deg FROM e
         |  JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
         |m AS (SELECT count(*) AS m, sum(dx) AS sx, sum(dy) AS sy,
         |  sum(dx*dx) AS sxx, sum(dy*dy) AS syy,
         |  sum(dx*dy) AS sxy FROM ends)
         |SELECT (SELECT count(*) FROM deg) AS n_nodes,
         |  (SELECT count(*) FROM e) AS n_edges,
         |  CASE WHEN m*sxx - sx*sx > 0 AND m*syy - sy*sy > 0 THEN
         |    CAST(round(10000.0 * (m*sxy - sx*sy) /
         |      (sqrt(CAST(m*sxx - sx*sx AS DOUBLE)) *
         |       sqrt(CAST(m*syy - sy*sy AS DOUBLE)))) AS BIGINT)
         |  END AS r4
         |FROM m""".stripMargin),

    GradedQuery("graph_bfs_hops", (s, dir) => {
      // 3-round multi-source BFS blast radius over the undirected
      // near-dup graph: seeds = every 97th doc, output = nodes first
      // reached per hop with a sum-of-ids membership checksum (a count
      // alone cannot catch two offsetting membership errors). Frontier
      // shrinks as the ball saturates — each round joins only the
      // NEWLY-reached set against the edges (Graphs.bfsHops).
      val seeds = Tables.documents(s, dir)
        .filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("id"))
      Graphs.bfsHops(bothDirs(docJaccardPairs(s, dir)), "src", "dst",
          seeds, rounds = 3)
        .groupBy("hop").agg(count(lit(1)).as("n_nodes"),
          sum("id").as("sum_id"))
    },
    // the same 3 BFS rounds chained: each frontier = distinct
    // expansion of the PREVIOUS frontier minus everything reached
      s"""WITH $jaccardPairCtes,
         |e AS (SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION ALL SELECT id_b, id_a FROM jp),
         |d0 AS (SELECT doc_id AS id, 0 AS hop FROM documents
         |  WHERE doc_id % 97 = 0),
         |f1 AS (SELECT DISTINCT e.dst AS id FROM d0 JOIN e
         |  ON e.src = d0.id WHERE e.dst NOT IN (SELECT id FROM d0)),
         |d1 AS (SELECT id, hop FROM d0
         |  UNION ALL SELECT id, 1 FROM f1),
         |f2 AS (SELECT DISTINCT e.dst AS id FROM f1 JOIN e
         |  ON e.src = f1.id WHERE e.dst NOT IN (SELECT id FROM d1)),
         |d2 AS (SELECT id, hop FROM d1
         |  UNION ALL SELECT id, 2 FROM f2),
         |f3 AS (SELECT DISTINCT e.dst AS id FROM f2 JOIN e
         |  ON e.src = f2.id WHERE e.dst NOT IN (SELECT id FROM d2)),
         |d3 AS (SELECT id, hop FROM d2
         |  UNION ALL SELECT id, 3 FROM f3)
         |SELECT CAST(hop AS BIGINT) AS hop, count(*) AS n_nodes,
         |  CAST(sum(id) AS BIGINT) AS sum_id
         |FROM d3 GROUP BY 1""".stripMargin),

    GradedQuery("graph_kcore_peel", (s, dir) => {
      // 3 rounds of 2-core peeling over the near-dup graph — the
      // dense-core screen next to graph_triangles' cohesion census
      Graphs.kcorePeel(bothDirs(docJaccardPairs(s, dir)),
        "src", "dst", k = 2, rounds = 3)
    },
      s"""WITH $jaccardPairCtes,
         |e AS (SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION ALL SELECT id_b, id_a FROM jp),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |a1 AS (SELECT src AS id FROM (
         |  SELECT e.src, count(*) AS deg FROM e
         |    JOIN nodes n1 ON n1.id = e.src
         |    JOIN nodes n2 ON n2.id = e.dst GROUP BY 1)
         |  WHERE deg >= 2),
         |a2 AS (SELECT src AS id FROM (
         |  SELECT e.src, count(*) AS deg FROM e
         |    JOIN a1 n1 ON n1.id = e.src
         |    JOIN a1 n2 ON n2.id = e.dst GROUP BY 1)
         |  WHERE deg >= 2),
         |a3 AS (SELECT src AS id FROM (
         |  SELECT e.src, count(*) AS deg FROM e
         |    JOIN a2 n1 ON n1.id = e.src
         |    JOIN a2 n2 ON n2.id = e.dst GROUP BY 1)
         |  WHERE deg >= 2)
         |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
         |  (SELECT count(*) FROM a1) AS n_alive1,
         |  (SELECT count(*) FROM a2) AS n_alive2,
         |  (SELECT count(*) FROM a3) AS n_alive3""".stripMargin),

    GradedQuery("dedup_substr", (s, dir) => {
      // per-doc duplicated-substring coverage (Lee et al. exact-substr
      // dedup signal): stride-25 50-char grams, hashed before the only
      // corpus shuffle; dup_frac = shared-gram fraction per doc
      Dedup.substrDupCoverage(Tables.documents(s, dir), "doc_id", "text")
    },
    // stride-sampled gram hashes -> doc frequency -> per-doc shared
    // fraction; dup_frac is the single unrounded IEEE division
      s"""WITH t AS (SELECT doc_id, $normTextSql AS t FROM documents),
         |g AS (SELECT doc_id, md5(substr(t, CAST(u.i AS INT), 50)) AS gh
         |  FROM t, LATERAL unnest(generate_series(1, length(t) - 49, 25)) u(i)
         |  WHERE length(t) >= 50),
         |f AS (SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1),
         |a AS (SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM g JOIN f USING (gh) GROUP BY 1)
         |SELECT doc_id, n_grams, n_dup,
         |  CAST(n_dup AS DOUBLE) / n_grams AS dup_frac FROM a""".stripMargin),

    GradedQuery("graph_triangles", (s, dir) => {
      // triangle census of the confirmed near-dup graph — the cluster-
      // cohesion audit (triangle-dense neighborhoods are safe for
      // transitive grouping; a wedge-only graph predicts chain
      // over-merge); degree-ordered orientation bounds the wedge join
      Graphs.triangles(docJaccardPairs(s, dir), "id_a", "id_b")
    },
    // triangle census over the shared jaccard pair graph: the same
    // degree-ordered orientation, wedge join and closing-edge probe
      s"""WITH $jaccardPairCtes,
         |e AS (SELECT id_a AS u, id_b AS v FROM jp),
         |dg AS (SELECT id, count(*) AS deg FROM (
         |  SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
         |  GROUP BY 1),
         |o AS (SELECT
         |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |    THEN e.u ELSE e.v END AS src,
         |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |    THEN e.v ELSE e.u END AS dst
         |  FROM e JOIN dg du ON du.id = e.u JOIN dg dv ON dv.id = e.v),
         |w AS (SELECT o1.src AS s, o1.dst AS w1, o2.dst AS w2
         |  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
         |tri AS (SELECT * FROM w WHERE EXISTS (SELECT 1 FROM e
         |  WHERE e.u = least(w.w1, w.w2) AND e.v = greatest(w.w1, w.w2)))
         |SELECT (SELECT count(*) FROM dg) AS n_nodes,
         |  (SELECT count(*) FROM e) AS n_edges,
         |  (SELECT count(*) FROM tri) AS n_triangles""".stripMargin),

    GradedQuery("bloom_fpr_audit", (s, dir) => {
      // is the 8 KB filter performing to spec, or saturated and due a
      // bigger m? measured key-level FPR vs the occupancy-based
      // (s/m)^k expectation — integer-exact (s³ fits a long), no
      // exp/pow cross-engine risk (BloomJoin.fprAudit); same
      // BUILDING-customer filter as bloom_prefilter
      BloomJoin.fprAudit(Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING"), "c_custkey")
    },
    // Bloom prefilter audit: identical md5-window probe positions,
    // 32-bit word packing (1<<63 overflows signed BIGINT), bit_or
    // build, 3-probe AND, ground truth from the exact key join
    // identical filter build; key-level tallies + bit_count occupancy,
    // expectation = s³/2⁴⁸ mirrored as one double division
      """WITH dk AS (SELECT DISTINCT c_custkey AS k FROM customer
        |  WHERE c_mktsegment = 'BUILDING'),
        |dpos AS (SELECT k, CAST('0x' ||
        |    substr(md5(CAST(k AS VARCHAR)), i*4 + 1, 4) AS BIGINT) AS h
        |  FROM dk, LATERAL unnest(generate_series(0, 2)) u(i)),
        |bloom AS (SELECT h // 32 AS word,
        |  bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INT)) AS bits
        |  FROM dpos GROUP BY 1),
        |occ AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT)
        |    AS n_bits_set FROM bloom),
        |fk AS (SELECT DISTINCT o_custkey AS k FROM orders),
        |fpos AS (SELECT k, CAST('0x' ||
        |    substr(md5(CAST(k AS VARCHAR)), i*4 + 1, 4) AS BIGINT) AS h
        |  FROM fk, LATERAL unnest(generate_series(0, 2)) u(i)),
        |probe AS (SELECT k,
        |  min(CASE WHEN bits IS NOT NULL AND (bits & mask) = mask
        |    THEN 1 ELSE 0 END) AS pass
        |  FROM (SELECT k, h // 32 AS word,
        |    CAST(1 AS BIGINT) << CAST(h % 32 AS INT) AS mask FROM fpos) f
        |  LEFT JOIN bloom USING (word) GROUP BY k),
        |fin AS (SELECT p.k, p.pass,
        |  CASE WHEN dk.k IS NOT NULL THEN 1 ELSE 0 END AS in_dim
        |  FROM probe p LEFT JOIN dk ON dk.k = p.k),
        |t AS (SELECT
        |  CAST(sum(CASE WHEN in_dim = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_neg_keys,
        |  CAST(sum(CASE WHEN in_dim = 0 AND pass = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_fp_keys FROM fin)
        |SELECT n_neg_keys, n_fp_keys, n_bits_set,
        |  CASE WHEN n_neg_keys > 0 THEN
        |    CAST(round(10000.0 * n_fp_keys / n_neg_keys) AS BIGINT)
        |  END AS fpr4_measured,
        |  CAST(round(10000.0 * (n_bits_set*n_bits_set*n_bits_set)
        |    / 281474976710656) AS BIGINT) AS fpr4_expected
        |FROM t CROSS JOIN occ""".stripMargin),

    GradedQuery("bloom_prefilter", (s, dir) => {
      // md5-derived Bloom runtime filter: build from BUILDING-segment
      // customers, probe every orders key, tally candidates vs truth
      // (n_missed pinned 0 — Bloom filters have no false negatives)
      BloomJoin.prefilterStats(Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING"), "c_custkey")
    },
      """WITH dk AS (SELECT DISTINCT c_custkey AS k FROM customer
        |  WHERE c_mktsegment = 'BUILDING'),
        |dpos AS (SELECT k, CAST('0x' ||
        |    substr(md5(CAST(k AS VARCHAR)), i*4 + 1, 4) AS BIGINT) AS h
        |  FROM dk, LATERAL unnest(generate_series(0, 2)) u(i)),
        |bloom AS (SELECT h // 32 AS word,
        |  bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INT)) AS bits
        |  FROM dpos GROUP BY 1),
        |fk AS (SELECT o_custkey AS k, count(*) AS mult
        |  FROM orders GROUP BY 1),
        |fpos AS (SELECT k, mult, CAST('0x' ||
        |    substr(md5(CAST(k AS VARCHAR)), i*4 + 1, 4) AS BIGINT) AS h
        |  FROM fk, LATERAL unnest(generate_series(0, 2)) u(i)),
        |probe AS (SELECT k, mult,
        |  min(CASE WHEN bits IS NOT NULL AND (bits & mask) = mask
        |    THEN 1 ELSE 0 END) AS pass
        |  FROM (SELECT k, mult, h // 32 AS word,
        |    CAST(1 AS BIGINT) << CAST(h % 32 AS INT) AS mask FROM fpos) f
        |  LEFT JOIN bloom USING (word) GROUP BY k, mult),
        |fin AS (SELECT p.k, p.mult, p.pass,
        |  CASE WHEN dk.k IS NOT NULL THEN 1 ELSE 0 END AS in_dim
        |  FROM probe p LEFT JOIN dk ON dk.k = p.k)
        |SELECT CAST(sum(mult) AS BIGINT) AS n_fact_rows,
        |  count(*) AS n_fact_keys,
        |  CAST(sum(CASE WHEN pass = 1 THEN mult ELSE 0 END) AS BIGINT)
        |    AS n_candidate_rows,
        |  CAST(sum(CASE WHEN pass = 1 AND in_dim = 1 THEN mult ELSE 0 END)
        |    AS BIGINT) AS n_true_rows,
        |  CAST(sum(CASE WHEN pass = 1 AND in_dim = 0 THEN mult ELSE 0 END)
        |    AS BIGINT) AS n_false_pos_rows,
        |  CAST(sum(CASE WHEN pass = 0 AND in_dim = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_missed
        |FROM fin""".stripMargin),

    GradedQuery("sketch_cms_topk", (s, dir) => {
      // Count–Min heavy hitters over the token stream: 3×4096 grid from
      // md5 windows, est = min over rows, audited vs the exact count
      // (over = est − cnt ≥ 0 structurally — CMS never under-counts)
      val toks = Tables.documents(s, dir)
        .select(explode(split(graft.operators.Dedup.normText(col("text")),
          " ")).as("term"))
        .filter(length(col("term")) > 0)
      Sketches.cmsTopK(toks, "term", 20)
    },
    // Count–Min rebuild: identical md5 3-hex column windows, the
    // bounded 3×4096 grid, min-over-rows estimate, exact-count audit
    // ("over" is a DuckDB keyword → overcount)
      s"""WITH toks AS (SELECT u.w AS term
         |  FROM (SELECT $normTextSql AS t FROM documents) s,
         |  LATERAL unnest(string_split(t, ' ')) u(w)
         |  WHERE length(u.w) > 0),
         |pos AS (SELECT term, i AS rw,
         |  CAST('0x' || substr(md5(term), i*3 + 1, 3) AS BIGINT) AS cell
         |  FROM toks, LATERAL unnest(generate_series(0, 2)) u(i)),
         |grid AS (SELECT rw, cell, count(*) AS c FROM pos GROUP BY 1, 2),
         |exact AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
         |probe AS (SELECT e.term, e.cnt, i AS rw,
         |  CAST('0x' || substr(md5(e.term), i*3 + 1, 3) AS BIGINT) AS cell
         |  FROM exact e, LATERAL unnest(generate_series(0, 2)) u(i)),
         |est AS (SELECT term, cnt, min(c) AS est
         |  FROM probe JOIN grid USING (rw, cell) GROUP BY 1, 2)
         |SELECT CAST(row_number() OVER (ORDER BY est DESC, term ASC)
         |    AS BIGINT) AS rank,
         |  term, est, cnt, est - cnt AS overcount
         |FROM est ORDER BY est DESC, term ASC LIMIT 20""".stripMargin),

    GradedQuery("sketch_hll_distinct", (s, dir) => {
      // HLL distinct users per event type, audited vs the exact count:
      // 4096 md5-indexed registers, rho via bin()-length (no float
      // log), exact dyadic register sum, 4 dp estimate
      Sketches.hllDistinct(Tables.events(s, dir), "event_type", "user_id")
    },
    // HLL rebuild: identical md5 bucket/rank derivation (rho via
    // bin()-length — both engines' bin() is minimal binary), exact
    // power-of-two register sum, the same pinned estimator chain
    // (7.213e-1 etc. — DuckDB bare decimals are exact DECIMAL)
      """WITH base AS (SELECT event_type,
        |  md5(CAST(user_id AS VARCHAR)) AS h FROM events),
        |r AS (SELECT event_type,
        |  CAST('0x' || substr(h, 1, 3) AS BIGINT) AS bucket,
        |  CAST('0x' || substr(h, 4, 8) AS BIGINT) AS w FROM base),
        |regs AS (SELECT event_type, bucket,
        |  max(CASE WHEN w = 0 THEN 33
        |    ELSE 33 - length(bin(w)) END) AS m
        |  FROM r GROUP BY 1, 2),
        |agg AS (SELECT event_type, count(*) AS n_regs,
        |  sum(1e0 / CAST(CAST(1 AS BIGINT) << CAST(m AS INT) AS DOUBLE))
        |    AS s_present
        |  FROM regs GROUP BY 1),
        |ex AS (SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |  FROM events GROUP BY 1),
        |fin AS (SELECT a.event_type, e.n_exact,
        |  CAST(a.n_regs AS BIGINT) AS n_regs,
        |  4096 - a.n_regs AS zeros,
        |  a.s_present + CAST(4096 - a.n_regs AS DOUBLE) AS s
        |  FROM agg a JOIN ex e USING (event_type)),
        |est AS (SELECT event_type, n_exact, n_regs,
        |  CASE WHEN (7.213e-1 / (1e0 + 1.079e0 / 4.096e3)) * 4.096e3
        |        * 4.096e3 / s <= 2.5e0 * 4.096e3 AND zeros > 0
        |    THEN 4.096e3 * ln(4.096e3 / CAST(zeros AS DOUBLE))
        |    ELSE (7.213e-1 / (1e0 + 1.079e0 / 4.096e3)) * 4.096e3
        |        * 4.096e3 / s END AS est
        |  FROM fin)
        |SELECT event_type, n_exact, n_regs, round(est, 4) AS est4
        |FROM est""".stripMargin),

    GradedQuery("sketch_kmv_setops", (s, dir) => {
      // KMV sketch union/intersection of the click and purchase user
      // sets, audited vs exact — mergeable distinct-count set algebra,
      // libm-free (exact dyadic uniforms, single pinned divisions)
      Sketches.kmvSetOps(Tables.events(s, dir), "event_type", "user_id",
        "click", "purchase")
    },
    // KMV rebuild: same 48-bit dyadic uniforms, per-group K-smallest
    // via a PARTITIONED rank, merged-K via ORDER BY + LIMIT, the two
    // estimator divisions in the same pinned order (e-notation
    // literals — the DuckDB bare-decimal DECIMAL trap)
      """WITH two AS (SELECT event_type AS grp, user_id AS key,
        |  CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
        |    AS BIGINT) AS DOUBLE) / 281474976710656e0 AS u
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |vals AS (SELECT DISTINCT grp, u FROM two),
        |sk AS (SELECT grp, u FROM (SELECT grp, u,
        |  row_number() OVER (PARTITION BY grp ORDER BY u) AS rn
        |  FROM vals) WHERE rn <= 128),
        |merged AS (SELECT u, count(*) AS n_grps FROM sk
        |  GROUP BY 1 ORDER BY u LIMIT 128),
        |kth AS (SELECT max(u) AS u_k, count(*) AS k_used,
        |  CAST(sum(CASE WHEN n_grps = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_both FROM merged),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_union,
        |  CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact_inter
        |  FROM (SELECT key, count(DISTINCT grp) AS g FROM two
        |    GROUP BY 1))
        |SELECT n_exact_union, n_exact_inter,
        |  round(CASE WHEN k_used < 128 THEN CAST(n_exact_union AS DOUBLE)
        |    ELSE 1.27e2 / u_k END, 4) AS est_union4,
        |  round(CASE WHEN k_used < 128 THEN CAST(n_exact_inter AS DOUBLE)
        |    ELSE CAST(n_both AS DOUBLE) / CAST(k_used AS DOUBLE)
        |      * (1.27e2 / u_k) END, 4)
        |    AS est_inter4,
        |  CAST(k_used AS BIGINT) AS k_used
        |FROM ex CROSS JOIN kth""".stripMargin),

    GradedQuery("sketch_quantiles", (s, dir) => {
      // mergeable order-statistic sketch: per-type value quantiles from
      // the bottom-1024 rows by md5(event_id) uniform, audited vs the
      // exact nearest-rank quantiles — the GRADED twin of the
      // engine-native Sketches.eventProfile (whose KLL no oracle can replay);
      // estimates are raw data values, so the compare is bit-exact
      Sketches.kmvQuantiles(Tables.events(s, dir), "event_type",
        "event_id", "value", Seq(0.5, 0.95, 0.99))
    },
    // order-statistic sketch rebuild: identical 48-bit md5 uniforms
    // of event_id, bottom-1024 per type via a partitioned rank with
    // the same (u, v) tie-break, nearest-rank pick 1 + floor(q·(k−1))
    // as the same single IEEE multiply + floor; estimates and exact
    // twins are raw data values — bit-exact compare, no rounding
      """WITH base AS (SELECT event_type AS grp, value AS v,
        |  CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12)
        |    AS BIGINT) AS u
        |  FROM events),
        |sample AS (SELECT grp, v FROM (SELECT grp, v,
        |  row_number() OVER (PARTITION BY grp ORDER BY u, v) AS rn
        |  FROM base) WHERE rn <= 1024),
        |k AS (SELECT grp, CAST(count(*) AS BIGINT) AS k_used
        |  FROM sample GROUP BY 1),
        |sr AS (SELECT grp, v,
        |  row_number() OVER (PARTITION BY grp ORDER BY v) AS vr
        |  FROM sample),
        |est AS (SELECT s.grp, k.k_used,
        |  max(CASE WHEN s.vr = CAST(floor(5e-1 *
        |    CAST(k.k_used - 1 AS DOUBLE)) AS BIGINT) + 1
        |    THEN s.v END) AS q50_est,
        |  max(CASE WHEN s.vr = CAST(floor(9.5e-1 *
        |    CAST(k.k_used - 1 AS DOUBLE)) AS BIGINT) + 1
        |    THEN s.v END) AS q95_est,
        |  max(CASE WHEN s.vr = CAST(floor(9.9e-1 *
        |    CAST(k.k_used - 1 AS DOUBLE)) AS BIGINT) + 1
        |    THEN s.v END) AS q99_est
        |  FROM sr s JOIN k USING (grp) GROUP BY 1, 2),
        |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1),
        |fr AS (SELECT grp, v,
        |  row_number() OVER (PARTITION BY grp ORDER BY v) AS vr
        |  FROM base),
        |ex AS (SELECT f.grp, n.n,
        |  max(CASE WHEN f.vr = CAST(floor(5e-1 *
        |    CAST(n.n - 1 AS DOUBLE)) AS BIGINT) + 1
        |    THEN f.v END) AS q50_exact,
        |  max(CASE WHEN f.vr = CAST(floor(9.5e-1 *
        |    CAST(n.n - 1 AS DOUBLE)) AS BIGINT) + 1
        |    THEN f.v END) AS q95_exact,
        |  max(CASE WHEN f.vr = CAST(floor(9.9e-1 *
        |    CAST(n.n - 1 AS DOUBLE)) AS BIGINT) + 1
        |    THEN f.v END) AS q99_exact
        |  FROM fr f JOIN n USING (grp) GROUP BY 1, 2)
        |SELECT e.grp AS event_type, x.n, e.k_used,
        |  e.q50_est, x.q50_exact, e.q95_est, x.q95_exact,
        |  e.q99_est, x.q99_exact
        |FROM est e JOIN ex x USING (grp)""".stripMargin),

    GradedQuery("graph_clustering_coeff", (s, dir) => {
      // per-degree local clustering profile (Watts-Strogatz cc =
      // closed/possible wedges per node) over the near-dup graph: the
      // node-level read under graph_triangles' census — low-cc
      // high-degree rows are the bridge docs that chain-merge
      // clusters (Graphs.localClustering; deg < 2 undefined, excluded)
      val lc = Graphs.localClustering(docJaccardPairs(s, dir),
        "id_a", "id_b")
      lc.select(col("deg"), col("tri"),
          round(lit(10000.0) * lit(2.0) * col("tri") /
            (col("deg") * (col("deg") - lit(1L))))
            .cast("long").as("cc4"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"),
          sum("tri").as("tri_inc"),
          round(sum("cc4").cast("double") /
            count(lit(1)).cast("double")).cast("long").as("avg_cc4"))
    },
    // the graph_triangles orientation chain extended per node: each
    // closed wedge credited to its three corners via unnest, then
    // the per-degree rollup of ×10⁴-rounded per-node coefficients
      s"""WITH $jaccardPairCtes,
         |e AS (SELECT id_a AS u, id_b AS v FROM jp),
         |dg AS (SELECT id, count(*) AS deg FROM (
         |  SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
         |  GROUP BY 1),
         |o AS (SELECT
         |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |    THEN e.u ELSE e.v END AS src,
         |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |    THEN e.v ELSE e.u END AS dst
         |  FROM e JOIN dg du ON du.id = e.u JOIN dg dv ON dv.id = e.v),
         |w AS (SELECT o1.src AS s, o1.dst AS w1, o2.dst AS w2
         |  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
         |tri AS (SELECT * FROM w WHERE EXISTS (SELECT 1 FROM e
         |  WHERE e.u = least(w.w1, w.w2) AND e.v = greatest(w.w1, w.w2))),
         |pn AS (SELECT id, count(*) AS tri FROM (
         |  SELECT unnest([s, w1, w2]) AS id FROM tri) GROUP BY 1),
         |cc AS (SELECT dg.id, dg.deg, coalesce(pn.tri, 0) AS tri,
         |  CAST(round(10000.0 * 2.0 * coalesce(pn.tri, 0)
         |    / (dg.deg * (dg.deg - 1))) AS BIGINT) AS cc4
         |  FROM dg LEFT JOIN pn ON pn.id = dg.id WHERE dg.deg >= 2)
         |SELECT deg, count(*) AS n_nodes,
         |  CAST(sum(tri) AS BIGINT) AS tri_inc,
         |  CAST(round(sum(cc4) / count(*)) AS BIGINT) AS avg_cc4
         |FROM cc GROUP BY 1""".stripMargin),

    GradedQuery("graph_conductance", (s, dir) => {
      // per-community conductance over the 3-round LPA labels — the
      // cut-quality audit dual to graph_modularity's global score:
      // φ(c) = cut/min(vol, 2m−vol), low φ = well-separated, φ → 1 =
      // mostly boundary (Graphs.conductance; NULL when the complement
      // has zero volume)
      // pairs feeds BOTH the LPA rounds and the conductance audit —
      // materialize once (the graph_modularity treatment)
      val pairs = Graphs.materialize(docJaccardPairs(s, dir))
      val labels = Graphs.labelPropagation(bothDirs(pairs), "src", "dst",
        iterations = 3)
      Graphs.conductance(pairs, "id_a", "id_b", labels)
    },
    // conductance: the modularity chain's edge/degree/label CTEs with
    // a per-community cut tally (each boundary edge credits BOTH
    // sides) and the integer min-volume guard
      s"""WITH $lpaCtes,
         |eu AS (SELECT id_a AS u, id_b AS v FROM jp),
         |mm AS (SELECT 2 * count(*) AS vol2m FROM eu),
         |el AS (SELECT a.label AS lu, b.label AS lv FROM eu
         |  JOIN l3 a ON a.id = eu.u JOIN l3 b ON b.id = eu.v),
         |ct AS (SELECT label, count(*) AS cut FROM (
         |  SELECT lu AS label FROM el WHERE lu <> lv
         |  UNION ALL SELECT lv FROM el WHERE lu <> lv) GROUP BY 1),
         |deg AS (SELECT id, count(*) AS deg FROM (
         |  SELECT u AS id FROM eu UNION ALL SELECT v FROM eu)
         |  GROUP BY 1),
         |vl AS (SELECT l.label, count(*) AS n_nodes,
         |  CAST(sum(d.deg) AS BIGINT) AS vol
         |  FROM deg d JOIN l3 l ON l.id = d.id GROUP BY 1)
         |SELECT vl.label, vl.n_nodes, vl.vol,
         |  CAST(coalesce(ct.cut, 0) AS BIGINT) AS cut,
         |  CASE WHEN least(vl.vol, vol2m - vl.vol) > 0
         |    THEN CAST(round(1000000.0 * coalesce(ct.cut, 0)
         |      / CAST(least(vl.vol, vol2m - vl.vol) AS DOUBLE)) AS BIGINT)
         |  END AS conductance6
         |FROM vl LEFT JOIN ct ON ct.label = vl.label, mm""".stripMargin),

    GradedQuery("graph_community_audit", (s, dir) => {
      // the materialize-once production composition (VERDICT r12 item
      // 2): pair graph derived ONCE, LPA labels computed ONCE, then
      // global modularity + per-community conductance + the size
      // census all read the same two materialized frames
      // (PairGraph.communityAudit) — the shape a 100 TB caller runs
      // instead of three standalone re-derivations
      PairGraph.communityAudit(docJaccardPairs(s, dir), "id_a", "id_b",
        iterations = 3)
    },
    // the composed audit: ONE label chain (l3) feeds the modularity
    // rational, the per-community conductance AND the size census —
    // same CTEs as the standalone oracles so the three derivations
    // cannot drift from their standalone twins
      s"""WITH $lpaCtes,
         |eu AS (SELECT id_a AS u, id_b AS v FROM jp),
         |mm AS (SELECT count(*) AS m FROM eu),
         |ein AS (SELECT count(*) AS e_in FROM eu
         |  JOIN l3 a ON a.id = eu.u JOIN l3 b ON b.id = eu.v
         |  WHERE a.label = b.label),
         |deg AS (SELECT id, count(*) AS deg FROM
         |  (SELECT u AS id FROM eu UNION ALL SELECT v FROM eu)
         |  GROUP BY 1),
         |dc AS (SELECT l.label, count(*) AS n_nodes,
         |  CAST(sum(d.deg) AS BIGINT) AS vol
         |  FROM deg d JOIN l3 l ON l.id = d.id GROUP BY 1),
         |s AS (SELECT count(*) AS n_communities,
         |  CAST(sum(vol*vol) AS BIGINT) AS sum_d2 FROM dc),
         |el AS (SELECT a.label AS lu, b.label AS lv FROM eu
         |  JOIN l3 a ON a.id = eu.u JOIN l3 b ON b.id = eu.v),
         |ct AS (SELECT label, count(*) AS cut FROM (
         |  SELECT lu AS label FROM el WHERE lu <> lv
         |  UNION ALL SELECT lv FROM el WHERE lu <> lv) GROUP BY 1),
         |cen AS (SELECT n_nodes, count(*) AS n_size_peers
         |  FROM dc GROUP BY 1),
         |gaud AS (SELECT n_communities, CAST(m AS BIGINT) AS n_edges,
         |  CAST(round(1000000.0 * (4*m*e_in - sum_d2) / (4*m*m))
         |    AS BIGINT) AS modularity6, 2*m AS vol2m
         |  FROM mm CROSS JOIN ein CROSS JOIN s)
         |SELECT dc.label, dc.n_nodes AS n_members, dc.vol,
         |  CAST(coalesce(ct.cut, 0) AS BIGINT) AS cut,
         |  CASE WHEN least(dc.vol, gaud.vol2m - dc.vol) > 0
         |    THEN CAST(round(1000000.0 * coalesce(ct.cut, 0)
         |      / CAST(least(dc.vol, gaud.vol2m - dc.vol) AS DOUBLE))
         |      AS BIGINT)
         |  END AS conductance6,
         |  CAST(cen.n_size_peers AS BIGINT) AS n_size_peers,
         |  gaud.n_communities, gaud.n_edges, gaud.modularity6
         |FROM dc LEFT JOIN ct ON ct.label = dc.label
         |JOIN cen ON cen.n_nodes = dc.n_nodes
         |CROSS JOIN gaud""".stripMargin),

    GradedQuery("dedup_cluster_sizes", (s, dir) => {
      // component-size census over the transitive dedup groups — the
      // distribution that sizes the dedup risk (a fat tail says the
      // near-dup graph chains clusters; the summary dedup_groups'
      // per-doc assignment carries but doesn't show)
      Dedup.connectedComponents(docJaccardPairs(s, dir),
          Tables.documents(s, dir), "doc_id")
        .groupBy("group_id").agg(count(lit(1)).as("gsize"))
        .groupBy("gsize").agg(count(lit(1)).as("n_groups"))
    },
    // component-size census: the dedup_groups reachability chain
    // rolled up twice
      s"""WITH RECURSIVE $jaccardPairCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION SELECT id_b AS src, id_a AS dst FROM jp),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.lbl),
         |g AS (SELECT id, min(lbl) AS group_id FROM reach GROUP BY 1),
         |sz AS (SELECT group_id, count(*) AS gsize FROM g GROUP BY 1)
         |SELECT gsize, count(*) AS n_groups FROM sz GROUP BY 1""".stripMargin),

    GradedQuery("dedup_keep_best", (s, dir) => {
      // keep-one-per-group POLICY over the transitive dedup groups:
      // keep the LONGEST doc (ties to smaller id) — the curation
      // decision dedup_groups' assignment feeds; emits every doc with
      // its keep flag so the filter is auditable
      val docs = Tables.documents(s, dir)
      val groups = Dedup.connectedComponents(docJaccardPairs(s, dir),
        docs, "doc_id")
      val g = groups.join(docs.select(col("doc_id").as("id"),
        col("n_chars")), "id")
      val best = g.groupBy("group_id")
        .agg(min(struct((-col("n_chars")).as("neg"), col("id").as("id")))
          .as("__b"))
        .select(col("group_id"), col("__b.id").as("keep_id"))
      g.join(best, "group_id")
        .select(col("id").as("doc_id"), col("group_id"),
          when(col("id") === col("keep_id"), 1L).otherwise(0L).as("keep"))
    },
    // keep-best: the dedup_groups chain + the longest-doc argmin
    // (negated length, then id — the same struct order)
      s"""WITH RECURSIVE $jaccardPairCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION SELECT id_b AS src, id_a AS dst FROM jp),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.lbl),
         |g AS (SELECT id, CAST(min(lbl) AS BIGINT) AS group_id
         |  FROM reach GROUP BY 1),
         |gg AS (SELECT g.id, g.group_id, d.n_chars FROM g
         |  JOIN documents d ON d.doc_id = g.id),
         |best AS (SELECT group_id,
         |  min({'neg': -n_chars, 'id': id}) AS b FROM gg GROUP BY 1)
         |SELECT gg.id AS doc_id, gg.group_id,
         |  CAST(CASE WHEN gg.id = best.b.id THEN 1 ELSE 0 END AS BIGINT)
         |    AS keep
         |FROM gg JOIN best ON best.group_id = gg.group_id""".stripMargin),
  )
}

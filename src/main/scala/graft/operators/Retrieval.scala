package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.operators.Checkpoints._
import graft.sources.Tables

/** HYBRID (sparse + dense) RETRIEVAL — the fusion tier a training-data
  * mining / RAG pipeline runs on top of the two ranking families the
  * engine already serves: q142's exact-integer BM25 (sparse, lexical)
  * and q19's cosine ranking (dense, semantic). Neither family alone is
  * the production answer — lexical misses paraphrase, dense misses
  * rare exact terms — so deployments fuse both lists per query with
  * reciprocal-rank fusion (Cormack et al.: score = Σ 1/(k+rank),
  * k = 60), which needs no score calibration between rankers because
  * it consumes only RANKS. Everything here is integer-exact
  * (`1000000 DIV (60 + rank)` micro-units), so the DuckDB oracle
  * replays the full hybrid bit-for-bit.
  */
object Retrieval {
  private val HybridNQ = 8 // query documents: doc_id < HybridNQ (≡ q19's vec_id query set)
  private val RrfPool = 10 // per-ranker pool depth fed to the fusion
  private val RrfKC = 60 // the standard RRF damping constant
  private val HybridK = 5 // fused results returned per query

  /** q210: RECIPROCAL-RANK-FUSION HYBRID RETRIEVAL, doc-as-query: for
    * each query document, the sparse ranker scores the corpus with
    * q142's Okapi BM25 integer-rational arithmetic (norm_m / idf_k /
    * tfpart_k verbatim) against the query doc's DISTINCT words as the
    * term set, the dense ranker is the exact cosine over the aligned
    * embeddings (vec_id ≡ doc_id), and each query's two
    * top-[[RrfPool]] lists fuse by RRF micro-score with doc_id as the
    * deterministic tie-break. Output: the fused top-[[HybridK]] per
    * query with both source ranks (NULL where a doc appeared in only
    * one list — exactly the case fusion exists to reconcile).
    *
    * Scale: tf is q33's one (doc, word) shuffle, materialized once and
    * reused (dl, stats, query terms, score join); the query-term and
    * per-ranker pool frames are bounded by the query set and broadcast
    * (q19's discipline — a huge query set would swap the rank windows
    * for q10's salted two-phase top-k and the dense side for the q34
    * probe path); the fusion is a pool×pool outer join, RrfPool·NQ
    * rows. Overflow: idf_k ≤ ~667·N and tfpart_k ≤ 2200, so per-query
    * sums stay inside exact longs to ~10¹⁰ docs (q142's bound).
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    // ---- shared sparse statistics (q142's exact kernel) ----
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .cp() // feeds dl, stats, query terms AND the score join
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = tf.agg(countDistinct(col("doc_id")).as("n_docs"),
      sum(col("tf")).as("t_tokens"))
    val qterms = tf.filter(col("doc_id") < HybridNQ)
      .select(col("doc_id").as("q_id"), col("w"))
    val qdf = tf.join(broadcast(qterms.select(col("w")).distinct()), "w")
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val sparse = tf
      .join(broadcast(qterms), "w")
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(qdf), "w")
      .join(dl, "doc_id")
      .transform(withScalar(_, stats))
      .withColumn("norm_m",
        expr("250 + (750 * dl * n_docs) DIV t_tokens"))
      .withColumn("idf_k",
        expr("((n_docs - df) * 2000 + 1000) * 1000 DIV (df * 2000 + 1000)"))
      .withColumn("tfpart_k",
        expr("tf * 2200 * 1000 DIV (tf * 1000 + (1200 * norm_m) DIV 1000)"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("idf_k") * col("tfpart_k")).as("s_score"))
      .withColumn("s_rnk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("s_score").desc, col("doc_id").asc)))
      .filter(col("s_rnk") <= RrfPool)
      .select(col("q_id"), col("doc_id"), col("s_rnk"))
    // ---- dense ranker: exact cosine over the aligned embeddings ----
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), qvec(col("embedding")).as("qv"))
      .withColumn("n2", norm2(col("qv")))
      .cp() // corpus side and the broadcast query side
    val q = e.filter(col("vec_id") < HybridNQ)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"),
        col("n2").as("qn2"))
    val dense = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        cosineq(dotq(col("qqv"), col("qv")), col("qn2"), col("n2"))
          .as("cosine"))
      .withColumn("d_rnk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("doc_id").asc)))
      .filter(col("d_rnk") <= RrfPool)
      .select(col("q_id"), col("doc_id"), col("d_rnk"))
    // ---- reciprocal-rank fusion over the two bounded pools ----
    sparse.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000 DIV ($RrfKC + s_rnk)"), lit(0L)) +
          coalesce(expr(s"1000000 DIV ($RrfKC + d_rnk)"), lit(0L)))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("rrf_micro").desc, col("doc_id").asc)))
      .filter(col("rnk") <= HybridK)
      .select(col("q_id"), col("rnk"), col("doc_id"), col("rrf_micro"),
        col("s_rnk"), col("d_rnk"))
  }

  /** q210 replay: q142's CTE chain with the doc-as-query term set, the
    * q19 brute cosine, the same two pool cuts, and the integer RRF.
    */
  /** Session-cached q210 fusion table (the q34 trained-artifact
    * discipline): the fused pool is NQ×K-bounded and was recomputed —
    * both retrieval legs included — by every q210 run AND by q247's
    * attribution; built once per (application, sf dir), eagerly
    * checkpointed, bit-identical to the inline chain so both oracles
    * hash unchanged.
    */
  private[graft] val hybridRrfCached = SessionFixture("hybrid_rrf") {
    (spark, dir) => hybridRrf(spark, dir).cp(eager = true)
  }

  /** Audit hook (see [[SimSearch.fixturePlans]]): the un-cached fusion
    * chain for SCALE.md's `fixture:*` rows — q210's own row shows the
    * post-build frame once the artifact is session-cached.
    */
  private[graft] def auditPlans(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] =
    Seq("fixture:hybrid_rrf" -> hybridRrf(spark, dir))

  /** q247: RRF LEG ATTRIBUTION — the observability table behind q210's
    * fusion: for every fused top-K row (and separately the top-1s),
    * whether it entered from BOTH pools, the sparse (BM25) pool only,
    * or the dense (cosine) pool only, with each category's share of
    * the fused results. This is how a retrieval owner answers "is
    * BM25 carrying the fusion" / "is the embedding model pulling its
    * weight" before re-tuning k or dropping a leg — single-leg-only
    * winners are exactly the recall the OTHER leg structurally misses.
    *
    * Scale: a categorical aggregation over q210's already-bounded
    * output (NQ×K rows); the corpus-sized work is q210's, unchanged.
    */
  def rrfAttribution(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Checkpoints.CpOps
    val h = hybridRrfCached(spark, dir)
      .withColumn("category",
        when(col("s_rnk").isNotNull && col("d_rnk").isNotNull, "both")
          .when(col("s_rnk").isNotNull, "sparse_only")
          .otherwise("dense_only"))
      .cp() // three aggregations over the bounded frame
    val tk = h.groupBy(col("category")).agg(count(lit(1)).as("n_topk"))
    val t1 = h.filter(col("rnk") === 1)
      .groupBy(col("category")).agg(count(lit(1)).as("n_top1"))
    withScalar(tk.join(t1, Seq("category"), "left"),
      h.agg(count(lit(1)).as("total")))
      .select(col("category"), col("n_topk"),
        coalesce(col("n_top1"), lit(0L)).as("n_top1"),
        expr("(1000 * n_topk) DIV total").as("share_milli"))
  }

  // q247 replay: the full q210 chain as a subquery + the categorical
  // fold
  private lazy val rrfAttributionSql =
    s"""WITH h AS ($hybridRrfSql),
       |c AS (SELECT *,
       |        CASE WHEN s_rnk IS NOT NULL AND d_rnk IS NOT NULL
       |               THEN 'both'
       |             WHEN s_rnk IS NOT NULL THEN 'sparse_only'
       |             ELSE 'dense_only' END category
       |      FROM h),
       |tk AS (SELECT category, CAST(count(*) AS BIGINT) n_topk
       |       FROM c GROUP BY category),
       |t1 AS (SELECT category, CAST(count(*) AS BIGINT) n_top1
       |       FROM c WHERE rnk = 1 GROUP BY category),
       |t AS (SELECT CAST(count(*) AS BIGINT) total FROM c)
       |SELECT category, n_topk,
       |  CAST(coalesce(n_top1, 0) AS BIGINT) n_top1,
       |  (1000 * n_topk) // total AS share_milli
       |FROM tk LEFT JOIN t1 USING (category), t""".stripMargin

  private val hybridRrfSql =
    s"""WITH w AS (SELECT doc_id, unnest($sqlWords) w FROM documents),
       |tf AS (SELECT doc_id, w, count(*) tf FROM w GROUP BY doc_id, w),
       |dl AS (SELECT doc_id, sum(tf) dl FROM tf GROUP BY doc_id),
       |st AS (SELECT count(DISTINCT doc_id) n_docs, sum(tf) t_tokens
       |       FROM tf),
       |qt AS (SELECT DISTINCT doc_id q_id, w FROM tf
       |       WHERE doc_id < $HybridNQ),
       |qdf AS (SELECT w, count(*) df FROM tf
       |        WHERE w IN (SELECT DISTINCT w FROM qt) GROUP BY w),
       |sc AS (SELECT qt.q_id, tf.doc_id,
       |         ((st.n_docs - qdf.df) * 2000 + 1000) * 1000
       |           // (qdf.df * 2000 + 1000) AS idf_k,
       |         tf.tf * 2200 * 1000 // (tf.tf * 1000 +
       |           (1200 * (250 + (750 * dl.dl * st.n_docs) // st.t_tokens))
       |             // 1000) AS tfpart_k
       |       FROM tf JOIN qt ON tf.w = qt.w AND tf.doc_id <> qt.q_id
       |                JOIN qdf ON tf.w = qdf.w
       |                JOIN dl ON dl.doc_id = tf.doc_id, st),
       |sagg AS (SELECT q_id, doc_id,
       |           CAST(sum(idf_k * tfpart_k) AS BIGINT) s_score
       |         FROM sc GROUP BY q_id, doc_id),
       |sp AS (SELECT q_id, doc_id, s_rnk FROM (
       |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY s_score DESC, doc_id ASC) s_rnk FROM sagg)
       |  WHERE s_rnk <= $RrfPool),
       |e AS (SELECT vec_id, $sqlQvec qv FROM embeddings),
       |n AS (SELECT vec_id, qv, ${sqlNorm2("qv")} n2 FROM e),
       |ds AS (SELECT q.vec_id q_id, c.vec_id doc_id,
       |         CAST(${sqlDotq("q.qv", "c.qv")} AS DOUBLE)
       |           / sqrt(nullif(CAST(q.n2 AS DOUBLE)*CAST(c.n2 AS DOUBLE),
       |               0.0)) cosine
       |       FROM n q JOIN n c
       |         ON q.vec_id < $HybridNQ AND c.vec_id <> q.vec_id),
       |dp AS (SELECT q_id, doc_id, d_rnk FROM (
       |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, doc_id ASC) d_rnk FROM ds)
       |  WHERE d_rnk <= $RrfPool),
       |f AS (SELECT coalesce(sp.q_id, dp.q_id) q_id,
       |        coalesce(sp.doc_id, dp.doc_id) doc_id, sp.s_rnk, dp.d_rnk,
       |        coalesce(1000000 // ($RrfKC + sp.s_rnk), 0)
       |          + coalesce(1000000 // ($RrfKC + dp.d_rnk), 0) rrf_micro
       |      FROM sp FULL JOIN dp
       |        ON sp.q_id = dp.q_id AND sp.doc_id = dp.doc_id)
       |SELECT q_id, rnk, doc_id, rrf_micro, s_rnk, d_rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY rrf_micro DESC, doc_id ASC) rnk FROM f)
       |WHERE rnk <= $HybridK""".stripMargin

  private val MvK = 4 // vectors per multi-vector document
  private val MvNQ = 4 // query documents
  private val MvTopK = 5 // fused results per query document

  /** q220: LATE-INTERACTION MULTI-VECTOR RETRIEVAL (ColBERT-style
    * MaxSim) — documents are SETS of vectors (here the deterministic
    * `vec_id DIV MvK` grouping stands in for per-chunk embeddings,
    * the q166 chunking's output shape), and a query document scores a
    * candidate as Σ over its query vectors of the MAX inner product
    * against any candidate vector. Late interaction beats single-
    * vector retrieval when relevance is carried by one passage of a
    * long document; similarity is the exact integer dot product over
    * the milli-quantised vectors, so MaxSim, the sum, and the ranking
    * replay bit-for-bit in the oracle (no float accumulation-order
    * hazard — the reason this operator scores with inner product, as
    * ColBERTv2 itself does).
    *
    * Scale: the query side is bounded ([[MvNQ]]×[[MvK]] vectors,
    * broadcast — q19's discipline); MaxSim folds into TWO
    * map-side-partial aggregations ((q_vec, c_doc) max, then
    * (q_doc, c_doc) sum) — never a corpus-sized window; the exact
    * brute tier here is the recall baseline, and the scale path
    * routes candidate c_docs through q34's probed cells first.
    */
  def lateInteraction(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(s"vec_id DIV $MvK").as("mdoc"),
        qvec(col("embedding")).as("qv"))
    val qs = v.filter(col("mdoc") < MvNQ)
      .select(col("mdoc").as("q_doc"), col("vec_id").as("q_vec"),
        col("qv").as("qqv"))
    v.crossJoin(broadcast(qs))
      .filter(col("mdoc") =!= col("q_doc"))
      .withColumn("dot", dotq(col("qqv"), col("qv")))
      .groupBy(col("q_doc"), col("q_vec"), col("mdoc"))
      .agg(max(col("dot")).as("best"))
      .groupBy(col("q_doc"), col("mdoc"))
      .agg(sum(col("best")).as("score"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("q_doc"))
        .orderBy(col("score").desc, col("mdoc").asc)))
      .filter(col("rnk") <= MvTopK)
      .select(col("q_doc"), col("rnk"), col("mdoc").as("c_doc"),
        col("score"))
  }

  /** q220 replay: grouping, MaxSim, sum, ranking — all exact ints. */
  private val lateInteractionSql =
    s"""WITH e0 AS (SELECT vec_id, @QV@ qv FROM embeddings),
       |e AS (SELECT vec_id, vec_id // $MvK mdoc, qv FROM e0),
       |q AS (SELECT mdoc q_doc, vec_id q_vec, qv qqv FROM e
       |      WHERE mdoc < $MvNQ),
       |g AS (SELECT q.q_doc, q.q_vec, c.mdoc, max(@DOT@) best
       |      FROM q JOIN e c ON c.mdoc <> q.q_doc
       |      GROUP BY q.q_doc, q.q_vec, c.mdoc),
       |s AS (SELECT q_doc, mdoc, CAST(sum(best) AS BIGINT) score
       |      FROM g GROUP BY q_doc, mdoc),
       |r AS (SELECT q_doc, mdoc, score, row_number() OVER (
       |        PARTITION BY q_doc ORDER BY score DESC, mdoc ASC) rnk
       |      FROM s)
       |SELECT q_doc, rnk, mdoc c_doc, score FROM r
       |WHERE rnk <= $MvTopK""".stripMargin
      .replace("@QV@", graft.functions.Portable.sqlQvec)
      .replace("@DOT@",
        graft.functions.Portable.sqlDotq("q.qqv", "c.qv"))

  private val CtxNQ = 4 // query documents for context assembly
  private val CtxBudget = 256L // context token budget per query

  /** q222: BUDGETED CONTEXT ASSEMBLY — the serving-side step between
    * retrieval and the model: for each query document, candidate
    * chunks (q166's 64-token/48-stride windows over the non-query
    * corpus) are scored by exact distinct-term overlap with the
    * query, ranked, DEDUPLICATED by chunk content hash (overlapping
    * windows and boilerplate repeat — a context slot is too expensive
    * to spend twice on the same text), and admitted greedily in rank
    * order while the running token total stays within [[CtxBudget]]
    * — exactly the greedy fill RAG serving runs. Each output row is
    * one admitted context slot with its position, chunk identity,
    * score, and the running total the budget cut is made on.
    *
    * Scale: chunking and term sets are row-local; the bounded
    * [[CtxNQ]]-query term-set table broadcasts (q19's discipline);
    * scoring is one codegen intersection per (chunk, query); the
    * rank/dedup/prefix-sum windows have [[CtxNQ]] partitions —
    * bounded by the query set, with per-partition size already cut
    * to score > 0 chunks. A huge query batch would route candidates
    * through q142's term-postings equi-join first.
    */
  def contextAssembly(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-chunk md5 + the broadcast query-scoring BNLJ below
    // otherwise run fused to a one-split scan
    val d = Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
    val qterms = d.filter(col("doc_id") < CtxNQ)
      .select(col("doc_id").as("q_id"), array_distinct(col("ws")).as("qts"))
    val w = TextAnalysis.RagW
    val s = TextAnalysis.RagStride
    val chunks = d.filter(col("doc_id") >= CtxNQ)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), greatest(
          expr(s"(size(ws) - ${1 + w - s}) DIV $s").cast("int"),
          lit(0)))).as("ci"))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        slice(col("ws"), col("ci") * s + 1, lit(w)).as("cw"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("cw")).cast("long").as("n_tokens"),
        hash60(array_join(col("cw"), " ")).as("chunk_hash"),
        array_distinct(col("cw")).as("cts"))
    val rk = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("doc_id").asc, col("chunk_idx").asc)
    val ranked = chunks.crossJoin(broadcast(qterms))
      .withColumn("score",
        size(array_intersect(col("cts"), col("qts"))).cast("long"))
      .filter(col("score") > 0)
      .withColumn("rk", row_number().over(rk))
    val kept = ranked
      .withColumn("dup_rn", row_number().over(Window
        .partitionBy(col("q_id"), col("chunk_hash")).orderBy(col("rk"))))
      .filter(col("dup_rn") === 1)
    kept
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rk"))))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        Window.partitionBy(col("q_id")).orderBy(col("rk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= CtxBudget)
      .select(col("q_id"), col("pos"), col("doc_id"), col("chunk_idx"),
        col("n_tokens"), col("score"), col("cum_tokens"))
  }

  /** q222 replay: chunking, overlap scoring, rank, hash-dedup, greedy
    * budget prefix — all exact integers. Hash kernels contain `||`,
    * so they splice AFTER stripMargin.
    */
  private val contextAssemblySql = {
    val w = TextAnalysis.RagW
    val s = TextAnalysis.RagStride
    s"""WITH d AS (SELECT doc_id, ws FROM
       |      (SELECT doc_id, @WS@ ws FROM documents) WHERE len(ws) > 0),
       |q AS (SELECT doc_id q_id, list_distinct(ws) qts FROM d
       |      WHERE doc_id < $CtxNQ),
       |c0 AS (SELECT doc_id, ws, unnest(range(0,
       |         greatest((len(ws) - ${1 + w - s}) // $s, 0) + 1)) ci
       |       FROM d WHERE doc_id >= $CtxNQ),
       |c AS (SELECT doc_id, CAST(ci AS BIGINT) chunk_idx,
       |        CAST(len(list_slice(ws, ci * $s + 1, ci * $s + $w))
       |          AS BIGINT) n_tokens,
       |        @CH@ chunk_hash,
       |        list_distinct(list_slice(ws, ci * $s + 1, ci * $s + $w)) cts
       |      FROM c0),
       |sc AS (SELECT q.q_id, c.doc_id, c.chunk_idx, c.n_tokens,
       |         c.chunk_hash,
       |         CAST(len(list_intersect(c.cts, q.qts)) AS BIGINT) score
       |       FROM c CROSS JOIN q),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY score DESC, doc_id ASC, chunk_idx ASC) rk
       |      FROM sc WHERE score > 0),
       |k AS (SELECT * FROM (SELECT *, row_number() OVER (
       |        PARTITION BY q_id, chunk_hash ORDER BY rk) dup_rn FROM r)
       |      WHERE dup_rn = 1),
       |a AS (SELECT q_id, doc_id, chunk_idx, n_tokens, score,
       |        row_number() OVER (PARTITION BY q_id ORDER BY rk) pos,
       |        CAST(sum(n_tokens) OVER (PARTITION BY q_id ORDER BY rk
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) cum_tokens
       |      FROM k)
       |SELECT q_id, pos, doc_id, chunk_idx, n_tokens, score, cum_tokens
       |FROM a WHERE cum_tokens <= $CtxBudget""".stripMargin
      .replace("@WS@", graft.functions.Portable.sqlWords)
      .replace("@CH@", graft.functions.Portable.sqlHash60(
        s"array_to_string(list_slice(ws, ci * $s + 1, ci * $s + $w), ' ')"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q210_hybrid_rrf" ->
      ((s: SparkSession, d: String) => hybridRrfCached(s, d)),
    "q247_rrf_attribution" -> rrfAttribution,
    "q220_late_interaction" -> lateInteraction,
    "q222_context_assembly" -> contextAssembly)

  val oracle: Map[String, String] = Map(
    "q210_hybrid_rrf" -> hybridRrfSql,
    "q247_rrf_attribution" -> rrfAttributionSql,
    "q220_late_interaction" -> lateInteractionSql,
    "q222_context_assembly" -> contextAssemblySql)
}

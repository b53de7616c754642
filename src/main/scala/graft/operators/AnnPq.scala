package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.operators.Checkpoints._
import graft.sources.Tables

/** PRODUCT-QUANTIZATION ANN — the memory-scale path of the ANN
  * ladder: per-subspace codebooks with ADC scoring (q78) and IVF-PQ
  * with residual codebooks (q97). Split from `SimSearch.scala` along
  * the quantizer seam: coarse IVF training, probing, and the exact
  * re-rank kernel stay there and are imported; this module owns the
  * subvector split, codebook training, and the ADC shortlists.
  */
object AnnPq {
  private val PqM = 4 // subspaces (64 dims → 4 × 16)

  private val PqDs = 16 // dims per subspace

  private val PqKs = 16 // centroids per subspace codebook

  private val PqIters = 1 // Lloyd rounds per codebook

  private val PqShort = 32 // ADC shortlist size fed to the exact re-rank

  /** Per-subspace codebooks: seeds = subvectors of vectors
    * 0..[[PqKs]]-1, then [[PqIters]] Lloyd rounds — the q59 trainer
    * keyed by (m, cell) so all [[PqM]] codebooks train in the same
    * passes. Exact integer math; the (M·Ks)-row codebook table is
    * checkpointed and broadcast everywhere it is used.
    */
  private[operators] def pqCodebooks(subs: DataFrame): DataFrame = {
    var cent = subs.filter(col("vec_id") < PqKs)
      .select(col("m"), col("vec_id").cast("int").as("cell"),
        col("sqv").as("cqv"), col("sn2").as("cn2"))
    for (_ <- 1 to PqIters) {
      val assigned = subs.join(broadcast(cent), "m")
        .withColumn("d2", SimSearch.dist2(col("sqv"), col("sn2"), col("cqv"), col("cn2")))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("d2"), col("cell"), col("sqv"))).as("w"))
        .select(col("m"), col("w.cell").as("cell"), col("w.sqv").as("sqv"))
      cent = assigned
        .select(col("m"), col("cell"), posexplode(col("sqv")).as(Seq("pos", "v")))
        .groupBy(col("m"), col("cell"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .withColumn("cv", expr("(s - ((s % n) + n) % n) DIV n"))
        .groupBy(col("m"), col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          p => p.getField("cv")).as("cqv"))
        .withColumn("cn2", norm2(col("cqv")))
        .cp()
    }
    cent
  }

  /** q78: PRODUCT-QUANTIZATION ANN — the memory-scale path of the ANN
    * family (brute q19 → LSH q20 → IVF q34 → PQ): each vector is
    * stored as [[PqM]] one-byte codes (its nearest codebook centroid
    * per subspace), and queries score the WHOLE corpus from those
    * codes alone via asymmetric distance computation (ADC): adist =
    * Σ_m d²(query subvector, codebook[m][code_m]) — at 100 TB the
    * scored representation is M bytes/vector instead of 4·dims, the
    * difference between a corpus that fits executor memory and one
    * that doesn't. The ADC shortlist (top [[PqShort]] by approximate
    * distance) is then re-ranked with the exact integer cosine —
    * standard IVF-PQ practice, and it makes the whole pipeline
    * hash-checkable: train → encode → ADC → re-rank replays in DuckDB.
    *
    * Measured (sf0.01, recall@3 milli, q45): 4×16-centroid codebooks
    * with shortlist 16, 24, 32 → 583, 666, 750 (shipped); 8 subspaces of 8 dims
    * → 541 (worse — per-subspace resolution matters more than subspace
    * count on this corpus); 4-centroid codebooks → 166 (toy). The
    * shipped 750 @ 32-of-N-rescored sits between LSH's 791 (which
    * re-scores ~40% of the corpus) and IVF's 958 (whole vectors in
    * memory) — PQ's niche is the memory budget, not the recall crown.
    *
    * Scale shape: training/encoding are the q59 passes keyed by (m,
    * cell) — broadcast (M·Ks)-row codebook, map-side argmin; ADC is a
    * broadcast join of the per-query distance table (SimSearch.NQ·M·Ks rows)
    * onto the code table (N·M rows) + a (q, vec) sum — shuffle rows ∝
    * N·SimSearch.NQ like every per-query scorer here, but each row is a few
    * longs, not a vector. The window top-[[PqShort]] partitions per
    * query (bounded SimSearch.NQ; the q10 salted two-phase replaces it for huge
    * query sets).
    */
  /** PQ codebooks share the same once-per-session discipline as
    * [[SimSearch.centroidFixture]]: q78 and q45's PQ leg train identically.
    */
  private[graft] val pqBookFixture = SessionFixture("pq_codebooks") {
    (spark, dir) =>
      pqCodebooks(subsOf(SimSearch.featurized(spark, dir))).cp(eager = true)
  }

  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = SimSearch.base(spark, dir).cp()
    val subs = subsOf(e).cp()
    val books = pqBookFixture(spark, dir)
    val codes = subs.join(broadcast(books), "m")
      .withColumn("d2", SimSearch.dist2(col("sqv"), col("sn2"), col("cqv"), col("cn2")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("cell"))).as("w"))
      .select(col("vec_id"), col("m"), col("w.cell").as("cell"))
    val qdt = subs.filter(col("vec_id") < SimSearch.NQ)
      .join(broadcast(books), "m")
      .select(col("vec_id").as("q_id"), col("m"), col("cell"),
        SimSearch.dist2(col("sqv"), col("sn2"), col("cqv"), col("cn2")).as("d2"))
    val adist = codes.join(broadcast(qdt), Seq("m", "cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adist"))
    val short = adist
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("adist").asc, col("vec_id").asc)))
      .filter(col("rn") <= PqShort)
      .select(col("q_id"), col("vec_id"))
    SimSearch.rerank(e, short)
  }

  /** Subvector split of an arbitrary (keys..., qv) frame — the single
    * [[PqM]]×[[PqDs]] subspace-layout kernel behind corpus encoding, q97's
    * residual split, and the query-side distance tables. `keys` are
    * the passenger columns carried through the explode (vector id by
    * default; (q_id, cell) for per-probe query residuals).
    */
  private[operators] def subsOf(v: DataFrame,
      keys: Seq[String] = Seq("vec_id")): DataFrame =
    v.select(keys.map(col) :+
        explode(sequence(lit(0), lit(PqM - 1))).as("m") :+ col("qv"): _*)
      .select(keys.map(col) :+ col("m") :+
        slice(col("qv"), col("m") * PqDs + 1, lit(PqDs)).as("sqv"): _*)
      .withColumn("sn2", norm2(col("sqv")))

  /** q97's residual codebooks, once per session (see
    * [[SimSearch.centroidFixture]]): trained on the corpus residuals against the
    * q34 coarse quantizer — deterministic, so shared across q97 and
    * q45's ivfpq leg.
    */
  private[operators] def ivfPqBooksPlan(spark: SparkSession, dir: String): DataFrame = {
    val e = SimSearch.featurized(spark, dir)
    val cent = SimSearch.centroidFixture(spark, dir, SimSearch.NCells)
    val assigned = e.crossJoin(broadcast(cent))
      .withColumn("d2", SimSearch.dist2(col("qv"), col("n2"), col("cqv"), col("cn2")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"), col("qv"))).as("w"))
      .select(col("vec_id"), col("w.cell").as("cell"), col("w.qv").as("qv"))
    val resid = assigned.join(broadcast(cent), "cell")
      .select(col("vec_id"),
        zip_with(col("qv"), col("cqv"), (a, b) => a - b).as("qv"))
    pqCodebooks(subsOf(resid))
  }

  private[graft] val ivfPqBooks = SessionFixture("ivfpq_residual_books") {
    (spark, dir) => ivfPqBooksPlan(spark, dir).cp(eager = true)
  }

  /** q97: IVF-PQ with RESIDUAL codebooks — the production ANN shape
    * (FAISS `IVFx,PQy`): vectors assign to a trained coarse cell
    * (q34's quantizer), and PQ codes encode the RESIDUAL against the
    * cell centroid instead of the raw vector — residuals concentrate
    * near zero, so the same [[PqKs]]-centroid budget spends its
    * resolution where the data actually is, and the probe restricts
    * ADC scoring to the [[SimSearch.NProbe]] probed cells' lists (q78 scores the
    * whole corpus). Per probed (query, cell) pair the query re-centers
    * against THAT cell before building its distance table — the
    * asymmetric-distance trick that makes residual coding work.
    * Training, encoding, probing and re-rank all replay exactly in
    * DuckDB (integer math end to end).
    *
    * Scale: storage is M bytes + a cell id per vector (the PQ memory
    * story) while scoring touches probed lists only (the IVF I/O
    * story) — the combination is what a billion-vector deployment
    * actually runs. Shapes: broadcast SimSearch.K-row/(M·Ks)-row tables,
    * map-side argmins, one (cell, m, code) equi-join for ADC.
    *
    * Measured (sf0.01, recall@3 milli, q45): ivfpq 875 — above
    * raw-vector PQ's 750 while ADC-scoring only ~0.26 of the corpus
    * (q78 scores ALL of it), below in-memory IVF's 958 (whole vectors,
    * no 4-byte codes): exactly the memory/recall/IO middle ground the
    * shape exists for. Residual coding is worth +125 recall milli over
    * raw-vector PQ at a quarter of the scoring work.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = SimSearch.base(spark, dir).cp()
    val cent = SimSearch.centroidFixture(spark, dir, SimSearch.NCells)
    val scored = e.crossJoin(broadcast(cent))
      .withColumn("d2", SimSearch.dist2(col("qv"), col("n2"), col("cqv"), col("cn2")))
    val assigned = scored.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"), col("qv"))).as("w"))
      .select(col("vec_id"), col("w.cell").as("cell"), col("w.qv").as("qv"))
      .cp()
    val books = ivfPqBooks(spark, dir)
      .select(col("m"), col("cell").as("code"), col("cqv"), col("cn2"))
    // encode: residual vs the assigned centroid, nearest book code per m
    val resid = assigned.join(broadcast(cent), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("qv"), col("cqv"), (a, b) => a - b).as("qv"))
    val codes = subsOf(resid.select(col("vec_id"), col("qv")))
      .join(broadcast(books), "m")
      .withColumn("d2", SimSearch.dist2(col("sqv"), col("sn2"), col("cqv"), col("cn2")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("code"))).as("w"))
      .select(col("vec_id"), col("m"), col("w.code").as("code"))
      .join(assigned.select(col("vec_id"), col("cell")), "vec_id")
    // probe: SimSearch.NProbe nearest coarse cells per query (q34's probes)
    val queryProbes = scored.filter(col("vec_id") < SimSearch.NQ)
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("d2"), col("cell"))))
      .filter(col("rn") <= SimSearch.NProbe)
      .select(col("vec_id").as("q_id"), col("cell"))
    // per probed (query, cell): re-center the query against THAT cell,
    // then its subspace distance table over the residual codebooks
    val qresid = queryProbes
      .join(e.filter(col("vec_id") < SimSearch.NQ)
        .select(col("vec_id").as("q_id"), col("qv")), "q_id")
      .join(broadcast(cent), "cell")
      .select(col("q_id"), col("cell"),
        zip_with(col("qv"), col("cqv"), (a, b) => a - b).as("qv"))
    val qdt = subsOf(qresid, keys = Seq("q_id", "cell"))
      .join(broadcast(books), "m")
      .select(col("q_id"), col("cell"), col("m"), col("code"),
        SimSearch.dist2(col("sqv"), col("sn2"), col("cqv"), col("cn2")).as("d2"))
    // ADC over probed lists only: codes match qdt on (cell, m, code)
    val adist = codes.join(broadcast(qdt), Seq("cell", "m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adist"))
    val short = adist
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("adist").asc, col("vec_id").asc)))
      .filter(col("rn") <= PqShort)
      .select(col("q_id"), col("vec_id"))
    SimSearch.rerank(e, short)
  }

  /** q78 replay: subvector table keyed by (vec_id, m), one keyed Lloyd
    * round per codebook (all [[PqM]] at once), code assignment, the
    * per-query ADC distance table, shortlist, exact re-rank.
    */
  private[operators] val pqSql = {
    val subD2 = s"x.sn2 - 2*${sqlDotq("x.sqv", "c.cqv")} + c.cn2"
    s"""${SimSearch.baseSql},
       |subs0 AS (SELECT vec_id, unnest(range($PqM)) m, qv FROM n),
       |subs AS (SELECT vec_id, m,
       |           list_transform(range(1, ${PqDs + 1}), i -> qv[m*$PqDs + i]) sqv
       |         FROM subs0),
       |subsn AS (SELECT vec_id, m, sqv, ${sqlNorm2("sqv")} sn2 FROM subs),
       |pcent0 AS (SELECT m, CAST(vec_id AS INTEGER) cell, sqv cqv, sn2 cn2
       |           FROM subsn WHERE vec_id < $PqKs),
       |pa1 AS (SELECT vec_id, m, cell, sqv FROM (
       |    SELECT x.vec_id, x.m, c.cell, x.sqv,
       |      row_number() OVER (PARTITION BY x.vec_id, x.m
       |        ORDER BY $subD2, c.cell) rn
       |    FROM subsn x JOIN pcent0 c ON x.m = c.m) WHERE rn = 1),
       |ppx AS (SELECT m, cell, unnest(range(1, len(sqv)+1)) i, unnest(sqv) v
       |        FROM pa1),
       |ps AS (SELECT m, cell, i, CAST(sum(v) AS BIGINT) s, count(*) cnt
       |       FROM ppx GROUP BY m, cell, i),
       |pc AS (SELECT m, cell,
       |         list((s - ((s % cnt) + cnt) % cnt) // cnt ORDER BY i) cqv
       |       FROM ps GROUP BY m, cell),
       |books AS (SELECT m, cell, cqv, ${sqlNorm2("cqv")} cn2 FROM pc),
       |codes AS (SELECT vec_id, m, cell FROM (
       |    SELECT x.vec_id, x.m, c.cell,
       |      row_number() OVER (PARTITION BY x.vec_id, x.m
       |        ORDER BY $subD2, c.cell) rn
       |    FROM subsn x JOIN books c ON x.m = c.m) WHERE rn = 1),
       |qdt AS (SELECT x.vec_id q_id, c.m, c.cell, $subD2 d2
       |        FROM subsn x JOIN books c ON x.m = c.m
       |        WHERE x.vec_id < ${SimSearch.NQ}),
       |adist AS (SELECT q.q_id, c.vec_id, CAST(sum(q.d2) AS BIGINT) adist
       |          FROM codes c JOIN qdt q ON q.m = c.m AND q.cell = c.cell
       |          WHERE c.vec_id <> q.q_id
       |          GROUP BY q.q_id, c.vec_id),
       |short AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY adist ASC, vec_id ASC) rn
       |    FROM adist) WHERE rn <= $PqShort),
       |s AS (SELECT short.q_id, short.vec_id,
       |        CAST(${sqlDotq("q.qv", "c.qv")} AS DOUBLE) / sqrt(nullif(CAST(q.n2 AS DOUBLE)*CAST(c.n2 AS DOUBLE), 0.0)) cosine
       |      FROM short JOIN n q ON q.vec_id = short.q_id
       |                 JOIN n c ON c.vec_id = short.vec_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) rnk FROM s)
       |SELECT q_id, rnk, vec_id, cosine FROM r WHERE rnk <= ${SimSearch.K}""".stripMargin
  }

  /** q97 replay: coarse training (the q34 chain), integer residuals
    * against the assigned centroid, residual-codebook training and
    * encoding (the q78 chain over residual subvectors), per-probed-cell
    * query re-centering, cell-restricted ADC, exact re-rank.
    */
  private[operators] val ivfpqSql = {
    val subD2 = s"x.sn2 - 2*${sqlDotq("x.sqv", "c.cqv")} + c.cn2"
    val probeD2 = s"x.n2 - 2*${sqlDotq("x.qv", "c.cqv")} + c.cn2"
    val D = PqM * PqDs
    s"""${SimSearch.baseSql},
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) cell, qv cqv, n2 cn2
       |          FROM n WHERE vec_id < ${SimSearch.NCells}),
       |${SimSearch.kmAssignSql("cent0", "1")},
       |${SimSearch.kmUpdateSql("1", "1")},
       |${SimSearch.kmAssignSql("centn1", "2")},
       |${SimSearch.kmUpdateSql("2", "2")},
       |${SimSearch.kmAssignSql("centn2", "3")},
       |resid AS (SELECT a.vec_id, a.cell,
       |            list_transform(range(1, ${D + 1}), i -> a.qv[i] - c.cqv[i]) rv
       |          FROM a3 a JOIN centn2 c USING (cell)),
       |rsubs0 AS (SELECT vec_id, cell, unnest(range($PqM)) m, rv FROM resid),
       |rsubs AS (SELECT vec_id, cell, m,
       |            list_transform(range(1, ${PqDs + 1}), i -> rv[m*$PqDs + i]) sqv
       |          FROM rsubs0),
       |rsubsn AS (SELECT vec_id, cell, m, sqv, ${sqlNorm2("sqv")} sn2 FROM rsubs),
       |pcent0 AS (SELECT m, CAST(vec_id AS INTEGER) cell, sqv cqv, sn2 cn2
       |           FROM rsubsn WHERE vec_id < $PqKs),
       |pa1 AS (SELECT vec_id, m, cell, sqv FROM (
       |    SELECT x.vec_id, x.m, c.cell, x.sqv,
       |      row_number() OVER (PARTITION BY x.vec_id, x.m
       |        ORDER BY $subD2, c.cell) rn
       |    FROM rsubsn x JOIN pcent0 c ON x.m = c.m) WHERE rn = 1),
       |ppx AS (SELECT m, cell, unnest(range(1, len(sqv)+1)) i, unnest(sqv) v
       |        FROM pa1),
       |ps AS (SELECT m, cell, i, CAST(sum(v) AS BIGINT) s, count(*) cnt
       |       FROM ppx GROUP BY m, cell, i),
       |pc AS (SELECT m, cell,
       |         list((s - ((s % cnt) + cnt) % cnt) // cnt ORDER BY i) cqv
       |       FROM ps GROUP BY m, cell),
       |books AS (SELECT m, cell, cqv, ${sqlNorm2("cqv")} cn2 FROM pc),
       |codes AS (SELECT vec_id, ccell, m, code FROM (
       |    SELECT x.vec_id, x.cell ccell, x.m, c.cell code,
       |      row_number() OVER (PARTITION BY x.vec_id, x.m
       |        ORDER BY $subD2, c.cell) rn
       |    FROM rsubsn x JOIN books c ON x.m = c.m) WHERE rn = 1),
       |probes AS (SELECT q_id, cell FROM (
       |    SELECT x.vec_id q_id, c.cell,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY $probeD2, c.cell) rn
       |    FROM n x CROSS JOIN centn2 c WHERE x.vec_id < ${SimSearch.NQ})
       |  WHERE rn <= ${SimSearch.NProbe}),
       |qres AS (SELECT p.q_id, p.cell,
       |           list_transform(range(1, ${D + 1}), i -> x.qv[i] - c.cqv[i]) rv
       |         FROM probes p JOIN n x ON x.vec_id = p.q_id
       |                       JOIN centn2 c USING (cell)),
       |qsub0 AS (SELECT q_id, cell, unnest(range($PqM)) m, rv FROM qres),
       |qsub AS (SELECT q_id, cell, m,
       |           list_transform(range(1, ${PqDs + 1}), i -> rv[m*$PqDs + i]) sqv
       |         FROM qsub0),
       |qsubn AS (SELECT q_id, cell, m, sqv, ${sqlNorm2("sqv")} sn2 FROM qsub),
       |qdt AS (SELECT x.q_id, x.cell, x.m, c.cell code, $subD2 d2
       |        FROM qsubn x JOIN books c ON x.m = c.m),
       |adist AS (SELECT q.q_id, v.vec_id, CAST(sum(q.d2) AS BIGINT) adist
       |          FROM codes v JOIN qdt q
       |            ON q.cell = v.ccell AND q.m = v.m AND q.code = v.code
       |          WHERE v.vec_id <> q.q_id
       |          GROUP BY q.q_id, v.vec_id),
       |short AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY adist ASC, vec_id ASC) rn
       |    FROM adist) WHERE rn <= $PqShort),
       |s AS (SELECT short.q_id, short.vec_id,
       |        CAST(${sqlDotq("q.qv", "c.qv")} AS DOUBLE) / sqrt(nullif(CAST(q.n2 AS DOUBLE)*CAST(c.n2 AS DOUBLE), 0.0)) cosine
       |      FROM short JOIN n q ON q.vec_id = short.q_id
       |                 JOIN n c ON c.vec_id = short.vec_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) rnk FROM s)
       |SELECT q_id, rnk, vec_id, cosine FROM r WHERE rnk <= ${SimSearch.K}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q78_ann_pq" -> annPq,
    "q97_ann_ivfpq" -> annIvfPq)

  val oracle: Map[String, String] = Map(
    "q78_ann_pq" -> pqSql,
    "q97_ann_ivfpq" -> ivfpqSql)
}

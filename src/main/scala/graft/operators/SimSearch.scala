package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.operators.Checkpoints._
import graft.sources.Tables

/** Approximate-nearest-neighbour search over `embeddings.embedding`
  * (`array<float>`): brute-force cosine top-k as the exact baseline and
  * a sign-LSH bucketed variant as the scale path.
  *
  * Scale shape: the query set is SMALL (it's the thing being searched
  * for) and is explicitly `broadcast` — the corpus never shuffles. The
  * LSH variant additionally prunes the corpus scan to band-key matches,
  * turning top-k from corpus×queries into Σ bucket-hits. Cosine uses
  * the exact milli-quantised integer dot/norms from
  * [[graft.functions.Portable]] so the DuckDB oracle matches exactly.
  */
object SimSearch {

  private[operators] val K = 3 // neighbours returned per query
  private[operators] val NQ = 8 // query vectors: vec_id < NQ

  private[operators] def base(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), qvec(col("embedding")).as("qv"))
      .withColumn("n2", norm2(col("qv")))

  /** q19: brute-force cosine top-k — every corpus vector scored against
    * every (broadcast) query vector, per-query top-3 via row_number.
    * The window has NQ partitions: fine for a bounded query set; a huge
    * query set would use the salted two-phase top-k of q10 instead.
    */
  def annBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = base(spark, dir)
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"), col("n2").as("qn2"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineq(dotq(col("qqv"), col("qv")), col("qn2"), col("n2")).as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("cosine"))
  }

  /** q99: brute-force top-K via the TYPED TOP-K AGGREGATOR
    * ([[graft.functions.TopKScored]]) instead of a per-query window —
    * the same exact scoring as q19, but ranked by a bounded
    * partial-aggregating heap: each map task ships at most K rows per
    * query to the shuffle (the window form shuffles EVERY candidate,
    * then sorts each group before cutting). Same result by
    * construction (identical IEEE cosine, identical tie-break), so
    * q19's oracle hash-checks the aggregator; at 100 TB this shape is
    * how "top-k per key" composes into any aggregation without a
    * group-wide sort.
    */
  def annTopkAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = base(spark, dir)
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"),
        col("n2").as("qn2"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        // null cosine (a zero-norm vector) rides the heap as −∞: the
        // typed Aggregator can't hold nulls, but (−score, id) ordering
        // over −∞ IS q19's `cosine DESC NULLS LAST, vec_id` — so a
        // query with < K finite candidates emits the same null-cosine
        // tail rows as the window form, instead of silently fewer rows
        // (−∞ can't collide with a real cosine: the range is [−1, 1])
        coalesce(
          cosineq(dotq(col("qqv"), col("qv")), col("qn2"), col("n2")),
          lit(Double.NegativeInfinity)).as("cosine"))
      .as[(Long, Long, Double)]
    scored.groupByKey(_._1)
      .agg(new graft.functions.TopKScored(K).toColumn.name("top"))
      .toDF("q_id", "top")
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("q_id"), (col("i") + 1).as("rnk"),
        col("s._1").as("vec_id"),
        when(col("s._2") === Double.NegativeInfinity,
          lit(null).cast("double")).otherwise(col("s._2")).as("cosine"))
  }

  /** Shared exact re-rank tail for the bucketed ANN variants: join the
    * (q_id, vec_id) candidate pairs back onto the quantised features
    * (query side broadcast), exact integer cosine, per-query top-K.
    */
  private[operators] def rerank(feat0: DataFrame, cand: DataFrame): DataFrame = {
    val feat = feat0.select(col("vec_id"), col("qv"), col("n2"))
    val qfeat = feat.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"), col("n2").as("qn2"))
    val scored = cand
      .join(feat, "vec_id")
      .join(broadcast(qfeat), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineq(dotq(col("qqv"), col("qv")), col("qn2"), col("n2")).as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("cosine"))
  }

  private val SigBits = 32 // sign bits in the LSH signature
  private val Bands = 8 // bands of 4 bits each

  /** 32-bit sign signature of the quantised vector, as a '0'/'1' string.
    * 8 bands × 4 bits was chosen from a measured recall/scan sweep at
    * sf0.01 (recall@3 in milli vs fraction of corpus scanned):
    * 4×4 → 458 @ 0.23, 8×4 → 791 @ 0.41, 6×3 → 833 @ 0.54,
    * 8×2 → 1000 @ 0.89. 8×4 crosses the 0.75 recall mark while still
    * pruning ~60% of the corpus — the knee of the curve on this
    * weakly-clustered corpus (neighbour cosines ≈ 0.3).
    */
  private def sigBits(qv: Column): Column =
    array_join(transform(sequence(lit(1), lit(SigBits)), i =>
      when(element_at(qv, i) > 0, "1").otherwise("0")), "")

  /** band keys: 8 bands × 4 sign bits. */
  private def bandKeys(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)), b =>
      concat_ws(":", b, sig.substr(b * 4 + 1, lit(4))))

  /** q20: sign-LSH bucketed ANN — candidates are corpus vectors sharing
    * at least one 4-bit sign band with the query (multi-probe OR),
    * then exact top-3 among candidates. The band join replaces the full
    * corpus scan per query; recall is the documented LSH trade-off and
    * the oracle implements the identical bucketing.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    // lazy checkpoint: the featurized corpus (qvec + norm + signature)
    // feeds the corpus bands, the query bands AND the re-rank join —
    // compute it once per action instead of once per branch (the
    // Dedup.scala signature-sharing pattern)
    val e = base(spark, dir).withColumn("sig", sigBits(col("qv")))
      .cp()
    val corpusBands = e.select(col("vec_id"),
      explode(bandKeys(col("sig"))).as("bkey"))
    val queryBands = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), explode(bandKeys(col("sig"))).as("bkey"))
    val cand = corpusBands.join(broadcast(queryBands), "bkey")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    rerank(e, cand)
  }

  private[operators] val MatDims = 32 // q125 coarse-stage prefix dims (of 64)
  // coarse candidates per query: from a measured recall@3 sweep at
  // sf0.01 (q45 audits it every round) — C=40 → 708 milli, C=80 → 875,
  // matching IVF-PQ's recall while stage 2 still touches only
  // C/corpus of the full-width vectors
  private val MatC = 80

  /** q125: MATRYOSHKA TWO-STAGE ANN — coarse search over the leading
    * [[MatDims]]-dim PREFIX of each embedding (half the bytes per
    * distance), exact full-dim re-rank over the per-query top-[[MatC]]
    * survivors. This is the retrieval pattern matryoshka-trained
    * embeddings exist for: stage 1 scans cheap truncated vectors
    * (at 100 TB: half the scan bytes and FLOPs of q19, or the IVF/PQ
    * variants run directly on the prefix), stage 2 touches full
    * vectors only for candidates·queries rows. Prefix slicing is
    * row-local (`slice`), the integer dot/norm discipline is
    * unchanged, so the oracle replays both stages exactly.
    */
  def annMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    val e = base(spark, dir)
      .withColumn("qvh", slice(col("qv"), 1, MatDims))
      .withColumn("n2h", norm2(col("qvh")))
      .cp() // feeds coarse scan AND re-rank
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("qvh").as("qqvh"),
        col("n2h").as("qn2h"))
    val coarse = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineq(dotq(col("qqvh"), col("qvh")), col("qn2h"), col("n2h"))
          .as("ccos"))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("vec_id").asc)
    val cand = coarse.withColumn("crnk", row_number().over(wc))
      .filter(col("crnk") <= MatC)
      .select(col("q_id"), col("vec_id"))
    rerank(e, cand)
  }

  private[graft] val NCells = 16 // IVF coarse-quantizer cells
  private[operators] val NProbe = 4 // cells probed per query (prunes 3/4 of corpus)

  private val KmK = 8 // k-means clusters (q59's reported clustering)
  private val KmIters = 2 // unrolled Lloyd iterations

  /** Squared L2 distance from exactly-computed integers:
    * ||x-c||² = n2x − 2·x·c + n2c.
    */
  private[operators] def dist2(qv: Column, n2: Column, cqv: Column, cn2: Column): Column =
    n2 - lit(2L) * dotq(qv, cqv) + cn2

  /** [[KmIters]] Lloyd rounds at `k` cells over the featurized corpus
    * `e` (seeds = vectors 0..k-1) — the shared trainer behind q59's
    * clustering AND q34's coarse quantizer. Exact integer math
    * throughout (see [[kmeansEmbed]]); each round's K-row centroid
    * table is checkpointed so the lazy plan stays linear.
    */
  private def kmSeeds(e: DataFrame, k: Int): DataFrame =
    e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"),
        col("qv").as("cqv"), col("n2").as("cn2"))

  /** One Lloyd round: argmin assignment against the broadcast K-row
    * centroid table, then exact floor(sum/count) centroid update. The
    * K-row result is checkpointed so downstream consumers (and the
    * next round) don't re-run the assign/update chain.
    */
  private def lloydRound(e: DataFrame, cent: DataFrame): DataFrame = {
    val assigned = e.crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("n2"), col("cqv"), col("cn2")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"), col("qv"))).as("w"))
      .select(col("w.cell").as("cell"), col("w.qv").as("qv"))
    assigned
      .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("cv", expr("(s - ((s % n) + n) % n) DIV n"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        p => p.getField("cv")).as("cqv"))
      .withColumn("cn2", norm2(col("cqv")))
      .cp()
  }

  private[operators] def trainCentroids(e: DataFrame, k: Int): DataFrame =
    trainedAfter(e, k, KmIters)

  /** One TRAINED centroid table per (context, sf dir, k), eagerly
    * checkpointed at first use: q34, q59, q68, q85 (and q45 through
    * the q34 path) all consume the IDENTICAL deterministic training
    * (seeds + [[KmIters]] exact integer Lloyd rounds over the same
    * corpus), so the multi-pass training cost is paid once per session
    * instead of once per query invocation — the Sink fixture pattern
    * applied to a derived K-row artifact. Results are bit-identical to
    * per-query training by construction, so every oracle hash is
    * unchanged. One [[SessionFixture]] per k.
    */
  private val centroids: Map[Int, SessionFixture[DataFrame]] =
    Seq(KmK, NCells).map(k => k -> SessionFixture(s"centroids_k$k") {
      (spark, dir) => trainCentroids(featurized(spark, dir), k).cp(eager = true)
    }).toMap

  /** q59's k = [[KmK]] clustering, the benched one; the [[NCells]]
    * quantizer builds inside the IVF-PQ codebook fixture.
    */
  private[graft] val kmCentroids: SessionFixture[DataFrame] = centroids(KmK)

  private[graft] def centroidFixture(spark: SparkSession, dir: String,
      k: Int): DataFrame = centroids(k)(spark, dir)

  /** Seeds + exactly `rounds` Lloyd rounds — the unroll at a given
    * depth (spec hook for proving loop ≡ unroll). */
  private[graft] def trainedAfter(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    var cent = kmSeeds(e, k)
    for (_ <- 1 to rounds) cent = lloydRound(e, cent)
    cent
  }

  private[graft] def featurized(spark: SparkSession, dir: String): DataFrame =
    base(spark, dir).cp()

  /** PRODUCTION fixpoint variant of [[trainCentroids]]: iterate
    * [[lloydRound]] until the K-row centroid table is bit-identical
    * round over round (a driver-side check on K tiny rows — the
    * "driver-loop with a cheap convergence test" the unrolled
    * [[KmIters]] stand-in documents), failing LOUDLY after `maxIters`
    * instead of silently emitting an unconverged clustering. Returns
    * the centroids and the number of rounds run; SimSearch's spec
    * proves loop-until-converged ≡ the unroll at the same depth.
    */
  def trainCentroidsConverged(spark: SparkSession, dir: String, k: Int,
      maxIters: Int = 32): (DataFrame, Int) = {
    val e = featurized(spark, dir)
    def snap(c: DataFrame): Seq[(Int, Seq[Long])] =
      c.collect().map(r => (r.getInt(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
    var cent = lloydRound(e, kmSeeds(e, k))
    var prev = snap(cent)
    var iters = 1
    var done = false
    while (!done && iters < maxIters) {
      cent = lloydRound(e, cent)
      val cur = snap(cent)
      done = cur == prev
      prev = cur
      iters += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"k-means did not converge within $maxIters Lloyd rounds")
    (cent, iters)
  }

  /** q34: IVF ANN with a TRAINED coarse quantizer — [[NCells]] k-means
    * centroids ([[trainCentroids]], the promised swap-in for the
    * earlier deterministic ±1 stand-in): corpus vectors are assigned to
    * their nearest centroid (the inverted lists), queries probe their
    * [[NProbe]] nearest cells, exact cosine re-rank on the probed
    * lists only. The DuckDB oracle replays the training bit-for-bit
    * (exact integer Lloyd), so the whole train→assign→probe→re-rank
    * pipeline is hash-checked.
    *
    * Scale shape: training cost is [[KmIters]]+1 corpus passes, each a
    * K-row centroid broadcast + row-local argmin folded into map-side
    * partials (no corpus×corpus anything); the probe is an equi-join
    * on cell id; re-rank touches the probed lists only. Versus q20's
    * LSH: cells PARTITION the corpus (each vector in exactly one
    * list — storage ∝ N), while LSH replicates per band (storage ∝
    * N·bands); recall comes from probing more cells, not more bands.
    *
    * Measured (sf0.01, recall@3 milli vs corpus fraction scanned):
    * trained 4/16 probes → **958 @ 0.26**, vs the previous untrained
    * ±1 pattern's 500 @ 0.29 and sign-LSH's 791 @ 0.41 — training the
    * quantizer nearly doubled recall while scanning LESS of the
    * corpus, refuting the earlier "data-bound ceiling" reading: the
    * corpus does cluster, the untrained projections just couldn't see
    * it. q45 re-measures per round.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    // shared across training, the corpus lists, the probes and the
    // re-rank join (see annLsh)
    val e = base(spark, dir).cp()
    val cent = centroidFixture(spark, dir, NCells)
    val scored = e.crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("n2"), col("cqv"), col("cn2")))
    val corpus = scored.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("w"))
      .select(col("vec_id"), col("w.cell").as("cell"))
    val queryProbes = scored.filter(col("vec_id") < NQ)
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("d2"), col("cell"))))
      .filter(col("rn") <= NProbe)
      .select(col("vec_id").as("q_id"), col("cell"))
    val cand = corpus
      .join(broadcast(queryProbes), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    rerank(e, cand)
  }

  /** q59: K-MEANS over the quantised embeddings — the trained coarse
    * quantizer q34's IVF is designed to consume (its scaladoc documents
    * the deterministic ±1 pattern as the untrained stand-in). Lloyd's
    * algorithm, made engine-portable and exactly integer:
    * seeds = vectors 0..K-1, squared-L2 assignment with (dist², cell)
    * tie-break, centroid update = element-wise FLOOR(sum/count) via the
    * sign-portable remainder identity `(s - ((s%n)+n)%n) DIV n` (Spark
    * DIV truncates, DuckDB // floors; on the exactly-divisible numerator
    * both yield the true quotient). [[KmIters]] iterations unrolled so
    * the query stays one lazy plan; a production run loops
    * assign/update with a driver-side convergence test.
    *
    * Scale shape per iteration: assignment is a broadcast of K
    * centroids + a row-local argmin folded into a map-side-partial
    * `min(struct(...))` groupBy (shuffle = one row per vector);
    * the update shuffles (cell, dim) partial sums — K×64 groups, a few
    * KB at any corpus size. Empty cells simply drop out (both engines
    * agree); k-means++-style reseeding is a policy layer, not a plan
    * change. Output: per-cell membership and exact integer inertia.
    */
  def kmeansEmbed(spark: SparkSession, dir: String): DataFrame = {
    val e = base(spark, dir).cp()
    val cent = centroidFixture(spark, dir, KmK)
    e.crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("n2"), col("cqv"), col("cn2")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("w"))
      .groupBy(col("w.cell").as("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("w.d2")).as("inertia"))
  }

  private val SemThr = 0.4 // within-cell cosine above which the
  // higher-id vector is a semantic duplicate (data-calibrated like
  // q18's 0.35; the planted near-dups sit well above it)

  /** q68: SEMANTIC DEDUP — SemDeDup (Abbas et al. 2023): cluster the
    * embedding corpus with the q59 k-means quantizer, then remove,
    * WITHIN each cell only, every vector that has a lower-id neighbour
    * above [[SemThr]] cosine. The cells turn the N² near-dup search
    * into Σ|cell|² — the same candidate-pruning role they play for
    * q34's IVF probe, reused for curation; cross-cell near-dups are
    * the accepted miss (the paper's trade), and the keep-lowest-id
    * rule is order-free and deterministic, so both engines agree
    * without any iterative clustering.
    *
    * Scale shape: training + assignment are the q59 passes (broadcast
    * K centroids, map-side argmin); the pair generation is an
    * equi-self-join on cell id — at 100 TB you raise K so max|cell|
    * stays bounded (K ∝ N keeps Σ|cell|² ≈ N·|cell|), which is a
    * config change, not a plan change. Output is one row per corpus
    * vector with its cell and removal verdict.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = base(spark, dir).cp()
    val cent = centroidFixture(spark, dir, KmK)
    val feat = e.crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("n2"), col("cqv"), col("cn2")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"), col("qv"), col("n2"))).as("w"))
      .select(col("vec_id"), col("w.cell").as("cell"),
        col("w.qv").as("qv"), col("w.n2").as("n2"))
      .cp()
    val dup = feat.as("a").join(feat.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(cosineq(dotq(col("a.qv"), col("b.qv")),
        col("a.n2"), col("b.n2")) >= SemThr)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("removed", lit(true))
    feat.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("removed"), lit(false)).as("removed"))
  }

  private val QuotaK = 24 // per-cell diversity quota

  /** q180: CLUSTER-BALANCED DIVERSITY SAMPLE — cap every semantic
    * region at [[QuotaK]] vectors: assign each vector to its nearest
    * q59 centroid (q68's cells), then keep a deterministic per-cell
    * quota by salted-hash priority. Where q68 removes near-DUPLICATES
    * within a cell and q159 balances LABELS, this flattens semantic
    * DENSITY — the over-represented topic contributes the same sample
    * budget as the rare one, the embedding-space analog of q175's
    * per-language temperature flattening (and the cheap version of the
    * facility-location selection the data-pruning literature ends at).
    * Hash priorities (not distance ranks) make the sample unbiased
    * WITHIN each cell and append-stable: re-running after a corpus
    * grow only swaps members whose priorities beat the incumbents.
    *
    * Scale: assignment is q34's broadcast-argmin (row-local, map-side
    * partials); selection is the q159 bounded-heap Aggregator — at
    * most [[QuotaK]] rows per cell leave each map task, so the shuffle
    * carries cells×K rows no matter the corpus size. No windows, no
    * per-cell sorts.
    */
  def cellQuotaSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = base(spark, dir).cp()
    val cent = centroidFixture(spark, dir, KmK)
    val asg = e.crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("n2"), col("cqv"), col("cn2")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("w"))
      .select(col("vec_id"), col("w.cell").as("cell"))
    asg
      .withColumn("pri", graft.functions.HashOps.md5_prefix60(
        concat(lit("quota:"), col("vec_id").cast("string"))))
      .select(col("cell").cast("long"), col("pri"), col("vec_id"), lit(0L))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .agg(new graft.functions.BottomKRanked(QuotaK).toColumn.name("top"))
      .toDF("cell", "top")
      .select(col("cell").cast("int").as("cell"),
        posexplode(col("top")).as(Seq("i", "s")))
      .select(col("cell"), (col("i") + 1).as("rnk"),
        col("s._2").as("vec_id"), col("s._1").as("pri"))
  }

  /** q85: FILTERED vector search — top-K under a metadata predicate
    * (here: even labels only), the production shape where ANN meets a
    * WHERE clause. Strategy is FILTER-THEN-PROBE over the trained IVF:
    * the inverted lists are pre-filtered by the predicate BEFORE the
    * probe join, so candidate generation scans only qualifying
    * vectors — the correct-recall ordering (probe-then-filter can
    * return < K when a probed cell is predicate-sparse; filtering
    * first keeps the per-cell candidate flow full). Queries probe the
    * same NProbe cells as q34; the exact re-rank runs on filtered
    * candidates only. At 100 TB the predicate typically reaches the
    * list storage as a pushed filter (a label-partitioned list table),
    * which this plan's shape — filter directly on the scan side of the
    * probe join — is exactly positioned to exploit.
    */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), qvec(col("embedding")).as("qv"), col("label"))
      .withColumn("n2", norm2(col("qv")))
      .cp()
    val e = e0.select(col("vec_id"), col("qv"), col("n2"))
    val cent = centroidFixture(spark, dir, NCells)
    val scored = e0.crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("n2"), col("cqv"), col("cn2")))
    // (d2, cell) is unique per vector, so carrying label through the
    // argmin struct can never perturb the tie-break
    val corpus = scored.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"), col("label"))).as("w"))
      .select(col("vec_id"), col("w.cell").as("cell"), col("w.label").as("label"))
      .filter(col("label") % 2 === 0)
    val queryProbes = scored.filter(col("vec_id") < NQ)
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("d2"), col("cell"))))
      .filter(col("rn") <= NProbe)
      .select(col("vec_id").as("q_id"), col("cell"))
    val cand = corpus
      .join(broadcast(queryProbes), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    rerank(e, cand)
  }

  /** Audit hook: the UN-checkpointed build pipelines of every shared
    * trained artifact, so SCALE.md can count their shuffles on their
    * own `fixture:*` rows (amortized once per corpus) instead of
    * inlining training into every consumer's row.
    */
  private[graft] def fixturePlans(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] = Seq(
    s"fixture:centroids_k$KmK" -> trainCentroids(featurized(spark, dir), KmK),
    s"fixture:centroids_k$NCells" ->
      trainCentroids(featurized(spark, dir), NCells),
    "fixture:pq_codebooks" -> AnnPq.pqCodebooks(AnnPq.subsOf(featurized(spark, dir))),
    "fixture:ivfpq_residual_books" -> AnnPq.ivfPqBooksPlan(spark, dir),
    "q173:calibration" -> VectorOps.int8CalPlan(spark, dir))

  /** q115: INCREMENTAL IVF MAINTENANCE — the index operation a live
    * vector store runs continuously: new arrivals (here the vec_id %
    * 10 == 9 decile) are assigned to the EXISTING coarse cells — one
    * broadcast-argmin pass over only the increment, the q58 increment
    * discipline applied to the ANN index — while the quantizer trained
    * on the base corpus stays frozen. Output per cell: base list
    * size, arrival count, and the arrivals' summed assignment dist²
    * (the drift signal: a cell whose arrivals sit far from its
    * centroid is the retrain trigger). No all-corpus retrain, no
    * all-pairs anything; at 100 TB the increment pass touches
    * |arrivals| rows against a broadcast K-row table.
    */
  def ivfIncrement(spark: SparkSession, dir: String): DataFrame = {
    val all = base(spark, dir).cp()
    val baseSet = all.filter(col("vec_id") % 10 =!= 9)
    val newSet = all.filter(col("vec_id") % 10 === 9)
    // frozen quantizer: trained on the BASE corpus only (seeds = base
    // ids < NCells), deliberately NOT the shared full-corpus fixture
    val cent = trainCentroids(baseSet, NCells)
    def assign(v: DataFrame): DataFrame = v.crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("n2"), col("cqv"), col("cn2")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("w"))
    val b = assign(baseSet)
      .groupBy(col("w.cell").as("cell"))
      .agg(count(lit(1)).as("n_base"))
    val a = assign(newSet)
      .groupBy(col("w.cell").as("cell"))
      .agg(count(lit(1)).as("n_new"), sum(col("w.d2")).as("drift_d2"))
    b.join(a, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("drift_d2"), lit(0L)).as("drift_d2"))
  }

  /** q45: recall@K of the approximate variants against the exact
    * brute-force top-K — the accuracy/cost trade-off measured inside
    * the engine itself. Exact integer recall (`hits*1000 DIV total`)
    * so the oracle hash-matches.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    // lazy checkpoint: the brute-force top-K computes once on first
    // action and is shared by all three consumers below — no job runs
    // at query-build time (the q33 tfidf discipline)
    val b = annBrute(spark, dir).select(col("q_id"), col("vec_id"))
      .cp()
    // total in-plan as a broadcast 1-row aggregate instead of a
    // driver-side count()
    val tot = b.agg(count(lit(1)).as("n_brute"))
    def tag(method: String, approx: DataFrame): DataFrame =
      approx.select(lit(method).as("method"), col("q_id"), col("vec_id"))
    // the q209 adaptive prober joins the same ladder under a TRUE
    // predicate (all cells qualify): its recall floor is audited
    // against the SAME brute truth as the static methods, so a
    // widening regression (floor/cap sabotage) trips the q45 floors
    // instead of hiding behind q209's own oracle re-baselining
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), qvec(col("embedding")).as("qv"), col("label"))
      .withColumn("n2", norm2(col("qv")))
      .cp()
    // ONE tagged union -> ONE semi-join against the brute truth -> ONE
    // grouped count, instead of the former per-method semi-join + agg
    // + scalar cross-join ladder (6x the stages for identical rows).
    // The left join back onto the literal method list keeps the
    // n_hits=0 row a zero-recall method used to get from its
    // ungrouped agg — without it such a method would silently vanish.
    val methods = Seq("ivf", "lsh", "pq", "ivfpq", "matryoshka",
      "ivf_adaptive")
    val tagged = tag("ivf", annIvf(spark, dir))
      .unionByName(tag("lsh", annLsh(spark, dir)))
      .unionByName(tag("pq", AnnPq.annPq(spark, dir)))
      .unionByName(tag("ivfpq", AnnPq.annIvfPq(spark, dir)))
      .unionByName(tag("matryoshka", annMatryoshka(spark, dir)))
      .unionByName(tag("ivf_adaptive", adaptiveFiltered(e0,
        centroidFixture(spark, dir, NCells), lit(true), CandFloor,
        MaxProbe)))
    val hits = tagged
      .join(b, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("method")).agg(count(lit(1)).as("n_hits"))
    import spark.implicits._
    methods.toDF("method")
      .join(hits, Seq("method"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .transform(withScalar(_, tot))
      .select(col("method"), col("n_hits"), col("n_brute"),
        expr("n_hits * 1000 DIV n_brute").as("recall_milli"))
  }

  /** q205: FILTERED-SEARCH RECALL — closes q85's loop the way q45
    * closes the unfiltered ladder's: truth is the EXACT brute top-K
    * over only the predicate-qualifying corpus (filter-then-score),
    * the approximate side is q85's filter-then-probe IVF, and the
    * output is one recall row. This is the number a production
    * filtered-vector-search deployment tunes NProbe against: a
    * predicate empties some probed cells, so filtered recall sits
    * below the unfiltered q45 figure unless probes widen — measuring
    * it is how you notice.
    *
    * Scale: the truth side is q19's broadcast-query brute scan
    * narrowed by the predicate; the hit test is one left-semi join on
    * two K·NQ-row frames; totals are 1-row broadcast aggregates.
    */
  def annFilteredRecall(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), qvec(col("embedding")).as("qv"), col("label"))
      .withColumn("n2", norm2(col("qv")))
      .cp()
    val q = e0.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"),
        col("n2").as("qn2"))
    val truth = e0.filter(col("label") % 2 === 0)
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineq(dotq(col("qqv"), col("qv")), col("qn2"), col("n2"))
          .as("cosine"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("vec_id"))
      .cp()
    val tot = truth.agg(count(lit(1)).as("n_truth"))
    annFiltered(spark, dir).select(col("q_id"), col("vec_id"))
      .join(truth, Seq("q_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .transform(withScalar(_, tot))
      .select(lit("ivf_filtered").as("method"), col("n_hits"),
        col("n_truth"),
        expr("n_hits * 1000 DIV n_truth").as("recall_milli"))
  }

  // q209 adaptive-probe knobs: widen until the qualifying candidate
  // pool reaches the floor (or the cap), never below the static base
  private val CandFloor = 80L
  private val MaxProbe = 12

  /** q209: ADAPTIVE PROBE WIDENING for filtered search — the
    * self-tuning step q205's audit motivates: a selective predicate
    * empties probed cells, and a STATIC NProbe silently under-recalls
    * until a human reads the recall row. Here each query widens its
    * own probe list down the cell-distance ranking until the
    * PREDICATE-QUALIFYING candidate pool reaches [[CandFloor]]
    * (admission mirrors the byte-budget stream rule: cells are taken
    * while the pool so far is under the floor, so the crossing cell is
    * included), bounded by [[MaxProbe]] and never below the static
    * [[NProbe]] base. The pool arithmetic needs no data I/O beyond
    * what q85 already plans: per-cell qualifying counts are the
    * inverted-list LENGTHS (metadata a deployed index keeps next to
    * the lists), joined to the per-query cell ranking and prefix-
    * summed in a bounded window (NQ × [[NCells]] rows). Output is
    * q85's top-K shape plus the per-query `n_probes` actually used —
    * the tuning loop's telemetry.
    *
    * Scale: counts are one [[NCells]]-group aggregate over the
    * assignment q85 computes anyway; the widening window is bounded
    * by queries × cells; candidate generation stays a probed
    * equi-join, never all-pairs. The oracle replays the widened probe
    * set exactly (the q85 chain-replay discipline).
    */
  def annFilteredAdaptive(spark: SparkSession, dir: String): DataFrame = {
    // spread measured and REVERTED (r15 §1 discipline): the cp()'d
    // frame fans into 24 serial AQE mini-stages, and repartitioning it
    // multiplied scheduled tasks 55 → 490 for ~2 KB of work each —
    // probe A/B 1.2 → 2.0 s. The cost here is stage-count latency,
    // not the one-core argmin.
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), qvec(col("embedding")).as("qv"), col("label"))
      .withColumn("n2", norm2(col("qv")))
      .cp()
    adaptiveFiltered(e0, centroidFixture(spark, dir, NCells),
      col("label") % 2 === 0, CandFloor, MaxProbe)
  }

  /** The q209 kernel over explicit features/centroids/predicate —
    * exposed so the spec can construct a geometry where the static
    * probe demonstrably returns nothing and the adaptive one recovers
    * the true neighbours. `floor = 0` degenerates to q85's static
    * probing (the admission clause never fires past the base).
    */
  private[graft] def adaptiveFiltered(e0: DataFrame, cent: DataFrame,
      pred: Column, floor: Long, cap: Int): DataFrame = {
    val e = e0.select(col("vec_id"), col("qv"), col("n2"))
    val scored = e0.crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("n2"), col("cqv"), col("cn2")))
    val corpus = scored.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"), col("label"))).as("w"))
      .select(col("vec_id"), col("w.cell").as("cell"),
        col("w.label").as("label"))
      .filter(pred)
    val counts = corpus.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val ranked = scored.filter(col("vec_id") < NQ)
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("d2"), col("cell"))))
      .select(col("vec_id").as("q_id"), col("cell"), col("rn"))
    val widened = ranked
      .join(broadcast(counts), Seq("cell"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("cum", sum(col("n")).over(Window.partitionBy(col("q_id"))
        .orderBy(col("rn"))))
      .filter(col("rn") <= cap &&
        (col("rn") <= NProbe || col("cum") - col("n") < floor))
    val probesUsed = widened.groupBy(col("q_id"))
      .agg(max(col("rn")).as("n_probes"))
    val cand = corpus
      .join(broadcast(widened.select(col("q_id"), col("cell"))), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    rerank(e, cand).join(broadcast(probesUsed), "q_id")
      .select(col("q_id"), col("rnk"), col("vec_id"), col("cosine"),
        col("n_probes"))
  }

  /** q193: IVF CELL-BALANCE AUDIT — the index-maintenance number for
    * q34/q97's coarse quantizer: per trained cell, how many corpus
    * vectors land in it and its load relative to the uniform ideal
    * (milli; 1000 = perfectly balanced, ≥ 2000 flags a cell carrying
    * over twice its share). A skewed cell makes probed searches scan
    * corpus-sized lists (the ANN equivalent of a hot shuffle
    * partition) — this audit is what schedules re-training the
    * quantizer or splitting hot cells, the same decision q112 makes
    * for joins. Empty cells surface with zero counts: they waste
    * probe budget and signal over-provisioned [[NCells]].
    *
    * Scale: ONE argmin assignment against the broadcast K-row trained
    * centroid table (shared [[centroidFixture]] — the audit measures
    * the index the queries actually probe) and a [[NCells]]-group
    * count; the scalar total rides a 1-row broadcast.
    */
  def ivfBalance(spark: SparkSession, dir: String): DataFrame = {
    val e = base(spark, dir)
    val cent = centroidFixture(spark, dir, NCells)
    val counts = e.crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("n2"), col("cqv"), col("cn2")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("w"))
      .select(col("w.cell").as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
    // both sides are K-row; the post-aggregation side has no stats, so
    // pin the broadcast rather than let it fall to a sort-merge. The
    // corpus total is a whole-frame window over the SAME K-row table —
    // bounded by NCells, and no scalar join enters the plan at all.
    cent.select(col("cell"))
      .join(broadcast(counts), Seq("cell"), "left")
      .withColumn("n_vectors", coalesce(col("n_vectors"), lit(0L)))
      .withColumn("total", sum(col("n_vectors")).over(Window.partitionBy()))
      .withColumn("balance_milli",
        expr(s"(1000 * n_vectors * $NCells) DIV total"))
      .select(col("cell"), col("n_vectors"), col("balance_milli"),
        (col("balance_milli") >= 2000L).cast("int").as("skewed"))
  }

  /** q215: STREAMING VECTOR-INDEX INGEST — the continuous-ingest half
    * of the IVF lifecycle: embeddings STREAM in, are quantised and
    * assigned to the FROZEN shared coarse quantizer row-locally, and
    * land as cell-keyed `cNN:vNNNNNNNNNN` rows through the proto-zst
    * streaming sink — one key-sorted file per cell per micro-batch,
    * each batch folded into the generation manifest as ONE atomic
    * epoch commit. The payload is the assignment distance, so q193's
    * balance audit and q115's drift audit run straight off the landed
    * index, and q77/q207 compaction later merges per-epoch cell files
    * without touching this query. Keys are content-derived, so the
    * on-disk index is identical under any batch split — the oracle
    * replays train+assign with no streaming machinery (the q174
    * discipline).
    *
    * Scale: the [[NCells]]×64-long quantizer enters the plan as a
    * ~1 KB literal (inside the q161 plan-literal budget — a cluster
    * deployment broadcasts bigger codebooks instead); the argmin is a
    * row-local fold over that literal, so the stream needs ZERO state
    * stores — no watermark, no shuffle except the per-batch
    * cell-clustering exchange of [[NCells]] groups; manifest state is
    * O(files + epochs).
    */
  def streamIndexIngest(spark: SparkSession, dir: String): DataFrame =
    streamIndexIngestTo(spark, dir, Scratch.dir("graft_vecing"),
      Scratch.dir("graft_vecing_ckpt"))

  /** The q215 kernel over explicit output/checkpoint dirs — exposed so
    * ManifestSpec can pin the landed layout (one sorted file per cell,
    * epoch commit) on a directory it owns.
    */
  private[graft] def streamIndexIngestTo(spark: SparkSession, dir: String,
      out: String, ckpt: String): DataFrame = {
    val cent = centroidFixture(spark, dir, NCells)
      .select(col("cell").cast("int"), col("cqv"), col("cn2")).collect()
    val centLit = array(cent.map { r =>
      struct(lit(r.getInt(0)).as("cell"),
        array(r.getSeq[Long](1).map(lit(_)): _*).as("cqv"),
        lit(r.getLong(2)).as("cn2"))
    }.toIndexedSeq: _*)
    val assigned = Tables.embeddingsStream(spark, dir)
      .select(col("vec_id"), qvec(col("embedding")).as("qv"))
      .withColumn("n2", norm2(col("qv")))
      .withColumn("w", array_min(transform(centLit, c =>
        struct((col("n2") + c.getField("cn2") - lit(2L) *
          dotq(col("qv"), c.getField("cqv"))).as("d2"),
          c.getField("cell").as("cell")))))
      .select(
        encode(format_string("c%02d:v%010d", col("w.cell"),
          // an id past the 10-digit field would shift the read-back
          // parse; fail loudly (the q161 guard discipline)
          when(col("vec_id") < 10000000000L, col("vec_id"))
            .otherwise(raise_error(concat(lit("q215: vec_id "),
              col("vec_id").cast("string"),
              lit(" overflows the 10-digit key field"))))), "UTF-8")
          .as("key"),
        array(struct(
          encode(lit("assign"), "UTF-8").as("name"),
          encode(col("w.d2").cast("string"), "UTF-8").as("value"),
          col("vec_id").as("write_time"))).as("columns"),
        col("w.cell").as("cell"))
    Streaming.drain(spark) {
      assigned.repartition(col("cell"))
        .select(col("key"), col("columns"))
        .writeStream.format("proto-zst")
        .option("checkpointLocation", ckpt)
        .option("splitKeyPrefix", "3")
        .option("path", out)
        .outputMode("append")
    }
    spark.read.format("proto-zst").load(out)
      .select(decode(col("key"), "UTF-8").as("k"),
        decode(element_at(col("columns"), 1).getField("value"), "UTF-8")
          .as("v"))
      .select(substring(col("k"), 2, 2).cast("int").as("cell"),
        substring(col("k"), 6, 10).cast("long").as("vec_id"),
        col("v").cast("long").as("d2"))
  }

  /** q218: HARD-PAIR MINING for contrastive training — per anchor, the
    * highest-cosine SAME-label candidate (the positive) and the
    * highest-cosine DIFFERENT-label candidate (the hard negative: the
    * near-miss that teaches the margin), mined through the q34/q85
    * probed-IVF path so candidate generation never goes all-pairs.
    * The output row is the training triple plus its margin
    * (pos_cos − neg_cos): margins near zero are the valuable batch
    * entries a curriculum samples first; anchors with no same- or
    * different-label candidate in their probed cells keep NULLs (the
    * "widen probes" signal q209 automates).
    *
    * Scale: one corpus assignment (broadcast quantizer + map-side-
    * partial argmin), NQ×NProbe probe rows broadcast against the
    * cell-keyed inverted lists, re-rank on the candidate set only,
    * and the per-anchor argmax folds into ONE map-side-partial
    * `max(struct(...))` aggregation — no window over the corpus.
    */
  def hardPairs(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), qvec(col("embedding")).as("qv"), col("label"))
      .withColumn("n2", norm2(col("qv")))
      .cp()
    val cent = centroidFixture(spark, dir, NCells)
    val scored = e0.crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("n2"), col("cqv"), col("cn2")))
    val corpus = scored.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"), col("label"))).as("w"))
      .select(col("vec_id"), col("w.cell").as("cell"),
        col("w.label").as("label"))
    val probes = scored.filter(col("vec_id") < NQ)
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("d2"), col("cell"))))
      .filter(col("rn") <= NProbe)
      .select(col("vec_id").as("q_id"), col("cell"))
    val cand = corpus
      .join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"))
      .distinct()
    val qfeat = e0.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"),
        col("n2").as("qn2"), col("label").as("qlabel"))
    val pairs = cand
      .join(e0.select(col("vec_id"), col("qv"), col("n2")), "vec_id")
      .join(broadcast(qfeat), "q_id")
      .select(col("q_id"), col("qlabel"), col("vec_id"), col("label"),
        cosineq(dotq(col("qqv"), col("qv")), col("qn2"), col("n2"))
          .as("cosine"))
    // (cosine, -vec_id) max ≡ ORDER BY cosine DESC, vec_id ASC LIMIT 1
    val best = pairs.groupBy(col("q_id"))
      .agg(
        max(when(col("label") === col("qlabel"),
          struct(col("cosine"), (-col("vec_id")).as("nid")))).as("p"),
        max(when(col("label") =!= col("qlabel"),
          struct(col("cosine"), (-col("vec_id")).as("nid")))).as("g"))
    e0.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("label").as("qlabel"))
      .join(best, Seq("q_id"), "left")
      .select(col("q_id"), col("qlabel"),
        (-col("p.nid")).as("pos_id"), col("p.cosine").as("pos_cos"),
        (-col("g.nid")).as("neg_id"), col("g.cosine").as("neg_cos"),
        (col("p.cosine") - col("g.cosine")).as("margin"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q218_hard_pairs" -> hardPairs,
    "q215_stream_index_ingest" -> streamIndexIngest,
    "q193_ivf_balance" -> ivfBalance,
    "q125_ann_matryoshka" -> annMatryoshka,
    "q115_ivf_increment" -> ivfIncrement,
    "q99_topk_agg" -> annTopkAgg,
    "q19_ann_brute" -> annBrute,
    "q20_ann_lsh" -> annLsh,
    "q34_ann_ivf" -> annIvf,
    "q45_ann_recall" -> annRecall,
    "q59_kmeans_embed" -> kmeansEmbed,
    "q68_semantic_dedup" -> semanticDedup,
    "q180_cell_quota" -> ((sp: SparkSession, d: String) => cellQuotaSample(sp, d)),
    "q85_ann_filtered" -> annFiltered,
    "q209_ann_adaptive" -> annFilteredAdaptive,
    "q205_filtered_recall" -> annFilteredRecall)

  private[operators] val baseSql =
    s"""WITH e AS (SELECT vec_id, $sqlQvec qv FROM embeddings),
       |n AS (SELECT vec_id, qv, ${sqlNorm2("qv")} n2 FROM e)""".stripMargin

  private val bruteSql =
    s"""$baseSql,
       |s AS (SELECT q.vec_id q_id, c.vec_id vec_id,
       |        CAST(${sqlDotq("q.qv", "c.qv")} AS DOUBLE) / sqrt(nullif(CAST(q.n2 AS DOUBLE)*CAST(c.n2 AS DOUBLE), 0.0)) cosine
       |      FROM n q JOIN n c ON q.vec_id < $NQ AND c.vec_id <> q.vec_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) rnk FROM s)
       |SELECT q_id, rnk, vec_id, cosine FROM r WHERE rnk <= $K""".stripMargin

  private val matryoshkaSql =
    s"""$baseSql,
       |h AS (SELECT vec_id, qv, n2,
       |        list_transform(range(1, ${MatDims + 1}), i -> qv[i]) qvh FROM n),
       |hn AS (SELECT vec_id, qv, n2, qvh, ${sqlNorm2("qvh")} n2h FROM h),
       |c AS (SELECT q.vec_id q_id, x.vec_id vec_id,
       |        CAST(${sqlDotq("q.qvh", "x.qvh")} AS DOUBLE) / sqrt(nullif(CAST(q.n2h AS DOUBLE)*CAST(x.n2h AS DOUBLE), 0.0)) ccos
       |      FROM hn q JOIN hn x ON q.vec_id < $NQ AND x.vec_id <> q.vec_id),
       |cr AS (SELECT q_id, vec_id,
       |        row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, vec_id ASC) crnk FROM c),
       |cand AS (SELECT q_id, vec_id FROM cr WHERE crnk <= $MatC),
       |s AS (SELECT cand.q_id, cand.vec_id,
       |        CAST(${sqlDotq("q.qv", "x.qv")} AS DOUBLE) / sqrt(nullif(CAST(q.n2 AS DOUBLE)*CAST(x.n2 AS DOUBLE), 0.0)) cosine
       |      FROM cand JOIN n q ON q.vec_id = cand.q_id JOIN n x ON x.vec_id = cand.vec_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) rnk FROM s)
       |SELECT q_id, rnk, vec_id, cosine FROM r WHERE rnk <= $K""".stripMargin

  private val lshSql =
    s"""$baseSql,
       |b AS (SELECT vec_id, qv, n2, array_to_string(list_transform(range(1, ${SigBits + 1}),
       |        i -> CASE WHEN qv[i] > 0 THEN '1' ELSE '0' END), '') sig FROM n),
       |bands AS (SELECT vec_id, unnest(list_transform(range($Bands),
       |            k -> CAST(k AS VARCHAR) || ':' || substr(sig, CAST(k*4+1 AS INTEGER), 4))) bkey FROM b),
       |cand AS (SELECT DISTINCT q.vec_id q_id, c.vec_id vec_id
       |         FROM bands q JOIN bands c ON q.bkey = c.bkey
       |         WHERE q.vec_id < $NQ AND c.vec_id <> q.vec_id),
       |s AS (SELECT cand.q_id, cand.vec_id,
       |        CAST(${sqlDotq("q.qv", "c.qv")} AS DOUBLE) / sqrt(nullif(CAST(q.n2 AS DOUBLE)*CAST(c.n2 AS DOUBLE), 0.0)) cosine
       |      FROM cand JOIN n q ON q.vec_id = cand.q_id JOIN n c ON c.vec_id = cand.vec_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) rnk FROM s)
       |SELECT q_id, rnk, vec_id, cosine FROM r WHERE rnk <= $K""".stripMargin

  /** Replay of q34: train the [[NCells]]-cell quantizer exactly as
    * Spark does (two Lloyd rounds, integer math), assign the corpus
    * (a3 = final assignment), rank each query's cells by dist², probe
    * the top [[NProbe]], exact re-rank.
    */
  private val ivfSql = {
    val probeD2 = s"x.n2 - 2*${sqlDotq("x.qv", "c.cqv")} + c.cn2"
    s"""$baseSql,
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) cell, qv cqv, n2 cn2
       |          FROM n WHERE vec_id < $NCells),
       |${kmAssignSql("cent0", "1")},
       |${kmUpdateSql("1", "1")},
       |${kmAssignSql("centn1", "2")},
       |${kmUpdateSql("2", "2")},
       |${kmAssignSql("centn2", "3")},
       |corpus AS (SELECT vec_id, cell FROM a3),
       |probes AS (SELECT q_id, cell FROM (
       |    SELECT x.vec_id q_id, c.cell,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY $probeD2, c.cell) rn
       |    FROM n x CROSS JOIN centn2 c WHERE x.vec_id < $NQ)
       |  WHERE rn <= $NProbe),
       |cand AS (SELECT DISTINCT p.q_id, c.vec_id
       |         FROM probes p JOIN corpus c ON c.cell = p.cell
       |         WHERE c.vec_id <> p.q_id),
       |s AS (SELECT cand.q_id, cand.vec_id,
       |        CAST(${sqlDotq("q.qv", "c.qv")} AS DOUBLE) / sqrt(nullif(CAST(q.n2 AS DOUBLE)*CAST(c.n2 AS DOUBLE), 0.0)) cosine
       |      FROM cand JOIN n q ON q.vec_id = cand.q_id JOIN n c ON c.vec_id = cand.vec_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) rnk FROM s)
       |SELECT q_id, rnk, vec_id, cosine FROM r WHERE rnk <= $K""".stripMargin
  }

  /** q215 replay: the landed index must equal the q34 train/assign
    * chain's full-corpus assignment — cell, vector, and the exact
    * integer assignment distance the payload carries.
    */
  private val streamIngestSql =
    s"""$baseSql,
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) cell, qv cqv, n2 cn2
       |          FROM n WHERE vec_id < $NCells),
       |${kmAssignSql("cent0", "1")},
       |${kmUpdateSql("1", "1")},
       |${kmAssignSql("centn1", "2")},
       |${kmUpdateSql("2", "2")},
       |${kmAssignSql("centn2", "3")}
       |SELECT CAST(cell AS INTEGER) cell, CAST(vec_id AS BIGINT) vec_id,
       |  CAST(dist2 AS BIGINT) d2 FROM a3""".stripMargin

  /** q218 replay: the q34 train/assign/probe chain, candidates scored,
    * then per-anchor best same-label and best different-label rows via
    * the (cosine DESC, vec_id ASC) ranking the engine folds into its
    * max(struct) aggregation; anchors keep NULLs where a side is
    * empty.
    */
  private val hardPairsSql = {
    val probeD2 = s"x.n2 - 2*${sqlDotq("x.qv", "c.cqv")} + c.cn2"
    s"""$baseSql,
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) cell, qv cqv, n2 cn2
       |          FROM n WHERE vec_id < $NCells),
       |${kmAssignSql("cent0", "1")},
       |${kmUpdateSql("1", "1")},
       |${kmAssignSql("centn1", "2")},
       |${kmUpdateSql("2", "2")},
       |${kmAssignSql("centn2", "3")},
       |corpus AS (SELECT a3.vec_id, a3.cell, emb.label
       |           FROM a3 JOIN embeddings emb ON emb.vec_id = a3.vec_id),
       |probes AS (SELECT q_id, cell FROM (
       |    SELECT x.vec_id q_id, c.cell,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY $probeD2, c.cell) rn
       |    FROM n x CROSS JOIN centn2 c WHERE x.vec_id < $NQ)
       |  WHERE rn <= $NProbe),
       |ql AS (SELECT vec_id q_id, label qlabel FROM embeddings
       |       WHERE vec_id < $NQ),
       |cand AS (SELECT DISTINCT p.q_id, c.vec_id, c.label
       |         FROM probes p JOIN corpus c ON c.cell = p.cell
       |         WHERE c.vec_id <> p.q_id),
       |s AS (SELECT cand.q_id, ql.qlabel, cand.vec_id, cand.label,
       |        CAST(${sqlDotq("q.qv", "c.qv")} AS DOUBLE) / sqrt(nullif(CAST(q.n2 AS DOUBLE)*CAST(c.n2 AS DOUBLE), 0.0)) cosine
       |      FROM cand JOIN ql ON ql.q_id = cand.q_id
       |           JOIN n q ON q.vec_id = cand.q_id
       |           JOIN n c ON c.vec_id = cand.vec_id),
       |p AS (SELECT q_id, vec_id pos_id, cosine pos_cos,
       |        row_number() OVER (PARTITION BY q_id
       |          ORDER BY cosine DESC, vec_id ASC) rn
       |      FROM s WHERE label = qlabel),
       |g AS (SELECT q_id, vec_id neg_id, cosine neg_cos,
       |        row_number() OVER (PARTITION BY q_id
       |          ORDER BY cosine DESC, vec_id ASC) rn
       |      FROM s WHERE label <> qlabel)
       |SELECT ql.q_id, ql.qlabel, p.pos_id, p.pos_cos, g.neg_id,
       |  g.neg_cos, p.pos_cos - g.neg_cos margin
       |FROM ql LEFT JOIN p ON p.q_id = ql.q_id AND p.rn = 1
       |        LEFT JOIN g ON g.q_id = ql.q_id AND g.rn = 1""".stripMargin
  }

  /** q85 replay: the q34 train/assign/probe chain with the corpus
    * inverted lists pre-filtered by the label predicate.
    */
  private val filteredSql = {
    val probeD2 = s"x.n2 - 2*${sqlDotq("x.qv", "c.cqv")} + c.cn2"
    s"""$baseSql,
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) cell, qv cqv, n2 cn2
       |          FROM n WHERE vec_id < $NCells),
       |${kmAssignSql("cent0", "1")},
       |${kmUpdateSql("1", "1")},
       |${kmAssignSql("centn1", "2")},
       |${kmUpdateSql("2", "2")},
       |${kmAssignSql("centn2", "3")},
       |corpus AS (SELECT a3.vec_id, a3.cell
       |           FROM a3 JOIN embeddings emb ON emb.vec_id = a3.vec_id
       |           WHERE emb.label % 2 = 0),
       |probes AS (SELECT q_id, cell FROM (
       |    SELECT x.vec_id q_id, c.cell,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY $probeD2, c.cell) rn
       |    FROM n x CROSS JOIN centn2 c WHERE x.vec_id < $NQ)
       |  WHERE rn <= $NProbe),
       |cand AS (SELECT DISTINCT p.q_id, c.vec_id
       |         FROM probes p JOIN corpus c ON c.cell = p.cell
       |         WHERE c.vec_id <> p.q_id),
       |s AS (SELECT cand.q_id, cand.vec_id,
       |        CAST(${sqlDotq("q.qv", "c.qv")} AS DOUBLE) / sqrt(nullif(CAST(q.n2 AS DOUBLE)*CAST(c.n2 AS DOUBLE), 0.0)) cosine
       |      FROM cand JOIN n q ON q.vec_id = cand.q_id JOIN n c ON c.vec_id = cand.vec_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) rnk FROM s)
       |SELECT q_id, rnk, vec_id, cosine FROM r WHERE rnk <= $K""".stripMargin
  }

  /** q209 replay: q85's train/assign/probe chain, then the adaptive
    * widening verbatim — per-cell qualifying counts, prefix sums down
    * each query's cell ranking, the floor/cap admission, and the
    * per-query probes-used audit.
    */
  private def adaptiveSqlOf(pred: String): String = {
    val probeD2 = s"x.n2 - 2*${sqlDotq("x.qv", "c.cqv")} + c.cn2"
    s"""$baseSql,
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) cell, qv cqv, n2 cn2
       |          FROM n WHERE vec_id < $NCells),
       |${kmAssignSql("cent0", "1")},
       |${kmUpdateSql("1", "1")},
       |${kmAssignSql("centn1", "2")},
       |${kmUpdateSql("2", "2")},
       |${kmAssignSql("centn2", "3")},
       |corpus AS (SELECT a3.vec_id, a3.cell
       |           FROM a3 JOIN embeddings emb ON emb.vec_id = a3.vec_id
       |           WHERE $pred),
       |counts AS (SELECT cell, count(*) n FROM corpus GROUP BY cell),
       |ranked AS (SELECT x.vec_id q_id, c.cell,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY $probeD2, c.cell) rn
       |    FROM n x CROSS JOIN centn2 c WHERE x.vec_id < $NQ),
       |prc AS (SELECT r.q_id, r.cell, r.rn, coalesce(cn.n, 0) n,
       |      sum(coalesce(cn.n, 0)) OVER (PARTITION BY r.q_id
       |        ORDER BY r.rn) cum
       |    FROM ranked r LEFT JOIN counts cn USING (cell)),
       |wide AS (SELECT q_id, cell, rn FROM prc
       |    WHERE rn <= $MaxProbe
       |      AND (rn <= $NProbe OR cum - n < $CandFloor)),
       |np AS (SELECT q_id, max(rn) n_probes FROM wide GROUP BY q_id),
       |cand AS (SELECT DISTINCT p.q_id, c.vec_id
       |         FROM wide p JOIN corpus c ON c.cell = p.cell
       |         WHERE c.vec_id <> p.q_id),
       |s AS (SELECT cand.q_id, cand.vec_id,
       |        CAST(${sqlDotq("q.qv", "c.qv")} AS DOUBLE) / sqrt(nullif(CAST(q.n2 AS DOUBLE)*CAST(c.n2 AS DOUBLE), 0.0)) cosine
       |      FROM cand JOIN n q ON q.vec_id = cand.q_id JOIN n c ON c.vec_id = cand.vec_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) rnk FROM s)
       |SELECT q_id, rnk, vec_id, cosine, n_probes
       |FROM r JOIN np USING (q_id) WHERE rnk <= $K""".stripMargin
  }

  // q209's oracle (the filtered production shape) and q45's adaptive
  // ladder leg (TRUE predicate — audited against the shared brute
  // truth) replay the SAME widened-probe chain
  private val adaptiveSql = adaptiveSqlOf("emb.label % 2 = 0")
  private val adaptiveTrueSql = adaptiveSqlOf("TRUE")

  // q205: the filtered brute truth beside q85's plan (spliced as a
  // CTE-in-subquery AFTER stripMargin — the @-placeholder discipline)
  private val filteredRecallSql =
    s"""$baseSql,
       |ap AS (SELECT q_id, vec_id FROM (@FILT@)),
       |fb0 AS (SELECT x.vec_id q_id, c.vec_id,
       |    CAST(${sqlDotq("x.qv", "c.qv")} AS DOUBLE)
       |      / sqrt(nullif(CAST(x.n2 AS DOUBLE)*CAST(c.n2 AS DOUBLE), 0.0))
       |      AS cosine
       |  FROM n x
       |  JOIN n c ON c.vec_id <> x.vec_id
       |  JOIN embeddings emb ON emb.vec_id = c.vec_id
       |    AND emb.label % 2 = 0
       |  WHERE x.vec_id < $NQ),
       |fb AS (SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id ASC) rnk FROM fb0)
       |  WHERE rnk <= $K),
       |tot AS (SELECT count(*) t FROM fb)
       |SELECT 'ivf_filtered' AS method,
       |  (SELECT count(*) FROM ap JOIN fb USING (q_id, vec_id)) AS n_hits,
       |  (SELECT t FROM tot) AS n_truth,
       |  (SELECT count(*) FROM ap JOIN fb USING (q_id, vec_id)) * 1000
       |    // (SELECT t FROM tot) AS recall_milli""".stripMargin
      .replace("@FILT@", filteredSql)

  private val recallSql =
    s"""WITH brute AS (SELECT q_id, vec_id FROM ($bruteSql)),
       |lsh AS (SELECT q_id, vec_id FROM ($lshSql)),
       |ivf AS (SELECT q_id, vec_id FROM ($ivfSql)),
       |pq AS (SELECT q_id, vec_id FROM (${AnnPq.pqSql})),
       |ivfpq AS (SELECT q_id, vec_id FROM (${AnnPq.ivfpqSql})),
       |mat AS (SELECT q_id, vec_id FROM ($matryoshkaSql)),
       |adp AS (SELECT q_id, vec_id FROM ($adaptiveTrueSql)),
       |tot AS (SELECT count(*) t FROM brute)
       |SELECT 'ivf' AS method,
       |  (SELECT count(*) FROM ivf JOIN brute USING (q_id, vec_id)) AS n_hits,
       |  (SELECT t FROM tot) AS n_brute,
       |  (SELECT count(*) FROM ivf JOIN brute USING (q_id, vec_id)) * 1000
       |    // (SELECT t FROM tot) AS recall_milli
       |UNION ALL
       |SELECT 'lsh' AS method,
       |  (SELECT count(*) FROM lsh JOIN brute USING (q_id, vec_id)) AS n_hits,
       |  (SELECT t FROM tot) AS n_brute,
       |  (SELECT count(*) FROM lsh JOIN brute USING (q_id, vec_id)) * 1000
       |    // (SELECT t FROM tot) AS recall_milli
       |UNION ALL
       |SELECT 'pq' AS method,
       |  (SELECT count(*) FROM pq JOIN brute USING (q_id, vec_id)) AS n_hits,
       |  (SELECT t FROM tot) AS n_brute,
       |  (SELECT count(*) FROM pq JOIN brute USING (q_id, vec_id)) * 1000
       |    // (SELECT t FROM tot) AS recall_milli
       |UNION ALL
       |SELECT 'ivfpq' AS method,
       |  (SELECT count(*) FROM ivfpq JOIN brute USING (q_id, vec_id)) AS n_hits,
       |  (SELECT t FROM tot) AS n_brute,
       |  (SELECT count(*) FROM ivfpq JOIN brute USING (q_id, vec_id)) * 1000
       |    // (SELECT t FROM tot) AS recall_milli
       |UNION ALL
       |SELECT 'matryoshka' AS method,
       |  (SELECT count(*) FROM mat JOIN brute USING (q_id, vec_id)) AS n_hits,
       |  (SELECT t FROM tot) AS n_brute,
       |  (SELECT count(*) FROM mat JOIN brute USING (q_id, vec_id)) * 1000
       |    // (SELECT t FROM tot) AS recall_milli
       |UNION ALL
       |SELECT 'ivf_adaptive' AS method,
       |  (SELECT count(*) FROM adp JOIN brute USING (q_id, vec_id)) AS n_hits,
       |  (SELECT t FROM tot) AS n_brute,
       |  (SELECT count(*) FROM adp JOIN brute USING (q_id, vec_id)) * 1000
       |    // (SELECT t FROM tot) AS recall_milli""".stripMargin

  /** One Lloyd assignment against centroid CTE `cent`, emitting CTE
    * `a$tag` (vec_id, qv, cell, dist2). The dist² expression repeats in
    * the window ORDER BY because SQL can't reference the alias there.
    */
  private[operators] def kmAssignSql(cent: String, tag: String): String = {
    val d2 = s"x.n2 - 2*${sqlDotq("x.qv", "c.cqv")} + c.cn2"
    s"""a$tag AS (SELECT vec_id, qv, cell, dist2 FROM (
       |  SELECT x.vec_id, x.qv, c.cell, $d2 AS dist2,
       |    row_number() OVER (PARTITION BY x.vec_id
       |      ORDER BY $d2, c.cell) rn
       |  FROM n x CROSS JOIN $cent c) WHERE rn = 1)""".stripMargin
  }

  /** Centroid update from assignment CTE `a$from`, emitting `cent$tag`
    * (cell, cqv, cn2) with element-wise exact floor(sum/count).
    */
  private[operators] def kmUpdateSql(from: String, tag: String): String =
    s"""px$tag AS (SELECT cell, unnest(range(1, len(qv)+1)) i, unnest(qv) v
       |           FROM a$from),
       |s$tag AS (SELECT cell, i, CAST(sum(v) AS BIGINT) s, count(*) cnt
       |          FROM px$tag GROUP BY cell, i),
       |cent$tag AS (SELECT cell,
       |    list((s - ((s % cnt) + cnt) % cnt) // cnt ORDER BY i) cqv
       |  FROM s$tag GROUP BY cell),
       |centn$tag AS (SELECT cell, cqv, ${sqlNorm2("cqv")} cn2 FROM cent$tag)""".stripMargin

  /** q115 replay: features split into base (`n`, which the shared
    * training fragments consume) and arrivals; train on base, assign
    * both against the frozen `centn2`, full-join the per-cell counts.
    */
  private val ivfIncSql = {
    val d2 = s"x.n2 - 2*${sqlDotq("x.qv", "c.cqv")} + c.cn2"
    s"""WITH e AS (SELECT vec_id, $sqlQvec qv FROM embeddings),
       |na AS (SELECT vec_id, qv, ${sqlNorm2("qv")} n2 FROM e),
       |n AS (SELECT * FROM na WHERE vec_id % 10 <> 9),
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) cell, qv cqv, n2 cn2
       |          FROM n WHERE vec_id < $NCells),
       |${kmAssignSql("cent0", "1")},
       |${kmUpdateSql("1", "1")},
       |${kmAssignSql("centn1", "2")},
       |${kmUpdateSql("2", "2")},
       |${kmAssignSql("centn2", "3")},
       |anew AS (SELECT vec_id, cell, dist2 FROM (
       |    SELECT x.vec_id, c.cell, $d2 dist2,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY $d2, c.cell) rn
       |    FROM (SELECT * FROM na WHERE vec_id % 10 = 9) x
       |    CROSS JOIN centn2 c) WHERE rn = 1),
       |b AS (SELECT cell, count(*) n_base FROM a3 GROUP BY cell),
       |w AS (SELECT cell, count(*) n_new, CAST(sum(dist2) AS BIGINT) sum_d2
       |      FROM anew GROUP BY cell)
       |SELECT coalesce(b.cell, w.cell) AS cell,
       |       coalesce(b.n_base, 0) AS n_base,
       |       coalesce(w.n_new, 0) AS n_new,
       |       coalesce(w.sum_d2, 0) AS drift_d2
       |FROM b FULL JOIN w ON b.cell = w.cell""".stripMargin
  }

  private val kmeansSql =
    s"""$baseSql,
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) cell, qv cqv, n2 cn2
       |          FROM n WHERE vec_id < $KmK),
       |${kmAssignSql("cent0", "1")},
       |${kmUpdateSql("1", "1")},
       |${kmAssignSql("centn1", "2")},
       |${kmUpdateSql("2", "2")},
       |${kmAssignSql("centn2", "3")}
       |SELECT cell, count(*) AS n_members,
       |       CAST(sum(dist2) AS BIGINT) AS inertia
       |FROM a3 GROUP BY cell""".stripMargin

  /** q68 replay: the q59 training chain verbatim (seeds, two exact
    * Lloyd rounds, final assignment a3), then the within-cell pair
    * screen and keep-lowest-id verdict.
    */
  private val semdedupSql =
    s"""$baseSql,
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) cell, qv cqv, n2 cn2
       |          FROM n WHERE vec_id < $KmK),
       |${kmAssignSql("cent0", "1")},
       |${kmUpdateSql("1", "1")},
       |${kmAssignSql("centn1", "2")},
       |${kmUpdateSql("2", "2")},
       |${kmAssignSql("centn2", "3")},
       |feat AS (SELECT a.vec_id, a.cell, a.qv, n.n2
       |         FROM a3 a JOIN n USING (vec_id)),
       |dup AS (SELECT DISTINCT b.vec_id
       |        FROM feat a JOIN feat b
       |          ON a.cell = b.cell AND a.vec_id < b.vec_id
       |        WHERE CAST(${sqlDotq("a.qv", "b.qv")} AS DOUBLE)
       |          / sqrt(nullif(CAST(a.n2 AS DOUBLE)*CAST(b.n2 AS DOUBLE), 0.0)) >= $SemThr)
       |SELECT f.vec_id, f.cell, (d.vec_id IS NOT NULL) AS removed
       |FROM feat f LEFT JOIN dup d ON f.vec_id = d.vec_id""".stripMargin

  // q180: the q68 training/assignment chain verbatim (a3), hash
  // priorities, per-cell rank — the window form is fine oracle-side
  private val cellQuotaSql =
    s"""$baseSql,
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) cell, qv cqv, n2 cn2
       |          FROM n WHERE vec_id < $KmK),
       |${kmAssignSql("cent0", "1")},
       |${kmUpdateSql("1", "1")},
       |${kmAssignSql("centn1", "2")},
       |${kmUpdateSql("2", "2")},
       |${kmAssignSql("centn2", "3")},
       |p AS (SELECT vec_id, cell,
       |        ${sqlHash60("'quota:' || CAST(vec_id AS VARCHAR)")} pri
       |      FROM a3),
       |r AS (SELECT cell, vec_id, pri, row_number() OVER (
       |        PARTITION BY cell ORDER BY pri ASC, vec_id ASC) rnk FROM p)
       |SELECT cell, rnk, vec_id, pri FROM r WHERE rnk <= $QuotaK""".stripMargin

  // replays the q34 training chain verbatim (cent0 → 2 Lloyd updates →
  // final assignment), then counts per cell against the uniform ideal
  private val ivfBalanceSql =
    s"""$baseSql,
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) cell, qv cqv, n2 cn2
       |          FROM n WHERE vec_id < $NCells),
       |${kmAssignSql("cent0", "1")},
       |${kmUpdateSql("1", "1")},
       |${kmAssignSql("centn1", "2")},
       |${kmUpdateSql("2", "2")},
       |${kmAssignSql("centn2", "3")},
       |cnt AS (SELECT cell, CAST(count(*) AS BIGINT) n_vectors
       |        FROM a3 GROUP BY cell),
       |b AS (SELECT c.cell,
       |        CAST(coalesce(cnt.n_vectors, 0) AS BIGINT) AS n_vectors
       |      FROM centn2 c LEFT JOIN cnt USING (cell)),
       |w AS (SELECT cell, n_vectors,
       |        (1000 * n_vectors * $NCells)
       |          // CAST(sum(n_vectors) OVER () AS BIGINT) AS balance_milli
       |      FROM b)
       |SELECT cell, n_vectors, balance_milli,
       |  CAST(balance_milli >= 2000 AS INTEGER) AS skewed
       |FROM w""".stripMargin

  val oracle: Map[String, String] = Map(
    "q193_ivf_balance" -> ivfBalanceSql,
    "q115_ivf_increment" -> ivfIncSql,
    "q19_ann_brute" -> bruteSql,
    "q125_ann_matryoshka" -> matryoshkaSql,
    "q20_ann_lsh" -> lshSql,
    "q34_ann_ivf" -> ivfSql,
    "q215_stream_index_ingest" -> streamIngestSql,
    "q218_hard_pairs" -> hardPairsSql,
    "q45_ann_recall" -> recallSql,
    "q59_kmeans_embed" -> kmeansSql,
    "q68_semantic_dedup" -> semdedupSql,
    "q180_cell_quota" -> cellQuotaSql,
    "q85_ann_filtered" -> filteredSql,
    "q209_ann_adaptive" -> adaptiveSql,
    "q205_filtered_recall" -> filteredRecallSql,
    // identical result contract to q19 — the aggregator vs window proof
    "q99_topk_agg" -> bruteSql)
}

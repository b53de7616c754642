package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable.{hash60, sqlHash60, sqlWords, words}
import graft.sources.Tables

/** IN-ENGINE QUALITY-CLASSIFIER TRAINING — the loop CCNet/fastText-style
  * curation stacks run to PRODUCE the model q216 applies: weak labels
  * from the engine's own rule gates, hashed n-gram features, a linear
  * model fit by iterative error-driven updates, and a held-out audit
  * proving the trained model beats the untrained stand-in. Closes the
  * last applied-but-untrained model in the pipeline (the tokenizer
  * q228 and the vector quantizer q59 are already trained in-engine).
  *
  *   - q248 TRAINS: a batch perceptron over q216's exact feature space
  *     (word unigrams + bigrams hashed into [[Curation.ClfBuckets]]
  *     buckets), weak labels from the q22 quality gate (`ok` ⟹ +1,
  *     any rule rejection ⟹ −1), on the doc_id-even TRAIN half
  *     (q232's held-out discipline). Each round is one doc-grain
  *     score join + one bucket-grain delta fold — the q228 trainer
  *     shape: a single corpus featurization pass reused across
  *     [[TrainRounds]] model-grain rounds, each round's weight table
  *     checkpointed (`cpIter`) so round k's lineage never replays
  *     rounds 1..k−1. Rounds are FIXED-COUNT (no data-dependent early
  *     stop) so the DuckDB oracle replays the trained weights
  *     bit-for-bit by unrolling the same K rounds in SQL — everything
  *     is exact integer arithmetic (counts × unit labels), so there
  *     is no float to drift.
  *   - q249 AUDITS: the held-out (doc_id-odd) half scored by the
  *     trained weights AND by q216's hash-derived stand-in weights,
  *     against the same weak labels. One row: accuracies in milli and
  *     the trained-vs-stand-in verdict DISAGREEMENT count — the pin
  *     that ties q216's shipped inference to the trained table (the
  *     verdict form here is exactly q216's `keep`: the raw exact-long
  *     Σ w·cnt against `ClfThreshold`). ClassifierSpec asserts the trained
  *     model separates the held-out half strictly better.
  *
  * Weak-label training against the engine's OWN rule gate is the
  * production bootstrap (CCNet trains against Wikipedia-vs-crawl
  * labels; the analog here is gate-pass-vs-gate-fail): the value of
  * the trained model over the rules is GENERALIZATION — it scores
  * documents the rules never saw by shared n-gram evidence, which is
  * exactly what the held-out audit measures.
  *
  * Scale: featurization is row-local and ONE pass ([[TrainRounds]]
  * rounds reuse the checkpointed (doc, bucket, cnt) frame); per round,
  * the weight table (bucket-cardinality — 256 here, a few MB at
  * fastText's 2^21) BROADCASTS into the score join, and the
  * misclassified-delta fold is one doc-grain equi-join + one
  * bucket-grain aggregation with map-side partials. No round ever
  * shuffles more than the feature frame. Integer bounds: |w| grows by
  * at most the train half's total gram count G per round, so scores
  * are bounded by K·G·max-cnt — the held-out scorer carries the
  * q192-style in-plan guard and refuses loudly past exact-long range
  * (the deployment answer is per-round delta normalization, a model
  * change this engine declines to make silently).
  *
  * Reference scope: the reference engine (a Cassandra SSTable→proto
  * exporter, `Runner.java:54-63`) has no model training; this family
  * extends the pipeline the same way q228/q59 do, per the build's
  * training-data-pipeline mandate.
  */
object Classifier {

  /** Fixed perceptron rounds — enough to separate the rule-labeled
    * halves at every test sf; fixed (not converged) so the oracle's
    * unrolled SQL replays training exactly.
    */
  private[graft] val TrainRounds = 4

  /** One featurization pass: q216's hashed unigram+bigram buckets,
    * count-aggregated to (doc_id, b, cnt). Shared verbatim with the
    * oracle's `fall` CTE.
    */
  private[graft] def featureCounts(spark: SparkSession, dir: String): DataFrame =
    // spread: the gram-hash featurization below is md5-per-gram heavy
    // and otherwise runs fused to a single-split scan (one core)
    Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 1)
      .withColumn("grams", concat(col("ws"),
        zip_with(slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => concat(a, lit(" "), b))))
      .select(col("doc_id"), explode(col("grams")).as("g"))
      .withColumn("b", pmod(hash60(concat(lit("feat:"), col("g"))),
        lit(Curation.ClfBuckets)))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("cnt"))

  /** Weak labels from the q22 rule gate: +1 for `ok`, −1 for any rule
    * rejection (short / stopword_heavy / repetitive). Docs without
    * features (no words) never enter training — every consumer joins
    * through the feature frame.
    */
  private[graft] def weakLabels(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(spark, dir)
      .select(col("doc_id"),
        when(col("quality_bucket") === "ok", 1L).otherwise(-1L).as("y"))

  private def sign(score: Column): Column =
    when(score >= 0, 1L).otherwise(-1L)

  /** The trained weight table after [[TrainRounds]] batch-perceptron
    * rounds on the doc_id-even half: round r scores every train doc
    * with w(r−1), folds the misclassified docs' label-signed feature
    * counts into a bucket-grain delta, and adds it on. Lazy
    * checkpoints per round keep the plan bounded; nothing executes
    * until a consumer acts.
    */
  private[graft] def trainedWeights(spark: SparkSession, dir: String,
      rounds: Int = TrainRounds): DataFrame = {
    import graft.operators.Checkpoints.CpOps
    val f = featureCounts(spark, dir)
      .filter(col("doc_id") % 2 === 0).cp()
    val l = weakLabels(spark, dir)
      .filter(col("doc_id") % 2 === 0).cp()
    var w = spark.range(Curation.ClfBuckets)
      .select(col("id").as("b"), lit(0L).as("w"))
    val roundTables = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to rounds) {
      val scores = f.join(broadcast(w), "b")
        .groupBy(col("doc_id"))
        .agg(sum(col("w") * col("cnt")).as("sc"))
      val miscl = l.join(scores, "doc_id")
        .filter(sign(col("sc")) =!= col("y"))
        .select(col("doc_id"), col("y"))
      val delta = f.join(miscl, "doc_id")
        .groupBy(col("b"))
        .agg(sum(col("y") * col("cnt")).as("dw"))
      w = w.join(delta, Seq("b"), "left")
        .select(col("b"), (col("w") + coalesce(col("dw"), lit(0L))).as("w"))
        .cpIter()
      roundTables += w
    }
    // AVERAGED perceptron over the LAST HALF of the rounds: the round
    // sum is the classic oscillation damper (a raw batch perceptron
    // can cycle between states that each fit half the data; the sum
    // votes them), but the EARLY rounds are burn-in with a systematic
    // sign bias — at w=0 every doc predicts +1, so round 1's update
    // subtracts the whole negative-class gram mass, and summing it in
    // drags the average negative regardless of the data (measured:
    // the all-round sum scored every document negative at every test
    // sf). Dropping the first half keeps one full oscillation period,
    // centered. The sum is sign-equivalent to the true average (× the
    // round count, a positive scale), so it stays exact-integer.
    if (roundTables.isEmpty) w
    else roundTables.drop(rounds / 2)
      .map(_.withColumnRenamed("w", "wr"))
      .reduce(_.unionByName(_))
      .groupBy(col("b")).agg(sum(col("wr")).as("w"))
  }

  /** Session-cached trained model (the q34 trained-artifact
    * discipline): q248 and q249 share one training per (application,
    * sf dir) instead of re-running the K rounds per invocation —
    * bit-identical to inline training, so both oracles hash
    * unchanged.
    */
  private[graft] val trainedWeightsCached = SessionFixture("classifier_train") {
    (spark, dir) =>
      import graft.operators.Checkpoints.CpOps
      trainedWeights(spark, dir).cp(eager = true)
  }

  /** Audit hook (see [[SimSearch.fixturePlans]]): the un-cached
    * training chain for SCALE.md's `fixture:*` rows — per-round
    * lineage truncates through `cpIter`, so the row shows the final
    * round + the voting sum over materialized inputs (the
    * `fixpoint:propagate_round` convention).
    */
  private[graft] def auditPlans(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] =
    Seq("fixture:classifier_train" -> trainedWeights(spark, dir))

  /** q248: the trained model itself — bucket, weight after
    * [[TrainRounds]] rounds. The oracle re-trains in SQL (unrolled
    * rounds) and must hash-match every weight.
    */
  def classifierTrain(spark: SparkSession, dir: String): DataFrame =
    trainedWeightsCached(spark, dir)

  /** q249: held-out audit — the doc_id-odd half scored by the trained
    * weights and by q216's hash-derived stand-in, against the same
    * weak labels. `n_disagree_standin` pins the shipped q216 verdict
    * (the raw exact-long Σ w·cnt ≥ `Curation.ClfThreshold` — no mean,
    * no float) to the trained table.
    */
  def heldoutEval(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Checkpoints.CpOps
    val w = trainedWeightsCached(spark, dir)
    val f = featureCounts(spark, dir)
      .filter(col("doc_id") % 2 === 1).cp()
    val l = weakLabels(spark, dir).filter(col("doc_id") % 2 === 1)
    // the q192-style guard: |score| ≤ max|w| · Σcnt(doc); past
    // exact-long range refuse loudly instead of wrapping
    val maxw = w.agg(max(abs(col("w"))).cast("double").as("gw"))
    val trained = f.join(broadcast(w), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("w") * col("cnt")).as("sct"),
        sum(col("cnt")).cast("double").as("gcnt"))
      .crossJoin(broadcast(maxw))
      .select(col("doc_id"),
        when(col("gw") * col("gcnt") > Long.MaxValue.toDouble,
          raise_error(lit("q249: max|w|·Σcnt exceeds exact-long " +
            "range — normalize per-round deltas before scoring")))
          .otherwise(col("sct")).as("sct"))
    val standin = f
      .withColumn("w", pmod(hash60(concat(lit("w:"),
        col("b").cast("string"))), lit(2001L)) - 1000L)
      .groupBy(col("doc_id"))
      .agg(sum(col("w") * col("cnt")).as("scs"))
    trained.join(standin, "doc_id").join(l, "doc_id")
      .select(sign(col("sct")).as("pt"), sign(col("scs")).as("ps"),
        col("y"))
      .agg(count(lit(1)).as("n_heldout"),
        sum(when(col("pt") === col("y"), 1L).otherwise(0L))
          .as("n_correct_trained"),
        sum(when(col("ps") === col("y"), 1L).otherwise(0L))
          .as("n_correct_standin"),
        sum(when(col("pt") =!= col("ps"), 1L).otherwise(0L))
          .as("n_disagree_standin"))
      .select(col("n_heldout"), col("n_correct_trained"),
        col("n_correct_standin"),
        expr("1000 * n_correct_trained DIV n_heldout")
          .as("acc_trained_milli"),
        expr("1000 * n_correct_standin DIV n_heldout")
          .as("acc_standin_milli"),
        col("n_disagree_standin"))
  }

  /** q252: the trained model DEPLOYED as a corpus gate — the step the
    * train (q248) / audit (q249) loop exists to feed: every document
    * with features scored by the trained weights, thresholded into the
    * keep/drop verdict, rolled up per SOURCE with the agreement rate
    * against the q22 rule gate. This is the curation owner's routing
    * table: a source whose model keep-rate collapses (or whose
    * model↔rule disagreement spikes) gets inspected before the next
    * mixture plan, exactly how fastText-class quality gates run in
    * production. Disagreements are the model's GENERALIZATION at work
    * — n-gram evidence overriding a blunt rule — which q249's held-out
    * audit already showed nets positive.
    *
    * Scale: one broadcast join of the bucket-cardinality weight table
    * over the one (doc, bucket) count shuffle, one doc-grain fold,
    * one source-grain rollup with map-side partials. The model itself
    * is the session-cached q248 artifact — deploying it adds zero
    * training cost.
    */
  def trainedGate(spark: SparkSession, dir: String): DataFrame = {
    val w = trainedWeightsCached(spark, dir)
    val verdicts = featureCounts(spark, dir)
      .join(broadcast(w), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("w") * col("cnt")).as("sc"))
      .select(col("doc_id"), (col("sc") >= 0).cast("long").as("keep"))
    val ruleOk = weakLabels(spark, dir)
      .select(col("doc_id"), (col("y") === 1L).cast("long").as("rule_ok"))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(verdicts, "doc_id")
      .join(ruleOk, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_keep"),
        sum(col("rule_ok")).as("n_rule_ok"),
        sum(when(col("keep") === col("rule_ok"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("source"), col("n_docs"), col("n_keep"),
        col("n_rule_ok"), col("n_agree"),
        expr("1000 * n_keep DIV n_docs").as("keep_milli"),
        expr("1000 * n_agree DIV n_docs").as("agree_milli"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q248_classifier_train" -> classifierTrain,
    "q249_classifier_eval" -> heldoutEval,
    "q252_trained_gate" -> trainedGate)

  /** The trained model collected to a literal (bucket → weight) map
    * for row-local ONLINE application — the [[StreamCurate]]
    * boiler-inventory discipline: a bucket-cardinality table (256
    * here; a few MB even at fastText's 2^21) ships to executors as a
    * broadcast literal, so a streaming micro-batch scores documents
    * with zero extra shuffle and zero stream state. Built from the
    * session-cached q248 artifact: deploying adds zero training cost.
    */
  private[graft] def modelWeightMap(spark: SparkSession,
      dir: String): Map[Long, Long] =
    trainedWeightsCached(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Shared oracle CTE chain: featurization (`fall`), weak labels
    * (`lab`), and the unrolled training rounds ending at
    * `w[TrainRounds]` — spliced into the oracles of every consumer of
    * the trained table (q248/q249/q252, q216's inference, q253's
    * streaming gate) so they all replay the SAME model.
    */
  private[graft] def trainCtes: String = {
    val stopList = TextAnalysis.stops.map(s => s"'$s'").mkString(", ")
    val rounds = (1 to TrainRounds).map { r =>
      s"""s$r AS (SELECT f.doc_id, CAST(sum(w.w * f.cnt) AS BIGINT) sc
         |      FROM f JOIN w${r - 1} w USING (b) GROUP BY f.doc_id),
         |m$r AS (SELECT l.doc_id, l.y FROM l JOIN s$r USING (doc_id)
         |      WHERE (CASE WHEN sc >= 0 THEN 1 ELSE -1 END) <> l.y),
         |d$r AS (SELECT f.b, CAST(sum(m.y * f.cnt) AS BIGINT) dw
         |      FROM f JOIN m$r m USING (doc_id) GROUP BY f.b),
         |w$r AS (SELECT w.b, CAST(w.w + COALESCE(d.dw, 0) AS BIGINT) w
         |      FROM w${r - 1} w LEFT JOIN d$r d USING (b))""".stripMargin
    }.mkString(",\n") + ",\n" + {
      // the LAST-HALF vote — see trainedWeights for why the burn-in
      // rounds stay out of the shipped average
      val voted = (TrainRounds / 2 + 1) to TrainRounds
      s"""wavg AS (SELECT w${voted.head}.b, CAST(${voted
        .map(r => s"w$r.w").mkString(" + ")} AS BIGINT) w
         |      FROM w${voted.head} ${voted.tail
        .map(r => s"JOIN w$r USING (b)").mkString(" ")})""".stripMargin
    }
    s"""WITH ws0 AS (SELECT doc_id, @WS@ ws FROM documents),
       |g0 AS (SELECT doc_id, list_concat(ws,
       |        list_transform(range(1, len(ws)),
       |          i -> ws[i] || ' ' || ws[i+1])) grams
       |      FROM ws0 WHERE len(ws) >= 1),
       |fx AS (SELECT doc_id, unnest(grams) g FROM g0),
       |fbk AS (SELECT doc_id, @FH@ % ${Curation.ClfBuckets} b FROM fx),
       |fall AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) cnt
       |      FROM fbk GROUP BY doc_id, b),
       |f AS (SELECT * FROM fall WHERE doc_id % 2 = 0),
       |lm AS (SELECT doc_id, len(ws) n_words, len(list_distinct(ws)) n_uniq,
       |        len(list_filter(ws, w -> list_contains([$stopList], w))) n_stop
       |      FROM ws0),
       |lab AS (SELECT doc_id,
       |        CASE WHEN n_words < 40 THEN -1
       |             WHEN n_stop * 5 >= n_words THEN -1
       |             WHEN n_uniq * 3 <= n_words THEN -1
       |             ELSE 1 END y
       |      FROM lm),
       |l AS (SELECT * FROM lab WHERE doc_id % 2 = 0),
       |w0 AS (SELECT CAST(unnest(range(${Curation.ClfBuckets})) AS BIGINT) b,
       |        CAST(0 AS BIGINT) w),
       |$rounds""".stripMargin
      .replace("@WS@", sqlWords)
      .replace("@FH@", sqlHash60("'feat:' || g"))
  }

  private def classifierTrainSql: String =
    s"""$trainCtes
       |SELECT b, w FROM wavg""".stripMargin

  private def heldoutEvalSql: String =
    s"""$trainCtes,
       |fh AS (SELECT * FROM fall WHERE doc_id % 2 = 1),
       |st AS (SELECT fh.doc_id, CAST(sum(w.w * fh.cnt) AS BIGINT) sc
       |      FROM fh JOIN wavg w USING (b) GROUP BY fh.doc_id),
       |ss AS (SELECT doc_id, CAST(sum((@WH@ % 2001 - 1000) * cnt)
       |        AS BIGINT) sc
       |      FROM fh GROUP BY doc_id),
       |ev AS (SELECT CASE WHEN t.sc >= 0 THEN 1 ELSE -1 END pt,
       |        CASE WHEN s.sc >= 0 THEN 1 ELSE -1 END ps, l.y
       |      FROM st t JOIN ss s USING (doc_id)
       |        JOIN lab l USING (doc_id))
       |SELECT CAST(count(*) AS BIGINT) n_heldout,
       |  CAST(sum(CASE WHEN pt = y THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct_trained,
       |  CAST(sum(CASE WHEN ps = y THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct_standin,
       |  (1000 * CAST(sum(CASE WHEN pt = y THEN 1 ELSE 0 END) AS BIGINT))
       |    // count(*) AS acc_trained_milli,
       |  (1000 * CAST(sum(CASE WHEN ps = y THEN 1 ELSE 0 END) AS BIGINT))
       |    // count(*) AS acc_standin_milli,
       |  CAST(sum(CASE WHEN pt <> ps THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_disagree_standin
       |FROM ev""".stripMargin
      .replace("@WH@", sqlHash60("'w:' || CAST(b AS VARCHAR)"))

  private def trainedGateSql: String =
    s"""$trainCtes,
       |sc AS (SELECT fall.doc_id, CAST(sum(w.w * fall.cnt) AS BIGINT) sc
       |      FROM fall JOIN wavg w USING (b) GROUP BY fall.doc_id),
       |v AS (SELECT doc_id, CASE WHEN sc >= 0 THEN 1 ELSE 0 END keep
       |      FROM sc),
       |ro AS (SELECT doc_id, CASE WHEN y = 1 THEN 1 ELSE 0 END rule_ok
       |      FROM lab)
       |SELECT d.source,
       |  CAST(count(*) AS BIGINT) n_docs,
       |  CAST(sum(v.keep) AS BIGINT) n_keep,
       |  CAST(sum(ro.rule_ok) AS BIGINT) n_rule_ok,
       |  CAST(sum(CASE WHEN v.keep = ro.rule_ok THEN 1 ELSE 0 END)
       |    AS BIGINT) n_agree,
       |  (1000 * CAST(sum(v.keep) AS BIGINT)) // count(*) keep_milli,
       |  (1000 * CAST(sum(CASE WHEN v.keep = ro.rule_ok THEN 1 ELSE 0 END)
       |    AS BIGINT)) // count(*) agree_milli
       |FROM documents d JOIN v ON v.doc_id = d.doc_id
       |  JOIN ro ON ro.doc_id = d.doc_id
       |GROUP BY d.source""".stripMargin

  val oracle: Map[String, String] = Map(
    "q248_classifier_train" -> classifierTrainSql,
    "q249_classifier_eval" -> heldoutEvalSql,
    "q252_trained_gate" -> trainedGateSql)
}

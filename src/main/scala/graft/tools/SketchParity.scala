package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, StreamCurate}
import graft.sources.Tables

/** CALIBRATION — can a bottom-k shingle sketch replace the exact
  * shingle-hash arrays in q255's band-bucket state without changing a
  * single verdict? The measurement the round-14 review prescribed
  * BEFORE any switch (the q177 discipline: judge an estimator against
  * the exact kernel on the real corpora, then decide).
  *
  * For every LSH candidate pair the screen would verify (band-key
  * collision among gated docs, distinct content hash — the q15
  * candidate set, horizon-free so the answer covers any horizon
  * constant), computes the EXACT verdict (2·∩ ≥ |a|+|b|−∩, i.e.
  * Jaccard ≥ 1/2 over distinct 3-shingle hashes) and the BOTTOM-K
  * estimator's verdict for k ∈ {16, 32, 64, 128}: with sa/sb the k
  * smallest hashes per side, X the k smallest of sa ∪ sb and
  * Y = |X ∩ sa ∩ sb|, the verdict is 2·Y ≥ |X| (the standard
  * single-inclusion bottom-k Jaccard estimator). Prints, per scale
  * factor and k, the candidate count, exact positives, and both
  * disagreement directions.
  *
  * MEASURED outcome (2026-08-16): zero divergence at every k on both
  * corpora — sf0.001: 7 candidates (7 exact-positive), sf0.01: 12
  * candidates (10 exact-positive), per-doc distinct-shingle counts
  * 40..84. So k = 16 already preserves every verdict here, and at
  * k ≥ 84 the estimator is the exact kernel by construction (the
  * whole union fits in X). The shipped sketch is k = 64
  * ([[StreamCurate.NdsSketchK]]): 4× headroom over the smallest
  * parity-preserving k, near-exact on these short docs, and the
  * state-bounding win the sketch exists for lands on LONG docs at
  * production scale (per-doc state capped at k longs instead of
  * O(doc length)).
  */
object SketchParity {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(graft.Harness.cpus)
    val ks = Seq(16, 32, 64, 128)
    val kMax = ks.max
    args.toSeq match {
      case dirs if dirs.nonEmpty => dirs.foreach(d => run(spark, d, ks, kMax))
      case _ =>
        Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
          .foreach(d => run(spark, d, ks, kMax))
    }
    spark.stop()
  }

  private def run(spark: org.apache.spark.sql.SparkSession, dir: String,
      ks: Seq[Int], kMax: Int): Unit = {
    val docs = Tables.documents(spark, dir)
    val inv = StreamCurate.boilerInventory(spark, dir)
    val rates = StreamCurate.mixtureRates(spark, dir)
    val g0 = StreamCurate.curationGates(docs, inv, rates, keepWs = true)
      .withColumn("hsh", array_sort(array_distinct(
        graft.functions.HashOps.shingle_hash60(col("ws"), 3))))
      .withColumn("mhs", Dedup.minhashSigCol)
    val d = g0.select(col("doc_id"), col("h"), col("hsh"))
    val bands = g0.select(col("doc_id"),
      explode(Dedup.bandKeysCol).as("bkey"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verdict in-plan; sketches (bounded: ≤ kMax longs per side)
    // come back to the driver where all k are evaluated in one pass
    val rows = cand
      .join(d.select(col("doc_id").as("doc_a"), col("h").as("ha"),
        col("hsh").as("hsa")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("h").as("hb"),
        col("hsh").as("hsb")), "doc_b")
      .filter(col("ha") =!= col("hb"))
      .withColumn("inter", graft.functions.ArrayOps
        .sorted_intersect_count(col("hsa"), col("hsb")))
      .select(col("doc_a"), col("doc_b"),
        (lit(2L) * col("inter") >=
          size(col("hsa")) + size(col("hsb")) - col("inter")).as("exact"),
        slice(col("hsa"), 1, kMax).as("ska"),
        slice(col("hsb"), 1, kMax).as("skb"),
        size(col("hsa")).as("na"), size(col("hsb")).as("nb"))
      .collect()
    println(s"PARITY $dir candidates=${rows.length} " +
      s"exactPos=${rows.count(_.getBoolean(2))} " +
      s"lenMin=${rows.map(r => math.min(r.getInt(5), r.getInt(6))).minOption.getOrElse(0)} " +
      s"lenMax=${rows.map(r => math.max(r.getInt(5), r.getInt(6))).maxOption.getOrElse(0)}")
    ks.foreach { k =>
      var fp = 0; var fn = 0
      rows.foreach { r =>
        val exact = r.getBoolean(2)
        val sa = r.getSeq[Long](3).take(k).toArray
        val sb = r.getSeq[Long](4).take(k).toArray
        val sketch = Dedup.bottomKVerdict(sa, sb, k)
        if (sketch && !exact) fp += 1
        if (!sketch && exact) fn += 1
      }
      println(s"PARITY $dir k=$k falsePos=$fp falseNeg=$fn " +
        (if (fp == 0 && fn == 0) "AGREE" else "DIVERGE"))
    }
  }

}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis.MinHashCoeffs

/** The banded-LSH kernel every near-dup face builds on: MinHash
  * signatures, band projections, band-collision pair joins and
  * signature agreement (q28's two steps: generate candidates, then
  * score them). The one-shot faces and the maintained indexes of
  * [[graft.streaming.CurateStream]]/[[graft.streaming.MediaStream]]
  * probe through the same builders.
  *
  * Pure plan builders: none repartitions, checkpoints or hints a
  * join on its own, so each caller keeps its own physical choices. */
private[graft] object Lsh {

  /** MinHash signature array of a doc's `text`; null when the doc has
    * no 4-token shingle. */
  def minHashSig: Column = graft.functions.EvmExprs.minHashSigFromText(col("text"))

  /** The hash columns h0..h3 of a `sig` signature-array column. */
  def hashes: Seq[Column] =
    MinHashCoeffs.indices.map(j => element_at(col("sig"), j + 1).as(s"h$j"))

  /** MinHash signature frame (doc_id, h0..h3) of a (doc_id, text)
    * frame; docs with a null signature are dropped. */
  def signatures(docs: DataFrame): DataFrame =
    docs.withColumn("sig", minHashSig)
      .where(col("sig").isNotNull)
      .select(col("doc_id") +: hashes: _*)

  /** 2 bands of 2 hashes (doc_id, band, x, y) of a signature frame:
    * band 0 keys (h0, h1), band 1 keys (h2, h3). */
  def bands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), lit(0).as("band"),
        col("h0").as("x"), col("h1").as("y"))
      .unionByName(sig.select(col("doc_id"), lit(1).as("band"),
        col("h2").as("x"), col("h3").as("y")))

  /** One band per quarter column (id, band, key) of an (id,
    * q0..q{nb−1}) frame — the SimHash and pHash band projection. */
  def quarterBands(qs: DataFrame, nb: Int): DataFrame =
    (0 until nb).map(k =>
        qs.select(col(qs.columns.head), lit(k).as("band"), col(s"q$k").as("key")))
      .reduce(_.unionByName(_))

  /** Distinct candidate pairs (a_id, b_id), a_id < b_id, of ids that
    * share a band key. `bands` is any band frame: its id column first,
    * then the key columns. `broadcastLeft` hints the a side broadcast. */
  def selfPairs(bands: DataFrame, broadcastLeft: Boolean = false): DataFrame = {
    val keys = bands.columns.toSeq.tail
    val a = bands.toDF("a_id" +: keys: _*)
    (if (broadcastLeft) broadcast(a) else a)
      .join(bands.toDF("b_id" +: keys: _*), keys)
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Distinct candidate pairs (b_id, c_id) of a probe band frame
    * against an index band frame (same layout as [[selfPairs]]).
    * `broadcastLeft` hints the probe side broadcast. */
  def probePairs(probe: DataFrame, index: DataFrame,
      broadcastLeft: Boolean = false): DataFrame = {
    val keys = probe.columns.toSeq.tail
    val b = probe.toDF("b_id" +: keys: _*)
    (if (broadcastLeft) broadcast(b) else b)
      .join(index.toDF("c_id" +: keys: _*), keys)
      .select("b_id", "c_id").distinct()
  }

  /** A signature frame renamed (`id`, `p`0..`p`3), ready to join a
    * pair frame on `id` and score with [[agreement]]. */
  def prefixed(sig: DataFrame, id: String, p: String): DataFrame =
    sig.toDF(id +: MinHashCoeffs.indices.map(j => s"$p$j"): _*)

  /** Fraction of the 4 hashes on which two prefixed signature column
    * sets agree (`a`0..`a`3 vs `b`0..`b`3) — the estimated Jaccard. */
  def agreement(a: String, b: String): Column =
    MinHashCoeffs.indices.map(j =>
        when(col(s"$a$j") === col(s"$b$j"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / MinHashCoeffs.size
}

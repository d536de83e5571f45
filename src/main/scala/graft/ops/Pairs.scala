package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The candidate → score → top-k kernel of every pair-scoring face:
  * shared-key pair counts (the reference's n-gram cosine and interface
  * Jaccard, similarities.rs:113-143 and 216-238), the per-id sides a
  * pair score reads, the exact Hamming re-rank of the banded
  * fingerprints and the per-key top-k cut of the vector faces.
  *
  * Pure plan builders, the [[Lsh]] rules: none repartitions,
  * checkpoints or hints a join on its own, so each caller keeps its own
  * physical choices, score expression and rounding. */
private[graft] object Pairs {

  /** Pairs (a_id, b_id), a_id < b_id, of ids whose rows share a `key`
    * value, one row per pair. `rows` holds the key and an id, then
    * optionally a weight, the key at any position: two columns give
    * `inter`, the count of shared keys; three give `dot`, the sum of the
    * two rows' weight products. Pairs sharing no key never materialise:
    * an equi-join on the key, never a cross join. */
  def sharedKey(rows: DataFrame, key: String): DataFrame = {
    val others = rows.columns.toSeq.filterNot(_ == key)
    require(others.size == 1 || others.size == 2,
      s"sharedKey takes ($key, id[, weight]) rows, got ${rows.columns.mkString(", ")}")
    def side(p: String) = rows.toDF(rows.columns.toSeq.map(c =>
      if (c == key) c else if (c == others.head) s"${p}_id" else s"c$p"): _*)
    val pairs = side("a").join(side("b"), Seq(key))
      .where(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
    if (others.size == 2) pairs.agg(sum(col("ca") * col("cb")).as("dot"))
    else pairs.agg(count(lit(1)).as("inter"))
  }

  /** `pairs` with the a_ and b_ copies of a per-id frame (sizes, norms,
    * vectors or quarters) joined on a_id and b_id, the a side first.
    * `perId`'s first column is the id; its other columns are renamed
    * to `a` on the a side and to `b` on the b side. The a-then-b join
    * order is part of every caller's physical plan. */
  def sides(pairs: DataFrame, perId: DataFrame, a: Seq[String],
      b: Seq[String]): DataFrame =
    pairs.join(perId.toDF("a_id" +: a: _*), "a_id")
      .join(perId.toDF("b_id" +: b: _*), "b_id")

  /** Exact Hamming distance between the quarter columns a_q0..a_q{nb−1}
    * and b_q0..b_q{nb−1}: the popcount of each quarter's XOR, summed. */
  def hamming(nb: Int): Column =
    (0 until nb).map(k => bit_count(col(s"a_q$k").bitwiseXOR(col(s"b_q$k"))))
      .reduce(_ + _).cast("long")

  /** Exact Hamming between quarter row-sets prefixed a_/b_, joined by
    * a candidate frame (aId, bId) — the banded pipelines' shared
    * re-rank. `broadcastPairs = true` hints the pair side (and the
    * pair⋈aQs composite) broadcast — correct ONLY when the caller can
    * bound it (MediaStream's per-batch probe: pairs and aQs are
    * micro-batch-bounded, bQs is the corpus-sized stored index, which
    * then STREAMS instead of being shuffled per batch — guide §3.1).
    * The offline all-corpus faces (q216/q218/q221/q222) keep the
    * default: their pair set is corpus-candidate-sized and must stay
    * on the planner's choice. */
  def hammingJoin(cand: DataFrame, aQs: DataFrame, bQs: DataFrame,
      aId: String, bId: String, nb: Int,
      broadcastPairs: Boolean = false): DataFrame = {
    def bc(df: DataFrame) = if (broadcastPairs) broadcast(df) else df
    bc(bc(cand)
        .join(aQs.toDF((aId +: (0 until nb).map(k => s"a_q$k")): _*), aId))
      .join(bQs.toDF((bId +: (0 until nb).map(k => s"b_q$k")): _*), bId)
      .select(col(aId), col(bId), hamming(nb).as("hamming"))
  }

  /** The `k` best rows of `df` per `by` key by `order` (which should
    * end in a unique tie-break), ranked 1..k in `rn`. */
  def topK(df: DataFrame, by: Seq[Column], order: Seq[Column], k: Int): DataFrame =
    topK(df, by, order, lit(k), "rn")

  /** [[topK]] with a per-row cut `k` and the rank named `rn`. */
  def topK(df: DataFrame, by: Seq[Column], order: Seq[Column], k: Column,
      rn: String): DataFrame =
    df.withColumn(rn, row_number().over(Window.partitionBy(by: _*).orderBy(order: _*)))
      .where(col(rn) <= k)
}

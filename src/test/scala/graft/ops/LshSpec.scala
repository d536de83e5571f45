package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The banded-LSH kernel ([[Lsh]]) over hand-built signature frames:
  * which pairs the 2×2 bands make candidates, that each candidate
  * comes out once and ordered, and where the agreement cut falls. */
class LshSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** A (doc_id, h0..h3) signature frame. */
  private def sigs(rows: (Long, Seq[Long])*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, h) => (id, h(0), h(1), h(2), h(3)) }
      .toDF("doc_id", "h0", "h1", "h2", "h3")
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("self pairs: a band-1-only collision is a candidate, a two-band collision appears once, a_id < b_id") {
    val sig = sigs(
      3L -> Seq(10L, 11L, 20L, 21L),
      2L -> Seq(99L, 98L, 20L, 21L), // band 1 only, with 3 and 1
      1L -> Seq(10L, 11L, 20L, 21L), // both bands with 3
      4L -> Seq(10L, 50L, 60L, 70L)) // shares h0 with 1 and 3: no band
    val cand = Lsh.selfPairs(Lsh.bands(sig))
    assert(cand.columns.toSeq === Seq("a_id", "b_id"))
    assert(pairs(cand) === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("probe pairs: each probe×index collision once, in either band") {
    val probe = sigs(7L -> Seq(1L, 2L, 3L, 4L))
    val index = sigs(
      1L -> Seq(9L, 9L, 3L, 4L), // band 1
      2L -> Seq(1L, 2L, 5L, 6L), // band 0
      3L -> Seq(1L, 5L, 3L, 7L), // no band
      5L -> Seq(1L, 2L, 3L, 4L)) // both bands
    val cand = Lsh.probePairs(Lsh.bands(probe), Lsh.bands(index))
    assert(cand.columns.toSeq === Seq("b_id", "c_id"))
    assert(pairs(cand) === Seq((7L, 1L), (7L, 2L), (7L, 5L)))
  }

  test("agreement: 2/4 = 0.5 passes the 0.5 cut and 1/4 does not") {
    val a = Lsh.prefixed(sigs(1L -> Seq(10L, 11L, 20L, 21L)), "a_id", "a")
    val b = Lsh.prefixed(sigs(
      2L -> Seq(99L, 98L, 20L, 21L), // h2, h3 agree
      4L -> Seq(10L, 50L, 60L, 70L)), // h0 agrees
      "b_id", "b")
    val scored = a.crossJoin(b)
      .select(col("b_id"), Lsh.agreement("a", "b").as("est"))
    assert(scored.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ===
      Map(2L -> 0.5, 4L -> 0.25))
    assert(scored.where(col("est") >= 0.5).collect().map(_.getLong(0)).toSeq ===
      Seq(2L))
  }

  test("quarter bands pair any id column on one shared quarter") {
    val s = spark
    import s.implicits._
    val qs = Seq((1L, 5L, 6L), (2L, 7L, 6L), (3L, 8L, 9L))
      .toDF("media_id", "q0", "q1")
    val bands = Lsh.quarterBands(qs, 2)
    assert(bands.columns.toSeq === Seq("media_id", "band", "key"))
    assert(pairs(Lsh.selfPairs(bands)) === Seq((1L, 2L)))
  }
}

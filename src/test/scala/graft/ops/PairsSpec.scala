package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The candidate → score → top-k kernel ([[Pairs]]) over hand-built
  * frames: which pairs a shared key makes and what they count, how the
  * per-key cut breaks ties, and that the Hamming re-rank is the scalar
  * popcount. */
class PairsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def triples(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("a_id", "b_id", df.columns.last).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  test("sharedKey: no self pairs, no (b, a) duplicates, inter counts the shared keys") {
    val s = spark
    import s.implicits._
    val rows = Seq(1L -> "x", 1L -> "y", 1L -> "z", 2L -> "x", 2L -> "y",
      3L -> "z", 4L -> "w").toDF("doc_id", "sh")
    val inter = Pairs.sharedKey(rows, "sh")
    assert(inter.columns.toSeq === Seq("a_id", "b_id", "inter"))
    assert(triples(inter) === Seq((1L, 2L, 2L), (1L, 3L, 1L)))
    // the key may lead (the df-capped shingle frame's layout)
    assert(triples(Pairs.sharedKey(rows.select("sh", "doc_id"), "sh")) === triples(inter))
  }

  test("sharedKey: dot sums the products of the two rows' weights") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, "x", 2L), (1L, "y", 3L), (2L, "x", 5L), (2L, "y", 1L),
      (3L, "y", 4L)).toDF("doc_id", "tok", "c")
    val dot = Pairs.sharedKey(rows, "tok")
    assert(dot.columns.toSeq === Seq("a_id", "b_id", "dot"))
    assert(triples(dot) === Seq((1L, 2L, 13L), (1L, 3L, 12L), (2L, 3L, 4L)))
    // a fourth column has no meaning: rejected, not silently renamed
    intercept[IllegalArgumentException](Pairs.sharedKey(rows.withColumn("extra", lit(0)), "tok"))
  }

  test("sides: the per-id columns join on under the a and b names") {
    val s = spark
    import s.implicits._
    val sizes = Seq(1L -> 3L, 2L -> 2L, 3L -> 1L).toDF("doc_id", "n")
    val joined = Pairs.sides(Seq(1L -> 2L, 1L -> 3L).toDF("a_id", "b_id"),
      sizes, Seq("na"), Seq("nb"))
    assert(joined.select("a_id", "b_id", "na", "nb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted === Seq((1L, 2L, 3L, 2L), (1L, 3L, 3L, 1L)))
  }

  test("topK: keeps k rows per key and breaks ties on the given order") {
    val s = spark
    import s.implicits._
    val scored = Seq((1L, 5L, 0.9), (1L, 3L, 0.9), (1L, 4L, 0.8), (1L, 1L, 0.1),
      (2L, 7L, 0.5)).toDF("q_id", "c_id", "cos")
    def cut(order: Seq[org.apache.spark.sql.Column]): Seq[(Long, Long, Int)] =
      Pairs.topK(scored, Seq(col("q_id")), order, 2).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"), r.getAs[Int]("rn")))
        .toSeq.sorted
    assert(cut(Seq(col("cos").desc, col("c_id").asc)) ===
      Seq((1L, 3L, 1), (1L, 5L, 2), (2L, 7L, 1)))
    assert(cut(Seq(col("cos").desc, col("c_id").desc)) ===
      Seq((1L, 3L, 2), (1L, 5L, 1), (2L, 7L, 1)))
    // a per-row cut under another rank name
    val quota = scored.withColumn("k", when(col("q_id") === 1L, 3).otherwise(0))
    assert(Pairs.topK(quota, Seq(col("q_id")), Seq(col("cos").asc, col("c_id").asc),
        col("k"), "prn").collect().map(r => r.getAs[Long]("c_id")).toSet ===
      Set(1L, 4L, 3L))
  }

  test("hamming: equals a scalar popcount over random quarters") {
    val s = spark
    import s.implicits._
    val nb = 4
    val rnd = new scala.util.Random(7)
    val qs = (1L to 40L).map(id => id -> Seq.fill(nb)(rnd.nextInt(1 << 16).toLong))
    val frame = qs.map { case (id, q) => (id, q(0), q(1), q(2), q(3)) }
      .toDF("id", "q0", "q1", "q2", "q3")
    val cand = (for (a <- 1L to 40L; b <- a + 1 to 40L) yield (a, b))
      .toDF("a_id", "b_id")
    val got = Pairs.hammingJoin(cand, frame, frame, "a_id", "b_id", nb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byId = qs.toMap
    val want = (for (a <- 1L to 40L; b <- a + 1 to 40L) yield (a, b) ->
      byId(a).zip(byId(b)).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }
        .sum.toLong).toMap
    assert(got === want)
    assert(want.values.toSet.size > 5) // the spectrum is exercised
  }
}

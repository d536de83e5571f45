package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sinks.Layout

/** The collision-pair broadcast GUARD (r14 verdict #2): the per-batch
  * probes hint the band-collision pair frames broadcast, but the hint
  * bypasses autoBroadcastJoinThreshold, so it must drop out when the
  * EXACT pair count exceeds the cap (a degenerate band key at scale).
  * Pins (a) the cap's conf plumbing, and (b) that a degenerate-band
  * batch — every payload a near-variant of one family, so every band
  * key collides — produces IDENTICAL statuses with the broadcast
  * forced off (cap 0) as with the default cap: the fallback changes
  * join strategy only, never row sets. Also pins (c) that the count is
  * observed on the checkpoint's own job: it equals `count()` on
  * non-empty, empty and filtered-out frames, and a call runs one job. */
class PairGuardSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("cap comes from spark.graft.maxBroadcastPairs with a 1M default") {
    assert(PairGuard.maxRows(spark) === PairGuard.DefaultMaxRows)
    spark.conf.set(PairGuard.ConfKey, "7")
    try assert(PairGuard.maxRows(spark) === 7L)
    finally spark.conf.unset(PairGuard.ConfKey)
  }

  test("checkpointAndDecide: hint allowed under the cap, dropped past it") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a_id", "b_id")
    val (ck1, ok1) = PairGuard.checkpointAndDecide(pairs, "spec")
    assert(ok1) // 3 rows, default cap 1M
    ck1.unpersist()
    spark.conf.set(PairGuard.ConfKey, "2")
    try {
      val (ck2, ok2) = PairGuard.checkpointAndDecide(pairs, "spec")
      assert(!ok2) // 3 rows > cap 2
      assert(ck2.count() === 3) // the frame itself is untouched
      ck2.unpersist()
    } finally spark.conf.unset(PairGuard.ConfKey)
  }

  private def pairs = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a_id", "b_id")
  }

  test("the observed count equals count() on non-empty, empty and filtered-out pair frames") {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val frames = Seq(
      "non-empty" -> pairs,
      "empty relation" -> spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), pairs.schema),
      "where(lit(false))" -> pairs.where(lit(false)),
      "broadcast join + distinct" -> pairs
        .join(broadcast(pairs.select(col("b_id").as("a_id"))), Seq("a_id"))
        .distinct())
    // the decision holds at a cap of exactly count() and flips one
    // below it, so the observed count IS count()
    def allowedUnder(f: org.apache.spark.sql.DataFrame, cap: Long): Boolean = {
      spark.conf.set(PairGuard.ConfKey, cap.toString)
      try {
        val (ck, ok) = PairGuard.checkpointAndDecide(f, "spec")
        graft.Checkpoints.release(ck)
        ok
      } finally spark.conf.unset(PairGuard.ConfKey)
    }
    frames.foreach { case (name, f) =>
      val n = f.count()
      assert(allowedUnder(f, n), s"$name: count $n read as more")
      assert(!allowedUnder(f, n - 1), s"$name: count $n read as less")
    }
  }

  test("maxBroadcastPairs = 0 flips the decision") {
    // q190 guards its scored match pairs the same way: the fallback
    // join changes the strategy only, never the rows
    def q190(): Seq[String] = graft.queries.Registry.all("q190_split_assign")
      .fn(spark, "/root/testdata/sf0.001").collect().map(_.toString).toSeq.sorted
    val (ck1, ok1) = PairGuard.checkpointAndDecide(pairs, "spec")
    graft.Checkpoints.release(ck1)
    assert(ok1)
    val q190AtDefault = q190()
    assert(q190AtDefault.nonEmpty)
    spark.conf.set(PairGuard.ConfKey, "0")
    try {
      val (ck2, ok2) = PairGuard.checkpointAndDecide(pairs, "spec")
      graft.Checkpoints.release(ck2)
      assert(!ok2)
      assert(q190() === q190AtDefault)
    } finally spark.conf.unset(PairGuard.ConfKey)
  }

  test("deciding costs no job beyond the checkpoint: one job per call") {
    val ((ck, ok), jobs) = TestSpark.jobsStartedBy(
      PairGuard.checkpointAndDecide(pairs, "spec"))
    graft.Checkpoints.release(ck)
    assert(ok)
    assert(jobs === 1)
  }

  // one degenerate family: every payload a tiny variant of the same
  // text, so all quarters (and so all band keys) collide — the pair
  // frame is the worst case C(n,2)-per-band shape the guard exists for
  private def degenerateMedia(ids: Seq[Long]) = {
    val s = spark
    import s.implicits._
    val base = "alpha document body " * 8
    graft.ops.Multimodal.asMedia(
      ids.map(i => i -> (s"alph${('A' + (i % 3)).toChar} document body " +
        base.drop(20))).toDF("doc_id", "text"),
      "doc_id", "text")
  }

  private def manifestOf(root: String): Map[Long, (String, Option[Long])] =
    Layout.readStatic(spark, root, MediaStream.ManifestEntity).get
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap

  test("media fallback: degenerate band, cap 0 ≡ default cap, row-wise") {
    val corpus = degenerateMedia(Seq(10L, 11L, 12L))
    val batch = degenerateMedia(Seq(5L, 20L, 21L, 22L))

    val rootHint = graft.Temps.dir("pair-guard-hint")
    MediaStream.bootstrap(corpus, rootHint)
    MediaStream.ingestBatch(batch, rootHint).unpersist()
    val withHint = manifestOf(rootHint)

    val rootSafe = graft.Temps.dir("pair-guard-safe")
    MediaStream.bootstrap(corpus, rootSafe)
    spark.conf.set(PairGuard.ConfKey, "0") // force the fallback path
    try MediaStream.ingestBatch(batch, rootSafe).unpersist()
    finally spark.conf.unset(PairGuard.ConfKey)
    assert(manifestOf(rootSafe) === withHint)
    // sanity: the degenerate batch really is all-dup against the family
    assert(withHint.values.count(_._1 != "kept") >= 3)
  }

  test("curate fallback: cap 0 ≡ default cap on the near-dup layer") {
    val s = spark
    import s.implicits._
    def qtext(k: Int): String =
      (0 until 45).map(i => s"w${k}_$i").mkString(" ")
    def docsDF(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .selectExpr("doc_id", "text", "'en' AS lang", "'src' AS source",
          "CAST(length(text) AS INT) AS n_chars")
    val corpus = docsDF(Seq(1L -> (qtext(1) + " tailA"),
      2L -> (qtext(2) + " tailB")))
    val batch = docsDF(Seq(10L -> qtext(1), 15L -> qtext(2),
      20L -> qtext(3)))
    def statuses(root: String): Map[Long, String] =
      Layout.readStatic(spark, root, CurateStream.ManifestEntity).get
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap

    val rootHint = graft.Temps.dir("pair-guard-cur-hint")
    CurateStream.bootstrap(corpus, rootHint)
    CurateStream.ingestBatch(batch, rootHint).unpersist()

    val rootSafe = graft.Temps.dir("pair-guard-cur-safe")
    CurateStream.bootstrap(corpus, rootSafe)
    spark.conf.set(PairGuard.ConfKey, "0")
    try CurateStream.ingestBatch(batch, rootSafe).unpersist()
    finally spark.conf.unset(PairGuard.ConfKey)

    assert(statuses(rootSafe) === statuses(rootHint))
    // sanity: the near layer actually fired (near dups present)
    assert(statuses(rootHint).values.exists(_.startsWith("dup_near")))
  }
}

package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sinks.Layout
import graft.streaming.CurateStream

/** The served-BM25 contract (q175 / q173's lexical leg): the stored
  * inverted index is maintained under the same anti-join-upsert
  * discipline as every curate entity, and serving from it is
  * BIT-IDENTICAL to recomputing from the corpus — same counts in,
  * same IEEE sequence, same scores out. */
class LexServedSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def postingRows(root: String): Set[(String, Long, Long)] = {
    val s = spark
    import s.implicits._
    Layout.readStatic(s, root, CurateStream.PostingsEntity)
      .get.as[(String, Long, Long)].collect().toSet
  }

  private def dlRows(root: String): Set[(Long, Long)] = {
    val s = spark
    import s.implicits._
    Layout.readStatic(s, root, CurateStream.DlEntity)
      .get.as[(Long, Long)].collect().toSet
  }

  test("served scores are bit-identical to the corpus recompute") {
    val s = spark
    import s.implicits._
    val root = graft.Temps.dir("lex-served-eq")
    CurateStream.upsertLex(Tables.documents(s, sfDir), root)
    val served = RetrievalOps.bm25ServedTopK(s, sfDir, root, 5)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val recomputed = RetrievalOps.bm25TopK(s, sfDir, 5)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(served.length === 25)
    // sameElements on the raw tuples: Double equality here IS the
    // claim — identical stored counts through the identical rounded
    // IEEE sequence
    assert(served.sameElements(recomputed))
  }

  test("the query-term fetch reaches the postings scan as a pushed In filter") {
    // the 100-TB fetch shape: the tiny query vocabulary is collected
    // and pushed as In(t, ...) so the stored-postings scan prunes at
    // the row-group level (compaction range-sorts the store by t) —
    // a broadcast semi-join would read the whole store per query.
    // Asserted on the fetch frame itself: in the full q175 plan the
    // slice sits behind a localCheckpoint, which hides its scan.
    val s = spark
    val root = graft.Temps.dir("lex-served-push")
    CurateStream.upsertLex(Tables.documents(s, sfDir), root)
    val fetch = Layout.readStatic(s, root, CurateStream.PostingsEntity).get
      .where(col("t").isin("alpha", "beta", "gamma"))
    val p = fetch.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("In(t"), p)
  }

  test("ingest maintains the index: kept docs only, replay no-op, compaction row-preserving") {
    val s = spark
    import s.implicits._
    def qtext(k: Int): String = {
      val stop = Seq("the", "a", "of", "and", "to")
      (0 until 45).flatMap(i =>
        if (i % 9 == 0) Seq(stop(i / 9), s"w${k}_$i") else Seq(s"w${k}_$i"))
        .mkString(" ")
    }
    def docsDF(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .selectExpr("doc_id", "text", "'en' AS lang", "'src' AS source",
          "CAST(length(text) AS INT) AS n_chars")
    val corpus = docsDF(Seq(1L -> qtext(1), 2L -> qtext(2)))
    val batch = docsDF(Seq(
      10L -> qtext(1),              // dup_exact_corpus → NOT folded
      20L -> qtext(3),              // kept
      35L -> "just three tokens"))  // low_quality → NOT folded
    val root = graft.Temps.dir("lex-served-ingest")
    CurateStream.bootstrap(corpus, root, withLex = true)
    val manifest = CurateStream.ingestBatch(batch, root, lexIndex = true)
    val statuses = manifest.select("doc_id", "status")
      .as[(Long, String)].collect().toMap
    assert(statuses(10L) === "dup_exact_corpus")
    assert(statuses(20L) === "kept")
    assert(statuses(35L) === "low_quality")
    manifest.unpersist()

    // the store is exactly the recompute over bootstrap corpus + kept
    val expectDocs = corpus.unionByName(batch.where(col("doc_id") === 20L))
    val expectPost = CurateStream.postingsOf(expectDocs)
      .as[(String, Long, Long)].collect().toSet
    val expectDl = CurateStream.dlOf(expectDocs)
      .as[(Long, Long)].collect().toSet
    assert(postingRows(root) === expectPost)
    assert(dlRows(root) === expectDl)

    // replay: re-ingesting the applied batch changes nothing row-wise
    CurateStream.ingestBatch(batch, root, lexIndex = true).unpersist()
    assert(postingRows(root) === expectPost)
    assert(dlRows(root) === expectDl)

    // compaction: same rows, fewer files
    Layout.compactStatic(s, root, CurateStream.PostingsEntity)
    Layout.compactStatic(s, root, CurateStream.DlEntity)
    assert(postingRows(root) === expectPost)
    assert(dlRows(root) === expectDl)
  }

  test("range-sorted compaction makes a small term probe skip most files") {
    // the measured face of the pushed-In pruning claim (the `lex_prune`
    // ScaleLaws family is the sf0.1 row; this pins the mechanism at spec
    // scale): after compaction range-sorts the postings by t, each
    // ACTUAL file owns a term range, and a small probe's terms
    // intersect few of them — the min/max rule parquet prunes
    // row groups by. The hash-laid baseline (plain repartition of the
    // SAME rows into the SAME file count) touches every file.
    val s = spark
    val root = graft.Temps.dir("lex-prune-spec")
    CurateStream.upsertLex(Tables.documents(s, sfDir), root)

    def footprint(): (Long, Long) = {
      val post = Layout.readStatic(s, root, CurateStream.PostingsEntity).get
      val probe = post.select("t").distinct().orderBy("t").limit(3)
        .collect().map(_.getString(0)) // 3 lowest terms: one range's worth
      val r = post.withColumn("fn", input_file_name())
        .groupBy(col("fn"))
        .agg(min(col("t")).as("mn"), max(col("t")).as("mx"))
        .agg(count(lit(1)).as("total"),
          sum(when(exists(array(probe.map(lit): _*),
            x => x >= col("mn") && x <= col("mx")), 1L).otherwise(0L))
            .as("touched"))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }

    Layout.compactStatic(s, root, CurateStream.PostingsEntity,
      targetBytes = 4L * 1024) // force a multi-file layout
    val (hashTotal, hashTouched) = footprint()
    assert(hashTotal >= 4, s"need a multi-file layout, got $hashTotal")
    Layout.compactStatic(s, root, CurateStream.PostingsEntity,
      targetBytes = 4L * 1024, sortBy = Seq("t"))
    val (sortTotal, sortTouched) = footprint()
    assert(sortTotal >= 4, s"need a multi-file layout, got $sortTotal")
    // hash layout scatters every term everywhere; the sorted layout
    // confines the 3-term probe to a strict minority of files
    assert(hashTouched === hashTotal, s"$hashTouched/$hashTotal")
    assert(sortTouched.toDouble / sortTotal <= 0.5,
      s"sorted layout touched $sortTouched/$sortTotal")
  }
}

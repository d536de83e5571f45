package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sinks.Layout

/** Provenance + replay contract for [[SemanticStream]]: a hand-built
  * 6-d corpus drives every status — dup against the stored corpus,
  * dup against a smaller batch-mate, kept-then-probed-by-a-later-batch
  * (the cross-batch case: a vector kept in batch 1 becomes the CORPUS
  * representative that batch 2's near-twin dedups against) — and
  * re-ingesting an applied batch is a row-wise no-op. */
class SemanticStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def vec(parts: (Int, Double)*): Seq[Double] = {
    val a = Array.fill(6)(0.0)
    parts.foreach { case (i, x) => a(i) = x }
    a.toSeq
  }

  private def df(rows: Seq[(Long, Seq[Double])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("sequential vector ingest: statuses, cross-batch rep, replay no-op") {
    val s = spark
    import s.implicits._
    // corpus seeds the codebook: centroids e0 (cell 1) and e1 (cell 2)
    val corpus = df(Seq(1L -> vec(0 -> 1.0), 2L -> vec(1 -> 1.0)))
    // 0.25-blend direction: cos vs its centroid ≈ 0.24 < 0.3 (assigned
    // to the cell but NOT a duplicate of the corpus member there)
    val b1 = df(Seq(
      10L -> vec(0 -> 1.0),              // ≡ corpus 1 → dup_corpus rep 1
      20L -> vec(0 -> 0.25, 2 -> 1.0),   // cell 1, no ≥0.3 match → kept
      30L -> vec(0 -> 0.25, 2 -> 0.97),  // ≈ 20 → dup_batch rep 20
      40L -> vec(1 -> 0.25, 3 -> 1.0)))  // cell 2, no match → kept
    val b2 = df(Seq(
      50L -> vec(0 -> 1.0),              // → dup_corpus rep 1
      60L -> vec(0 -> 0.26, 2 -> 1.0),   // ≈ now-stored 20 → dup_corpus
                                         //   rep 20 (kept in batch 1)
      70L -> vec(1 -> 0.25, 4 -> 1.0)))  // cell 2, ~0.06 vs 40 → kept

    val root = graft.Temps.dir("semantic-stream-root")
    SemanticStream.bootstrap(corpus, root)
    SemanticStream.ingestVectors(b1, root)
    SemanticStream.ingestVectors(b2, root)

    val man = Layout.readStatic(s, root, SemanticStream.ManifestEntity).get
    val got = man.select("vec_id", "status", "rep_id")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    val want = Map(
      10L -> ("dup_corpus", 1L), 20L -> ("kept", -1L),
      30L -> ("dup_batch", 20L), 40L -> ("kept", -1L),
      50L -> ("dup_corpus", 1L), 60L -> ("dup_corpus", 20L),
      70L -> ("kept", -1L))
    assert(got === want)

    // inverted file = corpus + every kept vector, nothing else
    val cells = Layout.readStatic(s, root, SemanticStream.CellsEntity).get
    assert(cells.select("id").as[Long].collect().toSet ===
      Set(1L, 2L, 20L, 40L, 70L))

    // replay: re-ingesting batch 2 recomputes identical statuses and
    // lands nothing new
    val before = cells.count() -> man.count()
    val replayed = SemanticStream.ingestVectors(b2, root)
    assert(replayed.select("vec_id", "status").as[(Long, String)]
      .collect().toMap ===
      Map(50L -> "dup_corpus", 60L -> "dup_corpus", 70L -> "kept"))
    val after =
      Layout.readStatic(s, root, SemanticStream.CellsEntity).get.count() ->
      Layout.readStatic(s, root, SemanticStream.ManifestEntity).get.count()
    assert(after === before)
  }

  test("residual gate: a cross-cell blend the dup probe cannot see " +
      "flips kept -> blend_suspect; novel rows and the fold unchanged") {
    val s = spark
    import s.implicits._
    // k = 3 seed centroids (ids 1..3 = e0, e1, e2); parents 4 and 5
    // carry a small e2 component so their AVERAGE assigns to cell 3 —
    // whose only member (e2) is < 0.3 from the blend — while each
    // parent's own cell is 1 resp. 2: the probe-local dup cosine at
    // p = 1 structurally never meets either parent.
    val corpus = df(Seq(
      1L -> vec(0 -> 1.0), 2L -> vec(1 -> 1.0), 3L -> vec(2 -> 1.0),
      4L -> vec(0 -> 0.25, 2 -> 0.2, 3 -> 0.95),   // parent A, cell 1
      5L -> vec(1 -> 0.25, 2 -> 0.2, 4 -> 0.95)))  // parent B, cell 2
    val blend = (0 until 6).map(i =>
      (vec(0 -> 0.25, 2 -> 0.2, 3 -> 0.95)(i) +
       vec(1 -> 0.25, 2 -> 0.2, 4 -> 0.95)(i)) / 2.0)
    val batch = df(Seq(100L -> blend, 200L -> vec(5 -> 1.0)))

    val ungated = graft.Temps.dir("semantic-residual-off")
    SemanticStream.bootstrap(corpus, ungated, k = 3)
    val manOff = SemanticStream.ingestVectors(batch, ungated)
      .select("vec_id", "status").as[(Long, String)].collect().toMap
    // the evasive case EXISTS: ungated, the blend lands kept
    assert(manOff === Map(100L -> "kept", 200L -> "kept"))

    val root = graft.Temps.dir("semantic-residual-on")
    SemanticStream.bootstrap(corpus, root, k = 3)
    val man = SemanticStream.ingestVectors(batch, root,
        residual = Some(0.6), residualProbes = 3)
      .select("vec_id", "status", "rep_id").collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    // widened-probe top-1 reaches parent A (cos ≈ 0.72, ties to B
    // broken by id): flagged with the parent attributed; the novel
    // direction (top-1 cosine 0 everywhere) is untouched
    assert(man === Map(
      100L -> ("blend_suspect", 4L), 200L -> ("kept", -1L)))
    // suspects are excluded from the index fold, keepers still land
    val cells = Layout.readStatic(s, root, SemanticStream.CellsEntity).get
      .select("id").as[Long].collect().toSet
    assert(cells === Set(1L, 2L, 3L, 4L, 5L, 200L))
  }

  test("ingestVectors leaves only its returned manifest persisted") {
    val corpus = df(Seq(1L -> vec(0 -> 1.0), 2L -> vec(1 -> 1.0)))
    val root = graft.Temps.dir("semantic-leak")
    SemanticStream.bootstrap(corpus, root)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val man = SemanticStream.ingestVectors(df(Seq(
      10L -> vec(0 -> 1.0), 20L -> vec(0 -> 0.25, 2 -> 1.0))), root)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before ===
      Set(graft.TestSpark.checkpointedRddId(man)))
  }

  test("a failed manifest write leaves no persisted RDD") {
    import java.nio.file.{Files, Paths}
    val corpus = df(Seq(1L -> vec(0 -> 1.0), 2L -> vec(1 -> 1.0)))
    val root = graft.Temps.dir("semantic-fail")
    SemanticStream.bootstrap(corpus, root)
    // a plain file where the manifest store should be: the commit fails
    Files.writeString(
      Paths.get(s"$root/static/${SemanticStream.ManifestEntity}"), "not a table")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](SemanticStream.ingestVectors(df(Seq(
      10L -> vec(0 -> 1.0), 20L -> vec(0 -> 0.25, 2 -> 1.0))), root))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "the failed ingest left persisted RDDs")
  }

  test("the queryTopK, Sq, Pq and Jl serve faces leave no persisted RDD") {
    val corpus = df((1L to 8L).map(i =>
      i -> vec((i % 6).toInt -> 1.0, ((i + 1) % 6).toInt -> 0.1 * i)))
    val root = graft.Temps.dir("semantic-serve-leak")
    SemanticStream.bootstrap(corpus, root, k = 2, withPq = true, pqM = 3,
      pqKsub = 4, withSq = true, withJl = true, jlDOut = 4)
    val q = df(Seq(500L -> vec(2 -> 1.0, 0 -> 0.1),
      510L -> vec(0 -> 1.0, 3 -> 0.1)))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val served = Seq(
      SemanticStream.queryTopK(q, root, topK = 2, nProbe = 2),
      SemanticStream.queryTopKSq(q, root, topK = 2, prefilterC = 4,
        nProbe = 2),
      SemanticStream.queryTopKPq(q, root, topK = 2, prefilterC = 4,
        nProbe = 2),
      SemanticStream.queryTopKJl(q, root, topK = 2, prefilterC = 4,
        nProbe = 2))
    served.foreach(r => assert(r.collect().nonEmpty))
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before === Set.empty)
    // the caller still holds the served frames while the check runs
    java.lang.ref.Reference.reachabilityFence(served)
  }
}

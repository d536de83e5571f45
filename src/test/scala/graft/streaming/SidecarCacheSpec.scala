package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sinks.Layout

/** The driver cache of frozen sidecars ([[Layout.frozenRows]]): the
  * codebook, PQ books, SQ grid and JL meta readers collect their entity
  * once and serve it again while its data-file listing is unchanged.
  * Pins (a) that a repeat read on an unchanged root starts no Spark job
  * and (b) that a retrain or a JL family rotation between two reads
  * makes the second read equal an uncached read of the new book. */
class SidecarCacheSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def vec(parts: (Int, Double)*): Seq[Double] = {
    val a = Array.fill(8)(0.0)
    parts.foreach { case (i, x) => a(i) = x }
    a.toSeq
  }

  private def corpus = {
    val s = spark
    import s.implicits._
    Seq(1L -> vec(0 -> 1.0), 2L -> vec(0 -> 1.0, 4 -> 0.2),
      3L -> vec(1 -> 1.0), 4L -> vec(1 -> 1.0, 5 -> 0.2),
      5L -> vec(2 -> 1.0), 6L -> vec(2 -> 1.0, 6 -> 0.2),
      7L -> vec(3 -> 1.0), 8L -> vec(3 -> 1.0, 7 -> 0.2))
      .toDF("vec_id", "embedding")
  }

  private def bootstrapped(name: String): String = {
    val root = graft.Temps.dir(name)
    SemanticStream.bootstrap(corpus, root, withPq = true, pqM = 4,
      pqKsub = 4, withSq = true, withJl = true, jlDOut = 4)
    root
  }

  /** The stored codebook, read past the cache. */
  private def uncachedCodebook(root: String) =
    graft.ops.SimSearch.collectCodebook(
      Layout.readStatic(spark, root, SemanticStream.CodebookEntity).get)

  /** The stored JL meta, read past the cache. */
  private def uncachedJlMeta(root: String) =
    Layout.readStatic(spark, root, SemanticStream.JlMetaEntity).get
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
      .headOption

  test("a repeat sidecar read on an unchanged root starts no job") {
    val root = bootstrapped("sidecar-hit")
    val reads: Seq[(String, () => Any)] = Seq(
      "liveCodebook" -> (() => SemanticStream.liveCodebook(spark, root)),
      "readBooks" -> (() => SemanticStream.readBooks(spark, root)),
      "readGrid" -> (() => SemanticStream.readGrid(spark, root)),
      "readJlMeta" -> (() => SemanticStream.readJlMeta(spark, root)))
    reads.foreach { case (name, read) =>
      val (cold, coldJobs) = TestSpark.jobsStartedBy(read())
      assert(coldJobs >= 1, s"$name: the first read started no job")
      val (warm, warmJobs) = TestSpark.jobsStartedBy(read())
      assert(warmJobs === 0, s"$name: the repeat read started a job")
      assert(warm === cold, s"$name: the repeat read changed its rows")
    }
    assert(SemanticStream.readBooks(spark, root).isDefined)
    assert(SemanticStream.readGrid(spark, root).isDefined)
  }

  test("after a retrain between two serves, the served codebook is the new book") {
    val root = bootstrapped("sidecar-retrain")
    val q = corpus.limit(2)
    SemanticStream.queryTopK(q, root, topK = 2).collect()
    val before = SemanticStream.liveCodebook(spark, root)._1
    SemanticStream.retrain(spark, root, k = 3)
    SemanticStream.queryTopK(q, root, topK = 2).collect()
    val after = SemanticStream.liveCodebook(spark, root)._1
    assert(after === uncachedCodebook(root))
    assert(after !== before, "the retrain did not change the book")
  }

  test("after a JL family rotation between two serves, the served meta is the new family") {
    val root = bootstrapped("sidecar-rotate")
    val q = corpus.limit(2)
    SemanticStream.queryTopKJl(q, root, topK = 2, prefilterC = 8).collect()
    val before = SemanticStream.readJlMeta(spark, root)
    SemanticStream.rotateJlFamily(spark, root, dOut = 6, seed = 7L)
    SemanticStream.queryTopKJl(q, root, topK = 2, prefilterC = 8).collect()
    val after = SemanticStream.readJlMeta(spark, root)
    assert(after === uncachedJlMeta(root))
    assert(after.map(m => (m._1, m._2)) === Some((6, 7L)))
    assert(after !== before)
  }
}

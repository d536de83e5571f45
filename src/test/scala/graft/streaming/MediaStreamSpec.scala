package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sinks.Layout

/** The online media-dedup contract ([[MediaStream]] — the r13
  * verdict's #2 ask): batches probe the MAINTAINED pHash quarters
  * index instead of re-hashing the corpus, with q218's keep-first
  * rule split by representative locality. Pins (a) statuses + rep
  * provenance + the kept-only index fold, (b) first-arrival-wins
  * across batches (a later smaller id dups to the stored larger id —
  * the [[CurateStream]] deviation note on the media face), (c) the
  * foreachBatch replay contract (re-ingesting an applied batch is a
  * row-wise no-op), (d) the file-source driver end to end, and (e)
  * compaction preserving rows while dropping the per-batch file
  * accumulation. */
class MediaStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // distinct text families; a one-byte variant stays within the
  // banded radius (MediaExprsSpec's ≤ 2-bit property) while families
  // are far apart
  private val alpha = "alpha document body " * 8
  private val alphaVar = "alphA document body " + ("alpha document body " * 7)
  private val omega = "omega payload chunk " * 8
  private val omegaVar = "omegA payload chunk " + ("omega payload chunk " * 7)
  private val omegaVar2 = "omegB payload chunk " + ("omega payload chunk " * 7)
  private val zz = "ZZZZ@@@@" * 24
  private val abc = ('a' to 'z').mkString * 6

  private def mediaDF(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    graft.ops.Multimodal.asMedia(rows.toDF("doc_id", "text"),
      "doc_id", "text")
  }

  private def manifestOf(root: String): Map[Long, (String, Option[Long])] =
    Layout.readStatic(spark, root, MediaStream.ManifestEntity).get
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap

  private def indexIds(root: String): Set[Long] =
    Layout.readStatic(spark, root, MediaStream.QuartersEntity).get
      .select("media_id").collect().map(_.getLong(0)).toSet

  test("statuses, rep provenance, kept-only fold, replay no-op") {
    val root = graft.Temps.dir("media-stream-root")
    MediaStream.bootstrap(mediaDF(Seq(10L -> alpha, 11L -> abc)), root)
    assert(indexIds(root) === Set(10L, 11L))

    val batch = mediaDF(Seq(
      20L -> zz,        // distinct family → kept
      21L -> alphaVar,  // near stored 10 → dup_corpus, rep 10
      5L -> omega,      // new family → kept
      22L -> omegaVar)) // near batch-mate 5 (smaller id) → dup_batch
    val man = MediaStream.ingestBatch(batch, root)
    val want = Map(
      20L -> ("kept", None), 5L -> ("kept", None),
      21L -> ("dup_corpus", Some(10L)), 22L -> ("dup_batch", Some(5L)))
    assert(manifestOf(root) === want)
    // only kept payloads joined the index
    assert(indexIds(root) === Set(10L, 11L, 20L, 5L))

    // replay: identical statuses (probes exclude the batch's own
    // landed quarters), every upsert a row-wise no-op
    val replayed = MediaStream.ingestBatch(batch, root)
    assert(replayed.collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap === want)
    assert(manifestOf(root) === want)
    assert(indexIds(root) === Set(10L, 11L, 20L, 5L))
    man.unpersist(); replayed.unpersist()
  }

  test("first-arrival-wins across batches: a later SMALLER id dups to the stored larger one") {
    val root = graft.Temps.dir("media-stream-faw")
    MediaStream.bootstrap(mediaDF(Seq(10L -> alpha)), root)
    MediaStream.ingestBatch(mediaDF(Seq(5L -> omega)), root).unpersist()
    // id 3 < 5, but 5 is CORPUS by now — the earlier arrival won
    val man = MediaStream.ingestBatch(mediaDF(Seq(3L -> omegaVar2)), root)
    assert(man.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((3L, "dup_corpus", 5L)))
    assert(indexIds(root) === Set(10L, 5L))
    man.unpersist()
  }

  test("file-source stream dedups micro-batches against the maintained index") {
    val s = spark
    val root = graft.Temps.dir("media-stream-drv")
    val rawDir = graft.Temps.dir("media-stream-raw")
    val ckpt = graft.Temps.dir("media-stream-ckpt")
    MediaStream.bootstrap(mediaDF(Seq(10L -> alpha)), root)
    val b1 = mediaDF(Seq(21L -> alphaVar, 5L -> omega))
    val b2 = mediaDF(Seq(3L -> omegaVar2, 30L -> zz))
    val q = MediaStream.run(s, rawDir, b1.schema, root, ckpt,
      compactEvery = 2)
    b1.coalesce(1).write.mode("append").parquet(rawDir)
    q.processAllAvailable()
    b2.coalesce(1).write.mode("append").parquet(rawDir)
    q.processAllAvailable()
    q.stop()
    assert(manifestOf(root) === Map(
      21L -> ("dup_corpus", Some(10L)), 5L -> ("kept", None),
      3L -> ("dup_corpus", Some(5L)), 30L -> ("kept", None)))
    assert(indexIds(root) === Set(10L, 5L, 30L))
  }

  test("compaction preserves rows while dropping the per-batch file accumulation") {
    val root = graft.Temps.dir("media-stream-compact")
    MediaStream.bootstrap(mediaDF(Seq(10L -> alpha)), root)
    (0 until 4).foreach { i =>
      MediaStream.ingestBatch(
        mediaDF(Seq((100L + i) -> (s"family$i payload chunk " * 8))), root)
        .unpersist()
    }
    def files(entity: String): Int = {
      val dir = java.nio.file.Path.of(s"$root/static/$entity")
      java.nio.file.Files.walk(dir).filter(_.toString.endsWith(".parquet"))
        .count().toInt
    }
    val rowsBefore = (indexIds(root), manifestOf(root))
    assert(files(MediaStream.QuartersEntity) >= 5, "one file per batch + seed")
    Seq(MediaStream.QuartersEntity, MediaStream.ManifestEntity)
      .foreach(Layout.compactStatic(spark, root, _))
    assert(files(MediaStream.QuartersEntity) === 1)
    assert(files(MediaStream.ManifestEntity) === 1)
    assert((indexIds(root), manifestOf(root)) === rowsBefore)
  }

  test("ingestBatch leaves only its returned manifest persisted") {
    val root = graft.Temps.dir("media-leak")
    MediaStream.bootstrap(mediaDF(Seq(10L -> alpha)), root)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val man = MediaStream.ingestBatch(
      mediaDF(Seq(20L -> zz, 21L -> alphaVar, 5L -> omega, 22L -> omegaVar)), root)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before ===
      Set(TestSpark.checkpointedRddId(man)))
  }

  test("a failed manifest write leaves no persisted RDD") {
    import java.nio.file.{Files, Paths}
    val root = graft.Temps.dir("media-fail")
    MediaStream.bootstrap(mediaDF(Seq(10L -> alpha)), root)
    // a plain file where the manifest store should be: the commit fails
    Files.writeString(
      Paths.get(s"$root/static/${MediaStream.ManifestEntity}"), "not a table")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](MediaStream.ingestBatch(
      mediaDF(Seq(20L -> zz, 21L -> alphaVar, 5L -> omega, 22L -> omegaVar)), root))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "the failed ingest left persisted RDDs")
  }
}

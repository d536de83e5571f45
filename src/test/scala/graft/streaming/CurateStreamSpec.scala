package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sinks.Layout

/** The online-curation contract: CurateIncrementalSpec's hand corpus
  * driven through [[CurateStream]] as TWO micro-batches over a real
  * file-source stream, pinning (a) every status lands with the stored
  * index probing exactly as q143's inline derivation, (b) the two
  * DOCUMENTED deviations from one-shot batch semantics when a dup
  * group straddles micro-batches — first-arrival-wins for exact dups,
  * and near-dup pairs reporting `dup_near_corpus` because the earlier
  * member is corpus by the time the later one arrives — and (c) the
  * foreachBatch replay contract: re-ingesting an already-applied batch
  * changes nothing, row-wise. */
class CurateStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Same quality-text construction as CurateIncrementalSpec: 45
    * unique tokens + 5 interleaved (never-adjacent) stopwords. */
  private def qtext(k: Int): String = {
    val stop = Seq("the", "a", "of", "and", "to")
    (0 until 45).flatMap(i =>
      if (i % 9 == 0) Seq(stop(i / 9), s"w${k}_$i") else Seq(s"w${k}_$i"))
      .mkString(" ")
  }

  private def docsDF(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src' AS source",
        "CAST(length(text) AS INT) AS n_chars")
  }

  test("file-source stream curates micro-batches against the maintained index") {
    val s = spark
    import s.implicits._
    val t1 = qtext(1); val t2 = qtext(2)
    val t3 = qtext(3); val t4 = qtext(4)
    // corpus (doc_id % 5 <> 0): mirrors CurateIncrementalSpec's
    val corpus = docsDF(Seq(
      1L -> t1,                 // exact twin of batch doc 0
      2L -> (t3 + " tail3"),    // near-dup partner of batch doc 15
      29L -> qtext(6)))         // bench member (29 % 29 = 0)
    // the q143 batch, split: %10=0 arrives first, %10=5 second
    val batchA = docsDF(Seq(
      0L -> t1,                 // exact corpus dup (and bench member —
                                //   exact precedence wins, as in q143)
      10L -> t2,                // its keep-best twin 5 arrives LATER:
                                //   10 is kept (first-arrival-wins)
      20L -> t4,                // near partner 25 arrives later: kept
      30L -> (qtext(7) + " w6_0 w6_1 w6_2 w6_3"), // bench-29 shingle
      40L -> qtext(8)))         // unique quality text
    val batchB = docsDF(Seq(
      5L -> t2,                 // exact twin of now-kept 10 →
                                //   dup_exact_corpus (batch said
                                //   dup_exact_batch and kept 5)
      15L -> t3,                // near corpus doc 2
      25L -> (t4 + " tail4"),   // near now-kept 20 → dup_near_corpus
                                //   (one-shot batch said dup_near_batch)
      35L -> "just three tokens", // low_quality
      145L -> qtext(9)))        // 145 % 29 = 0 → bench_member

    val root = graft.Temps.dir("curate-stream-root")
    val rawDir = graft.Temps.dir("curate-stream-raw")
    val ckpt = graft.Temps.dir("curate-stream-ckpt")
    CurateStream.bootstrap(corpus, root)

    // real file-source stream, one file per micro-batch, arrival order
    // forced by writing each file only after the previous drained
    val q = CurateStream.run(s, rawDir, batchA.schema, root, ckpt)
    batchA.coalesce(1).write.mode("append").parquet(rawDir)
    q.processAllAvailable()
    batchB.coalesce(1).write.mode("append").parquet(rawDir)
    q.processAllAvailable()
    q.stop()

    val manifest = Layout.readStatic(s, root, CurateStream.ManifestEntity).get
    val got = manifest.select("doc_id", "status")
      .as[(Long, String)].collect().toMap
    val want = Map(
      0L -> "dup_exact_corpus", 10L -> "kept", 20L -> "kept",
      30L -> "contaminated", 40L -> "kept",
      5L -> "dup_exact_corpus", 15L -> "dup_near_corpus",
      25L -> "dup_near_corpus", 35L -> "low_quality",
      145L -> "bench_member")
    assert(got === want)

    // index contents: kept docs' keys+sigs only; bench grew by the
    // batch members' shingles
    val keys = Layout.readStatic(s, root, CurateStream.KeysEntity).get
    assert(keys.select("doc_id").as[Long].collect().toSet ===
      Set(1L, 2L, 29L, 10L, 20L, 40L))

    // replay contract: re-ingesting batch B is a row-wise no-op — the
    // statuses recompute identically (probes exclude the batch's own
    // landed rows) and every upsert anti-joins to nothing
    val counts = Seq(CurateStream.KeysEntity, CurateStream.BandsEntity,
      CurateStream.BenchEntity, CurateStream.ManifestEntity)
      .map(e => Layout.readStatic(s, root, e).get.count())
    val replayed = CurateStream.ingestBatch(batchB, root)
    assert(replayed.select("doc_id", "status")
      .as[(Long, String)].collect().toMap === want.filter {
        case (id, _) => id % 10 == 5 })
    val countsAfter = Seq(CurateStream.KeysEntity, CurateStream.BandsEntity,
      CurateStream.BenchEntity, CurateStream.ManifestEntity)
      .map(e => Layout.readStatic(s, root, e).get.count())
    assert(countsAfter === counts)
  }

  test("compactEvery=1 stream: same statuses, file count pinned to 1/entity") {
    val s = spark
    import s.implicits._
    val t1 = qtext(1)
    val corpus = docsDF(Seq(1L -> t1, 29L -> qtext(6)))
    val batchA = docsDF(Seq(0L -> t1, 40L -> qtext(8)))
    val batchB = docsDF(Seq(15L -> qtext(3), 35L -> "just three tokens"))
    val root = graft.Temps.dir("curate-compact-root")
    val rawDir = graft.Temps.dir("curate-compact-raw")
    val ckpt = graft.Temps.dir("curate-compact-ckpt")
    CurateStream.bootstrap(corpus, root)
    val q = CurateStream.run(s, rawDir, batchA.schema, root, ckpt,
      compactEvery = 1)
    batchA.coalesce(1).write.mode("append").parquet(rawDir)
    q.processAllAvailable()
    batchB.coalesce(1).write.mode("append").parquet(rawDir)
    q.processAllAvailable()
    q.stop()
    val got = Layout.readStatic(s, root, CurateStream.ManifestEntity).get
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(got === Map(0L -> "dup_exact_corpus", 40L -> "kept",
      15L -> "kept", 35L -> "low_quality"))
    // every entity sits at exactly one data file after the last
    // batch's compaction window — the sawtooth floor
    val conf = s.sparkContext.hadoopConfiguration
    Seq(CurateStream.KeysEntity, CurateStream.BandsEntity,
      CurateStream.BenchEntity, CurateStream.ManifestEntity).foreach { e =>
      val p = new org.apache.hadoop.fs.Path(s"$root/static/$e")
      val it = p.getFileSystem(conf).listFiles(p, true)
      var n = 0
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      assert(n === 1, s"$e should be compacted to one file, saw $n")
    }
  }

  test("cert layer: maintained certificate ≡ kept-set recompute, replay no-op") {
    val s = spark
    import s.implicits._
    val t1 = qtext(1)
    val corpus = docsDF(Seq(1L -> t1, 2L -> qtext(2), 29L -> qtext(6)))
    val batchA = docsDF(Seq(0L -> t1, 40L -> qtext(8))) // 0 dup, 40 kept
    val batchB = docsDF(Seq(15L -> qtext(3), 35L -> "just three tokens"))
    val root = graft.Temps.dir("curate-cert-root")
    CurateStream.bootstrap(corpus, root, withCert = true)
    CurateStream.ingestBatch(batchA, root, certIndex = true)
    CurateStream.ingestBatch(batchB, root, certIndex = true)

    def certMap = CurateStream.certificate(s, root).get
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (sh, n, tk, x, xs) => sh -> ((n, tk, x, xs)) }.toMap
    // from-scratch recompute over the store's kept docs (bootstrap ∪
    // kept batch docs), same fingerprint algebra — including the
    // POSITION face: seq = per-shard rank in (arrival phase, doc_id)
    // order, exactly what the incremental prior-count assignment
    // produces
    import org.apache.spark.sql.functions._
    val keptDocs = corpus.withColumn("phase", lit(0))
      .unionByName(batchA.where($"doc_id" === 40L).withColumn("phase", lit(1)))
      .unionByName(batchB.where($"doc_id" === 15L).withColumn("phase", lit(2)))
    val fp = graft.functions.EvmExprs.tokenHashWide(
      concat($"doc_id".cast("string"), lit(":"),
        size(graft.ops.TextAnalysis.tokens($"text")).cast("string")))
    val h = graft.functions.EvmExprs.tokenHash($"doc_id".cast("string"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"phase", $"doc_id")
    val fps = graft.functions.EvmExprs.tokenHashWide(
      concat($"doc_id".cast("string"), lit(":"), $"seq".cast("string"),
        lit(":"), $"n_toks".cast("string")))
    val want = keptDocs
      .select($"doc_id", $"phase",
        size(graft.ops.TextAnalysis.tokens($"text")).cast("long").as("n_toks"),
        pmod(h, lit(CurateStream.CertShards.toLong)).as("shard"),
        fp.as("fp"))
      .withColumn("seq", row_number().over(w).cast("long") - 1L)
      .withColumn("fps", fps)
      .groupBy($"shard")
      .agg(count(lit(1)).as("n"), sum($"n_toks").as("tk"),
        expr("bit_xor(fp)").as("x"), expr("bit_xor(fps)").as("xs"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (sh, n, tk, x, xs) => sh -> ((n, tk, x, xs)) }.toMap
    val before = certMap
    assert(before === want)
    // replay: re-ingesting an applied batch lands the identical delta
    // rows — the anti-join absorbs them and the certificate is unchanged
    CurateStream.ingestBatch(batchB, root, certIndex = true)
    assert(certMap === before)
    val deltaRows = Layout.readStatic(s, root, CurateStream.CertEntity)
      .get.count()
    CurateStream.ingestBatch(batchA, root, certIndex = true)
    assert(Layout.readStatic(s, root, CurateStream.CertEntity).get.count()
      === deltaRows)
  }

  test("empty doc lands low_quality instead of killing the batch") {
    // zero tokens → stopword_ratio guard returns 0.0 (under Spark 4's
    // ANSI default the raw division ERRORS the whole micro-batch —
    // the r12 zero-denominator sweep; empty docs are routine crawl
    // input). The doc routes low_quality via n_toks < 40; batch-mates
    // are untouched.
    val root = graft.Temps.dir("curate-empty-doc")
    CurateStream.bootstrap(docsDF(Seq(1L -> qtext(1))), root)
    val man = CurateStream.ingestBatch(docsDF(Seq(
      60L -> "   ", 61L -> qtext(5))), root)
    val got = man.select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(60L) === "low_quality")
    assert(got(61L) === "kept")
  }

  test("cert position face: swapped arrival order flips seq_checksum, not membership") {
    // the r11 carried footnote ("covers membership+mass, not
    // position") closed and demonstrated: two stores ingest the SAME
    // two kept docs in opposite batch orders — the docs are chosen to
    // share a cert shard, so their arrival ranks swap. Membership
    // checksums (set face) must agree; seq_checksum (position face)
    // must differ on exactly that shard.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // find two fresh ids in the same shard (tokenHash is opaque; probe)
    val pool = (100L to 160L).toDF("doc_id")
      .select($"doc_id", pmod(
        graft.functions.EvmExprs.tokenHash($"doc_id".cast("string")),
        lit(CurateStream.CertShards.toLong)).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (idA, idB) = pool.groupBy(_._2).values.find(_.size >= 2)
      .map(g => (g(0)._1, g(1)._1)).get
    val corpus = docsDF(Seq(1L -> qtext(1)))
    val bA = docsDF(Seq(idA -> qtext(7)))
    val bB = docsDF(Seq(idB -> qtext(9)))
    def build(first: org.apache.spark.sql.DataFrame,
        second: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long, Long)] = {
      val root = graft.Temps.dir("curate-cert-order")
      CurateStream.bootstrap(corpus, root, withCert = true)
      CurateStream.ingestBatch(first, root, certIndex = true)
      CurateStream.ingestBatch(second, root, certIndex = true)
      CurateStream.certificate(s, root).get
        .as[(Long, Long, Long, Long, Long)].collect()
        .map { case (sh, n, tk, x, xs) => sh -> ((n, tk, x, xs)) }.toMap
    }
    val ab = build(bA, bB)
    val ba = build(bB, bA)
    val shard = pool.find(_._1 == idA).get._2
    // set face: identical everywhere
    assert(ab.view.mapValues(v => (v._1, v._2, v._3)).toMap
      === ba.view.mapValues(v => (v._1, v._2, v._3)).toMap)
    // position face: differs on the shared shard, agrees elsewhere
    assert(ab(shard)._4 !== ba(shard)._4,
      s"seq_checksum blind to arrival order on shard $shard")
    assert((ab - shard).view.mapValues(_._4).toMap
      === (ba - shard).view.mapValues(_._4).toMap)
  }

  test("a failed index chain fails the ingest after every chain settled, before the manifest") {
    import java.nio.file.{Files, Paths}
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    def rows(root: String, entity: String) =
      Layout.readStatic(spark, root, entity).map(_.collect().toSet)
    val corpus = docsDF(Seq(1L -> qtext(1), 2L -> qtext(2), 29L -> qtext(6)))
    // kept docs (40, 50), an exact corpus dup (0) and a bench member
    // (58): the keys, bands, bench, postings and dl chains all write
    val batch = docsDF(Seq(0L -> qtext(1), 40L -> qtext(8), 50L -> qtext(9),
      58L -> qtext(10)))
    val entities = Seq(CurateStream.KeysEntity, CurateStream.BandsEntity,
      CurateStream.BenchEntity, CurateStream.PostingsEntity,
      CurateStream.DlEntity, CurateStream.ManifestEntity)

    val clean = graft.Temps.dir("curate-fail-clean")
    CurateStream.bootstrap(corpus, clean)
    val cleanMan = {
      val m = CurateStream.ingestBatch(batch, clean, lexIndex = true)
      try m.collect().toSet finally graft.Checkpoints.release(m)
    }

    // a plain file where the postings store should be: that chain fails
    // at its first read, long before its siblings finish writing
    val root = graft.Temps.dir("curate-fail")
    CurateStream.bootstrap(corpus, root)
    val obstacle = Paths.get(s"$root/static/${CurateStream.PostingsEntity}")
    Files.writeString(obstacle, "not a table")
    val before = persisted
    intercept[Exception](CurateStream.ingestBatch(batch, root, lexIndex = true))
    assert((persisted -- before).isEmpty, "the failed ingest left persisted RDDs")
    assert(rows(root, CurateStream.ManifestEntity).forall(_.isEmpty),
      "manifest rows landed although an index chain failed")
    // it threw only after the sibling chains settled: each landed in full
    for (e <- Seq(CurateStream.KeysEntity, CurateStream.BandsEntity,
        CurateStream.BenchEntity, CurateStream.DlEntity))
      assert(rows(root, e) === rows(clean, e), s"$e unsettled")

    // obstacle gone: the re-run equals a clean run, entity by entity
    Files.delete(obstacle)
    val man = CurateStream.ingestBatch(batch, root, lexIndex = true)
    assert(man.collect().toSet === cleanMan)
    for (e <- entities) assert(rows(root, e) === rows(clean, e), e)
  }

  test("ingestBatch leaves only its returned manifest persisted") {
    val corpus = docsDF(Seq(1L -> qtext(1), 2L -> qtext(2), 29L -> qtext(6)))
    val root = graft.Temps.dir("curate-leak")
    // every per-batch checkpoint armed: the span layer and the sharded
    // sketch's exact-dup probe
    CurateStream.bootstrap(corpus, root, withSpans = true,
      withSketch = true, sketchShards = 2)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val man = CurateStream.ingestBatch(docsDF(Seq(0L -> qtext(1),
      40L -> qtext(8), 41L -> (qtext(8) + " tail"))), root, spanGate = true)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before ===
      Set(graft.TestSpark.checkpointedRddId(man)))
  }
}

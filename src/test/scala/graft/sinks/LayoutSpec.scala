package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Scale-behavior checks on the partitioned layout: block-bucket
  * partition PRUNING must reach the file index (a filtered read of a
  * 100 TB table must touch only its buckets). */
class LayoutSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("dynamic layout prunes partitions on block_bucket filters") {
    import spark.implicits._
    val out = graft.Temps.dir("layout")
    // blocks across 3 buckets (0, 1, 2)
    val rows = Seq(5000L, 15000L, 25000L).flatMap(b =>
      (0 until 10).map(i => (b + i, s"tx$b-$i")))
      .toDF("block_number", "tx_hash")
    Layout.writeDynamic(rows, out, "txs")

    val read = spark.read.parquet(s"$out/dynamic/txs")
      .where(col("block_bucket") === 1L)
    val plan = read.queryExecution.executedPlan.toString
    assert(read.count() === 10)
    // partition filter must appear in the scan, not a post-scan Filter
    assert(plan.contains("PartitionFilters") &&
      plan.contains("block_bucket"), s"no partition pruning in:\n$plan")
    // the scan's file listing only includes bucket 1
    val files = read.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files.map(_.getPath.toString))
    }.flatten
    assert(files.nonEmpty && files.forall(_.contains("block_bucket=1")),
      s"unpruned files: $files")
  }

  test("N-Quad similarity lines match the reference format byte-exactly") {
    import spark.implicits._
    // similarities.rs:292: "<{}> <Skeleton.similar_code> <{}> (similarity={:.4}) ."
    val pairs = Seq(("0xaaa", "0xbbb", 0.75), ("0xccc", "0xddd", 0.123456))
      .toDF("a_id", "b_id", "similarity")
    val got = Layout.nquadLines(pairs).as[String].collect().sorted
    assert(got === Array(
      "<0xaaa> <Skeleton.similar_code> <0xbbb> (similarity=0.7500) .",
      "<0xbbb> <Skeleton.similar_code> <0xaaa> (similarity=0.7500) .",
      "<0xccc> <Skeleton.similar_code> <0xddd> (similarity=0.1235) .",
      "<0xddd> <Skeleton.similar_code> <0xccc> (similarity=0.1235) .").sorted)
    // and the text sink round-trips the same lines
    val out = graft.Temps.dir("nquads")
    Layout.writeNQuads(pairs, out)
    val back = spark.read.text(out).as[String].collect().sorted
    assert(back === got)
  }

  test("json.gz bulk-load shards carry the reference's <entity>_<n> names") {
    import spark.implicits._
    val out = graft.Temps.dir("jsongz-named")
    val df = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(3) // force multiple shards
    Layout.writeJsonGzNamed(df, out, "skeletons")
    val names = new java.io.File(s"$out/skeletons").list().toSeq
      .filter(_.endsWith(".json.gz")).sorted
    assert(names === Seq("skeletons_0.json.gz", "skeletons_1.json.gz", "skeletons_2.json.gz"),
      s"got $names")
    // content survives the rename
    val back = spark.read.schema("k BIGINT, v STRING").json(s"$out/skeletons")
    assert(back.count() === 100)
  }

  test("generated Dgraph schema covers every entity field with mapped types") {
    val schema = graft.domain.Schemas.dgraphSchema
    val lines = schema.trim.split("\n").toSet
    // one predicate line per (entity, field)
    val expected = graft.domain.Schemas.entities
      .map { case (e, st) => (e, st.fields.length) }.toMap
    graft.domain.Schemas.entities.foreach { case (e, st) =>
      assert(lines.count(_.startsWith(s"$e.")) === st.fields.length, e)
    }
    // spot-check the type mapping + upsert indexes on natural keys
    assert(lines.contains("blocks.number: int @index(int) @upsert ."), lines)
    assert(lines.contains("accounts.address: string @index(hash) @upsert ."))
    assert(lines.contains("blocks.withdrawals: [uid] ."))
    assert(lines.contains("transactions.value: string .")) // uint256 decimal string
    assert(lines.contains("blocks.gas_price_avg: float ."))
    assert(lines.contains("blocks.datetime: dateTime ."))
    // the artifact lands next to the shards
    val out = graft.Temps.dir("schema-artifact")
    Layout.writeDgraphSchema(spark, out)
    val onDisk = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/contracts.schema")))
    assert(onDisk === schema)
  }

  test("upsertStatic: natural-key append-if-absent (the Dgraph-upsert invariant)") {
    import spark.implicits._
    val out = graft.Temps.dir("upsert-static")
    val first = Seq(("0xaa", 1L), ("0xbb", 2L)).toDF("signature", "v")
    Layout.upsertStatic(first, out, "sigs", Seq("signature"))
    // replay: identical rows, nothing lands twice
    Layout.upsertStatic(first, out, "sigs", Seq("signature"))
    val afterReplay = spark.read.parquet(s"$out/static/sigs")
    assert(afterReplay.count() === 2)
    // a later batch: known keys skipped EVEN WITH different payloads
    // (first write wins — add-only by key, like the reference's upsert
    // identity), new keys appended
    val second = Seq(("0xbb", 99L), ("0xcc", 3L)).toDF("signature", "v")
    Layout.upsertStatic(second, out, "sigs", Seq("signature"))
    val rows = spark.read.parquet(s"$out/static/sigs")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows === Map("0xaa" -> 1L, "0xbb" -> 2L, "0xcc" -> 3L))
    // composite keys: both columns participate in the identity
    val out2 = graft.Temps.dir("upsert-static2")
    val w1 = Seq((700L, 0L, "a"), (700L, 1L, "b")).toDF("block_number", "index", "p")
    Layout.upsertStatic(w1, out2, "wd", Seq("block_number", "index"))
    val w2 = Seq((700L, 1L, "dup"), (701L, 0L, "c")).toDF("block_number", "index", "p")
    Layout.upsertStatic(w2, out2, "wd", Seq("block_number", "index"))
    assert(spark.read.parquet(s"$out2/static/wd").count() === 3)
  }

  test("upsertStatic flipProbe: identical append set, null keys included") {
    // the flipped probe (store SEMI broadcast(incoming keys) → anti
    // against the hit set) must land exactly the rows the plain
    // anti-join lands — including the null-safe-equality corner where
    // a null key must still match its stored twin
    import spark.implicits._
    val out = graft.Temps.dir("upsert-flip")
    val first = Seq((Some("0xaa"), 1L), (None, 2L))
      .toDF("signature", "v")
    Layout.upsertStatic(first, out, "sigs", Seq("signature"),
      flipProbe = true)
    // replay with the flip: nothing lands twice, null key matches itself
    Layout.upsertStatic(first, out, "sigs", Seq("signature"),
      flipProbe = true)
    assert(spark.read.parquet(s"$out/static/sigs").count() === 2)
    // later batch: known keys (incl. the null) skipped even with new
    // payloads, new key appended — first-write-wins like the plain path
    val second = Seq((None, 99L), (Some("0xcc"), 3L))
      .toDF("signature", "v")
    Layout.upsertStatic(second, out, "sigs", Seq("signature"),
      flipProbe = true)
    val rows = spark.read.parquet(s"$out/static/sigs")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(rows === Map(Some("0xaa") -> 1L, None -> 2L, Some("0xcc") -> 3L))
  }

  test("upsertStaticReplace: incoming keys replace torn partial rows") {
    import spark.implicits._
    val out = graft.Temps.dir("upsert-replace")
    // a crashed append landed only 1 of k1's 3 rows (torn job commit)
    val torn = Seq(("k1", "f_a")).toDF("skeleton_hash", "name")
    torn.write.parquet(s"$out/static/abi")
    // replay re-derives k1's FULL row set (plus a new skeleton k2):
    // replace-by-key must drop the partial half, not dedup against it
    val full = Seq(("k1", "f_a"), ("k1", "f_b"), ("k1", "f_c"), ("k2", "g_a"))
      .toDF("skeleton_hash", "name")
    Layout.upsertStaticReplace(full, out, "abi", Seq("skeleton_hash"))
    val rows = spark.read.parquet(s"$out/static/abi")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows === Set(("k1", "f_a"), ("k1", "f_b"), ("k1", "f_c"), ("k2", "g_a")))
    // untouched keys survive the rewrite
    val more = Seq(("k3", "h_a")).toDF("skeleton_hash", "name")
    Layout.upsertStaticReplace(more, out, "abi", Seq("skeleton_hash"))
    assert(spark.read.parquet(s"$out/static/abi").count() === 5)
  }

  test("swap recovery: a complete swap next to a missing table is promoted") {
    import spark.implicits._
    val out = graft.Temps.dir("swap-recover")
    Layout.mergeStatic(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), out, "dim",
      all => all.groupBy(col("k")).agg(max(col("v")).as("v")))
    // simulate the crash window between overwriteStaticAtomic's delete
    // and rename: the committed table sits under the swap name, the
    // destination is gone
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$out/static/dim"),
      new org.apache.hadoop.fs.Path(s"$out/static/.dim__swap")))
    // the WRITER-side guarded read recovers it — nothing was lost
    val back = Layout.readStatic(spark, out, "dim", recover = true)
    assert(back.isDefined && back.get.count() === 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/static/.dim__swap")))
    // ...and a stale swap next to an INTACT table is debris: deleted,
    // table untouched
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$out/static/.dim__swap/junk"))
    assert(Layout.readStatic(spark, out, "dim", recover = true).get.count() === 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/static/.dim__swap")))
  }

  test("swap recovery: an uncommitted swap rolls the parked old table back") {
    import spark.implicits._
    // the between-renames crash with _SUCCESS markers DISABLED (common
    // object-store tuning): dst renamed aside, swap complete but
    // unmarked — recovery must restore the parked copy, never delete
    // both
    val out = graft.Temps.dir("swap-rollback")
    Layout.mergeStatic(Seq(("a", 1L)).toDF("k", "v"), out, "dim",
      all => all.groupBy(col("k")).agg(max(col("v")).as("v")))
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(fs.rename(p(s"$out/static/dim"), p(s"$out/static/.dim__old")))
    fs.mkdirs(p(s"$out/static/.dim__swap"))
    fs.create(p(s"$out/static/.dim__swap/part-x.parquet"), true).close()
    // no _SUCCESS in the swap -> the parked old table wins
    val back = Layout.readStatic(spark, out, "dim", recover = true)
    assert(back.isDefined && back.get.count() === 1, "old table not restored")
    assert(!fs.exists(p(s"$out/static/.dim__swap")))
    assert(!fs.exists(p(s"$out/static/.dim__old")))
  }

  test("crash-kill matrix: every overwriteStaticAtomic kill point recovers to a full table") {
    import spark.implicits._
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def fsOf(out: String) = p(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def t1(out: String): Unit = Layout.mergeStatic(
      Seq(("a", 1L)).toDF("k", "v"), out, "dim",
      all => all.groupBy(col("k")).agg(max(col("v")).as("v")))
    def tableV(out: String): Long = spark.read.parquet(s"$out/static/dim")
      .collect().map(_.getLong(1)).max
    // T2 = the merged result {a -> 5}, written as a swap artifact
    def writeSwap(out: String, committed: Boolean): Unit = {
      Seq(("a", 5L)).toDF("k", "v").write.parquet(Layout.swapDir(out, "dim"))
      val fs = fsOf(out)
      assert(fs.exists(p(Layout.swapDir(out, "dim") + "/_SUCCESS")))
      if (!committed) fs.delete(p(Layout.swapDir(out, "dim") + "/_SUCCESS"), false)
    }
    def recover(out: String): Unit =
      Layout.readStatic(spark, out, "dim", recover = true)

    // A: killed after the swap write, before any rename — dst live,
    // committed swap is debris (pre-merge table + replayed merge redo it)
    locally {
      val out = graft.Temps.dir("kill-a"); t1(out); writeSwap(out, committed = true)
      recover(out)
      assert(tableV(out) === 1L)
      assert(!fsOf(out).exists(p(Layout.swapDir(out, "dim"))))
      // the replayed merge completes to T2
      Layout.mergeStatic(Seq(("a", 5L)).toDF("k", "v"), out, "dim",
        all => all.groupBy(col("k")).agg(max(col("v")).as("v")))
      assert(tableV(out) === 5L)
    }
    // B: killed between the renames, swap committed — swap promotes
    locally {
      val out = graft.Temps.dir("kill-b"); t1(out); writeSwap(out, committed = true)
      val fs = fsOf(out)
      assert(fs.rename(p(s"$out/static/dim"), p(Layout.oldDir(out, "dim"))))
      recover(out)
      assert(tableV(out) === 5L)
      assert(!fs.exists(p(Layout.oldDir(out, "dim"))))
      assert(!fs.exists(p(Layout.quarantineDir(out, "dim"))))
    }
    // C: killed between the renames, marker DISABLED — old rolls back
    // and the unmarked swap (possibly the only copy of the merge) is
    // QUARANTINED with its rows intact, never deleted
    locally {
      val out = graft.Temps.dir("kill-c"); t1(out); writeSwap(out, committed = false)
      val fs = fsOf(out)
      assert(fs.rename(p(s"$out/static/dim"), p(Layout.oldDir(out, "dim"))))
      recover(out)
      assert(tableV(out) === 1L, "parked old table not restored")
      assert(!fs.exists(p(Layout.swapDir(out, "dim"))))
      val q = spark.read.parquet(Layout.quarantineDir(out, "dim"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(q.toSeq === Seq(("a", 5L)), "quarantined merge not readable")
      // …and a resumed merge over a DIFFERENT range re-ingests the
      // quarantine: the crashed batch's contribution (a -> 5) rides
      // back in alongside the new batch, then the quarantine is gone
      Layout.mergeStatic(Seq(("b", 7L)).toDF("k", "v"), out, "dim",
        all => all.groupBy(col("k")).agg(max(col("v")).as("v")))
      val merged = spark.read.parquet(s"$out/static/dim")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(merged === Map("a" -> 5L, "b" -> 7L),
        "quarantined contribution lost on different-range resume")
      assert(!fs.exists(p(Layout.quarantineDir(out, "dim"))),
        "consumed quarantine not cleaned up")
    }
    // D: killed after promotion, before cleanup — old is debris
    locally {
      val out = graft.Temps.dir("kill-d"); t1(out)
      val fs = fsOf(out)
      assert(fs.rename(p(s"$out/static/dim"), p(Layout.oldDir(out, "dim"))))
      Seq(("a", 5L)).toDF("k", "v").write.parquet(s"$out/static/dim")
      recover(out)
      assert(tableV(out) === 5L)
      assert(!fs.exists(p(Layout.oldDir(out, "dim"))))
    }
    // E: a PLAIN reader inside a healthy writer's between-renames
    // window reads the parked copy and mutates nothing
    locally {
      val out = graft.Temps.dir("kill-e"); t1(out); writeSwap(out, committed = true)
      val fs = fsOf(out)
      assert(fs.rename(p(s"$out/static/dim"), p(Layout.oldDir(out, "dim"))))
      val seen = Layout.readStatic(spark, out, "dim") // recover = false
      assert(seen.isDefined && seen.get.collect().map(_.getLong(1)).toSeq === Seq(1L),
        "reader did not fall back to the parked copy")
      assert(fs.exists(p(Layout.oldDir(out, "dim"))), "reader mutated writer state")
      assert(fs.exists(p(Layout.swapDir(out, "dim"))), "reader mutated writer state")
    }
  }

  test("upsertStatic: schema evolution rewrites to a single-schema store") {
    import spark.implicits._
    val out = graft.Temps.dir("upsert-evolve")
    Layout.upsertStatic(Seq(("0xaa", 1L)).toDF("signature", "v"),
      out, "sigs", Seq("signature"))
    // a newer build adds a column: a blind append would leave a
    // mixed-footer directory where plain reads can silently drop the
    // column — the upsert must pay one rewrite instead
    val widened = Seq(("0xbb", 2L, "src")).toDF("signature", "v", "extra")
    Layout.upsertStatic(widened, out, "sigs", Seq("signature"))
    val rows = spark.read.parquet(s"$out/static/sigs")
    assert(rows.columns.toSet === Set("signature", "v", "extra"))
    val byKey = rows.collect()
      .map(r => r.getString(0) -> Option(r.getString(2))).toMap
    assert(byKey === Map("0xaa" -> None, "0xbb" -> Some("src")))
    // known keys still skipped after evolution; columns stay unified
    Layout.upsertStatic(Seq(("0xbb", 99L, "x")).toDF("signature", "v", "extra"),
      out, "sigs", Seq("signature"))
    assert(spark.read.parquet(s"$out/static/sigs").count() === 2)
  }

  test("readStatic: a footer-less directory (crashed first write) reads as absent") {
    import spark.implicits._
    val out = graft.Temps.dir("footerless")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a run killed during its first write leaves only _temporary debris
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$out/static/sigs/_temporary/0"))
    assert(Layout.readStatic(spark, out, "sigs").isEmpty)
    // the advertised idempotent re-run must RESUME over it, not die on
    // UNABLE_TO_INFER_SCHEMA
    val rows = Seq(("0xaa", 1L)).toDF("signature", "v")
    Layout.upsertStatic(rows, out, "sigs", Seq("signature"))
    assert(spark.read.parquet(s"$out/static/sigs").count() === 1)
  }

  test("readStatic: an existing store plans from the driver-side footer, starting no job") {
    import spark.implicits._
    val out = graft.Temps.dir("read-nojob")
    Layout.writeStatic(Seq(("0xaa", 1L), ("0xbb", 2L)).toDF("signature", "v")
      .repartition(2), out, "sigs")
    val (read, jobs) = TestSpark.jobsStartedBy(Layout.readStatic(spark, out, "sigs"))
    assert(jobs === 0, "readStatic started a Spark job")
    assert(read.get.as[(String, Long)].collect().toSet ===
      Set(("0xaa", 1L), ("0xbb", 2L)))
    // the probe sees inference jobs: a plain read of the same store
    // infers its schema with one
    val (_, plainJobs) = TestSpark.jobsStartedBy(spark.read.parquet(s"$out/static/sigs"))
    assert(plainJobs >= 1, "the job probe counted no inference job")
  }

  test("readStatic: the footer schema equals Spark's inferred schema") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("amount", DecimalType(38, 18)),
      StructField("price", DecimalType(9, 2), nullable = false),
      StructField("ts", TimestampType),
      StructField("ts_ntz", TimestampNTZType),
      StructField("tags", ArrayType(StringType, containsNull = true)),
      StructField("calls", ArrayType(StructType(Seq(
        StructField("sig", StringType, nullable = false),
        StructField("args", ArrayType(LongType, containsNull = false)),
        StructField("meta", MapType(StringType, DoubleType)))),
        containsNull = false)),
      StructField("note", StringType)))
    val rows = Seq(
      Row(1L, new java.math.BigDecimal("1.000000000000000001"),
        new java.math.BigDecimal("9.99"),
        java.sql.Timestamp.valueOf("2021-01-01 00:00:00.123456"),
        java.time.LocalDateTime.parse("2021-01-01T00:00:00.5"),
        Seq("a", null), Seq(Row("0xab", Seq(1L, 2L), Map("w" -> 0.5))), null),
      Row(2L, null, new java.math.BigDecimal("0.01"), null, null, null,
        Seq.empty[Row], "x"))
    val out = graft.Temps.dir("read-schema")
    Layout.writeStatic(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema), out, "mixed")
    val got = Layout.readStatic(spark, out, "mixed").get
    val inferred = spark.read.parquet(s"$out/static/mixed")
    assert(got.schema === inferred.schema)
    assert(got.collect().toSet === inferred.collect().toSet)
  }

  test("fanout: a reused pool thread runs its chain under the submitter's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"fanout-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      // a chain submitted under group `a` leaves an idle pool thread
      // that inherited `a` when it was created
      sc.setJobGroup(s"$tag-a", s"$tag-a")
      Layout.fanout(Seq(() => ()))
      Thread.sleep(500) // the thread is back in the pool, so it is reused
      sc.setJobGroup(s"$tag-b", s"$tag-b")
      Layout.fanout(Seq(() => { sc.parallelize(Seq(1), 1).count(); () }))
      // the listener bus delivers in order: once this thread's sentinel
      // job is seen, the chain's job has been counted
      sc.setJobGroup(s"$tag-sentinel", s"$tag-sentinel")
      sc.parallelize(Seq(1), 1).count()
      def groups = seen.toArray(Array.empty[(String, String)]).toSeq
        .filter(g => g._1 != null && g._1.startsWith(tag))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.exists(_._1 == s"$tag-sentinel") &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups === Seq((s"$tag-b", s"$tag-b"),
        (s"$tag-sentinel", s"$tag-sentinel")))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("fanout: chains that rethrow one shared failure rethrow that instance") {
    val shared = new IllegalStateException("derivation failed")
    val ran = new java.util.concurrent.atomic.AtomicInteger
    val thrown = intercept[IllegalStateException] {
      Layout.fanout(Seq(() => throw shared, () => { ran.incrementAndGet(); () },
        () => throw shared))
    }
    assert(thrown eq shared)
    assert(thrown.getSuppressed.isEmpty)
    assert(ran.get === 1, "the healthy chain did not run")
    // distinct failures still ride along as suppressed
    val other = new RuntimeException("sink failed")
    val both = intercept[RuntimeException] {
      Layout.fanout(Seq(() => throw shared, () => throw other, () => throw shared))
    }
    assert(both eq shared)
    assert(both.getSuppressed.toSeq === Seq(other))
  }

  test("footerRows: equals count() on static and bucketed dynamic dirs, 0 when absent") {
    import spark.implicits._
    val out = graft.Temps.dir("footer-rows")
    // a static store of several files from two appends
    Layout.writeStatic((0 until 50).map(i => (s"0x$i", i.toLong)).toDF("signature", "v")
      .repartition(3), out, "sigs")
    Layout.writeStatic((50 until 57).map(i => (s"0x$i", i.toLong)).toDF("signature", "v"),
      out, "sigs")
    val static = s"$out/static/sigs"
    val (rows, jobs) = TestSpark.jobsStartedBy(Layout.footerRows(spark, static))
    assert(jobs === 0, "footerRows started a Spark job")
    assert(rows === 57L)
    assert(rows === spark.read.parquet(static).count())
    // a dynamic store across three block_bucket partitions
    Layout.writeDynamic(Seq(5000L, 15000L, 25000L).flatMap(b =>
      (0 until 10 + (b / 10000L).toInt).map(i => (b + i, s"tx$b-$i")))
      .toDF("block_number", "tx_hash"), out, "txs")
    val dynamic = s"$out/dynamic/txs"
    assert(Layout.footerRows(spark, dynamic) === 33L)
    assert(Layout.footerRows(spark, dynamic) === spark.read.parquet(dynamic).count())
    // missing, and footer-less (a first write killed before its commit)
    assert(Layout.footerRows(spark, s"$out/static/missing") === 0L)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$out/static/torn/_temporary/0"))
    fs.create(new org.apache.hadoop.fs.Path(s"$out/static/torn/_SUCCESS")).close()
    assert(Layout.footerRows(spark, s"$out/static/torn") === 0L)
  }

  test("bucket arithmetic: 10k blocks per partition") {
    import spark.implicits._
    val b = Layout.withBlockBucket(Seq(0L, 9999L, 10000L, 123456789L).toDF("block_number"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) === 0L && b(9999L) === 0L && b(10000L) === 1L && b(123456789L) === 12345L)
  }
}

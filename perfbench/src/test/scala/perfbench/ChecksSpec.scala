package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.RpcStub

/** Each correctness check passes on a faithful output and fails on a
  * corrupted one. */
class ChecksSpec extends AnyFunSuite {

  /** Landed counts of an extract over [from, to] that skipped `dropped`. */
  private def landedWithout(from: Long, to: Long, dropped: Long): Map[String, Long] = {
    val whole = Checks.expectedExtractCounts(from, to)
    val alone = Checks.expectedExtractCounts(dropped, dropped)
    whole.map { case (k, v) => k -> (if (k == "skeletons") v else v - alone(k)) }
  }

  test("extract counts pass when every block landed") {
    val want = Checks.expectedExtractCounts(1000L, 1199L)
    assert(Checks.extractCounts(want, want).isEmpty)
  }

  test("extract counts fail on a dropped block") {
    val want = Checks.expectedExtractCounts(1000L, 1199L)
    // block 1012 has 1012 % 13 = 11 transactions, so every per-tx entity moves
    val problems = Checks.extractCounts(landedWithout(1000L, 1199L, 1012L), want)
    assert(problems.exists(_.startsWith("extract blocks:")))
    assert(problems.exists(_.startsWith("extract transactions:")))
  }

  test("extract counts fail on fetch failures and on a missing entity") {
    val want = Checks.expectedExtractCounts(5L, 9L)
    assert(Checks.extractCounts(want + ("fetch_failures" -> 2L), want).nonEmpty)
    assert(Checks.extractCounts(want - "logs", want).exists(_.contains("landed nothing")))
  }

  test("the closed form follows the stub node's per-block rules") {
    val c = Checks.expectedExtractCounts(26L, 26L) // 26 % 13 = 0: an empty block
    assert(c("blocks") == 1 && c("transactions") == 0 && c("withdrawals") == 26 % 5)
    val d = Checks.expectedExtractCounts(12L, 12L) // 12 transactions
    assert(d("transactions") == RpcStub.txCountOf(12L))
    assert(d("transfers") == 6 && d("deployments") == 3 && d("destructions") == 3)
  }

  test("analyse counts fail when the reported counts disagree with the landed outputs") {
    assert(Checks.analyseCounts(lives = 10, distinctContracts = 10, pairs = 3, nquadLines = 6).isEmpty)
    assert(Checks.analyseCounts(9, 10, 3, 6).nonEmpty)
    assert(Checks.analyseCounts(10, 10, 3, 5).nonEmpty)
  }

  test("status check fails on a missing, a doubled or an unexpected status row") {
    val ingested = Seq(1L, 2L, 3L)
    assert(Checks.oneStatusEach("doc", ingested, Seq(3L, 1L, 2L)).isEmpty)
    assert(Checks.oneStatusEach("doc", ingested, Seq(1L, 3L)) == Seq("doc 2 has 0 status rows"))
    assert(Checks.oneStatusEach("doc", ingested, Seq(1L, 2L, 2L, 3L)) == Seq("doc 2 has 2 status rows"))
    assert(Checks.oneStatusEach("doc", ingested, Seq(1L, 2L, 3L, 9L)).nonEmpty)
  }

  test("top-k check fails on a short answer and on an unstored id") {
    val stored = Set(10L, 11L, 12L, 13L)
    val full = Seq(1L -> 10L, 1L -> 11L, 2L -> 12L, 2L -> 13L)
    assert(Checks.topK("topk", Seq(1L, 2L), full, 2, stored).isEmpty)
    assert(Checks.topK("topk", Seq(1L, 2L), full.dropRight(1), 2, stored) ==
      Seq("topk: query 2 got 1 rows, wants 2"))
    assert(Checks.topK("topk", Seq(1L, 2L, 3L), full, 2, stored) ==
      Seq("topk: query 3 got 0 rows, wants 2"))
    assert(Checks.topK("topk", Seq(1L, 2L), full.updated(0, 1L -> 99L), 2, stored) ==
      Seq("topk: query 1 returned unstored id 99"))
  }
}

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.tail(xs)._1 == 95.0) // 200 * 0.05 = 10 samples beyond p95
    assert(Stats.tail((1 to 40).map(_.toDouble))._1 == 75.0)
    assert(Stats.tail((1 to 5).map(_.toDouble)) == (50.0, 3.0))
  }

  test("interval union counts overlaps once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.clip(Seq((0L, 10L)), Seq((2L, 4L), (6L, 20L))) == Seq((2L, 4L), (6L, 10L)))
  }
}

class LayersSpec extends AnyFunSuite {

  private def layerOf(details: String): String = Layers.attribute(details)._2

  test("a job belongs to the innermost graft frame of its call site") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:800)",
      "graft.sinks.Layout$.upsertStatic(Layout.scala:280)",
      "graft.streaming.CurateStream$.$anonfun$ingestBatch$7(CurateStream.scala:660)",
      "graft.Sessions$.labeled(Sessions.scala:70)",
      "perfbench.Workloads$.curateServe(Workloads.scala:200)").mkString("\n")
    assert(layerOf(site) == "sinks")
    assert(layerOf("graft.Sessions$.labeled(Sessions.scala:70)\n" +
      "graft.streaming.SemanticStream$.bootstrap(SemanticStream.scala:660)") == "streaming.semantic")
    assert(layerOf("graft.etl.Extract$.run(Extract.scala:85)") == "etl")
    assert(layerOf("graft.streaming.Incremental$.replaceEntities(Incremental.scala:98)") ==
      "streaming.incremental")
    assert(layerOf("graft.queries.Tables$.table(Tables.scala:9)") == "other")
    assert(layerOf("perfbench.Main$.main(Main.scala:1)") == "other")
    // a shared helper outside the named modules defers to its caller
    assert(layerOf("graft.streaming.PairGuard$.checkpointAndDecide(PairGuard.scala:41)\n" +
      "graft.streaming.CurateStream$.ingestBatch(CurateStream.scala:430)") == "streaming.curate")
  }

  test("an execution whose plan runs a sources function belongs to sources") {
    val fetch = """*(1) SerializeFromObject [assertnotnull(input[0, scala.Tuple2, true])._1 AS number#3L]
      |+- MapPartitions graft.sources.Rpc$$$Lambda/0x00007f1c2c6a1d88@5b1f3e2a, obj#2: scala.Tuple2
      |   +- DeserializeToObject staticinvoke(...), obj#1: bigint
      |      +- *(1) Range (700, 751, step=1, splits=4)""".stripMargin
    assert(Layers.sourcesFetch(fetch).contains("graft.sources.Rpc"))
    // downstream of the fetch's checkpoint the plan scans the checkpointed RDD
    assert(Layers.sourcesFetch("*(1) Project [number#3L]\n+- *(1) Scan ExistingRDD[number#3L,body#4]")
      .isEmpty)
  }

  test("a job with no graft frame belongs to its operation's layer") {
    val ops = Seq(OpSpan(0, "serve_topk", "streaming.semantic", 100L, 200L))
    val jobs = Seq(
      JobRec(1, "other", "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)", 110L, 150L),
      JobRec(2, "ops", "graft.ops.SimSearch$.collectCodebook(SimSearch.scala:1)", 120L, 160L),
      JobRec(3, "etl", "graft.etl.Extract$.run(Extract.scala:1)", 300L, 310L))
    val inOps = TraceReport.jobsInOps(jobs, ops)
    assert(inOps.map { case (j, op) => (j.id, j.layer, op) } ==
      Seq((1, "streaming.semantic", 0), (2, "ops", 0)))
    val m = TraceReport.layerMetrics(jobs, ops)
    assert(m("streaming.semantic.busy_s")._1 == 0.04 && m("ops.jobs")._1 == 1.0)
    assert(m("etl.jobs")._1 == 0.0) // started outside every operation
    assert(m("driver_gap_s")._1 == 0.05) // 100 ms op, jobs cover 110..160
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.analytics.Analyse
import graft.etl.Extract
import graft.sinks.Layout
import graft.sources.{Rpc, RpcStub}
import graft.streaming.{CurateStream, SemanticStream}

/** State shared by one run of one workload: the timed operations (the
  * parent spans), the checks made, and the metrics gathered. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val cpus: Int) {
  val ops = mutable.ArrayBuffer.empty[OpSpan]
  /** Persisted RDDs after each timed operation, read before any cleanup. */
  val persistedAfterOp = mutable.ArrayBuffer.empty[Int]
  var attempted = 0
  var failed = 0
  val violations = mutable.ArrayBuffer.empty[String]
  /** Figures beyond the shared end-to-end set, kept in the results file. */
  val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
  var setupSecs: Seq[Double] = Nil
  var storeGrowthBytes = 0L

  /** Time `f` as one operation span; its wall seconds ride along. */
  def op[T](name: String, layer: String)(f: => T): (T, Double) = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = f
    val secs = (System.nanoTime() - t0) / 1e9
    ops += OpSpan(ops.size, name, layer, startMs, math.max(System.currentTimeMillis(), startMs + 1))
    persistedAfterOp += spark.sparkContext.getPersistentRDDs.size
    (r, secs)
  }

  def check(problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      violations ++= problems.take(20)
    }
  }

  def timeUp(startNs: Long): Boolean = System.nanoTime() - startNs >= seconds * 1000000000L
}

object Workloads {

  private def secsOf(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close()
    }

  private val FetchMethods = Seq("eth_getBlockByNumber", "trace_block", "eth_getLogs", "eth_call")

  def rpcFailed(spark: SparkSession): Long =
    FetchMethods.map(m => Rpc.failedCounter(spark, m).value.longValue).sum

  // ---------------------------------------------------------------- batch

  /** Blocks per extract call. On a 4-core host a warm call costs about
    * 10 s fixed plus about 27 ms per block; a cold one about 15 s more.
    * 200 blocks keep a run's cold extract and analyses near 45 s. */
  val BatchBlocks = 200

  /** Analyse passes over each landed root. */
  val AnalyseRepeats = 3

  /** `Extract.run` into a fresh root over a seeded block range, then
    * `Analyse.lifetimes` and `Analyse.similarities` (interface and
    * cosine) over the landed root. */
  def batch(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rnd = new Random(ctx.seed)
    RpcStub.setHead(100000000L)
    val endpoint = RpcStub.endpoint
    def nextFrom(): Long = 1000L + rnd.nextInt(10000000).toLong

    def analyse(root: String, out: String): (Long, Long) = {
      val lives = Analyse.lifetimes(spark, root, s"$out-lifetimes")("lives")
      val sims = Analyse.similarities(spark, root, s"$out-similar.nq",
        interfaceSim = true, cosineSim = true)
      (lives, sims.values.sum)
    }

    // set-up: the stub node and the stand-in decompiler, which the
    // extract CLI also prepares per invocation. The timed call runs
    // cold, in a JVM that has run nothing else, as every CLI extract does.
    var decompiler: Seq[String] = Nil
    ctx.setupSecs = (0 until 3).map { _ =>
      val s0 = System.nanoTime()
      decompiler = Extract.standInDecompiler()
      Rpc.blockNumber(endpoint)
      secsOf(s0)
    }

    val extractSecs, analyseSecs = mutable.ArrayBuffer.empty[Double]
    var blocks, rows = 0L
    val failedBefore = rpcFailed(spark)
    val t0 = System.nanoTime()
    while (!ctx.timeUp(t0)) {
      val from = nextFrom()
      val to = from + BatchBlocks - 1
      val root = graft.Temps.dir("perfbench-batch")
      val (counts, xs) = ctx.op("extract", "etl") {
        Extract.run(spark, endpoint, from, to, root, slots = ctx.cpus, decompiler = decompiler)
      }
      // analyse repeats over the landed root, each into fresh outputs;
      // the median keeps one cold or stalled pass from setting analyse_s
      val analyses = (0 until AnalyseRepeats).map { r =>
        val out = s"$root-a$r"
        val ((lives, pairs), secs) = ctx.op("analyse", "analytics")(analyse(root, out))
        (out, lives, pairs, secs)
      }
      extractSecs += xs
      analyseSecs ++= analyses.map(_._4)
      blocks += counts("blocks")
      rows += counts.removed("fetch_failures").values.sum
      ctx.storeGrowthBytes += bytesUnder(Paths.get(root))

      ctx.check(Checks.extractCounts(counts, Checks.expectedExtractCounts(from, to)))
      val contracts = spark.read.parquet(s"$root/static/deployments").select("contract")
        .union(spark.read.parquet(s"$root/static/destructions").select("contract"))
        .distinct().count()
      analyses.foreach { case (out, lives, pairs, _) =>
        val lines = spark.read.text(s"$out-similar.nq").count()
        ctx.check(Checks.analyseCounts(lives, contracts, pairs, lines))
      }
      (Seq(root) ++ analyses.flatMap(a => Seq(s"${a._1}-lifetimes", s"${a._1}-similar.nq")))
        .foreach(p => graft.Temps.deleteTree(Paths.get(p)))
    }
    val extractTotal = extractSecs.sum
    ctx.extra("blocks_per_s") = (blocks / extractTotal, "blocks/s")
    ctx.extra("rows_per_s") = (rows / extractTotal, "rows/s")
    ctx.extra("extract_p50_s") = (Stats.median(extractSecs.toSeq), "s")
    ctx.extra("analyse_s") = (Stats.median(analyseSecs.toSeq), "s")
    ctx.extra("extract_calls") = (extractSecs.size.toDouble, "count")
    ctx.extra("blocks_per_call") = (BatchBlocks.toDouble, "blocks")
    ctx.extra("sources.rpc_failed") = ((rpcFailed(spark) - failedBefore).toDouble, "count")
    ctx.extra("items_per_s") = (blocks / extractTotal, "items/s")
    ctx.extra("write_p50_s") = (Stats.median(extractSecs.toSeq), "s")
    ctx.extra("read_p50_s") = (Stats.median(analyseSecs.toSeq), "s")
  }

  // --------------------------------------------------------- curate_serve

  val CorpusDocs = 5000
  val CorpusVectors = 2000
  val HeldDocs = 1000
  val HeldVectors = 400
  val DocsPerRound = 125
  val VectorsPerRound = 50
  val QueriesPerCall = 8
  val TopK = 10
  val PrefilterC = 50
  val SetupRepeats = 3
  val MinRounds = 2

  /** The served top-k calls, each over the stored vector index. */
  val ServeCalls: Seq[(String, (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame)] = Seq(
    "topk" -> ((q, root) => SemanticStream.queryTopK(q, root, TopK)),
    "sq" -> ((q, root) => SemanticStream.queryTopKSq(q, root, TopK, PrefilterC)),
    "pq" -> ((q, root) => SemanticStream.queryTopKPq(q, root, TopK, PrefilterC)),
    "jl" -> ((q, root) => SemanticStream.queryTopKJl(q, root, TopK, PrefilterC)))

  /** Two stores bootstrapped over the seeded corpora minus a held-out
    * slice; each round ingests one held-out text batch and one vector
    * batch, then makes every serve call once in a seeded order. One
    * client, closed loop, at least [[MinRounds]] rounds and on until the
    * run's seconds are up. Nothing warms the JVM first: the first round
    * pays class loading and code generation, as a freshly started
    * ingest service does, and the later rounds run warmer. (Warming up
    * to a steady state first was tried: rounds still got faster after
    * five, about 50 s, more than a run can spend.) */
  def curateServe(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rnd = new Random(ctx.seed)
    val docs = Inputs.docs(ctx.seed, CorpusDocs)
    val vecs = Inputs.vectors(ctx.seed, CorpusVectors)
    val heldDocIds = rnd.shuffle(docs.map(_.id)).take(HeldDocs).toSet
    val heldVecIds = rnd.shuffle(vecs.map(_.id)).take(HeldVectors).toSet
    val docBatches = rnd.shuffle(docs.filter(d => heldDocIds(d.id))).grouped(DocsPerRound).toIndexedSeq
    val vecBatches = rnd.shuffle(vecs.filter(v => heldVecIds(v.id))).grouped(VectorsPerRound).toIndexedSeq
    val baseDocs = Inputs.docFrame(spark, docs.filterNot(d => heldDocIds(d.id)))
    val baseVecs = Inputs.vecFrame(spark, vecs.filterNot(v => heldVecIds(v.id))).drop("label")

    var textRoot, vecRoot = ""
    ctx.setupSecs = (0 until SetupRepeats).map { _ =>
      val s0 = System.nanoTime()
      textRoot = graft.Temps.dir("perfbench-curate")
      vecRoot = graft.Temps.dir("perfbench-semantic")
      CurateStream.bootstrap(baseDocs, textRoot, withLex = true)
      SemanticStream.bootstrap(baseVecs, vecRoot, withPq = true, withSq = true, withJl = true)
      secsOf(s0)
    }
    val bytesBefore = bytesUnder(Paths.get(textRoot)) + bytesUnder(Paths.get(vecRoot))

    val ingestSecs, textSecs, vecSecs, roundServeSecs = mutable.ArrayBuffer.empty[Double]
    val serveSecs = mutable.LinkedHashMap(ServeCalls.map(_._1 -> mutable.ArrayBuffer.empty[Double]): _*)
    var items = 0L
    val t0 = System.nanoTime()
    var round = 0
    while ((round < MinRounds || !ctx.timeUp(t0)) &&
        round < math.min(docBatches.size, vecBatches.size)) {
      val textBatch = docBatches(round)
      val vecBatch = vecBatches(round)
      val (_, ts) = ctx.op("ingest_text", "streaming.curate") {
        CurateStream.ingestBatch(Inputs.docFrame(spark, textBatch), textRoot, lexIndex = true)
      }
      val (_, vs) = ctx.op("ingest_vectors", "streaming.semantic") {
        SemanticStream.ingestVectors(Inputs.vecFrame(spark, vecBatch).drop("label"), vecRoot)
      }
      textSecs += ts; vecSecs += vs; ingestSecs += ts + vs
      items += textBatch.size + vecBatch.size

      // queries: seeded perturbations of corpus vectors, under ids no
      // stored vector has, so no query is filtered out as its own match
      val queries = (0 until QueriesPerCall).map { j =>
        val base = vecs(rnd.nextInt(vecs.size))
        Inputs.Vec(1000000000L + round * 1000L + j,
          Inputs.unit(base.v.map(_ + 0.05 * rnd.nextGaussian())), base.label)
      }
      val qFrame = Inputs.vecFrame(spark, queries).drop("label")
      val answers = rnd.shuffle(ServeCalls).map { case (name, call) =>
        val (rows, ss) = ctx.op(s"serve_$name", "streaming.semantic") {
          call(qFrame, vecRoot).select("q_id", "c_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq
        }
        serveSecs(name) += ss
        (name, rows, ss)
      }
      roundServeSecs += answers.map(_._3).sum

      // checks, untimed: one status row per ingested doc and vector,
      // top-k rows of stored ids for every query of every call
      val docIds = textBatch.map(_.id)
      val docStatus = Layout.readStatic(spark, textRoot, CurateStream.ManifestEntity).get
        .where(col("doc_id").isin(docIds: _*)).select("doc_id").collect().map(_.getLong(0)).toSeq
      ctx.check(Checks.oneStatusEach("doc", docIds, docStatus))
      val vecIds = vecBatch.map(_.id)
      val vecStatus = Layout.readStatic(spark, vecRoot, SemanticStream.ManifestEntity).get
        .where(col("vec_id").isin(vecIds: _*)).select("vec_id").collect().map(_.getLong(0)).toSeq
      ctx.check(Checks.oneStatusEach("vector", vecIds, vecStatus))
      val stored = Layout.readStatic(spark, vecRoot, SemanticStream.CellsEntity).get
        .select("id").collect().map(_.getLong(0)).toSet
      answers.foreach { case (name, rows, _) =>
        ctx.check(Checks.topK(name, queries.map(_.id), rows, TopK, stored))
      }
      round += 1
    }
    ctx.storeGrowthBytes =
      bytesUnder(Paths.get(textRoot)) + bytesUnder(Paths.get(vecRoot)) - bytesBefore

    val allServe = serveSecs.values.flatten.toSeq
    val (ingestTailP, ingestTail) = Stats.tail(ingestSecs.toSeq)
    val (serveTailP, serveTail) = Stats.tail(allServe)
    ctx.extra("ingest_p50_s") = (Stats.median(ingestSecs.toSeq), "s")
    ctx.extra("ingest_tail_s") = (ingestTail, "s")
    ctx.extra("ingest_tail_percentile") = (ingestTailP, "percentile")
    ctx.extra("ingest_samples") = (ingestSecs.size.toDouble, "count")
    ctx.extra("serve_p50_s") = (Stats.median(allServe), "s")
    ctx.extra("serve_tail_s") = (serveTail, "s")
    ctx.extra("serve_tail_percentile") = (serveTailP, "percentile")
    ctx.extra("serve_samples") = (allServe.size.toDouble, "count")
    ctx.extra("curate.text_ingest_s") = (Stats.median(textSecs.toSeq), "s")
    ctx.extra("curate.vector_ingest_s") = (Stats.median(vecSecs.toSeq), "s")
    serveSecs.foreach { case (name, xs) => ctx.extra(s"serve.${name}_s") = (Stats.median(xs.toSeq), "s") }
    ctx.extra("items_per_s") = (items / ingestSecs.sum, "items/s")
    ctx.extra("write_p50_s") = (Stats.median(ingestSecs.toSeq), "s")
    ctx.extra("read_p50_s") = (Stats.median(roundServeSecs.toSeq), "s")
  }

  val All: Map[String, Ctx => Unit] = Map("batch" -> batch, "curate_serve" -> curateServe)
}

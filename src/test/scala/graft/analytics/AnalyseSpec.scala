package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.TestSpark
import graft.etl.Fixtures
import graft.sources.RpcStub

/** The one-pass `analyse`: over the extract fixture root (the one
  * q123/q124/q125 read), `Analyse.lifetimes` and `Analyse.similarities`
  * land the same rows, report, N-Quad lines and counts as the
  * formulation that built the ContractLife rows twice, asked the four
  * RQs as four actions and checkpointed each similarity leg to count it
  * after the write. Also pins the fused RQ1/RQ2/RQ4 aggregate against
  * the standalone operators, the job count of each call, that no RDD
  * stays persisted, and that the observed pair counts are taken in the
  * write's result stage. */
class AnalyseSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val root = graft.queries.ExtractOps.extractRoot(spark)

  private def static(entity: String): DataFrame =
    spark.read.parquet(s"$root/static/$entity")

  /** `Analyse.lifetimes` as formulated before the fused report: the
    * ContractLife rows built for the write and again for the report,
    * whose four RQs are four actions over the block-stamped inputs.
    * Returns (row count read back, report text). */
  private def referenceLifetimes(out: String): (Long, String) = {
    val blockTimes = static("blocks")
      .select(col("number").as("block_number"), col("datetime").as("block_datetime"))
    def stamped(entity: String) = static(entity)
      .select(col("contract"), col("block_number"), col("tx_hash"))
      .join(broadcast(blockTimes), Seq("block_number"), "left")
    val (dep, des) = (stamped("deployments"), stamped("destructions"))
    Lifetimes.contractLives(dep, des).write.mode("overwrite").parquet(s"$out/lifetimes")
    val lives = Lifetimes.contractLives(dep, des)
    val r1 = Lifetimes.rq1Destroyed(lives).head()
    val r2 = Lifetimes.rq2OnceVsMulti(lives).head()
    val r3 = Lifetimes.rq3SameBlockTx(dep, des).head()
    val r4 = Lifetimes.rq4LifetimeStats(lives).head()
    val text = Seq(
      s"RQ1: ${r1.getAs[Long]("n_destroyed")} of ${r1.getAs[Long]("n_total")} contracts were destroyed at least once",
      s"RQ2: ${r2.getAs[Long]("n_once")} destroyed exactly once, ${r2.getAs[Long]("n_multi")} more than once",
      s"RQ3: ${r3.getAs[Long]("n_same_block_pairs")} deploy/destroy pairs in the same block (different tx), " +
        s"${r3.getAs[Long]("n_same_tx_pairs")} in the same tx",
      s"RQ4: avg lifetime ${r4.getAs[Double]("avg_life_blocks")} blocks " +
        s"(stddev ${r4.getAs[Double]("stddev_life_blocks")}), " +
        s"${r4.getAs[Double]("avg_life_seconds")} seconds, over ${r4.getAs[Long]("n_contracts")} contracts"
    ).mkString("\n")
    (spark.read.parquet(s"$out/lifetimes").count(), text + "\n")
  }

  /** All-pairs `Analyse.similarities` as formulated before the observed
    * counts: each leg's lines (both directions as a union of two
    * projections) checkpointed, written as one union, then counted. */
  private def referenceSimilarities(outFile: String, ifcT: Double, cosT: Double,
      n: Int): Map[String, Long] = {
    def lines(pairs: DataFrame, predicate: String) = {
      val fwd = pairs.select(col("a_id").as("src"), col("b_id").as("dst"),
        col(pairs.columns(2)).as("similarity"))
      val bwd = pairs.select(col("b_id").as("src"), col("a_id").as("dst"),
        col(pairs.columns(2)).as("similarity"))
      fwd.unionByName(bwd).select(format_string(
        s"<%s> <$predicate> <%s> (similarity=%.4f) .",
        col("src"), col("dst"), col("similarity")).as("nquad"))
    }
    graft.Checkpoints.scoped { ck =>
      val ifc = ck(lines(Similarity.jaccardPairsBlocked(
          Similarity.interfaceSets(static("abi")), ifcT)
        .select(col("a_id"), col("b_id"), col("jaccard")), "Skeleton.similar_interface"))
      val cos = ck(lines(Similarity.cosinePairs(
          static("skeletons").select(col("skeleton_hash"), col("bytecode")), n, cosT)
        .select(col("a_id"), col("b_id"), col("cosine")), "Skeleton.similar_code"))
      ifc.unionByName(cos).write.mode("overwrite").text(outFile)
      Map("interface_pairs" -> ifc.count() / 2, "cosine_pairs" -> cos.count() / 2)
    }
  }

  private def textLines(path: String): Seq[String] =
    spark.read.text(path).collect().map(_.getString(0)).toSeq.sorted

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("lifetimes: landed rows, res.txt and the lives count match the two-build formulation") {
    val out = graft.Temps.dir("analyse-lt")
    val ref = graft.Temps.dir("analyse-lt-ref")
    val before = persisted
    val got = Analyse.lifetimes(spark, root, out)
    assert((persisted -- before).isEmpty)
    val (refLives, refText) = referenceLifetimes(ref)
    assert(got === Map("lives" -> refLives))
    assert(refLives > 0)
    assert(rows(s"$out/lifetimes") === rows(s"$ref/lifetimes"))
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/res.txt"))
    // RQ1-RQ3 and RQ4's averages and count are the same aggregates; the
    // stddev may differ from the streaming stddev_pop in the last digit
    // only, and is the correctly rounded population stddev
    val numbers = "[0-9.]+".r
    def rq4(t: String) = t.linesIterator.filter(_.startsWith("RQ4")).toSeq
      .flatMap(numbers.findAllIn(_).drop(1).map(_.toDouble))
    val Seq(avg, sd, secs, n) = rq4(text)
    val Seq(refAvg, refSd, refSecs, refN) = rq4(refText)
    assert((avg, secs, n) === ((refAvg, refSecs, refN)))
    assert(math.abs(sd - refSd) <= math.ulp(refSd))
    assert(text.linesIterator.filterNot(_.startsWith("RQ4")).toSeq ===
      refText.linesIterator.filterNot(_.startsWith("RQ4")).toSeq)
    val life = col("last_destr_block") - col("first_deploy_block")
    val xs = spark.read.parquet(s"$out/lifetimes")
      .where(col("n_deploys") > 0 && col("n_destructions") > 0 && life >= 0)
      .select(life).collect().map(r => BigDecimal(r.getLong(0)))
    val mean = xs.sum / xs.size
    val exact = (xs.map(x => (x - mean) * (x - mean)).sum / xs.size).bigDecimal
      .sqrt(new java.math.MathContext(40)).doubleValue
    assert(sd === exact)
  }

  test("similarities: N-Quad lines and pair counts equal the checkpointed formulation") {
    // q123's parameters: both legs emit pairs on the fixture root
    def run(ifcT: Double, cosT: Double, n: Int): Unit = {
      val out = graft.Temps.dir("analyse-nq") + "/nq"
      val ref = graft.Temps.dir("analyse-nq-ref") + "/nq"
      val before = persisted
      val got = Analyse.similarities(spark, root, out, interfaceThreshold = ifcT,
        cosineSim = true, cosineThreshold = cosT, ngramLength = n)
      assert((persisted -- before).isEmpty)
      assert(got === referenceSimilarities(ref, ifcT, cosT, n))
      assert(textLines(out) === textLines(ref))
      assert(textLines(out).size === 2 * got.values.sum)
    }
    run(0.1, 0.1, 3)
    run(0.75, 0.95, 5)
  }

  test("similarities --address: counts are half the landed lines and no checkpoint is left") {
    val out = graft.Temps.dir("analyse-single") + "/nq"
    val before = persisted
    val got = Analyse.similarities(spark, root, out,
      address = Some(RpcStub.createdAddressOf(701L, 1)),
      interfaceThreshold = 0.1, cosineSim = true, cosineThreshold = 0.1, ngramLength = 3)
    assert((persisted -- before).isEmpty)
    assert(got("interface_pairs") > 0)
    assert(textLines(out).size === 2 * got.values.sum)
  }

  /** The fused columns against the standalone operators, column by
    * column (null where an operator's row set is empty). */
  private def assertFusedMatches(lives: DataFrame): Unit = {
    val fused = Lifetimes.rq124(lives).head()
    val parts = Seq(Lifetimes.rq1Destroyed(lives), Lifetimes.rq2OnceVsMulti(lives),
      Lifetimes.rq4LifetimeStats(lives)).map(_.head())
    for (p <- parts; name <- p.schema.fieldNames) {
      val (want, have) = (p.getAs[Any](name), fused.getAs[Any](name))
      (want, have) match {
        case (w: Double, h: Double) =>
          assert(math.abs(w - h) <= 1e-12 * math.max(1.0, math.abs(w)), name)
        case _ => assert(have === want, name)
      }
    }
  }

  test("rq124 equals rq1Destroyed / rq2OnceVsMulti / rq4LifetimeStats") {
    assertFusedMatches(Lifetimes.contractLives(
      Fixtures.deployments(spark), Fixtures.destructions2(spark)))
    // multi-partition: 4000 contracts over 7 partitions, some never
    // destroyed, some destroyed several times, some destroyed before
    // their first deployment (negative lifetimes, outside RQ4's set),
    // some never deployed
    val ids = spark.range(0, 4000, 1, 7)
    val dep = ids.where(col("id") % 11 =!= 0).select(
      format_string("0x%05d", col("id")).as("contract"),
      (col("id") * 7 % 1000).as("block_number"),
      format_string("d%d", col("id")).as("tx_hash"),
      timestamp_seconds(col("id") * 7 % 1000 * 12).as("block_datetime"))
    val des = ids.where(col("id") % 3 =!= 0)
      .withColumn("k", explode(sequence(lit(1L), col("id") % 4 + 1)))
      .select(format_string("0x%05d", col("id")).as("contract"),
        (col("id") * 13 % 1200 + col("k")).as("block_number"),
        format_string("x%d_%d", col("id"), col("k")).as("tx_hash"),
        timestamp_seconds((col("id") * 13 % 1200 + col("k")) * 12).as("block_datetime"))
    graft.Checkpoints.scoped { ck =>
      val lives = ck(Lifetimes.contractLives(dep, des).repartition(7))
      assert(lives.rdd.getNumPartitions === 7)
      assertFusedMatches(lives)
      // no destruction at all: RQ2 and RQ4 range over empty sets
      assertFusedMatches(lives.where(col("n_destructions") === 0))
    }
  }

  test("job counts: lifetimes runs 9 jobs, similarities 8") {
    val out = graft.Temps.dir("analyse-jobs")
    root // the extract runs outside the probes
    val (_, ltJobs) = TestSpark.jobsStartedBy(Analyse.lifetimes(spark, root, s"$out/lt"))
    val (_, simJobs) = TestSpark.jobsStartedBy(Analyse.similarities(spark, root, s"$out/nq",
      interfaceThreshold = 0.1, cosineSim = true, cosineThreshold = 0.1, ngramLength = 3))
    assert((ltJobs, simJobs) === ((9, 8)))
  }

  /** Exchanges on the path from `plan`'s root down to each
    * CollectMetrics node, descending through adaptive plans and query
    * stages. */
  private def exchangesAbove(plan: SparkPlan, above: Int = 0): Seq[(String, Int)] = {
    val here = plan match {
      case c: CollectMetricsExec => Seq(c.name -> above)
      case _ => Nil
    }
    val (kids, below) = plan match {
      case a: AdaptiveSparkPlanExec => (Seq(a.executedPlan), above)
      case q: QueryStageExec => (Seq(q.plan), above)
      case r: ReusedExchangeExec => (Seq(r.child), above + 1)
      case e: Exchange => (e.children, above + 1)
      case other => (other.children, above)
    }
    here ++ kids.flatMap(exchangesAbove(_, below))
  }

  /** The CollectMetrics nodes of the first query `run` executes, each
    * with the exchanges above it in the executed plan. */
  private def observedPlan(run: => Unit): Seq[(String, Int)] = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var metrics = Seq.empty[(String, Int)]
      while (metrics.isEmpty && System.nanoTime() < deadline) {
        val plan = seen.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (plan != null) metrics = exchangesAbove(plan)
      }
      metrics.sortBy(_._1)
    } finally spark.listenerManager.unregister(listener)
  }

  test("observed pair counts: each CollectMetrics sits in the write's result stage") {
    // control: a node below a repartition is one exchange down
    val control = observedPlan(spark.range(100)
      .observe(org.apache.spark.sql.Observation("control"), count(lit(1)).as("n"))
      .repartition(3).select(col("id").cast("string"))
      .write.mode("overwrite").text(graft.Temps.dir("analyse-plan-ctl") + "/t"))
    assert(control === Seq("control" -> 1))
    var got = Map.empty[String, Long]
    val metrics = observedPlan {
      got = Analyse.similarities(spark, root, graft.Temps.dir("analyse-plan") + "/nq",
        interfaceThreshold = 0.1, cosineSim = true, cosineThreshold = 0.1, ngramLength = 3)
    }
    // one node per leg, no exchange between it and the write: its
    // accumulator updates come from result tasks, which the scheduler
    // merges once per partition, so a retried task cannot count twice
    assert(metrics === Seq("cosine_pairs" -> 0, "interface_pairs" -> 0))
    assert(got.values.forall(_ > 0))
  }
}

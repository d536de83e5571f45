package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{LateInteraction, SimSearch}
import graft.streaming.SemanticStream
import graft.bench.ScaleLaws.time

/** Late-interaction serving laws over ONE maintained index — the
  * measured companions to q176/q177's cost arithmetic:
  *
  *   - `maxsim_serve` — recall@3 of the SERVED cascade
  *     ([[SemanticStream.queryTopKMaxSim]]) against the brute-prefilter
  *     MaxSim gold ([[LateInteraction.maxSimTopK]] at C = 512 — the
  *     exact pooled scan feeding the same re-rank). Two rows: the
  *     pinned policy knobs (nProbe = 12, C = 128), and the full probe
  *     (nProbe = 16) that isolates the SQ-prefilter's own loss from
  *     the probe's. The re-rank is shared and deterministic, so every
  *     miss is a CANDIDATE-stage miss — this measures whether the
  *     pooled policy point still holds when the final ranking is
  *     multi-vector.
  *   - `maxsim_cost` — serve seconds over the (T slices × C prefilter)
  *     grid at the full probe. The claimed law is C·T² slot-cosine
  *     rows per query (linear in C, quadratic in T, corpus-free past
  *     the prefilter); the grid makes the wall-clock version of that
  *     claim inspectable.
  *
  * Serve latency is min-of-2 (first run pays codegen). Usage:
  * `runMain graft.bench.MaxSimBench [sfDir=/root/testdata/sf0.1]
  * [factor=4]`. */
object MaxSimBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      val rawEmb = graft.queries.Tables.embeddings(spark, sfDir)

      def ladder(corpus: String, emb: DataFrame): Unit = {
        val n = emb.count()
        val root = graft.Temps.dir(s"maxsim-bench-$corpus")
        SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true)
        val queries = emb.where(pmod(col("vec_id"), lit(97)) === 0)
          .localCheckpoint()
        val nq = queries.count()
        // TRUE gold: covering prefilter (C = n admits every pair), so
        // the re-rank IS the unbounded MaxSim — a bounded-C "gold"
        // measured as unconverged here (512 vs 1024 moved a third of
        // the top-3 on the amplified corpus), so nothing short of
        // covering is a stable target
        val gold = LateInteraction.maxSimTopK(queries, emb, "vec_id",
            "embedding", k = 3, prefilterC = n.toInt)
          .select("q_id", "c_id").localCheckpoint()
        val goldN = gold.count()

        def serveRecall(variant: String, f: => DataFrame): Unit = {
          val (hits, secs) = (1 to 2).map { _ =>
            val (df, s) = time {
              val r = f.select("q_id", "c_id").localCheckpoint()
              r.count()
              r
            }
            val h = gold.join(df, Seq("q_id", "c_id"), "left_semi").count()
            df.unpersist()
            (h, s)
          }.minBy(_._2)
          println(s"""{"family":"maxsim_serve","corpus":"$corpus",""" +
            s""""variant":"$variant","n":$n,""" +
            s""""queries":$nq,"gold":$goldN,"hits":$hits,""" +
            s""""recall3":${math.round(hits * 10000.0 / goldN) / 10000.0},""" +
            s""""secs":${math.round(secs * 100) / 100.0}}""")
        }

        serveRecall("served_policy",
          SemanticStream.queryTopKMaxSim(queries, root, topK = 3,
            prefilterC = SemanticStream.ServePolicy.PrefilterC,
            nProbe = SemanticStream.ServePolicy.NProbe))
        // the C ladder at full probe: with every cell probed, each
        // miss is the POOLED prefilter ordering disagreeing with the
        // MaxSim re-rank — the candidate-budget law late-interaction
        // serving lives or dies by
        for (c <- Seq(128, 512, 1024, 2048))
          serveRecall(s"served_fullprobe_c$c",
            SemanticStream.queryTopKMaxSim(queries, root, topK = 3,
              prefilterC = c, nProbe = SimSearch.IvfK))
        // the SLOT stage-1 ladder (r11): same gold, same re-rank — the
        // only change is WHAT generates candidates. The claim under
        // measurement: recall@3 ≥ 0.9 at C ≪ n where the pooled
        // stage-1 measured ≈ C/n, because per-slot probes reach docs
        // by the signal MaxSim ranks by
        for (np <- Seq(1, 2, 4); c <- Seq(32, 128))
          serveRecall(s"slot_np${np}_c$c",
            SemanticStream.queryTopKMaxSimSlots(queries, root, topK = 3,
              prefilterC = c, slotNProbe = np))
        gold.unpersist()
        queries.unpersist()
      }

      ladder("raw", rawEmb.localCheckpoint())
      val emb = ScaleLaws.amplifyEmbeddings(rawEmb, factor).localCheckpoint()
      ladder("amplified", emb)
      val n = emb.count()
      val root = graft.Temps.dir("maxsim-bench-cost")
      SemanticStream.bootstrap(emb, root, withSq = true)

      // cost grid on a 4× denser query set so the per-query C·T² term
      // clears the per-serve fixed cost (probe pass + windows)
      val denseQ = emb.where(pmod(col("vec_id"), lit(23)) === 0)
        .localCheckpoint()
      val ndq = denseQ.count()
      for (t <- Seq(4, 8, 16); c <- Seq(32, 128)) {
        val secs = (1 to 2).map { _ =>
          val (r, s) = time {
            val df = SemanticStream.queryTopKMaxSim(denseQ, root, topK = 3,
                prefilterC = c, nProbe = SimSearch.IvfK, slices = t)
              .localCheckpoint()
            df.count()
            df
          }
          r.unpersist()
          s
        }.min
        println(s"""{"family":"maxsim_cost","slices":$t,"prefilter":$c,""" +
          s""""n":$n,"queries":$ndq,""" +
          s""""secs":${math.round(secs * 100) / 100.0}}""")
      }
    } finally spark.stop()
  }
}

package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.LateInteraction
import graft.streaming.SemanticStream
import graft.bench.ScaleLaws.time

/** Slot-face operating-point grid — ServeSweep's twin for the
  * late-interaction stage-1 (q210): recall@3 of
  * [[SemanticStream.queryTopKMaxSimSlots]] against the COVERING MaxSim
  * gold over the (slotK × Lloyd's rounds × slotNProbe × C) grid, on the
  * raw and amplified sf0.1 embedding corpora.
  *
  * What the grid decides: the slot stage-1's recall ceiling is probe
  * COVERAGE of the slot space — a gold doc is reachable iff at least
  * one of its slots lands in a probed cell, so the operating point is
  * a (cells probed / K) fraction times the quantizer's ability to put
  * ALIGNED slots where the query probes. Seed-only centroids (the
  * slots of the first few docs) cover badly; Lloyd's rounds spread
  * them. The pinned defaults ([[SemanticStream.SlotK]]/[[SemanticStream
  * .SlotRounds]] and q210's knobs) come from this grid's ≥0.9 bracket.
  *
  * Usage: `runMain graft.bench.SlotSweep [sfDir=/root/testdata/sf0.1]
  * [factor=4]`. */
object SlotSweep {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      val rawEmb = graft.queries.Tables.embeddings(spark, sfDir)

      def grid(corpus: String, emb: DataFrame): Unit = {
        val n = emb.count()
        val queries = emb.where(pmod(col("vec_id"), lit(97)) === 0)
          .localCheckpoint()
        val nq = queries.count()
        val gold = LateInteraction.maxSimTopK(queries, emb, "vec_id",
            "embedding", k = 3, prefilterC = n.toInt)
          .select("q_id", "c_id").localCheckpoint()
        val goldN = gold.count()
        for {
          slotK <- Seq(32, 64)
          rounds <- Seq(0, 3)
        } {
          val root = graft.Temps.dir(
            s"slot-sweep-$corpus-k$slotK-r$rounds")
          SemanticStream.bootstrap(emb, root, withSq = true,
            withSlots = true, slotK = slotK, slotRounds = rounds)
          for {
            np <- Seq(2, 4, 8)
            c <- Seq(32, 128)
          } {
            val (df, secs) = time {
              val r = SemanticStream.queryTopKMaxSimSlots(queries, root,
                topK = 3, prefilterC = c, slotNProbe = np)
                .select("q_id", "c_id").localCheckpoint()
              r.count()
              r
            }
            val hits = gold.join(df, Seq("q_id", "c_id"), "left_semi").count()
            df.unpersist()
            println(s"""{"family":"slot_sweep","corpus":"$corpus",""" +
              s""""n":$n,"queries":$nq,"gold":$goldN,""" +
              s""""slotK":$slotK,"rounds":$rounds,"nprobe":$np,"c":$c,""" +
              s""""hits":$hits,""" +
              s""""recall3":${math.round(hits * 10000.0 / goldN) / 10000.0},""" +
              s""""secs":${math.round(secs * 100) / 100.0}}""")
          }
        }
        gold.unpersist()
        queries.unpersist()
      }

      grid("raw", rawEmb.localCheckpoint())
      val amp = ScaleLaws.amplifyEmbeddings(rawEmb, factor).localCheckpoint()
      grid("amplified", amp)

      // the K SELECTIVITY ladder — the 100-TB lever: at small K the
      // per-slot probe union admits most of the corpus (the grid above
      // measures scoring at its most expensive); production scales K
      // with n so the gathered fraction np·T/K shrinks. This phase
      // measures whether RECALL SURVIVES the shrink — gold docs' slots
      // are aligned with the query's, so they should sit in the
      // TOP-scored cells even as the probe union stops covering the
      // corpus — and reports the measured candidate fraction next to
      // recall (slotGatherCount: the sizing audit).
      {
        val n = amp.count()
        val queries = amp.where(pmod(col("vec_id"), lit(97)) === 0)
          .localCheckpoint()
        val nq = queries.count()
        val gold = LateInteraction.maxSimTopK(queries, amp, "vec_id",
            "embedding", k = 3, prefilterC = n.toInt)
          .select("q_id", "c_id").localCheckpoint()
        val goldN = gold.count()
        for (slotK <- Seq(64, 128, 256, 512)) {
          val root = graft.Temps.dir(s"slot-kladder-k$slotK")
          SemanticStream.bootstrap(amp, root, withSq = true,
            withSlots = true, slotK = slotK)
          val nCand = SemanticStream.slotGatherCount(queries, root,
              slotNProbe = 2)
            .agg(avg(col("n_cand"))).collect().head.getDouble(0)
          val (df, secs) = time {
            val r = SemanticStream.queryTopKMaxSimSlots(queries, root,
              topK = 3, prefilterC = 32, slotNProbe = 2)
              .select("q_id", "c_id").localCheckpoint()
            r.count()
            r
          }
          val hits = gold.join(df, Seq("q_id", "c_id"), "left_semi").count()
          df.unpersist()
          println(s"""{"family":"slot_kladder","n":$n,"queries":$nq,""" +
            s""""gold":$goldN,"slotK":$slotK,"nprobe":2,"c":32,""" +
            s""""avg_cand":${math.round(nCand)},""" +
            s""""cand_frac":${math.round(nCand * 10000.0 / n) / 10000.0},""" +
            s""""hits":$hits,""" +
            s""""recall3":${math.round(hits * 10000.0 / goldN) / 10000.0},""" +
            s""""secs":${math.round(secs * 100) / 100.0}}""")
        }
        gold.unpersist()
        queries.unpersist()
      }
    } finally spark.stop()
  }
}

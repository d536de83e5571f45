package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.LateInteraction
import graft.streaming.SemanticStream
import graft.bench.ScaleLaws.time

/** The JOINT slot-face operating surface — the r11 verdict's #1 ask:
  * `slot_kladder` varied K alone at (np = 2, C = 32) and found the
  * production cost/recall point unpriced (cand_frac 0.87 at K = 64 —
  * near-full-corpus T² code scoring per query — vs recall 0.65 at
  * K = 512), and stage 1b scored EVERY gathered candidate. This bench
  * measures the full (slotK × slotNProbe × centroid-cut) grid, with
  * the PLAID centroid-interaction cut between gather and code scoring
  * armed and disarmed, on BOTH geometries:
  *
  *   - `decorr`  — the ×4 sign-flip amplified sf0.1 embeddings
  *     (slots decorrelate from any structure; gather enrichment ~3×
  *     over random — the honest floor every r11 number rode);
  *   - `aligned` — [[ScaleLaws.slotTopicEmbeddings]], slot vectors
  *     drawn from 1024 shared topic clusters + 5% noise (the geometry
  *     trained late-interaction encoders produce; enrichment is
  *     structural, so recall holds at low coverage — the deployment
  *     case the operating policy is pinned for).
  *
  * Per row: gather size/fraction (the stage-1a admit), scored docs
  * (the stage-1b T×T code-kernel bill — `min(cand, cutC)` with the
  * cut on, `cand` off), recall@3 vs the covering MaxSim gold, secs.
  * [[SemanticStream.SlotPolicy]] pins its knobs from this grid's ≥0.9
  * bracket at ≤ ~10% coverage on the aligned corpus; SlotPolicySpec
  * regression-gates the pinned point.
  *
  * Slot books are TRAINED (rounds = 3, [[SemanticStream.slotRetrain]]'s
  * trainer): at K ≥ 128 the lowest-(id, pos) seed covers the slot
  * space too unevenly for the coverage ladder to mean anything.
  *
  * Usage: `runMain graft.bench.SlotPolicyBench
  * [sfDir=/root/testdata/sf0.1] [factor=4] [n=8000] [topics=1024]`. */
object SlotPolicyBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(4)
    val nAligned = args.lift(2).map(_.toLong).getOrElse(8000L)
    val topics = args.lift(3).map(_.toInt).getOrElse(1024)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      def grid(corpus: String, emb: DataFrame): Unit = {
        val n = emb.count()
        val queries = emb.where(pmod(col("vec_id"), lit(97)) === 0)
          .localCheckpoint()
        val nq = queries.count()
        val gold = LateInteraction.maxSimTopK(queries, emb, "vec_id",
            "embedding", k = 3, prefilterC = n.toInt)
          .select("q_id", "c_id").localCheckpoint()
        val goldN = gold.count()
        for (slotK <- Seq(128, 256, 512)) {
          val root = graft.Temps.dir(s"slot-policy-$corpus-k$slotK")
          SemanticStream.bootstrap(emb, root, withSq = true,
            withSlots = true, slotK = slotK, slotRounds = 3)
          for (np <- Seq(2, 4, 8)) {
            // per-query gather sizes collected once per (K, np); the
            // scored bill derives from them PER cut value below (a
            // hardcoded least(·, 128) would silently decouple the
            // reported bill from the swept knob — r12 review)
            val cands = SemanticStream.slotGatherCount(queries, root,
                slotNProbe = np)
              .select(col("n_cand")).collect().map(_.getLong(0))
            val avgCand =
              if (cands.isEmpty) 0.0 else cands.sum.toDouble / cands.length
            for (cut <- Seq(0, 128)) {
              val scored =
                if (cut <= 0 || cands.isEmpty) avgCand
                else cands.map(c => math.min(c, cut.toLong).toDouble)
                  .sum / cands.length
              val (df, secs) = time {
                val r = SemanticStream.queryTopKMaxSimSlots(queries, root,
                  topK = 3, prefilterC = 32, slotNProbe = np, cutC = cut)
                  .select("q_id", "c_id").localCheckpoint()
                r.count()
                r
              }
              val hits = gold.join(df, Seq("q_id", "c_id"), "left_semi")
                .count()
              df.unpersist()
              println(s"""{"family":"slot_policy","corpus":"$corpus",""" +
                s""""n":$n,"queries":$nq,"gold":$goldN,""" +
                s""""slotK":$slotK,"nprobe":$np,"cut":$cut,"c":32,""" +
                s""""avg_cand":${math.round(avgCand)},""" +
                s""""cand_frac":${math.round(avgCand * 10000.0 / n) / 10000.0},""" +
                s""""avg_scored":${math.round(scored)},""" +
                s""""scored_frac":${math.round(scored * 10000.0 / n) / 10000.0},""" +
                s""""hits":$hits,""" +
                s""""recall3":${math.round(hits * 10000.0 / goldN) / 10000.0},""" +
                s""""secs":${math.round(secs * 100) / 100.0}}""")
            }
          }
        }
        gold.unpersist()
        queries.unpersist()
      }

      val rawEmb = graft.queries.Tables.embeddings(spark, sfDir)
      grid("decorr",
        ScaleLaws.amplifyEmbeddings(rawEmb, factor).localCheckpoint())
      grid("aligned",
        ScaleLaws.slotTopicEmbeddings(spark, nAligned, topics)
          .localCheckpoint())
    } finally spark.stop()
  }
}

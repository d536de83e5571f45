package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.SimSearch
import graft.streaming.SemanticStream
import graft.bench.ScaleLaws.time

/** Operating-point sweep for the maintained serving paths — the
  * follow-up ServePathBench's single-knob rows called for: that
  * harness measured recall@3 at the DEFAULT knobs (exact_index 0.337,
  * sq_p4 0.550, jl_d32 0.193 on the ×4-amplified corpus) and proved
  * the levers; this one sweeps the knob grid (nProbe × prefilterC ×
  * d′) to find where each path crosses recall@3 ≥ 0.9, on BOTH the
  * raw sf corpus and the ×`factor` amplified one (amplified twists
  * make the full-scan gold harder — a policy that only holds on the
  * raw corpus is not a policy).
  *
  * The sweep's pick is PINNED in [[SemanticStream.ServePolicy]] and
  * regression-gated by ServePolicySpec: the policy queries must reach
  * the target recall on a fresh index, so a knob or kernel change
  * that silently costs recall goes red, not unnoticed.
  *
  * Recall@3 is against the exact full-scan top-3 (self-excluded),
  * the same gold ServePathBench uses. One timed run per cell — this
  * harness ranks RECALL; latency ladders live in ServePathBench.
  * Usage: `runMain graft.bench.ServeSweep [sfDir=/root/testdata/sf0.1]
  * [factor=4]`. */
object ServeSweep {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      val raw = graft.queries.Tables.embeddings(spark, sfDir)
      val corpora = Seq(
        ("raw", raw.localCheckpoint()),
        (s"amp$factor",
          ScaleLaws.amplifyEmbeddings(raw, factor).localCheckpoint()))
      corpora.foreach { case (corpusName, emb) =>
        val n = emb.count()
        val root = graft.Temps.dir(s"serve-sweep-$corpusName")
        SemanticStream.bootstrap(emb, root, withSq = true,
          withJl = true, jlDOut = 16)
        val queries = emb.where(pmod(col("vec_id"), lit(97)) === 0)
          .localCheckpoint()
        val nq = queries.count()
        val gold = SimSearch.bruteForceTopK(queries, emb, "vec_id",
            "embedding", k = 3)
          .select("q_id", "c_id").localCheckpoint()
        val goldN = gold.count()

        def measure(variant: String, nProbe: Int, prefC: Int,
            f: => DataFrame): Unit = {
          val (df, secs) = time {
            val r = f.select("q_id", "c_id").localCheckpoint()
            r.count()
            r
          }
          val hits = gold.join(df, Seq("q_id", "c_id"), "left_semi").count()
          df.unpersist()
          println(s"""{"family":"serve_sweep","corpus":"$corpusName",""" +
            s""""variant":"$variant","n":$n,"queries":$nq,""" +
            s""""nprobe":$nProbe,"prefilter":$prefC,"gold":$goldN,""" +
            s""""hits":$hits,""" +
            s""""recall3":${math.round(hits * 10000.0 / goldN) / 10000.0},""" +
            s""""secs":${math.round(secs * 100) / 100.0}}""")
        }

        for (p <- Seq(2, 4, 8, 12, 16))
          measure("exact_index", p, 0,
            SemanticStream.queryTopK(queries, root, topK = 3, nProbe = p))
        for (p <- Seq(2, 4, 8, 12, 16); c <- Seq(32, 128))
          measure("sq", p, c,
            SemanticStream.queryTopKSq(queries, root, topK = 3,
              prefilterC = c, nProbe = p))
        // d′ axis via family rotation (the stored sidecar serves one
        // d′ at a time — rotation cost is ServePathBench's jl_rotate);
        // the 512 prefilter column asks whether the JL ceiling is the
        // candidate budget or the projection itself
        for (d <- Seq(16, 32)) {
          if (d != 16)
            SemanticStream.rotateJlFamily(spark, root, dOut = d, seed = 0L)
          for (p <- Seq(8, 16); c <- Seq(128, 512))
            measure(s"jl_d$d", p, c,
              SemanticStream.queryTopKJl(queries, root, topK = 3,
                prefilterC = c, nProbe = p))
        }
        // the pinned policy itself, as its own labeled row
        measure("policy_sq", SemanticStream.ServePolicy.NProbe,
          SemanticStream.ServePolicy.PrefilterC,
          SemanticStream.queryTopKSq(queries, root, topK = 3,
            prefilterC = SemanticStream.ServePolicy.PrefilterC,
            nProbe = SemanticStream.ServePolicy.NProbe))
        // TRAINED-codebook era: the bootstrap codebook is the K
        // lowest-id seed vectors, under which recall ≈ probed
        // fraction (gold neighbors spread uniformly over cells);
        // retrain() runs fixed-round Lloyd's k-means and reassigns —
        // this grid measures how far the trained cells move the
        // recall knee left (q128 measured the same lever offline)
        SemanticStream.retrain(spark, root)
        for (p <- Seq(2, 4, 8, 12, 16))
          measure("sq_trained", p, 128,
            SemanticStream.queryTopKSq(queries, root, topK = 3,
              prefilterC = 128, nProbe = p))
      }
    } finally spark.stop()
  }
}

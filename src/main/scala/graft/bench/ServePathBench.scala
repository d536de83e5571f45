package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.SimSearch
import graft.streaming.SemanticStream
import graft.bench.ScaleLaws.time

/** Serving-path matrix over ONE maintained index — the measured
  * answer to "which dense leg should the online hybrid use":
  *
  *   - `brute`       — the corpus-scan dense leg (q162's): exact by
  *     construction, but pays n·d per query forever;
  *   - `exact_index` — [[SemanticStream.queryTopK]]: probes nProbe
  *     stored cells, full vectors inside them;
  *   - `sq_p2/p4`    — [[SemanticStream.queryTopKSq]]: probed cells
  *     scan as uint8 codes, exact re-rank on prefilterC candidates
  *     (p4 doubles the probe list — the recall lever that never
  *     touches more full vectors than prefilterC);
  *   - `jl_d8/16/32` — [[SemanticStream.queryTopKJl]]: probed cells
  *     scan as d′-dim projections; the d′ axis measures the recall
  *     price of the dimensionality lever ON THE MAINTAINED PATH
  *     (q158 measured it per-pair offline). Families swap via
  *     [[SemanticStream.rotateJlFamily]], whose reprojection pass is
  *     timed and reported as its own `jl_rotate` row.
  *
  * Every variant serves the SAME query set against the SAME index;
  * recall@3 is against the exact FULL-SCAN top-3 (the gold standard —
  * harder than recall-vs-exact_index, so the index's own probe misses
  * are visible too). Serve latency is min-of-2 (first run pays
  * codegen). Usage: `runMain graft.bench.ServePathBench
  * [sfDir=/root/testdata/sf0.1] [factor=4]`. */
object ServePathBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      val emb = ScaleLaws.amplifyEmbeddings(
        graft.queries.Tables.embeddings(spark, sfDir), factor)
        .localCheckpoint()
      val n = emb.count()
      val root = graft.Temps.dir("serve-path")
      SemanticStream.bootstrap(emb, root, withSq = true,
        withJl = true, jlDOut = 8)
      val queries = emb.where(pmod(col("vec_id"), lit(97)) === 0)
        .localCheckpoint()
      val nq = queries.count()
      val gold = SimSearch.bruteForceTopK(queries, emb, "vec_id",
          "embedding", k = 3)
        .select("q_id", "c_id").localCheckpoint()
      val goldN = gold.count()

      def measure(variant: String, f: => DataFrame): Unit = {
        // min-of-2: the first serve pays per-variant codegen/classload
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
        println(s"""{"family":"serve_path","variant":"$variant","n":$n,""" +
          s""""queries":$nq,"gold":$goldN,"hits":$hits,""" +
          s""""recall3":${math.round(hits * 10000.0 / goldN) / 10000.0},""" +
          s""""secs":${math.round(secs * 100) / 100.0}}""")
      }

      measure("brute",
        SimSearch.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3))
      measure("exact_index",
        SemanticStream.queryTopK(queries, root, topK = 3))
      measure("sq_p2",
        SemanticStream.queryTopKSq(queries, root, topK = 3, prefilterC = 32))
      measure("sq_p4",
        SemanticStream.queryTopKSq(queries, root, topK = 3, prefilterC = 32,
          nProbe = 4))
      measure("jl_d8",
        SemanticStream.queryTopKJl(queries, root, topK = 3, prefilterC = 32))
      for (d <- Seq(16, 32)) {
        val (_, rotSecs) = time {
          SemanticStream.rotateJlFamily(spark, root, dOut = d, seed = 0L)
        }
        println(s"""{"family":"jl_rotate","dprime":$d,"n":$n,""" +
          s""""secs":${math.round(rotSecs * 100) / 100.0}}""")
        measure(s"jl_d$d",
          SemanticStream.queryTopKJl(queries, root, topK = 3,
            prefilterC = 32))
      }
    } finally spark.stop()
  }
}

package graft.bench

import org.apache.spark.sql.functions._
import graft.ops.SimSearch
import graft.streaming.SemanticStream
import graft.bench.ScaleLaws.time

/** The serving-path law for the maintained vector index
  * ([[SemanticStream.queryTopK]] vs [[SemanticStream.queryTopKPq]]):
  * the exact read path fetches FULL vectors for every row of every
  * probed cell, so its per-query IO grows with n/K; the PQ two-stage
  * path scans probed cells as 8-byte codes and fetches full vectors
  * for prefilterC candidates only — constant per query regardless of
  * corpus size. This harness builds a stored index per scale
  * (untimed), serves the same query sample through both paths, and
  * reports `fetches` (full-vector rows entering the exact re-rank —
  * the IO the law is about) and the timed serve pass.
  *
  * Usage: `runMain graft.bench.ServeRehearsal [sfDir] [factors csv]`.
  * One JSON line per (path, factor) + a markdown table for SCALE.md.
  */
object ServeRehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).getOrElse("1,4,16").split(",").map(_.trim.toInt).toSeq
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      val base = graft.queries.Tables.embeddings(spark, sfDir)
      val rows = factors.flatMap { factor =>
        val emb = ScaleLaws.amplifyEmbeddings(base, factor).localCheckpoint()
        val n = emb.count()
        val root = graft.Temps.dir(s"serve-f$factor")
        // index build (untimed here; the build laws are the ingest
        // rehearsal's business): corpus = the amplified table
        SemanticStream.bootstrap(emb, root, withPq = true)
        val queries = emb.where(pmod(col("vec_id"), lit(97)) === 0)
          .localCheckpoint()
        val nq = queries.count()
        // fetches of the exact path = Σ probed-cell populations over
        // the query sample (every row is a full-vector read + cosine)
        val cb = SimSearch.collectCodebook(
          graft.sinks.Layout.readStatic(spark, root,
            SemanticStream.CodebookEntity).get)
        val probeCells = SimSearch.ivfAssign(queries, "vec_id", "embedding",
            cb, p = SimSearch.IvfProbe)
          .select(explode(col("probes").getField("cid")).as("cell"))
          .groupBy(col("cell")).agg(count(lit(1)).as("nq"))
        val cellPop = graft.sinks.Layout.readStatic(spark, root,
            SemanticStream.CellsEntity).get
          .groupBy(col("cell")).agg(count(lit(1)).as("nc"))
        val exactFetches = probeCells.join(cellPop, Seq("cell"))
          .agg(sum(col("nq") * col("nc"))).head().getLong(0)
        val prefilterC = 50
        val out = Seq(
          ("exact", exactFetches,
            time(SemanticStream.queryTopK(queries, root, topK = 10).count())),
          ("pq_two_stage", nq * prefilterC,
            time(SemanticStream.queryTopKPq(queries, root, topK = 10,
              prefilterC = prefilterC).count())))
          .map { case (path, fetches, (served, secs)) =>
            println(s"""{"family":"serve_path","path":"$path","n":$n,""" +
              s""""factor":$factor,"queries":$nq,"fetches":$fetches,""" +
              s""""served":$served,"secs":${math.round(secs * 100) / 100.0}}""")
            (path, n, nq, fetches, served, secs)
          }
        emb.unpersist(true); queries.unpersist(true)
        out
      }
      println("\n| path | n | queries | full-vector fetches | served rows | secs |")
      println("|---|---|---|---|---|---|")
      rows.foreach { case (p, n, q, f, sv, s) =>
        println(f"| $p | $n%d | $q%d | $f%d | $sv%d | $s%.2f |")
      }
    } finally spark.stop()
  }
}

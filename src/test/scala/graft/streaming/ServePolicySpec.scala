package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.ops.SimSearch

/** Regression gate for the PINNED serving operating point
  * ([[SemanticStream.ServePolicy]]): the `serve_sweep`-measured knobs at
  * which the SQ serving path reaches recall@3 ≥ 0.9 against the
  * full-scan gold (SCALE.md "Serving-recall operating policy";
  * measured 0.937 raw / 0.924 ×4-amplified at sf0.1). This spec
  * serves a fresh index at EXACTLY the policy knobs on the sf0.001
  * corpus — if a knob default, probe kernel, prefilter or re-rank
  * change drops the policy below its target, the suite goes red
  * instead of the regression hiding in a bench artifact nobody
  * re-reads. */
class ServePolicySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("the pinned policy reaches its target recall on a fresh index") {
    val emb = graft.queries.Tables.embeddings(spark, sfDir)
      .localCheckpoint()
    val root = graft.Temps.dir("serve-policy")
    SemanticStream.bootstrap(emb, root, withSq = true)
    val queries = emb.where(pmod(col("vec_id"), lit(29)) === 0)
      .localCheckpoint()
    val gold = SimSearch.bruteForceTopK(queries, emb, "vec_id",
        "embedding", k = 3)
      .select("q_id", "c_id").localCheckpoint()
    val served = SemanticStream.queryTopKSq(queries, root, topK = 3,
        prefilterC = SemanticStream.ServePolicy.PrefilterC,
        nProbe = SemanticStream.ServePolicy.NProbe)
      .select("q_id", "c_id")
    val hits = gold.join(served, Seq("q_id", "c_id"), "left_semi").count()
    val recall = hits.toDouble / gold.count()
    assert(recall >= SemanticStream.ServePolicy.TargetRecall3,
      s"pinned policy (nProbe=${SemanticStream.ServePolicy.NProbe}, " +
        s"prefilterC=${SemanticStream.ServePolicy.PrefilterC}) " +
        f"recall@3 = $recall%.4f < ${SemanticStream.ServePolicy.TargetRecall3}")
  }
}

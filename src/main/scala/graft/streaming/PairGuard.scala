package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Guard for the banded-join CANDIDATE-PAIR broadcasts (r14 verdict #2).
  *
  * The per-batch probes hint the band-collision pair frames broadcast
  * (batch × per-band-key index bucket — bounded in EXPECTATION by the
  * `phash_band`/`est_cand` law at ~n_batch·n_index/2¹⁶ per band), but an
  * explicit `broadcast()` hint bypasses `autoBroadcastJoinThreshold`, so
  * under band-key skew (a degenerate bucket — exactly the mode
  * [[MediaStream.bandSkew]]'s `est_cand`/`top_share` diagnostic trends) the
  * hint turns a slow query into a driver OOM at scale. The guard makes the
  * decision on the pair count instead of an estimate: the pair frame is
  * materialized once (localCheckpoint — every downstream join reads the
  * cached blocks) and COUNTED BY THAT SAME ACTION through an
  * [[Observation]], so the decision costs no job of its own; the hint is
  * kept only while the count is under the cap, and past it the join falls
  * back to planner choice (sort-merge — slow but safe, and AQE's skew
  * split applies). Row sets are unchanged either way.
  *
  * The observed count is accumulator-based: a retried task can add its
  * rows twice, never fewer. An over-count can only push the decision to
  * the sort-merge fallback, so it never risks the broadcast it guards.
  *
  * The cap is scale-parameterised (`spark.graft.maxBroadcastPairs`, rows):
  * the default 1M pair rows ≈ tens of MB as a hash relation — comfortably
  * inside executor broadcast budgets and far above the measured per-batch pair
  * volumes the law predicts for healthy indexes, so local-mode behavior
  * (and the bench) is unchanged; a 100 TB deployment sizes it to its
  * executor memory the way it sizes autoBroadcastJoinThreshold.
  */
private[graft] object PairGuard {

  val ConfKey = "spark.graft.maxBroadcastPairs"
  val DefaultMaxRows = 1000000L

  def maxRows(s: SparkSession): Long =
    s.conf.getOption(ConfKey).map(_.toLong).getOrElse(DefaultMaxRows)

  /** Materialize a candidate-pair frame and decide its broadcast fate:
    * returns (checkpointed frame, hint-allowed), on the row count the
    * checkpoint's own job observed. Callers must unpersist the frame
    * once its consumers have run. */
  def checkpointAndDecide(pairs: DataFrame, desc: String): (DataFrame, Boolean) = {
    val s = pairs.sparkSession
    val rows = Observation()
    val ck = graft.Sessions.labeled(s, desc)(
      pairs.observe(rows, count(lit(1)).as("n")).localCheckpoint())
    (ck, rows.get("n").asInstanceOf[Long] <= maxRows(s))
  }
}

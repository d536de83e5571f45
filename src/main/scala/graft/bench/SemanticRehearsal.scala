package graft.bench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Checkpoints
import graft.bench.ScaleLaws.{Cell, emit, roundTo, time}
import graft.streaming.SemanticStream

/** Measures the DRIFT LAW behind [[SemanticStream]]'s frozen codebook —
  * the round-6 open item: nothing quantified how dup recall decays as
  * ingested batches leave the distribution the codebook was trained
  * on, so no retrain cadence could be stated.
  *
  * Construction (deterministic, no RNG):
  *  - bootstrap + [[SemanticStream.retrain]] on the base embeddings —
  *    the codebook fits the base distribution exactly;
  *  - batch b of B slices the base corpus (`vec_id % B == b`, re-id'd
  *    disjointly) and blends every vector toward a fixed sign-flipped
  *    "new domain": v_b = (1-α)·v + α·flip(v), α = b/B — the ingest
  *    stream migrates smoothly off the trained distribution;
  *  - every batch vector arrives TWICE: the original and a canary twin
  *    perturbed ±60% per dimension (cos ≈ 0.86, safely over the 0.3
  *    dup threshold) under a HIGHER id. A twin is caught iff it shares
  *    a cell with its partner (cross-pair cosines in this stream are
  *    sign-noise ≈ 0 ≪ 0.3), so per-batch canary recall measures
  *    exactly P(near-pair co-assigned) — the quantity cell-boundary
  *    geometry degrades as the codebook stops fitting;
  *  - at batch 2B/3 one [[SemanticStream.retrain]] re-fits the
  *    codebook to the accumulated inverted file (base + every kept
  *    drifted vector) and the remaining batches
  *    measure the recovery.
  *
  * Per batch it reports canary recall, the batch's max-cell share
  * (assignment imbalance — the join-cost face of the same drift),
  * probe-candidate volume, and ingest seconds. What the measurement
  * established (SCALE.md "Online-index maintenance"): near-pair
  * co-assignment is robust to centroid placement (full domain shift
  * costs only ~3 recall points at p=1) and retraining does NOT win
  * those points back — finer cells straddle more; retrain is the
  * BALANCE remedy (collapse mode's top-cell share), multi-probe
  * ingest (`probes` → [[SemanticStream.ingestVectors]]) is the
  * RECALL remedy (p=2 holds drifted recall ≈ 0.99 at unchanged
  * candidate volume), and planted canaries are the in-band monitor
  * for both.
  *
  * The ScaleLaws family `semantic_ingest_drift`: 24 batches, K = 32,
  * both drift modes, at three maintenance points — probes 1 with the
  * scheduled retrain, probes 2 with it, and probes 1 under the
  * MECHANIZED policy (no scheduled retrain: every batch runs the
  * imbalance trigger at threshold 0.11). */
object SemanticRehearsal {

  /** Deterministic per-dimension sign flip — the fixed "new domain"
    * of the `shift` mode (same orthonormal-transform discipline as
    * [[ScaleLaws.amplifyEmbeddings]], constant across batches): the
    * drifted distribution stays as SPREAD as the base, it just sits
    * where no trained centroid does. */
  private def flip(v: Column): Column =
    transform(v, (x, i) =>
      x * when(pmod(hash(lit(42), i), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0)))

  /** The `collapse` mode's new domain: keep ~1 dimension in 8, zero
    * the rest — drift toward a LOW-DIMENSIONAL subspace, the domain
    * shift that wrecks the quantizer's BALANCE rather than pair
    * co-assignment (all drifted mass crowds into the few cells whose
    * centroids have the largest incidental subspace component, and the
    * per-batch cell self-join cost grows with Σ|cell|²). */
  private def collapse(v: Column): Column =
    transform(v, (x, i) =>
      x * when(pmod(hash(lit(7), i), lit(8)) === 0, lit(1.0)).otherwise(lit(0.0)))

  /** ±60% per-(id, dim) canary perturbation: cos(v, twin) =
    * 1/√(mean f²) ≈ 0.86 — a real near-dup, not a byte copy (a copy
    * would co-assign trivially and measure nothing), sized so trained-
    * era recall sits on the sensitive slope of the co-assignment curve
    * rather than its plateau (±30% measured ≈ 0.99 recall at K=16 with
    * barely any drift response; the law needs dynamic range). */
  private def perturb(v: Column, id: Column): Column =
    transform(v, (x, i) =>
      x * when(pmod(hash(id, i), lit(2)) === 0, lit(1.6)).otherwise(lit(0.4)))

  /** Drift schedule: ramp linearly to the new domain over the first
    * half of the stream, then SETTLE there (α = 1). A never-ending
    * ramp would keep decaying recall straight through a retrain and
    * measure nothing about recovery; ramp-then-plateau is the
    * domain-shift scenario a retrain cadence is actually for. */
  def alphaOf(b: Int, batches: Int): Double =
    math.min(1.0, 2.0 * b / batches)

  /** Batch b: disjoint base slice, α-blended toward the mode's new
    * domain, each vector plus its canary twin (twin id = orig id + 1). */
  def batchOf(base: DataFrame, b: Int, batches: Int,
      mode: String = "shift"): DataFrame = {
    val alpha = alphaOf(b, batches)
    val v = col("embedding").cast("array<double>")
    val domain = mode match {
      case "shift" => flip(v)
      case "collapse" => collapse(v)
      case m => throw new IllegalArgumentException(s"unknown drift mode $m")
    }
    val drifted = base.where(pmod(col("vec_id"), lit(batches)) === b)
      .select(
        (lit(10000000L) + col("vec_id") * 1000L).as("vec_id"),
        zip_with(v, domain, (x, fx) =>
          x * lit(1 - alpha) + fx * lit(alpha)).as("embedding"))
    drifted.unionByName(drifted.select(
      (col("vec_id") + 1).as("vec_id"),
      perturb(col("embedding"), col("vec_id")).as("embedding")))
  }

  def measure(c: Cell): Unit = {
    val batches = 24
    val retrainAt = batches * 2 / 3
    // 2× the query default: the drift law is boundary geometry, and at
    // K=16 over 2k base vectors the cells are so coarse that even a
    // fully-drifted stream barely straddles them (measured ~0.96 recall
    // at α=1) — K=32 is also the K the √n rule would pick at this n
    val k = 2 * graft.ops.SimSearch.IvfK
    val base = c.pin(c.emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding")))
    for ((probes, autoThreshold) <- Seq((1, 0.0), (2, 0.0), (1, 0.11));
        mode <- Seq("shift", "collapse")) {
      val root = graft.Temps.dir(s"semantic-rehearsal-$mode-p$probes")
      SemanticStream.bootstrap(base, root, k)
      SemanticStream.retrain(c.spark, root, k) // codebook fits the BASE distribution
      for (b <- 0 until batches) Checkpoints.scoped { ck =>
        var retrainSecs = 0.0
        if (autoThreshold <= 0 && b == retrainAt)
          retrainSecs = time(SemanticStream.retrain(c.spark, root, k))._2
        val batch = ck(batchOf(base, b, batches, mode))
        val (man, secs) = time(ck.adopt(
          SemanticStream.ingestVectors(batch, root, probes = probes)))
        // canaries: odd re-ids (orig + 1); caught = flagged any-dup
        val twins = man.where(col("vec_id") % 2 === 1)
        val planted = twins.count()
        val caught = twins.where(col("status") =!= "kept").count()
        val maxShare = SemanticStream.batchImbalance(man)
        // the mechanized policy: the batch-level imbalance IS the trigger
        // input (the stored index is dedup-shielded from collapse drift —
        // see SemanticStream.cellImbalance's note)
        if (autoThreshold > 0 && maxShare >= autoThreshold)
          retrainSecs = time(SemanticStream.retrain(c.spark, root, k))._2
        // the probe's join volume this batch: batch×corpus meeting on cell
        // plus the batch-internal pairs — the cost face drift inflates
        // when assignments unbalance (Σ over cells)
        val batchHist = man.groupBy(col("cell")).agg(count(lit(1)).as("bn"))
        val corpusHist = graft.sinks.Layout
          .readStatic(c.spark, root, SemanticStream.CellsEntity).get
          .groupBy(col("cell")).agg(count(lit(1)).as("cn"))
        val cand = batchHist.join(corpusHist, Seq("cell"), "left")
          .agg(sum(col("bn") * coalesce(col("cn"), lit(0L)) +
            col("bn") * (col("bn") - 1) / 2).cast("long"))
          .head().getLong(0)
        emit("semantic_ingest_drift", "mode" -> mode, "probes" -> probes,
          "auto_threshold" -> autoThreshold, "batch" -> b,
          "alpha" -> roundTo(alphaOf(b, batches), 3), "planted" -> planted,
          "caught" -> caught, "recall" -> roundTo(caught.toDouble / planted, 3),
          "max_cell_share" -> roundTo(maxShare, 3), "probe_candidates" -> cand,
          "secs" -> secs, "retrain_secs" -> retrainSecs)
      }
    }
  }
}

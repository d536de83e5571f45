package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PqExprs

/** Scalar quantization (SQ8) over the embedding column — the SIMPLE
  * compression leg beside [[Pq]]: one uint8 code per dimension from a
  * per-dimension affine (min, step) grid, d bytes per stored vector
  * (8× smaller than float64, 4× smaller than float32) with no
  * codebook training at all. Reference scope: as with PQ, the
  * similarity stack of davideaimar/eth2dgraph
  * (src/analysys/similarities.rs) stops at exact pairwise scores; SQ
  * is the standard first rung of the published compression ladder
  * (FAISS's ScalarQuantizer) below PQ's 64×.
  *
  * Plan shapes, all linear in corpus size n:
  *  - stats: ONE aggregation pass producing d (min, max) pairs — a
  *    d-length driver array that rides the encode/score expressions
  *    as plan-time data (1 KiB at d=64). At 100 TB this is the cheap
  *    part: a map-side-combined min/max agg, no shuffle of vectors.
  *  - encode: zero-shuffle projection pass, d multiply-rounds per row.
  *  - asymmetric scan: the query keeps full precision, the corpus is
  *    codes only — distance de-quantizes each code against the
  *    broadcast grid inline (mn[i] + code·step[i]), so the scan never
  *    touches a stored float vector. Candidate bounding composes
  *    exactly like PQ's: IVF cells or LSH buckets in front, SQ codes
  *    inside.
  *
  * Determinism (DuckDB oracle replay): stats are min/max over
  * element-wise double casts (exact — no summation), codes are
  * `round((x − mn)·scale, 0)` with non-negative arguments (half-up ≡
  * half-away), distances fold sequentially in index order and round
  * at 6 dp, ranking ties on the lower corpus id. */
object Sq {

  /** Code range top: codes are 0..255 (uint8 grid). */
  val Levels = 255

  /** Per-dimension grid from ONE min/max aggregation pass:
    * (mins, scales = 255/(max−min), isteps = (max−min)/255), with
    * degenerate dimensions (max = min) pinned to scale = istep = 0 so
    * every code is 0 and reconstruction is exactly `min`. */
  def dimGrid(vectors: DataFrame, vecCol: String): (Seq[Double], Seq[Double], Seq[Double]) = {
    val collected = vectors
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      .where(col("x").isNotNull) // null elements must not NPE the grid
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("pos"))
      .collect()
    // fail loudly at grid-build time: an empty corpus (or an all-null
    // vector column) would otherwise yield an empty grid under which
    // encode() emits zero-length codes and every distance ties at 0.0
    require(collected.nonEmpty,
      s"SQ grid needs at least one non-null vector in '$vecCol'")
    // and the surviving positions must be DENSE 0..d-1: the null
    // filter can delete a dimension whose values are all null, after
    // which positional indexing into mins/scales/isteps would silently
    // misalign every later dimension in encode/dist — a shifted grid
    // is worse than the NPE it replaced
    val poss = collected.map(_.getInt(0))
    require(poss.sameElements(poss.indices),
      s"SQ grid positions not dense (a dimension of '$vecCol' is " +
        s"all-null): got ${poss.take(8).mkString(",")}..")
    val rows = collected.map(r => (r.getDouble(1), r.getDouble(2)))
    val mins = rows.map(_._1).toSeq
    val scales = rows.map { case (mn, mx) =>
      if (mx > mn) Levels.toDouble / (mx - mn) else 0.0 }.toSeq
    val isteps = rows.map { case (mn, mx) =>
      if (mx > mn) (mx - mn) / Levels.toDouble else 0.0 }.toSeq
    (mins, scales, isteps)
  }

  /** `array<bigint>` SQ codes of a (float/double) vector column —
    * native codegen kernel ([[graft.functions.SqExprs]]; the first
    * higher-order-function formulation evaluated interpreted and was
    * measured 10× slower than the exact scan it should undercut).
    * Codes are UNCLAMPED: corpus rows (which defined the grid) land in
    * 0..255 by construction, and an out-of-grid input still rounds to
    * the nearest grid point, keeping |x − recon| ≤ istep/2 — the
    * invariant the scan bounds actually rely on. */
  def encode(v: Column, mins: Seq[Double], scales: Seq[Double]): Column =
    graft.functions.SqExprs.encode(v.cast("array<double>"), mins, scales)

  /** Asymmetric squared-L2: full-precision query element vs the
    * de-quantized code, folded sequentially in index order, 6 dp —
    * native codegen kernel, one tight loop per pair. */
  def sqDist(qv: Column, codes: Column, mins: Seq[Double],
      isteps: Seq[Double]): Column =
    graft.functions.SqExprs.dist(qv, codes, mins, isteps)

  /** Codes-only top-k scan: broadcast query side against the
    * materialized code table (the localCheckpoint keeps the encode
    * out of the per-pair loop of the non-equi broadcast join). */
  def sqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val (mins, scales, isteps) = dimGrid(corpus, vecCol)
    val codes = corpus
      .select(col(idCol).as("c_id"), encode(col(vecCol), mins, scales).as("codes"))
      .localCheckpoint()
    val q = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("qv"))
    Pairs.topK(broadcast(q).join(codes, col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"),
          sqDist(col("qv"), col("codes"), mins, isteps).as("sdist")),
      Seq(col("q_id")), Seq(col("sdist").asc, col("c_id").asc), k)
  }

  /** IVF+SQ: coarse IVF cells bound WHICH codes a query scores (probe
    * equi-join on cell), SQ bounds what scoring each one COSTS — the
    * FAISS IVFScalarQuantizer layout, [[Pq.pqIvfTopK]]'s training-free
    * sibling. Nothing in the scoring path touches a stored full
    * vector; the candidate set meets on the cell equi-join, never a
    * nested loop. */
  def sqIvfTopK(corpus: DataFrame, queryPred: Column, idCol: String,
      vecCol: String, topK: Int, nProbe: Int,
      coarse: Seq[(Long, Seq[Double], Double)],
      mins: Seq[Double], scales: Seq[Double], isteps: Seq[Double]): DataFrame = {
    val assigned = SimSearch.ivfAssign(corpus, idCol, vecCol, coarse, p = nProbe)
      .localCheckpoint() // read twice: code table + probe lists
    val cells = assigned
      .select(col("id").as("c_id"),
        element_at(col("probes"), 1).getField("cid").as("cell"),
        encode(col("v"), mins, scales).as("codes"))
    val probes = assigned.where(queryPred)
      .select(col("id").as("q_id"), col("v").as("qv"),
        explode(col("probes").getField("cid")).as("cell"))
    Pairs.topK(probes.join(cells, Seq("cell")).where(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"),
          sqDist(col("qv"), col("codes"), mins, isteps).as("sdist")),
      Seq(col("q_id")), Seq(col("sdist").asc, col("c_id").asc), topK)
  }

  /** Two-stage scan: SQ prefilter from codes, exact squared-L2
    * re-rank of the candidates only — the corpus's full vectors are
    * read for prefilterK·|queries| rows, never the corpus (the same
    * discipline as [[Pq.adcRerankTopK]], one rung cheaper). */
  def sqRerankTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, prefilterK: Int, topK: Int): DataFrame = {
    val cand = sqTopK(queries, corpus, idCol, vecCol, prefilterK)
      .select(col("q_id"), col("c_id"))
    val qv = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val cv = corpus.select(col(idCol).as("c_id"),
      col(vecCol).cast("array<double>").as("cv"))
    Pairs.topK(cand.join(broadcast(qv), Seq("q_id")).join(cv, Seq("c_id"))
        .select(col("q_id"), col("c_id"),
          round(PqExprs.l2sq(col("qv"), col("cv")), 6).as("dist")),
      Seq(col("q_id")), Seq(col("dist").asc, col("c_id").asc), topK)
  }
}

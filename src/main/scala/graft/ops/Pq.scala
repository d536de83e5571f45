package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PqExprs

/** Product quantization over the embedding column — the vector
  * COMPRESSION layer beside [[SimSearch]]'s candidate-bounding layers
  * (LSH buckets, IVF cells). Reference scope: the similarity stack of
  * davideaimar/eth2dgraph (src/analysis/similarity.rs) stops at exact
  * pairwise scores; PQ is the published scale remedy (Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011) for
  * the part it leaves open — the per-candidate memory/bandwidth bill.
  *
  * Plan shapes, all linear in corpus size n:
  *  - codebook: one bounded Ksub-row collect (seed rows), sliced
  *    driver-side — M×Ksub×(d/M) doubles ride the expressions as
  *    plan-time data (8 KiB at the registered 8×16×8 shape).
  *  - encode: one zero-shuffle projection pass — n rows of O(Ksub·d)
  *    codegen'd arithmetic producing M-byte code rows. The stored
  *    index is codes only: d doubles → M codes (64× smaller at the
  *    registered shape), which is what a 10^10-vector corpus needs to
  *    fit a scan in cluster memory.
  *  - ADC scan: queries carry a per-row distance table (M×Ksub
  *    doubles, one [[PqExprs.distTable]] evaluation each); scoring a
  *    corpus code row is M array reads — no touching the original
  *    vectors. The scan is a broadcast of the small query side against
  *    the code table, shuffle-free; composition with IVF cells
  *    ([[pqIvfTopK]]) bounds it to the probed cells' codes.
  *
  * Determinism (shared with the DuckDB oracle replay): per-subspace
  * squared-L2 rounded at 6 dp before compare/sum, argmin ties to the
  * lower code, ADC sum folded in subspace order and rounded at 6 dp,
  * ranking ties on the lower corpus id.
  */
object Pq {

  /** Registered shape: 64-dim embeddings → 8 subspaces × 8 dims,
    * 16 centroids per subspace → 8 codes/vector (4-bit codes; stored
    * as int for engine-portability of the parquet dump). */
  val M = 8
  val Ksub = 16

  /** Id-seeded per-subspace codebooks: the Ksub lowest-id vectors,
    * sliced into M contiguous sub-vectors — the same deterministic
    * seeding discipline as [[SimSearch.ivfCentroids]], so the oracle
    * derives identical books from a LIMIT. Returns books(m)(j) =
    * centroid j of subspace m. */
  def seedBooks(vectors: DataFrame, idCol: String, vecCol: String,
      m: Int = M, ksub: Int = Ksub): Seq[Seq[Seq[Double]]] = {
    val rows = vectors
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("id")).limit(ksub)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val dim = rows.head._2.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).map(s => rows.toSeq.map(_._2.slice(s * sub, (s + 1) * sub)))
  }

  /** Per-subspace k-means-refined books: seeds from [[seedBooks]],
    * then fixed-round Lloyd's per subspace under squared-L2, with the
    * same order-independent DECIMAL(30,15) means as
    * [[SimSearch.trainCodebook]] — deterministic and replayable, used
    * by the ScaleLaws distortion/recall measurements (the registered
    * oracle query stays on the seed books to keep its SQL replay
    * bounded). One assignment projection + one (m, code, dim) partial
    * agg per round, linear in n. */
  def trainBooks(vectors: DataFrame, idCol: String, vecCol: String,
      m: Int = M, ksub: Int = Ksub, rounds: Int = 2): Seq[Seq[Seq[Double]]] = {
    var books = seedBooks(vectors, idCol, vecCol, m, ksub)
    val v = vectors.select(col(vecCol).cast("array<double>").as("v"))
    for (_ <- 1 to rounds) {
      val codes = v.withColumn("codes", PqExprs.encode(col("v"), books))
      val means = codes
        .select(posexplode(col("v")).as(Seq("pos", "x")), col("codes"))
        .withColumn("sub", col("pos") / lit(books.head.head.length))
        .select(col("sub").cast("int").as("sub"),
          pmod(col("pos"), lit(books.head.head.length)).as("dim"),
          element_at(col("codes"), col("sub").cast("int") + 1).as("code"),
          col("x"))
        .groupBy(col("sub"), col("code"), col("dim"))
        .agg(round(sum(col("x").cast("decimal(30,15)")).cast("double") /
          count(lit(1)), 6).as("mean"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((s, c), rows) =>
          (s, c) -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      books = books.zipWithIndex.map { case (book, s) =>
        book.zipWithIndex.map { case (cv, j) =>
          means.getOrElse((s, j), cv)
        }
      }
    }
    books
  }

  /** The stored PQ index: (id, codes array<int>) — one zero-shuffle
    * projection over the corpus. */
  def encodeCodes(vectors: DataFrame, idCol: String, vecCol: String,
      books: Seq[Seq[Seq[Double]]]): DataFrame =
    vectors.select(col(idCol).as("c_id"),
      PqExprs.encode(col(vecCol).cast("array<double>"), books).as("codes"))

  /** Query rows armed with their ADC distance tables. */
  def queryTables(queries: DataFrame, idCol: String, vecCol: String,
      books: Seq[Seq[Seq[Double]]]): DataFrame =
    queries.select(col(idCol).as("q_id"),
      PqExprs.distTable(col(vecCol).cast("array<double>"), books).as("dtab"))

  /** ADC top-k: each query scans the code table (broadcast query side,
    * shuffle-free) and keeps the k lowest approximate distances.
    * `adist` is the 6-dp ADC distance.
    *
    * The code table is MATERIALIZED before the scan: the q_id ≠ c_id
    * predicate makes this a broadcast nested-loop join, which streams
    * its child straight into the per-match loop — an unmaterialized
    * encode projection would re-run its O(Ksub·d) argmin per PAIR
    * instead of per corpus row (measured: 26 s vs 5 s for a 10.5M-pair
    * scan at 32k vectors). In production the codes are a stored index,
    * so the boundary exists anyway; this keeps ad-hoc callers safe. */
  def adcTopK(queries: DataFrame, codes: DataFrame, idCol: String,
      vecCol: String, books: Seq[Seq[Seq[Double]]], topK: Int): DataFrame = {
    val q = queryTables(queries, idCol, vecCol, books)
    val ksub = books.head.length
    val codesM = codes.localCheckpoint()
    Pairs.topK(broadcast(q).join(codesM, col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"),
          PqExprs.adcScore(col("dtab"), col("codes"), ksub).as("adist")),
      Seq(col("q_id")), Seq(col("adist").asc, col("c_id").asc), topK)
  }

  /** The production two-stage scan: ADC top-`prefilterK` candidates
    * from the compressed code table, then an EXACT squared-L2 re-rank
    * of only those candidates — full vectors are touched for
    * prefilterK·|queries| rows, not the corpus (at 10^10 vectors and
    * prefilterK=100 that is a 10^5× reduction in full-vector IO), and
    * the candidate re-rank joins are equi-joins on id, shuffling only
    * candidate rows. Recall is set by prefilterK (measured in the
    * ScaleLaws pq_rerank family); ranking determinism follows the
    * family contract (6-dp rounds, lower-id ties). */
  def adcRerankTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, books: Seq[Seq[Seq[Double]]], prefilterK: Int,
      topK: Int): DataFrame = {
    val codes = encodeCodes(corpus, idCol, vecCol, books)
    val cand = adcTopK(queries, codes, idCol, vecCol, books, prefilterK)
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

  /** Exact squared-L2 top-k — the uncompressed baseline the ADC scan
    * is measured against (and the metric-matched exact twin: cosine
    * brute force lives in [[SimSearch.bruteForceTopK]]). */
  def l2TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, topK: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val c = corpus.select(col(idCol).as("c_id"),
      col(vecCol).cast("array<double>").as("cv"))
    Pairs.topK(broadcast(q).join(c, col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"),
          round(PqExprs.l2sq(col("qv"), col("cv")), 6).as("dist")),
      Seq(col("q_id")), Seq(col("dist").asc, col("c_id").asc), topK)
  }

  /** IVF+PQ: coarse IVF cells bound WHICH codes a query scores (probe
    * equi-join on cell), PQ bounds what scoring each one COSTS — the
    * standard composed ANN index (FAISS's IVFPQ layout). Cells come
    * from [[SimSearch.ivfAssign]]'s zero-shuffle kernel against
    * `coarse`; codes/tables from `books`. */
  def pqIvfTopK(corpus: DataFrame, queryPred: Column, idCol: String,
      vecCol: String, topK: Int, nProbe: Int,
      coarse: Seq[(Long, Seq[Double], Double)],
      books: Seq[Seq[Seq[Double]]]): DataFrame = {
    val ksub = books.head.length
    val assigned = SimSearch.ivfAssign(corpus, idCol, vecCol, coarse, p = nProbe)
      .localCheckpoint() // read twice: code table + probe lists
    val cells = assigned
      .select(col("id").as("c_id"),
        element_at(col("probes"), 1).getField("cid").as("cell"),
        PqExprs.encode(col("v"), books).as("codes"))
    val probes = assigned.where(queryPred)
      .select(col("id").as("q_id"),
        PqExprs.distTable(col("v"), books).as("dtab"),
        explode(col("probes").getField("cid")).as("cell"))
    Pairs.topK(probes.join(cells, Seq("cell")).where(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"),
          PqExprs.adcScore(col("dtab"), col("codes"), ksub).as("adist")),
      Seq(col("q_id")), Seq(col("adist").asc, col("c_id").asc), topK)
  }
}

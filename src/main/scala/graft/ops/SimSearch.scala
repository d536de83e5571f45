package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an `Array[Float]`/`Array[Double]`
  * embedding column — the ANN layer of a training-data pipeline.
  *
  * Baseline: brute-force cosine top-k (exact; broadcastable query side).
  * Scale path: LSH bucketing via random-hyperplane signs — candidates
  * meet in buckets (equi-join, shuffle on bucket id) instead of a full
  * cross join, which is the 100-TB-safe formulation.
  */
object SimSearch {

  /** Sequential-fold dot product (deterministic summation order) —
    * native codegen expression, same IEEE fold order as the previous
    * `aggregate(zip_with(...))` and as the oracles' `list_reduce`. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column, an: Column, bn: Column): Column =
    dot(a, b) / (an * bn)

  /** Exact top-k cosine neighbors for each query row.
    * @param queries (idCol, vecCol) rows — small side, broadcast
    * @param corpus  (idCol, vecCol) rows */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, round6dp: Boolean = true): DataFrame = {
    val q = queries.select(
      col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    val c = corpus.select(
      col(idCol).as("c_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val cosRaw = cosine(col("qv"), col("cv"), col("qn"), col("cn"))
    val cos = if (round6dp) round(cosRaw, 6) else cosRaw
    Pairs.topK(broadcast(q).join(c, col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"), cos.as("cos")),
      Seq(col("q_id")), Seq(col("cos").desc, col("c_id").asc), k)
  }

  /** All near-duplicate pairs by cosine ≥ threshold (upper triangle).
    * Exact O(n²) formulation — correct at test scale; swap in
    * [[lshBuckets]] candidates for the 100-TB path. */
  def cosineDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val base = vectors.select(
      col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", l2norm(col("v")))
    val a = base.toDF("a_id", "av", "an")
    val b = base.toDF("b_id", "bv", "bn")
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosine(col("av"), col("bv"), col("an"), col("bn")), 6).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Embedding dimensionality / plane count used by the registered LSH
    * queries (the driver's embeddings table is 64-wide). */
  val LshDim = 64
  val LshPlanes = 8

  /** Hyperplane component (p, i) from a fixed integer LCG — deterministic
    * and reproducible in plain SQL (no RNG state), so the DuckDB oracle
    * derives the identical planes. Uniform in [-0.5, 0.5); for sign-bit
    * LSH a uniform distribution hashes as well as a Gaussian one. */
  def planeComponent(p: Int, i: Int): Double =
    ((1103515245L * (p * 131 + i) + 12345L) % 2147483648L) / 2147483648.0 - 0.5

  /** Random-hyperplane LSH bucket id: sign bits of dot products against
    * the [[planeComponent]] planes. Vectors sharing a bucket are cosine
    * candidates; join on (bucket) instead of cross join. */
  def lshBuckets(vectors: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, dim: Int = LshDim): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val bucket = (0 until nPlanes).map { p =>
      val plane = array((0 until dim).map(i => lit(planeComponent(p, i))): _*)
      when(dot(v, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    vectors.select(col(idCol).as("id"), v.as("v"), bucket.as("bucket"))
  }

  /** IVF defaults used by the registered queries: 16 coarse cells,
    * 2 probed per query. */
  val IvfK = 16
  val IvfProbe = 2

  /** Deterministic coarse centroids: the k lowest-id vectors — the
    * SEEDING step. [[trainCodebook]] runs fixed-round Lloyd's k-means
    * from this seed (still oracle-replayable); q139 measures the
    * trained codebook's recall against this raw seed. Centroids are
    * tiny (k rows) and broadcast everywhere they're used. */
  def ivfCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = IvfK): DataFrame =
    vectors.select(col(idCol).as("cid"), col(vecCol).cast("array<double>").as("cv"))
      .orderBy(col("cid")).limit(k)
      .withColumn("cn", l2norm(col("cv")))

  /** The codebook as plan-time data: a bounded k-row collect (k = the
    * IVF cell count, 16…√n — the same bounded-collect sanction as the
    * static-partition-pruning id list in Incremental). Collecting the
    * `cv`/`cn` values the Spark expressions produced means the per-row
    * kernel reuses them bit-for-bit. Sorted by cid for a canonical
    * plan; the kernel's (cc desc, cid asc) order is insertion-order
    * independent. */
  def collectCodebook(centroids: DataFrame): Seq[(Long, Seq[Double], Double)] =
    codebookOf(centroids.select(col("cid").cast("long").as("cid"), col("cv"),
      col("cn")).collect().toSeq)

  /** Collected codebook rows (`cid` bigint, `cv`, `cn`; other columns
    * ignored) as the codebook, sorted by cid. */
  def codebookOf(rows: Seq[Row]): Seq[(Long, Seq[Double], Double)] =
    rows.map(r => (r.getAs[Long]("cid"), r.getSeq[Double](r.fieldIndex("cv")),
      r.getAs[Double]("cn"))).sortBy(_._1)

  /** Single-pass nearest-cells assignment: (id, v, n, probes) where
    * `probes` is the top-`p` `struct<cc, cid>` list from the per-row
    * [[graft.functions.VectorExprs.nearestCells]] fold — n rows of
    * O(K·d) codegen'd arithmetic, ZERO shuffle. Replaces the
    * [[ivfRank]] crossJoin + window for assignment/probing: at the
    * K≈√n remedy scale the window pushed n×K rows through a sort
    * exchange (measured 0.9 s → 150 s as K went 64 → 256 at 32k
    * vectors); this stays linear in n. Bit-identical to ivfRank's
    * ranking (spec-pinned in SimSearchSpec). */
  def ivfAssign(vectors: DataFrame, idCol: String, vecCol: String,
      codebook: Seq[(Long, Seq[Double], Double)], p: Int): DataFrame =
    vectors.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", l2norm(col("v")))
      .withColumn("probes",
        graft.functions.VectorExprs.nearestCells(col("v"), codebook, p))

  /** Rank each vector's cosine against every codebook centroid (k rows
    * per vector via broadcast cross join — never a shuffle of the
    * corpus against itself). rn=1 is the inverted-file cell
    * assignment; rn<=nprobe gives a query's probe list. Rounded to 6dp
    * with centroid-id tie-break so the ranking is deterministic.
    *
    * Kept as the reference formulation the single-pass [[ivfAssign]]
    * is spec-pinned against; production callers (ivfCells/ivfTopK)
    * use the fold kernel, not this window.
    * @param centroids output of [[ivfCentroids]] over the CORPUS —
    *   queries and corpus must rank against the same codebook. */
  def ivfRank(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val base = vectors.select(
      col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", l2norm(col("v")))
    val w = Window.partitionBy(col("id")).orderBy(col("cc").desc, col("cid").asc)
    base.crossJoin(broadcast(centroids))
      .select(col("id"), col("v"), col("n"), col("cid"),
        round(cosine(col("v"), col("cv"), col("n"), col("cn")), 6).as("cc"))
      .withColumn("rn", row_number().over(w))
  }

  /** Cell assignment: (id, cell, v, n), one row per vector — the
    * single-pass argmin (p=1 probe list), no shuffle. */
  def ivfCells(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = IvfK): DataFrame = {
    val idT = vectors.schema(idCol).dataType
    val cb = collectCodebook(ivfCentroids(vectors, idCol, vecCol, k))
    ivfAssign(vectors, idCol, vecCol, cb, p = 1)
      .select(col("id"),
        element_at(col("probes"), 1).getField("cid").cast(idT).as("cell"),
        col("v"), col("n"))
  }

  /** IVF approximate top-k: queries probe their nProbe nearest cells
    * and score exactly only against vectors assigned there — candidate
    * generation is an equi-join on cell id (shuffle on cell), never a
    * query×corpus cross join. Recall is tunable via nProbe; this is
    * the 100-TB *plan shape* next to [[bruteForceTopK]]. Recall caveat:
    * with the raw id-seeded codebook ([[ivfCentroids]]) recall depends
    * on how representative the lowest-id vectors are; [[trainCodebook]]
    * is the deterministic Lloyd's trainer that fixes this, and
    * q139 measures trained-vs-seeded recall on the same corpus. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, topK: Int, k: Int = IvfK, nProbe: Int = IvfProbe): DataFrame = {
    val cb = collectCodebook(ivfCentroids(corpus, idCol, vecCol, k))
    val cells = ivfAssign(corpus, idCol, vecCol, cb, p = 1)
      .select(col("id").as("c_id"),
        element_at(col("probes"), 1).getField("cid").as("cell"),
        col("v").as("cv"), col("n").as("cn"))
    val probes = ivfAssign(queries, idCol, vecCol, cb, p = nProbe)
      .select(col("id").as("q_id"), col("v").as("qv"), col("n").as("qn"),
        explode(col("probes").getField("cid")).as("cell"))
    Pairs.topK(probes.join(cells, Seq("cell")).where(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"),
          round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("cos")),
      Seq(col("q_id")), Seq(col("cos").desc, col("c_id").asc), topK)
  }

  /** [[ivfTopK]] specialized for queries ⊆ corpus (selected by a
    * predicate): the codebook ranking runs ONCE over the corpus and
    * serves both the cell assignment and the probe lists — half the
    * assignment work of the general form. */
  def ivfTopKSelf(corpus: DataFrame, queryPred: Column, idCol: String,
      vecCol: String, topK: Int, k: Int = IvfK, nProbe: Int = IvfProbe): DataFrame =
    ivfTopKSelfWith(corpus, queryPred, idCol, vecCol, topK, nProbe,
      collectCodebook(ivfCentroids(corpus, idCol, vecCol, k)))

  /** [[ivfTopKSelf]] against a caller-supplied codebook (id-seeded or
    * [[trainCodebook]]-trained — the probe/scoring plan is identical). */
  def ivfTopKSelfWith(corpus: DataFrame, queryPred: Column, idCol: String,
      vecCol: String, topK: Int, nProbe: Int,
      cb: Seq[(Long, Seq[Double], Double)]): DataFrame = {
    val assigned = ivfAssign(corpus, idCol, vecCol, cb, p = nProbe)
      .localCheckpoint() // read twice: cells + probes
    val cells = assigned
      .select(col("id").as("c_id"),
        element_at(col("probes"), 1).getField("cid").as("cell"),
        col("v").as("cv"), col("n").as("cn"))
    val probes = assigned.where(queryPred)
      .select(col("id").as("q_id"), col("v").as("qv"), col("n").as("qn"),
        explode(col("probes").getField("cid")).as("cell"))
    Pairs.topK(probes.join(cells, Seq("cell")).where(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"),
          round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("cos")),
      Seq(col("q_id")), Seq(col("cos").desc, col("c_id").asc), topK)
  }

  /** Deterministic fixed-round Lloyd's k-means over the corpus — the
    * trained codebook that replaces [[ivfCentroids]]' id-seeded one
    * for real ANN quality, kept ORACLE-REPLAYABLE: id-seeded init, a
    * fixed round count, spherical assignment via the same single-pass
    * [[ivfAssign]] kernel, and means made order-independent by exact
    * DECIMAL(30,15) sums with a 6-dp rounded result (plain
    * sum(double) would hash-differ across partition orders and
    * engines). Per round: one zero-shuffle assignment pass + one
    * (cell, dim)-keyed aggregation whose map-side partial collapses
    * the shuffle to ≤ partitions×K×d rows — linear in n, cheap in K.
    * Empty cells keep their previous centroid. Cell labels stay the
    * seed ids. The k×d means land on the driver (bounded: the
    * codebook already lives there between rounds). */
  def trainCodebook(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = IvfK, rounds: Int = 3): Seq[(Long, Seq[Double], Double)] = {
    def foldNorm(a: Seq[Double]): Double = {
      var acc = 0.0
      a.foreach(x => acc += x * x) // same sequential fold as l2norm
      math.sqrt(acc)
    }
    var cb = collectCodebook(ivfCentroids(vectors, idCol, vecCol, k))
    for (_ <- 1 to rounds) {
      val means = ivfAssign(vectors, idCol, vecCol, cb, p = 1)
        .select(element_at(col("probes"), 1).getField("cid").as("cell"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(sum(col("x").cast("decimal(30,15)")).cast("double") /
          count(lit(1)), 6).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cb = cb.map { case (cid, cv, cn) =>
        means.get(cid) match {
          case Some(m) => (cid, m, foldNorm(m))
          case None => (cid, cv, cn)
        }
      }
    }
    cb
  }

  /** splitmix64 (public-domain finalizer constants) — the JL plane
    * entry generator. The [[planeComponent]] LCG is fine for SIGN
    * buckets but is affine in its seed, and an affine family's rows
    * are too correlated to serve as a projection BASIS: the first
    * `jl_distortion` run measured its cosine distortion FLAT in d′
    * (0.38 → 0.31 over d′ = 8 → 64) where the law demands ~1/√d′
    * halving; with this mix the family sits on the i.i.d.-gaussian
    * reference at every d′ (0.283/0.195/0.138/0.100 vs
    * 0.289/0.202/0.144/0.100). Oracles don't re-derive the mix — the
    * SQL inlines the plane values as literals (round-tripping
    * Double.toString), the keccak-golden precedent. */
  def splitmix64(x0: Long): Long = {
    val x = x0 + 0x9E3779B97F4A7C15L
    var z = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** JL plane entry (p, i): splitmix64 of the (plane, dim) pair, top
    * 53 bits mapped to uniform [0, 1), centered to [-0.5, 0.5).
    * `seed` rotates the whole family (a maintained index stores its
    * family's seed beside the codebook — [[graft.streaming
    * .SemanticStream]]'s JL sidecar); seed 0 is the historical
    * family q158/q159's oracles inline.
    *
    * The seed is MIXED through splitmix64 before combining with the
    * (plane, dim) index: the earlier additive form
    * `splitmix64(seed + ((p<<32)+i))` made nearby-seed families
    * shifted copies of each other — family s, dim i equals family 0,
    * dim i+s on the same plane — so "rotated" families were
    * correlated, not independent. Seed 0 maps to mix 0 (x ^ 0 = x),
    * keeping the historical family bit-identical. */
  def jlPlaneComponent(p: Int, i: Int, seed: Long = 0L): Double = {
    val mixed = if (seed == 0L) 0L else splitmix64(seed)
    (splitmix64(mixed ^ ((p.toLong << 32) + i)) >>> 11)
      .toDouble / 9007199254740992.0 - 0.5
  }

  /** Johnson–Lindenstrauss random projection: d → dOut via the
    * [[jlPlaneComponent]] family (row p of the projection matrix =
    * plane p; uniform entries — for cosine comparisons the JL scale
    * factor cancels, so none is applied). One zero-shuffle projection
    * pass, dOut sequential-fold dots per row. The dimensionality lever
    * composes UNDER the others: project, then LSH/IVF/PQ the short
    * vectors — at d=4096 model embeddings, d′=64 cuts every
    * downstream per-pair and per-assignment cost 64× while JL
    * concentration bounds the cosine distortion (~1/√d′); q158 and
    * the `jl_distortion` ScaleLaws family MEASURE the distortion
    * instead of asserting it. */
  def jlProject(vectors: DataFrame, idCol: String, vecCol: String,
      dOut: Int, dim: Int = LshDim, seed: Long = 0L): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val comps = (0 until dOut).map { p =>
      val plane = array((0 until dim).map(i =>
        lit(jlPlaneComponent(p, i, seed))): _*)
      dot(v, plane)
    }
    vectors.select(col(idCol).as("id"), array(comps: _*).as("pv"))
  }

  /** LSH-accelerated near-dup pairs: bucket join then exact re-rank. */
  def lshDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int, dim: Int = LshDim): DataFrame = {
    val bucketed = lshBuckets(vectors, idCol, vecCol, nPlanes, dim)
      .withColumn("n", l2norm(col("v")))
    val a = bucketed.toDF("a_id", "av", "bucket", "an")
    val b = bucketed.toDF("b_id", "bv", "bucket", "bn")
    a.join(b, Seq("bucket")).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosine(col("av"), col("bv"), col("an"), col("bn")), 6).as("cos"))
      .where(col("cos") >= threshold)
      .dropDuplicates("a_id", "b_id")
  }
}

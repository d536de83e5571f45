package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Lsh, Pairs, SimSearch, TextAnalysis}

/** Empirical validation of the SCALE.md candidate-volume laws — the
  * dedup/ANN family's scale claims, MEASURED instead of reasoned.
  *
  * The driver corpus tops out at 5k documents (sf0.1), far too small to
  * see a quadratic term, so [[amplifyDocs]]/[[amplifyEmbeddings]]
  * synthesize deterministic k× corpora of DISTINCT rows: copy 0 is the
  * original; copy c > 0 suffixes EVERY token with a (copy, doc_id) key
  * (so copies share no tokens, no shingles, and sit far apart in
  * fingerprint space) or applies a per-copy orthonormal sign-flip
  * transform to the embeddings (within-copy geometry BIT-exactly
  * preserved, cross-copy cosines reduced to random-sign noise).
  * Growth in candidate volume beyond
  * linear-in-n therefore measures the RANDOM bucket-collision term
  * `Σ_bucket |bucket|² ≈ n²/K` — the law under test — not
  * replica-cluster structure an amplifier would fabricate.
  *
  * Each family method returns (candidates BEFORE re-rank, surviving
  * pairs); `main` times them per scale and prints a JSON line + a
  * markdown table row per (family, scale) for SCALE.md.
  *
  * Usage: `runMain graft.bench.ScaleLaws <sfDir> [factors csv, default
  * 1,4,16] [family-substring filter csv]`.
  */
object ScaleLaws {

  /** k× document corpus of DISTINCT rows (see class doc). */
  def amplifyDocs(docs: DataFrame, factor: Int): DataFrame = {
    val spark = docs.sparkSession
    if (factor <= 1)
      return docs.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val toks = graft.ops.TextAnalysis.tokens(col("text"))
    // EVERY token gets a (copy, doc_id)-keyed suffix, making each copy
    // a fully DISTINCT document: a partial mutation leaves enough
    // shared tokens that SimHash still fingerprints copies of the
    // template-heavy originals as near-dups, and the amplifier would
    // then fabricate quadratic duplicate-cluster growth that drowns the
    // random-collision term the law is about. The suffix carries the
    // FULL doc_id, not just copy, because byte-identical originals
    // exist under different ids — a copy-only suffix (or a truncated
    // id, which collides ids 997 apart) would mutate them identically
    // and re-fabricate those clusters too.
    val mutated = concat_ws(" ", transform(toks, (t, _) =>
      concat(t, lit("_"), col("copy"), lit("x"), col("doc_id"))))
    docs.crossJoin(broadcast(spark.range(0, factor).toDF("copy")))
      .select(
        (col("doc_id") * factor + col("copy")).as("doc_id"),
        when(col("copy") === 0, col("text")).otherwise(mutated).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
  }

  /** k× embedding corpus: copy c flips each dimension's sign by a
    * deterministic Murmur3-mixed per-(copy, dim) pattern — a diagonal
    * ±1 ORTHONORMAL transform. ±x·±y = x·y is EXACT in IEEE and the
    * summation order is untouched (deliberately NO dimension roll — a
    * permutation would perturb the sequential-fold dot products by
    * ulps), so every WITHIN-copy cosine is BIT-identical to the base
    * corpus: each copy carries the full base dup geometry exactly,
    * which [[semanticDedupSharded]] pins as an equality law.
    * CROSS-copy cosines see the composed random-sign pattern
    * s_c·s_c′: mean 0, std ~1/√d. That floor is IRREDUCIBLE — at
    * d=64 the sphere gives P(cos ≥ 0.3) ≈ 5% per pair under ANY
    * orthonormal decorrelation (measured: the r5 roll-only amplifier
    * and this one produce global-quantizer dup counts within 0.3% of
    * each other), so permissive-threshold pair columns of
    * GLOBAL-quantizer families carry that quantified noise term, not
    * an amplifier bug. (A raw LCG high bit is near-periodic in i and
    * does not decorrelate — measured; no oracle reads the amplifier,
    * so hash() needs no SQL replay.) */
  def amplifyEmbeddings(emb: DataFrame, factor: Int): DataFrame = {
    val spark = emb.sparkSession
    if (factor <= 1)
      return emb.repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
    val mutated = transform(col("embedding"), (x, i) =>
      x * when(pmod(hash(col("copy"), i), lit(2)) === 0, lit(1.0))
        .otherwise(lit(-1.0)))
    emb.crossJoin(broadcast(spark.range(0, factor).toDF("copy")))
      .select(
        (col("vec_id") * factor + col("copy")).as("vec_id"),
        when(col("copy") === 0, col("embedding").cast("array<double>"))
          .otherwise(mutated).as("embedding"),
        col("label"))
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
  }

  /** Deterministic SLOT-ALIGNED synthetic corpus — the trained-geometry
    * fixture the r11 verdict asked for: every slot-face recall number
    * up to r11 rode embeddings whose pooled/multi-vector orderings
    * DECORRELATE (honest but unrepresentative — it UNDERSTATES gather
    * enrichment, because real late-interaction encoders align slots by
    * construction). Here each of a doc's `slices` slots is one of
    * `topics` shared topic vectors plus 5% noise — the slot space is a
    * mixture of `topics` tight clusters, the way trained token
    * embeddings cluster by term — so MaxSim-similar docs share topic
    * slots, shared topic slots land in the same slot cells, and gather
    * enrichment is structural rather than accidental. Everything is a
    * pure hash of (vec_id, pos, i): no RNG, replayable anywhere.
    * Coverage math: a query slot's topic matches a doc slot with
    * probability ≈ 1/topics, so the per-query gathered fraction at
    * probe-per-topic resolution is ≈ 1 − (1 − T·np_eff/topics)^T —
    * `topics` is the selectivity dial (1024 topics × T = 8 puts the
    * gather union near 5–10%). */
  def slotTopicEmbeddings(spark: org.apache.spark.sql.SparkSession,
      n: Long, topics: Int, slices: Int = 8, w: Int = 8): DataFrame = {
    val emb = flatten(transform(sequence(lit(0), lit(slices - 1)), p => {
      val topic = pmod(hash(col("vec_id"), p), lit(topics))
      transform(sequence(lit(0), lit(w - 1)), i =>
        (pmod(hash(lit(1042), topic, i), lit(2001)).cast("double")
          - lit(1000.0)) / lit(1000.0)
          + (pmod(hash(col("vec_id"), p, i), lit(2001)).cast("double")
            - lit(1000.0)) / lit(20000.0))
    }))
    spark.range(0, n).toDF("vec_id")
      .select(col("vec_id"), emb.as("embedding"),
        pmod(col("vec_id"), lit(10L)).cast("int").as("label"))
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
  }

  /** q112's DEMO shape uncapped: one 16-bit SimHash (the native wide
    * expression's first quarter), 2×8-bit halves → K = 2⁸ bucket keys.
    * Predicted candidates ≈ n²/2⁸ — the narrow-key law term. */
  def simhashNarrow(docs: DataFrame): (Long, Long) = {
    val sh = docs
      .withColumn("QS", graft.functions.EvmExprs.simHashQuartersFromText(col("text")))
      .select(col("doc_id"), element_at(col("QS"), 1).as("sh"))
      .localCheckpoint()
    val bands = sh.select(col("doc_id"), lit(0).as("half"),
        (col("sh") / 256L).cast("long").as("key"))
      .unionByName(sh.select(col("doc_id"), lit(1).as("half"),
        (col("sh") % 256L).as("key")))
    val cand = Lsh.selfPairs(bands).localCheckpoint()
    val pairs = Pairs.sides(cand, sh, Seq("a_sh"), Seq("b_sh"))
      .where(bit_count(col("a_sh").bitwiseXOR(col("b_sh"))) <= 1).count()
    val nCand = cand.count()
    sh.unpersist(true); cand.unpersist(true)
    (nCand, pairs)
  }

  /** q121's scale shape: 4×16-bit quarters → K = 2¹⁶ bucket keys.
    * Predicted candidates ≈ 4·(n²/2)/2¹⁶ = n²/2¹⁵ per the same law —
    * 64× fewer than the narrow shape at every n. */
  def simhashWide(docs: DataFrame): (Long, Long) = {
    val sh = docs
      .withColumn("QS", graft.functions.EvmExprs.simHashQuartersFromText(col("text")))
      .select(col("doc_id") +: (0 until 4).map(k =>
        element_at(col("QS"), k + 1).as(s"q$k")): _*)
      .localCheckpoint()
    val cand = Lsh.selfPairs(Lsh.quarterBands(sh, 4)).localCheckpoint()
    val pairs = Pairs.hammingJoin(cand, sh, sh, "a_id", "b_id", 4)
      .where(col("hamming") <= 3).count()
    val nCand = cand.count()
    sh.unpersist(true); cand.unpersist(true)
    (nCand, pairs)
  }

  /** q28's MinHash banding: 2 bands of 2 hashes — K is the joint
    * 2-hash key space, so random collisions are rare and candidates
    * track the corpus's TRUE resemblance structure (near-linear). */
  def minhashBands(docs: DataFrame): (Long, Long) = {
    val sig = Lsh.signatures(docs).localCheckpoint()
    val cand = Lsh.selfPairs(Lsh.bands(sig)).localCheckpoint()
    val pairs = cand
      .join(Lsh.prefixed(sig, "a_id", "a"), "a_id")
      .join(Lsh.prefixed(sig, "b_id", "b"), "b_id")
      .where(Lsh.agreement("a", "b") >= 0.5).count()
    val nCand = cand.count()
    sig.unpersist(true); cand.unpersist(true)
    (nCand, pairs)
  }

  /** q24's shingle-hash equi-join with the df cap: candidate volume is
    * Σ_shingle df² over surviving shingles — the df cap is the lever
    * that keeps it from going quadratic on hot shingles. */
  def shingleJaccard(docs: DataFrame): (Long, Long) = {
    val sh = docs.select(col("doc_id"), TextAnalysis.shingleRows).localCheckpoint()
    val joinable = TextAnalysis.dfCappedShingles(sh).localCheckpoint()
    val sizes = joinable.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = Pairs.sharedKey(joinable, "sh")
      .where(col("inter") >= 2).localCheckpoint()
    val pairs = Pairs.sides(inter, sizes, Seq("na"), Seq("nb"))
      .where(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")) >= 0.5).count()
    val nCand = inter.count()
    sh.unpersist(true); joinable.unpersist(true); inter.unpersist(true)
    (nCand, pairs)
  }

  /** q134's span-level exact-substring dedup. Documents are never
    * paired — spans meet in a groupBy on the window hash — so the laws
    * under test are LINEARITY and KEY WIDTH: candidates = the
    * (doc, span) explode volume (the only shuffle), which must grow
    * exactly ~n; pairs = docs with at least one span shared verbatim,
    * which must stay CONSTANT under amplification (copies share no
    * tokens, so they can add no true dups). The first measurement of
    * this family, with a single 30-bit rolling hash, caught the pair
    * count CLIMBING 526 → 13 058 from 5k to 80k docs — pure birthday
    * collision of the narrow key — which is why q134 and this family
    * use the 60-bit composite (bases 131/137). */
  def spanDedup(docs: DataFrame): (Long, Long) = {
    val th = transform(graft.ops.TextAnalysis.tokens(col("text")),
      t => graft.ops.TextAnalysis.tokenHash(t))
    val spans = graft.ops.TextAnalysis.spanHashes(col("TH"), 8)
    val spanSets = docs
      .withColumn("TH", th)
      .select(col("doc_id"), explode(spans).as("sp"))
      .distinct().localCheckpoint()
    val dup = spanSets.groupBy(col("sp")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("sp")
    val dupDocs = spanSets.join(dup, Seq("sp"), "left_semi")
      .select("doc_id").distinct().count()
    val nCand = spanSets.count()
    spanSets.unpersist(true)
    (nCand, dupDocs)
  }

  /** q138's exact-confirm layer PROVEN against the deliberately
    * narrowed 30-bit span key — the width this harness measured
    * accreting birthday false-dups (526 → 13,058 key-level dup docs
    * from 5k to 80k). candidates := docs with ≥1 KEY-level dup span
    * (inflates with collisions); pairs := docs with ≥1 verbatim-
    * CONFIRMED dup span, which must stay at the copy-0 base under
    * amplification (copies share no tokens, so the confirm join — not
    * the key width — carries correctness). */
  def spanConfirmNarrow(docs: DataFrame): (Long, Long) = {
    val counts = graft.queries.TextOps.spanConfirmCounts(docs,
      th => graft.ops.TextAnalysis.spanHashesNarrow(th, 8)).localCheckpoint()
    val keyDup = counts.where(col("n_dup_spans") > 0).count()
    val conf = counts.where(col("n_dup_spans_confirmed") > 0).count()
    counts.unpersist(true)
    (keyDup, conf)
  }

  /** Σ_key C(|group|, 2) — the exact equi-join pair volume of a keyed
    * frame, computed from the bucket histogram so the measurement
    * itself stays cheap. */
  private def pairVolume(df: DataFrame, keyCol: String): Long =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * (col("n") - 1) / 2).cast("long")).head().getLong(0)

  /** q32/q33's random-hyperplane LSH: K = 2^planes buckets; candidates
    * = Σ_bucket C(|bucket|, 2). Counted from the bucket histogram (the
    * exact join volume) so the measurement itself stays cheap.
    * `nPlanes` is the K lever — the scaled-K family grows it with n to
    * measure the documented remedy, not just the fixed-K disease. */
  def lshCosine(emb: DataFrame,
      nPlanes: Int = SimSearch.LshPlanes): (Long, Long) = {
    val bucketed = SimSearch.lshBuckets(emb, "vec_id", "embedding",
      nPlanes).localCheckpoint()
    val cand = pairVolume(bucketed, "bucket")
    val pairs = {
      val withN = bucketed.withColumn("n", SimSearch.l2norm(col("v")))
      val a = withN.toDF("a_id", "av", "bucket", "an")
      val b = withN.toDF("b_id", "bv", "bucket", "bn")
      a.join(b, Seq("bucket")).where(col("a_id") < col("b_id"))
        .where(SimSearch.cosine(col("av"), col("bv"), col("an"), col("bn")) >= 0.2)
        .count()
    }
    bucketed.unpersist(true)
    (cand, pairs)
  }

  /** q135's SemDeDup shape: within-IVF-cell cosine pairs with the
    * keep-first representative rule. The LAW under test is the
    * candidate column (Σ cell-pair volume): ~n²/K at fixed K, linear
    * when `k` grows with n — the same two-sided story as the IVF
    * probe, measured on the dedup operator itself.
    *
    * The dup-count column of THIS (global-quantizer) family is NOT a
    * clean ×factor law, and measurably cannot be: swapping the r5
    * roll-only amplifier for the orthonormal roll+sign-flip one moved
    * the counts by <0.3% (6595→6593 at f4, 30751→30838 at f16) —
    * the excess over ×factor is the IRREDUCIBLE random-direction tail
    * at d=64, P(cos ≥ 0.3) ≈ (1−0.09)^31 ≈ 5% per cross-copy
    * within-cell pair (no orthonormal transform can beat the sphere's
    * concentration), amplified by the global codebook assigning 74%
    * of vectors to another copy's centroid. The PINNABLE form is
    * [[semanticDedupSharded]]. */
  def semanticDedup(emb: DataFrame, k: Int = SimSearch.IvfK): (Long, Long) = {
    val cells = SimSearch.ivfCells(emb, "vec_id", "embedding", k)
      .localCheckpoint()
    val cand = pairVolume(cells, "cell")
    val a = cells.toDF("vec_id", "cell", "av", "an")
    val b = cells.toDF("b_id", "cell", "bv", "bn")
    val dups = a.join(b, Seq("cell"))
      .where(col("b_id") < col("vec_id"))
      .where(round(SimSearch.cosine(
        col("av"), col("bv"), col("an"), col("bn")), 6) >= 0.3)
      .select("vec_id").distinct().count()
    cells.unpersist(true)
    (cand, dups)
  }

  /** q135's dedup run per SHARD (copy) with each shard's own
    * 16-cell codebook — the partitioned deployment shape (dedup
    * within a date/source partition before a global pass). Because
    * the amplifier's per-copy transform is orthonormal (cosines
    * preserved to the ulp) and id-monotone (seed order preserved),
    * every shard replays the base corpus's dedup EXACTLY, so both
    * candidates and dups must be EXACTLY ×factor — the pinnable
    * amplifier-correctness law the global-quantizer column can't give
    * (ScaleLawSpec asserts equality, catching any amplifier change
    * that fabricates or destroys dup structure). */
  def semanticDedupSharded(emb: DataFrame, factor: Int): (Long, Long) =
    (0 until math.max(factor, 1)).map { c =>
      semanticDedup(emb.where(pmod(col("vec_id"), lit(factor.max(1))) === c),
        SimSearch.IvfK)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))

  /** q34/q35's IVF: every vector probes its nProbe nearest of K cells;
    * candidates = Σ probe-side × cell-side meeting on the cell id.
    * nProbe/K tune candidates INDEPENDENTLY of n — the claim under
    * test is that candidates grow ~n²·nProbe/K, i.e. the same law with
    * a tunable constant. This family has no threshold re-rank, so the
    * "surviving pairs" slot is 0 by definition — candidates are the
    * measurement. */
  def ivfProbe(emb: DataFrame, k: Int = SimSearch.IvfK): (Long, Long) = {
    val cb = SimSearch.collectCodebook(
      SimSearch.ivfCentroids(emb, "vec_id", "embedding", k))
    val assigned = SimSearch.ivfAssign(emb, "vec_id", "embedding", cb,
        SimSearch.IvfProbe)
      .select(col("id"), col("probes").getField("cid").as("pcids"))
      .localCheckpoint()
    val cells = assigned.select(element_at(col("pcids"), 1).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("nc"))
    val probes = assigned.select(explode(col("pcids")).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("np"))
    val cand = cells.join(probes, Seq("cid"))
      .agg(sum(col("nc") * col("np"))).head().getLong(0)
    assigned.unpersist(true)
    (cand, 0L)
  }

  /** The END-TO-END curation chain (q141/q142) over the amplified
    * corpus — the per-stage families above measure each candidate
    * generator alone; this one measures their COMPOSITION (two window
    * shuffles + band join + shingle semi-join + per-row gates) so a
    * cross-stage blowup can't hide between green per-stage laws.
    * Returns (docs surviving decontamination [s3], packed manifest
    * rows within budget). Laws: s3 grows ~linearly in n (the exact /
    * near-dup / bench-member removals are all per-copy); the packed
    * manifest is EXACTLY invariant under amplification, because (a)
    * every mutated copy's stopword_ratio is 0 (the token suffixes
    * destroy stopwords) so only copy-0 reaches the quality gate, and
    * (b) copy-0 replays the base run bit-for-bit: its doc_ids scale
    * by `factor` (order-preserving), and bench membership is preserved
    * since doc_id·factor ≡ 0 (mod 29) ⟺ doc_id ≡ 0 for any factor
    * coprime to the prime 29 (true of 1/4/16). */
  def curatePipeline(docs: DataFrame): (Long, Long) = {
    val stages = graft.queries.TextOps.curateStagesOf(docs).toMap
    val s3 = stages("s3").count()
    val packed = stages("packed")
      .where(col("cum_toks") <= graft.queries.TextOps.CurateTokenBudget)
      .count()
    (s3, packed)
  }

  /** q148's two scan formulations at IDENTICAL candidate volume
    * (queries = vec_id % 97 == 0 scoring the whole corpus, top-10):
    * candidates := q×(n−1) scored pairs for both, pairs := the top-10
    * row count. The secs ratio exact/adc at equal candidates is the
    * PQ compression dividend — each ADC score reads M=8 table entries
    * instead of d=64 doubles (and the shuffled scan state is 8 codes
    * per corpus row, not the vector). [[pqRecall]] prices the
    * approximation. */
  def l2ExactScan(emb: DataFrame): (Long, Long) = {
    val q = emb.where(pmod(col("vec_id"), lit(97)) === 0)
    val rows = graft.ops.Pq.l2TopK(q, emb, "vec_id", "embedding", 10).count()
    val nq = q.count()
    (nq * (emb.count() - 1), rows)
  }

  def pqAdcScan(emb: DataFrame): (Long, Long) = {
    val books = graft.ops.Pq.seedBooks(emb, "vec_id", "embedding")
    val codes = graft.ops.Pq.encodeCodes(emb, "vec_id", "embedding", books)
    val q = emb.where(pmod(col("vec_id"), lit(97)) === 0)
    val rows = graft.ops.Pq.adcTopK(q, codes, "vec_id", "embedding", books, 10).count()
    val nq = q.count()
    (nq * (emb.count() - 1), rows)
  }

  /** The production two-stage shape ([[graft.ops.Pq.adcRerankTopK]]):
    * ADC top-100 prefilter from codes, exact re-rank of candidates
    * only. candidates := prefilter rows (the full-vector IO bound),
    * pairs := recall hits@10 vs the exact scan — the measured claim is
    * that a 100-row prefilter recovers most of what raw ADC@10 loses
    * while touching full vectors for ~0.3% of the corpus. */
  def pqRerank(emb: DataFrame): (Long, Long) = {
    import graft.ops.Pq
    val books = Pq.seedBooks(emb, "vec_id", "embedding")
    val q = emb.where(pmod(col("vec_id"), lit(97)) === 0)
    val exact = Pq.l2TopK(q, emb, "vec_id", "embedding", 10)
      .select("q_id", "c_id").localCheckpoint()
    val rr = Pq.adcRerankTopK(q, emb, "vec_id", "embedding", books,
        prefilterK = 100, topK = 10)
      .select("q_id", "c_id").localCheckpoint()
    val hits = exact.join(rr, Seq("q_id", "c_id"), "left_semi").count()
    val nCand = q.count() * 100
    exact.unpersist(true); rr.unpersist(true)
    (nCand, hits)
  }

  /** Recall@10 of the ADC scan against the exact scan, seeded vs
    * Lloyd-refined books: candidates := exact top-10 rows, pairs :=
    * hits — pairs/candidates is the recall. Not a throughput row (it
    * runs both scans); the law is the recall RATIO between the
    * trained and seeded variants as n grows while the books stay
    * 8×16. */
  def pqRecall(emb: DataFrame, trained: Boolean): (Long, Long) = {
    import graft.ops.Pq
    val books =
      if (trained) Pq.trainBooks(emb, "vec_id", "embedding", rounds = 2)
      else Pq.seedBooks(emb, "vec_id", "embedding")
    val codes = Pq.encodeCodes(emb, "vec_id", "embedding", books)
    val q = emb.where(pmod(col("vec_id"), lit(97)) === 0)
    val exact = Pq.l2TopK(q, emb, "vec_id", "embedding", 10)
      .select("q_id", "c_id").localCheckpoint()
    val approx = Pq.adcTopK(q, codes, "vec_id", "embedding", books, 10)
      .select("q_id", "c_id")
    val hits = exact.join(approx, Seq("q_id", "c_id"), "left_semi").count()
    val nExact = exact.count()
    exact.unpersist(true)
    (nExact, hits)
  }

  /** The d=512 contrast pair: the d=64 scans above measure PARITY
    * (per-pair cost there is join/window/rounding machinery, not
    * arithmetic — the d=64 dividend is the 64× smaller scan state).
    * Production embedding dims are 512–4096, where the per-pair
    * arithmetic DOES dominate: these two families widen the corpus to
    * d=512 (deterministic 8× self-concatenation — distances scale ×8,
    * rankings unchanged) so the exact side pays 512 FMAs/pair while
    * ADC still pays M=8 table reads — the FLOP dividend, measured.
    * The one-off encode pass (16×512 mults/row) is part of the timed
    * ADC side; it amortizes over every query of the index's life. */
  def scan512(emb: DataFrame, adc: Boolean): (Long, Long) = {
    import graft.ops.Pq
    val e512 = emb.select(col("vec_id"),
        flatten(array_repeat(col("embedding").cast("array<double>"), 8))
          .as("embedding"))
      .localCheckpoint()
    val q = e512.where(pmod(col("vec_id"), lit(97)) === 0)
    val rows =
      if (adc) {
        val books = Pq.seedBooks(e512, "vec_id", "embedding")
        val codes = Pq.encodeCodes(e512, "vec_id", "embedding", books)
        Pq.adcTopK(q, codes, "vec_id", "embedding", books, 10).count()
      } else Pq.l2TopK(q, e512, "vec_id", "embedding", 10).count()
    val n = e512.count()
    val nq = q.count()
    e512.unpersist(true)
    (nq * (n - 1), rows)
  }

  /** q157's posting-join law: each query term meets only documents
    * containing it, so the scored-pair volume follows the query terms'
    * POSTING LISTS, not query × corpus. Amplified copies share no
    * tokens, so per-copy postings stay per-copy-local and the volume
    * must grow ~linearly in n even as the query count scales with the
    * corpus. candidates := scored (query, doc) pairs, pairs := top-5
    * rows. */
  def bm25Postings(docs: DataFrame): (Long, Long) = {
    val toks = docs.select(col("doc_id"),
        explode(graft.ops.TextAnalysis.tokens(col("text"))).as("t"))
      .localCheckpoint()
    val tf = toks.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val qterms = toks.where(pmod(col("doc_id"), lit(997)) === 0)
      .select(col("doc_id").as("q_id"), col("t")).distinct()
    val pairs = qterms.join(tf, Seq("t"))
      .select(col("q_id"), col("doc_id")).distinct()
    val nCand = pairs.count()
    val topk = Pairs.topK(qterms.join(tf, Seq("t"))
        .groupBy(col("q_id"), col("doc_id")).agg(count(lit(1)).as("n_shared")),
      Seq(col("q_id")), Seq(col("n_shared").desc, col("doc_id").asc), 5).count()
    toks.unpersist(true)
    (nCand, topk)
  }

  /** q160's SQ8 asymmetric scan at the same query sample and k as
    * [[l2ExactScan]]/[[pqAdcScan]] — the third column of the
    * compression-ladder comparison (full vectors / 8× SQ codes / 64×
    * PQ codes) on identical candidate volume. */
  def sqScan(emb: DataFrame): (Long, Long) = {
    val q = emb.where(pmod(col("vec_id"), lit(97)) === 0)
    val rows = graft.ops.Sq.sqTopK(q, emb, "vec_id", "embedding", 10).count()
    val nq = q.count()
    (nq * (emb.count() - 1), rows)
  }

  /** q161's two-stage recall, [[pqRerank]]'s twin: SQ top-100
    * prefilter, exact re-rank, hits@10 vs the exact scan. The law is
    * SQ recall ≥ PQ recall at the same prefilter (8× compression
    * keeps per-dim resolution PQ's 64× gives up). */
  def sqRerank(emb: DataFrame): (Long, Long) = {
    import graft.ops.{Pq, Sq}
    val q = emb.where(pmod(col("vec_id"), lit(97)) === 0)
    val exact = Pq.l2TopK(q, emb, "vec_id", "embedding", 10)
      .select("q_id", "c_id").localCheckpoint()
    val rr = Sq.sqRerankTopK(q, emb, "vec_id", "embedding",
        prefilterK = 100, topK = 10)
      .select("q_id", "c_id").localCheckpoint()
    val hits = exact.join(rr, Seq("q_id", "c_id"), "left_semi").count()
    val nCand = q.count() * 100
    exact.unpersist(true); rr.unpersist(true)
    (nCand, hits)
  }

  /** q163's skipping law on a uniform synthetic grid (x cycles with
    * doc_id, y is a hash spread so the full key space is populated at
    * EVERY n): a y-band probe's touched-row footprint under the
    * z-order layout vs the x-major layout at 64 files. candidates :=
    * z-order touched rows (should track band-fraction × n ≈ n/8 plus
    * file-boundary slack), pairs := x-major touched rows (→ n: every
    * file holds the full y extent). */
  def zorderSkip(docs: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(
        (col("doc_id") % 256).as("x"), pmod(hash(col("doc_id")), lit(256)).cast("long").as("y"))
      .withColumn("zkey", graft.ops.ZOrder.interleave(col("x"), col("y"), 8))
      .localCheckpoint()
    def bandRows(order: Seq[org.apache.spark.sql.Column]): Long =
      base.withColumn("f", ntile(64).over(Window.orderBy(order: _*)))
        .groupBy(col("f"))
        .agg(count(lit(1)).as("n"), min(col("y")).as("mny"), max(col("y")).as("mxy"))
        .where(col("mny") <= 31 && col("mxy") >= 0) // y-band [0, 31]
        .agg(coalesce(sum(col("n")), lit(0L)))
        .head().getLong(0)
    val z = bandRows(Seq(col("zkey"), col("x"), col("y")))
    val lin = bandRows(Seq(col("x"), col("y")))
    base.unpersist(true)
    (z, lin)
  }

  /** q164's unigram-LM scoring: model build (one count agg) + the
    * posting-shaped scoring join + per-doc mean. candidates := token
    * instances (the join's probe side), pairs := docs scored — both
    * linear in n; the timing row is the law. */
  def unigramLm(docs: DataFrame): (Long, Long) = {
    val toks = docs.select(col("doc_id"),
        explode(graft.ops.TextAnalysis.tokens(col("text"))).as("t"))
      .localCheckpoint()
    val nTok = toks.count()
    val cnt = toks.groupBy(col("t")).agg(count(lit(1)).as("ct"))
    val scored = toks.join(broadcast(cnt), Seq("t"))
      .groupBy(col("doc_id"))
      .agg((sum(col("ct")).cast("double") / count(lit(1))).as("mean_ct"))
      .count()
    toks.unpersist(true)
    (nTok, scored)
  }

  /** q170's containment dedup on q24's candidate plan: candidates :=
    * surviving shingle-join pairs (the df-cap holds them near-linear),
    * pairs := contained pairs at the 0.8 bar. Same law as
    * shingle_jaccard — the extra per-pair division is free. */
  def containment(docs: DataFrame): (Long, Long) = {
    val sh = TextAnalysis.shingleRowsOf(docs).localCheckpoint()
    val joinable = TextAnalysis.dfCappedShingles(sh).localCheckpoint()
    val sizes = joinable.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = Pairs.sides(
        Pairs.sharedKey(joinable, "sh").where(col("inter") >= 2),
        sizes, Seq("na"), Seq("nb"))
      .localCheckpoint()
    val cand = pairs.count()
    val contained = pairs.where(
      greatest(col("inter").cast("double") / col("na"),
        col("inter").cast("double") / col("nb")) >= 0.8).count()
    sh.unpersist(true); joinable.unpersist(true); pairs.unpersist(true)
    (cand, contained)
  }

  /** q171's sequence layout: one per-shard running sum + integer
    * division — candidates := docs laid out, pairs := boundary-split
    * docs (expected ≈ docs · mean_toks/L). Linear; the timing row is
    * the law. */
  def seqLayout(docs: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    val h = graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string"))
    val wOrd = Window.partitionBy(col("shard")).orderBy(col("h").asc, col("doc_id").asc)
    val wSum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val laid = docs
      .select(col("doc_id"),
        size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(8L)))
      .withColumn("cum", sum(col("n_toks")).over(wSum))
      .select(expr("(cum - n_toks) div 512").as("first_seq"),
        expr("(cum - 1) div 512").as("last_seq"))
      .localCheckpoint()
    val n = laid.count()
    val split = laid.where(col("last_seq") > col("first_seq")).count()
    laid.unpersist(true)
    (n, split)
  }

  /** q152's shard-balance concentration: hash-mod sharding engineers
    * nothing — token mass balances by CLT, and the law is the
    * relative spread (max−min)/mean of per-shard token sums falling
    * ~1/√n as the corpus grows. candidates := n docs, pairs := the
    * spread in ppm (a Long-encoded ratio; the factor-over-factor
    * halving is the assertion, not the absolute). */
  def shardBalance(docs: DataFrame): (Long, Long) = {
    val h = graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string"))
    val sums = docs
      .select(pmod(h, lit(graft.queries.ShardOps.NumShards.toLong)).as("shard"),
        size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .groupBy(col("shard")).agg(sum(col("n")).as("toks"))
      .agg(min(col("toks")).as("lo"), max(col("toks")).as("hi"),
        avg(col("toks")).as("mean"), sum(col("toks")).as("total"))
      .head()
    val spreadPpm =
      ((sums.getLong(1) - sums.getLong(0)) / sums.getDouble(2) * 1e6).toLong
    (docs.count(), spreadPpm)
  }

  /** q202's selection law, the NAIVE twin: the ceil(n/4)-per-source
    * k-smallest-by-(sampleHash, doc_id) via a per-source row_number —
    * every corpus row is sorted inside #sources window partitions
    * (one task each). candidates := rows the rank touches (all of
    * them), pairs := selected rows. */
  def sampleWindow(docs: DataFrame): (Long, Long) = {
    val base = docs.select(col("doc_id"), col("source"),
      graft.queries.ShardOps.sampleHash.as("h"))
    val quota = base.groupBy(col("source"))
      .agg(expr("(count(1) + 3) div 4").as("k"))
    val sel = Pairs.topK(base.join(broadcast(quota), Seq("source")),
      Seq(col("source")), Seq(col("h").asc, col("doc_id").asc), col("k"), "rn")
    (docs.count(), sel.count())
  }

  /** q202's selection law, the SHIPPED twin: histogram cutoff +
    * boundary-bucket-only rank. candidates := boundary-bucket rows
    * (the only rows any sort touches — law: ~n/1024, three orders
    * below the window twin's n), pairs := selected rows (EQUAL to
    * the window twin's at every n — the exactness pin). */
  def sampleHistCut(docs: DataFrame): (Long, Long) = {
    val (sel, boundary) = graft.queries.ShardOps.prefixBudgetSample(
      docs.select(col("doc_id"), col("source"),
        graft.queries.ShardOps.sampleHash.as("h"), lit(1L).as("w")))
    (boundary.count(), sel.count())
  }

  /** q149's Bloom gate vs its ungated twin on the amplified docs
    * (corpus = doc_id % 5 ≠ 0 keys, batch = the rest): candidates :=
    * rows entering the confirm join (gate: sketch positives; ungated:
    * the whole batch), pairs := confirmed dups. Laws: confirmed dups
    * come only from copy-0 byte-dups so the pairs column is EXACTLY
    * invariant under amplification while corpus and batch grow ×n;
    * gate candidates ≈ dups + fpp×novel stays a ~1% sliver of the
    * batch at every n (the join the sketch buys away), and the two
    * families' pairs columns must be EQUAL at every scale — the
    * no-false-negatives law. */
  def bloomGate(docs: DataFrame): (Long, Long) = {
    val k = docs.select(col("doc_id"), md5(col("text")).as("key"))
    val corpus = k.where(col("doc_id") % 5 =!= 0).select("key").localCheckpoint()
    val batch = k.where(col("doc_id") % 5 === 0)
    val bf = corpus.stat.bloomFilter("key", math.max(corpus.count(), 1L), 0.01)
    val cand = batch
      .where(graft.functions.BloomExprs.mightContain(bf)(col("key")))
      .localCheckpoint()
    val confirmed = cand.join(corpus, Seq("key"), "left_semi").count()
    val nCand = cand.count()
    cand.unpersist(true); corpus.unpersist(true)
    (nCand, confirmed)
  }

  /** q186's learn loop under corpus growth. The shared mutated
    * amplifier suffixes every token (its near-dup discipline), which
    * the alpha-word filter would DROP — so this family re-replicates
    * the unmutated copy-0 docs instead: corpus ×factor at CONSTANT
    * vocabulary, the clean bound for the claim under test (the dict
    * build is the only corpus-linear stage; the four merge rounds are
    * vocab-bounded and should cost the same at every n). Returns
    * (final-round corpus-weighted symbol total, final vocab size):
    * the total must scale ×factor, the vocab must NOT. */
  def bpeLearnLaw(docs: DataFrame, factor: Int): (Long, Long) = {
    val s = docs.sparkSession
    val base =
      if (factor <= 1) docs.select(col("text"))
      else docs.where(pmod(col("doc_id"), lit(factor.toLong)) === 0)
        .crossJoin(broadcast(s.range(0, factor).toDF("copy")))
        .select(col("text"))
    val (_, dicts) = graft.queries.TextOps.bpeLearnOf(base, rounds = 4)
    val row = dicts.last
      .select(col("freq"), explode(col("syms")).as("sym"))
      .agg(sum(col("freq")), countDistinct(col("sym"))).collect()(0)
    dicts.foreach(_.unpersist(true))
    (row.getLong(0), row.getLong(1))
  }

  /** q188's filtered serving under corpus growth, pre-filter vs
    * post-filter: a fresh SQ index over the amplified corpus, ~n/97
    * queries, label-3 eligibility (~10% selectivity — the amplifier
    * preserves labels). Returns (rows served by the PRE-filter face,
    * rows surviving a POST-filter of the unfiltered serve) at the same
    * prefilterC: the first must track topK·queries at every n, the
    * second collapses toward selectivity·C per query — the starvation
    * law FilteredAnnSpec pins at one scale, measured across the
    * ladder. Timed cost includes the bootstrap (index build), like
    * every index-building family here. */
  def filteredAnn(emb: DataFrame, factor: Int): (Long, Long) = {
    import graft.streaming.SemanticStream
    val root = graft.Temps.dir(s"scalelaws-fann-f$factor")
    SemanticStream.bootstrap(emb, root, withSq = true)
    val queries = emb.where(pmod(col("vec_id"), lit(97)) === 0)
      .localCheckpoint()
    val allowed = emb.where(col("label") === 3)
      .select(col("vec_id").as("id")).localCheckpoint()
    val pre = SemanticStream.queryTopKSq(queries, root, topK = 3,
      prefilterC = SemanticStream.ServePolicy.PrefilterC,
      nProbe = SemanticStream.ServePolicy.NProbe,
      allowed = Some(allowed)).count()
    val post = SemanticStream.queryTopKSq(queries, root, topK = 3,
        prefilterC = SemanticStream.ServePolicy.PrefilterC,
        nProbe = SemanticStream.ServePolicy.NProbe)
      .join(allowed.withColumnRenamed("id", "c_id"), Seq("c_id"), "left_semi")
      .count()
    queries.unpersist(true); allowed.unpersist(true)
    (pre, post)
  }

  def exactSemiJoin(docs: DataFrame): (Long, Long) = {
    val k = docs.select(col("doc_id"), md5(col("text")).as("key"))
    val corpus = k.where(col("doc_id") % 5 =!= 0).select("key").localCheckpoint()
    val batch = k.where(col("doc_id") % 5 === 0).localCheckpoint()
    val confirmed = batch.join(corpus, Seq("key"), "left_semi").count()
    val nBatch = batch.count()
    batch.unpersist(true); corpus.unpersist(true)
    (nBatch, confirmed)
  }

  private[bench] def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).getOrElse("1,4,16").split(",").map(_.trim.toInt).toSeq
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      val docs0 = graft.queries.Tables.documents(spark, sfDir)
      val emb0 = graft.queries.Tables.embeddings(spark, sfDir)
      val nDocs0 = docs0.count()
      val nEmb0 = emb0.count()
      // log4(factor): the K levers grow one notch per 4× n, so a
      // correctly-tuned index holds candidate growth LINEAR in n
      def log4(f: Int): Int = (31 - Integer.numberOfLeadingZeros(f)) / 2
      val fams: Seq[(String, Boolean, (DataFrame, Int) => (Long, Long))] = Seq(
        ("simhash_narrow_q112", true, (df, _) => simhashNarrow(df)),
        ("simhash_wide_q121", true, (df, _) => simhashWide(df)),
        ("minhash_bands_q28", true, (df, _) => minhashBands(df)),
        ("shingle_jaccard_q24", true, (df, _) => shingleJaccard(df)),
        ("span_dedup_q134", true, (df, _) => spanDedup(df)),
        ("span_confirm30_q138", true, (df, _) => spanConfirmNarrow(df)),
        ("curate_pipeline_q141", true, (df, _) => curatePipeline(df)),
        ("lsh_cosine_q32_33", false, (df, _) => lshCosine(df)),
        // plane sweep AT EACH n (factors give the n axis): candidates
        // at (4n, p+Δ) vs (n, p) across these rows measure how many
        // plane notches a 4× corpus actually needs to hold candidate
        // volume linear — the uniform-hash arithmetic says Δ=2, the
        // r5 measurement hinted more; this pins the real rule
        ("lsh_cosine_p10", false, (df, _) => lshCosine(df, 10)),
        ("lsh_cosine_p12", false, (df, _) => lshCosine(df, 12)),
        ("lsh_cosine_p14", false, (df, _) => lshCosine(df, 14)),
        ("ivf_probe_q34_35", false, (df, _) => ivfProbe(df)),
        ("semantic_dedup_q135", false, (df, _) => semanticDedup(df)),
        ("semantic_dedup_scaledK", false, (df, f) =>
          semanticDedup(df, SimSearch.IvfK * f)),
        ("semantic_dedup_sharded", false, (df, f) =>
          semanticDedupSharded(df, f)),
        // the documented remedies, MEASURED: +4 planes per 4× n (the
        // sweep above measured each plane dividing collisions by only
        // ~1.36 on real sign-buckets, so the uniform-hash +2 leaves
        // 8.6× growth per step — the notch rule is the measured one),
        // and 4× IVF cells per 4× n — candidate volume should grow
        // ~linearly instead of quadratically
        ("lsh_cosine_scaledK", false, (df, f) =>
          lshCosine(df, SimSearch.LshPlanes + 4 * log4(f))),
        ("ivf_probe_scaledK", false, (df, f) =>
          ivfProbe(df, SimSearch.IvfK * f)),
        // PQ compression dividend + its recall price (q148): exact and
        // ADC scans at identical candidate volume, then recall@10 for
        // seeded vs Lloyd-refined books
        ("l2_exact_scan_q148", false, (df, _) => l2ExactScan(df)),
        ("pq_adc_scan_q148", false, (df, _) => pqAdcScan(df)),
        ("pq_recall_seeded_q148", false, (df, _) => pqRecall(df, trained = false)),
        ("pq_recall_trained_q148", false, (df, _) => pqRecall(df, trained = true)),
        ("pq_rerank_q151", false, (df, _) => pqRerank(df)),
        ("l2_exact_d512", false, (df, _) => scan512(df, adc = false)),
        ("pq_adc_d512", false, (df, _) => scan512(df, adc = true)),
        // Bloom gate (q149) vs its ungated twin: equal confirmed-dup
        // columns at every n (no false negatives), candidate sliver
        // ≈ dups + 1% of batch
        ("bloom_gate_q149", true, (df, _) => bloomGate(df)),
        ("exact_semijoin_q149", true, (df, _) => exactSemiJoin(df)),
        ("shard_balance_q152", true, (df, _) => shardBalance(df)),
        ("bm25_postings_q157", true, (df, _) => bm25Postings(df)),
        // round-8 families: the SQ rungs of the compression ladder
        // (compare against l2_exact_scan / pq_adc_scan rows), the
        // z-order skipping law, and the unigram-LM scoring pass
        ("sq_scan_q160", false, (df, _) => sqScan(df)),
        ("sq_rerank_q161", false, (df, _) => sqRerank(df)),
        ("zorder_skip_q163", true, (df, _) => zorderSkip(df)),
        ("unigram_lm_q164", true, (df, _) => unigramLm(df)),
        ("containment_q170", true, (df, _) => containment(df)),
        ("seq_layout_q171", true, (df, _) => seqLayout(df)),
        // round-10 families: BPE learn cost vs corpus growth (vocab
        // must stay flat), and filtered-ANN pre- vs post-filter fill
        ("bpe_learn_q186", true, (df, f) => bpeLearnLaw(df, f)),
        ("filtered_ann_q188", false, (df, f) => filteredAnn(df, f)),
        // q202's order-statistics twins: same exact selection, sorted
        // rows n (window) vs ~n/1024 (histogram cutoff)
        ("sample_window_q202", true, (df, _) => sampleWindow(df)),
        ("sample_histcut_q202", true, (df, _) => sampleHistCut(df)))
      // one amplified corpus per (factor, kind), shared by every family
      // and unpersisted before the next factor — rebuilding it per
      // family (and stacking 24 localCheckpoints) both wastes wall-clock
      // and pressures executor storage toward eviction at high factors
      // optional family filter (re-measure one family without paying
      // for the whole matrix)
      val famFilter: String => Boolean = args.lift(2) match {
        case Some(subs) =>
          val ps = subs.split(",").map(_.trim).filter(_.nonEmpty)
          name => ps.exists(name.contains)
        case None => _ => true
      }
      val selected = fams.filter(t => famFilter(t._1))
      val rows = factors.flatMap { factor =>
        // amplify only the corpus KINDS the selected families read — a
        // doc-only (or embeddings-only) filtered run must not pay for
        // the other corpus's amplification, which dominates wall-clock
        // at high factors
        val docsData = if (selected.exists(_._2))
          Some(amplifyDocs(docs0, factor).localCheckpoint()) else None
        val embData = if (selected.exists(!_._2))
          Some(amplifyEmbeddings(emb0, factor).localCheckpoint()) else None
        val rs = selected.map { case (name, isDoc, f) =>
          val data = if (isDoc) docsData.get else embData.get
          val n = (if (isDoc) nDocs0 else nEmb0) * factor
          val ((cand, pairs), secs) = time(f(data, factor))
          println(s"""{"family":"$name","n":$n,"factor":$factor,""" +
            s""""candidates":$cand,"pairs":$pairs,"secs":${math.round(secs * 100) / 100.0}}""")
          (name, n, factor, cand, pairs, secs)
        }
        docsData.foreach(_.unpersist(true))
        embData.foreach(_.unpersist(true))
        rs
      }
      println("\n| family | n | candidates | pairs | secs |")
      println("|---|---|---|---|---|")
      rows.foreach { case (name, n, _, cand, pairs, secs) =>
        println(f"| $name | $n%d | $cand%d | $pairs%d | $secs%.2f |")
      }
    } finally spark.stop()
  }
}

package graft.bench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpoints
import graft.ops.{LateInteraction, Lsh, Pairs, SimSearch, TextAnalysis}
import graft.queries.Tables

/** Empirical validation of the SCALE.md candidate-volume laws — the
  * dedup/ANN family's scale claims, MEASURED instead of reasoned — and
  * the one measurement harness every SCALE family runs through.
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
  * Each law method returns (candidates BEFORE re-rank, surviving pairs)
  * and runs once per factor ([[Laws]]). The fixed-corpus families
  * ([[Families]]: serving grids, rehearsals, layout probes) run once on
  * their own corpora, with their grids as constants. Every row is one
  * JSON line, its family name first ([[line]]); `tools/assemble_scale.py`
  * folds the logs into a SCALE_MEASURED file.
  *
  * Usage: `runMain graft.bench.ScaleLaws <sfDir> [factors csv, default
  * 1,4,16] [family-substring filter csv]`; `SPARK_GRAFT_CPUS` sizes the
  * local session (default 32).
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
  def simhashNarrow(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    val sh = ck(docs
      .withColumn("QS", graft.functions.EvmExprs.simHashQuartersFromText(col("text")))
      .select(col("doc_id"), element_at(col("QS"), 1).as("sh")))
    val bands = sh.select(col("doc_id"), lit(0).as("half"),
        (col("sh") / 256L).cast("long").as("key"))
      .unionByName(sh.select(col("doc_id"), lit(1).as("half"),
        (col("sh") % 256L).as("key")))
    val cand = ck(Lsh.selfPairs(bands))
    val pairs = Pairs.sides(cand, sh, Seq("a_sh"), Seq("b_sh"))
      .where(bit_count(col("a_sh").bitwiseXOR(col("b_sh"))) <= 1).count()
    (cand.count(), pairs)
  }

  /** q121's scale shape: 4×16-bit quarters → K = 2¹⁶ bucket keys.
    * Predicted candidates ≈ 4·(n²/2)/2¹⁶ = n²/2¹⁵ per the same law —
    * 64× fewer than the narrow shape at every n. */
  def simhashWide(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    val sh = ck(docs
      .withColumn("QS", graft.functions.EvmExprs.simHashQuartersFromText(col("text")))
      .select(col("doc_id") +: (0 until 4).map(k =>
        element_at(col("QS"), k + 1).as(s"q$k")): _*))
    val cand = ck(Lsh.selfPairs(Lsh.quarterBands(sh, 4)))
    val pairs = Pairs.hammingJoin(cand, sh, sh, "a_id", "b_id", 4)
      .where(col("hamming") <= 3).count()
    (cand.count(), pairs)
  }

  /** q28's MinHash banding: 2 bands of 2 hashes — K is the joint
    * 2-hash key space, so random collisions are rare and candidates
    * track the corpus's TRUE resemblance structure (near-linear). */
  def minhashBands(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    val sig = ck(Lsh.signatures(docs))
    val cand = ck(Lsh.selfPairs(Lsh.bands(sig)))
    val pairs = cand
      .join(Lsh.prefixed(sig, "a_id", "a"), "a_id")
      .join(Lsh.prefixed(sig, "b_id", "b"), "b_id")
      .where(Lsh.agreement("a", "b") >= 0.5).count()
    (cand.count(), pairs)
  }

  /** q24's shingle-hash equi-join with the df cap: candidate volume is
    * Σ_shingle df² over surviving shingles — the df cap is the lever
    * that keeps it from going quadratic on hot shingles. */
  def shingleJaccard(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    val sh = ck(docs.select(col("doc_id"), TextAnalysis.shingleRows))
    val joinable = ck(TextAnalysis.dfCappedShingles(sh))
    val sizes = joinable.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = ck(Pairs.sharedKey(joinable, "sh").where(col("inter") >= 2))
    val pairs = Pairs.sides(inter, sizes, Seq("na"), Seq("nb"))
      .where(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")) >= 0.5).count()
    (inter.count(), pairs)
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
  def spanDedup(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    val th = transform(graft.ops.TextAnalysis.tokens(col("text")),
      t => graft.ops.TextAnalysis.tokenHash(t))
    val spans = graft.ops.TextAnalysis.spanHashes(col("TH"), 8)
    val spanSets = ck(docs
      .withColumn("TH", th)
      .select(col("doc_id"), explode(spans).as("sp"))
      .distinct())
    val dup = spanSets.groupBy(col("sp")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("sp")
    val dupDocs = spanSets.join(dup, Seq("sp"), "left_semi")
      .select("doc_id").distinct().count()
    (spanSets.count(), dupDocs)
  }

  /** q138's exact-confirm layer PROVEN against the deliberately
    * narrowed 30-bit span key — the width this harness measured
    * accreting birthday false-dups (526 → 13,058 key-level dup docs
    * from 5k to 80k). candidates := docs with ≥1 KEY-level dup span
    * (inflates with collisions); pairs := docs with ≥1 verbatim-
    * CONFIRMED dup span, which must stay at the copy-0 base under
    * amplification (copies share no tokens, so the confirm join — not
    * the key width — carries correctness). */
  def spanConfirmNarrow(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    val counts = ck(graft.queries.TextOps.spanConfirmCounts(docs,
      th => graft.ops.TextAnalysis.spanHashesNarrow(th, 8)))
    (counts.where(col("n_dup_spans") > 0).count(),
      counts.where(col("n_dup_spans_confirmed") > 0).count())
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
      nPlanes: Int = SimSearch.LshPlanes): (Long, Long) = Checkpoints.scoped { ck =>
    val bucketed = ck(SimSearch.lshBuckets(emb, "vec_id", "embedding", nPlanes))
    val cand = pairVolume(bucketed, "bucket")
    val pairs = {
      val withN = bucketed.withColumn("n", SimSearch.l2norm(col("v")))
      val a = withN.toDF("a_id", "av", "bucket", "an")
      val b = withN.toDF("b_id", "bv", "bucket", "bn")
      a.join(b, Seq("bucket")).where(col("a_id") < col("b_id"))
        .where(SimSearch.cosine(col("av"), col("bv"), col("an"), col("bn")) >= 0.2)
        .count()
    }
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
  def semanticDedup(emb: DataFrame, k: Int = SimSearch.IvfK): (Long, Long) =
    Checkpoints.scoped { ck =>
    val cells = ck(SimSearch.ivfCells(emb, "vec_id", "embedding", k))
    val cand = pairVolume(cells, "cell")
    val a = cells.toDF("vec_id", "cell", "av", "an")
    val b = cells.toDF("b_id", "cell", "bv", "bn")
    val dups = a.join(b, Seq("cell"))
      .where(col("b_id") < col("vec_id"))
      .where(round(SimSearch.cosine(
        col("av"), col("bv"), col("an"), col("bn")), 6) >= 0.3)
      .select("vec_id").distinct().count()
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
  def ivfProbe(emb: DataFrame, k: Int = SimSearch.IvfK): (Long, Long) = Checkpoints.scoped { ck =>
    val cb = SimSearch.collectCodebook(
      SimSearch.ivfCentroids(emb, "vec_id", "embedding", k))
    val assigned = ck(SimSearch.ivfAssign(emb, "vec_id", "embedding", cb,
        SimSearch.IvfProbe)
      .select(col("id"), col("probes").getField("cid").as("pcids")))
    val cells = assigned.select(element_at(col("pcids"), 1).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("nc"))
    val probes = assigned.select(explode(col("pcids")).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("np"))
    val cand = cells.join(probes, Seq("cid"))
      .agg(sum(col("nc") * col("np"))).head().getLong(0)
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
    val q = querySample(emb)
    val rows = graft.ops.Pq.l2TopK(q, emb, "vec_id", "embedding", 10).count()
    val nq = q.count()
    (nq * (emb.count() - 1), rows)
  }

  def pqAdcScan(emb: DataFrame): (Long, Long) = {
    val books = graft.ops.Pq.seedBooks(emb, "vec_id", "embedding")
    val codes = graft.ops.Pq.encodeCodes(emb, "vec_id", "embedding", books)
    val q = querySample(emb)
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
  def pqRerank(emb: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    import graft.ops.Pq
    val books = Pq.seedBooks(emb, "vec_id", "embedding")
    val q = querySample(emb)
    val exact = ck(Pq.l2TopK(q, emb, "vec_id", "embedding", 10).select("q_id", "c_id"))
    val rr = ck(Pq.adcRerankTopK(q, emb, "vec_id", "embedding", books,
        prefilterK = 100, topK = 10).select("q_id", "c_id"))
    val hits = exact.join(rr, Seq("q_id", "c_id"), "left_semi").count()
    (q.count() * 100, hits)
  }

  /** Recall@10 of the ADC scan against the exact scan, seeded vs
    * Lloyd-refined books: candidates := exact top-10 rows, pairs :=
    * hits — pairs/candidates is the recall. Not a throughput row (it
    * runs both scans); the law is the recall RATIO between the
    * trained and seeded variants as n grows while the books stay
    * 8×16. */
  def pqRecall(emb: DataFrame, trained: Boolean): (Long, Long) = Checkpoints.scoped { ck =>
    import graft.ops.Pq
    val books =
      if (trained) Pq.trainBooks(emb, "vec_id", "embedding", rounds = 2)
      else Pq.seedBooks(emb, "vec_id", "embedding")
    val codes = Pq.encodeCodes(emb, "vec_id", "embedding", books)
    val q = querySample(emb)
    val exact = ck(Pq.l2TopK(q, emb, "vec_id", "embedding", 10).select("q_id", "c_id"))
    val approx = Pq.adcTopK(q, codes, "vec_id", "embedding", books, 10)
      .select("q_id", "c_id")
    val hits = exact.join(approx, Seq("q_id", "c_id"), "left_semi").count()
    (exact.count(), hits)
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
  def scan512(emb: DataFrame, adc: Boolean): (Long, Long) = Checkpoints.scoped { ck =>
    import graft.ops.Pq
    val e512 = ck(emb.select(col("vec_id"),
      flatten(array_repeat(col("embedding").cast("array<double>"), 8)).as("embedding")))
    val q = querySample(e512)
    val rows =
      if (adc) {
        val books = Pq.seedBooks(e512, "vec_id", "embedding")
        val codes = Pq.encodeCodes(e512, "vec_id", "embedding", books)
        Pq.adcTopK(q, codes, "vec_id", "embedding", books, 10).count()
      } else Pq.l2TopK(q, e512, "vec_id", "embedding", 10).count()
    (q.count() * (e512.count() - 1), rows)
  }

  /** q157's posting-join law: each query term meets only documents
    * containing it, so the scored-pair volume follows the query terms'
    * POSTING LISTS, not query × corpus. Amplified copies share no
    * tokens, so per-copy postings stay per-copy-local and the volume
    * must grow ~linearly in n even as the query count scales with the
    * corpus. candidates := scored (query, doc) pairs, pairs := top-5
    * rows. */
  def bm25Postings(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    val toks = ck(docs.select(col("doc_id"),
      explode(graft.ops.TextAnalysis.tokens(col("text"))).as("t")))
    val tf = toks.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val qterms = toks.where(pmod(col("doc_id"), lit(997)) === 0)
      .select(col("doc_id").as("q_id"), col("t")).distinct()
    val pairs = qterms.join(tf, Seq("t"))
      .select(col("q_id"), col("doc_id")).distinct()
    val nCand = pairs.count()
    val topk = Pairs.topK(qterms.join(tf, Seq("t"))
        .groupBy(col("q_id"), col("doc_id")).agg(count(lit(1)).as("n_shared")),
      Seq(col("q_id")), Seq(col("n_shared").desc, col("doc_id").asc), 5).count()
    (nCand, topk)
  }

  /** q160's SQ8 asymmetric scan at the same query sample and k as
    * [[l2ExactScan]]/[[pqAdcScan]] — the third column of the
    * compression-ladder comparison (full vectors / 8× SQ codes / 64×
    * PQ codes) on identical candidate volume. */
  def sqScan(emb: DataFrame): (Long, Long) = {
    val q = querySample(emb)
    val rows = graft.ops.Sq.sqTopK(q, emb, "vec_id", "embedding", 10).count()
    val nq = q.count()
    (nq * (emb.count() - 1), rows)
  }

  /** q161's two-stage recall, [[pqRerank]]'s twin: SQ top-100
    * prefilter, exact re-rank, hits@10 vs the exact scan. The law is
    * SQ recall ≥ PQ recall at the same prefilter (8× compression
    * keeps per-dim resolution PQ's 64× gives up). */
  def sqRerank(emb: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    import graft.ops.{Pq, Sq}
    val q = querySample(emb)
    val exact = ck(Pq.l2TopK(q, emb, "vec_id", "embedding", 10).select("q_id", "c_id"))
    val rr = ck(Sq.sqRerankTopK(q, emb, "vec_id", "embedding",
        prefilterK = 100, topK = 10).select("q_id", "c_id"))
    val hits = exact.join(rr, Seq("q_id", "c_id"), "left_semi").count()
    (q.count() * 100, hits)
  }

  /** q163's skipping law on a uniform synthetic grid (x cycles with
    * doc_id, y is a hash spread so the full key space is populated at
    * EVERY n): a y-band probe's touched-row footprint under the
    * z-order layout vs the x-major layout at 64 files. candidates :=
    * z-order touched rows (should track band-fraction × n ≈ n/8 plus
    * file-boundary slack), pairs := x-major touched rows (→ n: every
    * file holds the full y extent). */
  def zorderSkip(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    import org.apache.spark.sql.expressions.Window
    val base = ck(docs.select(
        (col("doc_id") % 256).as("x"), pmod(hash(col("doc_id")), lit(256)).cast("long").as("y"))
      .withColumn("zkey", graft.ops.ZOrder.interleave(col("x"), col("y"), 8)))
    def bandRows(order: Seq[org.apache.spark.sql.Column]): Long =
      base.withColumn("f", ntile(64).over(Window.orderBy(order: _*)))
        .groupBy(col("f"))
        .agg(count(lit(1)).as("n"), min(col("y")).as("mny"), max(col("y")).as("mxy"))
        .where(col("mny") <= 31 && col("mxy") >= 0) // y-band [0, 31]
        .agg(coalesce(sum(col("n")), lit(0L)))
        .head().getLong(0)
    (bandRows(Seq(col("zkey"), col("x"), col("y"))), bandRows(Seq(col("x"), col("y"))))
  }

  /** q164's unigram-LM scoring: model build (one count agg) + the
    * posting-shaped scoring join + per-doc mean. candidates := token
    * instances (the join's probe side), pairs := docs scored — both
    * linear in n; the timing row is the law. */
  def unigramLm(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    val toks = ck(docs.select(col("doc_id"),
      explode(graft.ops.TextAnalysis.tokens(col("text"))).as("t")))
    val nTok = toks.count()
    val cnt = toks.groupBy(col("t")).agg(count(lit(1)).as("ct"))
    val scored = toks.join(broadcast(cnt), Seq("t"))
      .groupBy(col("doc_id"))
      .agg((sum(col("ct")).cast("double") / count(lit(1))).as("mean_ct"))
      .count()
    (nTok, scored)
  }

  /** q170's containment dedup on q24's candidate plan: candidates :=
    * surviving shingle-join pairs (the df-cap holds them near-linear),
    * pairs := contained pairs at the 0.8 bar. Same law as
    * shingle_jaccard — the extra per-pair division is free. */
  def containment(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    val sh = ck(TextAnalysis.shingleRowsOf(docs))
    val joinable = ck(TextAnalysis.dfCappedShingles(sh))
    val sizes = joinable.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = ck(Pairs.sides(
      Pairs.sharedKey(joinable, "sh").where(col("inter") >= 2),
      sizes, Seq("na"), Seq("nb")))
    (pairs.count(), pairs.where(
      greatest(col("inter").cast("double") / col("na"),
        col("inter").cast("double") / col("nb")) >= 0.8).count())
  }

  /** q171's sequence layout: one per-shard running sum + integer
    * division — candidates := docs laid out, pairs := boundary-split
    * docs (expected ≈ docs · mean_toks/L). Linear; the timing row is
    * the law. */
  def seqLayout(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    import org.apache.spark.sql.expressions.Window
    val h = graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string"))
    val wOrd = Window.partitionBy(col("shard")).orderBy(col("h").asc, col("doc_id").asc)
    val wSum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val laid = ck(docs
      .select(col("doc_id"),
        size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(8L)))
      .withColumn("cum", sum(col("n_toks")).over(wSum))
      .select(expr("(cum - n_toks) div 512").as("first_seq"),
        expr("(cum - 1) div 512").as("last_seq")))
    (laid.count(), laid.where(col("last_seq") > col("first_seq")).count())
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
  def bloomGate(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    val k = docs.select(col("doc_id"), md5(col("text")).as("key"))
    val corpus = ck(k.where(col("doc_id") % 5 =!= 0).select("key"))
    val batch = k.where(col("doc_id") % 5 === 0)
    val bf = corpus.stat.bloomFilter("key", math.max(corpus.count(), 1L), 0.01)
    val cand = ck(batch.where(graft.functions.BloomExprs.mightContain(bf)(col("key"))))
    val confirmed = cand.join(corpus, Seq("key"), "left_semi").count()
    (cand.count(), confirmed)
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
    dicts.foreach(Checkpoints.release)
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
  def filteredAnn(emb: DataFrame, factor: Int): (Long, Long) = Checkpoints.scoped { ck =>
    import graft.streaming.SemanticStream
    val root = graft.Temps.dir(s"scalelaws-fann-f$factor")
    SemanticStream.bootstrap(emb, root, withSq = true)
    val queries = ck(querySample(emb))
    val allowed = ck(emb.where(col("label") === 3).select(col("vec_id").as("id")))
    val pre = SemanticStream.queryTopKSq(queries, root, topK = 3,
      prefilterC = SemanticStream.ServePolicy.PrefilterC,
      nProbe = SemanticStream.ServePolicy.NProbe,
      allowed = Some(allowed)).count()
    val post = SemanticStream.queryTopKSq(queries, root, topK = 3,
        prefilterC = SemanticStream.ServePolicy.PrefilterC,
        nProbe = SemanticStream.ServePolicy.NProbe)
      .join(allowed.withColumnRenamed("id", "c_id"), Seq("c_id"), "left_semi")
      .count()
    (pre, post)
  }

  def exactSemiJoin(docs: DataFrame): (Long, Long) = Checkpoints.scoped { ck =>
    val k = docs.select(col("doc_id"), md5(col("text")).as("key"))
    val corpus = ck(k.where(col("doc_id") % 5 =!= 0).select("key"))
    val batch = ck(k.where(col("doc_id") % 5 === 0))
    val confirmed = batch.join(corpus, Seq("key"), "left_semi").count()
    (batch.count(), confirmed)
  }

  /** The query sample every serving family scores: `vec_id % 97 = 0`. */
  def querySample(emb: DataFrame): DataFrame = emb.where(pmod(col("vec_id"), lit(97)) === 0)

  // ---------------------------------------------------------------- harness

  private[bench] def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private[bench] def roundTo(x: Double, dp: Int): Double = {
    val s = math.pow(10, dp)
    math.round(x * s) / s
  }

  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One family row as a JSON object on one line, `family` first and the
    * columns in the order given. A Double in a `secs` or `*_secs` column
    * is rounded to 2 dp here; every other column is written as passed. */
  def line(family: String, cols: (String, Any)*): String =
    Json.writeValueAsString(ListMap(("family" -> family) +: cols.map {
      case (k, x: Double) if k == "secs" || k.endsWith("_secs") => k -> roundTo(x, 2)
      case kv => kv
    }: _*))

  def emit(family: String, cols: (String, Any)*): Unit = println(line(family, cols: _*))

  /** A pinned gold top-k frame of (q_id, c_id) rows and its size. */
  final class Gold private[bench] (rows: DataFrame) {
    val n: Long = rows.count()

    def hits(served: DataFrame): Long =
      rows.join(served.select("q_id", "c_id"), Seq("q_id", "c_id"), "left_semi").count()

    /** The recall@3 cell: gold ⋈ served hits over the gold size, 4 dp. */
    def recall(hits: Long): Seq[(String, Any)] =
      Seq("gold" -> n, "hits" -> hits, "recall3" -> roundTo(hits.toDouble / n, 4))
  }

  /** What a family body measures with: the session, the sf directory and
    * the cell's checkpoint scope, which closes when the body returns. */
  final class Cell private[bench] (val spark: SparkSession, val sfDir: String,
      val pin: Checkpoints.Scope) {
    def docs: DataFrame = Tables.documents(spark, sfDir)
    def emb: DataFrame = Tables.embeddings(spark, sfDir)
    def queries(emb: DataFrame): DataFrame = pin(querySample(emb))

    def gold(topK: DataFrame): Gold = new Gold(pin(topK.select("q_id", "c_id")))

    /** The exact full-scan top-3 of `queries` over `emb`. */
    def bruteGold(queries: DataFrame, emb: DataFrame): Gold =
      gold(SimSearch.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3))

    /** The covering MaxSim top-3: a prefilter of n admits every pair, so
      * the re-rank is the unbounded MaxSim. */
    def maxSimGold(queries: DataFrame, emb: DataFrame): Gold =
      gold(LateInteraction.maxSimTopK(queries, emb, "vec_id", "embedding",
        k = 3, prefilterC = emb.count().toInt))

    /** Serve `f` `reps` times, pinning and counting each result inside the
      * timer, and score the fastest run against `gold`: the recall@3 cell
      * plus its `secs`. Min-of-2 drops the first run's code generation. */
    def served(gold: Gold, reps: Int = 1)(f: => DataFrame): Seq[(String, Any)] = {
      val (hits, secs) = (1 to reps).map { _ =>
        Checkpoints.scoped { ck =>
          val (df, s) = time { val r = ck(f.select("q_id", "c_id")); r.count(); r }
          (gold.hits(df), s)
        }
      }.minBy(_._2)
      gold.recall(hits) :+ ("secs" -> secs)
    }
  }

  /** A candidate-volume law: run once per factor on the amplified docs or
    * embeddings, returning (candidates, surviving pairs). */
  final case class Law(name: String, docs: Boolean, f: (DataFrame, Int) => (Long, Long))

  /** A family measured on its own fixed corpus, once per run: the family
    * names its body emits and the body. */
  final case class Family(names: Seq[String], body: Cell => Unit)

  // log4(factor): the K levers grow one notch per 4× n, so a correctly
  // tuned index holds candidate growth LINEAR in n
  private def log4(f: Int): Int = (31 - Integer.numberOfLeadingZeros(f)) / 2

  val Laws: Seq[Law] = Seq(
    Law("simhash_narrow_q112", true, (df, _) => simhashNarrow(df)),
    Law("simhash_wide_q121", true, (df, _) => simhashWide(df)),
    Law("minhash_bands_q28", true, (df, _) => minhashBands(df)),
    Law("shingle_jaccard_q24", true, (df, _) => shingleJaccard(df)),
    Law("span_dedup_q134", true, (df, _) => spanDedup(df)),
    Law("span_confirm30_q138", true, (df, _) => spanConfirmNarrow(df)),
    Law("curate_pipeline_q141", true, (df, _) => curatePipeline(df)),
    Law("lsh_cosine_q32_33", false, (df, _) => lshCosine(df)),
    // plane sweep AT EACH n (factors give the n axis): candidates at
    // (4n, p+Δ) vs (n, p) measure how many plane notches a 4× corpus
    // needs to hold candidate volume linear
    Law("lsh_cosine_p10", false, (df, _) => lshCosine(df, 10)),
    Law("lsh_cosine_p12", false, (df, _) => lshCosine(df, 12)),
    Law("lsh_cosine_p14", false, (df, _) => lshCosine(df, 14)),
    Law("ivf_probe_q34_35", false, (df, _) => ivfProbe(df)),
    Law("semantic_dedup_q135", false, (df, _) => semanticDedup(df)),
    Law("semantic_dedup_scaledK", false, (df, f) => semanticDedup(df, SimSearch.IvfK * f)),
    Law("semantic_dedup_sharded", false, (df, f) => semanticDedupSharded(df, f)),
    // the documented remedies, MEASURED: +4 planes per 4× n (each plane
    // divides collisions by only ~1.36 on real sign-buckets) and 4× IVF
    // cells per 4× n — candidate volume should grow ~linearly
    Law("lsh_cosine_scaledK", false, (df, f) => lshCosine(df, SimSearch.LshPlanes + 4 * log4(f))),
    Law("ivf_probe_scaledK", false, (df, f) => ivfProbe(df, SimSearch.IvfK * f)),
    // PQ compression dividend + its recall price (q148)
    Law("l2_exact_scan_q148", false, (df, _) => l2ExactScan(df)),
    Law("pq_adc_scan_q148", false, (df, _) => pqAdcScan(df)),
    Law("pq_recall_seeded_q148", false, (df, _) => pqRecall(df, trained = false)),
    Law("pq_recall_trained_q148", false, (df, _) => pqRecall(df, trained = true)),
    Law("pq_rerank_q151", false, (df, _) => pqRerank(df)),
    Law("l2_exact_d512", false, (df, _) => scan512(df, adc = false)),
    Law("pq_adc_d512", false, (df, _) => scan512(df, adc = true)),
    // Bloom gate (q149) vs its ungated twin: equal confirmed-dup columns
    // at every n (no false negatives)
    Law("bloom_gate_q149", true, (df, _) => bloomGate(df)),
    Law("exact_semijoin_q149", true, (df, _) => exactSemiJoin(df)),
    Law("shard_balance_q152", true, (df, _) => shardBalance(df)),
    Law("bm25_postings_q157", true, (df, _) => bm25Postings(df)),
    Law("sq_scan_q160", false, (df, _) => sqScan(df)),
    Law("sq_rerank_q161", false, (df, _) => sqRerank(df)),
    Law("zorder_skip_q163", true, (df, _) => zorderSkip(df)),
    Law("unigram_lm_q164", true, (df, _) => unigramLm(df)),
    Law("containment_q170", true, (df, _) => containment(df)),
    Law("seq_layout_q171", true, (df, _) => seqLayout(df)),
    Law("bpe_learn_q186", true, (df, f) => bpeLearnLaw(df, f)),
    Law("filtered_ann_q188", false, (df, f) => filteredAnn(df, f)),
    // q202's order-statistics twins: same exact selection, sorted rows
    // n (window) vs ~n/1024 (histogram cutoff)
    Law("sample_window_q202", true, (df, _) => sampleWindow(df)),
    Law("sample_histcut_q202", true, (df, _) => sampleHistCut(df)))

  val Families: Seq[Family] = Seq(
    Family(Seq("attr_bucketed"), Layouts.attrBucketed),
    Family(Seq("slot_forward"), Layouts.slotForward),
    Family(Seq("lex_prune"), Layouts.lexPrune),
    Family(Seq("slot_gather_prune"), Layouts.slotGatherPrune),
    Family(Seq("phash_band"), Layouts.phashBand),
    Family(Seq("phash_online"), Layouts.phashOnline),
    Family(Seq("curate_ingest", "curate_compact"), CurateRehearsal.measure),
    Family(Seq("semantic_ingest_drift"), SemanticRehearsal.measure),
    Family(Seq("extract_rehearsal"), ExtractRehearsal.measure),
    Family(Seq("jl_distortion"), Serving.jlDistortion),
    Family(Seq("franken_residual"), Serving.frankenResidual),
    Family(Seq("serve_path", "jl_rotate"), Serving.servePath),
    Family(Seq("serve_sweep"), Serving.serveSweep),
    Family(Seq("maxsim_serve", "maxsim_cost"), Serving.maxSim),
    Family(Seq("slot_sweep", "slot_kladder"), Serving.slotSweep),
    Family(Seq("slot_policy"), Serving.slotPolicy),
    Family(Seq("slot_align"), Serving.slotAlign),
    Family(Seq("slot_drift", "slot_drift_serve"), Serving.slotDrift))

  /** Every selected law at every factor, then every selected fixed-corpus
    * family once; `filter` is a csv of family-name substrings (empty
    * selects all). Each family cell runs inside its own checkpoint scope,
    * and each factor's amplified corpora inside one that closes before
    * the next factor. */
  def run(spark: SparkSession, sfDir: String, factors: Seq[Int], filter: String): Unit = {
    val pats = filter.split(",").map(_.trim).filter(_.nonEmpty)
    def picked(names: Seq[String]) = pats.isEmpty || names.exists(n => pats.exists(n.contains))
    val laws = Laws.filter(l => picked(Seq(l.name)))
    for (factor <- factors if laws.nonEmpty) Checkpoints.scoped { corpora =>
      // amplify only the corpus kinds the selected laws read
      lazy val docs = corpora(amplifyDocs(Tables.documents(spark, sfDir), factor))
      lazy val emb = corpora(amplifyEmbeddings(Tables.embeddings(spark, sfDir), factor))
      laws.foreach { l =>
        val data = if (l.docs) docs else emb
        val ((cand, pairs), secs) = time(l.f(data, factor))
        emit(l.name, "n" -> data.count(), "factor" -> factor,
          "candidates" -> cand, "pairs" -> pairs, "secs" -> secs)
      }
    }
    Families.filter(f => picked(f.names)).foreach { f =>
      Checkpoints.scoped(ck => f.body(new Cell(spark, sfDir, ck)))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark, args.headOption.getOrElse("/root/testdata/sf0.1"),
      args.lift(1).getOrElse("1,4,16").split(",").map(_.trim.toInt).toSeq,
      args.lift(2).getOrElse(""))
    finally spark.stop()
  }
}

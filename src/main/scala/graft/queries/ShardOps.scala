package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Pairs
import Tables._

/** Training-order sharding — the step between a curated corpus and a
  * trainer: give every document a deterministic pseudorandom position,
  * split the stream into shards, and emit the per-shard write order.
  * The 100-TB shape is the point: a literal global ORDER BY rand()
  * is a full-corpus range sort with sampled boundaries; hash-mod
  * sharding is one hash-partition exchange (embarrassingly parallel),
  * and the within-shard sort is bounded by the shard, whose size the
  * operator controls by shard count. Token-mass balance across shards
  * is not engineered — it concentrates (CLT over per-doc token
  * counts), and the query MEASURES it instead of asserting it.
  */
object ShardOps {

  val NumShards = 8

  def defs: Map[String, Q] = Map(
    // per-shard manifest of the deterministic global shuffle: doc
    // positions from the cross-engine tokenHash of the doc id (q82's
    // split discipline), shard = hash mod N, within-shard order =
    // (hash, doc_id). Output is the balance sheet a trainer checks
    // before reading: docs + token mass per shard, and the head of
    // each shard's order pinned via min-position doc — all
    // hash-checked against the SQL replay.
    "q152_shuffle_shards" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val h = graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string"))
        val toks = graft.ops.TextAnalysis.tokens(col("text"))
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("h").asc, col("doc_id").asc)
        documents(s, d)
          .select(col("doc_id"), h.as("h"),
            size(toks).cast("long").as("n_toks"))
          .withColumn("shard", pmod(col("h"), lit(NumShards.toLong)))
          .withColumn("seq", row_number().over(w))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("sum_toks"),
            min(when(col("seq") === 1, col("doc_id"))).as("head_doc"))
      },
      Some {
        val tokSql = TextOps.toksSql
        s"""WITH t AS (SELECT doc_id,
           |  ${TextOps.tokHashSql("CAST(doc_id AS VARCHAR)")} AS h,
           |  CAST(len($tokSql) AS BIGINT) AS n_toks
           |  FROM documents),
           |sh AS (SELECT doc_id, h, n_toks, h % ${ShardOps.NumShards} AS shard,
           |         row_number() OVER (PARTITION BY h % ${ShardOps.NumShards}
           |           ORDER BY h, doc_id) AS seq
           |       FROM t)
           |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_toks) AS BIGINT) AS sum_toks,
           |       min(CASE WHEN seq = 1 THEN doc_id END) AS head_doc
           |FROM sh GROUP BY 1""".stripMargin
      },
      "deterministic training-order shuffle + hash-mod sharding: one exchange, measured shard balance"),

    // interleave QUALITY of the shuffled order: a trainer reading a
    // shard sequentially should not see long same-source runs (the
    // hash order is source-blind, so runs follow the source mix's
    // geometric law — this measures them instead of asserting). Per
    // shard: adjacent same-source pairs (lag over the seq order) and
    // the longest same-source run (the seq − row_number-within-
    // (shard, source) constant-group trick — both engines replay the
    // identical windows). One exchange on shard; both windows reuse
    // its partitioning.
    "q153_interleave" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val h = graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string"))
        val order = Window.partitionBy(col("shard"))
          .orderBy(col("h").asc, col("doc_id").asc)
        val bySrc = Window.partitionBy(col("shard"), col("source"))
          .orderBy(col("h").asc, col("doc_id").asc)
        documents(s, d)
          .select(col("doc_id"), col("source"), h.as("h"))
          .withColumn("shard", pmod(col("h"), lit(NumShards.toLong)))
          .withColumn("seq", row_number().over(order))
          .withColumn("same_prev",
            (lag(col("source"), 1).over(order) === col("source")).cast("int"))
          .withColumn("grp", col("seq") - row_number().over(bySrc))
          .withColumn("run_len", count(lit(1)).over(
            Window.partitionBy(col("shard"), col("source"), col("grp"))))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("same_prev"), lit(0))).as("adj_same"),
            max(col("run_len")).as("max_run"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              |  ${TextOps.tokHashSql("CAST(doc_id AS VARCHAR)")} AS h
              |  FROM documents),
              |sh AS (SELECT doc_id, source, h, h % ${NumShards} AS shard,
              |         row_number() OVER (PARTITION BY h % ${NumShards}
              |           ORDER BY h, doc_id) AS seq,
              |         CASE WHEN lag(source) OVER (PARTITION BY h % ${NumShards}
              |           ORDER BY h, doc_id) = source THEN 1 ELSE 0 END AS same_prev,
              |         row_number() OVER (PARTITION BY h % ${NumShards}, source
              |           ORDER BY h, doc_id) AS rs
              |       FROM t),
              |runs AS (SELECT shard, source, seq - rs AS grp,
              |           count(*) OVER (PARTITION BY shard, source, seq - rs) AS run_len,
              |           same_prev
              |         FROM sh)
              |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(same_prev) AS BIGINT) AS adj_same,
              |       CAST(max(run_len) AS BIGINT) AS max_run
              |FROM runs GROUP BY 1""".stripMargin),
      "interleave quality of the sharded order: adjacent same-source pairs + longest same-source run per shard"),

    // TEMPERATURE-SCALED SOURCE MIXING (the multilingual-pretraining
    // sampler: XLM-R / mT5 draw from source s with probability
    // ∝ p_s^α, α < 1, so small sources are upsampled relative to
    // proportional). α = 1/2 here, which makes the weights sqrt(n_s)
    // — IEEE sqrt is correctly rounded in BOTH engines, so unlike a
    // general pow the weights are bit-identical. Allocation of the
    // K = 100 budget is the largest-remainder (Hamilton) method:
    // base_s = floor(K·w_s/W), leftover +1s by remainder rank. W
    // folds the per-source weights IN SOURCE ORDER (the shared
    // sequential-fold discipline — an unordered double sum would be
    // engine-dependent); every downstream number is an integer or a
    // rank of identical doubles, so the OUTPUT has no float columns
    // at all. The pool is deterministically skewed first (survival
    // h % (idx+2) = 0 — source s keeps ~25/(s+2) docs) because
    // temperature flattening is invisible on the uniform raw table;
    // per-source picks are by hash rank (q152's order). A quota can
    // exceed a tiny source's pool — selection then exhausts the
    // source (sampling without replacement), the real-world behavior.
    // Scale shape: two source-cardinality aggregates + two 1-row
    // stats crossJoins + one per-source window — never a global sort
    // of docs.
    "q180_temperature_mix" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val K = 100
        val pool = documents(s, d)
          .select(col("doc_id"), col("source"),
            substring(col("source"), 4, 10).cast("int").as("idx"),
            graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string"))
              .as("h"))
          .where(pmod(col("h"), col("idx") + 2) === 0)
        val srcs = pool.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w", sqrt(col("n_docs").cast("double")))
          .localCheckpoint() // per-source rows, read by tot/a0/lo/alloc
        val tot = srcs.agg(
          aggregate(
            sort_array(collect_list(struct(col("source"), col("w"))))
              .getField("w"),
            lit(0.0), (acc, x) => acc + x).as("wsum"))
        val a0 = srcs.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            floor(lit(K) * col("w") / col("wsum")).cast("long").as("base"),
            (lit(K) * col("w") / col("wsum") -
              floor(lit(K) * col("w") / col("wsum"))).as("rem"))
        val lo = a0.agg((lit(K) - sum(col("base"))).as("leftover"))
        val wr = Window.orderBy(col("rem").desc, col("source").asc)
        val alloc = a0.crossJoin(broadcast(lo))
          .withColumn("rr", row_number().over(wr))
          .select(col("source"), col("n_docs"),
            (col("base") + when(col("rr") <= col("leftover"), 1L)
              .otherwise(0L)).as("quota"))
        Pairs.topK(pool.join(broadcast(alloc), Seq("source")),
            Seq(col("source")), Seq(col("h").asc, col("doc_id").asc),
            col("quota"), "rn")
          .select(col("doc_id"), col("source"), col("n_docs"),
            col("quota"), col("rn"))
      },
      Some(s"""WITH pool AS (SELECT doc_id, source,
              |    CAST(substr(source, 4) AS INT) AS idx,
              |    ${TextOps.tokHashSql("CAST(doc_id AS VARCHAR)")} AS h
              |  FROM documents),
              |p2 AS (SELECT * FROM pool WHERE h % (idx + 2) = 0),
              |srcs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |           sqrt(CAST(count(*) AS DOUBLE)) AS w
              |         FROM p2 GROUP BY 1),
              |tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              |          list(w ORDER BY source)), (a, x) -> a + x) AS wsum
              |        FROM srcs),
              |a0 AS (SELECT source, n_docs,
              |         CAST(floor(100 * w / wsum) AS BIGINT) AS base,
              |         100 * w / wsum - floor(100 * w / wsum) AS rem
              |       FROM srcs CROSS JOIN tot),
              |lo AS (SELECT 100 - CAST(sum(base) AS BIGINT) AS leftover FROM a0),
              |al AS (SELECT source, n_docs,
              |         base + CASE WHEN row_number() OVER (ORDER BY rem DESC,
              |           source ASC) <= leftover THEN 1 ELSE 0 END AS quota
              |       FROM a0 CROSS JOIN lo),
              |sel AS (SELECT p.doc_id, p.source, al.n_docs, al.quota,
              |          row_number() OVER (PARTITION BY p.source
              |            ORDER BY p.h ASC, p.doc_id ASC) AS rn
              |        FROM p2 p JOIN al USING (source))
              |SELECT doc_id, source, n_docs, CAST(quota AS BIGINT) AS quota, rn
              |FROM sel WHERE rn <= quota""".stripMargin),
      "temperature-scaled source mixing: sqrt-weighted largest-remainder quotas, hash-rank picks per source"),

    // MULTI-EPOCH DETERMINISTIC RESHUFFLE: a trainer reads the same
    // shard files every epoch but must not see the same ORDER (epoch
    // repetition in a fixed order over-weights adjacency patterns), so
    // each epoch reorders within-shard by an epoch-keyed hash —
    // reproducible (resume mid-epoch from any position), seekable, and
    // shard-local (no cross-file traffic between epochs; the shard
    // assignment itself stays epoch-independent because shards ARE the
    // files). The epoch key is NOT tokenHash(doc:epoch) — the char
    // fold has zero tail avalanche (appending the epoch shifts every
    // key by the same constant, and a measured probe showed the order
    // NEVER changes), so the key is the quadratic mix
    // (hd + me²)² mod p with me = tokenHash('epoch:'+e): squaring
    // spreads the consecutive me values ~9e8 apart, and the cross
    // term 2·hd·me² re-ranks every pair — all intermediates < 2⁶³, so
    // both engines compute it exactly. Decorrelation is MEASURED, not
    // asserted: for every doc and epoch pair, does its within-shard
    // successor coincide? Under independent permutations the expected
    // coincidences per shard are ≈ 1, and that is what the output
    // shows (32/1453 across 24 epoch-pair×shard cells at sf0.001).
    // Scale shape: the epoch explode is ×E (the operator's honest
    // cost), one exchange on (epoch, shard) feeds the window, and the
    // epoch-pair comparison is an equi-join on (shard, doc_id) —
    // never all-pairs, never a global sort.
    "q185_epoch_order" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val E = 3
        val P = graft.ops.TextAnalysis.HashMod
        val h = graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string"))
        val me = graft.functions.EvmExprs.tokenHash(
          concat(lit("epoch:"), col("epoch").cast("string")))
        val m2 = pmod(me * me, lit(P))
        val he = pmod((col("hd") + m2) * (col("hd") + m2), lit(P))
        val w = Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("he").asc, col("doc_id").asc)
        val ord = documents(s, d)
          .select(col("doc_id"), h.as("hd"),
            pmod(h, lit(NumShards.toLong)).as("shard"))
          .withColumn("epoch", explode(sequence(lit(0L), lit(E - 1L))))
          .withColumn("he", he)
          .withColumn("succ", lead(col("doc_id"), 1).over(w))
          .where(col("succ").isNotNull)
          .select(col("epoch"), col("shard"), col("doc_id"), col("succ"))
          .localCheckpoint() // both sides of the epoch-pair self-join
        val a = ord.select(col("epoch").as("epoch_a"), col("shard"),
          col("doc_id"), col("succ").as("succ_a"))
        val b = ord.select(col("epoch").as("epoch_b"), col("shard"),
          col("doc_id"), col("succ").as("succ_b"))
        a.join(b, Seq("shard", "doc_id"))
          .where(col("epoch_a") < col("epoch_b"))
          .groupBy(col("epoch_a"), col("epoch_b"), col("shard"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("succ_a") === col("succ_b"), 1L).otherwise(0L))
              .as("n_same_succ"))
      },
      Some {
        val P = graft.ops.TextAnalysis.HashMod
        val hSql = TextOps.tokHashSql("CAST(doc_id AS VARCHAR)")
        val meSql = TextOps.tokHashSql("'epoch:' || CAST(epoch AS VARCHAR)")
        val heSql = s"((hd + (me * me) % $P) * (hd + (me * me) % $P)) % $P"
        s"""WITH base AS (SELECT doc_id, $hSql AS hd,
           |    $hSql % ${NumShards} AS shard
           |  FROM documents),
           |e AS (SELECT doc_id, hd, shard, epoch, $meSql AS me
           |      FROM base CROSS JOIN range(0, 3) t(epoch)),
           |ord AS (SELECT epoch, shard, doc_id,
           |          lead(doc_id) OVER (PARTITION BY epoch, shard
           |            ORDER BY $heSql, doc_id) AS succ
           |        FROM e)
           |SELECT a.epoch AS epoch_a, b.epoch AS epoch_b, shard,
           |       count(*) AS n_pairs,
           |       CAST(sum(CASE WHEN a.succ = b.succ THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_same_succ
           |FROM ord a JOIN ord b USING (shard, doc_id)
           |WHERE a.epoch < b.epoch
           |  AND a.succ IS NOT NULL AND b.succ IS NOT NULL
           |GROUP BY 1, 2, 3""".stripMargin
      },
      "multi-epoch deterministic reshuffle: epoch-keyed within-shard order, measured successor decorrelation"),

    // EXACT-QUOTA STRATIFIED SAMPLE — downsample each source to an
    // EXACT deterministic quota (here ceil(n/4), integer math — the
    // 25% is a documented knob): the k docs with the smallest
    // (sampleHash(doc_id), doc_id), i.e. a seeded uniform sample that
    // any replica reproduces bit-for-bit. The scale move is HOW the
    // k-smallest are found: a per-source `row_number() ≤ k` would
    // sort corpus rows inside single-task source partitions. Instead:
    // histogram the hash domain (bucket = h div 2^21, ≤1024 cells per
    // source — sampleHash < 2^31), cumulate per source, find the
    // boundary bucket b* where the running count first reaches k,
    // take every row below b* filter-only, and rank ONLY inside b*
    // (expected corpus/1024 rows) for the remainder. Bucket is
    // monotone in h, so the union is exactly the k lexicographic
    // smallest — the oracle states the spec independently as the
    // plain window it would be at toy scale.
    "q202_exact_sample" -> Q(
      (s, d) => prefixBudgetSample(documents(s, d)
        .select(col("doc_id"), col("source"), sampleHash.as("h"),
          lit(1L).as("w")))._1.drop("w"),
      Some(
        s"""WITH b AS (SELECT doc_id, source,
           |    $SampleHashSql AS h
           |  FROM documents),
           |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n
           |      FROM b GROUP BY 1)
           |SELECT doc_id, source, h FROM (
           |  SELECT b.doc_id, b.source, b.h,
           |    row_number() OVER (PARTITION BY b.source
           |      ORDER BY b.h, b.doc_id) AS rn,
           |    (n.n + 3) // 4 AS k
           |  FROM b JOIN n USING (source))
           |WHERE rn <= k""".stripMargin),
      "exact-quota stratified sample: k-smallest-by-hash per source via histogram cutoff + boundary-bucket-only rank, no per-source corpus sort"),

    // TOKEN-BUDGET STRATIFIED SAMPLE — q202 with the quota in the
    // unit that matters: per source, keep the (h, doc_id)-smallest
    // docs whose RUNNING TOKEN MASS stays within ceil(total/4) — the
    // downsample a token-budgeted mixture actually takes. Same
    // prefixBudgetSample engine (the quota is additive, so the
    // histogram cumulates token mass instead of counts); the oracle
    // again states the spec as the toy-scale per-source cumulative
    // window the operator refuses to run at corpus scale.
    "q205_token_budget_sample" -> Q(
      (s, d) => prefixBudgetSample(documents(s, d)
        .select(col("doc_id"), col("source"), sampleHash.as("h"),
          size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long")
            .as("w")))._1
        .withColumnRenamed("w", "n_toks"),
      Some {
        val toksSql = TextOps.toksSql
        s"""WITH b AS (SELECT doc_id, source, $SampleHashSql AS h,
           |    CAST(len($toksSql) AS BIGINT) AS n_toks
           |  FROM documents),
           |qq AS (SELECT source,
           |         CAST((sum(n_toks) + 3) // 4 AS BIGINT) AS q
           |       FROM b GROUP BY 1),
           |c AS (SELECT doc_id, source, h, n_toks,
           |        sum(n_toks) OVER (PARTITION BY source
           |          ORDER BY h, doc_id) AS cum
           |      FROM b)
           |SELECT doc_id, source, h, n_toks
           |FROM c JOIN qq USING (source) WHERE cum <= q""".stripMargin
      },
      "token-budget stratified sample: per-source hash-order prefix within ceil(total_tokens/4), via the same histogram cutoff — no corpus sort"))

  /** The sampling hash: an LCG-style multiplicative mixer
    * h = ((doc_id mod 2^31)·1103515245 + 12345) mod 2^31 — a
    * BIJECTION on [0, 2^31) (odd multiplier), so consecutive ids
    * scatter uniformly across the bucket domain, every intermediate
    * stays under int64 in BOTH engines (max (2^31)·1103515245 ≈
    * 2.4e18), and the replay is exact integer arithmetic. tokenHash
    * is the WRONG tool here: a polynomial string-hash of a short
    * decimal id never wraps the modulus, so all n ids land in a
    * lowest sliver of the domain and the histogram degenerates to a
    * handful of buckets (measured: 4 buckets at n=5k — the boundary
    * bucket was 80% of the corpus). */
  private[graft] def sampleHash =
    expr("((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648")
  private[graft] val SampleHashSql =
    "((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648"

  /** q202/q205's selection engine, generalized to ANY additive quota:
    * over a (doc_id, source, h, w) frame, keep each source's
    * (h, doc_id)-smallest prefix whose running WEIGHT stays within
    * quota = ceil(Σw / 4) — w = 1 is q202's count quota (cum ≤ k ≡
    * the first k rows), w = n_toks is q205's token budget. No
    * per-source corpus sort: hash-domain histogram of bucket weights
    * → per-source cumulate → boundary bucket b* (first bucket whose
    * cumulative weight EXCEEDS the quota) → everything below b*
    * passes by filter alone; only b*'s sliver pays a within-bucket
    * running sum against the carried-in offset. A source no bucket
    * of which exceeds the quota keeps every row (null b* — the
    * degenerate tiny-source case). Returns (selected, boundary)
    * where `boundary` is the sliver frame the sort actually touches
    * — the ScaleLaws `sample_histcut_q202` family measures it
    * against the naive window twin. */
  private[graft] def prefixBudgetSample(base0: DataFrame)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val outCols = Seq(col("doc_id"), col("source"), col("h"), col("w"))
    val base = base0
      .withColumn("bucket", expr("h div 2097152"))
      .localCheckpoint() // read 3×: histogram, below-cut, boundary rank
    val hist = base.groupBy(col("source"), col("bucket"))
      .agg(sum(col("w")).as("wsum"))
    val quota = base.groupBy(col("source"))
      .agg(expr("(sum(w) + 3) div 4").as("q"))
    val cum = hist.withColumn("cum", sum(col("wsum")).over(
        Window.partitionBy(col("source")).orderBy(col("bucket").asc)))
      .join(broadcast(quota), Seq("source"))
    val bstar = cum.where(col("cum") > col("q"))
      .groupBy(col("source")).agg(min(col("bucket")).as("bstar"))
    // one row per source: the boundary bucket, the weight already
    // spent below it (cum − wsum ≤ q since b* is the FIRST exceeder),
    // and the quota the within-bucket running sum must respect
    val cut = cum.join(broadcast(bstar), Seq("source"))
      .where(col("bucket") === col("bstar"))
      .select(col("source"), col("bstar"),
        (col("cum") - col("wsum")).as("spent"), col("q"))
    val withCut = base.join(broadcast(cut), Seq("source"), "left")
    val below = withCut
      .where(col("bstar").isNull || col("bucket") < col("bstar"))
      .select(outCols: _*)
    val boundary = withCut.where(col("bucket") === col("bstar"))
    val ranked = boundary
      .withColumn("run", sum(col("w")).over(Window
        .partitionBy(col("source"))
        .orderBy(col("h").asc, col("doc_id").asc)))
      .where(col("spent") + col("run") <= col("q"))
      .select(outCols: _*)
    (below.unionByName(ranked), boundary.select(outCols: _*))
  }
}

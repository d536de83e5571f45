package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Lsh, Pairs}
import graft.ops.TextAnalysis._
import Tables._

/** Training-data text pipeline over `documents`: quality stats, language
  * ID, fingerprinting, exact + n-gram-Jaccard + MinHash + SimHash dedup.
  * Each query's DuckDB oracle reproduces the identical hash arithmetic
  * (the SQL fragments below are generated from the same constants).
  */
object TextOps {

  // ---- DuckDB SQL fragments mirroring TextAnalysis ----
  private[queries] val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** char-fold hash of SQL string expression `s` — mirrors tokenHash. */
  private[queries] def tokHashSql(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * 31 + b) % $HashMod)"

  /** 60-bit composite fingerprint of SQL string expression `s` —
    * mirrors EvmExprs.tokenHashWide (two independent char folds,
    * bases 131/137, combined f₁₃₁·HashMod + f₁₃₇; the r10 advice's
    * widened certificate fingerprint). */
  private[queries] def tokHashWideSql(s: String): String = {
    def fold(base: Int) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * $base + b) % $HashMod)"
    s"(${fold(131)} * $HashMod + ${fold(137)})"
  }

  /** 4-token shingles of list expr `T` — mirrors shingles(_, 4). */
  private[queries] def shinglesSql(T: String): String =
    s"list_transform(range(1, len($T) - 2), i -> $T[i] || ' ' || $T[i+1] || ' ' || $T[i+2] || ' ' || $T[i+3])"

  /** q28's LSH near-dup machinery, shared with cluster assignment
    * (q101): fused one-pass signatures → 2 bands of 2 hashes → band
    * equi-join candidates → signature-agreement score ≥ 0.5. */
  private[graft] def bandPairs(s: SparkSession, d: String): DataFrame =
    bandPairsOf(documents(s, d))

  /** q193's attribution-join + overlap-matrix shape over an arbitrary
    * (a_id, b_id) pair frame and (doc_id, source) attribution frame —
    * factored out so the 100-TB claim in q193's comment is MEASURED
    * instead of narrated: the `attr_bucketed` family of
    * [[graft.bench.ScaleLaws]] runs this
    * SAME plan against a doc_id-bucketed attribution table
    * ([[graft.sinks.Bucketing]]) and counts the attribution-side
    * exchanges that disappear; BucketingSpec pins the plan shape. */
  private[graft] def sourceOverlapOf(pairs: DataFrame,
      srcs: DataFrame): DataFrame =
    pairs
      .join(srcs.toDF("a_id", "src_x"), Seq("a_id"))
      .join(srcs.toDF("b_id", "src_y"), Seq("b_id"))
      .select(
        least(col("src_x"), col("src_y")).as("src_a"),
        greatest(col("src_x"), col("src_y")).as("src_b"),
        when(col("src_x") <= col("src_y"), col("a_id"))
          .otherwise(col("b_id")).as("da"),
        when(col("src_x") <= col("src_y"), col("b_id"))
          .otherwise(col("a_id")).as("db"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("da")).as("n_docs_a"),
        countDistinct(col("db")).as("n_docs_b"))

  /** [[bandPairs]] over an arbitrary (doc_id, text) frame — the curation
    * pipeline (q141) runs it over exact-dedup SURVIVORS, not the raw
    * table. */
  private def bandPairsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val sig = Lsh.signatures(
        docs.repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      .localCheckpoint() // read by both band explodes + the scorer
    Lsh.selfPairs(Lsh.bands(sig))
      .join(Lsh.prefixed(sig, "a_id", "a"), "a_id")
      .join(Lsh.prefixed(sig, "b_id", "b"), "b_id")
      .select(col("a_id"), col("b_id"), Lsh.agreement("a", "b").as("est_jaccard"))
      .where(col("est_jaccard") >= 0.5)
  }

  /** The CTE chain producing q28's scored pairs as `p` (DuckDB side).
    * `rel` is the (doc_id, text) relation the chain reads — mirrors
    * [[bandPairsOf]]'s input parameter. */
  private def bandPairsCtesSql(rel: String = "documents"): String = {
    val sigExprs = MinHashCoeffs.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(H, h -> (h * $a + $b) % $MinHashP)) AS h$j"
    }.mkString(", ")
    s"""t AS (SELECT doc_id, $toksSql AS T FROM $rel),
       |hh AS (SELECT doc_id, list_transform(list_distinct(${shinglesSql("T")}), s -> ${tokHashSql("s")}) AS H FROM t),
       |sig AS (SELECT doc_id, $sigExprs FROM hh WHERE len(H) > 0),
       |bands AS (
       |  SELECT doc_id, 0 AS band, h0 AS x, h1 AS y FROM sig
       |  UNION ALL SELECT doc_id, 1, h2, h3 FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.x = b.x AND a.y = b.y
       |              AND a.doc_id < b.doc_id),
       |p AS (SELECT a_id, b_id,
       |        (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END +
       |         CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END +
       |         CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END +
       |         CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) / 4.0 AS est_jaccard
       |      FROM cand JOIN sig sa ON sa.doc_id = a_id JOIN sig sb ON sb.doc_id = b_id)""".stripMargin
  }

  /** The curation pipeline's stages, in production order, each built on
    * the registered operator it composes (q83/q28/q98/q27/q126/q131) —
    * q141 reads the final packed manifest, q142 audits every stage's
    * surviving count. Returned as (stage label, frame) pairs; labels
    * match [[curateCtesSql]]'s CTE names so the two engines audit the
    * same boundaries. */
  private def curateStages(s: SparkSession, d: String): Seq[(String, DataFrame)] =
    curateStagesOf(documents(s, d))

  /** [[curateStages]] over an arbitrary (doc_id, text, source, n_chars)
    * frame — [[graft.bench.ScaleLaws]] feeds it amplified corpora to
    * measure whether the END-TO-END chain stays linear, not just each
    * stage in isolation. The benchmark shingle set is re-derived from
    * the INPUT frame (doc_id % 29), mirroring the registered query. */
  def curateStagesOf(docs: DataFrame): Seq[(String, DataFrame)] = {
    import org.apache.spark.sql.expressions.Window
    // stage 1: exact dedup, best representative per content hash (q83)
    val w1 = Window.partitionBy(col("key"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val s1 = docs
      .withColumn("key", contentKey(col("text")))
      .withColumn("rn", row_number().over(w1))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("text"), col("source"))
      .localCheckpoint() // band machinery + three later stages read it
    // stage 2: near-dup keep-first — drop the LARGER id of every banded
    // pair scoring est_jaccard >= 0.5 (non-cascading, like q135: dup if
    // ANY smaller near-twin exists, kept or not)
    val drop2 = bandPairsOf(s1).select(col("b_id").as("doc_id")).distinct()
    val s2 = s1.join(drop2, Seq("doc_id"), "left_anti")
      .localCheckpoint() // truncate the band-join lineage: the audit
    // counts every later stage and must not re-run the MinHash pass
    // stage 3: decontamination — the benchmark's shingles come from the
    // ORIGINAL corpus (the eval suite exists independently of what
    // dedup kept) and broadcast into a semi-join (q98)
    val bench = shingleRowsOf(docs.where(col("doc_id") % 29 === 0))
      .select(col("sh").as("b_sh")).distinct()
    val contaminated = shingleRowsOf(s2.where(col("doc_id") % 29 =!= 0))
      .join(broadcast(bench), col("sh") === col("b_sh"), "left_semi")
      .select("doc_id").distinct()
    val s3 = s2.where(col("doc_id") % 29 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .localCheckpoint() // same: shingle explode runs once, not 3×
    // stage 4: quality gate on q27's exact statistics
    val s4 = withQuality(s3).where(qualityGate)
    // stage 5: PII scrub (q126's injected fixture so the redaction
    // provably fires; chars_removed rides the manifest)
    val dirty = concat(col("text"),
      lit(" contact: user"), col("doc_id").cast("string"),
      lit("@example.com ref "),
      ((col("doc_id") + 1L) * 1234567L).cast("string"), lit(" end"))
    val scrubbed = regexp_replace(
      regexp_replace(dirty,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "[0-9]{7,}", "<NUM>")
    val s5 = s4.withColumn("chars_removed",
      (length(dirty) - length(scrubbed)).cast("long"))
    // stage 6: per-source token-budget packing, best-first (q131)
    val w6 = Window.partitionBy(col("source"))
      .orderBy(col("n_toks").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = s5.withColumn("cum_toks", sum(col("n_toks")).over(w6))
    Seq("s1" -> s1, "s2" -> s2, "s3" -> s3, "s4" -> s4, "packed" -> packed)
  }

  /** Budget shared by [[curateStages]]' packing window and its oracle. */
  val CurateTokenBudget = 800L

  /** q200/q208's certificate chain at an arbitrary token budget:
    * per-shard (n_docs, sum_toks, checksum) of the curated manifest
    * truncated at `budget` — the shard/order/fingerprint algebra of
    * q200 (see its entry doc), parameterized so q208 can certify two
    * exports and diff them. */
  private def exportCert(s: SparkSession, d: String, budget: Long)
      : DataFrame =
    exportCertOf(curateStages(s, d).last._2, budget)

  /** [[exportCert]] over an already-built packed manifest frame —
    * q208 certifies TWO budgets of the SAME packed manifest, so it
    * builds the curation chain once (checkpointed) and derives both
    * certificates from it instead of paying the whole multi-stage
    * pipeline per budget (optimization guide §1.2: don't compute
    * things twice; measured ~2× on q208). */
  private def exportCertOf(packed: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val curated = packed
      .where(col("cum_toks") <= budget)
      .select(col("doc_id"), col("source"), col("n_toks"))
    val h = graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("h").asc, col("doc_id").asc)
    // 60-bit composite row fingerprint (r10 advice: the single-fold
    // ~30-bit hash gives each shard certificate only ~2^-30 collision
    // odds per divergent export — weak for an artifact whose sole
    // purpose is detecting divergence)
    val fp = graft.functions.EvmExprs.tokenHashWide(concat(
      col("doc_id").cast("string"), lit(":"),
      col("seq").cast("string"), lit(":"),
      col("n_toks").cast("string")))
    curated.withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(ShardOps.NumShards.toLong)))
      .withColumn("seq", row_number().over(w))
      .withColumn("fp", fp)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_toks"),
        expr("bit_xor(fp)").as("checksum"))
  }

  /** DuckDB replay of [[exportCert]] at `budget` — a complete SELECT
    * (own WITH), composable as a parenthesized subquery. */
  private def exportCertSql(budget: Long): String =
    s"""WITH $curateCtesSql,
       |exp AS (SELECT doc_id, source, n_toks FROM packed
       |        WHERE cum_toks <= $budget),
       |shx AS (SELECT doc_id, source, n_toks,
       |          ${tokHashSql("CAST(doc_id AS VARCHAR)")} AS h
       |        FROM exp),
       |ord AS (SELECT h % ${ShardOps.NumShards} AS shard,
       |          row_number() OVER (PARTITION BY h % ${ShardOps.NumShards}
       |            ORDER BY h, doc_id) AS seq,
       |          doc_id, n_toks
       |        FROM shx),
       |fp AS (SELECT shard, n_toks,
       |         ${tokHashWideSql("CAST(doc_id AS VARCHAR) || ':' || CAST(seq AS VARCHAR) || ':' || CAST(n_toks AS VARCHAR)")} AS fp
       |       FROM ord)
       |SELECT shard, count(*) AS n_docs,
       |       CAST(sum(n_toks) AS BIGINT) AS sum_toks,
       |       bit_xor(fp) AS checksum
       |FROM fp GROUP BY 1""".stripMargin

  /** The DuckDB CTE chain mirroring [[curateStages]] stage for stage;
    * ends with `packed` (pre-budget-filter rows carry cum_toks). */
  private def curateCtesSql: String = {
    val dirtySql = "text || ' contact: user' || doc_id || '@example.com ref ' || (doc_id + 1) * 1234567 || ' end'"
    val scrubSql = s"regexp_replace(regexp_replace($dirtySql, " +
      """'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{7,}', '<NUM>', 'g')"""
    s"""r1 AS (
       |  SELECT doc_id, text, source,
       |         row_number() OVER (PARTITION BY md5(text)
       |           ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM documents),
       |s1 AS (SELECT doc_id, text, source FROM r1 WHERE rn = 1),
       |${bandPairsCtesSql("s1")},
       |drop2 AS (SELECT DISTINCT b_id AS doc_id FROM p WHERE est_jaccard >= 0.5),
       |s2 AS (SELECT * FROM s1 ANTI JOIN drop2 USING (doc_id)),
       |tb AS (SELECT doc_id, $toksSql AS T FROM documents WHERE doc_id % 29 = 0),
       |bench AS (SELECT DISTINCT unnest(list_distinct(list_transform(${shinglesSql("T")}, s -> ${tokHashSql("s")}))) AS sh FROM tb),
       |t2 AS (SELECT doc_id, $toksSql AS T FROM s2 WHERE doc_id % 29 <> 0),
       |sh2 AS (SELECT doc_id, unnest(list_distinct(list_transform(${shinglesSql("T")}, s -> ${tokHashSql("s")}))) AS sh FROM t2),
       |cont AS (SELECT DISTINCT doc_id FROM sh2 SEMI JOIN bench USING (sh)),
       |s3 AS (SELECT * FROM (SELECT * FROM s2 WHERE doc_id % 29 <> 0) z
       |       ANTI JOIN cont USING (doc_id)),
       |q4 AS (SELECT doc_id, text, source,
       |         CAST(len($toksSql) AS BIGINT) AS n_toks,
       |         CASE WHEN len($toksSql) = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE round(CAST(len(list_filter($toksSql, w -> w IN ('the','a','of','and','to'))) AS DOUBLE)
       |               / len($toksSql), 6) END AS stopword_ratio
       |       FROM s3),
       |s4 AS (SELECT * FROM q4 WHERE n_toks >= 40 AND stopword_ratio >= 0.03),
       |s5 AS (SELECT doc_id, source, n_toks, stopword_ratio,
       |         CAST(length($dirtySql) - length($scrubSql) AS BIGINT) AS chars_removed
       |       FROM s4),
       |packed AS (
       |  SELECT source, doc_id, n_toks, stopword_ratio, chars_removed,
       |         sum(n_toks) OVER (PARTITION BY source
       |           ORDER BY n_toks DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum_toks
       |  FROM s5)""".stripMargin
  }

  /** DISTINCT (doc_id, sp, w) span rows: `keyFn` maps the token-hash
    * array to the span-key array (production: the 60-bit
    * [[graft.ops.TextAnalysis.spanHashes]]; proofs: the narrowed
    * variants), `w` is the VERBATIM 8-token window text behind the
    * key — the confirm layer's evidence column. Shared by q138 and
    * the ScaleLaws narrow-key proof family. */
  def spanRows(docs: DataFrame, keyFn: org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column): DataFrame =
    docs
      .withColumn("TOKS", tokens(col("text")))
      .withColumn("TH", transform(col("TOKS"), t => tokenHash(t)))
      .select(col("doc_id"), col("TOKS"),
        posexplode(keyFn(col("TH"))).as(Seq("pos", "sp")))
      .select(col("doc_id"), col("sp"),
        concat_ws(" ", slice(col("TOKS"), col("pos") + 1, lit(8))).as("w"))
      .distinct()

  /** Per-doc span-dedup counts with the EXACT-CONFIRM layer (SCALE.md's
    * prescribed re-rank): `n_dup_spans` counts spans whose KEY is held
    * by ≥2 docs (q134's advisory signal — key-width-dependent), while
    * `n_dup_spans_confirmed` counts spans whose verbatim window text is
    * shared with another doc — the deletion-grade signal, immune to
    * hash collisions by construction (and therefore IDENTICAL under any
    * key width, which the spec pins). Scale shape: the confirm
    * self-join runs ONLY behind colliding keys — at 10¹² spans with the
    * 60-bit key that set is the true dups plus ~10³ random collisions —
    * one extra equi-join on (sp, w), linear in the colliding subset. */
  def spanConfirmCounts(docs: DataFrame, keyFn: org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column): DataFrame = {
    val rows = spanRows(docs, keyFn)
      .localCheckpoint() // dup keys + collide set + per-doc agg read it
    val dupKeys = rows.groupBy(col("sp"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .where(col("ndocs") >= 2).select("sp")
    val colliding = rows.join(dupKeys, Seq("sp"), "left_semi")
      .select(col("doc_id"), col("sp"), col("w"))
    val confirmed = colliding
      .join(colliding.select(col("doc_id").as("b_id"), col("sp"), col("w")),
        Seq("sp", "w"))
      .where(col("doc_id") =!= col("b_id"))
      .select(col("doc_id"), col("sp")).distinct()
    rows
      .join(dupKeys.withColumn("isdup", lit(1)), Seq("sp"), "left")
      .join(confirmed.withColumn("isconf", lit(1)), Seq("doc_id", "sp"), "left")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sp")).as("n_spans"),
        countDistinct(when(col("isdup") === 1, col("sp"))).as("n_dup_spans"),
        countDistinct(when(col("isconf") === 1, col("sp")))
          .as("n_dup_spans_confirmed"))
  }

  /** The q143 chain over an arbitrary (doc_id, text, source, n_chars)
    * frame: batch = doc_id % 5 = 0 curated against the rest as the
    * existing corpus, one row per batch doc with its drop-provenance
    * status. Public so the spec can drive a hand-built corpus through
    * ALL eight statuses (the synthetic corpus never exercises the
    * exact-dup and in-batch-near-dup paths at oracle scale). */
  def curateIncremental(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = docs.sparkSession
    val batch0 = docs.where(col("doc_id") % 5 === 0)
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    // exact layer: corpus content-hash probe + within-batch keep-best
    val keyed = batch0.withColumn("key", contentKey(col("text")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("key"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)))
      .localCheckpoint() // read by the probe, the rn filter, and the final join
    val dupExactCorpus = keyed
      .join(corpus.select(contentKey(col("text")).as("key")).distinct(),
        Seq("key"), "left_semi")
      .select("doc_id")
    val dupExactBatch = keyed.where(col("rn") > 1).select("doc_id")
    val b1 = keyed.select("doc_id")
      .join(dupExactCorpus, Seq("doc_id"), "left_anti")
      .join(dupExactBatch, Seq("doc_id"), "left_anti")
    // near-dup layer: ONE signature pass over the whole table (the
    // corpus side is the stored band index in production), then the
    // batch probes the corpus index AND self-joins its own bands
    val sig = Lsh.signatures(
        docs.repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      .localCheckpoint() // bands ×2 sides + the two scorers read it
    val bsig = sig.join(b1, Seq("doc_id"), "left_semi")
    val csig = sig.where(col("doc_id") % 5 =!= 0)
    val dupNearCorpus = Lsh.probePairs(Lsh.bands(bsig), Lsh.bands(csig))
      .join(Lsh.prefixed(bsig, "b_id", "a"), "b_id")
      .join(Lsh.prefixed(csig, "c_id", "b"), "c_id")
      .where(Lsh.agreement("a", "b") >= 0.5)
      .select(col("b_id").as("doc_id")).distinct()
    // q141's keep-first rule: the LARGER id of a scoring pair drops
    val dupNearBatch = Lsh.selfPairs(Lsh.bands(bsig))
      .join(Lsh.prefixed(bsig, "a_id", "a"), "a_id")
      .join(Lsh.prefixed(bsig, "b_id", "b"), "b_id")
      .where(Lsh.agreement("a", "b") >= 0.5)
      .select(col("b_id").as("doc_id")).distinct()
    val b2 = b1
      .join(dupNearCorpus, Seq("doc_id"), "left_anti")
      .join(dupNearBatch, Seq("doc_id"), "left_anti")
    // decontamination: benchmark shingles from the FULL corpus
    // (q141's rule — the eval suite exists independently of the
    // batch split); bench members themselves route to the suite
    val bench = shingleRowsOf(docs.where(col("doc_id") % 29 === 0))
      .select(col("sh").as("b_sh")).distinct()
    val contaminated = shingleRowsOf(
        batch0.join(b2, Seq("doc_id"), "left_semi")
          .where(col("doc_id") % 29 =!= 0))
      .join(broadcast(bench), col("sh") === col("b_sh"), "left_semi")
      .select("doc_id").distinct()
    // quality stats per-row for EVERY batch doc (they ride the
    // manifest even for dropped docs — provenance plus evidence)
    val withQ = withQuality(keyed)
    def flag(df: DataFrame, name: String) =
      df.withColumn(name, lit(1))
    withQ
      .join(flag(dupExactCorpus, "f_dec"), Seq("doc_id"), "left")
      .join(flag(dupNearCorpus, "f_dnc"), Seq("doc_id"), "left")
      .join(flag(dupNearBatch, "f_dnb"), Seq("doc_id"), "left")
      .join(flag(contaminated, "f_cont"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_toks"),
        when(col("f_dec") === 1, "dup_exact_corpus")
          .when(col("rn") > 1, "dup_exact_batch")
          .when(col("f_dnc") === 1, "dup_near_corpus")
          .when(col("f_dnb") === 1, "dup_near_batch")
          .when(col("doc_id") % 29 === 0, "bench_member")
          .when(col("f_cont") === 1, "contaminated")
          .when(!qualityGate, "low_quality")
          .otherwise("kept").as("status"))
  }

  /** q206/q209's shared oracle chain over [[curateStreamCtesSql]]'s
    * replayed kept set: residual band-colliding pairs (`pr`) among
    * stored docs, re-deriving the signatures the store holds.
    * `ks` is MATERIALIZED so DuckDB does not re-inline the whole
    * signature chain at each of its four references. */
  private def residualPairsCtesSql: String =
    """allk AS (SELECT doc_id FROM idx1
      |         UNION ALL SELECT doc_id FROM kept1
      |         UNION ALL SELECT doc_id FROM kept2),
      |ks AS MATERIALIZED (SELECT sig.* FROM sig
      |                    SEMI JOIN allk USING (doc_id)),
      |kb AS (SELECT doc_id, 0 AS band, h0 AS x, h1 AS y FROM ks
      |       UNION ALL SELECT doc_id, 1, h2, h3 FROM ks),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |         FROM kb a JOIN kb b
      |           ON a.band = b.band AND a.x = b.x AND a.y = b.y
      |              AND a.doc_id < b.doc_id),
      |pr AS (SELECT a_id, b_id FROM cand
      |       JOIN ks sa ON sa.doc_id = a_id
      |       JOIN ks sb ON sb.doc_id = b_id
      |       WHERE (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END +
      |              CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END +
      |              CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END +
      |              CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) / 4.0
      |             >= 0.5)""".stripMargin

  /** Spark face of [[residualPairsCtesSql]]: confirmed band-colliding
    * pairs from a stored curate_bands frame (doc_id, h0..h3) — the
    * signature arithmetic is never recomputed. Caller should
    * localCheckpoint `sig` (read 4×). */
  private def residualPairsOf(sig: DataFrame): DataFrame =
    Lsh.selfPairs(Lsh.bands(sig))
      .join(Lsh.prefixed(sig, "a_id", "a"), "a_id")
      .join(Lsh.prefixed(sig, "b_id", "b"), "b_id")
      .where(Lsh.agreement("a", "b") >= 0.5)
      .select("a_id", "b_id")

  /** The q196 two-micro-batch curate scenario built ONCE per
    * (JVM, sfDir) with the lex + cert layers armed, and SHARED by the
    * serve-from-the-store queries (q203/q204/q206/q209) — the r10
    * bench-hygiene item: five scenario queries each rebuilding an
    * identical fixture put ~38 s of identical bootstraps in the 179 s
    * bench, drowning serve-path regressions in fixture-build jitter.
    * Accounting stays honest: q196 keeps its OWN root and re-lands the
    * scenario on every invocation (the full fixture bill, reported
    * under one query), while the four sharers measure exactly their
    * serve paths. Extra armed layers are additive-only (more entities
    * in the store, same manifests/bands), so every sharer reads the
    * same rows it read from its private store. */
  private val scenarioRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def curateScenarioRoot(s: SparkSession, d: String): String =
    scenarioRoots.computeIfAbsent(d, _ => {
      import graft.streaming.CurateStream
      val root = graft.Temps.dirFor(s"curate-scenario-$d")
      val docs = documents(s, d)
      CurateStream.bootstrap(docs.where(col("doc_id") % 5 =!= 0), root,
        withLex = true, withCert = true)
      CurateStream.ingestBatch(docs.where(col("doc_id") % 10 === 0), root,
        lexIndex = true, certIndex = true)
      CurateStream.ingestBatch(docs.where(col("doc_id") % 10 === 5), root,
        lexIndex = true, certIndex = true)
      root
    })

  /** Shared CTE chain replaying [[graft.streaming.CurateStream]]'s
    * two-micro-batch scenario (bootstrap corpus = doc_id % 5 ≠ 0,
    * batch 1 = % 10 = 0, batch 2 = % 10 = 5, phase 2 probing
    * corpus ∪ phase-1 kept): ends with per-phase manifests m1/m2
    * (doc_id, source, n_toks, status) and kept1/kept2. q144 selects
    * the manifest union; q196 aggregates it into the online
    * datasheet. */
  private def curateStreamCtesSql: String = {
    val sigExprs = MinHashCoeffs.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(H, h -> (h * $a + $b) % $MinHashP)) AS h$j"
    }.mkString(", ")
    val agreeSql =
      """(CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END +
        |               CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END +
        |               CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END +
        |               CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) / 4.0 >= 0.5""".stripMargin
    // one phase of the sequential chain: batch residue `m` (mod
    // 10), probing index relation idx$p; bench$p = the shingle set
    // as of this phase (corpus + every batch ingested so far,
    // including this one)
    def phase(p: Int, m: Int, benchPred: String): String =
      s"""b$p AS (SELECT d.doc_id, d.source, d.n_chars, k.key
         |        FROM documents d JOIN keys k USING (doc_id)
         |        WHERE d.doc_id % 10 = $m),
         |r$p AS (SELECT doc_id, key, row_number() OVER (PARTITION BY key
         |          ORDER BY n_chars DESC, doc_id) AS rn FROM b$p),
         |dec$p AS (SELECT b.doc_id FROM b$p b SEMI JOIN
         |            (SELECT DISTINCT k.key FROM keys k
         |             SEMI JOIN idx$p USING (doc_id)) ck USING (key)),
         |b1$p AS (SELECT doc_id FROM r$p WHERE rn = 1
         |           AND doc_id NOT IN (SELECT doc_id FROM dec$p)),
         |bsig$p AS (SELECT sig.* FROM sig SEMI JOIN b1$p USING (doc_id)),
         |csig$p AS (SELECT sig.* FROM sig SEMI JOIN idx$p USING (doc_id)),
         |bb$p AS (SELECT doc_id, 0 AS band, h0 AS x, h1 AS y FROM bsig$p
         |         UNION ALL SELECT doc_id, 1, h2, h3 FROM bsig$p),
         |cb$p AS (SELECT doc_id, 0 AS band, h0 AS x, h1 AS y FROM csig$p
         |         UNION ALL SELECT doc_id, 1, h2, h3 FROM csig$p),
         |dnc$p AS (SELECT DISTINCT b_id AS doc_id FROM
         |            (SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
         |             FROM bb$p b JOIN cb$p c
         |               ON b.band = c.band AND b.x = c.x AND b.y = c.y) cc
         |          JOIN bsig$p sa ON sa.doc_id = b_id
         |          JOIN csig$p sb ON sb.doc_id = c_id
         |          WHERE $agreeSql),
         |dnb$p AS (SELECT DISTINCT b_id AS doc_id FROM
         |            (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |             FROM bb$p a JOIN bb$p b
         |               ON a.band = b.band AND a.x = b.x AND a.y = b.y
         |                  AND a.doc_id < b.doc_id) cc
         |          JOIN bsig$p sa ON sa.doc_id = a_id
         |          JOIN bsig$p sb ON sb.doc_id = b_id
         |          WHERE $agreeSql),
         |b2$p AS (SELECT doc_id FROM b1$p
         |         WHERE doc_id NOT IN (SELECT doc_id FROM dnc$p)
         |           AND doc_id NOT IN (SELECT doc_id FROM dnb$p)),
         |bench$p AS (SELECT DISTINCT sh FROM shing
         |            WHERE doc_id % 29 = 0 AND ($benchPred)),
         |cont$p AS (SELECT DISTINCT s2.doc_id FROM
         |             (SELECT s.* FROM shing s SEMI JOIN b2$p USING (doc_id)
         |              WHERE s.doc_id % 29 <> 0) s2
         |           SEMI JOIN bench$p USING (sh)),
         |m$p AS (SELECT b.doc_id, b.source, q.n_toks,
         |          CASE WHEN b.doc_id IN (SELECT doc_id FROM dec$p) THEN 'dup_exact_corpus'
         |               WHEN r.rn > 1 THEN 'dup_exact_batch'
         |               WHEN b.doc_id IN (SELECT doc_id FROM dnc$p) THEN 'dup_near_corpus'
         |               WHEN b.doc_id IN (SELECT doc_id FROM dnb$p) THEN 'dup_near_batch'
         |               WHEN b.doc_id % 29 = 0 THEN 'bench_member'
         |               WHEN b.doc_id IN (SELECT doc_id FROM cont$p) THEN 'contaminated'
         |               WHEN q.n_toks < 40 OR q.stopword_ratio < 0.03 THEN 'low_quality'
         |               ELSE 'kept' END AS status
         |        FROM b$p b JOIN r$p r USING (doc_id) JOIN q USING (doc_id)),
         |kept$p AS (SELECT doc_id FROM m$p WHERE status = 'kept')""".stripMargin
    s"""t AS (SELECT doc_id, $toksSql AS T FROM documents),
       |hh AS (SELECT doc_id, list_transform(list_distinct(${shinglesSql("T")}), s -> ${tokHashSql("s")}) AS H FROM t),
       |sig AS (SELECT doc_id, $sigExprs FROM hh WHERE len(H) > 0),
       |keys AS (SELECT doc_id, md5(text) AS key FROM documents),
       |shing AS (SELECT doc_id, unnest(list_distinct(list_transform(${shinglesSql("T")}, s -> ${tokHashSql("s")}))) AS sh FROM t),
       |q AS (SELECT doc_id, CAST(len(T) AS BIGINT) AS n_toks,
       |        CASE WHEN len(T) = 0 THEN CAST(0.0 AS DOUBLE)
       |        ELSE round(CAST(len(list_filter(T, w -> w IN ('the','a','of','and','to'))) AS DOUBLE)
       |              / len(T), 6) END AS stopword_ratio
       |      FROM t),
       |idx1 AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
       |${phase(1, 0, "doc_id % 10 <> 5")},
       |idx2 AS (SELECT doc_id FROM idx1
       |         UNION ALL SELECT doc_id FROM kept1),
       |${phase(2, 5, "TRUE")}""".stripMargin
  }

  /** q178/q181's shared DSIR weight chain: hashed-unigram bucket
    * counts for the target (doc_id % 7 = 0) vs raw pools, add-1
    * smoothed LLR per bucket (6dp — the log's input is one IEEE
    * division of exact < 2^53 integer products, see q178's doc), and
    * per-raw-doc `(doc_id, n_toks, weight)` via the token→bucket
    * equi-join + decimal-exact sum. */
  private def dsirWeights(s: SparkSession, d: String): DataFrame = {
    val B = 256
    val docs = documents(s, d)
    val toks = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"),
        pmod(tokenHash(col("t")), lit(B.toLong)).as("b"))
      .localCheckpoint() // read 3×: target model, raw model, scoring
    val isTgt = col("doc_id") % 7 === 0
    // isTgt PARTITIONS toks, so the two bucket models (and the two
    // scalar totals) are one conditional-aggregate pass each, not two
    // scans each paired by a full-outer join (BHJ-unsupported → SMJ).
    // Exact mirror of the old shapes: per bucket, sum(when(side, 1))
    // is that side's count and NULL when the side is absent (the
    // full-outer's null), coalesced to 0 below exactly as before; the
    // scalar totals use count(when(side, 1)) — count, like the old
    // per-side count(), is 0 (never null) on an empty side. A bucket
    // appears iff it appeared in either side — same row set.
    val cts = toks.groupBy(col("b")).agg(
      sum(when(isTgt, 1L)).as("ct_t"),
      sum(when(!isTgt, 1L)).as("ct_r"))
    val ns = toks.agg(
      count(when(isTgt, lit(1))).as("n_t"),
      count(when(!isTgt, lit(1))).as("n_r"))
    val llr = cts
      .select(col("b"), coalesce(col("ct_t"), lit(0L)).as("ct_t"),
        coalesce(col("ct_r"), lit(0L)).as("ct_r"))
      .crossJoin(broadcast(ns))
      .select(col("b"),
        round(log(
          ((col("ct_t") + 1) * (col("n_r") + B)).cast("double") /
            ((col("ct_r") + 1) * (col("n_t") + B)).cast("double")), 6)
          .as("llr"))
    toks.where(!isTgt)
      .join(broadcast(llr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("llr").cast("decimal(30,15)")).cast("double").as("weight"))
  }

  /** Greedy left-to-right NON-OVERLAPPING application of one BPE merge
    * (a,b) → ab over a symbol array — a left fold, so a run "a a a a"
    * merges twice (a separator-encoded string replace() would consume
    * the shared boundary and merge once). q186 applies it per round;
    * the DuckDB oracle replays the identical fold with list_reduce
    * over singleton lists. BpeSpec pins the run semantics. */
  def bpeApplyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === a && x === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** The q186 learn loop: corpus → word-frequency dict (touched once),
    * then `rounds` iterations of pair-count argmax + fold-apply over
    * the VOCAB-bounded dict. Returns the merge table and the dict
    * state after every round (index 0 = the char-split baseline) so
    * q186 reads the rules and q189 reads the compression trajectory
    * off the same pass. */
  private def bpeLearn(s: SparkSession, d: String, rounds: Int)
      : (Seq[(Long, String, String, Long)], Seq[DataFrame]) =
    bpeLearnOf(documents(s, d), rounds)

  /** [[bpeLearn]] over an arbitrary (text) frame —
    * [[graft.bench.ScaleLaws]] feeds it amplified corpora to measure
    * that only the dict build scales with the corpus while the merge
    * rounds stay vocab-bounded. */
  def bpeLearnOf(docs: DataFrame, rounds: Int)
      : (Seq[(Long, String, String, Long)], Seq[DataFrame]) = {
    var cur = docs
      .select(explode(tokens(col("text"))).as("w"))
      .where(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(filter(split(col("w"), ""), x => length(x) > 0).as("syms"),
        col("freq"))
      .localCheckpoint()
    val dicts = Seq.newBuilder[DataFrame]
    dicts += cur
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val pairCol = when(size(col("syms")) >= 2,
        transform(sequence(lit(1), size(col("syms")) - 1),
          i => concat(element_at(col("syms"), i), lit(" "),
            element_at(col("syms"), i + 1))))
        .otherwise(array().cast("array<string>"))
      val best = cur.select(col("freq"), explode(pairCol).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty) {
        // no mergeable pair left (empty corpus after the charter
        // filter, or every word fully merged): the vocabulary is
        // exhausted — return the merges learned so far instead of
        // crashing on the empty argmax (r10 advice)
        exhausted = true
      } else {
        val parts = best(0).getString(0).split(' ')
        merges += ((r.toLong, parts(0), parts(1), best(0).getLong(1)))
        cur = cur.select(bpeApplyMerge(col("syms"), parts(0), parts(1))
          .as("syms"), col("freq")).localCheckpoint()
        dicts += cur
      }
    }
    (merges.result(), dicts.result())
  }

  /** The q186/q189 oracle's shared CTE round: pair counts over the
    * previous dict, the argmax merge, and the fold-applied next dict. */
  private def bpeRoundSql(i: Int, dPrev: String): String =
    s"""p$i AS (SELECT pair, sum(freq) AS cnt FROM (
       |    SELECT unnest(list_transform(range(1, len(syms)),
       |      j -> syms[j] || ' ' || syms[j+1])) AS pair, freq
       |    FROM $dPrev) s$i GROUP BY 1),
       |m$i AS (SELECT string_split(pair, ' ')[1] AS a,
       |          string_split(pair, ' ')[2] AS b,
       |          replace(pair, ' ', '') AS ab, cnt
       |        FROM p$i ORDER BY cnt DESC, pair ASC LIMIT 1),
       |d$i AS (SELECT list_reduce(list_transform(syms, x -> [x]),
       |          (acc, x) -> CASE WHEN acc[-1] = a AND x[1] = b
       |            THEN list_append(acc[1:len(acc)-1], ab)
       |            ELSE list_append(acc, x[1]) END) AS syms, freq
       |        FROM $dPrev CROSS JOIN m$i)""".stripMargin

  /** d0 + four [[bpeRoundSql]] rounds — everything up to the final
    * SELECT, shared verbatim by the q186 and q189 oracles. */
  private def bpeChainSql: String =
    s"""WITH toks AS (SELECT unnest($toksSql) AS w FROM documents),
       |d0 AS (SELECT string_split(w, '') AS syms,
       |         CAST(count(*) AS BIGINT) AS freq
       |       FROM toks
       |       WHERE regexp_matches(w, '^[a-z]+${"$"}') AND len(w) >= 2
       |       GROUP BY w),
       |${bpeRoundSql(1, "d0")},
       |${bpeRoundSql(2, "d1")},
       |${bpeRoundSql(3, "d2")},
       |${bpeRoundSql(4, "d3")}""".stripMargin

  def defs: Map[String, Q] = Map(
    // Per-source winsorization: clamp a quality signal to its source's
    // [P5, P95] band — the outlier-robust normalization step ahead of
    // any threshold/mixture logic (a 10^6-char scraped page shouldn't
    // drag its source's statistics). Percentile = the VALUE at the
    // rank-index floor(q·(n−1)), computed in INTEGER arithmetic
    // (((n−1)·5) div 100) so both engines floor the same number —
    // float 0.05·(n−1) straddles integers differently in decimal vs
    // binary. Shape: one window shuffle per source (q108's partition
    // key), two 1-row-per-source cut frames broadcast back; no
    // approximate-percentile nondeterminism anywhere.
    "q167_winsorize" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = documents(s, d).select(col("source"), col("doc_id"), col("n_chars"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").asc, col("doc_id").asc)
        val ranked = docs
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
          .localCheckpoint() // read twice: both cut frames
        val lo = ranked.where(col("rn") === expr("((n - 1) * 5) div 100 + 1"))
          .select(col("source"), col("n_chars").as("p05"))
        val hi = ranked.where(col("rn") === expr("((n - 1) * 95) div 100 + 1"))
          .select(col("source"), col("n_chars").as("p95"))
        docs.join(broadcast(lo), Seq("source")).join(broadcast(hi), Seq("source"))
          .select(col("source"), col("doc_id"), col("n_chars"),
            least(greatest(col("n_chars"), col("p05")), col("p95")).as("clamped"),
            (col("n_chars") < col("p05") || col("n_chars") > col("p95"))
              .as("winsorized"))
      },
      Some("""WITH r AS (SELECT source, doc_id, n_chars,
             |            row_number() OVER (PARTITION BY source
             |              ORDER BY n_chars ASC, doc_id ASC) AS rn,
             |            count(*) OVER (PARTITION BY source) AS n
             |          FROM documents),
             |lo AS (SELECT source, n_chars AS p05 FROM r
             |       WHERE rn = ((n - 1) * 5) // 100 + 1),
             |hi AS (SELECT source, n_chars AS p95 FROM r
             |       WHERE rn = ((n - 1) * 95) // 100 + 1)
             |SELECT d.source, d.doc_id, d.n_chars,
             |       least(greatest(d.n_chars, lo.p05), hi.p95) AS clamped,
             |       (d.n_chars < lo.p05 OR d.n_chars > hi.p95) AS winsorized
             |FROM documents d
             |JOIN lo USING (source) JOIN hi USING (source)""".stripMargin),
      "per-source rank-based P5/P95 winsorization: integer-exact percentile indices, broadcast cut frames"),

    // token counting + quality scoring
    "q20_text_stats" -> Q(
      (s, d) => {
        val toks = col("T")
        val nTok = size(toks).cast("long")
        val nUniq = size(array_distinct(toks)).cast("long")
        val sumLen = aggregate(toks, lit(0L), (a, t) => a + length(t))
        documents(s, d).withColumn("T", tokens(col("text"))).select(
          col("doc_id"),
          nTok.as("n_tokens"),
          nUniq.as("n_uniq"),
          round(nUniq.cast("double") / nTok, 6).as("ttr"),
          round(sumLen.cast("double") / nTok, 6).as("avg_tok_len"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents)
              |SELECT doc_id, CAST(len(T) AS BIGINT) AS n_tokens,
              | CAST(len(list_distinct(T)) AS BIGINT) AS n_uniq,
              | round(CAST(len(list_distinct(T)) AS DOUBLE) / len(T), 6) AS ttr,
              | round(CAST(list_sum(list_transform(T, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / len(T), 6) AS avg_tok_len
              |FROM t""".stripMargin),
      "token counting + type/token ratio quality metrics"),

    // n-gram-marker language/topic ID
    "q21_langid" -> Q(
      (s, d) => {
        val toks = col("T")
        val scores = LangMarkers.map { case (_, ms) => markerScore(toks, ms).cast("long") }
        documents(s, d).withColumn("T", tokens(col("text"))).select(
          col("doc_id"),
          scores(0).as("s_core"),
          scores(1).as("s_db"),
          scores(2).as("s_perf"),
          langId(scores(0), scores(1), scores(2)).as("pred_lang"))
      },
      Some {
        def f(ms: Seq[String]) =
          s"CAST(len(list_filter(T, t -> t IN (${ms.map(m => s"'$m'").mkString(",")}))) AS BIGINT)"
        val Seq(c1, c2, c3) = LangMarkers.map(m => f(m._2))
        s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents)
           |SELECT doc_id, $c1 AS s_core, $c2 AS s_db, $c3 AS s_perf,
           | CASE WHEN $c3 > $c1 AND $c3 > $c2 THEN 'perf'
           |      WHEN $c2 > $c1 THEN 'db' ELSE 'core' END AS pred_lang
           |FROM t""".stripMargin
      },
      "marker-based language ID heuristic"),

    // rolling-hash document fingerprint
    "q22_fingerprint" -> Q(
      (s, d) => documents(s, d).select(
        col("doc_id"), fingerprint(col("text")).as("fp")),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents)
              |SELECT doc_id,
              | list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(T, t -> ${tokHashSql("t")})),
              |             (a, b) -> (a * 131 + b) % $HashMod) AS fp
              |FROM t""".stripMargin),
      "rolling-hash document fingerprint"),

    // exact dedup keyed on content hash
    "q23_exact_dedup" -> Q(
      (s, d) => documents(s, d)
        .groupBy(contentKey(col("text")).as("key"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
      Some("""SELECT md5(text) AS key, min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY 1""".stripMargin),
      "exact dedup: hash-groupBy on content"),

    // n-gram Jaccard near-dup pairs via shingle equi-join. Shingles with
    // df > MaxShingleDF are excluded from BOTH pairing and intersection
    // counting (discriminative Jaccard: a lower bound of the unpruned
    // score; identical whenever no shingle exceeds the cap, which holds
    // at the driver's verify scales). The cap bounds the join fan-out to
    // df² ≤ MaxShingleDF·|sh| — the property that keeps this runnable at
    // 100 TB. True near-dup work at that scale goes exact-dedup (q23) →
    // MinHash banding (q25) first; this is the verifiable exact core.
    // Shingle identity = the char-fold hash (fused native expression:
    // one pass, no shingle-string allocation, 8-byte join keys instead
    // of ~40-byte strings); the oracle applies the identical hash, so
    // any collision produces the same value on both engines.
    "q24_jaccard_pairs" -> Q(
      (s, d) => {
        // materialized once (localCheckpoint): sizes + both join sides
        // read it — recomputing the tokenize+shingle explode 3x was the
        // dominant cost at 10x scale
        val sh = shingleRowsOf(documents(s, d)).localCheckpoint()
        val joinable = dfCappedShingles(sh).localCheckpoint()
        val sizes = joinable.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val inter = Pairs.sharedKey(joinable, "sh")
          .where(col("inter") >= 2)
        Pairs.sides(inter, sizes, Seq("na"), Seq("nb"))
          .select(
            col("a_id"), col("b_id"), col("inter"),
            (col("na") + col("nb") - col("inter")).as("union_n"),
            round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
              .as("jaccard"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents),
              |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(${shinglesSql("T")}, s -> ${tokHashSql("s")}))) AS sh FROM t),
              |hot AS (SELECT sh FROM sh0 GROUP BY 1 HAVING count(*) > $MaxShingleDF),
              |sh AS (SELECT doc_id, sh FROM sh0 ANTI JOIN hot USING (sh)),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
              |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |      GROUP BY 1, 2 HAVING count(*) >= 2)
              |SELECT a_id, b_id, inter, sa.n + sb.n - inter AS union_n,
              |       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
              |FROM p JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id""".stripMargin),
      "n-gram Jaccard near-dup via df-capped shingle equi-join"),

    // One-sided CONTAINMENT dedup: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    // — the subset-duplicate detector symmetric Jaccard structurally
    // misses. A 100-token excerpt embedded verbatim in a 10k-token page
    // has Jaccard ≈ 0.01 (invisible to any sane threshold) but
    // containment ≈ 1.0; containment is what production dedup uses to
    // kill quoted/aggregated copies (both directions emitted — the
    // shorter side is the one "contained"). Same plan skeleton as q24:
    // df-capped shingle equi-join candidates, never all-pairs; one
    // extra flag marks pairs Jaccard would have missed at its 0.5 bar.
    "q170_containment" -> Q(
      (s, d) => {
        val sh = shingleRowsOf(documents(s, d)).localCheckpoint()
        val joinable = dfCappedShingles(sh).localCheckpoint()
        val sizes = joinable.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        Pairs.sides(
            Pairs.sharedKey(joinable, "sh").where(col("inter") >= 2),
            sizes, Seq("na"), Seq("nb"))
          .withColumn("cont_a", round(col("inter").cast("double") / col("na"), 6))
          .withColumn("cont_b", round(col("inter").cast("double") / col("nb"), 6))
          .withColumn("contained",
            greatest(col("cont_a"), col("cont_b")) >= lit(0.8))
          .select(col("a_id"), col("b_id"), col("inter"),
            col("cont_a"), col("cont_b"), col("contained"),
            (col("contained") &&
              round(col("inter").cast("double") /
                (col("na") + col("nb") - col("inter")), 6) < lit(0.5))
              .as("jaccard_blind"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents),
              |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(${shinglesSql("T")}, s -> ${tokHashSql("s")}))) AS sh FROM t),
              |hot AS (SELECT sh FROM sh0 GROUP BY 1 HAVING count(*) > $MaxShingleDF),
              |sh AS (SELECT doc_id, sh FROM sh0 ANTI JOIN hot USING (sh)),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
              |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |      GROUP BY 1, 2 HAVING count(*) >= 2),
              |c AS (SELECT a_id, b_id, inter,
              |        round(CAST(inter AS DOUBLE) / sa.n, 6) AS cont_a,
              |        round(CAST(inter AS DOUBLE) / sb.n, 6) AS cont_b,
              |        sa.n AS na, sb.n AS nb
              |      FROM p JOIN sz sa ON sa.doc_id = a_id
              |      JOIN sz sb ON sb.doc_id = b_id)
              |SELECT a_id, b_id, inter, cont_a, cont_b,
              |       greatest(cont_a, cont_b) >= CAST(0.8 AS DOUBLE) AS contained,
              |       (greatest(cont_a, cont_b) >= CAST(0.8 AS DOUBLE) AND
              |        round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) < CAST(0.5 AS DOUBLE)) AS jaccard_blind
              |FROM c""".stripMargin),
      "one-sided containment dedup: catches subset duplicates symmetric Jaccard misses (df-capped shingle join)"),

    // MinHash signatures (the LSH building block)
    "q25_minhash" -> Q(
      (s, d) => {
        // fused native signature — tokenize + shingle + hash + min in
        // ONE pass over the text, no intermediate arrays
        documents(s, d)
          .withColumn("sig", Lsh.minHashSig)
          .select(col("doc_id") +: Lsh.hashes: _*)
      },
      Some {
        val sig = MinHashCoeffs.zipWithIndex.map { case ((a, b), j) =>
          s"list_min(list_transform(H, h -> (h * $a + $b) % $MinHashP)) AS h$j"
        }.mkString(",\n ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents),
           |hh AS (SELECT doc_id, list_transform(list_distinct(${shinglesSql("T")}), s -> ${tokHashSql("s")}) AS H FROM t)
           |SELECT doc_id, $sig FROM hh""".stripMargin
      },
      "MinHash signatures over shingle sets"),

    // BPE-ish token counting + quality scoring (stopword/char-class ratios)
    "q27_quality" -> Q(
      (s, d) => {
        val words = col("T") // materialized once — lambda bodies get no CSE
        val nWords = size(words).cast("long")
        // BPE-ish: words split into ≤4-char subword units → ceil(len/4)
        val nSubtok = aggregate(words, lit(0L),
          (a, w) => a + ceil(length(w).cast("double") / 4).cast("long"))
        val stop = size(filter(words, w => w.isin("the", "a", "of", "and", "to"))).cast("long")
        val nDigits = length(regexp_replace(col("text"), "[^0-9]", "")).cast("long")
        documents(s, d)
          .withColumn("T", tokens(col("text")))
          .select(
            col("doc_id"),
            nWords.as("n_words"),
            nSubtok.as("n_subtokens"),
            round(stop.cast("double") / nWords, 6).as("stopword_ratio"),
            nDigits.as("n_digits"))
      },
      Some(s"""WITH t AS (SELECT doc_id, text, $toksSql AS T FROM documents)
              |SELECT doc_id,
              | CAST(len(T) AS BIGINT) AS n_words,
              | CAST(list_sum(list_transform(T, w -> CAST(ceil(CAST(length(w) AS DOUBLE)/4) AS BIGINT))) AS BIGINT) AS n_subtokens,
              | round(CAST(len(list_filter(T, w -> w IN ('the','a','of','and','to'))) AS DOUBLE) / len(T), 6) AS stopword_ratio,
              | CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits
              |FROM t""".stripMargin),
      "BPE-ish subword counting + quality ratios: text-analysis pillar"),

    // MinHash-LSH banding: the 100-TB near-dup path (candidates meet in
    // band buckets — equi-join — and are scored by signature agreement;
    // no shingle-level pair fan-out at all)
    "q28_minhash_bands" -> Q(
      (s, d) => bandPairs(s, d),
      Some(s"""WITH ${bandPairsCtesSql()}
              |SELECT a_id, b_id, est_jaccard FROM p WHERE est_jaccard >= 0.5""".stripMargin),
      "MinHash-LSH band join + signature agreement: the q24 scale path"),

    // the injected SQL function surface (GraftExtensions), exercised
    // through the same oracle gate: pure-SQL text hashing over documents
    "q29_sql_fn_surface" -> Q(
      (s, d) => {
        graft.GraftFunctions.register(s)
        documents(s, d).createOrReplaceTempView("v_documents")
        s.sql("""SELECT doc_id,
                |       graft_token_hash(text) AS th,
                |       element_at(graft_minhash_sig(filter(split(text, ' '), x -> x != '')), 1) AS h0
                |FROM v_documents""".stripMargin)
      },
      Some {
        val (a0, b0) = MinHashCoeffs.head
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS T FROM documents),
           |hh AS (SELECT doc_id, text, list_transform(list_distinct(${shinglesSql("T")}), s -> ${tokHashSql("s")}) AS H FROM t)
           |SELECT doc_id, ${tokHashSql("text")} AS th,
           |       CASE WHEN len(H) > 0 THEN list_min(list_transform(H, h -> (h * $a0 + $b0) % $MinHashP)) END AS h0
           |FROM hh""".stripMargin
      },
      "graft_* SQL functions (extension-injected) under the oracle gate"),

    // A5+A6 with a full oracle: token-TF cosine similarity — frequency
    // vectors meet in an equi-join on token (map-side pruned to a doc
    // subset), dot products and norms from exact integer sums, one
    // double division at the end. Completes the near-dup measure set
    // (Jaccard q24, MinHash q25/q28, SimHash q26, embedding-cos q31).
    "q68_tf_cosine" -> Q(
      (s, d) => {
        val tf = documents(s, d).where(col("doc_id") < 300)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
          .localCheckpoint() // read by norms and both join sides
        val norms = tf.groupBy(col("doc_id"))
          .agg(sum(col("c") * col("c")).as("sq"))
        Pairs.sides(Pairs.sharedKey(tf, "tok"),
            norms, Seq("sa"), Seq("sb"))
          .select(col("a_id"), col("b_id"),
            round(col("dot").cast("double") /
              (sqrt(col("sa").cast("double")) * sqrt(col("sb").cast("double"))), 6)
              .as("cos"))
          .where(col("cos") >= 0.5)
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents WHERE doc_id < 300),
              |tf AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
              |norms AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS sq FROM tf GROUP BY 1),
              |dots AS (
              |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(sum(a.c * b.c) AS BIGINT) AS dot
              |  FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT a_id, b_id,
              |       round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE))), 6) AS cos
              |FROM dots JOIN norms na ON na.doc_id = a_id JOIN norms nb ON nb.doc_id = b_id
              |WHERE round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE))), 6) >= 0.5""".stripMargin),
      "token-TF cosine near-dup pairs (exact integer sums): A5/A6"),

    // reproducible train/test split: assignment by the char-fold hash
    // of the doc id — deterministic, engine-independent (the oracle
    // computes the identical hash), and stable under re-runs and
    // repartitioning, unlike sample()/rand()
    "q82_hash_split" -> Q(
      (s, d) => {
        val h = graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string"))
        documents(s, d)
          .withColumn("split",
            when(pmod(h, lit(10L)) < 9, lit("train")).otherwise(lit("test")))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
      },
      Some(s"""SELECT lang,
              | CASE WHEN ${tokHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 9
              |   THEN 'train' ELSE 'test' END AS split,
              | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
              |FROM documents GROUP BY 1, 2""".stripMargin),
      "deterministic hash-based train/test split (stable across engines/runs)"),

    // quality-aware dedup: within each exact-duplicate group keep the
    // "best" representative (longest text, ties to the lowest id) —
    // the keep-rule refinement of q23's min-id dedup
    "q83_dedup_best" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("key"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        documents(s, d)
          .withColumn("key", contentKey(col("text")))
          .withColumn("rn", row_number().over(w))
          .withColumn("n_copies", count(lit(1)).over(
            Window.partitionBy(col("key"))))
          .where(col("rn") === 1)
          .select(col("key"), col("doc_id").as("keep_id"),
            col("n_chars").as("keep_chars"), col("n_copies"))
      },
      Some("""WITH r AS (
             |  SELECT md5(text) AS key, doc_id, n_chars,
             |         row_number() OVER (PARTITION BY md5(text)
             |           ORDER BY n_chars DESC, doc_id) AS rn,
             |         count(*) OVER (PARTITION BY md5(text)) AS n_copies
             |  FROM documents)
             |SELECT key, doc_id AS keep_id, n_chars AS keep_chars,
             |       CAST(n_copies AS BIGINT) AS n_copies
             |FROM r WHERE rn = 1""".stripMargin),
      "quality-aware dedup: best representative per duplicate group"),

    // cross-modal rescoring: text near-dup candidates (shingle-hash
    // equi-join, q24's candidate machinery) validated against the
    // embedding space — each pair carries its n-gram Jaccard AND its
    // embedding cosine. The multimodal-pipeline composition: cheap
    // text candidates first, vector confirmation second, never an
    // all-pairs pass in either modality.
    "q84_cross_modal" -> Q(
      (s, d) => {
        val sh = shingleRowsOf(documents(s, d).where(col("doc_id") < 500))
          .localCheckpoint()
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        // (sh, doc_id) rows, as the df-capped frames of q24/q170: each join
        // side projects the key first
        val inter = Pairs.sharedKey(sh.select("sh", "doc_id"), "sh")
          .where(col("inter") >= 2)
        val jac = Pairs.sides(inter, sizes, Seq("na"), Seq("nb"))
          .select(col("a_id"), col("b_id"),
            round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
              .as("jaccard"))
        val emb = Tables.embeddings(s, d).select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", graft.ops.SimSearch.l2norm(col("v")))
        Pairs.sides(jac, emb, Seq("av", "an"), Seq("bv", "bn"))
          .select(col("a_id"), col("b_id"), col("jaccard"),
            round(graft.ops.SimSearch.cosine(col("av"), col("bv"), col("an"), col("bn")), 6)
              .as("emb_cos"))
      },
      Some {
        def dot(a: String, b: String) =
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
            s"list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
            "(acc, x) -> acc + x)"
        s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents WHERE doc_id < 500),
           |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(${shinglesSql("T")}, s -> ${tokHashSql("s")}))) AS sh FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
           |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
           |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY 1, 2 HAVING count(*) >= 2),
           |jac AS (
           |  SELECT a_id, b_id,
           |         round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
           |  FROM p JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id),
           |e AS (SELECT vec_id, embedding AS v FROM embeddings)
           |SELECT a_id, b_id, jaccard,
           |       round(${dot("ea.v", "eb.v")} / (sqrt(${dot("ea.v", "ea.v")}) * sqrt(${dot("eb.v", "eb.v")})), 6) AS emb_cos
           |FROM jac JOIN e ea ON ea.vec_id = a_id JOIN e eb ON eb.vec_id = b_id""".stripMargin
      },
      "cross-modal near-dup: shingle candidates rescored by embedding cosine"),

    // SimHash 16-bit fingerprints
    "q26_simhash" -> Q(
      (s, d) => documents(s, d)
        .withColumn("TH", transform(tokens(col("text")), t => tokenHash(t)))
        .select(col("doc_id"), simHash(col("TH"), 16).as("simhash")),
      Some {
        val bitTerms = (0 until 16).map { j =>
          s"(CASE WHEN list_sum(list_transform(TH, h -> ((h >> $j) & 1) * 2 - 1)) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        }.mkString(" + ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents),
           |th AS (SELECT doc_id, list_transform(T, x -> ${tokHashSql("x")}) AS TH FROM t)
           |SELECT doc_id, $bitTerms AS simhash FROM th""".stripMargin
      },
      "SimHash near-dup fingerprint"),

    // Benchmark decontamination: remove training docs sharing any
    // 4-token shingle with the held-out benchmark set (doc_id % 29 = 0
    // plays the benchmark). The benchmark side is small by construction
    // → its distinct shingle-hash set BROADCASTS, so the contamination
    // check is a map-side semi-join: linear in the training corpus, no
    // shuffle of the big side — the shape that holds at 100 TB, where
    // the eval suites are KBs against TBs of training text.
    "q98_decontaminate" -> Q(
      (s, d) => {
        val sh = documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"),
            explode(graft.functions.EvmExprs.shingleHashesFromText(col("text"))).as("sh"))
        val bench = sh.where(col("doc_id") % 29 === 0)
          .select(col("sh").as("b_sh")).distinct()
        val hits = sh.where(col("doc_id") % 29 =!= 0)
          .join(broadcast(bench), col("sh") === col("b_sh"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
        documents(s, d).where(col("doc_id") % 29 =!= 0).select(col("doc_id"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            (coalesce(col("hits"), lit(0L)) === 0L).as("keep"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents),
              |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(${shinglesSql("T")}, s -> ${tokHashSql("s")}))) AS sh FROM t),
              |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 29 = 0),
              |h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS hits
              |      FROM (SELECT * FROM sh WHERE doc_id % 29 <> 0) s
              |      SEMI JOIN bench USING (sh) GROUP BY 1)
              |SELECT d.doc_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
              |       coalesce(h.hits, 0) = 0 AS keep
              |FROM documents d LEFT JOIN h USING (doc_id)
              |WHERE d.doc_id % 29 <> 0""".stripMargin),
      "benchmark decontamination: broadcast semi-join on shingle hashes"),

    // Gopher/C4-style repetition filtering: within-doc duplicate-3gram
    // fraction + most-frequent-bigram mass. Pure per-row array math
    // (no shuffle, no explode): linear scan shape, trivially parallel.
    "q99_repetition" -> Q(
      (s, d) => {
        val g3 = col("G3"); val g2 = col("G2")
        val n3 = size(g3); val d3 = size(array_distinct(g3)); val n2 = size(g2)
        val top2 = array_max(transform(array_distinct(g2),
          x => size(filter(g2, y => y === x))))
        documents(s, d)
          .withColumn("T", tokens(col("text")))
          .withColumn("G3", shinglesFromTokens(col("T"), 3))
          .withColumn("G2", shinglesFromTokens(col("T"), 2))
          .select(
            col("doc_id"),
            n3.cast("long").as("n_3grams"),
            d3.cast("long").as("d_3grams"),
            when(n3 > 0, round(lit(1.0) - d3.cast("double") / n3, 6))
              .otherwise(0.0).as("dup3_frac"),
            when(n2 > 0, round(top2.cast("double") / n2, 6))
              .otherwise(0.0).as("top2_frac"))
          .withColumn("repetitive",
            col("dup3_frac") > 0.2 || col("top2_frac") > 0.1)
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents),
              |g AS (SELECT doc_id,
              |        list_transform(range(1, len(T) - 1), i -> T[i] || ' ' || T[i+1] || ' ' || T[i+2]) AS G3,
              |        list_transform(range(1, len(T)), i -> T[i] || ' ' || T[i+1]) AS G2
              |      FROM t),
              |m AS (SELECT doc_id,
              |        CAST(len(G3) AS BIGINT) AS n_3grams,
              |        CAST(len(list_distinct(G3)) AS BIGINT) AS d_3grams,
              |        CASE WHEN len(G3) > 0
              |             THEN round(1.0 - CAST(len(list_distinct(G3)) AS DOUBLE) / len(G3), 6)
              |             ELSE 0.0 END AS dup3_frac,
              |        CASE WHEN len(G2) > 0
              |             THEN round(CAST(list_max(list_transform(list_distinct(G2), x -> len(list_filter(G2, y -> y = x)))) AS DOUBLE) / len(G2), 6)
              |             ELSE 0.0 END AS top2_frac
              |      FROM g)
              |SELECT doc_id, n_3grams, d_3grams, dup3_frac, top2_frac,
              |       (dup3_frac > 0.2 OR top2_frac > 0.1) AS repetitive
              |FROM m""".stripMargin),
      "within-doc repetition quality filter (dup-3gram + top-bigram mass)"),

    // Deterministic source-mixture resampling: each source gets a
    // target retention rate (here a closed-form permille of the source
    // number) and docs are kept by content-stable hash threshold — the
    // training-mix downsampler. Pure map-side filter + one aggregate:
    // the 100-TB shape is a single pass, no shuffle before the final
    // per-source rollup, and re-runs/backfills keep the SAME docs
    // (hash-stable, not rand()-based).
    "q100_mixture" -> Q(
      (s, d) => {
        val srcNum = substring(col("source"), 4, 10).cast("long")
        val w = lit(1000L) / (lit(1L) + pmod(srcNum, lit(4L)))
        val keep = pmod(graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string")),
          lit(1000L)) < w.cast("long")
        documents(s, d)
          .withColumn("target_permille", w.cast("long"))
          .withColumn("kept", keep)
          .groupBy(col("source"), col("target_permille"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      },
      Some(s"""WITH m AS (
              |  SELECT source,
              |         1000 // (1 + CAST(substr(source, 4) AS BIGINT) % 4) AS target_permille,
              |         ${tokHashSql("CAST(doc_id AS VARCHAR)")} % 1000
              |           < 1000 // (1 + CAST(substr(source, 4) AS BIGINT) % 4) AS kept,
              |         n_chars
              |  FROM documents)
              |SELECT source, target_permille,
              |       count(*) AS n_docs,
              |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |       CAST(sum(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
              |FROM m GROUP BY 1, 2""".stripMargin),
      "deterministic source-mixture resampling (hash-stable training-mix weights)"),

    // Near-dup CLUSTER assignment: the q28 LSH pairs become an
    // undirected graph, connected components give every doc its
    // canonical representative (min doc_id in the cluster) — the full
    // dedup pipeline's last mile: candidates → score → clusters →
    // keep-one. Composition of two oracled pillars (q28 × q71); the
    // oracle replays the closure with a recursive CTE.
    "q101_dedup_clusters" -> Q(
      (s, d) => {
        val pairs = bandPairs(s, d)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val comp = graft.analytics.GraphOps.connectedComponents(pairs)
          .toDF("doc_id", "canonical")
        val assigned = documents(s, d).select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("canonical"), col("doc_id")).as("canonical"))
        val sizes = assigned.groupBy(col("canonical"))
          .agg(count(lit(1)).as("cluster_size"))
        assigned.join(sizes, Seq("canonical"))
          .select(col("doc_id"), col("canonical"), col("cluster_size"),
            (col("doc_id") === col("canonical")).as("keep"))
      },
      Some(s"""WITH RECURSIVE ${bandPairsCtesSql()},
              |pairs AS (SELECT a_id, b_id FROM p WHERE est_jaccard >= 0.5),
              |sym AS (SELECT a_id AS src, b_id AS dst FROM pairs
              |        UNION SELECT b_id, a_id FROM pairs),
              |reach(id, r) AS (
              |  SELECT src, src FROM sym
              |  UNION
              |  SELECT sym.dst, reach.r FROM reach JOIN sym ON sym.src = reach.id),
              |comp AS (SELECT id AS doc_id, min(r) AS canonical FROM reach GROUP BY 1),
              |assigned AS (
              |  SELECT d.doc_id, coalesce(c.canonical, d.doc_id) AS canonical
              |  FROM documents d LEFT JOIN comp c USING (doc_id)),
              |sz AS (SELECT canonical, count(*) AS cluster_size FROM assigned GROUP BY 1)
              |SELECT a.doc_id, a.canonical, CAST(sz.cluster_size AS BIGINT) AS cluster_size,
              |       a.doc_id = a.canonical AS keep
              |FROM assigned a JOIN sz USING (canonical)""".stripMargin),
      "near-dup cluster assignment: LSH pairs → connected components → canonical doc"),

    // Budget packing: fill each source's char budget best-first (longest
    // docs, id tiebreak) via a running windowed sum — the "cap each
    // source at N tokens" stage of mixture construction. One shuffle
    // (the window partition); at 100 TB the partition key is the
    // source/domain, so skew follows domain size — salt or pre-cap
    // gigantic domains before the window if one dominates.
    "q108_token_budget" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        documents(s, d)
          .withColumn("cum_chars", sum(col("n_chars")).over(w))
          .where(col("cum_chars") <= 4000L)
          .select(col("source"), col("doc_id"), col("n_chars"), col("cum_chars"))
      },
      Some("""WITH r AS (
             |  SELECT source, doc_id, n_chars,
             |         sum(n_chars) OVER (PARTITION BY source
             |           ORDER BY n_chars DESC, doc_id
             |           ROWS UNBOUNDED PRECEDING) AS cum_chars
             |  FROM documents)
             |SELECT source, doc_id, n_chars, CAST(cum_chars AS BIGINT) AS cum_chars
             |FROM r WHERE cum_chars <= 4000""".stripMargin),
      "per-source char-budget packing: best-first windowed running sum"),

    // SimHash near-dup PAIRING: by the pigeonhole principle any pair
    // within hamming distance 1 of a 16-bit fingerprint agrees on at
    // least one 8-bit half, so the (half, value) equi-join finds ALL
    // such pairs — an exact algorithm, not an LSH approximation — and
    // exact bit_count re-ranks the bucket collisions away. The q26
    // fingerprint's missing second act. DEMO SHAPE, deliberately
    // narrow: 2⁸-value bucket keys give ~n²/256 candidates, the
    // fixed-cardinality law that makes narrow fingerprints collapse at
    // scale — so the input is CAPPED to a deterministic quarter of the
    // corpus (both engines replay the cap) to keep the demonstration
    // out of the headline cost; q121 is the production shape (4×16-bit
    // bands, 2¹⁶ keys) and runs UNCAPPED.
    "q112_simhash_pairs" -> Q(
      (s, d) => {
        val sh = documents(s, d)
          .where(col("doc_id") % 4 === 0) // deterministic demo cap
          .withColumn("TH", transform(tokens(col("text")), t => tokenHash(t)))
          .select(col("doc_id"), simHash(col("TH"), 16).as("sh"))
          .localCheckpoint() // both band sides + the re-rank read it
        val bands = sh.select(col("doc_id"), lit(0).as("half"),
            (col("sh") / 256L).cast("long").as("key"))
          .unionByName(sh.select(col("doc_id"), lit(1).as("half"),
            (col("sh") % 256L).as("key")))
        Pairs.sides(Lsh.selfPairs(bands), sh, Seq("a_sh"), Seq("b_sh"))
          .select(col("a_id"), col("b_id"),
            bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast("long").as("hamming"))
          .where(col("hamming") <= 1)
      },
      Some {
        val bitTerms = (0 until 16).map { j =>
          s"(CASE WHEN list_sum(list_transform(TH, h -> ((h >> $j) & 1) * 2 - 1)) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        }.mkString(" + ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents
           |           WHERE doc_id % 4 = 0),
           |th AS (SELECT doc_id, list_transform(T, x -> ${tokHashSql("x")}) AS TH FROM t),
           |sh AS (SELECT doc_id, $bitTerms AS sh FROM th),
           |bands AS (
           |  SELECT doc_id, 0 AS half, sh // 256 AS key FROM sh
           |  UNION ALL SELECT doc_id, 1, sh % 256 FROM sh),
           |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |         FROM bands a JOIN bands b
           |           ON a.half = b.half AND a.key = b.key AND a.doc_id < b.doc_id)
           |SELECT a_id, b_id,
           |       CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
           |FROM cand JOIN sh sa ON sa.doc_id = a_id JOIN sh sb ON sb.doc_id = b_id
           |WHERE bit_count(xor(sa.sh, sb.sh)) <= 1""".stripMargin
      },
      "SimHash near-dup pairs (capped demo of the narrow-key law): half-fingerprint bucket join + exact hamming re-rank"),

    // The q112 SCALE shape: a 64-bit fingerprint as four independent
    // 16-bit quarters, banded 4×16 — by pigeonhole any pair within
    // TOTAL hamming distance 3 agrees exactly on ≥1 quarter, so the
    // (band, quarter) equi-join finds ALL radius-3 pairs over
    // 65,536-value bucket keys. Candidate volume is Σ bucket² ≈ n²/2¹⁶
    // per band (vs n²/2⁸ for the 16-bit demo) and the band width is a
    // free parameter — the bucket-cardinality law SCALE.md documents.
    // Exact per-quarter bit_count re-rank; same arithmetic replayed by
    // the oracle.
    "q121_simhash_wide_pairs" -> Q(
      (s, d) => {
        // fused native expression: one pass over the tokens computes
        // all 64 bit counters (the declarative simHashQuarter × 4 runs
        // 64 interpreted aggregate() traversals per row — it was the
        // bench's top cost; PropertySpec pins native == declarative)
        val sh = documents(s, d)
          .withColumn("QS",
            graft.functions.EvmExprs.simHashQuartersFromText(col("text")))
          .select(col("doc_id") +: (0 until 4).map(k =>
            element_at(col("QS"), k + 1).as(s"q$k")): _*)
          .localCheckpoint() // all four band sides + the re-rank read it
        Pairs.hammingJoin(Lsh.selfPairs(Lsh.quarterBands(sh, 4)), sh, sh,
            "a_id", "b_id", 4)
          .where(col("hamming") <= 3)
      },
      Some {
        def quarterSql(k: Int): String = {
          val (a, b) = MinHashCoeffs(k)
          val mixed = s"list_transform(TH, h -> (h * $a + $b) % $MinHashP)"
          (0 until 16).map { j =>
            s"(CASE WHEN list_sum(list_transform($mixed, h -> ((h >> $j) & 1) * 2 - 1)) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
          }.mkString(" + ")
        }
        val bandUnion = (0 until 4).map(k =>
          s"SELECT doc_id, $k AS band, q$k AS key FROM sh").mkString("\n  UNION ALL ")
        val hammingSql = (0 until 4).map(k =>
          s"bit_count(xor(sa.q$k, sb.q$k))").mkString(" + ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents),
           |th AS (SELECT doc_id, list_transform(T, x -> ${tokHashSql("x")}) AS TH FROM t),
           |sh AS (SELECT doc_id, ${(0 until 4).map(k => s"${quarterSql(k)} AS q$k").mkString(", ")} FROM th),
           |bands AS (
           |  $bandUnion),
           |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |         FROM bands a JOIN bands b
           |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
           |SELECT a_id, b_id, CAST($hammingSql AS BIGINT) AS hamming
           |FROM cand JOIN sh sa ON sa.doc_id = a_id JOIN sh sb ON sb.doc_id = b_id
           |WHERE $hammingSql <= 3""".stripMargin
      },
      "wide-fingerprint SimHash pairing: 4×16-bit bands, radius-3 pigeonhole, exact re-rank (the q112 scale shape)"),

    // Rule-based PII scrub (the standard pre-training cleaning stage):
    // emails → <EMAIL>, 7+-digit runs → <NUM>. The synthetic corpus
    // carries no PII, so the query INJECTS a deterministic email +
    // long number per doc (both engines replay the injection), then
    // scrubs — the regexes stay in the Java∩RE2 common subset so Spark
    // and DuckDB agree byte for byte. Per-row regexp_replace: linear,
    // no shuffle, codegen'd.
    "q126_pii_scrub" -> Q(
      (s, d) => {
        val dirty = concat(col("text"),
          lit(" contact: user"), col("doc_id").cast("string"),
          lit("@example.com ref "),
          ((col("doc_id") + 1L) * 1234567L).cast("string"), lit(" end"))
        val scrubbed = regexp_replace(
          regexp_replace(dirty,
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "[0-9]{7,}", "<NUM>")
        documents(s, d).select(col("doc_id"),
          // docs are hundreds of chars, so the 40-char tail always
          // exists (and spans the injected-and-scrubbed suffix)
          substring(scrubbed, -40, 40).as("scrubbed_tail"),
          (length(dirty) - length(scrubbed)).cast("long").as("chars_removed"))
      },
      Some("""SELECT doc_id,
             |  right(regexp_replace(regexp_replace(
             |    text || ' contact: user' || doc_id || '@example.com ref ' || (doc_id + 1) * 1234567 || ' end',
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '[0-9]{7,}', '<NUM>', 'g'), 40) AS scrubbed_tail,
             |  CAST(length(text || ' contact: user' || doc_id || '@example.com ref ' || (doc_id + 1) * 1234567 || ' end')
             |     - length(regexp_replace(regexp_replace(
             |    text || ' contact: user' || doc_id || '@example.com ref ' || (doc_id + 1) * 1234567 || ' end',
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '[0-9]{7,}', '<NUM>', 'g')) AS BIGINT) AS chars_removed
             |FROM documents""".stripMargin),
      "rule-based PII scrub: email + long-number redaction with engine-agreeing regexes"),

    // Corpus vocabulary report per source: doc/token counts, distinct
    // vocabulary, type-token ratio — the dataset-card statistics every
    // training-mix decision reads. One explode + one groupBy; the
    // countDistinct is the only expensive leg (two-phase distinct
    // aggregate — at 100 TB swap in a HLL sketch if exactness can go).
    "q128_vocab_stats" -> Q(
      (s, d) => documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(tokens(col("text"))).as("tok"))
        .groupBy(col("source"))
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_distinct_tokens"),
          round(countDistinct(col("tok")).cast("double") / count(lit(1)), 6)
            .as("type_token_ratio")),
      Some(s"""WITH t AS (
              |  SELECT doc_id, source, unnest($toksSql) AS tok FROM documents)
              |SELECT source,
              |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
              |  CAST(count(*) AS BIGINT) AS n_tokens,
              |  CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
              |  round(CAST(count(DISTINCT tok) AS DOUBLE) / count(*), 6) AS type_token_ratio
              |FROM t GROUP BY 1""".stripMargin),
      "per-source vocabulary stats: docs, tokens, distinct vocab, type-token ratio"),

    // q108's TOKEN-aware twin: the char budget is only a proxy — a
    // training-mix cap is stated in tokenizer tokens, so pack greedily
    // first-fit (most tokens first, id tiebreak) against a per-source
    // TOKEN budget with the same windowed-running-sum shape. One
    // shuffle (the window partition = source); skew follows domain
    // size exactly as in q108 — a web-scale source that dwarfs the
    // rest makes its window partition the straggler, so salt it into
    // budget shards (each pre-capped at budget/shards) or pre-cap
    // gigantic domains before the window.
    "q131_token_packing" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_toks").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        documents(s, d)
          .withColumn("n_toks", size(tokens(col("text"))).cast("long"))
          .withColumn("cum_toks", sum(col("n_toks")).over(w))
          .where(col("cum_toks") <= 800L)
          .select(col("source"), col("doc_id"), col("n_toks"), col("cum_toks"))
      },
      Some(s"""WITH r AS (
              |  SELECT source, doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks,
              |         sum(CAST(len($toksSql) AS BIGINT)) OVER (
              |           PARTITION BY source
              |           ORDER BY CAST(len($toksSql) AS BIGINT) DESC, doc_id
              |           ROWS UNBOUNDED PRECEDING) AS cum_toks
              |  FROM documents)
              |SELECT source, doc_id, n_toks, CAST(cum_toks AS BIGINT) AS cum_toks
              |FROM r WHERE cum_toks <= 800""".stripMargin),
      "per-source TOKEN-budget packing: best-first windowed running sum over tokenizer counts"),

    // q128's documented 100-TB swap, MEASURED: the exact countDistinct
    // is a two-phase distinct aggregate (shuffles every distinct token
    // once); approx_count_distinct is HLL++ at rsd=0.05 — one pass,
    // fixed sketch memory, mergeable across partitions. The gate
    // outputs the exact count plus a boolean asserting the sketch
    // landed within a 10% relative error band (2× the configured rsd),
    // so the approximation QUALITY is what the oracle pins — the
    // engine-specific estimate itself never crosses engines.
    "q132_vocab_approx" -> Q(
      (s, d) => {
        val toks = documents(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
        toks.groupBy(col("source"))
          .agg(
            countDistinct(col("tok")).as("n_distinct_exact"),
            approx_count_distinct(col("tok"), 0.05).as("approx"))
          .select(col("source"), col("n_distinct_exact"),
            (abs(col("approx") - col("n_distinct_exact")) <=
              col("n_distinct_exact") * 0.1).as("within_bound"))
      },
      Some(s"""WITH t AS (
              |  SELECT source, unnest($toksSql) AS tok FROM documents)
              |SELECT source,
              |  CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_exact,
              |  true AS within_bound
              |FROM t GROUP BY 1""".stripMargin),
      "approx-distinct vocabulary (HLL++, rsd 0.05) measured against the exact count — q128's scale swap"),

    // INCREMENTAL dedup — the online-ingest face of q28: a new batch is
    // deduplicated AGAINST the existing corpus (not within itself),
    // which is how a continuously-fed training pipeline actually runs
    // MinHash dedup. Candidates meet where the batch's band keys hit
    // the corpus's band index; 4-hash signature agreement >= 0.5 marks
    // the batch doc as already-represented. At 100 TB the corpus band
    // index is precomputed once and bucketed by (band, x, y), so each
    // ingest pays one equi-join linear in the BATCH (broadcast when the
    // batch is small) — never a corpus×corpus or batch×batch pass.
    "q133_incremental_dedup" -> Q(
      (s, d) => {
        val sig = Lsh.signatures(documents(s, d)
            .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
          .localCheckpoint() // batch + corpus sides + the scorer read it
        val batch = sig.where(col("doc_id") % 5 === 0)
        val corpus = sig.where(col("doc_id") % 5 =!= 0)
        val dup = Lsh.probePairs(Lsh.bands(batch), Lsh.bands(corpus))
          .join(Lsh.prefixed(batch, "b_id", "b"), "b_id")
          .join(Lsh.prefixed(corpus, "c_id", "c"), "c_id")
          .where(Lsh.agreement("b", "c") >= 0.5)
          .select(col("b_id").as("doc_id")).distinct()
        batch.select(col("doc_id"))
          .join(dup.withColumn("dup_in_corpus", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("dup_in_corpus"), lit(false)).as("dup_in_corpus"))
      },
      Some {
        val sigExprs = MinHashCoeffs.zipWithIndex.map { case ((a, b), j) =>
          s"list_min(list_transform(H, h -> (h * $a + $b) % $MinHashP)) AS h$j"
        }.mkString(", ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents),
           |hh AS (SELECT doc_id, list_transform(list_distinct(${shinglesSql("T")}), s -> ${tokHashSql("s")}) AS H FROM t),
           |sig AS (SELECT doc_id, $sigExprs FROM hh WHERE len(H) > 0),
           |bands AS (
           |  SELECT doc_id, 0 AS band, h0 AS x, h1 AS y FROM sig
           |  UNION ALL SELECT doc_id, 1, h2, h3 FROM sig),
           |cand AS (SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
           |         FROM bands b JOIN bands c
           |           ON b.band = c.band AND b.x = c.x AND b.y = c.y
           |         WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0),
           |dup AS (SELECT DISTINCT b_id AS doc_id
           |        FROM cand JOIN sig sb ON sb.doc_id = b_id
           |                  JOIN sig sc ON sc.doc_id = c_id
           |        WHERE (CASE WHEN sb.h0 = sc.h0 THEN 1 ELSE 0 END +
           |               CASE WHEN sb.h1 = sc.h1 THEN 1 ELSE 0 END +
           |               CASE WHEN sb.h2 = sc.h2 THEN 1 ELSE 0 END +
           |               CASE WHEN sb.h3 = sc.h3 THEN 1 ELSE 0 END) / 4.0 >= 0.5)
           |SELECT s.doc_id, s.doc_id IN (SELECT doc_id FROM dup) AS dup_in_corpus
           |FROM sig s WHERE s.doc_id % 5 = 0""".stripMargin
      },
      "incremental dedup: a new batch anti-checked against the corpus's MinHash band index (the online-ingest shape)"),

    // EXACT-SUBSTRING span dedup — the fixed-window rolling-hash
    // approximation of suffix-array substring dedup (the "Deduplicating
    // Training Data Makes Language Models Better" family): any 8-token
    // span shared VERBATIM between two documents collides on its window
    // hash, so "how much of this doc appears verbatim elsewhere" falls
    // out of one explode + one groupBy on the span key — no document
    // pairing at all. Catches partial-overlap dups (shared boilerplate,
    // quoted passages) that doc-level fingerprints miss. Scale shape:
    // explode is linear in corpus token count; the span groupBy is one
    // shuffle on span_hash; the doc re-aggregation one shuffle on
    // doc_id. At 100 TB the dup-span set is written once and reused by
    // every downstream consumer (the span analog of the MinHash band
    // index), and hot spans (license headers) are df-capped exactly
    // like q24's shingles.
    //
    // The span key is a 60-BIT COMPOSITE of two independent rolling
    // hashes (bases 131/137). A single 30-bit hash measurably accretes
    // birthday false-dups as the corpus grows — ScaleLaws measured the
    // false-dup doc count climbing 526 → 13 058 from 5k to 80k docs on
    // an amplified corpus with NO true cross-copy dups — while the
    // composite's expected collisions stay ~n²/2⁶⁰ (zero at any
    // realistic span count); both folds stay under int64 so DuckDB
    // replays the exact arithmetic.
    "q134_span_dedup" -> Q(
      (s, d) => {
        val spans = graft.ops.TextAnalysis.spanHashes(col("TH"), 8)
        val spanSets = documents(s, d)
          .withColumn("TH", transform(tokens(col("text")), t => tokenHash(t)))
          .select(col("doc_id"), explode(spans).as("sp"))
          .distinct() // per-doc span SET (repeats inside a doc count once)
          .localCheckpoint() // dup-span detection + doc agg both read it
        val dup = spanSets.groupBy(col("sp"))
          .agg(count(lit(1)).as("nd")).where(col("nd") >= 2).select("sp")
        val agg = spanSets
          .join(dup.withColumn("isdup", lit(1)), Seq("sp"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(coalesce(col("isdup"), lit(0))).cast("long").as("n_dup_spans"))
        documents(s, d).select(col("doc_id"))
          .join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
            round(when(coalesce(col("n_spans"), lit(0L)) === 0, 0.0)
              .otherwise(col("n_dup_spans").cast("double") / col("n_spans")), 6)
              .as("dup_frac"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents),
              |th AS (SELECT doc_id, list_transform(T, x -> ${tokHashSql("x")}) AS TH FROM t),
              |spd AS (SELECT DISTINCT doc_id,
              |          unnest(list_transform(range(1, len(TH) - 6), i ->
              |            list_reduce(list_prepend(CAST(0 AS BIGINT), TH[i:i+7]),
              |              (a, b) -> (a * 131 + b) % $HashMod) * $HashMod +
              |            list_reduce(list_prepend(CAST(0 AS BIGINT), TH[i:i+7]),
              |              (a, b) -> (a * 137 + b) % $HashMod))) AS sp
              |        FROM th),
              |dup AS (SELECT sp FROM spd GROUP BY sp HAVING count(*) >= 2),
              |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
              |          CAST(sum(CASE WHEN sp IN (SELECT sp FROM dup) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
              |        FROM spd GROUP BY 1)
              |SELECT d.doc_id, coalesce(a.n_spans, 0) AS n_spans,
              |       coalesce(a.n_dup_spans, 0) AS n_dup_spans,
              |       round(CASE WHEN coalesce(a.n_spans, 0) = 0 THEN 0.0
              |             ELSE CAST(a.n_dup_spans AS DOUBLE) / a.n_spans END, 6) AS dup_frac
              |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin),
      "span-level exact-substring dedup: 8-token rolling-hash windows shared verbatim across docs"),

    // q134's EXACT-CONFIRM successor (SCALE.md's prescribed re-rank,
    // round-5 advice #2): key-level dup counts are advisory — at 10¹²
    // spans even the 60-bit key expects ~10³ birthday collisions — so
    // when the signal gates DELETION, the windows behind colliding
    // keys are joined back and compared VERBATIM. The confirmed count
    // is key-width-independent by construction (same text → same key
    // under any deterministic hash; different text → filtered by the
    // w-equality join), proven in ScaleLawSpec by narrowing the key to
    // 30 and 16 bits and getting the identical confirmed vector while
    // the key-level counts inflate. One extra equi-join on (sp, w),
    // bounded to the colliding subset.
    "q138_span_dedup_confirmed" -> Q(
      (s, d) => {
        val agg = spanConfirmCounts(documents(s, d),
          th => graft.ops.TextAnalysis.spanHashes(th, 8))
        documents(s, d).select(col("doc_id"))
          .join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
            coalesce(col("n_dup_spans_confirmed"), lit(0L))
              .as("n_dup_spans_confirmed"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents),
              |th AS (SELECT doc_id, T, list_transform(T, x -> ${tokHashSql("x")}) AS TH FROM t),
              |spd AS (SELECT DISTINCT doc_id, sp, w FROM (
              |  SELECT doc_id,
              |    unnest(list_transform(range(1, len(TH) - 6), i ->
              |      list_reduce(list_prepend(CAST(0 AS BIGINT), TH[i:i+7]),
              |        (a, b) -> (a * 131 + b) % $HashMod) * $HashMod +
              |      list_reduce(list_prepend(CAST(0 AS BIGINT), TH[i:i+7]),
              |        (a, b) -> (a * 137 + b) % $HashMod))) AS sp,
              |    unnest(list_transform(range(1, len(T) - 6), i ->
              |      array_to_string(T[i:i+7], ' '))) AS w
              |  FROM th)),
              |dup AS (SELECT sp FROM (SELECT sp, count(DISTINCT doc_id) AS nd
              |                        FROM spd GROUP BY 1) WHERE nd >= 2),
              |coll AS (SELECT * FROM spd WHERE sp IN (SELECT sp FROM dup)),
              |conf AS (SELECT DISTINCT a.doc_id, a.sp
              |         FROM coll a JOIN coll b
              |           ON a.sp = b.sp AND a.w = b.w AND a.doc_id <> b.doc_id),
              |agg AS (SELECT s.doc_id,
              |          CAST(count(DISTINCT s.sp) AS BIGINT) AS n_spans,
              |          CAST(count(DISTINCT CASE WHEN s.sp IN (SELECT sp FROM dup)
              |            THEN s.sp END) AS BIGINT) AS n_dup_spans,
              |          CAST(count(DISTINCT CASE WHEN c.sp IS NOT NULL
              |            THEN s.sp END) AS BIGINT) AS n_dup_spans_confirmed
              |        FROM spd s LEFT JOIN conf c
              |          ON s.doc_id = c.doc_id AND s.sp = c.sp
              |        GROUP BY 1)
              |SELECT d.doc_id, coalesce(a.n_spans, 0) AS n_spans,
              |       coalesce(a.n_dup_spans, 0) AS n_dup_spans,
              |       coalesce(a.n_dup_spans_confirmed, 0) AS n_dup_spans_confirmed
              |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin),
      "span dedup with verbatim exact-confirm behind colliding keys: the deletion-grade signal"),

    // MODEL-BASED quality scoring — the batch-inference shape every
    // training pipeline runs over its corpus: the model's weights live
    // in the plan as literals, scoring is per-row codegen'd arithmetic,
    // ZERO shuffle — at 100 TB the quality pass is embarrassingly
    // parallel and reads each document once. A learned GBDT/NN swaps in
    // behind the same (features → score → keep) column contract via
    // mapInPandas; the linear scorer here keeps the oracle exact. The
    // squashing is x → 0.5 + x/(2(1+|x|)) (the "fast sigmoid") rather
    // than 1/(1+e^-x) DELIBERATELY: +,−,×,÷,abs are IEEE-exact and
    // bit-identical across engines, exp() is not — a logistic head
    // would hash-flake on boundary documents.
    "q136_quality_model" -> Q(
      (s, d) => {
        val nw = size(col("T")).cast("double")
        val nchars = length(col("text")).cast("double")
        // zero-denominator guards: an empty/whitespace-only doc must
        // score deterministically (ratios 0), not NULL out in Spark
        // while DuckDB produces inf/NaN — the engines disagree on x/0
        val sr = when(nw === 0.0, 0.0).otherwise(size(filter(col("T"),
          w => w.isin("the", "a", "of", "and", "to"))).cast("double") / nw)
        val digr = when(nchars === 0.0, 0.0).otherwise(
          length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") / nchars)
        val avgw = when(nw === 0.0, 0.0).otherwise(nchars / nw)
        val z = lit(0.015) * nw + lit(2.0) * sr - lit(3.0) * digr +
          lit(0.1) * avgw - lit(1.2)
        val score = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
        documents(s, d)
          .withColumn("T", tokens(col("text")))
          .select(col("doc_id"),
            round(score, 6).as("quality_score"),
            (score >= 0.5).as("keep"))
      },
      Some(s"""WITH t AS (SELECT doc_id, text, $toksSql AS T FROM documents),
              |f AS (SELECT doc_id,
              |        CAST(len(T) AS DOUBLE) AS nw,
              |        CASE WHEN len(T) = 0 THEN 0.0 ELSE CAST(len(list_filter(T, w -> w IN ('the','a','of','and','to'))) AS DOUBLE) / CAST(len(T) AS DOUBLE) END AS sr,
              |        CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS digr,
              |        CASE WHEN len(T) = 0 THEN 0.0 ELSE CAST(length(text) AS DOUBLE) / CAST(len(T) AS DOUBLE) END AS avgw
              |      FROM t),
              |z AS (SELECT doc_id,
              |        0.015 * nw + 2.0 * sr - 3.0 * digr + 0.1 * avgw - 1.2 AS z
              |      FROM f)
              |SELECT doc_id,
              |       round(0.5 + z / (2.0 * (1.0 + abs(z))), 6) AS quality_score,
              |       (0.5 + z / (2.0 * (1.0 + abs(z)))) >= 0.5 AS keep
              |FROM z""".stripMargin),
      "model-based quality scoring: linear scorer + exact-arithmetic sigmoid, the zero-shuffle batch-inference shape"),

    // BPE VOCABULARY TRAINING, the counting step: global counts of
    // adjacent character pairs inside tokens — the argmax pair IS the
    // next merge rule, and a full trainer iterates exactly this job
    // with the chosen merge applied to the token stream. Scale shape:
    // explode is linear in corpus characters; the pair groupBy keys on
    // ≤|alphabet|² values (map-side partial aggregation collapses it
    // before the shuffle); top-k is TakeOrdered on the tiny aggregate.
    // Tie-break by pair string so the top-20 SET is deterministic.
    "q137_bpe_merges" -> Q(
      (s, d) => {
        val pairs = when(length(col("tok")) >= 2,
          transform(sequence(lit(1), length(col("tok")) - 1),
            i => col("tok").substr(i, lit(2))))
          .otherwise(array().cast("array<string>"))
        documents(s, d)
          .select(explode(tokens(col("text"))).as("tok"))
          .select(explode(pairs).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(20)
      },
      Some(s"""WITH t AS (SELECT $toksSql AS T FROM documents),
              |tok AS (SELECT unnest(T) AS tok FROM t),
              |p AS (SELECT unnest(list_transform(range(1, length(tok)), i ->
              |        substring(tok, i, 2))) AS pair
              |      FROM tok WHERE length(tok) >= 2)
              |SELECT pair, CAST(count(*) AS BIGINT) AS n
              |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin),
      "BPE merge-rule counting: global adjacent char-pair counts, the vocab-training iteration step"),

    // THE END-TO-END CURATION PIPELINE — the program face of the
    // training-data pillar, composing the proven stages in production
    // order over one corpus (what extract/stream/analyse are for the
    // reference's side): exact dedup (q83's keep-best) → MinHash-LSH
    // near-dup keep-first (q28's bands, q135's non-cascading smaller-id
    // rule) → benchmark decontamination (q98's broadcast semi-join;
    // doc_id % 29 plays the eval suite) → quality gate (q27's stats:
    // n_words ≥ 40, stopword_ratio ≥ 0.03 — keeps 288/500 at sf0.01)
    // → PII scrub (q126's deterministic-injection fixture; the
    // redaction measurably fires on every row) → per-source token
    // packing (q131's best-first windowed budget). Scale shape: every
    // stage is the registered operator's own plan — two window
    // shuffles (dedup key, packing source), band/shingle equi-joins,
    // one broadcast semi-join; nothing quadratic, nothing collected.
    // Output = the packed curated corpus manifest.
    "q141_curate_corpus" -> Q(
      (s, d) => curateStages(s, d).last._2
        .where(col("cum_toks") <= CurateTokenBudget)
        .select(col("source"), col("doc_id"), col("n_toks"),
          col("cum_toks"), col("stopword_ratio"), col("chars_removed")),
      Some(s"""WITH $curateCtesSql
              |SELECT source, doc_id, n_toks, CAST(cum_toks AS BIGINT) AS cum_toks,
              |       stopword_ratio, chars_removed
              |FROM packed WHERE cum_toks <= $CurateTokenBudget""".stripMargin),
      "end-to-end curation pipeline: exact dedup -> LSH near-dup -> decontaminate -> quality gate -> PII scrub -> token packing"),

    // The full export, ONE call: the q141 curated + budgeted corpus
    // handed to the q152 training-order shuffle — per-doc shard and
    // within-shard sequence, i.e. exactly the manifest a trainer
    // reads. Composition of two oracled pillars; the oracle replays
    // the entire chain (six curation stages, budget cut, hash-mod
    // shard, per-shard order) in one statement. Plan shape is the sum
    // of its parts: the curation chain's joins + one hash exchange on
    // shard for the order window — no new shuffle class appears by
    // composing.
    "q168_training_export" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val curated = curateStages(s, d).last._2
          .where(col("cum_toks") <= CurateTokenBudget)
          .select(col("doc_id"), col("source"), col("n_toks"))
        val h = graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string"))
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("h").asc, col("doc_id").asc)
        curated.withColumn("h", h)
          .withColumn("shard", pmod(col("h"), lit(ShardOps.NumShards.toLong)))
          .withColumn("seq", row_number().over(w))
          .select(col("shard"), col("seq"), col("doc_id"), col("source"),
            col("n_toks"))
      },
      Some(s"""WITH $curateCtesSql,
              |exp AS (SELECT doc_id, source, n_toks FROM packed
              |        WHERE cum_toks <= $CurateTokenBudget),
              |shx AS (SELECT doc_id, source, n_toks,
              |          ${tokHashSql("CAST(doc_id AS VARCHAR)")} AS h
              |        FROM exp),
              |ord AS (SELECT h % ${ShardOps.NumShards} AS shard,
              |          row_number() OVER (PARTITION BY h % ${ShardOps.NumShards}
              |            ORDER BY h, doc_id) AS seq,
              |          doc_id, source, n_toks
              |        FROM shx)
              |SELECT shard, seq, doc_id, source, n_toks FROM ord""".stripMargin),
      "one-call training export: curated + budgeted corpus through the deterministic shard/order shuffle — the trainer's manifest"),

    // The export's last mile: SEQUENCE layout. Trainers consume
    // fixed-length token sequences (L = 512 here), and docs are packed
    // back to back WITHIN each shard's order, splitting across
    // sequence boundaries — so every doc maps to a token offset and a
    // [first_seq, last_seq] span. Pure integer arithmetic over one
    // per-shard running sum (the window rides q168's shard exchange;
    // no new shuffle class), replayed exactly by the oracle. At 100 TB
    // this is the map from corpus to training step that data-order
    // ablations and checkpoint-replay audits need.
    "q171_sequence_layout" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val curated = curateStages(s, d).last._2
          .where(col("cum_toks") <= CurateTokenBudget)
          .select(col("doc_id"), col("n_toks"))
        val h = graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string"))
        val wOrd = Window.partitionBy(col("shard"))
          .orderBy(col("h").asc, col("doc_id").asc)
        val wSum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        curated.withColumn("h", h)
          .withColumn("shard", pmod(col("h"), lit(ShardOps.NumShards.toLong)))
          .withColumn("seq", row_number().over(wOrd))
          .withColumn("cum", sum(col("n_toks")).over(wSum))
          .select(col("shard"), col("seq"), col("doc_id"), col("n_toks"),
            (col("cum") - col("n_toks")).as("tok_start"),
            expr("(cum - n_toks) div 512").as("first_seq"),
            expr("(cum - 1) div 512").as("last_seq"))
          .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
      },
      Some(s"""WITH $curateCtesSql,
              |exp AS (SELECT doc_id, n_toks FROM packed
              |        WHERE cum_toks <= $CurateTokenBudget),
              |shx AS (SELECT doc_id, n_toks,
              |          ${tokHashSql("CAST(doc_id AS VARCHAR)")} AS h
              |        FROM exp),
              |ord AS (SELECT h % ${ShardOps.NumShards} AS shard,
              |          row_number() OVER (PARTITION BY h % ${ShardOps.NumShards}
              |            ORDER BY h, doc_id) AS seq,
              |          doc_id, n_toks, h
              |        FROM shx),
              |cums AS (SELECT shard, seq, doc_id, n_toks,
              |           sum(n_toks) OVER (PARTITION BY shard ORDER BY seq
              |             ROWS UNBOUNDED PRECEDING) AS cum
              |         FROM ord)
              |SELECT shard, seq, doc_id, n_toks,
              |       CAST(cum - n_toks AS BIGINT) AS tok_start,
              |       CAST((cum - n_toks) // 512 AS BIGINT) AS first_seq,
              |       CAST((cum - 1) // 512 AS BIGINT) AS last_seq,
              |       CAST((cum - 1) // 512 - (cum - n_toks) // 512 + 1 AS BIGINT) AS n_seqs
              |FROM cums""".stripMargin),
      "sequence-boundary layout of the training export: per-shard token offsets, docs split across fixed-length sequences"),

    // The pipeline's per-stage AUDIT — what a production curation run
    // logs so nothing is silently dropped: surviving doc count at every
    // stage boundary, both engines replaying the identical chain. The
    // "no silent caps" discipline as an oracle-gated query.
    "q142_curate_audit" -> Q(
      (s, d) => {
        val labels = Map("s1" -> "s1_exact_dedup", "s2" -> "s2_near_dup",
          "s3" -> "s3_decontaminated", "s4" -> "s4_quality")
        val counts = ("s0_input" -> documents(s, d)) +: curateStages(s, d).map {
          case ("packed", df) =>
            "s5_packed" -> df.where(col("cum_toks") <= CurateTokenBudget)
          case (name, df) => labels(name) -> df
        }
        counts.map { case (label, df) =>
          df.agg(count(lit(1)).as("n_docs")).select(lit(label).as("stage"), col("n_docs"))
        }.reduce(_.unionByName(_))
      },
      Some(s"""WITH $curateCtesSql
              |SELECT 's0_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
              |UNION ALL SELECT 's1_exact_dedup', count(*) FROM s1
              |UNION ALL SELECT 's2_near_dup', count(*) FROM s2
              |UNION ALL SELECT 's3_decontaminated', count(*) FROM s3
              |UNION ALL SELECT 's4_quality', count(*) FROM s4
              |UNION ALL SELECT 's5_packed', count(*) FROM packed
              |                 WHERE cum_toks <= $CurateTokenBudget""".stripMargin),
      "curation-pipeline audit: surviving doc count at every stage boundary"),

    // INCREMENTAL curation — the q141 chain applied to a NEW BATCH
    // (doc_id % 5 = 0, q133's split) against the EXISTING corpus (the
    // rest), composing q133's band probe: the online-ingest face of the
    // pipeline. Every batch doc is returned with a drop PROVENANCE
    // status — the first stage that rejects it — extending q142's
    // no-silent-drops discipline to the online path. Scale shape:
    // every check is linear in the BATCH — the corpus contributes only
    // its content-hash set, MinHash band index, and benchmark shingle
    // set, all incrementally maintainable; there is no corpus×corpus
    // pass anywhere. Batch-internal checks (exact rn, band self-join)
    // are linear-in-batch; the corpus-side joins are equi-joins on
    // derived keys (hash / band / shingle).
    "q143_curate_incremental" -> Q(
      (s, d) => curateIncremental(documents(s, d)),
      Some {
        val sigExprs = MinHashCoeffs.zipWithIndex.map { case ((a, b), j) =>
          s"list_min(list_transform(H, h -> (h * $a + $b) % $MinHashP)) AS h$j"
        }.mkString(", ")
        s"""WITH kb AS (
           |  SELECT doc_id, text, source, n_chars, md5(text) AS key
           |  FROM documents WHERE doc_id % 5 = 0),
           |r1 AS (SELECT doc_id, key, row_number() OVER (PARTITION BY key
           |         ORDER BY n_chars DESC, doc_id) AS rn FROM kb),
           |dec AS (SELECT doc_id FROM kb SEMI JOIN
           |          (SELECT DISTINCT md5(text) AS key FROM documents
           |           WHERE doc_id % 5 <> 0) ck USING (key)),
           |b1 AS (SELECT doc_id FROM r1 WHERE rn = 1
           |         AND doc_id NOT IN (SELECT doc_id FROM dec)),
           |t AS (SELECT doc_id, $toksSql AS T FROM documents),
           |hh AS (SELECT doc_id, list_transform(list_distinct(${shinglesSql("T")}), s -> ${tokHashSql("s")}) AS H FROM t),
           |sig AS (SELECT doc_id, $sigExprs FROM hh WHERE len(H) > 0),
           |bsig AS (SELECT sig.* FROM sig SEMI JOIN b1 USING (doc_id)),
           |csig AS (SELECT * FROM sig WHERE doc_id % 5 <> 0),
           |bbands AS (
           |  SELECT doc_id, 0 AS band, h0 AS x, h1 AS y FROM bsig
           |  UNION ALL SELECT doc_id, 1, h2, h3 FROM bsig),
           |cbands AS (
           |  SELECT doc_id, 0 AS band, h0 AS x, h1 AS y FROM csig
           |  UNION ALL SELECT doc_id, 1, h2, h3 FROM csig),
           |dnc AS (SELECT DISTINCT b_id AS doc_id FROM
           |          (SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
           |           FROM bbands b JOIN cbands c
           |             ON b.band = c.band AND b.x = c.x AND b.y = c.y) cc
           |        JOIN bsig sa ON sa.doc_id = b_id
           |        JOIN csig sb ON sb.doc_id = c_id
           |        WHERE (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END +
           |               CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END +
           |               CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END +
           |               CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) / 4.0 >= 0.5),
           |dnb AS (SELECT DISTINCT b_id AS doc_id FROM
           |          (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |           FROM bbands a JOIN bbands b
           |             ON a.band = b.band AND a.x = b.x AND a.y = b.y
           |                AND a.doc_id < b.doc_id) cc
           |        JOIN bsig sa ON sa.doc_id = a_id
           |        JOIN bsig sb ON sb.doc_id = b_id
           |        WHERE (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END +
           |               CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END +
           |               CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END +
           |               CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) / 4.0 >= 0.5),
           |b2 AS (SELECT doc_id FROM b1
           |       WHERE doc_id NOT IN (SELECT doc_id FROM dnc)
           |         AND doc_id NOT IN (SELECT doc_id FROM dnb)),
           |tb AS (SELECT doc_id, T FROM t WHERE doc_id % 29 = 0),
           |bench AS (SELECT DISTINCT unnest(list_distinct(list_transform(${shinglesSql("T")}, s -> ${tokHashSql("s")}))) AS sh FROM tb),
           |sh2 AS (SELECT doc_id, unnest(list_distinct(list_transform(${shinglesSql("T")}, s -> ${tokHashSql("s")}))) AS sh
           |        FROM (SELECT t.* FROM t SEMI JOIN b2 USING (doc_id)
           |              WHERE doc_id % 29 <> 0) z),
           |cont AS (SELECT DISTINCT doc_id FROM sh2 SEMI JOIN bench USING (sh)),
           |q AS (SELECT doc_id, CAST(len(T) AS BIGINT) AS n_toks,
           |        round(CAST(len(list_filter(T, w -> w IN ('the','a','of','and','to'))) AS DOUBLE)
           |              / len(T), 6) AS stopword_ratio
           |      FROM t)
           |SELECT kb.doc_id, kb.source, q.n_toks,
           |  CASE WHEN kb.doc_id IN (SELECT doc_id FROM dec) THEN 'dup_exact_corpus'
           |       WHEN r1.rn > 1 THEN 'dup_exact_batch'
           |       WHEN kb.doc_id IN (SELECT doc_id FROM dnc) THEN 'dup_near_corpus'
           |       WHEN kb.doc_id IN (SELECT doc_id FROM dnb) THEN 'dup_near_batch'
           |       WHEN kb.doc_id % 29 = 0 THEN 'bench_member'
           |       WHEN kb.doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
           |       WHEN q.n_toks < 40 OR q.stopword_ratio < 0.03 THEN 'low_quality'
           |       ELSE 'kept' END AS status
           |FROM kb JOIN r1 USING (doc_id) JOIN q USING (doc_id)""".stripMargin
      },
      "incremental curation: the full chain over a new batch vs the corpus, with per-doc drop provenance"),

    // ONLINE curation over a MAINTAINED index (CurateStream): q143's
    // corpus probes are materialized as static tables (content-hash
    // set, band index, bench shingles) and the batch arrives as TWO
    // sequential micro-batches — batch 1 = doc_id % 10 = 0, batch 2 =
    // doc_id % 10 = 5 — with batch 1's kept docs folded into the index
    // before batch 2 probes it. This is the 100-TB shape: the corpus
    // is NEVER re-scanned per ingest (each batch touches the batch
    // plus three equi-join probes into stored indexes), and sequential
    // semantics are first-arrival-wins across batches (spec-pinned
    // deviations from q143's one-shot keep-best). The oracle replays
    // both phases: phase 2's index relation is corpus ∪ phase-1 kept.
    "q144_curate_stream" -> Q(
      (s, d) => {
        import graft.streaming.CurateStream
        // memoized root + idempotent upserts + self-excluding probes:
        // re-invocation (Bench's best-of-2) recomputes bit-identical
        // statuses and re-lands nothing
        val root = graft.Temps.dirFor(s"curate-stream-$d")
        val docs = documents(s, d)
        CurateStream.bootstrap(docs.where(col("doc_id") % 5 =!= 0), root)
        CurateStream.ingestBatch(docs.where(col("doc_id") % 10 === 0), root)
        CurateStream.ingestBatch(docs.where(col("doc_id") % 10 === 5), root)
        graft.sinks.Layout.readStatic(s, root, CurateStream.ManifestEntity)
          .get
      },
      Some(s"""WITH $curateStreamCtesSql
              |SELECT doc_id, source, n_toks, status FROM m1
              |UNION ALL SELECT doc_id, source, n_toks, status FROM m2""".stripMargin),
      "online curation over a maintained index: two sequential micro-batches, phase-2 probes include phase-1's kept docs"),

    // The SPAN LAYER armed (q134/q138's substring discipline, online):
    // bootstrap additionally materializes the doc-attributed span
    // index (8-token 60-bit rolling-hash keys of every corpus doc) and
    // each ingest flags surviving non-bench docs whose distinct spans
    // are ≥ 50% covered by stored spans as `dup_span_corpus` — the
    // FRANKEN-DOC case: recomposed corpus substrings that pass both
    // the exact layer (novel byte string) and the MinHash layer (each
    // source contributes too few shingles for a band to agree).
    // Phase 1 ingests the regular %10=0 batch; phase 2 ingests
    // CONSTRUCTED franken-docs — first 32 tokens of corpus doc d
    // (d%5=1) spliced to the first 32 of doc d+1, re-id'd to 10⁶+d —
    // a deterministic token-slice both engines replay, so the span
    // verdicts are hash-checked, not just spec-asserted. Precedence
    // after bench routing, before contamination; kept docs fold their
    // spans in. The span store is the one index linear in corpus
    // TOKENS — the price any substring-level dedup pays (SCALE.md).
    "q147_curate_stream_spans" -> Q(
      (s, d) => {
        import graft.streaming.CurateStream
        val root = graft.Temps.dirFor(s"curate-stream-spans-$d")
        val docs = documents(s, d)
        val base = docs.where(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"), tokens(col("text")).as("T"),
            col("lang"), col("source"))
          .where(size(col("T")) >= 40)
        val franken = base.where(col("doc_id") % 5 === 1)
          .join(base.select(col("doc_id").as("b_id"), col("T").as("TB")),
            col("b_id") === col("doc_id") + 1)
          .select(
            (col("doc_id") + 1000000L).as("doc_id"),
            concat_ws(" ",
              concat(slice(col("T"), 1, 32), slice(col("TB"), 1, 32))).as("text"),
            col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("int"))
        CurateStream.bootstrap(docs.where(col("doc_id") % 5 =!= 0), root,
          withSpans = true)
        CurateStream.ingestBatch(docs.where(col("doc_id") % 10 === 0), root,
          spanGate = true)
        CurateStream.ingestBatch(franken, root, spanGate = true)
        graft.sinks.Layout.readStatic(s, root, CurateStream.ManifestEntity)
          .get
      },
      Some {
        val sigExprs = MinHashCoeffs.zipWithIndex.map { case ((a, b), j) =>
          s"list_min(list_transform(H, h -> (h * $a + $b) % $MinHashP)) AS h$j"
        }.mkString(", ")
        val agreeSql =
          """(CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END +
            |               CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END +
            |               CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END +
            |               CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) / 4.0 >= 0.5""".stripMargin
        def phase(p: Int, pred: String, benchPred: String): String =
          s"""b$p AS (SELECT d.doc_id, d.source, d.n_chars, k.key
             |        FROM docs2 d JOIN keys k USING (doc_id)
             |        WHERE $pred),
             |r$p AS (SELECT doc_id, key, row_number() OVER (PARTITION BY key
             |          ORDER BY n_chars DESC, doc_id) AS rn FROM b$p),
             |dec$p AS (SELECT b.doc_id FROM b$p b SEMI JOIN
             |            (SELECT DISTINCT k.key FROM keys k
             |             SEMI JOIN idx$p USING (doc_id)) ck USING (key)),
             |b1$p AS (SELECT doc_id FROM r$p WHERE rn = 1
             |           AND doc_id NOT IN (SELECT doc_id FROM dec$p)),
             |bsig$p AS (SELECT sig.* FROM sig SEMI JOIN b1$p USING (doc_id)),
             |csig$p AS (SELECT sig.* FROM sig SEMI JOIN idx$p USING (doc_id)),
             |bb$p AS (SELECT doc_id, 0 AS band, h0 AS x, h1 AS y FROM bsig$p
             |         UNION ALL SELECT doc_id, 1, h2, h3 FROM bsig$p),
             |cb$p AS (SELECT doc_id, 0 AS band, h0 AS x, h1 AS y FROM csig$p
             |         UNION ALL SELECT doc_id, 1, h2, h3 FROM csig$p),
             |dnc$p AS (SELECT DISTINCT b_id AS doc_id FROM
             |            (SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
             |             FROM bb$p b JOIN cb$p c
             |               ON b.band = c.band AND b.x = c.x AND b.y = c.y) cc
             |          JOIN bsig$p sa ON sa.doc_id = b_id
             |          JOIN csig$p sb ON sb.doc_id = c_id
             |          WHERE $agreeSql),
             |dnb$p AS (SELECT DISTINCT b_id AS doc_id FROM
             |            (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             |             FROM bb$p a JOIN bb$p b
             |               ON a.band = b.band AND a.x = b.x AND a.y = b.y
             |                  AND a.doc_id < b.doc_id) cc
             |          JOIN bsig$p sa ON sa.doc_id = a_id
             |          JOIN bsig$p sb ON sb.doc_id = b_id
             |          WHERE $agreeSql),
             |b2$p AS (SELECT doc_id FROM b1$p
             |         WHERE doc_id NOT IN (SELECT doc_id FROM dnc$p)
             |           AND doc_id NOT IN (SELECT doc_id FROM dnb$p)),
             |spix$p AS MATERIALIZED (SELECT DISTINCT sp FROM spd SEMI JOIN idx$p USING (doc_id)),
             |spdup$p AS (SELECT doc_id FROM
             |              (SELECT s.doc_id, count(*) AS n_sp,
             |                 sum(CASE WHEN s.sp IN (SELECT sp FROM spix$p)
             |                     THEN 1 ELSE 0 END) AS n_dup
             |               FROM (SELECT spd.* FROM spd SEMI JOIN b2$p USING (doc_id)
             |                     WHERE spd.doc_id % 29 <> 0) s
             |               GROUP BY 1) g
             |            WHERE n_dup >= n_sp * 0.5),
             |bench$p AS (SELECT DISTINCT sh FROM shing
             |            WHERE doc_id % 29 = 0 AND ($benchPred)),
             |cont$p AS (SELECT DISTINCT s2.doc_id FROM
             |             (SELECT s.* FROM shing s SEMI JOIN b2$p USING (doc_id)
             |              WHERE s.doc_id % 29 <> 0) s2
             |           SEMI JOIN bench$p USING (sh)),
             |m$p AS (SELECT b.doc_id, b.source, q.n_toks,
             |          CASE WHEN b.doc_id IN (SELECT doc_id FROM dec$p) THEN 'dup_exact_corpus'
             |               WHEN r.rn > 1 THEN 'dup_exact_batch'
             |               WHEN b.doc_id IN (SELECT doc_id FROM dnc$p) THEN 'dup_near_corpus'
             |               WHEN b.doc_id IN (SELECT doc_id FROM dnb$p) THEN 'dup_near_batch'
             |               WHEN b.doc_id % 29 = 0 THEN 'bench_member'
             |               WHEN b.doc_id IN (SELECT doc_id FROM spdup$p) THEN 'dup_span_corpus'
             |               WHEN b.doc_id IN (SELECT doc_id FROM cont$p) THEN 'contaminated'
             |               WHEN q.n_toks < 40 OR q.stopword_ratio < 0.03 THEN 'low_quality'
             |               ELSE 'kept' END AS status
             |        FROM b$p b JOIN r$p r USING (doc_id) JOIN q USING (doc_id)),
             |kept$p AS (SELECT doc_id FROM m$p WHERE status = 'kept')""".stripMargin
        s"""WITH tf AS (SELECT d.doc_id,
           |            list_filter(string_split(d.text, ' '), x -> x <> '') AS T,
           |            d.source FROM documents d WHERE d.doc_id % 5 <> 0),
           |t40 AS (SELECT * FROM tf WHERE len(T) >= 40),
           |fr AS (SELECT 1000000 + a.doc_id AS doc_id,
           |         array_to_string(list_concat(a.T[1:32], b.T[1:32]), ' ') AS text,
           |         a.source
           |       FROM t40 a JOIN t40 b ON b.doc_id = a.doc_id + 1
           |       WHERE a.doc_id % 5 = 1),
           |docs2 AS MATERIALIZED (SELECT doc_id, text, source, CAST(n_chars AS BIGINT) AS n_chars
           |          FROM documents
           |          UNION ALL
           |          SELECT doc_id, text, source, CAST(length(text) AS BIGINT)
           |          FROM fr),
           |t AS MATERIALIZED (SELECT doc_id, $toksSql AS T FROM docs2),
           |hh AS MATERIALIZED (SELECT doc_id, list_transform(list_distinct(${shinglesSql("T")}), s -> ${tokHashSql("s")}) AS H FROM t),
           |sig AS MATERIALIZED (SELECT doc_id, $sigExprs FROM hh WHERE len(H) > 0),
           |keys AS MATERIALIZED (SELECT doc_id, md5(text) AS key FROM docs2),
           |shing AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform(${shinglesSql("T")}, s -> ${tokHashSql("s")}))) AS sh FROM t),
           |th AS MATERIALIZED (SELECT doc_id, list_transform(T, x -> ${tokHashSql("x")}) AS TH FROM t),
           |spd AS MATERIALIZED (SELECT DISTINCT doc_id,
           |          unnest(list_transform(range(1, len(TH) - 6), i ->
           |            list_reduce(list_prepend(CAST(0 AS BIGINT), TH[i:i+7]),
           |              (a, b) -> (a * 131 + b) % $HashMod) * $HashMod +
           |            list_reduce(list_prepend(CAST(0 AS BIGINT), TH[i:i+7]),
           |              (a, b) -> (a * 137 + b) % $HashMod))) AS sp
           |        FROM th),
           |q AS MATERIALIZED (SELECT doc_id, CAST(len(T) AS BIGINT) AS n_toks,
           |        round(CAST(len(list_filter(T, w -> w IN ('the','a','of','and','to'))) AS DOUBLE)
           |              / len(T), 6) AS stopword_ratio
           |      FROM t),
           |idx1 AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
           |${phase(1, "d.doc_id % 10 = 0", "doc_id < 1000000 AND doc_id % 10 <> 5")},
           |idx2 AS (SELECT doc_id FROM idx1
           |         UNION ALL SELECT doc_id FROM kept1),
           |${phase(2, "d.doc_id >= 1000000", "doc_id % 10 <> 5")}
           |SELECT doc_id, source, n_toks, status FROM m1
           |UNION ALL SELECT doc_id, source, n_toks, status FROM m2""".stripMargin
      },
      "online curation with the span layer armed: franken-docs recomposed from corpus substrings land dup_span_corpus"),

    // DATA SELECTION VIA IMPORTANCE RESAMPLING (DSIR; Xie et al.,
    // NeurIPS 2023) with hashed n-gram features: candidate documents
    // are scored by how much more likely their tokens are under a
    // TARGET domain's hashed-unigram distribution than under the raw
    // pool's, and the top importance quartile is selected. Features
    // are tokens char-fold-hashed into B = 256 buckets (the paper's
    // hashed n-gram trick — fixed-width distributions regardless of
    // vocab); both distributions are add-1-smoothed bucket counts;
    // a doc's weight is Σ_tokens llr(bucket(token)). Here the target
    // domain is doc_id % 7 = 0 (a deterministic stand-in for "the
    // Wikipedia-like corpus you want more of") and candidates are the
    // rest. Determinism across engines: the log's INPUT is one IEEE
    // division of two exactly-representable integer products
    // ((ct_t+1)·(n_r+B) vs (ct_r+1)·(n_t+B) — both < 2^53), so both
    // engines log the identical double; the per-BUCKET llr is rounded
    // to 6dp (256 values, boundary collisions vanishingly unlikely)
    // and per-doc sums go through DECIMAL(30,15), order-free. Scale
    // shape: the model is TWO B-row broadcast aggregates; scoring is
    // the token→bucket equi-join against the broadcast llr table +
    // one per-doc aggregate (posting-shaped, never doc × vocab); the
    // only global step is the doc-level ntile, q164's convention.
    "q178_dsir_select" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy(col("weight").desc, col("doc_id").asc)
        dsirWeights(s, d)
          .withColumn("quartile", ntile(4).over(w))
          .select(col("doc_id"), col("n_toks"), col("weight"),
            col("quartile"), (col("quartile") === 1).as("selected"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
              |tb AS MATERIALIZED (SELECT doc_id, ${tokHashSql("t")} % 256 AS b FROM tk),
              |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct_t FROM tb
              |        WHERE doc_id % 7 = 0 GROUP BY 1),
              |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS ct_r FROM tb
              |        WHERE doc_id % 7 <> 0 GROUP BY 1),
              |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_t FROM tb WHERE doc_id % 7 = 0),
              |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_r FROM tb WHERE doc_id % 7 <> 0),
              |llr AS (SELECT coalesce(t.b, r.b) AS b,
              |          round(ln(CAST((coalesce(ct_t, 0) + 1) * (n_r + 256) AS DOUBLE) /
              |                   CAST((coalesce(ct_r, 0) + 1) * (n_t + 256) AS DOUBLE)), 6) AS llr
              |        FROM tgt t FULL OUTER JOIN raw r ON t.b = r.b
              |        CROSS JOIN nt CROSS JOIN nr),
              |sc AS (SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
              |         CAST(sum(CAST(l.llr AS DECIMAL(30,15))) AS DOUBLE) AS weight
              |       FROM tb JOIN llr l USING (b)
              |       WHERE tb.doc_id % 7 <> 0 GROUP BY 1),
              |r AS (SELECT doc_id, n_toks, weight,
              |        ntile(4) OVER (ORDER BY weight DESC, doc_id ASC) AS quartile
              |      FROM sc)
              |SELECT doc_id, n_toks, weight, quartile,
              |  quartile = 1 AS selected FROM r""".stripMargin),
      "DSIR-style importance selection: hashed-unigram target/raw LLR weights, top-quartile keep"),

    // q178 SERVED FROM THE MAINTAINED INVERTED INDEX: both the model
    // (target/raw bucket distributions) and the per-doc scoring read
    // the STORED `lex_postings (t, doc_id, tf)` — bucket counts are
    // Σ tf grouped by hash(t) % B, a B-row aggregate over postings
    // rows, and a doc's weight is Σ_terms tf · llr(bucket(term)) —
    // so selection never re-tokenizes a document: the same ingest
    // upkeep that serves BM25 (q175) serves importance selection for
    // free. The two-phase upsert (even docs, then all) exercises the
    // incremental maintenance path exactly like q175. Numerically the
    // same chain as q178 (Σ tf·llr over 6dp llr values through exact
    // decimals ≡ the per-occurrence sum), so the weights — and the
    // selection — hash-match the recomputed ones; the oracle replays
    // ingest → postings → bucket model → posting-shaped scoring.
    "q179_dsir_served" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.sinks.Layout
        import graft.streaming.CurateStream
        val B = 256
        val root = graft.Temps.dirFor(s"dsir-served-$d")
        val docs = documents(s, d)
        CurateStream.upsertLex(docs.where(col("doc_id") % 2 === 0), root)
        CurateStream.upsertLex(docs, root)
        val post = Layout.readStatic(s, root, CurateStream.PostingsEntity)
          .getOrElse(throw new IllegalStateException(s"no $root postings"))
          .select(col("doc_id"),
            pmod(tokenHash(col("t")), lit(B.toLong)).as("b"), col("tf"))
          .localCheckpoint() // read 3×: target model, raw model, scoring
        val isTgt = col("doc_id") % 7 === 0
        // isTgt PARTITIONS post — single conditional-aggregate pass
        // per model instead of two scans paired by a full-outer join
        // (dsirWeights' rationale; exact mirror: per-bucket nulls
        // coalesced below as before, scalar totals keep sum's
        // null-on-empty-side semantics)
        val cts = post.groupBy(col("b")).agg(
          sum(when(isTgt, col("tf"))).as("ct_t"),
          sum(when(!isTgt, col("tf"))).as("ct_r"))
        val ns = post.agg(
          sum(when(isTgt, col("tf"))).as("n_t"),
          sum(when(!isTgt, col("tf"))).as("n_r"))
        val llr = cts
          .select(col("b"), coalesce(col("ct_t"), lit(0L)).as("ct_t"),
            coalesce(col("ct_r"), lit(0L)).as("ct_r"))
          .crossJoin(broadcast(ns))
          .select(col("b"),
            round(log(
              ((col("ct_t") + 1) * (col("n_r") + B)).cast("double") /
                ((col("ct_r") + 1) * (col("n_t") + B)).cast("double")), 6)
              .as("llr"))
        val w = Window.orderBy(col("weight").desc, col("doc_id").asc)
        post.where(!isTgt)
          .join(broadcast(llr), Seq("b"))
          .groupBy(col("doc_id"))
          .agg(sum(col("tf")).as("n_toks"),
            sum(col("llr").cast("decimal(10,6)") * col("tf"))
              .cast("double").as("weight"))
          .withColumn("quartile", ntile(4).over(w))
          .select(col("doc_id"), col("n_toks"), col("weight"),
            col("quartile"), (col("quartile") === 1).as("selected"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
              |postings AS (SELECT t, doc_id, CAST(count(*) AS BIGINT) AS tf
              |             FROM tk GROUP BY 1, 2),
              |pb AS MATERIALIZED (SELECT doc_id, ${tokHashSql("t")} % 256 AS b, tf
              |      FROM postings),
              |tgt AS (SELECT b, CAST(sum(tf) AS BIGINT) AS ct_t FROM pb
              |        WHERE doc_id % 7 = 0 GROUP BY 1),
              |raw AS (SELECT b, CAST(sum(tf) AS BIGINT) AS ct_r FROM pb
              |        WHERE doc_id % 7 <> 0 GROUP BY 1),
              |nt AS (SELECT CAST(sum(tf) AS BIGINT) AS n_t FROM pb WHERE doc_id % 7 = 0),
              |nr AS (SELECT CAST(sum(tf) AS BIGINT) AS n_r FROM pb WHERE doc_id % 7 <> 0),
              |llr AS (SELECT coalesce(t.b, r.b) AS b,
              |          round(ln(CAST((coalesce(ct_t, 0) + 1) * (n_r + 256) AS DOUBLE) /
              |                   CAST((coalesce(ct_r, 0) + 1) * (n_t + 256) AS DOUBLE)), 6) AS llr
              |        FROM tgt t FULL OUTER JOIN raw r ON t.b = r.b
              |        CROSS JOIN nt CROSS JOIN nr),
              |sc AS (SELECT pb.doc_id, CAST(sum(tf) AS BIGINT) AS n_toks,
              |         CAST(sum(CAST(l.llr AS DECIMAL(10,6)) * tf) AS DOUBLE) AS weight
              |       FROM pb JOIN llr l USING (b)
              |       WHERE pb.doc_id % 7 <> 0 GROUP BY 1),
              |r AS (SELECT doc_id, n_toks, weight,
              |        ntile(4) OVER (ORDER BY weight DESC, doc_id ASC) AS quartile
              |      FROM sc)
              |SELECT doc_id, n_toks, weight, quartile,
              |  quartile = 1 AS selected FROM r""".stripMargin),
      "DSIR selection served from the stored inverted index: bucket model and per-doc scoring both read lex_postings, no re-tokenization"),

    // DSIR's actual RESAMPLING step (q178 ranks; the paper SAMPLES
    // without replacement ∝ exp(llr weight)): the Gumbel-top-k trick
    // — top-K by (weight + G_d) where G_d is standard Gumbel noise —
    // draws exactly that sample, and seeding the noise from the
    // doc-id hash makes the draw REPRODUCIBLE: u_d = (h_d + 1) /
    // (P + 1) ∈ (0,1) exactly representable, G_d = −ln(−ln u_d).
    // Determinism with two chained transcendentals: the inner ln's
    // input is an exact double, its result rounds to 9dp (|ln u| ≥
    // 1/(P+1) ≈ 1e-9, so 9dp never collapses to zero), the outer ln
    // sees that exact 9dp double and rounds to 6dp — both engines
    // agree at each rounding gate. score = weight + g is one IEEE add
    // of identical doubles. Scale shape: q178's chain + one per-doc
    // expression; the only global step is the doc-level top-K rank.
    "q181_dsir_resample" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val K = 100
        val u = (tokenHash(col("doc_id").cast("string")) + 1)
          .cast("double") / lit((HashMod + 1).toDouble)
        val w = Window.orderBy(col("score").desc, col("doc_id").asc)
        dsirWeights(s, d)
          .withColumn("g", round(-log(-round(log(u), 9)), 6))
          .withColumn("score", col("weight") + col("g"))
          .withColumn("rnk", row_number().over(w))
          .select(col("doc_id"), col("n_toks"), col("weight"), col("g"),
            col("score"), col("rnk"), (col("rnk") <= K).as("selected"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
              |tb AS MATERIALIZED (SELECT doc_id, ${tokHashSql("t")} % 256 AS b FROM tk),
              |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct_t FROM tb
              |        WHERE doc_id % 7 = 0 GROUP BY 1),
              |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS ct_r FROM tb
              |        WHERE doc_id % 7 <> 0 GROUP BY 1),
              |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_t FROM tb WHERE doc_id % 7 = 0),
              |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_r FROM tb WHERE doc_id % 7 <> 0),
              |llr AS (SELECT coalesce(t.b, r.b) AS b,
              |          round(ln(CAST((coalesce(ct_t, 0) + 1) * (n_r + 256) AS DOUBLE) /
              |                   CAST((coalesce(ct_r, 0) + 1) * (n_t + 256) AS DOUBLE)), 6) AS llr
              |        FROM tgt t FULL OUTER JOIN raw r ON t.b = r.b
              |        CROSS JOIN nt CROSS JOIN nr),
              |sc AS (SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
              |         CAST(sum(CAST(l.llr AS DECIMAL(30,15))) AS DOUBLE) AS weight
              |       FROM tb JOIN llr l USING (b)
              |       WHERE tb.doc_id % 7 <> 0 GROUP BY 1),
              |gn AS (SELECT doc_id, n_toks, weight,
              |         round(-ln(-round(ln(
              |           (${tokHashSql("CAST(doc_id AS VARCHAR)")} + 1) /
              |             CAST(${HashMod + 1} AS DOUBLE)), 9)), 6) AS g
              |       FROM sc),
              |r AS (SELECT doc_id, n_toks, weight, g, weight + g AS score,
              |        row_number() OVER (ORDER BY weight + g DESC, doc_id ASC) AS rnk
              |      FROM gn)
              |SELECT doc_id, n_toks, weight, g, score, rnk,
              |  rnk <= 100 AS selected FROM r""".stripMargin),
      "DSIR Gumbel-top-k resampling: hash-seeded Gumbel noise over the LLR weights draws a reproducible without-replacement sample"),

    // STRIDE-OVERLAP CHUNKING — the RAG indexing splitter: windows of
    // W = 64 tokens starting every S = 48 (16-token overlap so no
    // boundary sentence is ever cut from BOTH neighbors), each chunk
    // carrying retrieval provenance (doc, ordinal, 1-based token
    // start, actual length — the window count is ⌈(len−W)/S⌉+1, so
    // the LAST window reaches the doc end and no window is ever fully
    // contained in its predecessor; only the tail may be partial) and
    // a cross-engine fingerprint (the char-fold hash of the re-joined
    // window) instead of the window text itself, so the output stays
    // narrow and the chunk CONTENT is still hash-pinned. Scale shape:
    // one generator expression per doc (explode of ⌈len/S⌉ window
    // indexes + a bounded slice each) — zero joins, zero shuffles
    // beyond the scan; the chunk table partitions however its
    // consumer wants because provenance is self-contained.
    "q182_chunk_stride" -> Q(
      (s, d) => {
        val W = 64
        val S = 48
        val docs = documents(s, d)
        val T = tokens(col("text"))
        docs.select(col("doc_id"), T.as("T"))
          .where(size(col("T")) >= 1)
          .select(col("doc_id"), col("T"),
            explode(sequence(lit(0L),
              greatest(ceil((size(col("T")) - W).cast("double") / S)
                .cast("long"), lit(0L)))).as("k"))
          .select(col("doc_id"), col("k").as("chunk_idx"),
            (col("k") * S + 1).as("start_tok"),
            slice(col("T"), (col("k") * S + 1).cast("int"), lit(W)).as("ctoks"))
          .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
            size(col("ctoks")).cast("long").as("n_ctoks"),
            tokenHash(array_join(col("ctoks"), " ")).as("fp"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents),
              |ks AS (SELECT doc_id, T,
              |         unnest(range(0, greatest(CAST(ceil((len(T) - 64) /
              |           CAST(48 AS DOUBLE)) AS BIGINT), 0) + 1)) AS k
              |       FROM t WHERE len(T) >= 1),
              |ch AS (SELECT doc_id, k AS chunk_idx,
              |         k * 48 + 1 AS start_tok,
              |         list_slice(T, k * 48 + 1, k * 48 + 64) AS ctoks
              |       FROM ks)
              |SELECT doc_id, chunk_idx, start_tok,
              |  CAST(len(ctoks) AS BIGINT) AS n_ctoks,
              |  ${tokHashSql("array_to_string(ctoks, ' ')")} AS fp
              |FROM ch""".stripMargin),
      "stride-overlap chunking for retrieval indexing: 64-token windows every 48, provenance + content fingerprint per chunk"),

    // BPE MERGE LEARNING (tokenizer vocabulary induction, the
    // Sennrich-BPE shape every pretraining pipeline runs once per
    // corpus): learn the first 4 merge rules from the word-frequency
    // dictionary. The 100-TB discipline is WHERE the iteration runs:
    // the corpus is touched exactly once (one token explode + groupBy
    // into the dict, whose cardinality is the VOCABULARY, not the
    // corpus); every merge round is then a pair-count aggregate over
    // dict rows weighted by freq, a 1-row argmax collect (sanctioned
    // bounded collect — the merge rule IS driver state, like the PQ
    // codebook), and a fold-apply over dict rows. Greedy left-to-right
    // non-overlapping application is a left fold, NOT a string
    // replace — a separator-encoded replace() silently skips
    // shared-boundary overlaps ("a a a a" would merge once, not
    // twice); the fold gets runs right, and the oracle replays the
    // identical fold with DuckDB's list_reduce over singleton lists.
    // Ties break (count desc, pair asc) — both engines compare the
    // same integer counts and ASCII pair keys.
    "q186_bpe_merges" -> Q(
      (s, d) => {
        val (merges, _) = bpeLearn(s, d, rounds = 4)
        import s.implicits._
        merges.toDF("merge_rank", "sym_a", "sym_b", "pair_count")
      },
      Some(s"""$bpeChainSql
              |SELECT CAST(1 AS BIGINT) AS merge_rank, a AS sym_a, b AS sym_b,
              |       CAST(cnt AS BIGINT) AS pair_count FROM m1
              |UNION ALL SELECT 2, a, b, CAST(cnt AS BIGINT) FROM m2
              |UNION ALL SELECT 3, a, b, CAST(cnt AS BIGINT) FROM m3
              |UNION ALL SELECT 4, a, b, CAST(cnt AS BIGINT) FROM m4""".stripMargin),
      "BPE merge learning: corpus-once word dict, vocab-bounded pair counts, fold-applied greedy merges"),

    // BPE ENCODE TRAJECTORY — the other half of L44: what the learned
    // rules BUY. After each merge round, the corpus-weighted symbol
    // count (Σ freq·|syms| over the dict = total tokens the model
    // would see for the alpha-word stream) and the symbol vocabulary
    // size. This is also the production ENCODE shape at 100 TB: you
    // never fold merges over raw text — you encode the VOCAB once
    // (these dict rows) and the corpus tokenizes by a word→pieces
    // equi-join, so the trajectory's cost is the vocab's, not the
    // corpus's. Compression is measured, not asserted: each round
    // saves exactly pair_count occurrences (total_syms drops by q186's
    // cnt — the two queries cross-check), and vocab grows by ≤ 1.
    "q189_bpe_encode" -> Q(
      (s, d) => {
        val (_, dicts) = bpeLearn(s, d, rounds = 4)
        dicts.zipWithIndex.map { case (df, r) =>
          df.select(col("freq"), explode(col("syms")).as("sym"))
            .agg(sum(col("freq")).as("total_syms"),
              countDistinct(col("sym")).as("n_vocab"))
            .select(lit(r.toLong).as("merge_rank"), col("total_syms"),
              col("n_vocab"))
        }.reduce(_ unionByName _)
      },
      Some {
        def row(r: Int): String =
          s"""SELECT CAST($r AS BIGINT) AS merge_rank,
             |  CAST(sum(freq) AS BIGINT) AS total_syms,
             |  CAST(count(DISTINCT s.sym) AS BIGINT) AS n_vocab
             |FROM d$r, unnest(d$r.syms) AS s(sym)""".stripMargin
        s"""$bpeChainSql
           |${row(0)}
           |UNION ALL ${row(1)}
           |UNION ALL ${row(2)}
           |UNION ALL ${row(3)}
           |UNION ALL ${row(4)}""".stripMargin
      },
      "BPE encode trajectory: corpus-weighted symbol totals + vocab size per merge round"),

    // LEAKAGE-SAFE EVAL SPLIT: a train/test split that hashes the
    // near-dup CLUSTER, not the document — the q82 doc-level split
    // leaks whenever two near-duplicates land on opposite sides (the
    // eval set then contains paraphrases of training docs and the
    // benchmark is contaminated). Splitting by the q101 canonical id
    // puts every cluster wholly on one side by construction; the
    // output MEASURES the repair: n_moved = docs whose doc-level split
    // disagrees with their cluster's split — exactly the docs a naive
    // split would have leaked across the boundary (up to hash
    // coin-flips on singleton-free clusters). Scale shape: q101's
    // banded-LSH + pointer-jumping CC (never all-pairs), then one
    // hash, one groupBy — the split itself adds nothing beyond the
    // clustering the dedup pipeline already maintains.
    "q187_leakage_split" -> Q(
      (s, d) => {
        val pairs = bandPairs(s, d)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val comp = graft.analytics.GraphOps.connectedComponents(pairs)
          .toDF("doc_id", "canonical")
        val assigned = documents(s, d).select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("canonical"), col("doc_id")).as("canonical"))
        val hC = graft.functions.EvmExprs.tokenHash(
          col("canonical").cast("string"))
        val hD = graft.functions.EvmExprs.tokenHash(
          col("doc_id").cast("string"))
        assigned
          .withColumn("split",
            when(pmod(hC, lit(10L)) < 9, lit("train")).otherwise(lit("test")))
          .withColumn("naive",
            when(pmod(hD, lit(10L)) < 9, lit("train")).otherwise(lit("test")))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("canonical")).as("n_clusters"),
            sum(when(col("split") =!= col("naive"), 1L).otherwise(0L))
              .as("n_moved"))
      },
      Some(s"""WITH RECURSIVE ${bandPairsCtesSql()},
              |pairs AS (SELECT a_id, b_id FROM p WHERE est_jaccard >= 0.5),
              |sym AS (SELECT a_id AS src, b_id AS dst FROM pairs
              |        UNION SELECT b_id, a_id FROM pairs),
              |reach(id, r) AS (
              |  SELECT src, src FROM sym
              |  UNION
              |  SELECT sym.dst, reach.r FROM reach JOIN sym ON sym.src = reach.id),
              |comp AS (SELECT id AS doc_id, min(r) AS canonical FROM reach GROUP BY 1),
              |assigned AS (
              |  SELECT d.doc_id, coalesce(c.canonical, d.doc_id) AS canonical
              |  FROM documents d LEFT JOIN comp c USING (doc_id)),
              |lab AS (SELECT doc_id, canonical,
              |          CASE WHEN ${tokHashSql("CAST(canonical AS VARCHAR)")} % 10 < 9
              |            THEN 'train' ELSE 'test' END AS split,
              |          CASE WHEN ${tokHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 9
              |            THEN 'train' ELSE 'test' END AS naive
              |        FROM assigned)
              |SELECT split, count(*) AS n_docs,
              |       CAST(count(DISTINCT canonical) AS BIGINT) AS n_clusters,
              |       CAST(sum(CASE WHEN split <> naive THEN 1 ELSE 0 END)
              |         AS BIGINT) AS n_moved
              |FROM lab GROUP BY 1""".stripMargin),
      "leakage-safe eval split: hash the near-dup cluster, not the doc; measured repair vs the naive split"),

    // ONLINE SPLIT ASSIGNMENT — q187's streaming face: when a batch
    // of new documents arrives, each doc that LSH-matches the corpus
    // inherits its matched cluster's split (the corpus splits are
    // frozen — eval membership can't be rewritten under a running
    // benchmark), and novel docs hash their own id (they found a new
    // singleton cluster). The q133 incremental discipline: the batch
    // probes the corpus's band index, it never re-clusters the corpus.
    // The output measures what online assignment can and cannot give:
    // n_overridden = matched docs whose inherited split differs from
    // their own-hash split (the leaks prevented), and n_conflicted =
    // batch docs matching ≥ 2 corpus clusters whose splits DISAGREE —
    // the residual a full re-cluster would merge but a frozen corpus
    // cannot (the doc takes its min-canonical's side; the conflict
    // count is the honest price of online assignment, measured).
    "q190_split_assign" -> Q(
      (s, d) => {
        val docs = documents(s, d)
        val sig = Lsh.signatures(
            docs.repartition(s.sparkContext.defaultParallelism, col("doc_id")))
          .localCheckpoint() // batch + corpus bands + both scorers
        val corpusSig = sig.where(col("doc_id") % 5 =!= 0)
        val batchSig = sig.where(col("doc_id") % 5 === 0)
        val cpairs = bandPairsOf(docs.where(col("doc_id") % 5 =!= 0))
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val comp = graft.analytics.GraphOps.connectedComponents(cpairs)
          .toDF("c_id", "canonical")
        val cand = Lsh.probePairs(Lsh.bands(batchSig), Lsh.bands(corpusSig))
        val splitOf = (c: Column) => when(
          pmod(graft.functions.EvmExprs.tokenHash(c.cast("string")),
            lit(10L)) < 9, lit("train")).otherwise(lit("test"))
        // FLIP the cluster lookup (r14's CurateStream discipline): comp
        // is corpus-cluster-sized, so `scored LEFT JOIN comp` sort-merge
        // shuffled BOTH sides; instead comp is SEMI-joined against the
        // broadcast key set (comp streams, no shuffle), and the
        // batch-bounded hit set broadcasts back into the left join.
        // Row-set equivalence: comp's c_id is unique (CC groupBy), and
        // restricting a left join's right side to keys present on the
        // left changes nothing. The pair frame is collision-shaped —
        // bounded in expectation, not hard-bounded under band skew —
        // so the broadcasts ride the PairGuard cap like the streaming
        // probes do; past the cap the original planner-choice join runs.
        // The scored (post-agreement) match pairs are materialized once
        // and counted by the same job — read twice below (cluster-lookup
        // key set + the left join).
        val (scored, bcOk) = graft.streaming.PairGuard.checkpointAndDecide(
          cand.join(Lsh.prefixed(batchSig, "b_id", "b"), "b_id")
            .join(Lsh.prefixed(corpusSig, "c_id", "c"), "c_id")
            .where(Lsh.agreement("b", "c") >= 0.5)
            .select(col("b_id"), col("c_id")),
          "q190:scored")
        val matchedPairs = (if (bcOk) {
            val hits = comp.join(
              broadcast(scored.select("c_id").distinct()),
              Seq("c_id"), "left_semi")
            scored.join(broadcast(hits), Seq("c_id"), "left")
          } else scored.join(comp, Seq("c_id"), "left"))
          .select(col("b_id"),
            coalesce(col("canonical"), col("c_id")).as("ccan"))
          .withColumn("msplit", splitOf(col("ccan")))
        val att = matchedPairs.groupBy(col("b_id"))
          .agg(min(col("ccan")).as("attach"),
            countDistinct(col("msplit")).as("nsp"))
          .withColumnRenamed("b_id", "doc_id")
        docs.where(col("doc_id") % 5 === 0).select(col("doc_id"))
          // att is ≤ the batch's doc count (one row per matched batch
          // doc) — hard-bounded, so the assignment join broadcasts it
          .join(broadcast(att), Seq("doc_id"), "left")
          .select(col("doc_id"), col("attach").isNotNull.as("matched"),
            splitOf(coalesce(col("attach"), col("doc_id"))).as("split"),
            splitOf(col("doc_id")).as("own"),
            coalesce(col("nsp"), lit(0L)).as("nsp"))
          .groupBy(col("split"), col("matched"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("split") =!= col("own"), 1L).otherwise(0L))
              .as("n_overridden"),
            sum(when(col("nsp") > 1, 1L).otherwise(0L)).as("n_conflicted"))
      },
      Some {
        val sigExprs = MinHashCoeffs.zipWithIndex.map { case ((a, b), j) =>
          s"list_min(list_transform(H, h -> (h * $a + $b) % $MinHashP)) AS h$j"
        }.mkString(", ")
        def agree(l: String, r: String) =
          s"""(CASE WHEN $l.h0 = $r.h0 THEN 1 ELSE 0 END +
             |  CASE WHEN $l.h1 = $r.h1 THEN 1 ELSE 0 END +
             |  CASE WHEN $l.h2 = $r.h2 THEN 1 ELSE 0 END +
             |  CASE WHEN $l.h3 = $r.h3 THEN 1 ELSE 0 END) / 4.0 >= 0.5""".stripMargin
        def sp(x: String) =
          s"CASE WHEN ${tokHashSql(s"CAST($x AS VARCHAR)")} % 10 < 9 " +
            "THEN 'train' ELSE 'test' END"
        s"""WITH RECURSIVE t AS (SELECT doc_id, $toksSql AS T FROM documents),
           |hh AS (SELECT doc_id, list_transform(list_distinct(${shinglesSql("T")}), s -> ${tokHashSql("s")}) AS H FROM t),
           |sg AS (SELECT doc_id, $sigExprs FROM hh WHERE len(H) > 0),
           |bd AS (
           |  SELECT doc_id, 0 AS band, h0 AS x, h1 AS y FROM sg
           |  UNION ALL SELECT doc_id, 1, h2, h3 FROM sg),
           |ccand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |          FROM bd a JOIN bd b
           |            ON a.band = b.band AND a.x = b.x AND a.y = b.y
           |               AND a.doc_id < b.doc_id
           |          WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 <> 0),
           |cp AS (SELECT a_id, b_id FROM ccand
           |       JOIN sg sa ON sa.doc_id = a_id
           |       JOIN sg sb ON sb.doc_id = b_id
           |       WHERE ${agree("sa", "sb")}),
           |sym AS (SELECT a_id AS src, b_id AS dst FROM cp
           |        UNION SELECT b_id, a_id FROM cp),
           |reach(id, r) AS (
           |  SELECT src, src FROM sym
           |  UNION
           |  SELECT sym.dst, reach.r FROM reach JOIN sym ON sym.src = reach.id),
           |comp AS (SELECT id AS c_id, min(r) AS canonical FROM reach GROUP BY 1),
           |bcand AS (SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
           |          FROM bd b JOIN bd c
           |            ON b.band = c.band AND b.x = c.x AND b.y = c.y
           |          WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0),
           |bdup AS (SELECT b_id, coalesce(comp.canonical, bcand.c_id) AS ccan
           |         FROM bcand
           |         JOIN sg sb ON sb.doc_id = b_id
           |         JOIN sg sc ON sc.doc_id = bcand.c_id
           |         LEFT JOIN comp ON comp.c_id = bcand.c_id
           |         WHERE ${agree("sb", "sc")}),
           |att AS (SELECT b_id AS doc_id, min(ccan) AS attach,
           |          count(DISTINCT ${sp("ccan")}) AS nsp
           |        FROM bdup GROUP BY 1),
           |lab AS (SELECT d.doc_id, att.attach IS NOT NULL AS matched,
           |          ${sp("coalesce(att.attach, d.doc_id)")} AS split,
           |          ${sp("d.doc_id")} AS own,
           |          coalesce(att.nsp, 0) AS nsp
           |        FROM documents d LEFT JOIN att USING (doc_id)
           |        WHERE d.doc_id % 5 = 0)
           |SELECT split, matched, count(*) AS n_docs,
           |       CAST(sum(CASE WHEN split <> own THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_overridden,
           |       CAST(sum(CASE WHEN nsp > 1 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_conflicted
           |FROM lab GROUP BY 1, 2""".stripMargin
      },
      "online split assignment: batch docs inherit their LSH-matched corpus cluster's split; measured overrides and conflicts"),

    // REPETITION ALLOCATION under a token budget — the
    // data-constrained scaling recipe: when the corpus is smaller
    // than the training budget, REPEAT data instead of lowering the
    // bar, preferring high-quality docs for the extra epochs (top
    // type-token-ratio quintile ×4, next ×2, rest ×1), then fill the
    // budget best-first with the repeat-weighted token mass (q108's
    // running-window discipline — the cumulative sum and the decile
    // share one window ordering, so the plan pays ONE sort exchange).
    // Every output number is an integer; the only float is the 6dp
    // TTR ordering key, a single IEEE division both engines compute
    // identically. Scale note: the global ntile/running-sum is the
    // operator's honest semantic (a budget is global); at 100 TB the
    // same allocation runs per-source under the q167/q108 partition
    // discipline and the window shuffles by source instead.
    "q191_repeat_allocation" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val B = 50000L
        val T = tokens(col("text"))
        val w = Window.orderBy(col("ttr").desc, col("doc_id").asc)
        val wcum = Window.orderBy(col("ttr").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        documents(s, d)
          .select(col("doc_id"), size(T).cast("long").as("n_toks"),
            size(array_distinct(T)).cast("long").as("n_types"))
          .where(col("n_toks") > 0)
          .withColumn("ttr",
            round(col("n_types").cast("double") / col("n_toks"), 6))
          .withColumn("dc", ntile(10).over(w))
          .withColumn("repeats",
            when(col("dc") <= 2, 4L).when(col("dc") <= 4, 2L).otherwise(1L))
          .withColumn("cum", sum(col("repeats") * col("n_toks")).over(wcum))
          .where(col("cum") <= B)
          .groupBy(col("repeats"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("raw_toks"),
            sum(col("repeats") * col("n_toks")).as("eff_toks"))
      },
      Some(s"""WITH b AS (SELECT doc_id,
              |    CAST(len(T) AS BIGINT) AS n_toks,
              |    CAST(len(list_distinct(T)) AS BIGINT) AS n_types
              |  FROM (SELECT doc_id, $toksSql AS T FROM documents) t0
              |  WHERE len(T) > 0),
              |r AS (SELECT doc_id, n_toks,
              |        round(CAST(n_types AS DOUBLE) / n_toks, 6) AS ttr
              |      FROM b),
              |dd AS (SELECT doc_id, n_toks, ttr,
              |         ntile(10) OVER (ORDER BY ttr DESC, doc_id ASC) AS dc
              |       FROM r),
              |rp AS (SELECT doc_id, n_toks, ttr,
              |         CASE WHEN dc <= 2 THEN 4 WHEN dc <= 4 THEN 2
              |              ELSE 1 END AS repeats
              |       FROM dd),
              |cm AS (SELECT doc_id, n_toks, repeats,
              |         sum(repeats * n_toks) OVER (ORDER BY ttr DESC,
              |           doc_id ASC ROWS UNBOUNDED PRECEDING) AS cum
              |       FROM rp)
              |SELECT CAST(repeats AS BIGINT) AS repeats,
              |       count(*) AS n_docs,
              |       CAST(sum(n_toks) AS BIGINT) AS raw_toks,
              |       CAST(sum(repeats * n_toks) AS BIGINT) AS eff_toks
              |FROM cm WHERE cum <= 50000 GROUP BY 1""".stripMargin),
      "repetition allocation under a token budget: quality-quintile repeat factors, best-first budget fill"),

    // CROSS-SOURCE OVERLAP MATRIX — the CCNet/dump-dedup diagnostic:
    // which source pairs duplicate each other, and how much? Web
    // corpora assemble from dumps/sources that overlap heavily
    // (re-crawls, mirrors, syndication); before picking a dedup ORDER
    // (which source's copy survives) a pipeline audits the pairwise
    // overlap mass. Pairs come from the SAME banded MinHash machinery
    // as the dedup itself (q28's bandPairs — candidates meet in band
    // buckets, never all-pairs), so the audit costs one extra
    // source-attribution join + a #sources²-bounded aggregate. The
    // attribution side is a 2-column (doc_id, source) projection of
    // the WHOLE corpus — NOT broadcast (at 10^10 docs that hint is a
    // driver OOM); the pair side hash-joins on doc_id and AQE may
    // still broadcast the PAIR side when it is the small one. At
    // 100 TB the attribution projection would be a bucketed table so
    // both joins co-locate without an exchange. Source pairs are
    // normalized (src_a ≤ src_b, doc sides swapped to match) so each
    // unordered pair is ONE matrix row; n_docs_a/b count the distinct
    // docs involved per side — mass vs spread (many pairs from few
    // docs = a few hub dups; many docs = systemic overlap).
    "q193_source_overlap" -> Q(
      (s, d) => sourceOverlapOf(
        bandPairs(s, d).select(col("a_id"), col("b_id")),
        documents(s, d).select(col("doc_id"), col("source"))),
      Some(s"""WITH ${bandPairsCtesSql()},
              |pp AS (SELECT a_id, b_id FROM p WHERE est_jaccard >= 0.5),
              |src AS (SELECT doc_id, source FROM documents),
              |j AS (SELECT least(sa.source, sb.source) AS src_a,
              |             greatest(sa.source, sb.source) AS src_b,
              |             CASE WHEN sa.source <= sb.source THEN a_id
              |                  ELSE b_id END AS da,
              |             CASE WHEN sa.source <= sb.source THEN b_id
              |                  ELSE a_id END AS db
              |      FROM pp JOIN src sa ON sa.doc_id = a_id
              |      JOIN src sb ON sb.doc_id = b_id)
              |SELECT src_a, src_b, count(*) AS n_pairs,
              |       CAST(count(DISTINCT da) AS BIGINT) AS n_docs_a,
              |       CAST(count(DISTINCT db) AS BIGINT) AS n_docs_b
              |FROM j GROUP BY 1, 2""".stripMargin),
      "cross-source overlap matrix: banded near-dup pairs attributed to normalized source pairs — the dump-dedup audit"),

    // CORPUS DATASHEET — the per-source data card every released
    // training set ships (Datasheets for Datasets / the Pile paper's
    // per-component tables): docs, token mass, quality level, exact-dup
    // mass, short-doc mass, benchmark membership. One corpus pass
    // computes every per-doc ingredient (content key, token stats,
    // 6dp type-token ratio), ONE hash exchange on the content key
    // resolves keep-first exact dups (min doc_id per key — the q23
    // rule), and the output is a #sources-row aggregate. The TTR mean
    // goes through a DECIMAL(20,6) sum before one IEEE division
    // (order-independent, engine-exact); empty-token docs are excluded
    // from the mean (count(ttr) denominator) but counted as short.
    "q194_corpus_datasheet" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = documents(s, d)
          .withColumn("key", contentKey(col("text")))
          .withColumn("T", tokens(col("text")))
          .withColumn("n_toks", size(col("T")).cast("long"))
          .withColumn("n_types", size(array_distinct(col("T"))).cast("long"))
          .withColumn("ttr", when(col("n_toks") > 0L,
            round(col("n_types").cast("double") / col("n_toks"), 6)))
          .withColumn("mn",
            min(col("doc_id")).over(Window.partitionBy(col("key"))))
        base.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_toks_total"),
          round(sum(col("ttr").cast("decimal(20,6)")).cast("double") /
            count(col("ttr")), 6).as("mean_ttr"),
          sum(when(col("doc_id") > col("mn"), 1L).otherwise(0L))
            .as("n_exact_dup"),
          sum(when(col("n_toks") < 40L, 1L).otherwise(0L)).as("n_short"),
          sum(when(col("doc_id") % 29 === 0, 1L).otherwise(0L)).as("n_bench"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source, text, $toksSql AS T
              |          FROM documents),
              |b AS (SELECT doc_id, source, md5(text) AS key,
              |        CAST(len(T) AS BIGINT) AS n_toks,
              |        CAST(len(list_distinct(T)) AS BIGINT) AS n_types
              |      FROM t),
              |r AS (SELECT doc_id, source, key, n_toks,
              |        CASE WHEN n_toks > 0
              |             THEN round(CAST(n_types AS DOUBLE) / n_toks, 6)
              |        END AS ttr,
              |        min(doc_id) OVER (PARTITION BY key) AS mn
              |      FROM b)
              |SELECT source, count(*) AS n_docs,
              |  CAST(sum(n_toks) AS BIGINT) AS n_toks_total,
              |  round(CAST(sum(CAST(ttr AS DECIMAL(20,6))) AS DOUBLE)
              |        / count(ttr), 6) AS mean_ttr,
              |  CAST(sum(CASE WHEN doc_id > mn THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_exact_dup,
              |  CAST(sum(CASE WHEN n_toks < 40 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_short,
              |  CAST(sum(CASE WHEN doc_id % 29 = 0 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_bench
              |FROM r GROUP BY 1""".stripMargin),
      "corpus datasheet: per-source docs / token mass / mean TTR / exact-dup / short / bench counts in one pass"),

    // q194's ONLINE face: the data card served from the MAINTAINED
    // curate store. The per-batch manifests (doc_id, source, n_toks,
    // status — written LAST per ingest as the commit marker) already
    // ARE the datasheet's rows for everything that flowed through the
    // pipeline, so the card is one aggregate over the stored manifest
    // entity: per (source, status) doc and token-mass counts. The
    // corpus is never rescanned and no per-doc work repeats — at
    // 100 TB the datasheet of a month of ingest costs a scan of the
    // manifest rows (one small projection per ingested doc), not of
    // the corpus. Scenario = q144's two-micro-batch program, kept on
    // its OWN store root and re-landed per invocation — q196 is the
    // query that BILLS the scenario's fixture cost in the bench, while
    // q203/q204/q206/q209 serve from the shared memoized store
    // (curateScenarioRoot) and measure exactly their serve paths. The
    // oracle replays both curate phases (the shared CTE chain) and
    // aggregates the manifest union the same way.
    "q196_datasheet_online" -> Q(
      (s, d) => {
        import graft.streaming.CurateStream
        val root = graft.Temps.dirFor(s"datasheet-online-$d")
        val docs = documents(s, d)
        CurateStream.bootstrap(docs.where(col("doc_id") % 5 =!= 0), root)
        CurateStream.ingestBatch(docs.where(col("doc_id") % 10 === 0), root)
        CurateStream.ingestBatch(docs.where(col("doc_id") % 10 === 5), root)
        graft.sinks.Layout.readStatic(s, root, CurateStream.ManifestEntity)
          .get
          .groupBy(col("source"), col("status"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_toks_total"))
      },
      Some(s"""WITH $curateStreamCtesSql,
              |man AS (SELECT source, n_toks, status FROM m1
              |        UNION ALL SELECT source, n_toks, status FROM m2)
              |SELECT source, status, count(*) AS n_docs,
              |       CAST(sum(n_toks) AS BIGINT) AS n_toks_total
              |FROM man GROUP BY 1, 2""".stripMargin),
      "online datasheet: per-(source, status) doc/token card aggregated from the stored curate manifest — no corpus rescan"),

    // TOKENIZER FERTILITY per source — the standard tokenizer-quality
    // audit (symbols emitted per word; multilingual/tokenizer papers
    // report it per language/source to expose under-served sources):
    // learn the q186 merge table, apply it to a word dict WITH
    // identity, and join the corpus against the dict. The shape is
    // the scale point: per-word fold work happens ONCE per distinct
    // word in the vocab-bounded dict (never per occurrence), and the
    // corpus pays one token explode + one dict equi-join — the same
    // posting-shaped join as BM25 scoring. Words outside the learner's
    // charter ([a-z]+, len ≥ 2) count as one symbol each (the fold
    // never touches them), via the left join's coalesce. The oracle
    // replays the merge chain (shared bpeChainSql m1–m4), folds the
    // rules over its own identity dict, and re-joins — fertility is
    // an exact-integer ratio through one IEEE division at 6dp.
    "q197_tokenizer_fertility" -> Q(
      (s, d) => {
        val docs = documents(s, d)
        val (merges, _) = bpeLearnOf(docs, 4)
        var dict = docs.select(explode(tokens(col("text"))).as("w"))
          .where(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
          .distinct()
          .select(col("w"),
            filter(split(col("w"), ""), x => length(x) > 0).as("syms"))
        merges.foreach { case (_, a, b, _) =>
          dict = dict.select(col("w"),
            bpeApplyMerge(col("syms"), a, b).as("syms"))
        }
        val dictN = dict
          .select(col("w"), size(col("syms")).cast("long").as("n_syms"))
          .localCheckpoint() // vocab-bounded; the corpus joins it once
        docs.select(col("source"), explode(tokens(col("text"))).as("w"))
          .join(broadcast(dictN), Seq("w"), "left")
          .select(col("source"), coalesce(col("n_syms"), lit(1L)).as("ns"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("ns")).as("n_symbols"))
          .withColumn("fertility", round(
            col("n_symbols").cast("double") / col("n_words"), 6))
      },
      Some {
        def wFold(i: Int): String =
          s"""wd$i AS (SELECT w, list_reduce(list_transform(syms, x -> [x]),
             |          (acc, x) -> CASE WHEN acc[-1] = a AND x[1] = b
             |            THEN list_append(acc[1:len(acc)-1], ab)
             |            ELSE list_append(acc, x[1]) END) AS syms
             |        FROM wd${i - 1} CROSS JOIN m$i)""".stripMargin
        s"""$bpeChainSql,
           |wd0 AS (SELECT w, string_split(w, '') AS syms
           |        FROM (SELECT DISTINCT w FROM toks
           |              WHERE regexp_matches(w, '^[a-z]+${"$"}')
           |                AND len(w) >= 2) z),
           |${wFold(1)},
           |${wFold(2)},
           |${wFold(3)},
           |${wFold(4)},
           |tk AS (SELECT source, unnest($toksSql) AS w FROM documents),
           |ns AS (SELECT tk.source,
           |         coalesce(len(wd4.syms), 1) AS ns
           |       FROM tk LEFT JOIN wd4 USING (w))
           |SELECT source, count(*) AS n_words,
           |       CAST(sum(ns) AS BIGINT) AS n_symbols,
           |       round(CAST(sum(ns) AS DOUBLE) / count(*), 6) AS fertility
           |FROM ns GROUP BY 1""".stripMargin
      },
      "tokenizer fertility per source: learned merges folded once over the identity dict, corpus pays one posting-shaped join"),

    // INTRA-DOCUMENT REPETITION — the Gopher-rules repetition filter
    // (Rae et al.: duplicate-n-gram fraction and top-n-gram mass are
    // the strongest single quality signals for scraped text; loopy
    // boilerplate and listicles repeat internally long before they
    // duplicate across docs, so the cross-doc layers never see them).
    // Two signals per doc: the fraction of trigram OCCURRENCES that
    // are repeats of an earlier trigram in the same doc
    // ((n_tri − n_distinct)/n_tri), and the mass of the single most
    // frequent bigram (max count / n_bi) — both exact-integer ratios
    // at 6dp, thresholds 0.2 documented as the flag rule (the knob a
    // deployment tunes; the fractions ship so retuning needs no
    // recompute). Shape: two n-gram explodes + hash-partitioned
    // per-(doc, gram) and per-doc aggregates — linear in corpus
    // tokens, the same explode discipline the shingle layer already
    // pays; no joins beyond the two tiny per-doc stat frames meeting
    // on doc_id.
    "q198_intra_repetition" -> Q(
      (s, d) => {
        val docs = documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("T"))
          .where(size(col("T")) >= 3)
        val tri = docs.select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("T")) - 2),
            i => concat_ws(" ", element_at(col("T"), i),
              element_at(col("T"), i + 1), element_at(col("T"), i + 2))))
            .as("g"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tri"),
            countDistinct(col("g")).as("n_dist_tri"))
        val bi = docs.select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("T")) - 1),
            i => concat_ws(" ", element_at(col("T"), i),
              element_at(col("T"), i + 1)))).as("g"))
          .groupBy(col("doc_id"), col("g"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_bi"), max(col("c")).as("top_bi"))
        tri.join(bi, Seq("doc_id"))
          .select(col("doc_id"),
            round((col("n_tri") - col("n_dist_tri")).cast("double") /
              col("n_tri"), 6).as("dup_tri_frac"),
            round(col("top_bi").cast("double") / col("n_bi"), 6)
              .as("top_bi_frac"))
          .withColumn("flagged",
            col("dup_tri_frac") > 0.2 || col("top_bi_frac") > 0.2)
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS T FROM documents),
              |d AS (SELECT doc_id, T FROM t WHERE len(T) >= 3),
              |tri AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
              |          CAST(count(DISTINCT g) AS BIGINT) AS n_dist_tri
              |        FROM (SELECT doc_id,
              |                unnest(list_transform(range(1, len(T) - 1),
              |                  i -> T[i] || ' ' || T[i+1] || ' ' || T[i+2])) AS g
              |              FROM d) z GROUP BY 1),
              |bic AS (SELECT doc_id, g, count(*) AS c
              |        FROM (SELECT doc_id,
              |                unnest(list_transform(range(1, len(T)),
              |                  i -> T[i] || ' ' || T[i+1])) AS g
              |              FROM d) z GROUP BY 1, 2),
              |bi AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bi,
              |         CAST(max(c) AS BIGINT) AS top_bi
              |       FROM bic GROUP BY 1)
              |SELECT tri.doc_id,
              |  round(CAST(n_tri - n_dist_tri AS DOUBLE) / n_tri, 6)
              |    AS dup_tri_frac,
              |  round(CAST(top_bi AS DOUBLE) / n_bi, 6) AS top_bi_frac,
              |  (round(CAST(n_tri - n_dist_tri AS DOUBLE) / n_tri, 6)
              |     > CAST(0.2 AS DOUBLE)
              |   OR round(CAST(top_bi AS DOUBLE) / n_bi, 6)
              |     > CAST(0.2 AS DOUBLE)) AS flagged
              |FROM tri JOIN bi USING (doc_id)""".stripMargin),
      "Gopher-rules intra-doc repetition: duplicate-trigram fraction + top-bigram mass, exact-integer ratios at 6dp"),

    // SOURCE-PRECEDENCE DEDUP POLICY — when near-dups cluster, WHICH
    // copy survives is a policy, not an accident: keep-first-id
    // (q101/q141's rule) is arbitrary across sources, while real
    // pipelines keep the copy from the most-trusted source (CCNet
    // keeps the best-perplexity dump; curated editions beat crawls).
    // Winner per q101 cluster = lowest source index (src0 most
    // trusted — the deterministic stand-in for a configured
    // precedence list), doc_id tiebreak. `rescued` marks winners the
    // id-rule would have dropped — the measurable effect of the
    // policy. Cost over q101: one per-cluster window (same partition
    // key the cluster-size agg already uses) — the clustering itself
    // is reused, never recomputed per policy change.
    "q199_precedence_dedup" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val pairs = bandPairs(s, d)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val comp = graft.analytics.GraphOps.connectedComponents(pairs)
          .toDF("doc_id", "canonical")
        val assigned = documents(s, d)
          .select(col("doc_id"), col("source"),
            substring(col("source"), 4, 10).cast("int").as("prio"))
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"), col("prio"),
            coalesce(col("canonical"), col("doc_id")).as("canonical"))
        val byCluster = Window.partitionBy(col("canonical"))
        val w = byCluster.orderBy(col("prio").asc, col("doc_id").asc)
        assigned
          .withColumn("rn", row_number().over(w))
          .withColumn("min_id", min(col("doc_id")).over(byCluster))
          .withColumn("winner_id", min(when(col("rn") === 1, col("doc_id")))
            .over(byCluster))
          .select(col("doc_id"), col("source"), col("canonical"),
            col("winner_id"),
            (col("doc_id") === col("winner_id")).as("kept"),
            (col("doc_id") === col("winner_id") &&
              col("doc_id") =!= col("min_id")).as("rescued"))
      },
      Some(s"""WITH RECURSIVE ${bandPairsCtesSql()},
              |pairs AS (SELECT a_id, b_id FROM p WHERE est_jaccard >= 0.5),
              |sym AS (SELECT a_id AS src, b_id AS dst FROM pairs
              |        UNION SELECT b_id, a_id FROM pairs),
              |reach(id, r) AS (
              |  SELECT src, src FROM sym
              |  UNION
              |  SELECT sym.dst, reach.r FROM reach JOIN sym ON sym.src = reach.id),
              |comp AS (SELECT id AS doc_id, min(r) AS canonical FROM reach GROUP BY 1),
              |assigned AS (
              |  SELECT d.doc_id, d.source,
              |         CAST(substr(d.source, 4) AS INT) AS prio,
              |         coalesce(c.canonical, d.doc_id) AS canonical
              |  FROM documents d LEFT JOIN comp c USING (doc_id)),
              |rk AS (SELECT doc_id, source, canonical,
              |         row_number() OVER (PARTITION BY canonical
              |           ORDER BY prio ASC, doc_id ASC) AS rn,
              |         min(doc_id) OVER (PARTITION BY canonical) AS min_id
              |       FROM assigned),
              |win AS (SELECT canonical, doc_id AS winner_id FROM rk WHERE rn = 1)
              |SELECT rk.doc_id, rk.source, rk.canonical, win.winner_id,
              |       rk.doc_id = win.winner_id AS kept,
              |       (rk.doc_id = win.winner_id AND rk.doc_id <> rk.min_id)
              |         AS rescued
              |FROM rk JOIN win USING (canonical)""".stripMargin),
      "source-precedence dedup: cluster winners by configured source trust, not lowest id — rescued rows measure the policy"),

    // EXPORT CERTIFICATION — the release checksum: did a re-export /
    // replica / downstream copy land IDENTICAL rows? Per shard of
    // the q168 training manifest: row count, token mass, and a
    // BIT-XOR checksum of the 60-bit row fingerprint
    // tokenHashWide(doc_id:seq:n_toks). XOR is the scale-right fold:
    // order- and partition-independent (no global sort, no single
    // reducer, no overflow — unlike a modular SUM it needs no
    // wide-decimal carry), so the certificate distributes and two
    // exports compare by #shards tiny rows. The fingerprint covers
    // the doc's identity AND its position AND its token count, so a
    // swapped order, a dropped doc, or a re-tokenization all flip
    // the checksum. The oracle replays the full curate → budget →
    // shard/order chain and folds the same XOR.
    "q200_export_checksum" -> Q(
      (s, d) => exportCert(s, d, CurateTokenBudget),
      Some(exportCertSql(CurateTokenBudget)),
      "export certification: per-shard row count, token mass and order-independent XOR fingerprint of the training manifest"),

    // EXPORT DIFF — the certificate's point of use: compare TWO
    // exports by their 8 certificate rows instead of their rows.
    // Export A is the q200 manifest (budget 800); export B is the
    // same pipeline at budget 780 — a truncated re-export, the
    // classic "replica built from a slightly different config"
    // incident. The diff joins the two certificates on shard and
    // flags mismatches: a shard whose checksum differs localizes the
    // divergence (B's missing tail docs shift seq for NOTHING — the
    // within-shard order is a prefix, so only shards that lost docs
    // flip), and n_docs/sum_toks deltas say how much. At 100 TB the
    // compare costs #shards row compares; the two certificates cost
    // one pass each over their manifests.
    "q208_export_diff" -> Q(
      (s, d) => {
        // both budget legs certify the SAME packed manifest — build the
        // curation chain once, checkpoint the (tiny) packed frame, and
        // derive the two certificates from it (the chain is the cost;
        // each certificate is a shard-count-sized window + aggregate)
        val packed = curateStages(s, d).last._2
          .select(col("doc_id"), col("source"), col("n_toks"),
            col("cum_toks"))
          .localCheckpoint()
        val a = exportCertOf(packed, CurateTokenBudget)
          .toDF("shard", "n_docs_a", "toks_a", "sum_a")
        val b = exportCertOf(packed, CurateTokenBudget - 20L)
          .toDF("shard", "n_docs_b", "toks_b", "sum_b")
        // full-outer rewritten as union + max-aggregate (the q162/q173
        // discipline: BHJ is unsupported for full outer, so the planner
        // sort-merged two shard-count-sized certificate frames). shard
        // is UNIQUE within each leg (exportCertOf groups by shard), so
        // each fused group holds <=1 a-row and <=1 b-row and max
        // recovers exactly the full-outer's columns — null when the
        // leg is absent; the coalesce defaults below are unchanged.
        val nl = lit(null).cast("long")
        a.select(col("shard"), col("n_docs_a"), col("toks_a"), col("sum_a"),
            nl.as("n_docs_b"), nl.as("toks_b"), nl.as("sum_b"))
          .unionAll(b.select(col("shard"), nl.as("n_docs_a"),
            nl.as("toks_a"), nl.as("sum_a"),
            col("n_docs_b"), col("toks_b"), col("sum_b")))
          .groupBy(col("shard"))
          .agg(max(col("n_docs_a")).as("n_docs_a"),
            max(col("toks_a")).as("toks_a"),
            max(col("sum_a")).as("sum_a"),
            max(col("n_docs_b")).as("n_docs_b"),
            max(col("toks_b")).as("toks_b"),
            max(col("sum_b")).as("sum_b"))
          .select(col("shard"),
            coalesce(col("n_docs_a"), lit(0L)).as("n_docs_a"),
            coalesce(col("n_docs_b"), lit(0L)).as("n_docs_b"),
            (coalesce(col("toks_a"), lit(0L)) -
              coalesce(col("toks_b"), lit(0L))).as("d_toks"),
            (coalesce(col("sum_a"), lit(-1L)) ===
              coalesce(col("sum_b"), lit(-1L))).as("cksum_match"))
      },
      Some {
        val a = exportCertSql(CurateTokenBudget)
        val b = exportCertSql(CurateTokenBudget - 20L)
        s"""WITH ca AS ($a), cb AS ($b)
           |SELECT coalesce(ca.shard, cb.shard) AS shard,
           |       coalesce(ca.n_docs, 0) AS n_docs_a,
           |       coalesce(cb.n_docs, 0) AS n_docs_b,
           |       coalesce(ca.sum_toks, 0) - coalesce(cb.sum_toks, 0)
           |         AS d_toks,
           |       coalesce(ca.checksum, -1) = coalesce(cb.checksum, -1)
           |         AS cksum_match
           |FROM ca FULL OUTER JOIN cb ON ca.shard = cb.shard""".stripMargin
      },
      "export diff: two training exports compared by their per-shard certificates — #shards row compares localize the divergence"),

    // ONLINE CERTIFICATE — q200's release checksum maintained
    // INCREMENTALLY by the curate stream: each ingest lands one
    // immutable delta row per shard (count, token mass, XOR of the
    // membership fingerprint tokenHashWide(doc_id:n_toks), and — the
    // r12 position face — XOR of tokenHashWide(doc_id:seq:n_toks)
    // with seq the per-shard ARRIVAL RANK from stored prior counts)
    // and the served certificate is a tiny fold over the deltas —
    // XOR and sum are associative + commutative, so maintained ≡
    // from-scratch by algebra, and this query PINS it: it runs
    // q196's two-micro-batch scenario with the cert layer armed,
    // reads the served certificate, recomputes BOTH faces from the
    // stored lex_dl entity (membership directly; position via the
    // (phase, doc_id) window that reproduces arrival order), and
    // emits per-shard equality. At 100 TB certifying a month of
    // ingest costs a scan of #batches × 8 delta rows, not of the
    // corpus. The oracle replays bootstrap ∪ kept₁ ∪ kept₂ with
    // phase-ordered seq and folds both XORs itself — consistent
    // must come out TRUE row for row.
    "q203_cert_online" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.streaming.CurateStream
        val root = curateScenarioRoot(s, d) // shared fixture; q196 bills the build
        val served = CurateStream.certificate(s, root).get
        val h = graft.functions.EvmExprs.tokenHash(col("doc_id").cast("string"))
        val fp = graft.functions.EvmExprs.tokenHashWide(concat(
          col("doc_id").cast("string"), lit(":"), col("dl").cast("string")))
        // the POSITION face: seq = per-shard arrival rank. Arrival
        // order in the scenario is (bootstrap, batch 1, batch 2) with
        // within-batch rank by doc_id, so the recompute re-derives it
        // as a (phase, doc_id) window over the stored kept lengths —
        // phases from the scenario's residue rules (the oracle replays
        // the same), ranks from the same window the ingest used.
        val phase = when(col("doc_id") % 5 =!= 0, lit(0))
          .when(col("doc_id") % 10 === 0, lit(1)).otherwise(lit(2))
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("phase"), col("doc_id"))
        val fps = graft.functions.EvmExprs.tokenHashWide(concat(
          col("doc_id").cast("string"), lit(":"), col("seq").cast("string"),
          lit(":"), col("dl").cast("string")))
        val recomputed = graft.sinks.Layout
          .readStatic(s, root, CurateStream.DlEntity).get
          .withColumn("shard", pmod(h, lit(CurateStream.CertShards.toLong)))
          .withColumn("phase", phase)
          .withColumn("seq", row_number().over(w).cast("long") - 1L)
          .withColumn("fp", fp)
          .withColumn("fps", fps)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("r_docs"), sum(col("dl")).as("r_toks"),
            expr("bit_xor(fp)").as("r_sum"),
            expr("bit_xor(fps)").as("r_seq"))
        served.join(recomputed, Seq("shard"))
          .select(col("shard"), col("n_docs"), col("sum_toks"),
            col("checksum"), col("seq_checksum"),
            (col("n_docs") === col("r_docs") &&
              col("sum_toks") === col("r_toks") &&
              col("checksum") === col("r_sum") &&
              col("seq_checksum") === col("r_seq")).as("consistent"))
      },
      Some(s"""WITH $curateStreamCtesSql,
              |allk AS (SELECT 0 AS phase, doc_id FROM idx1
              |         UNION ALL SELECT 1, doc_id FROM kept1
              |         UNION ALL SELECT 2, doc_id FROM kept2),
              |cf AS (SELECT k.phase, k.doc_id, q.n_toks,
              |         ${tokHashSql("CAST(k.doc_id AS VARCHAR)")} %
              |           ${graft.streaming.CurateStream.CertShards} AS shard,
              |         ${tokHashWideSql("CAST(k.doc_id AS VARCHAR) || ':' || CAST(q.n_toks AS VARCHAR)")} AS fp
              |       FROM allk k JOIN q USING (doc_id)),
              |sq AS (SELECT *, row_number() OVER (PARTITION BY shard
              |         ORDER BY phase, doc_id) - 1 AS seq FROM cf),
              |sf AS (SELECT shard, n_toks, fp,
              |         ${tokHashWideSql("CAST(doc_id AS VARCHAR) || ':' || CAST(seq AS VARCHAR) || ':' || CAST(n_toks AS VARCHAR)")} AS fps
              |       FROM sq)
              |SELECT shard, count(*) AS n_docs,
              |       CAST(sum(n_toks) AS BIGINT) AS sum_toks,
              |       bit_xor(fp) AS checksum, bit_xor(fps) AS seq_checksum,
              |       TRUE AS consistent
              |FROM sf GROUP BY 1""".stripMargin),
      "online export certificate: per-batch XOR deltas folded into the served membership AND position checksums, pinned equal to the from-scratch recompute"),

    // INGEST DRIFT from the certificate deltas — the ops-dashboard
    // number a curation operator trends per batch: "did this batch's
    // kept docs look different?" The cert entity already stores one
    // immutable (bkey, shard, n_docs, sum_toks, xor) row per
    // (batch × shard), so per-batch doc counts, token mass, mean kept
    // length and its ratio to the store-wide mean are ONE aggregate
    // over ≤ #batches × 8 stored rows — zero new storage, the corpus
    // never rescanned, pure serve from the shared scenario store. The
    // ratio is computed in doubles from the exact integer totals
    // (products cast to double BEFORE multiplying so no overflow at
    // 10^15-token batches), rounded once. bkey doubles as the batch
    // identity (XOR over shards of per-shard XORs = XOR of the
    // batch's widened fingerprints — associativity), which the oracle
    // replays per phase from the scenario's kept sets.
    "q213_ingest_drift" -> Q(
      (s, d) => {
        import graft.streaming.CurateStream
        val root = curateScenarioRoot(s, d) // shared fixture; q196 bills the build
        val cert = graft.sinks.Layout
          .readStatic(s, root, CurateStream.CertEntity).get
        val perBatch = cert.groupBy(col("bkey"))
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("sum_toks")).as("sum_toks"))
        val store = perBatch.agg(sum(col("n_docs")).as("s_docs"),
          sum(col("sum_toks")).as("s_toks"))
        perBatch.crossJoin(broadcast(store))
          .select(col("bkey"), col("n_docs"), col("sum_toks"),
            round(col("sum_toks").cast("double") /
              col("n_docs").cast("double"), 6).as("mean_len"),
            round((col("sum_toks").cast("double") *
              col("s_docs").cast("double")) /
              (col("n_docs").cast("double") *
                col("s_toks").cast("double")), 6).as("rel_len"))
      },
      Some(s"""WITH $curateStreamCtesSql,
              |ph AS (SELECT 'b0' AS phase, doc_id FROM idx1
              |       UNION ALL SELECT 'b1', doc_id FROM kept1
              |       UNION ALL SELECT 'b2', doc_id FROM kept2),
              |fp AS (SELECT ph.phase, k.doc_id, k.n_toks,
              |         ${tokHashWideSql("CAST(k.doc_id AS VARCHAR) || ':' || CAST(k.n_toks AS VARCHAR)")} AS fp
              |       FROM ph JOIN q k USING (doc_id)),
              |pb AS (SELECT bit_xor(fp) AS bkey,
              |         count(*) AS n_docs,
              |         CAST(sum(n_toks) AS BIGINT) AS sum_toks
              |       FROM fp GROUP BY phase),
              |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS s_docs,
              |          CAST(sum(sum_toks) AS BIGINT) AS s_toks FROM pb)
              |SELECT bkey, CAST(n_docs AS BIGINT) AS n_docs, sum_toks,
              |       round(CAST(sum_toks AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
              |         AS mean_len,
              |       round((CAST(sum_toks AS DOUBLE) * CAST(s_docs AS DOUBLE)) /
              |             (CAST(n_docs AS DOUBLE) * CAST(s_toks AS DOUBLE)), 6)
              |         AS rel_len
              |FROM pb CROSS JOIN tot""".stripMargin),
      "per-batch ingest drift served from the certificate deltas: kept docs, token mass, mean length and its store-relative ratio — one scan of ≤ #batches×8 stored rows"),

    // SERVED VOCABULARY AUDIT — the corpus-level token census
    // (vocabulary size, total token mass, heavy-hitter terms with
    // document frequency) answered from the MAINTAINED lex_postings
    // index, never from the corpus: the postings rows (t, doc_id, tf)
    // already ARE the census's raw material, so the audit is two
    // aggregates over the index — one global (vocab_size, n_tokens),
    // one per-term for the top-10 by total tf. This is the maintained
    // EXACT face of the census ladder: q128 measured the
    // exact-vs-HLL swap on a per-query recompute, q156 bounds heavy
    // hitters with a CMS sketch — here the ingest already paid for
    // the postings, so exactness is free at serve time. The per-term
    // frame is VOCAB-bounded (the top-10 window sorts terms, not
    // corpus rows); the 1-row census frame rides the sanctioned
    // stats-crossJoin shape. Scenario = q196's two-micro-batch
    // program with the lex layer armed; the oracle rebuilds postings
    // from its replayed kept set (bootstrap ∪ kept₁ ∪ kept₂).
    "q204_vocab_served" -> Q(
      (s, d) => {
        import graft.streaming.CurateStream
        val root = curateScenarioRoot(s, d) // shared fixture; q196 bills the build
        val po = graft.sinks.Layout
          .readStatic(s, root, CurateStream.PostingsEntity).get
        val census = po.agg(countDistinct(col("t")).as("vocab_size"),
          sum(col("tf")).as("n_tokens"))
        Pairs.topK(po.groupBy(col("t"))
            .agg(sum(col("tf")).as("tf_total"), count(lit(1)).as("df")),
          Nil, Seq(col("tf_total").desc, col("t").asc), 10).drop("rn")
          .crossJoin(broadcast(census))
      },
      Some(s"""WITH $curateStreamCtesSql,
              |allk AS (SELECT doc_id FROM idx1
              |         UNION ALL SELECT doc_id FROM kept1
              |         UNION ALL SELECT doc_id FROM kept2),
              |pk AS (SELECT tt.doc_id, unnest(tt.T) AS t
              |       FROM t tt SEMI JOIN allk USING (doc_id)),
              |po AS (SELECT t, doc_id, CAST(count(*) AS BIGINT) AS tf
              |       FROM pk GROUP BY 1, 2),
              |census AS (SELECT CAST(count(DISTINCT t) AS BIGINT)
              |             AS vocab_size,
              |           CAST(sum(tf) AS BIGINT) AS n_tokens FROM po),
              |tt2 AS (SELECT t, CAST(sum(tf) AS BIGINT) AS tf_total,
              |          CAST(count(*) AS BIGINT) AS df
              |        FROM po GROUP BY 1),
              |rk AS (SELECT t, tf_total, df, row_number()
              |         OVER (ORDER BY tf_total DESC, t ASC) AS rn
              |       FROM tt2)
              |SELECT t, tf_total, df, vocab_size, n_tokens
              |FROM rk CROSS JOIN census WHERE rn <= 10""".stripMargin),
      "served vocabulary audit: vocab size, token mass and heavy-hitter terms aggregated from the maintained postings index — no corpus rescan"),

    // SERVED OVERLAP AUDIT — the residual near-dup mass of the
    // MAINTAINED store, from its own bands index: first-arrival-wins
    // ingest leaves band-colliding kept pairs behind (bootstrap keeps
    // everything; later arrivals only dedup against what's stored),
    // and this is the q193 cross-source matrix over exactly those
    // survivors — the health metric an operator watches to decide a
    // retro-dedup pass. The signature arithmetic is NEVER recomputed:
    // the audit reads 4 longs/doc from curate_bands (the index the
    // ingest already maintains), self-joins its 2×2 band projection,
    // and confirms at the same ≥ 0.5 agreement the gate uses; the
    // only corpus touch is a 2-column (doc_id, source) metadata
    // projection for attribution. Scenario = q196's two-micro-batch
    // program; the oracle replays the kept set and re-derives the
    // signatures it stored.
    "q206_overlap_served" -> Q(
      (s, d) => {
        import graft.streaming.CurateStream
        val root = curateScenarioRoot(s, d) // shared fixture; q196 bills the build
        val docs = documents(s, d)
        val sig = graft.sinks.Layout
          .readStatic(s, root, CurateStream.BandsEntity).get
          .localCheckpoint() // read 4×: two band legs + two agree legs
        val agree = residualPairsOf(sig)
        // Attribution side = the WHOLE corpus's (doc_id, source)
        // projection — never broadcast it (q193's rationale); the
        // residual-pair side is the small one and AQE may broadcast
        // THAT at runtime if its post-filter size allows.
        val srcs = docs.select(col("doc_id"), col("source"))
        agree
          .join(srcs.toDF("a_id", "src_x"), Seq("a_id"))
          .join(srcs.toDF("b_id", "src_y"), Seq("b_id"))
          .select(
            least(col("src_x"), col("src_y")).as("src_a"),
            greatest(col("src_x"), col("src_y")).as("src_b"),
            when(col("src_x") <= col("src_y"), col("a_id"))
              .otherwise(col("b_id")).as("da"),
            when(col("src_x") <= col("src_y"), col("b_id"))
              .otherwise(col("a_id")).as("db"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("da")).as("n_docs_a"),
            countDistinct(col("db")).as("n_docs_b"))
      },
      Some(s"""WITH $curateStreamCtesSql,
              |$residualPairsCtesSql,
              |src AS (SELECT doc_id, source FROM documents),
              |j AS (SELECT least(sa.source, sb.source) AS src_a,
              |             greatest(sa.source, sb.source) AS src_b,
              |             CASE WHEN sa.source <= sb.source THEN a_id
              |                  ELSE b_id END AS da,
              |             CASE WHEN sa.source <= sb.source THEN b_id
              |                  ELSE a_id END AS db
              |      FROM pr JOIN src sa ON sa.doc_id = a_id
              |      JOIN src sb ON sb.doc_id = b_id)
              |SELECT src_a, src_b, count(*) AS n_pairs,
              |       CAST(count(DISTINCT da) AS BIGINT) AS n_docs_a,
              |       CAST(count(DISTINCT db) AS BIGINT) AS n_docs_b
              |FROM j GROUP BY 1, 2""".stripMargin),
      "served overlap audit: residual near-dup mass of the kept store from its own bands index — signatures never recomputed"),

    // RETRO-DEDUP PASS — the ACTION q206's audit schedules: resolve
    // the store's residual near-dup clusters into a delete list.
    // Pairs come from the stored bands index (q206's derivation,
    // signatures never recomputed), connected components give each
    // cluster its canonical id (the q101 machinery), and the
    // survivor is picked by SOURCE PRECEDENCE (q199's policy — the
    // configured trust order, not lowest id). Output is one row per
    // clustered doc: its cluster, the policy winner, and the delete
    // flag a K4-style upsert would consume. Everything after the
    // pair join is cluster-bounded: CC iterates on pair rows, the
    // precedence window partitions by cluster — the corpus appears
    // only as the 2-column source projection.
    "q209_retro_dedup" -> Q(
      (s, d) => {
        import graft.streaming.CurateStream
        import org.apache.spark.sql.expressions.Window
        val root = curateScenarioRoot(s, d) // shared fixture; q196 bills the build
        val docs = documents(s, d)
        val sig = graft.sinks.Layout
          .readStatic(s, root, CurateStream.BandsEntity).get
          .localCheckpoint() // read 4×: two band legs + two agree legs
        val pairs = residualPairsOf(sig)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val comp = graft.analytics.GraphOps.connectedComponents(pairs)
          .toDF("doc_id", "canonical")
        val byCluster = Window.partitionBy(col("canonical"))
        // Broadcast the CLUSTER-BOUNDED side (comp: one row per doc
        // that sits in a residual cluster), never the corpus-wide
        // attribution projection — the clustered fraction shrinks as
        // the store grows while the corpus projection only grows.
        broadcast(comp)
          .join(docs.select(col("doc_id"), col("source"),
            substring(col("source"), 4, 10).cast("int").as("prio")),
            Seq("doc_id"))
          .withColumn("rn", row_number().over(byCluster
            .orderBy(col("prio").asc, col("doc_id").asc)))
          .withColumn("winner_id", min(when(col("rn") === 1, col("doc_id")))
            .over(byCluster))
          .select(col("doc_id"), col("source"), col("canonical"),
            col("winner_id"),
            (col("doc_id") =!= col("winner_id")).as("delete"))
      },
      Some(s"""WITH RECURSIVE $curateStreamCtesSql,
              |$residualPairsCtesSql,
              |sym AS (SELECT a_id AS src, b_id AS dst FROM pr
              |        UNION SELECT b_id, a_id FROM pr),
              |reach(id, r) AS (
              |  SELECT src, src FROM sym
              |  UNION
              |  SELECT sym.dst, reach.r FROM reach JOIN sym ON sym.src = reach.id),
              |comp AS (SELECT id AS doc_id, min(r) AS canonical
              |         FROM reach GROUP BY 1),
              |aug AS (SELECT c.doc_id, d.source,
              |          CAST(substr(d.source, 4) AS INT) AS prio, c.canonical
              |        FROM comp c JOIN documents d USING (doc_id)),
              |rk AS (SELECT doc_id, source, canonical,
              |         row_number() OVER (PARTITION BY canonical
              |           ORDER BY prio ASC, doc_id ASC) AS rn
              |       FROM aug),
              |win AS (SELECT canonical, doc_id AS winner_id
              |        FROM rk WHERE rn = 1)
              |SELECT rk.doc_id, rk.source, rk.canonical, win.winner_id,
              |       rk.doc_id <> win.winner_id AS delete
              |FROM rk JOIN win USING (canonical)""".stripMargin),
      "retro-dedup action list: stored residual clusters resolved to source-precedence winners + delete flags — the q206 audit's follow-through"),

    // SOURCE DIVERGENCE — pairwise distance between per-source
    // unigram distributions: the mixture-design audit ("are two
    // sources redundant? did a dump drift?"). The distance is TOTAL
    // VARIATION, ½·Σ|p − q|, not KL — TV is additive in exact
    // per-token terms (the repo's no-transcendental discipline; KL's
    // log would put an engine-dependent transcendental in every
    // term) and bounded in [0,1]. The missing-token mass needs no
    // outer join: Σ|p−q| = Σ_shared|p−q| + (1−Σ_shared p) +
    // (1−Σ_shared q), so the INNER token join plus the shared-mass
    // terms carry the whole metric. Every term is computed from the
    // INTEGER counts, never from pre-rounded probabilities (the r10
    // advice: a 6dp-rounded p column leaves Σp ≠ 1, and that residual
    // lands directly in the identity — worst case ~vocab·5e-7, enough
    // to push tv outside [0,1] at a large vocabulary):
    // |ct_a/n_a − ct_b/n_b| = |ct_a·n_b − ct_b·n_a| / (n_a·n_b), so
    // Σ_shared |…| is an exact integer DECIMAL sum (operands cast to
    // DECIMAL(15,0) so the product width 30 sits well inside both
    // engines' 38-digit cap while holding n ≤ 10^15 tokens/source —
    // a petabyte of text), the two missing-mass terms are
    // (n − Σ_shared ct)/n over exact longs,
    // and rounding happens ONCE on the final tv. Scale shape:
    // distributions are VOCAB-bounded posting aggregates; the pair
    // join is vocab × |sources|² — never corpus × corpus.
    "q207_source_divergence" -> Q(
      (s, d) => {
        val tk = documents(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("t"))
          .localCheckpoint() // read 2×: counts + totals
        val cnt = tk.groupBy(col("source"), col("t"))
          .agg(count(lit(1)).as("ct"))
        val tot = tk.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val dist = cnt.join(broadcast(tot), Seq("source"))
          .select(col("source"), col("t"), col("ct"), col("n"))
          .localCheckpoint() // both legs of the pair join
        val dec = "decimal(15,0)"
        dist.toDF("src_a", "t", "ct_a", "n_a")
          .join(dist.toDF("src_b", "t", "ct_b", "n_b"), Seq("t"))
          .where(col("src_a") < col("src_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_shared"),
            sum(abs(col("ct_a").cast(dec) * col("n_b").cast(dec) -
              col("ct_b").cast(dec) * col("n_a").cast(dec))).as("s1"),
            sum(col("ct_a")).as("sca"), sum(col("ct_b")).as("scb"),
            first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
          .select(col("src_a"), col("src_b"), col("n_shared"),
            round((col("s1").cast("double") /
                (col("n_a").cast("double") * col("n_b").cast("double")) +
              (col("n_a") - col("sca")).cast("double") /
                col("n_a").cast("double") +
              (col("n_b") - col("scb")).cast("double") /
                col("n_b").cast("double")) * lit(0.5), 6).as("tv"))
      },
      Some(s"""WITH tk AS (SELECT source, unnest($toksSql) AS t
              |           FROM documents),
              |cnt AS (SELECT source, t, CAST(count(*) AS BIGINT) AS ct
              |        FROM tk GROUP BY 1, 2),
              |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n
              |        FROM tk GROUP BY 1),
              |dist AS (SELECT source, t, ct, n
              |         FROM cnt JOIN tot USING (source)),
              |pr AS (SELECT a.source AS src_a, b.source AS src_b,
              |         a.ct AS ct_a, a.n AS n_a, b.ct AS ct_b, b.n AS n_b
              |       FROM dist a JOIN dist b USING (t)
              |       WHERE a.source < b.source)
              |SELECT src_a, src_b, count(*) AS n_shared,
              |       round((CAST(sum(abs(CAST(ct_a AS DECIMAL(15,0))
              |                 * CAST(n_b AS DECIMAL(15,0))
              |               - CAST(ct_b AS DECIMAL(15,0))
              |                 * CAST(n_a AS DECIMAL(15,0)))) AS DOUBLE)
              |           / (CAST(any_value(n_a) AS DOUBLE)
              |              * CAST(any_value(n_b) AS DOUBLE))
              |         + CAST(any_value(n_a) - sum(ct_a) AS DOUBLE)
              |           / CAST(any_value(n_a) AS DOUBLE)
              |         + CAST(any_value(n_b) - sum(ct_b) AS DOUBLE)
              |           / CAST(any_value(n_b) AS DOUBLE)) * 0.5, 6)
              |         AS tv
              |FROM pr GROUP BY 1, 2""".stripMargin),
      "pairwise source divergence: total-variation distance between per-source unigram distributions — exact integer-count identity, vocab-bounded, no transcendentals"))
}

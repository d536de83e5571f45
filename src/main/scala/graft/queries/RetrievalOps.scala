package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Pairs, SimSearch}
import Tables._

/** Sparse lexical retrieval over the documents table — the query-side
  * face of the text stack (decontamination, dedup triage and eval-set
  * mining all want "which corpus docs score highest for this query").
  *
  * Scorer: BM25's shape with the repo's cross-engine determinism
  * discipline — the log in the idf is replaced by its RATIONAL
  * argument, idf_r = (N − df + 0.5)/(df + 0.5) (monotone in the
  * classic idf, so per-term orderings agree; documented surrogate,
  * exact in IEEE given integer inputs), tf normalization is the
  * standard k1/b form evaluated in a fixed operation order, every
  * per-term factor is 6-dp rounded before the product, and the
  * per-document sum runs over DECIMAL(30,15) (order-independent —
  * 6-dp terms are exact in it), cast back and rounded. Both engines
  * replay the identical IEEE sequence, so the scores hash-match.
  *
  * Scale shape: the scoring join is query-term postings — each query
  * term meets only the documents containing it (equi-join on term),
  * never query × corpus; df/dl/avgdl are one aggregation pass each,
  * and the per-query top-k is a bounded window. At 100 TB the posting
  * join IS the inverted-index plan (bucket the term column for
  * co-located postings). */
object RetrievalOps {

  val K1 = 1.2
  val B = 0.75

  /** The surrogate-BM25 top-k pipeline (see object doc) — shared by
    * the lexical query (q157) and the hybrid fusion (q162). Queries =
    * token sets of docs 0–4; self-matches are legitimate and rank
    * highly (though tf saturation + length normalization can put a
    * longer superset doc above the source itself). Returns
    * (q_id, rn, doc_id, score). */
  private[queries] def bm25TopK(s: SparkSession, d: String, k: Int): DataFrame = {
    val docs = documents(s, d)
    val toks = docs.select(col("doc_id"),
        explode(graft.ops.TextAnalysis.tokens(col("text"))).as("t"))
      .localCheckpoint() // read three ways: tf, df, query terms
    val tf = toks.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(col("doc_id"), col("t")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
        round(sum(col("dl")).cast("double") / count(lit(1)), 6).as("avgdl"))
    val qterms = toks.where(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("t")).distinct()
    // literal discipline: every float constant is the double nearest
    // its decimal string on BOTH engines (Spark lit(2.2) ≡ DuckDB
    // CAST(2.2 AS DOUBLE)); operation order written identically
    val idf = round((col("n_docs").cast("double") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)), 6)
    val tfn = round((col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6)
    // broadcast the query-term frame (bounded by the 5 query docs'
    // vocabulary; stats-less off the checkpointed token frame): the
    // posting-shaped tf side streams instead of shuffling by term.
    // dl stays on planner choice — it is doc-count-sized (corpus-scale
    // at 100 TB), the one join here with no bounded side.
    Pairs.topK(broadcast(qterms).join(tf, Seq("t"))
        .join(broadcast(dfreq), Seq("t"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("q_id"), col("doc_id"),
          round(idf * tfn, 6).as("term_score"))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(round(sum(col("term_score").cast("decimal(30,15)"))
          .cast("double"), 6).as("score")),
      Seq(col("q_id")), Seq(col("score").desc, col("doc_id").asc), k)
      .select(col("q_id"), col("rn"), col("doc_id"), col("score"))
  }

  /** [[bm25TopK]] served from the MAINTAINED lexical inverted index
    * (CurateStream's `lex_postings`/`lex_dl` entities) instead of
    * re-tokenizing the corpus: tf comes from the stored posting lists
    * (query-term equi-join — the only slice of the store any query
    * touches), df is the counted row-cardinality of that same fetched
    * slice (stored-implicitly: a term's df IS its posting-list length,
    * so no mutable per-batch value ever needs upserting), dl/n_docs/
    * avgdl come from the stored `lex_dl` (one doc-count-sized
    * aggregate). Identical constants, rounding points and decimal sum
    * as [[bm25TopK]], so on the same corpus the served scores
    * hash-match the recomputed ones bit-for-bit — only the query
    * docs' own token sets are computed at query time.
    *
    * Scale shape: the corpus is NEVER rescanned — the plan reads the
    * posting slice for the query's terms (at 100 TB: bucket postings
    * by `t` for a pruned fetch), the dl store (slim: 16 bytes/doc),
    * and nothing else. This closes the one non-index leg the r9
    * hybrid (q173) had left. */
  private[queries] def bm25ServedTopK(s: SparkSession, d: String,
      root: String, k: Int): DataFrame = {
    import graft.sinks.Layout
    import graft.streaming.CurateStream
    val post = Layout.readStatic(s, root, CurateStream.PostingsEntity)
      .getOrElse(throw new IllegalStateException(s"no $root postings"))
    val dl = Layout.readStatic(s, root, CurateStream.DlEntity)
      .getOrElse(throw new IllegalStateException(s"no $root lex_dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      round(sum(col("dl")).cast("double") / count(lit(1)), 6).as("avgdl"))
    val qterms = documents(s, d).where(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"),
        explode(graft.ops.TextAnalysis.tokens(col("text"))).as("t"))
      .distinct()
      .localCheckpoint() // tiny; read as broadcast probe + scoring join
    // ONE fetch of the query-term posting slice, shared by the tf join
    // and the df count (a second read would rescan the store). The
    // term set is collected and pushed as a literal In-filter so it
    // reaches the parquet scan as a row-group predicate (PushedFilters
    // — with the store range-sorted by `t` at compaction, each file
    // owns a term range and min/max stats skip the rest; the
    // directory-partitioned analog at 10^2-bucket scale prunes whole
    // files). Degenerate huge query vocabularies fall back to the
    // broadcast semi-join, which is the same slice without pushdown.
    val termSeq = qterms.select("t").distinct()
      .collect().map(_.getString(0)).sorted
    val slice = (if (termSeq.length <= 1000)
        post.where(col("t").isin(termSeq.toIndexedSeq: _*))
      else post.join(broadcast(qterms.select("t").distinct()),
        Seq("t"), "left_semi"))
      .localCheckpoint()
    val dfreq = slice.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val idf = round((col("n_docs").cast("double") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)), 6)
    val tfn = round((col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6)
    // broadcast the query-term frame (bounded by the query docs'
    // vocabulary — the same bound that sanctioned its collect into the
    // In-filter above): the fetched posting slice streams instead of
    // shuffling by term. dl stays on planner choice (doc-count-sized).
    Pairs.topK(broadcast(qterms).join(slice, Seq("t"))
        .join(broadcast(dfreq), Seq("t"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("q_id"), col("doc_id"),
          round(idf * tfn, 6).as("term_score"))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(round(sum(col("term_score").cast("decimal(30,15)"))
          .cast("double"), 6).as("score")),
      Seq(col("q_id")), Seq(col("score").desc, col("doc_id").asc), k)
      .select(col("q_id"), col("rn"), col("doc_id"), col("score"))
  }

  /** Oracle CTE chain ending in `rk(q_id, doc_id, score, rn)` — the
    * SQL replay of [[bm25TopK]], shared by the q157 and q162 oracles. */
  private def bm25CtesSql: String = {
    val toksSql = TextOps.toksSql
    s"""tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
       |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
       |       FROM tk GROUP BY 1, 2),
       |dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df
       |          FROM (SELECT DISTINCT doc_id, t FROM tk) GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       |       FROM tk GROUP BY 1),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |            round(CAST(sum(dl) AS DOUBLE) / count(*), 6) AS avgdl
       |          FROM dl),
       |qterms AS (SELECT DISTINCT doc_id AS q_id, t FROM tk WHERE doc_id < 5),
       |scored AS (SELECT q.q_id, tf.doc_id,
       |             round(
       |               round((CAST(s.n_docs AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
       |                     (CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)), 6) *
       |               round((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
       |                     (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) / s.avgdl)), 6),
       |             6) AS term_score
       |           FROM qterms q
       |           JOIN tf ON tf.t = q.t
       |           JOIN dfreq ON dfreq.t = q.t
       |           JOIN dl ON dl.doc_id = tf.doc_id
       |           CROSS JOIN stats s),
       |agg AS (SELECT q_id, doc_id,
       |          round(CAST(sum(CAST(term_score AS DECIMAL(30,15))) AS DOUBLE), 6) AS score
       |        FROM scored GROUP BY 1, 2),
       |rk AS (SELECT q_id, doc_id, score,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY score DESC, doc_id ASC) AS rn
       |       FROM agg)""".stripMargin
  }

  /** DuckDB sequential-fold dot product (1-indexed) — [[VectorOps]]'s
    * discipline, local copy for the dense-leg oracle. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      "(acc, x) -> acc + x)"

  private def cosSql(a: String, b: String): String =
    s"round(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})), 6)"

  /** q195/q201's shared bigram transition-score chain: per doc, the
    * mean add-1-smoothed conditional p = (c(w1,w2)+1)/(c(w1)+V) over
    * its transitions — integer counts, one IEEE division 6dp-rounded
    * per position, DECIMAL(30,15) sum, one full-precision division
    * (q164's determinism argument). Returns (doc_id, source,
    * n_bigrams, mean_p2). Scale shape: bigrams come from one
    * zip_with pass over the token array (no window, no per-doc
    * sort); the model tables are posting-shaped groupBys; the
    * scoring join is the bigram equi-join — never doc × vocab², only
    * OBSERVED bigrams have rows. */
  private def bigramDocScores(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val bi = docs
      .select(col("doc_id"), col("source"),
        graft.ops.TextAnalysis.tokens(col("text")).as("T"))
      .where(size(col("T")) >= 2)
      .select(col("doc_id"), col("source"), explode(zip_with(
        slice(col("T"), lit(1), size(col("T")) - 1),
        slice(col("T"), lit(2), size(col("T")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("b"))
      .select(col("doc_id"), col("source"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint() // read 3×: bigram model, context model, scoring
    val c12 = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = docs
      .select(explode(graft.ops.TextAnalysis.tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t")).as("vocab"))
    bi.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("source"), round(
        (col("c12") + 1L).cast("double") / (col("c1") + col("vocab")), 6)
        .as("p"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("p").cast("decimal(30,15)")).cast("double") /
          count(lit(1))).as("mean_p2"))
  }

  /** DuckDB CTE chain mirroring [[bigramDocScores]] — terminal CTE
    * `bsc (doc_id, source, n_bigrams, mean_p2)`. */
  private def bigramScoreCtesSql: String = {
    val toksSql = TextOps.toksSql
    s"""t AS (SELECT doc_id, source, $toksSql AS T FROM documents),
       |bi AS (SELECT doc_id, source, T[i] AS w1, T[i + 1] AS w2
       |       FROM (SELECT doc_id, source, T, unnest(range(1, len(T))) AS i
       |             FROM t WHERE len(T) >= 2)),
       |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |        FROM bi GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
       |       FROM bi GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
       |      FROM (SELECT unnest(T) AS tok FROM t)),
       |sc AS (SELECT bi.doc_id, bi.source,
       |         round(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + v.vocab), 6) AS p
       |       FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
       |       CROSS JOIN v),
       |bsc AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_bigrams,
       |          CAST(sum(CAST(p AS DECIMAL(30,15))) AS DOUBLE)
       |            / count(*) AS mean_p2
       |        FROM sc GROUP BY 1, 2)""".stripMargin
  }

  def defs: Map[String, Q] = Map(
    // five queries = the token sets of docs 0–4; rank the whole corpus
    // by the surrogate-BM25 score, top-5 per query (self-matches are
    // legitimate and rank first — retrieval finding the query's own
    // source is the sanity case).
    "q157_bm25_topk" -> Q(
      (s, d) => bm25TopK(s, d, 5),
      Some(s"""WITH $bm25CtesSql
              |SELECT q_id, rn, doc_id, score FROM rk WHERE rn <= 5""".stripMargin),
      "surrogate-BM25 lexical top-k: query-term posting joins, decimal-summed 6-dp term scores, bounded per-query window"),

    // q157 SERVED FROM THE MAINTAINED INVERTED INDEX: the posting
    // lists land as stored entities in two incremental phases (even
    // docs, then the full corpus — the second upsert's anti-join
    // no-ops the already-landed half, exercising exactly the
    // per-batch maintenance path), and the query reads ONLY the
    // stored slice for its terms. Same constants, rounding points and
    // decimal sum as q157 over identical stored counts, so the served
    // scores hash-match the recomputed ones — the oracle replays
    // ingest (documents → postings/lex_dl) → df-from-posting-length →
    // scoring end to end.
    "q175_bm25_served" -> Q(
      (s, d) => {
        import graft.streaming.CurateStream
        val root = graft.Temps.dirFor(s"bm25-idx-$d")
        val docs = documents(s, d)
        CurateStream.upsertLex(docs.where(col("doc_id") % 2 === 0), root)
        CurateStream.upsertLex(docs, root)
        bm25ServedTopK(s, d, root, 5)
      },
      Some {
        val toksSql = TextOps.toksSql
        s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
           |postings AS (SELECT t, doc_id, CAST(count(*) AS BIGINT) AS tf
           |             FROM tk GROUP BY 1, 2),
           |lex_dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
           |           FROM tk GROUP BY 1),
           |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |            round(CAST(sum(dl) AS DOUBLE) / count(*), 6) AS avgdl
           |          FROM lex_dl),
           |dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df
           |          FROM postings GROUP BY 1),
           |qterms AS (SELECT DISTINCT doc_id AS q_id, t FROM tk WHERE doc_id < 5),
           |scored AS (SELECT q.q_id, p.doc_id,
           |             round(
           |               round((CAST(s.n_docs AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
           |                     (CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)), 6) *
           |               round((CAST(p.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
           |                     (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) / s.avgdl)), 6),
           |             6) AS term_score
           |           FROM qterms q
           |           JOIN postings p ON p.t = q.t
           |           JOIN dfreq ON dfreq.t = q.t
           |           JOIN lex_dl dl ON dl.doc_id = p.doc_id
           |           CROSS JOIN stats s),
           |agg AS (SELECT q_id, doc_id,
           |          round(CAST(sum(CAST(term_score AS DECIMAL(30,15))) AS DOUBLE), 6) AS score
           |        FROM scored GROUP BY 1, 2),
           |rk AS (SELECT q_id, doc_id, score,
           |         row_number() OVER (PARTITION BY q_id
           |           ORDER BY score DESC, doc_id ASC) AS rn
           |       FROM agg)
           |SELECT q_id, rn, doc_id, score FROM rk WHERE rn <= 5""".stripMargin
      },
      "BM25 served from the stored inverted index: two-phase incremental posting upserts, query-term slice fetch, df as posting-list length — scores hash-match the q157 recompute"),

    // Hybrid retrieval: reciprocal-rank fusion (Cormack et al., SIGIR
    // 2009) of the lexical BM25 list and the dense cosine list for
    // the same five queries (doc_id ≡ vec_id in the testdata). RRF is
    // rank-only — rrf = Σ_lists 1/(60 + rank) — so it needs no score
    // calibration between the legs, which is exactly why it's the
    // production default for hybrid search. Scale shape: each leg is
    // its own bounded top-k plan (posting equi-joins; broadcast query
    // side), fusion is a k-row-per-query outer join + window — the
    // corpus is never touched again.
    "q162_rrf_fusion" -> Q(
      (s, d) => {
        val lex = bm25TopK(s, d, 5)
          .select(col("q_id"), col("doc_id"), col("rn").as("lex_rn"))
        val dense = SimSearch.bruteForceTopK(
            embeddings(s, d).where(col("vec_id") < 5), embeddings(s, d),
            "vec_id", "embedding", k = 5)
          .select(col("q_id"), col("c_id").as("doc_id"), col("rn").as("dense_rn"))
        // the full-outer fusion join rewritten as union + max-aggregate:
        // broadcast hash join is NOT supported for full outer (the hint
        // is silently dropped and the planner sort-merges — 2 Exchange +
        // 2 Sort for two ≤5-rows-per-query frames), while the union
        // aggregates map-side into one Exchange and no Sort. Row-set
        // equivalence: (q_id, doc_id) is UNIQUE within each leg (both
        // come out of per-q_id top-k windows over distinct doc_ids), so
        // each fused group holds ≤1 lex row and ≤1 dense row and
        // max(rn) recovers exactly the full-outer's lex_rn/dense_rn —
        // null when the leg is absent, the leg's rn otherwise; the rrf
        // arithmetic below is unchanged on identical inputs.
        Pairs.topK(lex.select(col("q_id"), col("doc_id"), col("lex_rn"),
              lit(null).cast("int").as("dense_rn"))
            .unionAll(dense.select(col("q_id"), col("doc_id"),
              lit(null).cast("int").as("lex_rn"), col("dense_rn")))
            .groupBy(col("q_id"), col("doc_id"))
            .agg(max(col("lex_rn")).as("lex_rn"),
              max(col("dense_rn")).as("dense_rn"))
            .select(col("q_id"), col("doc_id"),
              round(
                coalesce(lit(1.0) / (lit(60) + col("lex_rn")), lit(0.0)) +
                  coalesce(lit(1.0) / (lit(60) + col("dense_rn")), lit(0.0)), 6).as("rrf"),
              coalesce(col("lex_rn"), lit(0)).as("lex_rn"),
              coalesce(col("dense_rn"), lit(0)).as("dense_rn")),
          Seq(col("q_id")), Seq(col("rrf").desc, col("doc_id").asc), 5)
          .select(col("q_id"), col("rn"), col("doc_id"), col("rrf"),
            col("lex_rn"), col("dense_rn"))
      },
      Some(s"""WITH $bm25CtesSql,
              |lex AS (SELECT q_id, doc_id, rn AS lex_rn FROM rk WHERE rn <= 5),
              |e AS (SELECT vec_id, embedding AS v FROM embeddings),
              |dp AS (SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
              |         ${cosSql("q.v", "c.v")} AS cos
              |       FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
              |dense AS (SELECT q_id, doc_id, rn AS dense_rn FROM (
              |            SELECT q_id, doc_id, cos,
              |              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id ASC) AS rn
              |            FROM dp) WHERE rn <= 5),
              |fused AS (SELECT coalesce(l.q_id, de.q_id) AS q_id,
              |            coalesce(l.doc_id, de.doc_id) AS doc_id,
              |            round(
              |              coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rn), CAST(0.0 AS DOUBLE)) +
              |              coalesce(CAST(1.0 AS DOUBLE) / (60 + de.dense_rn), CAST(0.0 AS DOUBLE)), 6) AS rrf,
              |            coalesce(l.lex_rn, 0) AS lex_rn,
              |            coalesce(de.dense_rn, 0) AS dense_rn
              |          FROM lex l FULL OUTER JOIN dense de
              |            ON l.q_id = de.q_id AND l.doc_id = de.doc_id),
              |fr AS (SELECT q_id, doc_id, rrf, lex_rn, dense_rn,
              |         row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id ASC) AS rn
              |       FROM fused)
              |SELECT q_id, rn, doc_id, rrf, lex_rn, dense_rn FROM fr WHERE rn <= 5""".stripMargin),
      "reciprocal-rank fusion of the BM25 and dense-cosine lists: calibration-free hybrid top-k"),

    // q162's hybrid fusion with BOTH legs SERVED FROM MAINTAINED
    // INDEXES (RRF is rank-only, so fusion code never cares where a
    // leg's ranks come from): the dense leg is
    // [[SemanticStream.queryTopKSq]] over an index bootstrapped with
    // the SQ sidecar — probed cells scan as stored uint8 codes,
    // top-10 asymmetric prefilter, exact re-rank on candidates — and
    // the lexical leg is [[bm25ServedTopK]] over the stored
    // `lex_postings`/`lex_dl` inverted index (since round 10; the r9
    // leg re-tokenized the corpus per call). This is the ONLINE face
    // of hybrid search: neither leg rescans the corpus (stored
    // posting-slice equi-join + stored-index probe), and the oracle
    // replays both index builds → probes → fusion end to end.
    "q173_rrf_fusion_served" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"rrf-served-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb, root, withSq = true)
        graft.streaming.CurateStream.upsertLex(documents(s, d), root)
        val lex = bm25ServedTopK(s, d, root, 5)
          .select(col("q_id"), col("doc_id"), col("rn").as("lex_rn"))
        val dense = SemanticStream.queryTopKSq(
            emb.where(col("vec_id") < 5), root, topK = 5, prefilterC = 10)
          .select(col("q_id"), col("c_id").as("doc_id"),
            col("rn").as("dense_rn"))
        // full-outer fusion rewritten as union + max-aggregate (see
        // q162: BHJ is unsupported for full outer, so the planner
        // sort-merged two ≤5-rows-per-query frames; the union
        // aggregates map-side into one Exchange, no Sort). (q_id,
        // doc_id) is unique within each leg, so max over the ≤2-row
        // group reproduces the full-outer's columns exactly.
        Pairs.topK(lex.select(col("q_id"), col("doc_id"), col("lex_rn"),
              lit(null).cast("int").as("dense_rn"))
            .unionAll(dense.select(col("q_id"), col("doc_id"),
              lit(null).cast("int").as("lex_rn"), col("dense_rn")))
            .groupBy(col("q_id"), col("doc_id"))
            .agg(max(col("lex_rn")).as("lex_rn"),
              max(col("dense_rn")).as("dense_rn"))
            .select(col("q_id"), col("doc_id"),
              round(
                coalesce(lit(1.0) / (lit(60) + col("lex_rn")), lit(0.0)) +
                  coalesce(lit(1.0) / (lit(60) + col("dense_rn")), lit(0.0)), 6).as("rrf"),
              coalesce(col("lex_rn"), lit(0)).as("lex_rn"),
              coalesce(col("dense_rn"), lit(0)).as("dense_rn")),
          Seq(col("q_id")), Seq(col("rrf").desc, col("doc_id").asc), 5)
          .select(col("q_id"), col("rn"), col("doc_id"), col("rrf"),
            col("lex_rn"), col("dense_rn"))
      },
      Some {
        val recon = "(prm.mn[i] + CAST(cd.codes[i] AS DOUBLE) * prm.istep[i])"
        s"""WITH $bm25CtesSql,
           |lex AS (SELECT q_id, doc_id, rn AS lex_rn FROM rk WHERE rn <= 5),
           |e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |cent AS (SELECT vec_id AS cid, v AS cv FROM e
           |         ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
           |rt AS (SELECT e.vec_id, e.v, cid,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS crn
           |       FROM e CROSS JOIN cent),
           |cells AS (SELECT vec_id, v, cid AS cell FROM rt WHERE crn = 1),
           |exg AS (SELECT vec_id, unnest(range(1, len(v) + 1)) AS pos,
           |          unnest(v) AS x FROM e),
           |st AS (SELECT pos, min(CAST(x AS DOUBLE)) AS mn,
           |         max(CAST(x AS DOUBLE)) AS mx FROM exg GROUP BY 1),
           |prm AS (SELECT list(mn ORDER BY pos) AS mn,
           |          list(CASE WHEN mx > mn THEN CAST(255.0 AS DOUBLE) / (mx - mn)
           |               ELSE CAST(0.0 AS DOUBLE) END ORDER BY pos) AS sc,
           |          list(CASE WHEN mx > mn THEN (mx - mn) / CAST(255.0 AS DOUBLE)
           |               ELSE CAST(0.0 AS DOUBLE) END ORDER BY pos) AS istep
           |        FROM st),
           |cd AS (SELECT vec_id,
           |         list_transform(range(1, len(v) + 1),
           |           i -> CAST(round((CAST(v[i] AS DOUBLE) - prm.mn[i]) * prm.sc[i], 0) AS BIGINT)) AS codes
           |       FROM e CROSS JOIN prm),
           |pr AS (SELECT vec_id AS q_id, v AS qv, cid AS cell FROM rt
           |       WHERE vec_id < 5 AND crn <= ${SimSearch.IvfProbe}),
           |sc0 AS (SELECT pr.q_id, c.vec_id AS c_id,
           |          round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |            list_transform(range(1, len(pr.qv) + 1), i ->
           |              (CAST(pr.qv[i] AS DOUBLE) - $recon) *
           |              (CAST(pr.qv[i] AS DOUBLE) - $recon))),
           |            (acc, x) -> acc + x), 6) AS sdist
           |        FROM pr JOIN cells c USING (cell)
           |        JOIN cd ON cd.vec_id = c.vec_id
           |        CROSS JOIN prm
           |        WHERE pr.q_id <> c.vec_id),
           |pre AS (SELECT q_id, c_id FROM (
           |          SELECT q_id, c_id,
           |            row_number() OVER (PARTITION BY q_id ORDER BY sdist ASC, c_id ASC) AS prn
           |          FROM sc0) WHERE prn <= 10),
           |scx AS (SELECT p.q_id, p.c_id, ${cosSql("q.v", "c.v")} AS cos
           |        FROM pre p
           |        JOIN e q ON q.vec_id = p.q_id
           |        JOIN e c ON c.vec_id = p.c_id),
           |drk AS (SELECT q_id, c_id, cos,
           |          row_number() OVER (PARTITION BY q_id
           |            ORDER BY cos DESC, c_id) AS rn
           |        FROM scx),
           |dense AS (SELECT q_id, c_id AS doc_id, rn AS dense_rn
           |          FROM drk WHERE rn <= 5),
           |fused AS (SELECT coalesce(l.q_id, de.q_id) AS q_id,
           |            coalesce(l.doc_id, de.doc_id) AS doc_id,
           |            round(
           |              coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rn), CAST(0.0 AS DOUBLE)) +
           |              coalesce(CAST(1.0 AS DOUBLE) / (60 + de.dense_rn), CAST(0.0 AS DOUBLE)), 6) AS rrf,
           |            coalesce(l.lex_rn, 0) AS lex_rn,
           |            coalesce(de.dense_rn, 0) AS dense_rn
           |          FROM lex l FULL OUTER JOIN dense de
           |            ON l.q_id = de.q_id AND l.doc_id = de.doc_id),
           |fr AS (SELECT q_id, doc_id, rrf, lex_rn, dense_rn,
           |         row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id ASC) AS rn
           |       FROM fused)
           |SELECT q_id, rn, doc_id, rrf, lex_rn, dense_rn FROM fr WHERE rn <= 5""".stripMargin
      },
      "hybrid RRF with both legs served from maintained indexes (SQ dense probe + stored-postings BM25): rank-only fusion of two bounded online plans"),

    // Unigram-LM corpus scoring — the perplexity-filter shape (CCNet;
    // Wenzek et al. 2020) with the repo's no-transcendentals
    // discipline: a doc's score is its MEAN TOKEN PROBABILITY under
    // the corpus unigram model (monotone companion of perplexity's
    // mean log-prob; docs made of rare tokens score low and get
    // flagged). Scale shape: the model IS the token-count aggregate;
    // scoring is the token→count equi-join (posting-shaped, never
    // doc × vocab) + one per-doc aggregate.
    "q164_unigram_lm" -> Q(
      (s, d) => {
        val docs = documents(s, d)
        val toks = docs.select(col("doc_id"),
            explode(graft.ops.TextAnalysis.tokens(col("text"))).as("t"))
          .localCheckpoint() // read twice: model counts + scoring join
        val tot = toks.agg(count(lit(1)).as("n_total"))
        val cnt = toks.groupBy(col("t")).agg(count(lit(1)).as("ct"))
        toks.join(broadcast(cnt), Seq("t"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"),
            round(col("ct").cast("double") / col("n_total"), 6).as("p"))
          .groupBy(col("doc_id"))
          // mean_p stays at FULL double precision: the numerator is
          // decimal-exact and the division is one IEEE op on identical
          // inputs, so both engines emit the identical double — while a
          // final round(·, 6) can straddle a half-up boundary between
          // Spark's shortest-repr rounding and DuckDB's binary rounding
          // (one row at sf0.01 did exactly that)
          .agg(count(lit(1)).as("n_toks"),
            (sum(col("p").cast("decimal(30,15)")).cast("double") /
              count(lit(1))).as("mean_p"))
          // rank-relative flag (bottom decile), not an absolute
          // threshold: the corpus's probability band shifts with scale
          // and domain, the decile cut doesn't
          .withColumn("decile", ntile(10).over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("mean_p").asc, col("doc_id").asc)))
          .select(col("doc_id"), col("n_toks"), col("mean_p"), col("decile"),
            (col("decile") === 1).as("flagged"))
      },
      Some {
        val toksSql = TextOps.toksSql
        s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tk),
           |cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS ct FROM tk GROUP BY 1),
           |sc AS (SELECT tk.doc_id,
           |         round(CAST(cnt.ct AS DOUBLE) / tot.n_total, 6) AS p
           |       FROM tk JOIN cnt USING (t) CROSS JOIN tot),
           |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           |          CAST(sum(CAST(p AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS mean_p
           |        FROM sc GROUP BY 1),
           |dec AS (SELECT doc_id, n_toks, mean_p,
           |          ntile(10) OVER (ORDER BY mean_p ASC, doc_id ASC) AS decile
           |        FROM agg)
           |SELECT doc_id, n_toks, mean_p, decile,
           |       decile = 1 AS flagged
           |FROM dec""".stripMargin
      },
      "unigram-LM mean-token-probability scoring: the perplexity-filter shape without transcendentals"),

    // BIGRAM-LM transition scoring — q164's conditional upgrade and
    // the reason pipelines run n-gram LMs at all: word salad has
    // plausible UNIGRAMS but improbable TRANSITIONS, so the quality
    // signal is P(w_i | w_{i-1}), not P(w_i). Same no-transcendental
    // discipline as q164: per-position add-1-smoothed conditional
    // p = (c(w1,w2)+1)/(c(w1)+V) — integer counts, ONE IEEE division,
    // 6dp — then the doc mean through a DECIMAL(30,15) sum and one
    // division at full precision, decile-ranked (rank-relative flag,
    // q164's reasoning). Bigrams come from one pass over the token
    // array (zip_with of the two slices — no window, no per-doc
    // sort); the model tables are posting-shaped groupBys and the
    // scoring join is the same shape the corpus already pays for
    // BM25 — never all-pairs, vocab² never materialized (only
    // OBSERVED bigrams have rows).
    "q195_bigram_lm" -> Q(
      (s, d) =>
        bigramDocScores(s, d)
          .withColumn("decile", ntile(10).over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("mean_p2").asc, col("doc_id").asc)))
          .select(col("doc_id"), col("n_bigrams"), col("mean_p2"),
            col("decile"), (col("decile") === 1).as("flagged")),
      Some(
        s"""WITH $bigramScoreCtesSql,
           |dec AS (SELECT doc_id, n_bigrams, mean_p2,
           |          ntile(10) OVER (ORDER BY mean_p2 ASC, doc_id ASC) AS decile
           |        FROM bsc)
           |SELECT doc_id, n_bigrams, mean_p2, decile,
           |       decile = 1 AS flagged
           |FROM dec""".stripMargin),
      "bigram-LM transition-probability scoring: add-1-smoothed conditionals, the n-gram quality filter without transcendentals"),

    // PERPLEXITY BUCKETS — CCNet's head/middle/tail banding: per
    // SOURCE, split docs into probability tertiles under the learned
    // LM (here q195's bigram transition score — monotone inverse of
    // perplexity, same no-transcendental discipline), so each source
    // contributes its own best/typical/worst thirds and downstream
    // mixing can sample bands, not absolute thresholds that drift
    // with domain. The scale move: the tertile CUTOFFS come from a
    // histogram over the BOUNDED 6dp score domain (bucket =
    // floor(mean_p2·1e6), ≤1e6 cells/source), cumulated per source —
    // the corpus pays one aggregate, and the only sort is over the
    // score DOMAIN, never a per-source global sort of corpus rows
    // (ntile over 100 TB of docs would single-task each source).
    // Docs in the boundary bucket share its band (deterministic
    // tie-sharing; band sizes are n/3 ± boundary-bucket mass).
    "q201_perplexity_buckets" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val b = bigramDocScores(s, d)
          .withColumn("bucket",
            floor(col("mean_p2") * lit(1000000.0)).cast("long"))
          .localCheckpoint() // read 3×: histogram, per-source n, labeling
        val hist = b.groupBy(col("source"), col("bucket"))
          .agg(count(lit(1)).as("cnt"))
        val n = b.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val cum = hist.withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("source")).orderBy(col("bucket").asc)))
        val cuts = cum.join(broadcast(n), Seq("source"))
          .groupBy(col("source"))
          .agg(
            min(when(col("cum") >= expr("(n + 2) div 3"), col("bucket")))
              .as("b1"),
            min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("bucket")))
              .as("b2"))
        b.join(broadcast(cuts), Seq("source"))
          .select(col("doc_id"), col("source"), col("mean_p2"), col("bucket"),
            when(col("bucket") <= col("b1"), "tail")
              .when(col("bucket") <= col("b2"), "middle")
              .otherwise("head").as("band"))
      },
      Some(
        s"""WITH $bigramScoreCtesSql,
           |bk AS (SELECT doc_id, source, mean_p2,
           |         CAST(floor(mean_p2 * CAST(1000000 AS DOUBLE)) AS BIGINT)
           |           AS bucket
           |       FROM bsc),
           |hist AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS cnt
           |         FROM bk GROUP BY 1, 2),
           |nn AS (SELECT source, CAST(count(*) AS BIGINT) AS n
           |       FROM bk GROUP BY 1),
           |cum AS (SELECT source, bucket,
           |          sum(cnt) OVER (PARTITION BY source
           |            ORDER BY bucket ASC) AS cum
           |        FROM hist),
           |cuts AS (SELECT cum.source,
           |           min(CASE WHEN cum >= (n + 2) // 3 THEN bucket END) AS b1,
           |           min(CASE WHEN cum >= (2 * n + 2) // 3 THEN bucket END)
           |             AS b2
           |         FROM cum JOIN nn USING (source) GROUP BY 1)
           |SELECT doc_id, bk.source AS source, mean_p2, bucket,
           |       CASE WHEN bucket <= b1 THEN 'tail'
           |            WHEN bucket <= b2 THEN 'middle'
           |            ELSE 'head' END AS band
           |FROM bk JOIN cuts USING (source)""".stripMargin),
      "CCNet head/middle/tail perplexity banding per source: tertile cutoffs from a bounded score-domain histogram, no per-source corpus sort"))
}

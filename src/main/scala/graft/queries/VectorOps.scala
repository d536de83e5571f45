package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.SimSearch
import Tables._

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label) — SURVEY.md §2.4 J7/J8 generalized to the
  * vector/ANN layer of a training-data pipeline.
  *
  * Determinism contract with the DuckDB oracle: every dot product is a
  * sequential left fold over index order (Spark `aggregate`, DuckDB
  * `list_reduce`), floats are cast to double element-wise before any
  * arithmetic, and final scores are rounded to 6dp on both sides — so
  * the IEEE operation sequences are identical and hashes match.
  */
object VectorOps {

  /** DuckDB sequential-fold dot product of list exprs `a`·`b` (1-indexed),
    * mirroring [[SimSearch.dot]]'s fold order exactly. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      "(acc, x) -> acc + x)"

  private def cosSql(a: String, b: String): String =
    s"round(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})), 6)"

  /** [[cosSql]] with the zero-norm SLOT guard — the SQL mirror of
    * [[graft.ops.LateInteraction.maxSimRerank]]'s CASE (and the
    * SqSlotCosExpr contract): an all-zero slice scores 0.0 instead of
    * erroring under ANSI division or yielding a NaN that max() ranks
    * greatest. Used at slice-pair sites only; whole-vector cosines
    * keep the raw fold (a zero-norm WHOLE vector is degenerate input,
    * not a reachable slicing artifact). */
  private def cosSqlZ(a: String, b: String): String =
    s"(CASE WHEN ${dotSql(a, a)} = 0 OR ${dotSql(b, b)} = 0 " +
      s"THEN CAST(0.0 AS DOUBLE) ELSE ${cosSql(a, b)} END)"

  /** Covering MaxSim gold (queries = vec_id < 4, k = 10) over the
    * embeddings table: prefilterC = n, so the re-rank IS unbounded
    * MaxSim — the sanctioned measurement baseline (the r10 lesson
    * that a bounded-C "gold" is unconverged proxy-vs-proxy). */
  private def maxSimCoveringGold(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val n = emb.count().toInt
    graft.ops.LateInteraction.maxSimTopK(
      emb.where(col("vec_id") < 4), emb, "vec_id", "embedding",
      k = 10, prefilterC = n)
  }

  /** The covering gold built ONCE per (JVM, sfDir) and SHARED by q212
    * — the r11 bench-hygiene item (verdict #6): q212 was the
    * 5th-slowest bench query because its measurement gold re-ran
    * in-body every invocation. The split mirrors the curate-scenario
    * precedent exactly: q214 re-computes the gold on EVERY invocation
    * (the honest full bill, visible under its own name in the bench
    * artifact), while q212 reads the memoized parquet copy and bills
    * its served leg + metric joins. */
  private val maxSimGoldPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def maxSimGoldPath(s: SparkSession, d: String): String =
    maxSimGoldPaths.computeIfAbsent(d, _ => {
      val p = graft.Temps.dirFor(s"maxsim-gold-$d") + "/gold"
      maxSimCoveringGold(s, d).coalesce(1).write.mode("overwrite").parquet(p)
      p
    })

  /** Oracle CTE chain for the slot face's CENTROID CUT — the SQL
    * replay of [[graft.streaming.SemanticStream.queryTopKMaxSimSlots]]
    * stage 1a′ at the pinned SlotPolicy knobs (q210/q211/q212): `qcn`
    * = per-(query-slot, cell) centroid cosines (NaN-guarded to 0, the
    * kernel's mirror), `cch`/`ccs` = the cheap Σ_qpos max interaction
    * per gathered candidate through the same DECIMAL sum as the code
    * stage, `cut` = the top-CutC survivors that reach code scoring.
    * Expects CTEs `slt` (all slot rows), `scb` (slot codebook),
    * `scell` (slot index rows — q211's arrives pre-filtered, which is
    * exactly the Spark side's contract), `cand` (gathered candidates).
    * Emitted pre-stripped: interpolate as a whole `|`-margined line. */
  private def slotCutCtesSql(qPred: String): String = {
    val c = cosSql("slt.sv", "cv")
    s"""qcn AS (SELECT slt.vec_id AS q_id, slt.pos AS qpos, cid AS cell,
       |          CASE WHEN isnan($c) THEN CAST(0.0 AS DOUBLE)
       |               ELSE $c END AS qc
       |        FROM slt CROSS JOIN scb WHERE slt.$qPred),
       |cch AS (SELECT cand.q_id, cand.c_id, qcn.qpos, max(qcn.qc) AS mq
       |        FROM cand JOIN scell ON scell.c_id = cand.c_id
       |        JOIN qcn ON qcn.q_id = cand.q_id AND qcn.cell = scell.cell
       |        GROUP BY 1, 2, 3),
       |ccs AS (SELECT q_id, c_id,
       |          CAST(sum(CAST(mq AS DECIMAL(20,6))) AS DOUBLE) AS ccut
       |        FROM cch GROUP BY 1, 2),
       |cut AS (SELECT q_id, c_id FROM (
       |          SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
       |            ORDER BY ccut DESC, c_id) AS crn FROM ccs)
       |        WHERE crn <= ${graft.streaming.SemanticStream.SlotPolicy.CutC}),""".stripMargin
  }

  /** q210's oracle body, factored: q219 (the forward-projection-armed
    * serve) is LAYOUT-ONLY — results are bit-identical to the plain
    * slot serve — so it gates against the IDENTICAL SQL replay. */
  private lazy val slotServedOracleSql: String = {
        val slot = "(SELECT unnest(range(0, 8)) AS pos)"
        def sl(v: String) = s"list_slice($v, p.pos*8 + 1, p.pos*8 + 8)"
        // de-quantized element i (1..8) of candidate code slice cpos
        val recon = "(prm.mn[cp.cpos*8 + i] + " +
          "CAST(cd.codes[cp.cpos*8 + i] AS DOUBLE) * prm.istep[cp.cpos*8 + i])"
        def fold(terms: String) =
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
            s"list_transform(range(1, 9), i -> $terms)), (acc, x) -> acc + x)"
        // zero-norm slots score 0.0, mirroring SqSlotCosExpr's guard —
        // an unguarded division yields NaN, which max() ranks greatest
        // in BOTH engines, silently promoting degenerate candidates
        val qqFold = fold("CAST(qs.sv[i] AS DOUBLE) * CAST(qs.sv[i] AS DOUBLE)")
        val ccFold = fold(s"$recon * $recon")
        val slotCos = s"(CASE WHEN $qqFold = 0 OR $ccFold = 0 " +
          s"THEN CAST(0.0 AS DOUBLE) " +
          s"ELSE round(${fold(s"CAST(qs.sv[i] AS DOUBLE) * $recon")} / " +
          s"(sqrt($qqFold) * sqrt($ccFold)), 6) END)"
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |slt AS (SELECT vec_id, p.pos AS pos, ${sl("v")} AS sv
           |        FROM e, $slot p),
           |scb AS (SELECT vec_id*8 + pos AS cid, sv AS cv FROM slt
           |        ORDER BY cid LIMIT ${graft.streaming.SemanticStream.SlotK}),
           |asn AS (SELECT slt.vec_id, slt.pos, slt.sv, cid,
           |          row_number() OVER (PARTITION BY slt.vec_id, slt.pos
           |            ORDER BY ${cosSql("slt.sv", "cv")} DESC, cid) AS crn
           |        FROM slt CROSS JOIN scb),
           |scell AS (SELECT vec_id AS c_id, pos AS cpos, cid AS cell
           |          FROM asn WHERE crn = 1),
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
           |qpr AS (SELECT vec_id AS q_id, cid AS cell
           |        FROM asn WHERE vec_id < 4
           |          AND crn <= ${graft.streaming.SemanticStream.SlotPolicy.SlotNProbe}),
           |cand AS (SELECT DISTINCT p.q_id, scell.c_id
           |         FROM (SELECT DISTINCT q_id, cell FROM qpr) p
           |         JOIN scell USING (cell)
           |         WHERE p.q_id <> scell.c_id),
           |${slotCutCtesSql("vec_id < 4")}
           |sl1 AS (SELECT cut.q_id, cut.c_id, qs.pos AS qpos, cp.cpos,
           |          $slotCos AS sc
           |        FROM cut
           |        JOIN slt qs ON qs.vec_id = cut.q_id
           |        CROSS JOIN (SELECT unnest(range(0, 8)) AS cpos) cp
           |        JOIN cd ON cd.vec_id = cut.c_id
           |        CROSS JOIN prm),
           |mx1 AS (SELECT q_id, c_id, qpos, max(sc) AS mxc
           |        FROM sl1 GROUP BY 1, 2, 3),
           |s1 AS (SELECT q_id, c_id,
           |         CAST(sum(CAST(mxc AS DECIMAL(20,6))) AS DOUBLE) AS s1
           |       FROM mx1 GROUP BY 1, 2),
           |pre AS (SELECT q_id, c_id FROM (
           |          SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |            ORDER BY s1 DESC, c_id) AS prn FROM s1)
           |        WHERE prn <= ${graft.streaming.SemanticStream.SlotPolicy.PrefilterC}),
           |q AS (SELECT vec_id, v FROM e WHERE vec_id < 4),
           |mq AS (SELECT vec_id AS q_id, p.pos AS qpos, ${sl("v")} AS sv
           |       FROM q, $slot p),
           |mc AS (SELECT vec_id AS c_id, p.pos AS cpos, ${sl("v")} AS sv
           |       FROM e, $slot p
           |       WHERE vec_id IN (SELECT DISTINCT c_id FROM pre)),
           |pc AS (SELECT pre.q_id, pre.c_id, mq.qpos,
           |         ${cosSqlZ("mq.sv", "mc.sv")} AS cos
           |       FROM pre JOIN mq USING (q_id) JOIN mc USING (c_id)),
           |mx AS (SELECT q_id, c_id, qpos, max(cos) AS m
           |       FROM pc GROUP BY 1, 2, 3),
           |sc AS (SELECT q_id, c_id,
           |         CAST(sum(CAST(m AS DECIMAL(20,6))) AS DOUBLE) AS maxsim
           |       FROM mx GROUP BY 1, 2),
           |r AS (SELECT q_id, c_id, maxsim, row_number() OVER (
           |        PARTITION BY q_id ORDER BY maxsim DESC, c_id) AS rn
           |      FROM sc)
           |SELECT q_id, rn, c_id, maxsim FROM r WHERE rn <= 3""".stripMargin
  }

  /** DuckDB expression for LSH plane component i of plane p — the same
    * integer LCG [[SimSearch.planeComponent]] uses. */
  private def planeSql(p: Int, i: String): String =
    s"(CAST((1103515245 * ($p * 131 + $i) + 12345) % 2147483648 AS DOUBLE) / 2147483648.0 - 0.5)"

  /** CTE chain replaying [[SimSearch.trainCodebook]]'s fixed-round
    * Lloyd's k-means in DuckDB: cent0 = id-seeded codebook; per round
    * r, asg_r ranks every vector against cent_{r-1} (the window
    * formulation the Spark fold kernel is spec-pinned against), mem_r
    * explodes members by dimension, mean_r takes the order-independent
    * DECIMAL(30,15)-sum mean rounded to 6dp, cent_r keeps previous
    * centroids for empty cells. `src` is the training-set CTE
    * (columns vec_id, v) — "e" for corpus-trained oracles, any
    * accumulated-index CTE for retrain-shaped ones. */
  private def kmeansCentsSql(rounds: Int, k: Int, src: String = "e"): String = {
    val sb = new StringBuilder(
      s"cent0 AS (SELECT vec_id AS cid, v AS cv FROM $src ORDER BY vec_id LIMIT $k)")
    for (r <- 1 to rounds) {
      val p = s"cent${r - 1}"
      sb.append(s""",
         |asg$r AS (SELECT $src.vec_id, $src.v, cid,
         |            row_number() OVER (PARTITION BY $src.vec_id
         |              ORDER BY ${cosSql(s"$src.v", "cv")} DESC, cid) AS rn
         |          FROM $src CROSS JOIN $p),
         |mem$r AS (SELECT cid AS cell,
         |            unnest(range(1, len(v) + 1)) AS pos,
         |            unnest(v) AS x
         |          FROM asg$r WHERE rn = 1),
         |mean$r AS (SELECT cell, pos,
         |             round(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
         |                   / count(*), 6) AS m
         |           FROM mem$r GROUP BY 1, 2),
         |cent$r AS (SELECT cell AS cid, list(m ORDER BY pos) AS cv
         |           FROM mean$r GROUP BY 1
         |           UNION ALL
         |           SELECT cid, cv FROM $p
         |           WHERE cid NOT IN (SELECT DISTINCT cell FROM mean$r))""".stripMargin)
    }
    sb.toString
  }

  private def bucketSql(v: String, nPlanes: Int): String =
    (0 until nPlanes).map { p =>
      val planeList = s"list_transform(range(0, ${SimSearch.LshDim}), i -> ${planeSql(p, "i")})"
      s"(CASE WHEN ${dotSql(v, planeList)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  def defs: Map[String, Q] = Map(
    // J8 analog: brute-force exact cosine top-k, query side broadcast
    "q30_knn" -> Q(
      (s, d) => {
        val emb = embeddings(s, d)
        val queries = emb.where(col("vec_id") < 8)
        SimSearch.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("rn"), col("c_id"), col("cos"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
              |p AS (
              |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
              |         ${cosSql("q.v", "c.v")} AS cos
              |  FROM e q JOIN e c ON q.vec_id < 8 AND q.vec_id <> c.vec_id),
              |r AS (
              |  SELECT q_id, c_id, cos,
              |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
              |  FROM p)
              |SELECT q_id, rn, c_id, cos FROM r WHERE rn <= 3""".stripMargin),
      "exact cosine top-k (broadcast query side): SURVEY §2.4 J8"),

    // J7 analog: upper-triangle near-dup pairs above a cosine threshold
    "q31_cos_pairs" -> Q(
      (s, d) => SimSearch.cosineDupPairs(
        embeddings(s, d).where(col("vec_id") < 200), "vec_id", "embedding", 0.3),
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 200),
              |p AS (
              |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${cosSql("a.v", "b.v")} AS cos
              |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
              |SELECT a_id, b_id, cos FROM p WHERE cos >= 0.3""".stripMargin),
      "exact cosine near-dup pairs (upper triangle): SURVEY §2.4 J7"),

    // the 100-TB path: LSH bucket histogram (equi-join candidates, no n²)
    "q32_lsh_buckets" -> Q(
      (s, d) => SimSearch.lshBuckets(embeddings(s, d), "vec_id", "embedding", SimSearch.LshPlanes)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_vectors")),
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
              |b AS (SELECT vec_id, ${bucketSql("v", SimSearch.LshPlanes)} AS bucket FROM e)
              |SELECT bucket, count(*) AS n_vectors FROM b GROUP BY 1""".stripMargin),
      "random-hyperplane LSH bucketing: scale path for J7"),

    // IVF coarse quantizer: cell assignment histogram (the index build)
    "q34_ivf_cells" -> Q(
      (s, d) => SimSearch.ivfCells(embeddings(s, d), "vec_id", "embedding")
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors")),
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
              |cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
              |r AS (SELECT e.vec_id, cid, ${cosSql("e.v", "cv")} AS cc,
              |        row_number() OVER (PARTITION BY e.vec_id
              |          ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
              |      FROM e CROSS JOIN cent)
              |SELECT cid AS cell, count(*) AS n_vectors FROM r WHERE rn = 1 GROUP BY 1""".stripMargin),
      "IVF index build: nearest-centroid cell histogram"),

    // IVF approximate top-k: probe nProbe cells, exact re-rank inside —
    // the equi-join ANN path beside brute-force q30
    "q35_ivf_topk" -> Q(
      (s, d) => SimSearch.ivfTopKSelf(
          embeddings(s, d), col("id") < 8, "vec_id", "embedding", topK = 3)
        .select(col("q_id"), col("rn"), col("c_id"), col("cos")),
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
              |cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
              |r AS (SELECT e.vec_id, e.v, cid, ${cosSql("e.v", "cv")} AS cc,
              |        row_number() OVER (PARTITION BY e.vec_id
              |          ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
              |      FROM e CROSS JOIN cent),
              |cells AS (SELECT vec_id AS c_id, v AS cv, cid AS cell FROM r WHERE rn = 1),
              |probes AS (SELECT vec_id AS q_id, v AS qv, cid AS cell FROM r
              |           WHERE vec_id < 8 AND rn <= ${SimSearch.IvfProbe}),
              |scored AS (SELECT q_id, c_id, ${cosSql("qv", "cv")} AS cos
              |           FROM probes JOIN cells USING (cell) WHERE q_id <> c_id),
              |ranked AS (SELECT q_id, c_id, cos,
              |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
              |           FROM scored)
              |SELECT q_id, rn, c_id, cos FROM ranked WHERE rn <= 3""".stripMargin),
      "IVF probe + exact re-rank: approximate top-k scale path"),

    // Measured, not guessed: per-query recall@3 of the IVF probe path
    // against the exact brute-force top-k — the approximation-quality
    // artifact every ANN deployment needs before trusting the scale
    // path. Both sides are the production operators; the oracle replays
    // both and intersects.
    "q127_ann_recall" -> Q(
      (s, d) => {
        val emb = embeddings(s, d)
        val exact = SimSearch.bruteForceTopK(
            emb.where(col("vec_id") < 8), emb, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("c_id")).localCheckpoint()
        val approx = SimSearch.ivfTopKSelf(
            emb, col("id") < 8, "vec_id", "embedding", topK = 3)
          .select(col("q_id"), col("c_id"))
        val hits = exact.join(approx, Seq("q_id", "c_id"), "left_semi")
          .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
        exact.select(col("q_id")).distinct()
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            round(coalesce(col("hits"), lit(0L)).cast("double") / 3.0, 6)
              .as("recall_at_3"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
              |xp AS (
              |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
              |         ${cosSql("q.v", "c.v")} AS cos
              |  FROM e q JOIN e c ON q.vec_id < 8 AND q.vec_id <> c.vec_id),
              |exact AS (
              |  SELECT q_id, c_id FROM (
              |    SELECT q_id, c_id,
              |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
              |    FROM xp) WHERE rn <= 3),
              |cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
              |r AS (SELECT e.vec_id, e.v, cid, ${cosSql("e.v", "cv")} AS cc,
              |        row_number() OVER (PARTITION BY e.vec_id
              |          ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
              |      FROM e CROSS JOIN cent),
              |cells AS (SELECT vec_id AS c_id, v AS cv, cid AS cell FROM r WHERE rn = 1),
              |probes AS (SELECT vec_id AS q_id, v AS qv, cid AS cell FROM r
              |           WHERE vec_id < 8 AND rn <= ${SimSearch.IvfProbe}),
              |scored AS (SELECT q_id, c_id, ${cosSql("qv", "cv")} AS cos
              |           FROM probes JOIN cells USING (cell) WHERE q_id <> c_id),
              |approx AS (
              |  SELECT q_id, c_id FROM (
              |    SELECT q_id, c_id,
              |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
              |    FROM scored) WHERE rn <= 3),
              |h AS (SELECT q_id, CAST(count(*) AS BIGINT) AS hits
              |      FROM exact SEMI JOIN approx USING (q_id, c_id) GROUP BY 1)
              |SELECT q.q_id, coalesce(h.hits, 0) AS hits,
              |       round(CAST(coalesce(h.hits, 0) AS DOUBLE) / 3.0, 6) AS recall_at_3
              |FROM (SELECT DISTINCT q_id FROM exact) q LEFT JOIN h USING (q_id)""".stripMargin),
      "ANN quality measurement: per-query recall@3 of IVF probe vs exact top-k"),

    // The ANN-quality upgrade the id-seeded codebook lacked: recall@3
    // measured with the TRAINED codebook (fixed-round deterministic
    // Lloyd's k-means) against the raw seed, side by side, per query.
    // Training is linear per round (one zero-shuffle assignment pass +
    // one (cell,dim) partial-agg whose shuffle is <= partitions*K*d
    // rows); the oracle replays every round in SQL, so the trained
    // centroids are engine-exact, not a Spark-private artifact.
    // The query sample is vec_id % 13 == 0 — deliberately DISJOINT in
    // spirit from the 16 lowest-id seed vectors: q127's vec_id < 8
    // queries ARE seed centroids, which gifts the raw seed a recall it
    // doesn't earn on generic queries (measured 0.96 there vs 0.31 on
    // this spread sample, where training lifts it to 0.40).
    "q139_ann_recall_trained" -> Q(
      (s, d) => {
        val emb = embeddings(s, d)
        val exact = SimSearch.bruteForceTopK(
            emb.where(col("vec_id") % 13 === 0), emb, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("c_id")).localCheckpoint()
        def recall(approx: org.apache.spark.sql.DataFrame, cname: String) = {
          val hits = exact.join(approx, Seq("q_id", "c_id"), "left_semi")
            .groupBy(col("q_id")).agg(count(lit(1)).as("h"))
          exact.select(col("q_id")).distinct()
            .join(hits, Seq("q_id"), "left")
            .select(col("q_id"),
              round(coalesce(col("h"), lit(0L)).cast("double") / 3.0, 6).as(cname))
        }
        val seeded = SimSearch.ivfTopKSelf(
            emb, col("id") % 13 === 0, "vec_id", "embedding", topK = 3)
          .select(col("q_id"), col("c_id"))
        val trainedCb = SimSearch.trainCodebook(
          emb, "vec_id", "embedding", SimSearch.IvfK, rounds = 3)
        val trained = SimSearch.ivfTopKSelfWith(emb, col("id") % 13 === 0,
            "vec_id", "embedding", topK = 3, SimSearch.IvfProbe, trainedCb)
          .select(col("q_id"), col("c_id"))
        recall(seeded, "recall_seeded")
          .join(recall(trained, "recall_trained"), Seq("q_id"))
      },
      Some {
        val rounds = 3
        def probePipe(tag: String, rankCte: String) =
          s"""cells_$tag AS (SELECT vec_id AS c_id, v AS cvv, cid AS cell
             |               FROM $rankCte WHERE rn = 1),
             |probes_$tag AS (SELECT vec_id AS q_id, v AS qvv, cid AS cell
             |                FROM $rankCte
             |                WHERE vec_id % 13 = 0 AND rn <= ${SimSearch.IvfProbe}),
             |scored_$tag AS (SELECT q_id, c_id, ${cosSql("qvv", "cvv")} AS cos
             |                FROM probes_$tag JOIN cells_$tag USING (cell)
             |                WHERE q_id <> c_id),
             |approx_$tag AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT q_id, c_id,
             |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
             |    FROM scored_$tag) WHERE rn <= 3),
             |h_$tag AS (SELECT q_id, CAST(count(*) AS BIGINT) AS h
             |           FROM exact SEMI JOIN approx_$tag USING (q_id, c_id)
             |           GROUP BY 1)""".stripMargin
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |xp AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |         ${cosSql("q.v", "c.v")} AS cos
           |  FROM e q JOIN e c ON q.vec_id % 13 = 0 AND q.vec_id <> c.vec_id),
           |exact AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id,
           |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
           |    FROM xp) WHERE rn <= 3),
           |${kmeansCentsSql(rounds, SimSearch.IvfK)},
           |rt AS (SELECT e.vec_id, e.v, cid,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
           |       FROM e CROSS JOIN cent$rounds),
           |${probePipe("s", "asg1")},
           |${probePipe("t", "rt")}
           |SELECT q.q_id,
           |       round(CAST(coalesce(h_s.h, 0) AS DOUBLE) / 3.0, 6) AS recall_seeded,
           |       round(CAST(coalesce(h_t.h, 0) AS DOUBLE) / 3.0, 6) AS recall_trained
           |FROM (SELECT DISTINCT q_id FROM exact) q
           |LEFT JOIN h_s USING (q_id) LEFT JOIN h_t USING (q_id)""".stripMargin
      },
      "trained-codebook ANN recall: fixed-round deterministic k-means vs the id seed, oracle-replayed end to end"),

    // LSH candidate pairs re-ranked exactly — the full ANN pipeline
    "q33_lsh_pairs" -> Q(
      (s, d) => SimSearch.lshDupPairs(embeddings(s, d), "vec_id", "embedding", 0.2, SimSearch.LshPlanes),
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
              |b AS (SELECT vec_id, v, ${bucketSql("v", SimSearch.LshPlanes)} AS bucket FROM e),
              |p AS (
              |  SELECT a.vec_id AS a_id, b2.vec_id AS b_id, ${cosSql("a.v", "b2.v")} AS cos
              |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
              |SELECT DISTINCT a_id, b_id, cos FROM p WHERE cos >= 0.2""".stripMargin),
      "LSH bucket-join + exact re-rank: SURVEY §7.5-2 scale plan"),

    // SemDeDup-style SEMANTIC dedup: cluster first (the IVF cells bound
    // the pair search), then dedup within each cluster by embedding
    // cosine — a vector is a duplicate when a SMALLER-id cell-mate sits
    // above the threshold, and its representative is the smallest such
    // id. The keep-first greedy is the one-pass industrial shortcut to
    // transitive closure (full components are q101's pointer-jumping
    // job); it is deterministic, so re-runs and the oracle agree.
    // Scale shape: pair volume is Σ cell² — never corpus×corpus — and
    // the cell count K grows with n exactly as q34/q35's scaled-K
    // measurements prescribe; the codebook stays a broadcast k-row
    // frame.
    "q135_semantic_dedup" -> Q(
      (s, d) => {
        val cells = SimSearch.ivfCells(embeddings(s, d), "vec_id", "embedding")
          .localCheckpoint() // both pair sides + the base read it
        val a = cells.toDF("vec_id", "cell", "av", "an")
        val b = cells.toDF("b_id", "cell", "bv", "bn")
        val reps = a.join(b, Seq("cell"))
          .where(col("b_id") < col("vec_id"))
          // round BEFORE thresholding, matching cosSql and the whole
          // vector family (cosineDupPairs): raw-vs-rounded comparison
          // would flip is_dup on boundary pairs across engines
          .where(round(SimSearch.cosine(
            col("av"), col("bv"), col("an"), col("bn")), 6) >= 0.3)
          .groupBy(col("vec_id")).agg(min(col("b_id")).as("rep_id"))
        cells.select(col("id").as("vec_id"), col("cell"))
          .join(reps, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            col("rep_id").isNotNull.as("is_dup"), col("rep_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
              |cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
              |r AS (SELECT e.vec_id, e.v, cid, ${cosSql("e.v", "cv")} AS cc,
              |        row_number() OVER (PARTITION BY e.vec_id
              |          ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
              |      FROM e CROSS JOIN cent),
              |cells AS (SELECT vec_id, v, cid AS cell FROM r WHERE rn = 1),
              |reps AS (SELECT a.vec_id, min(b.vec_id) AS rep_id
              |         FROM cells a JOIN cells b
              |           ON a.cell = b.cell AND b.vec_id < a.vec_id
              |          AND ${cosSql("a.v", "b.v")} >= 0.3
              |         GROUP BY 1)
              |SELECT c.vec_id, c.cell, r.rep_id IS NOT NULL AS is_dup, r.rep_id
              |FROM cells c LEFT JOIN reps r USING (vec_id)""".stripMargin),
      "SemDeDup-style semantic dedup: IVF-cell-bounded cosine pairs, keep-first representative"),

    // q135 against the TRAINED codebook — production SemDeDup clusters
    // with k-means centroids, not raw seeds (the seed quantizer's cell
    // boundaries are whatever the k lowest-id vectors happen to be, so
    // near-dups straddling a bad boundary are never paired). Same plan
    // shape: training is linear per round, assignment stays the
    // single-pass zero-shuffle fold, pair volume stays Σ cell² — only
    // the broadcast codebook values change. The oracle replays the
    // training rounds in SQL (kmeansCentsSql), so the trained cells are
    // engine-exact.
    "q140_semantic_dedup_trained" -> Q(
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = SimSearch.trainCodebook(
          emb, "vec_id", "embedding", SimSearch.IvfK, rounds = 3)
        val cells = SimSearch.ivfAssign(emb, "vec_id", "embedding", cb, p = 1)
          .select(col("id").as("vec_id"),
            element_at(col("probes"), 1).getField("cid").as("cell"),
            col("v"), col("n"))
          .localCheckpoint() // both pair sides + the base read it
        val a = cells.toDF("vec_id", "cell", "av", "an")
        val b = cells.toDF("b_id", "cell", "bv", "bn")
        val reps = a.join(b, Seq("cell"))
          .where(col("b_id") < col("vec_id"))
          .where(round(SimSearch.cosine(
            col("av"), col("bv"), col("an"), col("bn")), 6) >= 0.3)
          .groupBy(col("vec_id")).agg(min(col("b_id")).as("rep_id"))
        cells.select(col("vec_id"), col("cell"))
          .join(reps, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            col("rep_id").isNotNull.as("is_dup"), col("rep_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
              |${kmeansCentsSql(3, SimSearch.IvfK)},
              |rt AS (SELECT e.vec_id, e.v, cid,
              |         row_number() OVER (PARTITION BY e.vec_id
              |           ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
              |       FROM e CROSS JOIN cent3),
              |cells AS (SELECT vec_id, v, cid AS cell FROM rt WHERE rn = 1),
              |reps AS (SELECT a.vec_id, min(b.vec_id) AS rep_id
              |         FROM cells a JOIN cells b
              |           ON a.cell = b.cell AND b.vec_id < a.vec_id
              |          AND ${cosSql("a.v", "b.v")} >= 0.3
              |         GROUP BY 1)
              |SELECT c.vec_id, c.cell, r.rep_id IS NOT NULL AS is_dup, r.rep_id
              |FROM cells c LEFT JOIN reps r USING (vec_id)""".stripMargin),
      "semantic dedup over the trained codebook: deterministic k-means cells, oracle-replayed training"),

    // ONLINE semantic dedup over a MAINTAINED IVF index
    // (SemanticStream): the vector-side analog of q144 — the codebook
    // and inverted file are stored; each batch pays a zero-shuffle
    // argmin assignment, one cell equi-join against the stored file,
    // and a batch-internal cell self-join; kept vectors fold in before
    // the next batch probes. Two sequential batches (vec_id % 10 = 0,
    // then % 10 = 5) against corpus = vec_id % 5 <> 0; the oracle
    // replays both phases with phase 2's inverted file = corpus ∪
    // phase-1 kept. rep_id is the LEAST matching same-cell id ≥ 0.3
    // cosine (corpus or smaller batch-mate); its provenance is the
    // status.
    "q145_semantic_ingest" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"semantic-stream-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb.where(col("vec_id") % 5 =!= 0), root)
        SemanticStream.ingestVectors(emb.where(col("vec_id") % 10 === 0), root)
        SemanticStream.ingestVectors(emb.where(col("vec_id") % 10 === 5), root)
        graft.sinks.Layout.readStatic(s, root, SemanticStream.ManifestEntity)
          .get
      },
      Some {
        def phase(p: Int, m: Int, idx: String): String =
          s"""b$p AS (SELECT * FROM cells WHERE vec_id % 10 = $m),
             |mm$p AS (
             |  SELECT a.vec_id, c.vec_id AS m_id, 1 AS fc
             |  FROM b$p a JOIN $idx c ON a.cell = c.cell
             |   AND ${cosSql("a.v", "c.v")} >= 0.3
             |  UNION ALL
             |  SELECT a.vec_id, b.vec_id AS m_id, 0 AS fc
             |  FROM b$p a JOIN b$p b ON a.cell = b.cell
             |   AND b.vec_id < a.vec_id
             |   AND ${cosSql("a.v", "b.v")} >= 0.3),
             |r$p AS (SELECT vec_id, min(m_id) AS rep_id,
             |          arg_min(fc, m_id) AS fc FROM mm$p GROUP BY 1),
             |man$p AS (SELECT b.vec_id, b.cell,
             |            CASE WHEN r.rep_id IS NULL THEN 'kept'
             |                 WHEN r.fc = 1 THEN 'dup_corpus'
             |                 ELSE 'dup_batch' END AS status, r.rep_id
             |          FROM b$p b LEFT JOIN r$p r USING (vec_id)),
             |kept$p AS (SELECT c.* FROM b$p c SEMI JOIN
             |             (SELECT vec_id FROM man$p WHERE status = 'kept') k
             |             USING (vec_id))""".stripMargin
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |cent AS (SELECT vec_id AS cid, v AS cv FROM e
           |         WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
           |rt AS (SELECT e.vec_id, e.v, cid,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
           |       FROM e CROSS JOIN cent),
           |cells AS (SELECT vec_id, v, cid AS cell FROM rt WHERE rn = 1),
           |corp AS (SELECT * FROM cells WHERE vec_id % 5 <> 0),
           |${phase(1, 0, "corp")},
           |idx2 AS (SELECT * FROM corp UNION ALL SELECT * FROM kept1),
           |${phase(2, 5, "idx2")}
           |SELECT vec_id, cell, status, rep_id FROM man1
           |UNION ALL SELECT vec_id, cell, status, rep_id FROM man2""".stripMargin
      },
      "online semantic dedup over a stored IVF index: sequential batches, kept vectors fold into the inverted file"),

    // MULTI-PROBE online semantic dedup — q145's exact scenario with
    // the batch side probing its top-2 cells (SemanticStream
    // `probes = 2`). The round-7 drift rehearsal measured that near-dup
    // misses are cell-boundary straddles that RETRAINING cannot recover
    // (finer cells straddle more at p = 1); the probe list is the
    // recall lever, and it widens only the batch-side join volume
    // (≤ p×) — the stored inverted file still meets on its single
    // assignment cell, assignment stays the one zero-shuffle kernel
    // pass. The oracle replays both phases with the probe relation
    // rn ≤ 2 of the same ranking the assignment takes rn = 1 from, so
    // any straddled pair q145 misses and p = 2 reaches is
    // hash-checked, not asserted.
    "q146_semantic_ingest_probe2" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"semantic-stream-p2-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb.where(col("vec_id") % 5 =!= 0), root)
        SemanticStream.ingestVectors(emb.where(col("vec_id") % 10 === 0), root,
          probes = 2)
        SemanticStream.ingestVectors(emb.where(col("vec_id") % 10 === 5), root,
          probes = 2)
        graft.sinks.Layout.readStatic(s, root, SemanticStream.ManifestEntity)
          .get
      },
      Some {
        def phase(p: Int, m: Int, idx: String): String =
          s"""b$p AS (SELECT * FROM cells WHERE vec_id % 10 = $m),
             |prb$p AS (SELECT * FROM pr WHERE vec_id % 10 = $m),
             |mm$p AS (
             |  SELECT a.vec_id, c.vec_id AS m_id, 1 AS fc
             |  FROM prb$p a JOIN $idx c ON a.cell = c.cell
             |   AND ${cosSql("a.v", "c.v")} >= 0.3
             |  UNION ALL
             |  SELECT a.vec_id, b.vec_id AS m_id, 0 AS fc
             |  FROM prb$p a JOIN b$p b ON a.cell = b.cell
             |   AND b.vec_id < a.vec_id
             |   AND ${cosSql("a.v", "b.v")} >= 0.3),
             |r$p AS (SELECT vec_id, min(m_id) AS rep_id,
             |          arg_min(fc, m_id) AS fc FROM mm$p GROUP BY 1),
             |man$p AS (SELECT b.vec_id, b.cell,
             |            CASE WHEN r.rep_id IS NULL THEN 'kept'
             |                 WHEN r.fc = 1 THEN 'dup_corpus'
             |                 ELSE 'dup_batch' END AS status, r.rep_id
             |          FROM b$p b LEFT JOIN r$p r USING (vec_id)),
             |kept$p AS (SELECT c.* FROM b$p c SEMI JOIN
             |             (SELECT vec_id FROM man$p WHERE status = 'kept') k
             |             USING (vec_id))""".stripMargin
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |cent AS (SELECT vec_id AS cid, v AS cv FROM e
           |         WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
           |rt AS (SELECT e.vec_id, e.v, cid,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
           |       FROM e CROSS JOIN cent),
           |cells AS (SELECT vec_id, v, cid AS cell FROM rt WHERE rn = 1),
           |pr AS (SELECT vec_id, v, cid AS cell FROM rt WHERE rn <= 2),
           |corp AS (SELECT * FROM cells WHERE vec_id % 5 <> 0),
           |${phase(1, 0, "corp")},
           |idx2 AS (SELECT * FROM corp UNION ALL SELECT * FROM kept1),
           |${phase(2, 5, "idx2")}
           |SELECT vec_id, cell, status, rep_id FROM man1
           |UNION ALL SELECT vec_id, cell, status, rep_id FROM man2""".stripMargin
      },
      "multi-probe online semantic dedup: batch probes its top-2 cells against the stored inverted file — the measured dup-recall lever"),

    // The READ face of the stored index: q145's scenario (bootstrap +
    // one ingest), then EXTERNAL queries (vec_id % 10 = 5, never
    // ingested) ask the index for top-3 neighbors — assignment-kernel
    // probe lists, cell equi-join against the stored inverted file
    // (corpus ∪ the ingested batch's kept vectors), exact re-rank.
    // The oracle replays the ingest's keep decisions and the query
    // ranking end to end, so the SERVED answers — not just the
    // maintained state — are hash-checked.
    "q154_semantic_query" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"semantic-query-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb.where(col("vec_id") % 5 =!= 0), root)
        SemanticStream.ingestVectors(emb.where(col("vec_id") % 10 === 0), root)
          .unpersist()
        SemanticStream.queryTopK(emb.where(col("vec_id") % 10 === 5), root,
            topK = 3)
          .select(col("q_id"), col("rn"), col("c_id"), col("cos"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
              |cent AS (SELECT vec_id AS cid, v AS cv FROM e
              |         WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
              |rt AS (SELECT e.vec_id, e.v, cid,
              |         row_number() OVER (PARTITION BY e.vec_id
              |           ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
              |       FROM e CROSS JOIN cent),
              |cells AS (SELECT vec_id, v, cid AS cell FROM rt WHERE rn = 1),
              |corp AS (SELECT * FROM cells WHERE vec_id % 5 <> 0),
              |b1 AS (SELECT * FROM cells WHERE vec_id % 10 = 0),
              |mm1 AS (SELECT a.vec_id FROM b1 a JOIN corp c ON a.cell = c.cell
              |          AND ${cosSql("a.v", "c.v")} >= 0.3
              |        UNION ALL
              |        SELECT a.vec_id FROM b1 a JOIN b1 b ON a.cell = b.cell
              |          AND b.vec_id < a.vec_id
              |          AND ${cosSql("a.v", "b.v")} >= 0.3),
              |kept1 AS (SELECT * FROM b1
              |          WHERE vec_id NOT IN (SELECT vec_id FROM mm1)),
              |idx AS (SELECT * FROM corp UNION ALL SELECT * FROM kept1),
              |pr AS (SELECT vec_id AS q_id, v AS qv, cid AS cell FROM rt
              |       WHERE vec_id % 10 = 5 AND rn <= ${SimSearch.IvfProbe}),
              |sc AS (SELECT q_id, c.vec_id AS c_id,
              |         ${cosSql("qv", "c.v")} AS cos
              |       FROM pr JOIN idx c USING (cell) WHERE q_id <> c.vec_id),
              |rk AS (SELECT q_id, c_id, cos,
              |         row_number() OVER (PARTITION BY q_id
              |           ORDER BY cos DESC, c_id) AS rn
              |       FROM sc)
              |SELECT q_id, rn, c_id, cos FROM rk WHERE rn <= 3""".stripMargin),
      "online ANN serving from the stored IVF index: external queries probe corpus ∪ kept, served answers hash-checked"),

    // q154's scenario served through the PQ SIDECAR (bootstrap
    // withPq): the probed cells are scanned as 8-byte code rows first
    // (ADC against the queries' distance tables, top-10 prefilter per
    // query), and only those candidates fetch full vectors for the
    // exact cosine re-rank — q151's two-stage scan composed with the
    // MAINTAINED index (kept batch vectors fold their codes in under
    // the frozen books). The oracle replays books → codes → ADC fold →
    // prefilter → exact re-rank over corpus ∪ kept, so the served
    // two-stage answers are hash-checked end to end.
    "q155_semantic_query_pq" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"semantic-query-pq-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb.where(col("vec_id") % 5 =!= 0), root,
          withPq = true)
        SemanticStream.ingestVectors(emb.where(col("vec_id") % 10 === 0), root)
          .unpersist()
        SemanticStream.queryTopKPq(emb.where(col("vec_id") % 10 === 5), root,
            topK = 3, prefilterC = 10)
          .select(col("q_id"), col("rn"), col("c_id"), col("cos"))
      },
      Some {
        val sub = SimSearch.LshDim / graft.ops.Pq.M
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |cent AS (SELECT vec_id AS cid, v AS cv FROM e
           |         WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
           |rt AS (SELECT e.vec_id, e.v, cid,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
           |       FROM e CROSS JOIN cent),
           |cells AS (SELECT vec_id, v, cid AS cell FROM rt WHERE rn = 1),
           |corp AS (SELECT * FROM cells WHERE vec_id % 5 <> 0),
           |b1 AS (SELECT * FROM cells WHERE vec_id % 10 = 0),
           |mm1 AS (SELECT a.vec_id FROM b1 a JOIN corp c ON a.cell = c.cell
           |          AND ${cosSql("a.v", "c.v")} >= 0.3
           |        UNION ALL
           |        SELECT a.vec_id FROM b1 a JOIN b1 b ON a.cell = b.cell
           |          AND b.vec_id < a.vec_id
           |          AND ${cosSql("a.v", "b.v")} >= 0.3),
           |kept1 AS (SELECT * FROM b1
           |          WHERE vec_id NOT IN (SELECT vec_id FROM mm1)),
           |idx AS (SELECT * FROM corp UNION ALL SELECT * FROM kept1),
           |seed AS (SELECT vec_id, v,
           |           CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j
           |         FROM e WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT ${graft.ops.Pq.Ksub}),
           |pcent AS (SELECT ms.range AS m, j,
           |            list_transform(range(1, ${sub + 1}), i -> CAST(v[ms.range * $sub + i] AS DOUBLE)) AS c
           |          FROM seed, range(0, ${graft.ops.Pq.M}) ms),
           |subv AS (SELECT vec_id, ms.range AS m,
           |           list_transform(range(1, ${sub + 1}), i -> CAST(v[ms.range * $sub + i] AS DOUBLE)) AS sv
           |         FROM e, range(0, ${graft.ops.Pq.M}) ms),
           |dall AS (SELECT s.vec_id, s.m, c.j,
           |           round(${PqOps.l2Sql("s.sv", "c.c")}, 6) AS dist
           |         FROM subv s JOIN pcent c ON s.m = c.m),
           |code AS (SELECT vec_id, m, j FROM (
           |           SELECT vec_id, m, j,
           |             row_number() OVER (PARTITION BY vec_id, m ORDER BY dist ASC, j ASC) AS rn
           |           FROM dall) WHERE rn = 1),
           |pr AS (SELECT vec_id AS q_id, cid AS cell FROM rt
           |       WHERE vec_id % 10 = 5 AND rn <= ${SimSearch.IvfProbe}),
           |cand AS (SELECT pr.q_id, c.vec_id AS c_id
           |         FROM pr JOIN idx c USING (cell) WHERE q_id <> c.vec_id),
           |pairm AS (SELECT cand.q_id, cand.c_id, qd.m, qd.dist
           |          FROM cand
           |          JOIN code cd ON cd.vec_id = cand.c_id
           |          JOIN dall qd ON qd.vec_id = cand.q_id
           |           AND qd.m = cd.m AND qd.j = cd.j),
           |score AS (SELECT q_id, c_id,
           |            round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |              list(dist ORDER BY m)), (acc, x) -> acc + x), 6) AS adist
           |          FROM pairm GROUP BY 1, 2),
           |pre AS (SELECT q_id, c_id FROM (
           |          SELECT q_id, c_id,
           |            row_number() OVER (PARTITION BY q_id ORDER BY adist ASC, c_id ASC) AS prn
           |          FROM score) WHERE prn <= 10),
           |sc AS (SELECT p.q_id, p.c_id, ${cosSql("q.v", "c.v")} AS cos
           |       FROM pre p
           |       JOIN e q ON q.vec_id = p.q_id
           |       JOIN e c ON c.vec_id = p.c_id),
           |rk AS (SELECT q_id, c_id, cos,
           |         row_number() OVER (PARTITION BY q_id
           |           ORDER BY cos DESC, c_id) AS rn
           |       FROM sc)
           |SELECT q_id, rn, c_id, cos FROM rk WHERE rn <= 3""".stripMargin
      },
      "two-stage PQ serving from the maintained index: ADC prefilter over stored codes, exact re-rank on candidates only"),

    // q155's scenario served through the SQ SIDECAR (bootstrap
    // withSq): the probed cells scan as SQ code rows against the
    // grid frozen at bootstrap (derived from the CORPUS only — kept
    // batch vectors encode under it, out-of-grid values round
    // unclamped), top-10 asymmetric prefilter per query, exact cosine
    // re-rank on candidates only. The training-free serving rung: 8×
    // compression with the total-recall rerank law
    // (SCALE_MEASURED_r8). The oracle replays grid → codes → fold →
    // prefilter → re-rank over corpus ∪ kept end to end.
    "q169_semantic_query_sq" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"semantic-query-sq-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb.where(col("vec_id") % 5 =!= 0), root,
          withSq = true)
        SemanticStream.ingestVectors(emb.where(col("vec_id") % 10 === 0), root)
          .unpersist()
        SemanticStream.queryTopKSq(emb.where(col("vec_id") % 10 === 5), root,
            topK = 3, prefilterC = 10)
          .select(col("q_id"), col("rn"), col("c_id"), col("cos"))
      },
      Some {
        val recon = "(prm.mn[i] + CAST(cd.codes[i] AS DOUBLE) * prm.istep[i])"
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |cent AS (SELECT vec_id AS cid, v AS cv FROM e
           |         WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
           |rt AS (SELECT e.vec_id, e.v, cid,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
           |       FROM e CROSS JOIN cent),
           |cells AS (SELECT vec_id, v, cid AS cell FROM rt WHERE rn = 1),
           |corp AS (SELECT * FROM cells WHERE vec_id % 5 <> 0),
           |b1 AS (SELECT * FROM cells WHERE vec_id % 10 = 0),
           |mm1 AS (SELECT a.vec_id FROM b1 a JOIN corp c ON a.cell = c.cell
           |          AND ${cosSql("a.v", "c.v")} >= 0.3
           |        UNION ALL
           |        SELECT a.vec_id FROM b1 a JOIN b1 b ON a.cell = b.cell
           |          AND b.vec_id < a.vec_id
           |          AND ${cosSql("a.v", "b.v")} >= 0.3),
           |kept1 AS (SELECT * FROM b1
           |          WHERE vec_id NOT IN (SELECT vec_id FROM mm1)),
           |idx AS (SELECT * FROM corp UNION ALL SELECT * FROM kept1),
           |exg AS (SELECT vec_id, unnest(range(1, len(v) + 1)) AS pos,
           |          unnest(v) AS x FROM e WHERE vec_id % 5 <> 0),
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
           |       WHERE vec_id % 10 = 5 AND rn <= ${SimSearch.IvfProbe}),
           |sc0 AS (SELECT pr.q_id, c.vec_id AS c_id,
           |          round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |            list_transform(range(1, len(pr.qv) + 1), i ->
           |              (CAST(pr.qv[i] AS DOUBLE) - $recon) *
           |              (CAST(pr.qv[i] AS DOUBLE) - $recon))),
           |            (acc, x) -> acc + x), 6) AS sdist
           |        FROM pr JOIN idx c USING (cell)
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
           |rk AS (SELECT q_id, c_id, cos,
           |         row_number() OVER (PARTITION BY q_id
           |           ORDER BY cos DESC, c_id) AS rn
           |       FROM scx)
           |SELECT q_id, rn, c_id, cos FROM rk WHERE rn <= 3""".stripMargin
      },
      "two-stage SQ serving from the maintained index: training-free asymmetric prefilter over stored codes, exact re-rank on candidates"),

    // Johnson–Lindenstrauss projection measured per pair: vectors
    // project 64 → 16 dims through the splitmix64 plane family
    // (scale-free for cosine; the first measurement caught the LSH
    // LCG family's affine correlations holding distortion FLAT in d′,
    // which is why JL gets its own generator), and every
    // upper-triangle pair of the vec_id < 40 sample carries its
    // full-dim and projected cosine side by side — the distortion
    // column IS the measurement (JL concentration says ~1/√d′). The
    // oracle inlines the plane values as round-tripping literals (the
    // keccak-golden precedent: DuckDB never re-derives the mix) and
    // replays the identical fold orders, so the columns hash-match.
    "q158_jl_cosine" -> Q(
      (s, d) => {
        val emb = embeddings(s, d).where(col("vec_id") < 40)
        val full = emb.select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .withColumn("n", SimSearch.l2norm(col("v")))
        val proj = SimSearch.jlProject(emb, "vec_id", "embedding", dOut = 16)
          .withColumn("pn", SimSearch.l2norm(col("pv")))
        val a = full.toDF("a_id", "av", "an")
          .join(proj.toDF("a_id", "apv", "apn"), Seq("a_id"))
        val b = full.toDF("b_id", "bv", "bn")
          .join(proj.toDF("b_id", "bpv", "bpn"), Seq("b_id"))
        a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            round(SimSearch.cosine(col("av"), col("bv"), col("an"), col("bn")), 6)
              .as("cos_full"),
            round(SimSearch.cosine(col("apv"), col("bpv"), col("apn"), col("bpn")), 6)
              .as("cos_proj"))
          .withColumn("distortion",
            round(abs(col("cos_proj") - col("cos_full")), 6))
      },
      Some {
        val pvSql = (0 until 16).map { p =>
          val planeList = (0 until SimSearch.LshDim)
            .map(i => SimSearch.jlPlaneComponent(p, i).toString)
            .mkString("[CAST(", " AS DOUBLE), CAST(", " AS DOUBLE)]")
          dotSql("v", planeList)
        }.mkString("[", ", ", "]")
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings
           |           WHERE vec_id < 40),
           |p AS (SELECT vec_id, v, $pvSql AS pv FROM e)
           |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |       ${cosSql("a.v", "b.v")} AS cos_full,
           |       ${cosSql("a.pv", "b.pv")} AS cos_proj,
           |       round(abs(${cosSql("a.pv", "b.pv")} - ${cosSql("a.v", "b.v")}), 6) AS distortion
           |FROM p a JOIN p b ON a.vec_id < b.vec_id""".stripMargin
      },
      "JL random projection 64→16 with per-pair cosine distortion measured and hash-checked"),

    // The levers COMPOSED: project 64 → 32 (half the per-pair cost
    // everywhere downstream), build the IVF index over the PROJECTED
    // vectors, and measure recall@3 of the projected-index probe
    // against the FULL-dimension exact top-3 — per query, q127/q139
    // style. The oracle inlines the 32 projection planes as literals
    // and replays projection → seeding → ranking → probe → recall
    // end to end, so the composition's answers (not just its pieces)
    // are hash-checked.
    "q159_jl_ivf_recall" -> Q(
      (s, d) => {
        val emb = embeddings(s, d)
        val proj = SimSearch.jlProject(emb, "vec_id", "embedding", dOut = 32)
        val exact = SimSearch.bruteForceTopK(
            emb.where(col("vec_id") % 13 === 0), emb, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("c_id")).localCheckpoint()
        val approx = SimSearch.ivfTopKSelf(
            proj, col("id") % 13 === 0, "id", "pv", topK = 3)
          .select(col("q_id"), col("c_id"))
        val hits = exact.join(approx, Seq("q_id", "c_id"), "left_semi")
          .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
        exact.select(col("q_id")).distinct()
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            round(coalesce(col("hits"), lit(0L)).cast("double") / 3.0, 6)
              .as("recall_at_3"))
      },
      Some {
        val pvSql = (0 until 32).map { p =>
          val planeList = (0 until SimSearch.LshDim)
            .map(i => SimSearch.jlPlaneComponent(p, i).toString)
            .mkString("[CAST(", " AS DOUBLE), CAST(", " AS DOUBLE)]")
          dotSql("v", planeList)
        }.mkString("[", ", ", "]")
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |p AS (SELECT vec_id, $pvSql AS pv FROM e),
           |xp AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |         ${cosSql("q.v", "c.v")} AS cos
           |  FROM e q JOIN e c ON q.vec_id % 13 = 0 AND q.vec_id <> c.vec_id),
           |exact AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id,
           |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
           |    FROM xp) WHERE rn <= 3),
           |cent AS (SELECT vec_id AS cid, pv AS cv FROM p ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
           |r AS (SELECT p.vec_id, p.pv, cid,
           |        row_number() OVER (PARTITION BY p.vec_id
           |          ORDER BY ${cosSql("p.pv", "cv")} DESC, cid) AS rn
           |      FROM p CROSS JOIN cent),
           |cells AS (SELECT vec_id AS c_id, pv AS cvv, cid AS cell FROM r WHERE rn = 1),
           |probes AS (SELECT vec_id AS q_id, pv AS qvv, cid AS cell FROM r
           |           WHERE vec_id % 13 = 0 AND rn <= ${SimSearch.IvfProbe}),
           |scored AS (SELECT q_id, c_id, ${cosSql("qvv", "cvv")} AS cos
           |           FROM probes JOIN cells USING (cell) WHERE q_id <> c_id),
           |approx AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id,
           |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
           |    FROM scored) WHERE rn <= 3),
           |h AS (SELECT q_id, CAST(count(*) AS BIGINT) AS hits
           |      FROM exact SEMI JOIN approx USING (q_id, c_id) GROUP BY 1)
           |SELECT q.q_id, coalesce(h.hits, 0) AS hits,
           |       round(CAST(coalesce(h.hits, 0) AS DOUBLE) / 3.0, 6) AS recall_at_3
           |FROM (SELECT DISTINCT q_id FROM exact) q LEFT JOIN h USING (q_id)""".stripMargin
      },
      "levers composed: IVF index over JL-projected vectors, recall@3 vs full-dim exact, replayed end to end"),

    // q169's scenario served through the JL SIDECAR (bootstrap
    // withJl): the index stores d′=16 projections of every kept
    // vector under a splitmix64 plane family named by TWO integers
    // (dOut, seed) beside the codebook; queries project at serve time
    // under the same stored family, the probed cells scan as
    // projected rows (16 dots instead of 64 per candidate), top-10
    // projected-cosine prefilter, exact full-dim re-rank on
    // candidates only. The maintained-index face of q158/q159's
    // measured projection lever. The oracle inlines the plane family
    // as literals (keccak-golden precedent) and replays ingest keep
    // decisions → projection → prefilter → re-rank end to end.
    "q172_semantic_query_jl" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"semantic-query-jl-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb.where(col("vec_id") % 5 =!= 0), root,
          withJl = true, jlDOut = 16)
        SemanticStream.ingestVectors(emb.where(col("vec_id") % 10 === 0), root)
          .unpersist()
        SemanticStream.queryTopKJl(emb.where(col("vec_id") % 10 === 5), root,
            topK = 3, prefilterC = 10)
          .select(col("q_id"), col("rn"), col("c_id"), col("cos"))
      },
      Some {
        val pvSql = (0 until 16).map { p =>
          val planeList = (0 until SimSearch.LshDim)
            .map(i => SimSearch.jlPlaneComponent(p, i).toString)
            .mkString("[CAST(", " AS DOUBLE), CAST(", " AS DOUBLE)]")
          dotSql("v", planeList)
        }.mkString("[", ", ", "]")
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |cent AS (SELECT vec_id AS cid, v AS cv FROM e
           |         WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
           |rt AS (SELECT e.vec_id, e.v, cid,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
           |       FROM e CROSS JOIN cent),
           |cells AS (SELECT vec_id, v, cid AS cell FROM rt WHERE rn = 1),
           |corp AS (SELECT * FROM cells WHERE vec_id % 5 <> 0),
           |b1 AS (SELECT * FROM cells WHERE vec_id % 10 = 0),
           |mm1 AS (SELECT a.vec_id FROM b1 a JOIN corp c ON a.cell = c.cell
           |          AND ${cosSql("a.v", "c.v")} >= 0.3
           |        UNION ALL
           |        SELECT a.vec_id FROM b1 a JOIN b1 b ON a.cell = b.cell
           |          AND b.vec_id < a.vec_id
           |          AND ${cosSql("a.v", "b.v")} >= 0.3),
           |kept1 AS (SELECT * FROM b1
           |          WHERE vec_id NOT IN (SELECT vec_id FROM mm1)),
           |idx AS (SELECT * FROM corp UNION ALL SELECT * FROM kept1),
           |p AS (SELECT vec_id, $pvSql AS pv FROM e),
           |pr AS (SELECT vec_id AS q_id, cid AS cell FROM rt
           |       WHERE vec_id % 10 = 5 AND rn <= ${SimSearch.IvfProbe}),
           |sc0 AS (SELECT pr.q_id, c.vec_id AS c_id,
           |          ${cosSql("pq.pv", "pc.pv")} AS pcos
           |        FROM pr JOIN idx c USING (cell)
           |        JOIN p pq ON pq.vec_id = pr.q_id
           |        JOIN p pc ON pc.vec_id = c.vec_id
           |        WHERE pr.q_id <> c.vec_id),
           |pre AS (SELECT q_id, c_id FROM (
           |          SELECT q_id, c_id,
           |            row_number() OVER (PARTITION BY q_id ORDER BY pcos DESC, c_id ASC) AS prn
           |          FROM sc0) WHERE prn <= 10),
           |scx AS (SELECT px.q_id, px.c_id, ${cosSql("q.v", "c.v")} AS cos
           |        FROM pre px
           |        JOIN e q ON q.vec_id = px.q_id
           |        JOIN e c ON c.vec_id = px.c_id),
           |rk AS (SELECT q_id, c_id, cos,
           |         row_number() OVER (PARTITION BY q_id
           |           ORDER BY cos DESC, c_id) AS rn
           |       FROM scx)
           |SELECT q_id, rn, c_id, cos FROM rk WHERE rn <= 3""".stripMargin
      },
      "JL-projected serving from the maintained index: stored d'-dim sidecar prefilter, exact full-dim re-rank on candidates"),

    // BLEND-SUSPECT residual gate (SemanticStream `residual`): the
    // embedding franken-doc — a vector averaged from two stored corpus
    // vectors in DIFFERENT cells — can land in a cell holding NEITHER
    // parent, where the probe-local dup cosine structurally never sees
    // either one. The r9 measure-first harness (ScaleLaws,
    // SCALE_MEASURED_r9 `franken_residual`) separates the populations
    // cleanly (blends: 98% top-1 stored cosine ≥ 0.60; novel
    // directions: zero), so the gate flags keepers whose WIDENED-probe
    // (4-cell) top-1 stored cosine reaches the band as
    // `blend_suspect`, attributing the top-1 neighbor, and excludes
    // them from the index fold. Batch = cross-cell blends of
    // consecutive corpus ids ∪ a novel control slice (vec_id % 10 = 0;
    // disjoint from corpus, which is % 5 <> 0); the oracle replays
    // assignment, the p = 1 dup gate, the 4-probe residual top-1, and
    // the amendment end to end, so both the flags AND the unchanged
    // dup/kept statuses are hash-checked.
    "q174_semantic_ingest_residual" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"semantic-residual-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb.where(col("vec_id") % 5 =!= 0), root)
        val cells = graft.sinks.Layout
          .readStatic(s, root, SemanticStream.CellsEntity).get
          .select(col("id"), col("cell"), col("v"))
        val blends = cells.toDF("a_id", "a_cell", "av")
          .join(cells.toDF("b_id", "b_cell", "bv"),
            col("b_id") === col("a_id") + 1 && col("a_cell") =!= col("b_cell"))
          .select((col("a_id") + lit(2000000L)).as("vec_id"),
            zip_with(col("av"), col("bv"),
              (x, y) => (x + y) / lit(2.0)).as("embedding"))
        val novel = emb.where(col("vec_id") % 10 === 0)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
        SemanticStream.ingestVectors(blends.unionByName(novel), root,
          residual = Some(0.6))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
              |cent AS (SELECT vec_id AS cid, v AS cv FROM e
              |         WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
              |rt AS (SELECT e.vec_id, e.v, cid,
              |         row_number() OVER (PARTITION BY e.vec_id
              |           ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
              |       FROM e CROSS JOIN cent),
              |cells AS (SELECT vec_id, v, cid AS cell FROM rt WHERE rn = 1),
              |corp AS (SELECT * FROM cells WHERE vec_id % 5 <> 0),
              |bat AS (SELECT a.vec_id + 2000000 AS vec_id,
              |          list_transform(range(1, len(a.v) + 1),
              |            i -> (CAST(a.v[i] AS DOUBLE) + CAST(b.v[i] AS DOUBLE))
              |                 / CAST(2.0 AS DOUBLE)) AS v
              |        FROM corp a JOIN corp b ON b.vec_id = a.vec_id + 1
              |         AND a.cell <> b.cell
              |        UNION ALL
              |        SELECT vec_id, list_transform(v, x -> CAST(x AS DOUBLE))
              |        FROM e WHERE vec_id % 10 = 0),
              |brt AS (SELECT bat.vec_id, bat.v, cid,
              |          row_number() OVER (PARTITION BY bat.vec_id
              |            ORDER BY ${cosSql("bat.v", "cv")} DESC, cid) AS rn
              |        FROM bat CROSS JOIN cent),
              |bc AS (SELECT vec_id, v, cid AS cell FROM brt WHERE rn = 1),
              |mm AS (SELECT a.vec_id, c.vec_id AS m_id, 1 AS fc
              |       FROM bc a JOIN corp c ON a.cell = c.cell
              |        AND ${cosSql("a.v", "c.v")} >= 0.3
              |       UNION ALL
              |       SELECT a.vec_id, b.vec_id AS m_id, 0 AS fc
              |       FROM bc a JOIN bc b ON a.cell = b.cell
              |        AND b.vec_id < a.vec_id
              |        AND ${cosSql("a.v", "b.v")} >= 0.3),
              |r AS (SELECT vec_id, min(m_id) AS rep_id,
              |        arg_min(fc, m_id) AS fc FROM mm GROUP BY 1),
              |man0 AS (SELECT b.vec_id, b.cell,
              |           CASE WHEN r.rep_id IS NULL THEN 'kept'
              |                WHEN r.fc = 1 THEN 'dup_corpus'
              |                ELSE 'dup_batch' END AS status, r.rep_id
              |         FROM bc b LEFT JOIN r USING (vec_id)),
              |bpr AS (SELECT vec_id, v, cid AS cell FROM brt WHERE rn <= 4),
              |sus AS (SELECT vec_id, s_id FROM (
              |          SELECT a.vec_id, c.vec_id AS s_id,
              |            row_number() OVER (PARTITION BY a.vec_id
              |              ORDER BY ${cosSql("a.v", "c.v")} DESC, c.vec_id)
              |              AS srn
              |          FROM bpr a JOIN corp c ON a.cell = c.cell
              |          WHERE ${cosSql("a.v", "c.v")} >= CAST(0.6 AS DOUBLE))
              |        WHERE srn = 1)
              |SELECT m.vec_id, m.cell,
              |  CASE WHEN m.status = 'kept' AND s.s_id IS NOT NULL
              |       THEN 'blend_suspect' ELSE m.status END AS status,
              |  CASE WHEN m.status = 'kept' AND s.s_id IS NOT NULL
              |       THEN s.s_id ELSE m.rep_id END AS rep_id
              |FROM man0 m LEFT JOIN sus s USING (vec_id)""".stripMargin),
      "blend-suspect residual gate: widened-probe top-1 band catches cross-cell embedding recompositions the probe-local dup cosine cannot see"),

    // LATE-INTERACTION (multi-vector) retrieval: MaxSim re-rank in the
    // ColBERT style — a document is a SET of sub-vectors and the score
    // is Σ_qpos max_cpos cos(q[qpos], c[cpos]): every query slot picks
    // its best-aligned document slot. Pooled single-vector retrieval
    // (q30) collapses that alignment; MaxSim keeps it, at T× the
    // vectors, so production runs it as a RE-RANK over a bounded
    // pooled-prefilter candidate set — exactly this plan: pooled
    // top-C candidates (q30's sanctioned broadcast-query scan), then a
    // candidate-semi-joined slice explosion and all-equi-join
    // max/sum cascade (C·T² cosine rows per query, corpus never
    // touched past the prefilter). The multi-vector view slices the
    // 64-dim embedding into 8×8-dim sub-vectors (deterministic stand-in
    // for an encoder's token vectors — see LateInteraction's object
    // doc); scores sum the per-slot 6dp maxima through DECIMAL(20,6),
    // so both engines produce bit-identical doubles.
    "q176_maxsim_topk" -> Q(
      (s, d) => {
        val emb = embeddings(s, d)
        graft.ops.LateInteraction.maxSimTopK(
          emb.where(col("vec_id") < 4), emb, "vec_id", "embedding",
          k = 3, prefilterC = 16)
      },
      Some {
        val slot = "(SELECT unnest(range(0, 8)) AS pos)"
        def sl(v: String) = s"list_slice($v, p.pos*8 + 1, p.pos*8 + 8)"
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |q AS (SELECT vec_id, v FROM e WHERE vec_id < 4),
           |pre0 AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |           ${cosSql("q.v", "c.v")} AS cos
           |         FROM q JOIN e c ON q.vec_id <> c.vec_id),
           |pre AS (SELECT q_id, c_id FROM (
           |          SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |            ORDER BY cos DESC, c_id) AS prn FROM pre0)
           |        WHERE prn <= 16),
           |mq AS (SELECT vec_id AS q_id, p.pos AS qpos, ${sl("v")} AS sv
           |       FROM q, $slot p),
           |mc AS (SELECT vec_id AS c_id, p.pos AS cpos, ${sl("v")} AS sv
           |       FROM e, $slot p
           |       WHERE vec_id IN (SELECT DISTINCT c_id FROM pre)),
           |pc AS (SELECT pre.q_id, pre.c_id, mq.qpos,
           |         ${cosSqlZ("mq.sv", "mc.sv")} AS cos
           |       FROM pre JOIN mq USING (q_id) JOIN mc USING (c_id)),
           |mx AS (SELECT q_id, c_id, qpos, max(cos) AS m
           |       FROM pc GROUP BY 1, 2, 3),
           |sc AS (SELECT q_id, c_id,
           |         CAST(sum(CAST(m AS DECIMAL(20,6))) AS DOUBLE) AS maxsim
           |       FROM mx GROUP BY 1, 2),
           |r AS (SELECT q_id, c_id, maxsim, row_number() OVER (
           |        PARTITION BY q_id ORDER BY maxsim DESC, c_id) AS rn
           |      FROM sc)
           |SELECT q_id, rn, c_id, maxsim FROM r WHERE rn <= 3""".stripMargin
      },
      "late-interaction MaxSim re-rank: pooled top-C prefilter, candidate-bounded multi-vector max/sum cascade"),

    // q176 SERVED FROM THE MAINTAINED INDEX at the PINNED policy
    // knobs: the candidate stage is SemanticStream.sqCandidates —
    // probe assignment (nProbe = ServePolicy.NProbe = 12) → stored
    // cells → asymmetric SQ distance over stored codes → top-C
    // (C = ServePolicy.PrefilterC = 128) — and the MaxSim cascade
    // re-ranks THOSE pairs, reading corpus vectors from the stored
    // cells entity (the only full-vector IO is the candidate slice;
    // the corpus is never rescanned). This is the production
    // late-interaction cascade: ANN first stage from the maintained
    // index, multi-vector re-rank second — q176's brute prefilter
    // swapped out with nothing downstream changing. The oracle
    // replays bootstrap (seed codebook → cells → SQ grid → codes) →
    // policy-knob probes → asymmetric prefilter → slice cascade →
    // decimal-summed MaxSim top-k end to end.
    "q177_maxsim_served" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"maxsim-served-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb, root, withSq = true)
        // the pooled-policy knobs are passed EXPLICITLY (the method no
        // longer defaults to them): this query pins the pooled-face
        // cascade's arithmetic; its recall law is q210's slot face
        SemanticStream.queryTopKMaxSim(
          emb.where(col("vec_id") < 4), root, topK = 3,
          prefilterC = SemanticStream.ServePolicy.PrefilterC,
          nProbe = SemanticStream.ServePolicy.NProbe)
      },
      Some {
        val recon = "(prm.mn[i] + CAST(cd.codes[i] AS DOUBLE) * prm.istep[i])"
        val slot = "(SELECT unnest(range(0, 8)) AS pos)"
        def sl(v: String) = s"list_slice($v, p.pos*8 + 1, p.pos*8 + 8)"
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
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
           |       WHERE vec_id < 4 AND crn <= 12),
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
           |          FROM sc0) WHERE prn <= 128),
           |q AS (SELECT vec_id, v FROM e WHERE vec_id < 4),
           |mq AS (SELECT vec_id AS q_id, p.pos AS qpos, ${sl("v")} AS sv
           |       FROM q, $slot p),
           |mc AS (SELECT vec_id AS c_id, p.pos AS cpos, ${sl("v")} AS sv
           |       FROM e, $slot p
           |       WHERE vec_id IN (SELECT DISTINCT c_id FROM pre)),
           |pc AS (SELECT pre.q_id, pre.c_id, mq.qpos,
           |         ${cosSqlZ("mq.sv", "mc.sv")} AS cos
           |       FROM pre JOIN mq USING (q_id) JOIN mc USING (c_id)),
           |mx AS (SELECT q_id, c_id, qpos, max(cos) AS m
           |       FROM pc GROUP BY 1, 2, 3),
           |sc AS (SELECT q_id, c_id,
           |         CAST(sum(CAST(m AS DECIMAL(20,6))) AS DOUBLE) AS maxsim
           |       FROM mx GROUP BY 1, 2),
           |r AS (SELECT q_id, c_id, maxsim, row_number() OVER (
           |        PARTITION BY q_id ORDER BY maxsim DESC, c_id) AS rn
           |      FROM sc)
           |SELECT q_id, rn, c_id, maxsim FROM r WHERE rn <= 3""".stripMargin
      },
      "late-interaction MaxSim served from the maintained index: SQ candidate stage at the pinned policy knobs, stored-vector slice re-rank"),

    // SLOT-LEVEL stage-1 for served late interaction — the PLAID/
    // ColBERT candidate shape, closing q177's measured recall ceiling:
    // the pooled SQ prefilter's recall@3 against the covering MaxSim
    // gold is ≈ C/n when pooled and multi-vector orderings decorrelate
    // (maxsim_serve, SCALE.md r10 — 0.079 at the policy knobs), so
    // corpus growth drives any bounded C to zero. Here the INDEX holds
    // the slot vectors themselves: a frozen slot-space codebook
    // (seeded like the main one) + one (id, pos, cell) row per kept
    // doc × slot. GATHER = the union of per-query-slot probes (a doc
    // is reachable whenever ANY slot aligns — the very signal MaxSim
    // ranks by); CUT = PLAID's cheap centroid interaction over the
    // gathered set (Σ max of the per-(query-slot, cell) cosines the
    // probe fold already computed — top-CutC survive, so the code-
    // kernel bill is bounded by the policy, not the gather width);
    // SCORE = every surviving candidate's full T×T slot
    // interaction de-quantized from its stored SQ code row (the
    // SqSlotCosExpr kernel — near-exact, byte reads, all T terms
    // present; PLAID's decompression stage on the SQ sidecar), maxima
    // summed decimal-exactly; top-C feeds the unchanged C·T² cascade.
    // Every join past the plan-carried fold is an equi-join; the r11
    // slot_sweep rows measure recall@3 ≥ 0.9 at C ≪ n where the
    // pooled stage-1 sat at ≈ C/n. The oracle replays slot slicing →
    // seed slot codebook → assignment → probes → SQ-reconstructed
    // slot scoring → top-C → cascade end to end.
    "q210_maxsim_slot_served" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"maxsim-slots-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true)
        SemanticStream.queryTopKMaxSimSlots(
          emb.where(col("vec_id") < 4), root, topK = 3,
          prefilterC = SemanticStream.SlotPolicy.PrefilterC,
          slotNProbe = SemanticStream.SlotPolicy.SlotNProbe,
          cutC = SemanticStream.SlotPolicy.CutC)
      },
      Some(slotServedOracleSql),
      "slot-level late-interaction serving (PLAID shape): per-query-slot probes into the maintained slot index, SQ-code-scored stage-1, candidate-bounded MaxSim cascade"),

    // FORWARD-PROJECTION-ARMED slot serve — q210's exact pipeline with
    // the doc_id-bucketed forward copy of the slot index REGISTERED on
    // the store, so the centroid cut's candidate-keyed join reads the
    // bucketed layout instead of re-shuffling the corpus-cardinality
    // slot rows (measured 6→5 exchanges at n=8000, `slot_forward`;
    // BucketingSpec pins both the factored-stage plan and the serve
    // call's). The ver-tagged staleness guard means the swap is
    // LAYOUT-ONLY: results are bit-identical to the plain path, which
    // is why the oracle is q210's SQL verbatim — the gate asserts
    // engine equality of the forward-armed serve, not a new
    // semantics. Its own store root (not q210's) so the registered
    // q210/q215/q217 paths keep serving the oracle-checked plain
    // entity.
    "q219_maxsim_forward_serve" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"maxsim-fwd-$d")
        val loc = graft.Temps.dirFor(s"maxsim-fwd-db-$d")
        s.sql(s"CREATE DATABASE IF NOT EXISTS graft_fwd LOCATION '$loc'")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true)
        SemanticStream.writeSlotForward(s, root, "graft_fwd.slot_cells", 8)
        SemanticStream.queryTopKMaxSimSlots(
          emb.where(col("vec_id") < 4), root, topK = 3,
          prefilterC = SemanticStream.SlotPolicy.PrefilterC,
          slotNProbe = SemanticStream.SlotPolicy.SlotNProbe,
          cutC = SemanticStream.SlotPolicy.CutC)
      },
      Some(slotServedOracleSql),
      "forward-projection-armed slot serve: the centroid cut reads the registered doc_id-bucketed copy of the slot index (ver-guarded, retrain-refreshed) — layout-only, so the oracle is the plain serve's SQL verbatim"),

    // METADATA-FILTERED late interaction — q188's filtered-search
    // contract composed onto the slot face: the eligible-id set
    // semi-joins the SLOT INDEX before gather, so the whole candidate
    // and top-C budget lands on eligible docs (post-filtering an
    // unfiltered top-k starves the re-rank at selectivity s to ~s·C
    // survivors — q188/FilteredAnnSpec measured the contrast on the
    // pooled face; the failure mode is identical here). The semi-join
    // PRUNES slot rows, never adds a scan; everything downstream
    // (code-row scoring, top-C, the exact cascade) is unchanged and
    // automatically eligible-only because candidates are. At 100 TB
    // the allowed set is a dimension predicate resolved to ids — an
    // equi-join against the slot index, the same shape as the pooled
    // face's.
    "q211_filtered_maxsim" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"maxsim-slots-$d") // q210's store
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true)
        val allowed = emb.where(col("label") === 3)
          .select(col("vec_id").as("id"))
        SemanticStream.queryTopKMaxSimSlots(
          emb.where(col("vec_id") < 4), root, topK = 3,
          prefilterC = SemanticStream.SlotPolicy.PrefilterC,
          slotNProbe = SemanticStream.SlotPolicy.SlotNProbe,
          cutC = SemanticStream.SlotPolicy.CutC, allowed = Some(allowed))
      },
      Some {
        val slot = "(SELECT unnest(range(0, 8)) AS pos)"
        def sl(v: String) = s"list_slice($v, p.pos*8 + 1, p.pos*8 + 8)"
        val recon = "(prm.mn[cp.cpos*8 + i] + " +
          "CAST(cd.codes[cp.cpos*8 + i] AS DOUBLE) * prm.istep[cp.cpos*8 + i])"
        def fold(terms: String) =
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
            s"list_transform(range(1, 9), i -> $terms)), (acc, x) -> acc + x)"
        // zero-norm slots score 0.0, mirroring SqSlotCosExpr's guard —
        // an unguarded division yields NaN, which max() ranks greatest
        // in BOTH engines, silently promoting degenerate candidates
        val qqFold = fold("CAST(qs.sv[i] AS DOUBLE) * CAST(qs.sv[i] AS DOUBLE)")
        val ccFold = fold(s"$recon * $recon")
        val slotCos = s"(CASE WHEN $qqFold = 0 OR $ccFold = 0 " +
          s"THEN CAST(0.0 AS DOUBLE) " +
          s"ELSE round(${fold(s"CAST(qs.sv[i] AS DOUBLE) * $recon")} / " +
          s"(sqrt($qqFold) * sqrt($ccFold)), 6) END)"
        s"""WITH e AS (SELECT vec_id, embedding AS v, label FROM embeddings),
           |ok AS (SELECT vec_id FROM e WHERE label = 3),
           |slt AS (SELECT vec_id, p.pos AS pos, ${sl("v")} AS sv
           |        FROM e, $slot p),
           |scb AS (SELECT vec_id*8 + pos AS cid, sv AS cv FROM slt
           |        ORDER BY cid LIMIT ${graft.streaming.SemanticStream.SlotK}),
           |asn AS (SELECT slt.vec_id, slt.pos, slt.sv, cid,
           |          row_number() OVER (PARTITION BY slt.vec_id, slt.pos
           |            ORDER BY ${cosSql("slt.sv", "cv")} DESC, cid) AS crn
           |        FROM slt CROSS JOIN scb),
           |scell AS (SELECT vec_id AS c_id, pos AS cpos, cid AS cell
           |          FROM asn SEMI JOIN ok USING (vec_id) WHERE crn = 1),
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
           |qpr AS (SELECT vec_id AS q_id, cid AS cell
           |        FROM asn WHERE vec_id < 4
           |          AND crn <= ${graft.streaming.SemanticStream.SlotPolicy.SlotNProbe}),
           |cand AS (SELECT DISTINCT p.q_id, scell.c_id
           |         FROM (SELECT DISTINCT q_id, cell FROM qpr) p
           |         JOIN scell USING (cell)
           |         WHERE p.q_id <> scell.c_id),
           |${slotCutCtesSql("vec_id < 4")}
           |sl1 AS (SELECT cut.q_id, cut.c_id, qs.pos AS qpos, cp.cpos,
           |          $slotCos AS sc
           |        FROM cut
           |        JOIN slt qs ON qs.vec_id = cut.q_id
           |        CROSS JOIN (SELECT unnest(range(0, 8)) AS cpos) cp
           |        JOIN cd ON cd.vec_id = cut.c_id
           |        CROSS JOIN prm),
           |mx1 AS (SELECT q_id, c_id, qpos, max(sc) AS mxc
           |        FROM sl1 GROUP BY 1, 2, 3),
           |s1 AS (SELECT q_id, c_id,
           |         CAST(sum(CAST(mxc AS DECIMAL(20,6))) AS DOUBLE) AS s1
           |       FROM mx1 GROUP BY 1, 2),
           |pre AS (SELECT q_id, c_id FROM (
           |          SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |            ORDER BY s1 DESC, c_id) AS prn FROM s1)
           |        WHERE prn <= ${graft.streaming.SemanticStream.SlotPolicy.PrefilterC}),
           |q AS (SELECT vec_id, v FROM e WHERE vec_id < 4),
           |mq AS (SELECT vec_id AS q_id, p.pos AS qpos, ${sl("v")} AS sv
           |       FROM q, $slot p),
           |mc AS (SELECT vec_id AS c_id, p.pos AS cpos, ${sl("v")} AS sv
           |       FROM e, $slot p
           |       WHERE vec_id IN (SELECT DISTINCT c_id FROM pre)),
           |pc AS (SELECT pre.q_id, pre.c_id, mq.qpos,
           |         ${cosSqlZ("mq.sv", "mc.sv")} AS cos
           |       FROM pre JOIN mq USING (q_id) JOIN mc USING (c_id)),
           |mx AS (SELECT q_id, c_id, qpos, max(cos) AS m
           |       FROM pc GROUP BY 1, 2, 3),
           |sc AS (SELECT q_id, c_id,
           |         CAST(sum(CAST(m AS DECIMAL(20,6))) AS DOUBLE) AS maxsim
           |       FROM mx GROUP BY 1, 2),
           |r AS (SELECT q_id, c_id, maxsim, row_number() OVER (
           |        PARTITION BY q_id ORDER BY maxsim DESC, c_id) AS rn
           |      FROM sc)
           |SELECT q_id, rn, c_id, maxsim FROM r WHERE rn <= 3""".stripMargin
      },
      "metadata-filtered late interaction: eligible ids semi-join the slot index BEFORE gather, so the whole candidate budget lands on eligible docs"),

    // RETRIEVAL-QUALITY METRICS of the served dense path — the
    // evaluation op every retrieval deployment runs: per query,
    // recall@10 hits, MRR (reciprocal served-rank of the exact top-1)
    // and nDCG@10 (binary relevance = membership in the exact top-10)
    // of queryTopKSq AT THE PINNED POLICY KNOBS against the full-scan
    // gold. The DCG discounts 1/log2(i+1), i = 1..10, are computed
    // ONCE in Scala and embedded as round-tripping literals in BOTH
    // the Spark plan and the oracle SQL (the keccak-golden precedent)
    // — no runtime transcendental, so cross-engine agreement is by
    // construction; per-query DCG sums the literal terms through
    // DECIMAL, and nDCG/MRR are single IEEE divisions of identical
    // doubles rounded to 6dp. Scale shape: gold is the sanctioned
    // ≤8-row broadcast-query exact scan (the measurement baseline,
    // q127's pattern); the served leg is the bounded stored-index
    // plan; metrics are k-row-per-query joins + one aggregate.
    "q183_retrieval_metrics" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"retr-metrics-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb, root, withSq = true)
        val q = emb.where(col("vec_id") < 8)
        val gold = SimSearch.bruteForceTopK(q, emb, "vec_id", "embedding",
            k = 10)
          .select(col("q_id"), col("c_id"), col("rn").as("grn"))
          .localCheckpoint() // read twice: join + top-1 slice
        val top1 = gold.where(col("grn") === 1)
          .select(col("q_id"), col("c_id").as("t1"))
        val served = SemanticStream.queryTopKSq(q, root, topK = 10,
            prefilterC = SemanticStream.ServePolicy.PrefilterC,
            nProbe = SemanticStream.ServePolicy.NProbe)
          .select(col("q_id"), col("c_id"), col("rn").as("srn"))
        val terms = (1 to 10).map(i => BigDecimal(
          1.0 / (math.log(i + 1.0) / math.log(2.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))
        val idcg = terms.sum.toDouble
        val termArr = array(terms.map(t => lit(t.toDouble)): _*)
        // gold is HARD-bounded (8 queries x k=10 rows) but stats-less
        // behind its localCheckpoint, so the planner sort-merged this
        // outer join locally and always would at scale; broadcast the
        // bounded side — the served ranking streams
        served.join(broadcast(gold), Seq("q_id", "c_id"), "left_outer")
          .join(broadcast(top1), Seq("q_id"))
          .groupBy(col("q_id"))
          .agg(
            sum(when(col("grn").isNotNull, 1L).otherwise(0L)).as("hits10"),
            max(when(col("c_id") === col("t1"),
              round(lit(1.0) / col("srn"), 6)).otherwise(lit(0.0))).as("rr"),
            round(
              sum(when(col("grn").isNotNull,
                element_at(termArr, col("srn").cast("int")))
                .otherwise(lit(0.0)).cast("decimal(20,6)")).cast("double") /
                lit(idcg), 6).as("ndcg"))
      },
      Some {
        val recon = "(prm.mn[i] + CAST(cd.codes[i] AS DOUBLE) * prm.istep[i])"
        val terms = (1 to 10).map(i => BigDecimal(
          1.0 / (math.log(i + 1.0) / math.log(2.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))
        val idcg = terms.sum.toDouble
        val termList = terms.map(t => s"CAST(${t.toDouble} AS DOUBLE)")
          .mkString("[", ", ", "]")
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |q AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
           |g0 AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |         ${cosSql("q.v", "c.v")} AS cos
           |       FROM q JOIN e c ON q.vec_id <> c.vec_id),
           |gold AS (SELECT q_id, c_id, grn FROM (
           |           SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |             ORDER BY cos DESC, c_id) AS grn FROM g0)
           |         WHERE grn <= 10),
           |top1 AS (SELECT q_id, c_id AS t1 FROM gold WHERE grn = 1),
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
           |       WHERE vec_id < 8 AND crn <= 12),
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
           |          FROM sc0) WHERE prn <= 128),
           |scx AS (SELECT p.q_id, p.c_id, ${cosSql("qq.v", "cc.v")} AS cos
           |        FROM pre p
           |        JOIN e qq ON qq.vec_id = p.q_id
           |        JOIN e cc ON cc.vec_id = p.c_id),
           |served AS (SELECT q_id, c_id, srn FROM (
           |             SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |               ORDER BY cos DESC, c_id) AS srn FROM scx)
           |           WHERE srn <= 10),
           |terms(tl) AS (SELECT $termList),
           |j AS (SELECT s.q_id, s.c_id, s.srn, g.grn, t.t1
           |      FROM served s
           |      LEFT JOIN gold g ON g.q_id = s.q_id AND g.c_id = s.c_id
           |      JOIN top1 t ON t.q_id = s.q_id)
           |SELECT j.q_id,
           |  CAST(sum(CASE WHEN grn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits10,
           |  max(CASE WHEN c_id = t1 THEN round(CAST(1.0 AS DOUBLE) / srn, 6)
           |      ELSE CAST(0.0 AS DOUBLE) END) AS rr,
           |  round(CAST(sum(CAST(CASE WHEN grn IS NOT NULL THEN tl[srn]
           |      ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(20,6))) AS DOUBLE) /
           |    CAST($idcg AS DOUBLE), 6) AS ndcg
           |FROM j CROSS JOIN terms
           |GROUP BY 1""".stripMargin
      },
      "retrieval metrics of the policy-knob served path vs full-scan gold: recall@10, MRR, nDCG@10 with literal-embedded discounts"),

    // q183 FOR THE MULTI-VECTOR FACE — retrieval metrics of the slot
    // stage-1 cascade (q210) against the COVERING MaxSim gold. This is
    // the evaluation harness the r10 maxsim_serve lesson demands: a
    // bounded-C "gold" is unconverged proxy-vs-proxy agreement, so the
    // gold here admits EVERY pair (prefilterC = n — the re-rank IS
    // unbounded MaxSim; the sanctioned measurement-baseline BNLJ, like
    // q183's full-scan gold) and the served leg runs the pinned
    // SlotPolicy knobs (centroid cut armed, q210's serve path
    // verbatim). The gold is READ from the per-(JVM, sfDir) memoized
    // parquet copy — q214 is the query that computes and bills it
    // (the r12 bench-hygiene split; same accounting as the curate
    // scenario store). Metrics are q183's exactly:
    // recall@10 hits, MRR of the gold top-1's served rank, nDCG@10
    // with the DCG discounts embedded as round-tripping literals in
    // both engines. Scale shape: the gold is measurement-only; the
    // served leg is the bounded production plan; metrics are
    // k-row-per-query joins + one aggregate.
    "q212_maxsim_metrics" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"maxsim-slots-$d") // q210's store
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true)
        val q = emb.where(col("vec_id") < 4)
        // the memoized covering gold (q214 carries its honest bill)
        val gold = s.read.parquet(maxSimGoldPath(s, d))
          .select(col("q_id"), col("c_id"), col("rn").as("grn"))
        val top1 = gold.where(col("grn") === 1)
          .select(col("q_id"), col("c_id").as("t1"))
        val served = SemanticStream.queryTopKMaxSimSlots(q, root,
            topK = 10, prefilterC = SemanticStream.SlotPolicy.PrefilterC,
            slotNProbe = SemanticStream.SlotPolicy.SlotNProbe,
            cutC = SemanticStream.SlotPolicy.CutC)
          .select(col("q_id"), col("c_id"), col("rn").as("srn"))
        val terms = (1 to 10).map(i => BigDecimal(
          1.0 / (math.log(i + 1.0) / math.log(2.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))
        val idcg = terms.sum.toDouble
        val termArr = array(terms.map(t => lit(t.toDouble)): _*)
        served.join(gold, Seq("q_id", "c_id"), "left_outer")
          .join(broadcast(top1), Seq("q_id"))
          .groupBy(col("q_id"))
          .agg(
            sum(when(col("grn").isNotNull, 1L).otherwise(0L)).as("hits10"),
            max(when(col("c_id") === col("t1"),
              round(lit(1.0) / col("srn"), 6)).otherwise(lit(0.0))).as("rr"),
            round(
              sum(when(col("grn").isNotNull,
                element_at(termArr, col("srn").cast("int")))
                .otherwise(lit(0.0)).cast("decimal(20,6)")).cast("double") /
                lit(idcg), 6).as("ndcg"))
      },
      Some {
        val slot = "(SELECT unnest(range(0, 8)) AS pos)"
        def sl(v: String) = s"list_slice($v, p.pos*8 + 1, p.pos*8 + 8)"
        val recon = "(prm.mn[cp.cpos*8 + i] + " +
          "CAST(cd.codes[cp.cpos*8 + i] AS DOUBLE) * prm.istep[cp.cpos*8 + i])"
        def fold(terms: String) =
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
            s"list_transform(range(1, 9), i -> $terms)), (acc, x) -> acc + x)"
        // zero-norm slots score 0.0, mirroring SqSlotCosExpr's guard —
        // an unguarded division yields NaN, which max() ranks greatest
        // in BOTH engines, silently promoting degenerate candidates
        val qqFold = fold("CAST(qs.sv[i] AS DOUBLE) * CAST(qs.sv[i] AS DOUBLE)")
        val ccFold = fold(s"$recon * $recon")
        val slotCos = s"(CASE WHEN $qqFold = 0 OR $ccFold = 0 " +
          s"THEN CAST(0.0 AS DOUBLE) " +
          s"ELSE round(${fold(s"CAST(qs.sv[i] AS DOUBLE) * $recon")} / " +
          s"(sqrt($qqFold) * sqrt($ccFold)), 6) END)"
        val terms = (1 to 10).map(i => BigDecimal(
          1.0 / (math.log(i + 1.0) / math.log(2.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))
        val idcg = terms.sum.toDouble
        val termList = terms.map(t => s"CAST(${t.toDouble} AS DOUBLE)")
          .mkString("[", ", ", "]")
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |q AS (SELECT vec_id, v FROM e WHERE vec_id < 4),
           |mqg AS (SELECT vec_id AS q_id, p.pos AS qpos, ${sl("v")} AS sv
           |        FROM q, $slot p),
           |mcg AS (SELECT vec_id AS c_id, p.pos AS cpos, ${sl("v")} AS sv
           |        FROM e, $slot p),
           |pcg AS (SELECT mqg.q_id, mcg.c_id, mqg.qpos,
           |          ${cosSqlZ("mqg.sv", "mcg.sv")} AS cos
           |        FROM mqg JOIN mcg ON mqg.q_id <> mcg.c_id),
           |mxg AS (SELECT q_id, c_id, qpos, max(cos) AS m
           |        FROM pcg GROUP BY 1, 2, 3),
           |scg AS (SELECT q_id, c_id,
           |          CAST(sum(CAST(m AS DECIMAL(20,6))) AS DOUBLE) AS maxsim
           |        FROM mxg GROUP BY 1, 2),
           |gold AS (SELECT q_id, c_id, grn FROM (
           |           SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |             ORDER BY maxsim DESC, c_id) AS grn FROM scg)
           |         WHERE grn <= 10),
           |top1 AS (SELECT q_id, c_id AS t1 FROM gold WHERE grn = 1),
           |slt AS (SELECT vec_id, p.pos AS pos, ${sl("v")} AS sv
           |        FROM e, $slot p),
           |scb AS (SELECT vec_id*8 + pos AS cid, sv AS cv FROM slt
           |        ORDER BY cid LIMIT ${graft.streaming.SemanticStream.SlotK}),
           |asn AS (SELECT slt.vec_id, slt.pos, slt.sv, cid,
           |          row_number() OVER (PARTITION BY slt.vec_id, slt.pos
           |            ORDER BY ${cosSql("slt.sv", "cv")} DESC, cid) AS crn
           |        FROM slt CROSS JOIN scb),
           |scell AS (SELECT vec_id AS c_id, pos AS cpos, cid AS cell
           |          FROM asn WHERE crn = 1),
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
           |qpr AS (SELECT vec_id AS q_id, cid AS cell
           |        FROM asn WHERE vec_id < 4
           |          AND crn <= ${graft.streaming.SemanticStream.SlotPolicy.SlotNProbe}),
           |cand AS (SELECT DISTINCT p.q_id, scell.c_id
           |         FROM (SELECT DISTINCT q_id, cell FROM qpr) p
           |         JOIN scell USING (cell)
           |         WHERE p.q_id <> scell.c_id),
           |${slotCutCtesSql("vec_id < 4")}
           |sl1 AS (SELECT cut.q_id, cut.c_id, qs.pos AS qpos, cp.cpos,
           |          $slotCos AS sc
           |        FROM cut
           |        JOIN slt qs ON qs.vec_id = cut.q_id
           |        CROSS JOIN (SELECT unnest(range(0, 8)) AS cpos) cp
           |        JOIN cd ON cd.vec_id = cut.c_id
           |        CROSS JOIN prm),
           |mx1 AS (SELECT q_id, c_id, qpos, max(sc) AS mxc
           |        FROM sl1 GROUP BY 1, 2, 3),
           |s1 AS (SELECT q_id, c_id,
           |         CAST(sum(CAST(mxc AS DECIMAL(20,6))) AS DOUBLE) AS s1
           |       FROM mx1 GROUP BY 1, 2),
           |pre AS (SELECT q_id, c_id FROM (
           |          SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |            ORDER BY s1 DESC, c_id) AS prn FROM s1)
           |        WHERE prn <= ${graft.streaming.SemanticStream.SlotPolicy.PrefilterC}),
           |mq AS (SELECT vec_id AS q_id, p.pos AS qpos, ${sl("v")} AS sv
           |       FROM q, $slot p),
           |mc AS (SELECT vec_id AS c_id, p.pos AS cpos, ${sl("v")} AS sv
           |       FROM e, $slot p
           |       WHERE vec_id IN (SELECT DISTINCT c_id FROM pre)),
           |pc AS (SELECT pre.q_id, pre.c_id, mq.qpos,
           |         ${cosSqlZ("mq.sv", "mc.sv")} AS cos
           |       FROM pre JOIN mq USING (q_id) JOIN mc USING (c_id)),
           |mx AS (SELECT q_id, c_id, qpos, max(cos) AS m
           |       FROM pc GROUP BY 1, 2, 3),
           |sc2 AS (SELECT q_id, c_id,
           |          CAST(sum(CAST(m AS DECIMAL(20,6))) AS DOUBLE) AS maxsim
           |        FROM mx GROUP BY 1, 2),
           |served AS (SELECT q_id, c_id, srn FROM (
           |             SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |               ORDER BY maxsim DESC, c_id) AS srn FROM sc2)
           |           WHERE srn <= 10),
           |terms(tl) AS (SELECT $termList),
           |j AS (SELECT s.q_id, s.c_id, s.srn, g.grn, t.t1
           |      FROM served s
           |      LEFT JOIN gold g ON g.q_id = s.q_id AND g.c_id = s.c_id
           |      JOIN top1 t ON t.q_id = s.q_id)
           |SELECT j.q_id,
           |  CAST(sum(CASE WHEN grn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits10,
           |  max(CASE WHEN c_id = t1 THEN round(CAST(1.0 AS DOUBLE) / srn, 6)
           |      ELSE CAST(0.0 AS DOUBLE) END) AS rr,
           |  round(CAST(sum(CAST(CASE WHEN grn IS NOT NULL THEN tl[srn]
           |      ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(20,6))) AS DOUBLE) /
           |    CAST($idcg AS DOUBLE), 6) AS ndcg
           |FROM j CROSS JOIN terms
           |GROUP BY 1""".stripMargin
      },
      "retrieval metrics of the slot-face MaxSim cascade vs the COVERING multi-vector gold: recall@10, MRR, nDCG@10"),

    // THE COVERING MAXSIM GOLD as its own registered query — the
    // bench-hygiene split (r11 verdict #6): q212 was the 5th-slowest
    // bench query because this measurement baseline re-ran inside it
    // every invocation. Exactly the curate-scenario accounting: this
    // query RE-COMPUTES the covering gold per invocation (prefilterC =
    // n through the sanctioned brute pooled scan — measurement-only
    // BNLJ, whitelisted; the unbounded-MaxSim baseline every slot-face
    // recall number is measured against), so its full cost is visible
    // under one name in the bench artifact, while q212 reads the
    // memoized copy and bills only its served leg + metric joins.
    "q214_maxsim_covering_gold" -> Q(
      (s, d) => maxSimCoveringGold(s, d)
        .select(col("q_id"), col("rn"), col("c_id"), col("maxsim")),
      Some {
        val slot = "(SELECT unnest(range(0, 8)) AS pos)"
        def sl(v: String) = s"list_slice($v, p.pos*8 + 1, p.pos*8 + 8)"
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |q AS (SELECT vec_id, v FROM e WHERE vec_id < 4),
           |mqg AS (SELECT vec_id AS q_id, p.pos AS qpos, ${sl("v")} AS sv
           |        FROM q, $slot p),
           |mcg AS (SELECT vec_id AS c_id, p.pos AS cpos, ${sl("v")} AS sv
           |        FROM e, $slot p),
           |pcg AS (SELECT mqg.q_id, mcg.c_id, mqg.qpos,
           |          ${cosSqlZ("mqg.sv", "mcg.sv")} AS cos
           |        FROM mqg JOIN mcg ON mqg.q_id <> mcg.c_id),
           |mxg AS (SELECT q_id, c_id, qpos, max(cos) AS m
           |        FROM pcg GROUP BY 1, 2, 3),
           |scg AS (SELECT q_id, c_id,
           |          CAST(sum(CAST(m AS DECIMAL(20,6))) AS DOUBLE) AS maxsim
           |        FROM mxg GROUP BY 1, 2),
           |r AS (SELECT q_id, c_id, maxsim, row_number() OVER (
           |        PARTITION BY q_id ORDER BY maxsim DESC, c_id) AS rn
           |      FROM scg)
           |SELECT q_id, rn, c_id, maxsim FROM r WHERE rn <= 10""".stripMargin
      },
      "the covering (prefilterC = n) MaxSim gold as a first-class query: the measurement baseline q212's metrics read, billed under its own name"),

    // SLOT-ALIGNMENT DIAGNOSTIC — the r12 verdict's #2 ask: the pinned
    // SlotPolicy's arm/disarm rule for the centroid cut was "trust
    // that the encoder is trained" while the measured stakes are
    // recall@3 0.96 (armed on aligned geometry) vs 0.41 (armed on
    // decorrelated). This query SERVES the number that decides the
    // knob, from the maintained index: per sampled query, the
    // RETENTION of the code-scored ordering's top-k (stage 1b's
    // near-exact interaction) inside the centroid ordering's top-cutC
    // (stage 1a′'s cheap interaction) over the SAME gathered
    // candidates — literally what an armed cut does (keep centroid
    // top-cutC, discard the rest), so the cut is harmless exactly
    // when this reads ≈ 1. The `slot_align` family measures the
    // geometry separation at scale; the oracle replays gather →
    // all-cell centroid cosines → decimal centroid sums → SQ-code
    // scoring → both rankings → overlap. Cost is sample-bounded: one
    // gather + one uncut code-scoring pass. cutC here is 16 (not the
    // pinned 128) so the gate exercises a non-trivial cut at sf0.01
    // gather sizes; the bench runs the pinned knobs.
    "q215_slot_alignment" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"maxsim-slots-$d") // q210's store
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true)
        SemanticStream.slotCutAgreement(
          emb.where(col("vec_id") < 4), root, k = 8,
          slotNProbe = SemanticStream.SlotPolicy.SlotNProbe, cutC = 16)
      },
      Some {
        val slot = "(SELECT unnest(range(0, 8)) AS pos)"
        def sl(v: String) = s"list_slice($v, p.pos*8 + 1, p.pos*8 + 8)"
        val recon = "(prm.mn[cp.cpos*8 + i] + " +
          "CAST(cd.codes[cp.cpos*8 + i] AS DOUBLE) * prm.istep[cp.cpos*8 + i])"
        def fold(terms: String) =
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
            s"list_transform(range(1, 9), i -> $terms)), (acc, x) -> acc + x)"
        val qqFold = fold("CAST(qs.sv[i] AS DOUBLE) * CAST(qs.sv[i] AS DOUBLE)")
        val ccFold = fold(s"$recon * $recon")
        val slotCos = s"(CASE WHEN $qqFold = 0 OR $ccFold = 0 " +
          s"THEN CAST(0.0 AS DOUBLE) " +
          s"ELSE round(${fold(s"CAST(qs.sv[i] AS DOUBLE) * $recon")} / " +
          s"(sqrt($qqFold) * sqrt($ccFold)), 6) END)"
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |slt AS (SELECT vec_id, p.pos AS pos, ${sl("v")} AS sv
           |        FROM e, $slot p),
           |scb AS (SELECT vec_id*8 + pos AS cid, sv AS cv FROM slt
           |        ORDER BY cid LIMIT ${graft.streaming.SemanticStream.SlotK}),
           |asn AS (SELECT slt.vec_id, slt.pos, slt.sv, cid,
           |          row_number() OVER (PARTITION BY slt.vec_id, slt.pos
           |            ORDER BY ${cosSql("slt.sv", "cv")} DESC, cid) AS crn
           |        FROM slt CROSS JOIN scb),
           |scell AS (SELECT vec_id AS c_id, pos AS cpos, cid AS cell
           |          FROM asn WHERE crn = 1),
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
           |qpr AS (SELECT vec_id AS q_id, cid AS cell
           |        FROM asn WHERE vec_id < 4
           |          AND crn <= ${graft.streaming.SemanticStream.SlotPolicy.SlotNProbe}),
           |cand AS (SELECT DISTINCT p.q_id, scell.c_id
           |         FROM (SELECT DISTINCT q_id, cell FROM qpr) p
           |         JOIN scell USING (cell)
           |         WHERE p.q_id <> scell.c_id),
           |${slotCutCtesSql("vec_id < 4")}
           |sl1 AS (SELECT cand.q_id, cand.c_id, qs.pos AS qpos, cp.cpos,
           |          $slotCos AS sc
           |        FROM cand
           |        JOIN slt qs ON qs.vec_id = cand.q_id
           |        CROSS JOIN (SELECT unnest(range(0, 8)) AS cpos) cp
           |        JOIN cd ON cd.vec_id = cand.c_id
           |        CROSS JOIN prm),
           |mx1 AS (SELECT q_id, c_id, qpos, max(sc) AS mxc
           |        FROM sl1 GROUP BY 1, 2, 3),
           |s1 AS (SELECT q_id, c_id,
           |         CAST(sum(CAST(mxc AS DECIMAL(20,6))) AS DOUBLE) AS s1
           |       FROM mx1 GROUP BY 1, 2),
           |rc AS (SELECT q_id, c_id FROM (
           |         SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |           ORDER BY ccut DESC, c_id) AS rn FROM ccs)
           |       WHERE rn <= 16),
           |rs AS (SELECT q_id, c_id FROM (
           |         SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |           ORDER BY s1 DESC, c_id) AS rn FROM s1)
           |       WHERE rn <= 8),
           |nc AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_cand
           |       FROM cand GROUP BY 1),
           |h AS (SELECT q_id, CAST(count(*) AS BIGINT) AS hits
           |      FROM rc JOIN rs USING (q_id, c_id) GROUP BY 1)
           |SELECT nc.q_id, nc.n_cand,
           |  round(CAST(coalesce(h.hits, 0) AS DOUBLE) /
           |    CAST(least(8, nc.n_cand) AS DOUBLE), 6) AS agree
           |FROM nc LEFT JOIN h USING (q_id)""".stripMargin
      },
      "slot-alignment diagnostic: cut-vs-code agreement@k on a bounded query sample from the maintained slot index — the measured number that arms/disarms SlotPolicy's centroid cut"),

    // AUTO-ARMED SLOT SERVE — the arm/disarm rule EXECUTING itself:
    // the serve face reads the sampled alignment diagnostic off the
    // maintained index (memoized per book generation) and arms the
    // centroid cut only when the sample retention clears the aligned
    // band (0.9). On the driver corpus the read sits ≈ 0.25
    // (decorrelated geometry), so the realized branch is UNCUT — the
    // adaptive face declines the cut exactly where q212's metrics
    // showed it costing hits. The oracle is the honest composite: it
    // COMPUTES the diagnostic (sample gather → centroid top-cutC →
    // code top-k → retention mean) and then FOLLOWS the branch the
    // number picks — both branches present, selected by the scalar.
    // The multiply-consumed small CTEs carry MATERIALIZED hints:
    // DuckDB inlines CTEs by default, and this oracle's diagnostic +
    // branch structure consumes armD/cand/candD/scell enough times
    // that re-inlining their fold chains turned a ~40 s replay into
    // minutes (the decision row alone re-derived the whole diagnostic
    // per consumer). Semantics unchanged — it is an optimization
    // fence, and the big fold CTEs (slt/asn) stay inline so the
    // engine keeps pushing query-id filters into them.
    "q217_maxsim_auto" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"maxsim-slots-$d") // q210's store
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true)
        SemanticStream.queryTopKMaxSimSlotsAuto(
          emb.where(col("vec_id") < 4), root, topK = 3)
      },
      Some {
        val np = graft.streaming.SemanticStream.SlotPolicy.SlotNProbe
        val cutC = graft.streaming.SemanticStream.SlotPolicy.CutC
        val slot = "(SELECT unnest(range(0, 8)) AS pos)"
        def sl(v: String) = s"list_slice($v, p.pos*8 + 1, p.pos*8 + 8)"
        val recon = "(prm.mn[cp.cpos*8 + i] + " +
          "CAST(cd.codes[cp.cpos*8 + i] AS DOUBLE) * prm.istep[cp.cpos*8 + i])"
        def fold(terms: String) =
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
            s"list_transform(range(1, 9), i -> $terms)), (acc, x) -> acc + x)"
        val qqFold = fold("CAST(qs.sv[i] AS DOUBLE) * CAST(qs.sv[i] AS DOUBLE)")
        val ccFold = fold(s"$recon * $recon")
        val slotCos = s"(CASE WHEN $qqFold = 0 OR $ccFold = 0 " +
          s"THEN CAST(0.0 AS DOUBLE) " +
          s"ELSE round(${fold(s"CAST(qs.sv[i] AS DOUBLE) * $recon")} / " +
          s"(sqrt($qqFold) * sqrt($ccFold)), 6) END)"
        val cq = cosSql("slt.sv", "cv")
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |slt AS (SELECT vec_id, p.pos AS pos, ${sl("v")} AS sv
           |        FROM e, $slot p),
           |scb AS (SELECT vec_id*8 + pos AS cid, sv AS cv FROM slt
           |        ORDER BY cid LIMIT ${graft.streaming.SemanticStream.SlotK}),
           |asn AS (SELECT slt.vec_id, slt.pos, slt.sv, cid,
           |          row_number() OVER (PARTITION BY slt.vec_id, slt.pos
           |            ORDER BY ${cosSql("slt.sv", "cv")} DESC, cid) AS crn
           |        FROM slt CROSS JOIN scb),
           |scell AS MATERIALIZED (SELECT vec_id AS c_id, pos AS cpos, cid AS cell
           |          FROM asn WHERE crn = 1),
           |exg AS (SELECT vec_id, unnest(range(1, len(v) + 1)) AS pos,
           |          unnest(v) AS x FROM e),
           |st AS (SELECT pos, min(CAST(x AS DOUBLE)) AS mn,
           |         max(CAST(x AS DOUBLE)) AS mx FROM exg GROUP BY 1),
           |prm AS MATERIALIZED (SELECT list(mn ORDER BY pos) AS mn,
           |          list(CASE WHEN mx > mn THEN CAST(255.0 AS DOUBLE) / (mx - mn)
           |               ELSE CAST(0.0 AS DOUBLE) END ORDER BY pos) AS sc,
           |          list(CASE WHEN mx > mn THEN (mx - mn) / CAST(255.0 AS DOUBLE)
           |               ELSE CAST(0.0 AS DOUBLE) END ORDER BY pos) AS istep
           |        FROM st),
           |cd AS MATERIALIZED (SELECT vec_id,
           |         list_transform(range(1, len(v) + 1),
           |           i -> CAST(round((CAST(v[i] AS DOUBLE) - prm.mn[i]) * prm.sc[i], 0) AS BIGINT)) AS codes
           |       FROM e CROSS JOIN prm),
           |dq AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8),
           |qprD AS (SELECT vec_id AS q_id, cid AS cell FROM asn
           |         WHERE vec_id IN (SELECT vec_id FROM dq) AND crn <= $np),
           |candD AS MATERIALIZED (SELECT DISTINCT p.q_id, scell.c_id
           |          FROM (SELECT DISTINCT q_id, cell FROM qprD) p
           |          JOIN scell USING (cell)
           |          WHERE p.q_id <> scell.c_id),
           |qcnD AS (SELECT slt.vec_id AS q_id, slt.pos AS qpos, cid AS cell,
           |           CASE WHEN isnan($cq) THEN CAST(0.0 AS DOUBLE)
           |                ELSE $cq END AS qc
           |         FROM slt CROSS JOIN scb
           |         WHERE slt.vec_id IN (SELECT vec_id FROM dq)),
           |cchD AS (SELECT candD.q_id, candD.c_id, qcnD.qpos, max(qcnD.qc) AS mq
           |         FROM candD JOIN scell ON scell.c_id = candD.c_id
           |         JOIN qcnD ON qcnD.q_id = candD.q_id AND qcnD.cell = scell.cell
           |         GROUP BY 1, 2, 3),
           |ccsD AS (SELECT q_id, c_id,
           |           CAST(sum(CAST(mq AS DECIMAL(20,6))) AS DOUBLE) AS ccut
           |         FROM cchD GROUP BY 1, 2),
           |rcD AS (SELECT q_id, c_id FROM (
           |          SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |            ORDER BY ccut DESC, c_id) AS rn FROM ccsD)
           |        WHERE rn <= $cutC),
           |sl1D AS (SELECT candD.q_id, candD.c_id, qs.pos AS qpos, cp.cpos,
           |           $slotCos AS sc
           |         FROM candD
           |         JOIN slt qs ON qs.vec_id = candD.q_id
           |         CROSS JOIN (SELECT unnest(range(0, 8)) AS cpos) cp
           |         JOIN cd ON cd.vec_id = candD.c_id
           |         CROSS JOIN prm),
           |mx1D AS (SELECT q_id, c_id, qpos, max(sc) AS mxc
           |         FROM sl1D GROUP BY 1, 2, 3),
           |s1D AS (SELECT q_id, c_id,
           |          CAST(sum(CAST(mxc AS DECIMAL(20,6))) AS DOUBLE) AS s1
           |        FROM mx1D GROUP BY 1, 2),
           |rsD AS (SELECT q_id, c_id FROM (
           |          SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |            ORDER BY s1 DESC, c_id) AS rn FROM s1D)
           |        WHERE rn <= 8),
           |ncD AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_cand
           |        FROM candD GROUP BY 1),
           |hD AS (SELECT q_id, CAST(count(*) AS BIGINT) AS hits
           |       FROM rcD JOIN rsD USING (q_id, c_id) GROUP BY 1),
           |armD AS MATERIALIZED (SELECT coalesce(avg(round(
           |           CAST(coalesce(hD.hits, 0) AS DOUBLE) /
           |           CAST(least(8, ncD.n_cand) AS DOUBLE), 6)), 0.0) >= 0.9
           |           AS armed
           |         FROM ncD LEFT JOIN hD USING (q_id)
           |         WHERE ncD.n_cand > $cutC),
           |qpr AS (SELECT vec_id AS q_id, cid AS cell
           |        FROM asn WHERE vec_id < 4 AND crn <= $np),
           |cand AS MATERIALIZED (SELECT DISTINCT p.q_id, scell.c_id
           |         FROM (SELECT DISTINCT q_id, cell FROM qpr) p
           |         JOIN scell USING (cell)
           |         WHERE p.q_id <> scell.c_id),
           |${slotCutCtesSql("vec_id < 4")}
           |pre1 AS MATERIALIZED (SELECT cut.q_id, cut.c_id FROM cut
           |           CROSS JOIN armD WHERE armD.armed
           |         UNION ALL
           |         SELECT cand.q_id, cand.c_id FROM cand
           |           CROSS JOIN armD WHERE NOT armD.armed),
           |sl1 AS (SELECT pre1.q_id, pre1.c_id, qs.pos AS qpos, cp.cpos,
           |          $slotCos AS sc
           |        FROM pre1
           |        JOIN slt qs ON qs.vec_id = pre1.q_id
           |        CROSS JOIN (SELECT unnest(range(0, 8)) AS cpos) cp
           |        JOIN cd ON cd.vec_id = pre1.c_id
           |        CROSS JOIN prm),
           |mx1 AS (SELECT q_id, c_id, qpos, max(sc) AS mxc
           |        FROM sl1 GROUP BY 1, 2, 3),
           |s1 AS (SELECT q_id, c_id,
           |         CAST(sum(CAST(mxc AS DECIMAL(20,6))) AS DOUBLE) AS s1
           |       FROM mx1 GROUP BY 1, 2),
           |pre AS (SELECT q_id, c_id FROM (
           |          SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |            ORDER BY s1 DESC, c_id) AS prn FROM s1)
           |        WHERE prn <= ${graft.streaming.SemanticStream.SlotPolicy.PrefilterC}),
           |q AS (SELECT vec_id, v FROM e WHERE vec_id < 4),
           |mq AS (SELECT vec_id AS q_id, p.pos AS qpos, ${sl("v")} AS sv
           |       FROM q, $slot p),
           |mc AS (SELECT vec_id AS c_id, p.pos AS cpos, ${sl("v")} AS sv
           |       FROM e, $slot p
           |       WHERE vec_id IN (SELECT DISTINCT c_id FROM pre)),
           |pc AS (SELECT pre.q_id, pre.c_id, mq.qpos,
           |         ${cosSqlZ("mq.sv", "mc.sv")} AS cos
           |       FROM pre JOIN mq USING (q_id) JOIN mc USING (c_id)),
           |mx AS (SELECT q_id, c_id, qpos, max(cos) AS m
           |       FROM pc GROUP BY 1, 2, 3),
           |sc2 AS (SELECT q_id, c_id,
           |          CAST(sum(CAST(m AS DECIMAL(20,6))) AS DOUBLE) AS maxsim
           |        FROM mx GROUP BY 1, 2),
           |r AS (SELECT q_id, c_id, maxsim, row_number() OVER (
           |        PARTITION BY q_id ORDER BY maxsim DESC, c_id) AS rn
           |      FROM sc2)
           |SELECT q_id, rn, c_id, maxsim FROM r WHERE rn <= 3""".stripMargin
      },
      "auto-armed slot serve: the centroid cut armed/disarmed by the sampled alignment diagnostic read off the maintained index — the operating rule executing itself, oracle-replayed including the decision"),

    // CONTRASTIVE HARD-NEGATIVE MINING — the embedding-training data
    // generator (DPR/ANCE style): for each anchor, the positive is
    // its served top-1 and the hard negatives are the next-ranked
    // served candidates that are NOT near-duplicates (cos below the
    // q135 dup band — a near-dup labeled "negative" would poison the
    // contrastive loss, which is why mining filters the band out).
    // Mining from the MAINTAINED index at the pinned policy knobs is
    // the production shape (ANCE refreshes negatives from the serving
    // index between epochs): the corpus is never rescanned, and each
    // anchor costs one bounded served top-k. margin = pos_cos −
    // neg_cos (two 6dp doubles, one IEEE subtract — deterministic) is
    // the curriculum knob a trainer sorts by. Oracle replays
    // bootstrap → policy probes → prefilter → re-rank → pair
    // assembly end to end.
    "q184_hard_negatives" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"hard-negs-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb, root, withSq = true)
        val served = SemanticStream.queryTopKSq(
            emb.where(col("vec_id") < 8), root, topK = 8,
            prefilterC = SemanticStream.ServePolicy.PrefilterC,
            nProbe = SemanticStream.ServePolicy.NProbe)
          .select(col("q_id"), col("c_id"), col("cos"), col("rn"))
          .localCheckpoint() // read twice: positive slice + negative slice
        val pos = served.where(col("rn") === 1)
          .select(col("q_id"), col("c_id").as("pos_id"),
            col("cos").as("pos_cos"))
        served.where(col("rn") >= 2 &&
            col("cos") < SemanticStream.DupThreshold)
          .select(col("q_id"), col("c_id").as("neg_id"),
            col("cos").as("neg_cos"), col("rn").as("neg_rank"))
          .join(broadcast(pos), Seq("q_id"))
          .select(col("q_id"), col("pos_id"), col("pos_cos"),
            col("neg_id"), col("neg_cos"), col("neg_rank"),
            round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
      },
      Some {
        val recon = "(prm.mn[i] + CAST(cd.codes[i] AS DOUBLE) * prm.istep[i])"
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
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
           |       WHERE vec_id < 8 AND crn <= 12),
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
           |          FROM sc0) WHERE prn <= 128),
           |scx AS (SELECT p.q_id, p.c_id, ${cosSql("qq.v", "cc.v")} AS cos
           |        FROM pre p
           |        JOIN e qq ON qq.vec_id = p.q_id
           |        JOIN e cc ON cc.vec_id = p.c_id),
           |served AS (SELECT q_id, c_id, cos, rn FROM (
           |             SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id
           |               ORDER BY cos DESC, c_id) AS rn FROM scx)
           |           WHERE rn <= 8),
           |p1 AS (SELECT q_id, c_id AS pos_id, cos AS pos_cos
           |       FROM served WHERE rn = 1)
           |SELECT n.q_id, p1.pos_id, p1.pos_cos,
           |  n.c_id AS neg_id, n.cos AS neg_cos, n.rn AS neg_rank,
           |  round(p1.pos_cos - n.cos, 6) AS margin
           |FROM served n JOIN p1 USING (q_id)
           |WHERE n.rn >= 2 AND n.cos < CAST(0.3 AS DOUBLE)""".stripMargin
      },
      "contrastive hard-negative mining from the served index: top-1 positive, dup-band-filtered next ranks as negatives with 6dp margins"),

    // FILTERED ANN SERVING (the FAISS-IDSelector / vector-DB
    // metadata-predicate face): top-k restricted to candidates whose
    // label passes a predicate, served from the maintained SQ index at
    // the pinned policy knobs. The load-bearing choice is WHERE the
    // filter sits: the eligible-id set semi-joins onto the probed cell
    // rows BEFORE the asymmetric prefilter window, so the whole
    // prefilterC budget lands on eligible rows — post-filtering an
    // unfiltered top-k instead would keep ~selectivity·C survivors
    // (here ~10%) and starve the re-rank. FilteredAnnSpec pins
    // containment (every hit passes the predicate) and exactness at
    // covering knobs (probe all cells ⇒ identical to the brute-force
    // filtered gold). Scale shape: the filter is an equi-semi-join on
    // the candidate id (a dimension predicate resolved to ids), which
    // PRUNES code rows — it never adds a scan, and the plan is the
    // q169 serving plan plus one hash semi-join.
    "q188_filtered_ann" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"filtered-ann-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb, root, withSq = true)
        val q = emb.where(col("vec_id") < 8)
        val allowed = emb.where(col("label") === 3)
          .select(col("vec_id").as("id"))
        SemanticStream.queryTopKSq(q, root, topK = 5,
            prefilterC = SemanticStream.ServePolicy.PrefilterC,
            nProbe = SemanticStream.ServePolicy.NProbe,
            allowed = Some(allowed))
          .select(col("q_id"), col("rn"), col("c_id"), col("cos"))
      },
      Some {
        val recon = "(prm.mn[i] + CAST(cd.codes[i] AS DOUBLE) * prm.istep[i])"
        s"""WITH e AS (SELECT vec_id, embedding AS v, label FROM embeddings),
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
           |alw AS (SELECT vec_id FROM e WHERE label = 3),
           |pr AS (SELECT vec_id AS q_id, v AS qv, cid AS cell FROM rt
           |       WHERE vec_id < 8 AND crn <= ${graft.streaming.SemanticStream.ServePolicy.NProbe}),
           |sc0 AS (SELECT pr.q_id, c.vec_id AS c_id,
           |          round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |            list_transform(range(1, len(pr.qv) + 1), i ->
           |              (CAST(pr.qv[i] AS DOUBLE) - $recon) *
           |              (CAST(pr.qv[i] AS DOUBLE) - $recon))),
           |            (acc, x) -> acc + x), 6) AS sdist
           |        FROM pr JOIN cells c USING (cell)
           |        JOIN alw ON alw.vec_id = c.vec_id
           |        JOIN cd ON cd.vec_id = c.vec_id
           |        CROSS JOIN prm
           |        WHERE pr.q_id <> c.vec_id),
           |pre AS (SELECT q_id, c_id FROM (
           |          SELECT q_id, c_id,
           |            row_number() OVER (PARTITION BY q_id ORDER BY sdist ASC, c_id ASC) AS prn
           |          FROM sc0) WHERE prn <= ${graft.streaming.SemanticStream.ServePolicy.PrefilterC}),
           |scx AS (SELECT p.q_id, p.c_id, ${cosSql("qq.v", "cc.v")} AS cos
           |        FROM pre p
           |        JOIN e qq ON qq.vec_id = p.q_id
           |        JOIN e cc ON cc.vec_id = p.c_id),
           |rk AS (SELECT q_id, c_id, cos,
           |         row_number() OVER (PARTITION BY q_id
           |           ORDER BY cos DESC, c_id) AS rn
           |       FROM scx)
           |SELECT q_id, rn, c_id, cos FROM rk WHERE rn <= 5""".stripMargin
      },
      "metadata-filtered ANN serving: eligible-id semi-join BEFORE the prefilter window, full candidate budget on eligible rows"),

    // INDEX-HEALTH AUDIT of the maintained IVF index: retrain
    // PRESSURE. The per-batch trigger (retrainIfUnbalanced) sees only
    // the current batch's assignment skew; the operator question that
    // sets retrain CADENCE is index-wide — "if retrain ran today, how
    // much of the inverted file would reassign?" This fits the
    // codebook retrain would install (the same deterministic Lloyd
    // trainer over the accumulated cells) and counts per stored cell
    // the vectors whose argmin moves — read-only, the store is never
    // mutated and the corpus never rescanned: the trainer is linear
    // per round and the final check is ONE zero-shuffle assignment
    // pass + a per-cell aggregate. Scenario: q154's store (bootstrap
    // on the corpus, one ingested batch folded in under the frozen
    // seed codebook). The oracle replays bootstrap → ingest keep
    // decisions → the 3-round k-means (kmeansCentsSql over the
    // accumulated file) → the final assignment, so the pressure
    // numbers are engine-exact, not asserted.
    "q192_index_drift" -> Q(
      (s, d) => {
        import graft.streaming.SemanticStream
        val root = graft.Temps.dirFor(s"index-drift-$d")
        val emb = embeddings(s, d)
        SemanticStream.bootstrap(emb.where(col("vec_id") % 5 =!= 0), root)
        SemanticStream.ingestVectors(emb.where(col("vec_id") % 10 === 0), root)
          .unpersist()
        SemanticStream.retrainPressure(s, root)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
              |cent AS (SELECT vec_id AS cid, v AS cv FROM e
              |         WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
              |rt AS (SELECT e.vec_id, e.v, cid,
              |         row_number() OVER (PARTITION BY e.vec_id
              |           ORDER BY ${cosSql("e.v", "cv")} DESC, cid) AS rn
              |       FROM e CROSS JOIN cent),
              |cells AS (SELECT vec_id, v, cid AS cell FROM rt WHERE rn = 1),
              |corp AS (SELECT * FROM cells WHERE vec_id % 5 <> 0),
              |b1 AS (SELECT * FROM cells WHERE vec_id % 10 = 0),
              |mm1 AS (SELECT a.vec_id FROM b1 a JOIN corp c ON a.cell = c.cell
              |          AND ${cosSql("a.v", "c.v")} >= 0.3
              |        UNION ALL
              |        SELECT a.vec_id FROM b1 a JOIN b1 b ON a.cell = b.cell
              |          AND b.vec_id < a.vec_id
              |          AND ${cosSql("a.v", "b.v")} >= 0.3),
              |kept1 AS (SELECT * FROM b1
              |          WHERE vec_id NOT IN (SELECT vec_id FROM mm1)),
              |idx AS (SELECT * FROM corp UNION ALL SELECT * FROM kept1),
              |tr AS (SELECT vec_id, v FROM idx),
              |${kmeansCentsSql(3, SimSearch.IvfK, src = "tr")},
              |fin AS (SELECT i.vec_id, i.cell, cid AS new_cell,
              |          row_number() OVER (PARTITION BY i.vec_id
              |            ORDER BY ${cosSql("i.v", "cv")} DESC, cid) AS rn
              |        FROM idx i CROSS JOIN cent3)
              |SELECT cell, count(*) AS n_stored,
              |       CAST(sum(CASE WHEN new_cell <> cell THEN 1 ELSE 0 END)
              |         AS BIGINT) AS n_moved
              |FROM fin WHERE rn = 1 GROUP BY 1""".stripMargin),
      "retrain-pressure audit of the maintained IVF index: would-be reassignment counts per stored cell under the re-fitted codebook"))
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.sinks.Layout

/** ONLINE media dedup over a maintained pHash band index — the
  * multimodal pillar's incremental face, and the r13 verdict's #2 ask:
  * q216/q218 re-hash the WHOLE media table per run (correct as the
  * one-shot batch face), while a streaming media pipeline must pay
  * per batch only for the batch. The text pillar's discipline
  * ([[CurateStream]]: batches probe the stored band index, the corpus
  * is never re-signed) applies verbatim:
  *
  *   - `media_quarters` (media_id, q0..q{b−1}): every KEPT payload's
  *     dHash quarters at the grid width FIXED at [[bootstrap]]
  *     (default 8×9 / 4 quarters; the width lever of
  *     [[graft.functions.MediaExprs]] applies here too, and a probe
  *     at the wrong width fails loudly) — the stored index. The band
  *     projection (4 rows of (media_id, band, key) per signature) is
  *     DERIVED at probe time, exactly like `curate_bands`' 2×2
  *     projection: storing one row per signature keeps the entity at
  *     index-cardinality and the anti-join upsert trivially keyed.
  *   - `media_manifest` (media_id, status, rep_id): one row per
  *     ingested payload with its dedup provenance — q218's statuses
  *     split by representative locality (`dup_corpus` /
  *     `dup_batch` / `kept`), written LAST per batch as the commit
  *     marker.
  *
  * Each ingest costs: ONE fused-codegen hash pass over the batch
  * payloads, one (band, key) equi-join of the batch's bands against
  * the stored index's derived bands, one batch-internal band
  * self-join, and the exact Hamming re-rank on the candidates — all
  * candidate volumes ride the measured `phash_band` law
  * (~bands·n_batch·n_index/2¹⁶ per band), never all-pairs, and the
  * corpus is never re-hashed.
  *
  * Dedup rule (q218's keep-first with [[SemanticStream]]'s provenance
  * split): a batch payload is a duplicate when some payload within
  * Hamming ≤ `maxHamming` is STORED (any id — first-arrival-wins
  * across batches, the [[CurateStream]] deviation note) or is a
  * batch-mate with a SMALLER id; `rep_id` is the least such partner
  * and `status` says whether that representative is corpus or
  * batch-mate. `rep_id` is PROVENANCE, not a transitive root (q135's
  * contract — q221's connected-components face serves canonical
  * roots). Only kept payloads join the quarters index.
  *
  * Replay safety (the foreachBatch retry contract, [[CurateStream]]'s
  * argument verbatim): the stored-index probe EXCLUDES the current
  * batch's own ids, so a half-applied batch (quarters landed,
  * manifest missing) recomputes bit-identical statuses on retry; all
  * writes are [[Layout.upsertStatic]] anti-join upserts (re-landing
  * is a row-wise no-op); the manifest lands last. */
object MediaStream {

  val QuartersEntity = "media_quarters"
  val ManifestEntity = "media_manifest"

  private def quartersDdl(nb: Int): String =
    ("media_id bigint" +: (0 until nb).map(k => s"q$k bigint"))
      .mkString(", ")

  /** The stored quarters index at the caller's grid width, failing
    * LOUDLY when the store was built at a different width — a
    * mismatched probe would silently find zero band matches and mark
    * every duplicate `kept` (the store's width is fixed at
    * [[bootstrap]]; the bands ([[graft.ops.Lsh]]) and the Hamming
    * re-rank ([[graft.ops.Pairs]]) are width-generic and shared
    * with the one-shot face — r14 review). */
  private def storedQuarters(s: SparkSession, root: String,
      nb: Int): DataFrame = {
    val qs = Layout.readStaticOrEmpty(s, root, QuartersEntity, quartersDdl(nb))
    require(qs.columns.length == nb + 1,
      s"media_quarters under $root has ${qs.columns.length - 1} quarter " +
        s"columns but the call expects $nb — the store's grid width is " +
        "fixed at bootstrap; probe it at the same gridRows")
    qs
  }

  /** Seed the index from an existing media corpus (assumed already
    * deduped: ALL payloads contribute quarters — the
    * [[CurateStream.bootstrap]] contract). Idempotent: the upsert is
    * keyed by media_id. `gridRows`/`gridCols` pick the hash geometry
    * ([[graft.functions.MediaExprs]]' width lever) and FIX the
    * store's width — every later [[ingestBatch]] must probe at the
    * same grid (guarded loudly). */
  def bootstrap(media: DataFrame, root: String,
      gridRows: Int = graft.functions.MediaExprs.GridRows,
      gridCols: Int = graft.functions.MediaExprs.GridCols): Unit =
    Layout.upsertStatic(
      graft.ops.Multimodal.dHashQuarters(media, gridRows, gridCols),
      root, QuartersEntity, Seq("media_id"))

  /** Dedup one media batch against the stored quarters index: returns
    * (and lands) the manifest rows, then folds the kept payloads'
    * quarters into the index. Deterministic and replay-idempotent
    * (see object doc). */
  def ingestBatch(batch: DataFrame, root: String,
      maxHamming: Int = 3,
      gridRows: Int = graft.functions.MediaExprs.GridRows,
      gridCols: Int = graft.functions.MediaExprs.GridCols): DataFrame =
      graft.Checkpoints.scoped { ck =>
    import graft.ops.{Lsh, Multimodal, Pairs}
    val s = batch.sparkSession
    val nb = gridRows / 2
    // one fused hash pass over the batch; everything downstream (two
    // band joins, two Hamming re-ranks, the kept fold) reads it. The
    // per-batch checkpoints are released when the ingest returns or
    // fails; only the returned manifest stays materialized.
    val qsB = ck(Multimodal.dHashQuarters(batch, gridRows, gridCols))
    val ids = qsB.select("media_id")

    // probe EXCLUDES this batch's own ids — a replayed half-applied
    // batch must not see its own landed quarters (bit-stable statuses).
    // Broadcast discipline (guide §3.1, the CurateStream probe argument
    // verbatim): the batch-derived frames are micro-batch-bounded and
    // stats-less; the stored quarters index is corpus-sized — hint the
    // batch side so the index scan STREAMS instead of being shuffled
    // per batch
    val qsIdx = storedQuarters(s, root, nb)
      .join(broadcast(ids), Seq("media_id"), "left_anti")

    // corpus partners: ANY stored near-dup (first-arrival-wins across
    // batches); batch partners: SMALLER-id batch-mates (keep-first).
    // The band-collision PAIR frames' broadcast into the Hamming
    // re-rank is GUARDED on their exact row count ([[PairGuard]], r14
    // verdict #2): bounded in expectation by the phash_band law, NOT
    // hard-bounded under band-key skew — exactly the degenerate mode
    // [[bandSkew]]'s est_cand/top_share diagnostic measures. Past the
    // cap the re-rank falls back to planner choice; row sets unchanged.
    val (candCorpus, bcCorpus) = PairGuard.checkpointAndDecide(
      Lsh.probePairs(Lsh.quarterBands(qsB, nb), Lsh.quarterBands(qsIdx, nb),
        broadcastLeft = true),
      "media-ingest:cand-corpus")
    ck.adopt(candCorpus)
    val corpusPart = Pairs.hammingJoin(candCorpus, qsB, qsIdx, "b_id", "c_id",
        nb, broadcastPairs = bcCorpus)
      .where(col("hamming") <= maxHamming)
      .select(col("b_id").as("media_id"), col("c_id").as("pid"),
        lit("corpus").as("tag"))
    val (candBatch, bcBatch) = PairGuard.checkpointAndDecide(
      Lsh.selfPairs(Lsh.quarterBands(qsB, nb), broadcastLeft = true),
      "media-ingest:cand-batch")
    ck.adopt(candBatch)
    val batchPart = Pairs.hammingJoin(candBatch, qsB, qsB, "a_id", "b_id",
        nb, broadcastPairs = bcBatch)
      .where(col("hamming") <= maxHamming)
      .select(col("b_id").as("media_id"), col("a_id").as("pid"),
        lit("batch").as("tag"))

    // rep = the LEAST partner id; its locality decides the status
    // (struct min orders by pid first — corpus and batch ids are
    // disjoint so the tag rides along unambiguously)
    val reps = corpusPart.unionByName(batchPart)
      .groupBy(col("media_id"))
      .agg(min(struct(col("pid"), col("tag"))).as("m"))
      .select(col("media_id"), col("m.pid").as("rep_id"),
        col("m.tag").as("tag"))

    // materialize BEFORE any index write (the manifest's plan reads
    // the stored quarters, which the fold below mutates)
    val manifest = ids
      .join(broadcast(reps), Seq("media_id"), "left")
      .select(col("media_id"),
        when(col("rep_id").isNull, "kept")
          .when(col("tag") === "corpus", "dup_corpus")
          .otherwise("dup_batch").as("status"),
        col("rep_id"))
      .localCheckpoint()

    // kept quarters first, manifest LAST (the batch's commit marker)
    val kept = manifest.where(col("status") === "kept").select("media_id")
    try {
      Layout.upsertStatic(qsB.join(broadcast(kept), Seq("media_id"), "left_semi"),
        root, QuartersEntity, Seq("media_id"), flipProbe = true)
      Layout.upsertStatic(manifest, root, ManifestEntity, Seq("media_id"),
        flipProbe = true)
    } catch {
      case e: Throwable =>
        graft.Checkpoints.release(manifest)
        throw e
    }
    manifest
  }

  /** Band-key health of the stored quarters index —
    * [[SemanticStream.cellImbalance]]'s analog for the banded-join
    * face: per band, the key-bucket statistics that PRICE the probe.
    * Candidate volume per band is Σ_key C(n_key, 2), so a skewing key
    * distribution (degenerate payloads — e.g. byte-starved tiny
    * payloads whose segments are mostly empty hash toward zero keys)
    * inflates every future batch's probe bill long before any
    * correctness surface moves; `est_cand` IS that per-band bill
    * against the current index, `top_share` the single-bucket
    * concentration (uniform would read ~n/2¹⁶ per key). One
    * aggregate over the derived band rows — the index is scanned, the
    * corpus never re-hashed. Trend it the way cellImbalance is
    * trended; the lever when it degrades is the payload floor /
    * width choice ([[graft.functions.MediaExprs]]'s byte-starvation
    * note), not a retrain — the hash is payload-determined. */
  def bandSkew(spark: SparkSession, root: String,
      gridRows: Int = graft.functions.MediaExprs.GridRows): DataFrame = {
    val nb = gridRows / 2
    graft.ops.Lsh.quarterBands(storedQuarters(spark, root, nb), nb)
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("band"))
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        round(max(col("n")).cast("double") / sum(col("n")), 6)
          .as("top_share"),
        // n·(n−1) is even, so the /2 is exact in double space at any
        // realistic bucket size; cast per-row keeps the sum integral
        sum((col("n") * (col("n") - 1) / 2).cast("long")).as("est_cand"))
  }

  /** The Structured Streaming driver — [[CurateStream.run]]'s media
    * twin: watch `rawDir` for media batches (parquet in the
    * [[graft.ops.Multimodal.mediaSchema]] shape), dedup each
    * micro-batch against the stored index. Restart-safe for the same
    * reasons (checkpoint replay + self-excluding probes + anti-join
    * upserts + manifest-last). `compactEvery > 0` compacts both
    * entities every that many batches, keyed off the stream's batch
    * id — the per-batch upserts append one small file per entity per
    * batch, and the probe cost follows the file count (the
    * [[CurateStream]] maintenance-window law). */
  def run(spark: SparkSession, rawDir: String, schema: StructType,
      root: String, checkpoint: String, maxFilesPerTrigger: Int = 1,
      maxHamming: Int = 3, compactEvery: Int = 0,
      gridRows: Int = graft.functions.MediaExprs.GridRows,
      gridCols: Int = graft.functions.MediaExprs.GridCols): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(rawDir)
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        graft.Checkpoints.release(
          ingestBatch(b, root, maxHamming, gridRows, gridCols))
        if (compactEvery > 0 && (id + 1) % compactEvery == 0)
          Seq(QuartersEntity, ManifestEntity)
            .foreach(Layout.compactStatic(spark, root, _))
        ()
      }
      .start()
}

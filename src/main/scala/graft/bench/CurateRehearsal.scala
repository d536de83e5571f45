package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpoints
import graft.bench.ScaleLaws.{Cell, emit, time}
import graft.sinks.Layout
import graft.streaming.CurateStream

/** Dress-rehearsal for [[CurateStream]]'s maintained indexes under a
  * long ingest — closes the loop on the round-6 open item: the
  * `curate_keys`/`curate_bands`/`curate_bench`/`curate_manifest`
  * stores grow forever via per-batch [[Layout.upsertStatic]] appends,
  * and every batch's probes pay the store's FILE LAYOUT (listing +
  * footer reads + one scan task per append-sized file), not just its
  * row count. ExtractRehearsal measured the analogous law for the
  * merged extract dimensions; this measures the curate-index face and
  * its remedy, [[Layout.compactStatic]].
  *
  * Variants over the same deterministic batch stream:
  *   - `none`     — never compact (the disease: files grow ~4/batch,
  *     per-batch probe cost grows with the append history);
  *   - `everyC`   — compact all four entities every C batches (the
  *     remedy: file count sawtooths back to ~1 per entity, per-batch
  *     cost stays at the data's size; the compaction pass itself is
  *     timed and reported separately — it rewrites the INDEX tables,
  *     whose rows are a small projection of the corpus, never the
  *     corpus).
  *
  * Batch stream (deterministic): batch b takes the docs with
  * `doc_id % batches == b`, re-ids them to a disjoint range, keeps
  * every 5th text VERBATIM (exercising the dup_exact_corpus probe) and
  * suffixes every token of the rest with a (batch, doc)-key (fresh
  * docs — same distinct-row discipline as [[ScaleLaws.amplifyDocs]]).
  *
  * 50 batches, compaction every 10. One `curate_ingest` row per
  * (variant, batch) and one `curate_compact` row per compaction pass;
  * the ScaleLaws families `curate_ingest`/`curate_compact`. */
object CurateRehearsal {

  private val Entities = Seq(CurateStream.KeysEntity, CurateStream.BandsEntity,
    CurateStream.BenchEntity, CurateStream.SpansEntity,
    CurateStream.PostingsEntity, CurateStream.DlEntity,
    CurateStream.ManifestEntity)

  private def parquetFiles(spark: SparkSession, root: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    Entities.map { e =>
      val p = new org.apache.hadoop.fs.Path(s"$root/static/$e")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0
      else {
        val it = fs.listFiles(p, true)
        var n = 0
        while (it.hasNext)
          if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        n
      }
    }.sum
  }

  /** Batch b of the deterministic stream (see object doc). Stopwords
    * survive the mutation unsuffixed: a fully-suffixed doc has
    * stopword_ratio 0 and dies at the low_quality gate (the exact
    * property ScaleLaws exploits to make amplified copies inert) — but
    * THIS harness needs its fresh docs KEPT, or the maintained index
    * never grows and the growth law under test goes unmeasured. */
  def batchOf(base: DataFrame, b: Int, batches: Int): DataFrame = {
    val toks = graft.ops.TextAnalysis.tokens(col("text"))
    val mutated = concat_ws(" ", transform(toks, t =>
      when(t.isin("the", "a", "of", "and", "to"), t)
        .otherwise(concat(t, lit(s"_b${b}x"), col("doc_id")))))
    base.where(pmod(col("doc_id"), lit(batches)) === b)
      .select(
        (lit(10000000L) + col("doc_id") * 1000L + b).as("doc_id"),
        when(col("doc_id") % 5 === 0, col("text")).otherwise(mutated).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
  }

  def measure(c: Cell): Unit = {
    val batches = 50
    val base = c.pin(c.docs)
    // span variants measure the q147 layer's marginal cost: the span
    // store is the one index linear in corpus TOKENS. Sketch variants
    // (shards 1 = monolith, 4 = the sharded online gate) prove the gated
    // exact layer rides the maintenance loop (merge + saturation rebuild
    // at compaction windows) at wall-clock parity; its candidate volume
    // is the bloom_gate_q149 law. The lex variant measures the q175
    // inverted-index upkeep (postings + dl anti-join upserts riding the
    // parallel fan-out), the cert variant the q203 certificate upkeep
    // (one ~8-row agg + upsert per batch): both expected near parity.
    // (name, compact every, span gate, sketch shards, lex, cert)
    val variants = Seq(
      ("none", 0, false, 0, false, false),
      ("every10", 10, false, 0, false, false),
      ("spans-none", 0, true, 0, false, false),
      ("spans-every10", 10, true, 0, false, false),
      ("sketch-every10", 10, false, 1, false, false),
      ("sketch4-every10", 10, false, 4, false, false),
      ("lex-every10", 10, false, 0, true, false),
      ("cert-every10", 10, false, 0, false, true))
    for ((variant, every, spans, sketch, lex, cert) <- variants) {
      val root = graft.Temps.dir(s"curate-rehearsal-$variant")
      CurateStream.bootstrap(base, root, withSpans = spans,
        withSketch = sketch > 0, sketchShards = math.max(sketch, 1),
        withLex = lex, withCert = cert)
      for (b <- 0 until batches) Checkpoints.scoped { ck =>
        val batch = ck(batchOf(base, b, batches))
        val (nMan, secs) = time(ck.adopt(CurateStream.ingestBatch(batch, root,
          spanGate = spans, lexIndex = lex, certIndex = cert)).count())
        val files = parquetFiles(c.spark, root)
        val keysRows = Layout.readStatic(c.spark, root, CurateStream.KeysEntity)
          .map(_.count()).getOrElse(0L)
        if (every > 0 && (b + 1) % every == 0) {
          val (_, compactSecs) = time {
            Entities.foreach(Layout.compactStatic(c.spark, root, _))
            if (sketch > 0)
              Layout.readStatic(c.spark, root, CurateStream.KeysEntity).foreach { keys =>
                graft.streaming.KeySketch.maybeRebuild(c.spark, root, keys.select("key"), "key")
              }
          }
          emit("curate_compact", "variant" -> variant, "batch" -> b, "files_before" -> files,
            "files_after" -> parquetFiles(c.spark, root), "secs" -> compactSecs)
        }
        emit("curate_ingest", "variant" -> variant, "batch" -> b, "batch_docs" -> nMan,
          "index_keys" -> keysRows, "files" -> files, "secs" -> secs)
      }
    }
  }
}

package graft.bench

import org.apache.spark.sql.functions._

import graft.ops.Multimodal
import graft.streaming.MediaStream
import graft.bench.ScaleLaws.time

/** Upkeep cost of the ONLINE media-dedup face — the `curate_ingest`
  * discipline applied to [[MediaStream]] (r13 verdict #2's pricing
  * row): per batch, the online face pays one hash pass over the BATCH
  * plus band probes into the stored quarters index, while the
  * one-shot face (q216's shape) re-hashes and re-pairs the WHOLE
  * accumulated corpus. The law to read off the rows: `ingest_secs`
  * stays ~flat as the index grows (batch-bounded work; the probe
  * join's stored side scales with the index but rides the 2¹⁶-key
  * band law), while `oneshot_secs` grows with the corpus — the gap is
  * what the maintained index buys a streaming pipeline.
  *
  * Scenario: the documents table AMPLIFIED ×`amp` (each copy
  * prefix-perturbed, so copies are distinct payloads — the ScaleLaws
  * amplification discipline; at the default 8× the corpus is ~40k
  * media rows, enough that the one-shot's corpus-linear hash pass
  * dominates its job overhead), split round-robin into a seed corpus
  * + `batches` ingest batches; each batch additionally injects
  * one-byte variants of a deterministic slice of its own docs (ids
  * offset beyond the amp range) so every ingest exercises both dup
  * paths with nonempty results. JSON rows, family `phash_online`.
  *
  * Usage: `runMain graft.bench.MediaStreamBench [batches=6]
  * [sfDir=/root/testdata/sf0.1] [amp=8]`. */
object MediaStreamBench {

  def main(args: Array[String]): Unit = {
    val batches = args.headOption.map(_.toInt).getOrElse(6)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val amp = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      val base = graft.queries.Tables.documents(spark, sfDir)
        .where(col("doc_id") < 1000000L)
        .select(col("doc_id"), col("text"))
      // ×amp distinct copies: the per-copy prefix has a DIFFERENT
      // LENGTH per copy, so every segment boundary shifts and copies
      // are metrically unrelated payloads (a same-length prefix would
      // make copies one-byte variants of each other and turn the
      // amplified corpus into dup clusters) — no artificial dup
      // structure, just MORE rows
      val docs = (0 until amp).map(k =>
          base.select((col("doc_id") * amp + k).as("doc_id"),
            concat(lit("<" * (3 * k + 1) + " "), col("text")).as("text")))
        .reduce(_.unionByName(_))
        .localCheckpoint()
      val groups = batches + 1
      def slice(g: Int) = docs.where(col("doc_id") % groups === g)
      val seed = slice(0)
      val root = graft.Temps.dir("phash-online-bench")
      val (_, bootSecs) = time {
        MediaStream.bootstrap(Multimodal.asMedia(seed, "doc_id", "text"),
          root)
      }
      println(s"""{"family":"phash_online","batch":0,"phase":"bootstrap",""" +
        s""""n_seed":${seed.count()},""" +
        s""""secs":${math.round(bootSecs * 100) / 100.0}}""")
      // the accumulated ARRIVED set (for the one-shot baseline's input
      // — what q216 would re-hash at this point in the stream)
      var arrived = seed
      for (b <- 1 to batches) {
        val baseB = slice(b)
        // one-byte variants of a deterministic ~1/5 slice of this
        // batch's docs, offset beyond the amp id range (the % rule is
        // on doc_id / groups so it cannot collide with the group
        // split the way a plain % would)
        val batch = baseB.unionByName(
          baseB.where(pmod(expr(s"doc_id div $groups"), lit(5L)) === 0)
            .select((col("doc_id") + 100000000L).as("doc_id"),
              concat(lit("Z"), expr("substring(text, 2)")).as("text")))
          .localCheckpoint()
        val media = Multimodal.asMedia(batch, "doc_id", "text")
        val (man, ingestSecs) = time {
          val m = MediaStream.ingestBatch(media, root)
          m.count()
          m
        }
        val dups = man.where(col("status") =!= "kept").count()
        val nIdx = graft.sinks.Layout
          .readStatic(spark, root, MediaStream.QuartersEntity).get.count()
        arrived = arrived.unionByName(batch)
        // the one-shot baseline at the same point in the stream:
        // re-hash + re-pair EVERYTHING that has arrived (q216's shape)
        val (_, oneshotSecs) = time {
          Multimodal.dHashNearDupPairs(
            Multimodal.asMedia(arrived, "doc_id", "text"), 3).count()
        }
        man.unpersist()
        println(s"""{"family":"phash_online","batch":$b,"phase":"ingest",""" +
          s""""batch_n":${batch.count()},"dups":$dups,"n_index":$nIdx,""" +
          s""""ingest_secs":${math.round(ingestSecs * 100) / 100.0},""" +
          s""""oneshot_secs":${math.round(oneshotSecs * 100) / 100.0}}""")
      }
    } finally spark.stop()
  }
}

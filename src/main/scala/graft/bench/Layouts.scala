package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.bench.ScaleLaws.{Cell, emit, roundTo, time}
import graft.ops.{LateInteraction, Lsh, Multimodal, Pairs}
import graft.sinks.{Bucketing, Layout}
import graft.streaming.{CurateStream, MediaStream, SemanticStream}

/** The physical-layout families: what a bucketed projection, a
  * range-sorted compaction and the perceptual-hash band index buy,
  * measured on the layout actually written (the q163 self-probe
  * discipline: the claim is a measured row, not a comment). */
object Layouts {

  /** `f` with broadcast joins off, the session's settings restored after:
    * at bench scale Catalyst would broadcast the small side and hide the
    * exchange story that matters at 10^10 rows, where neither side
    * broadcasts (the r10 finding that removed the hints). */
  private def withoutBroadcast[A](spark: SparkSession)(f: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try f finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The plain-vs-bucketed twin rows: the identical plan over each side,
    * its hash-exchange count and wall time. Only the bucketed side was
    * written, so only its row bills `writeSecs`. */
  private def bucketedTwins(family: String, writeSecs: Double, cols: (String, Any)*)(
      sides: (String, DataFrame)*)(plan: DataFrame => DataFrame): Unit =
    sides.foreach { case (variant, side) =>
      val df = plan(side)
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
      val (rows, secs) = time(df.count())
      emit(family, (("variant" -> variant) +: cols) ++ Seq("exchanges" -> exchanges,
        "rows" -> rows, "write_secs" -> (if (variant == "bucketed") writeSecs else 0.0),
        "secs" -> secs): _*)
    }

  /** q193's "bucketed attribution table" claim: the hint-free attribution
    * joins ([[graft.queries.TextOps.sourceOverlapOf]]) shuffle the
    * corpus-cardinality (doc_id, source) projection once per audit; landed
    * ONCE as a doc_id-bucketed table, every audit joins it from scan
    * partitioning with no exchange. The pair side is shared and pinned, so
    * both variants measure exactly the attribution joins + the matrix
    * aggregate. */
  def attrBucketed(c: Cell): Unit = withoutBroadcast(c.spark) {
    val buckets = 16
    c.spark.sql("CREATE DATABASE IF NOT EXISTS graft_attr " +
      s"LOCATION '${graft.Temps.dir("attr-bucketdb")}'")
    val srcs = c.docs.select(col("doc_id"), col("source"))
    val (_, tWrite) = time(Bucketing.writeBucketed(srcs, "graft_attr.srcs", "doc_id", buckets))
    val pairs = c.pin(graft.queries.TextOps.bandPairs(c.spark, c.sfDir)
      .select(col("a_id"), col("b_id")))
    bucketedTwins("attr_bucketed", tWrite, "pairs" -> pairs.count(), "buckets" -> buckets)(
      "plain" -> srcs, "bucketed" -> Bucketing.readBucketed(c.spark, "graft_attr.srcs"))(
      graft.queries.TextOps.sourceOverlapOf(pairs, _))
  }

  /** The slot index's FORWARD projection: the cut stage's candidate-keyed
    * join (`cand ⋈_c_id slot_cells`, [[SemanticStream.centroidCutScores]]
    * — the exact shape the serve path executes) re-shuffles the
    * corpus-cardinality slot rows per query batch; the doc_id-bucketed
    * copy ([[SemanticStream.writeSlotForward]]) satisfies the join from
    * its scan partitioning. Registered queries keep the plain path. */
  def slotForward(c: Cell): Unit = withoutBroadcast(c.spark) {
    val (n, slotK, buckets) = (8000L, 512, 16)
    c.spark.sql("CREATE DATABASE IF NOT EXISTS graft_slotfwd " +
      s"LOCATION '${graft.Temps.dir("slot-fwd-bucketdb")}'")
    val emb = c.pin(ScaleLaws.slotTopicEmbeddings(c.spark, n, 1024))
    val root = graft.Temps.dir("slot-fwd-store")
    SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true,
      slotK = slotK, slotRounds = 3)
    // the gather + fold inputs, shared by both variants
    val (cand, qcn) = SemanticStream.slotGatherFold(c.queries(emb), root,
      slotNProbe = SemanticStream.SlotPolicy.SlotNProbe)
    val nCand = cand.count()
    val (_, tWrite) = time(SemanticStream.writeSlotForward(c.spark, root,
      "graft_slotfwd.slot_cells", buckets))
    def byDoc(cells: DataFrame) = cells.select(col("id").as("c_id"), col("cell"))
    bucketedTwins("slot_forward", tWrite, "n" -> n, "slot_k" -> slotK, "cand" -> nCand,
      "buckets" -> buckets)(
      "plain" -> byDoc(Layout.readStatic(c.spark, root, SemanticStream.SlotCellsEntity).get),
      "bucketed" -> byDoc(Bucketing.readBucketed(c.spark, "graft_slotfwd.slot_cells")))(
      SemanticStream.centroidCutScores(cand, _, qcn))
  }

  /** Compacts `entity` at `targetKB` twice — hash-laid (plain repartition,
    * the layout without the sortBy claim), then range-sorted by `key` (the
    * production compaction path) — and after each emits one row per probe:
    * the ACTUAL files whose own [min, max] of `key` holds a probe value
    * (that intersection rule IS parquet's row-group pruning decision for a
    * pushed In filter), the rows in them, and the min-of-2 wall clock of
    * the pushed-filter fetch. */
  private def pruneTwins(c: Cell, family: String, root: String, entity: String,
      key: String, targetKB: Long, countCol: String, probes: Seq[(String, Seq[Any])],
      cols: (String, Any)*): Unit =
    for (sortBy <- Seq(Nil, Seq(key))) {
      Layout.compactStatic(c.spark, root, entity, targetBytes = targetKB * 1024,
        sortBy = sortBy)
      val store = Layout.readStatic(c.spark, root, entity).get
      for ((probe, values) <- probes) {
        val vals = array(values.map(lit): _*)
        // the HOF runs over a #files-row frame, never the store
        val agg = store.withColumn("fn", input_file_name())
          .groupBy(col("fn"))
          .agg(count(lit(1)).as("n"), min(col(key)).as("mn"), max(col(key)).as("mx"))
          .withColumn("touched", exists(vals, x => x >= col("mn") && x <= col("mx")))
          .agg(count(lit(1)), sum(when(col("touched"), 1L).otherwise(0L)),
            sum(col("n")), sum(when(col("touched"), col("n")).otherwise(0L)))
          .head()
        val matching = store.where(col(key).isin(values: _*))
        val secs = (1 to 2).map(_ => time(matching.count())._2).min
        emit(family, (Seq("variant" -> (if (sortBy.isEmpty) "hashed" else s"sorted_$key"),
          "probe" -> probe, countCol -> values.length) ++ cols ++ Seq(
          "files_total" -> agg.getLong(0), "files_touched" -> agg.getLong(1),
          "rows_total" -> agg.getLong(2), "rows_in_touched" -> agg.getLong(3),
          "secs_fetch" -> roundTo(secs, 3))): _*)
      }
    }

  /** The served-BM25 postings-fetch pruning (RetrievalOps.bm25ServedTopK):
    * compaction range-sorts postings by `t`, so the pushed In(t, …) filter
    * prunes files. Probes: q175's distinct query vocabulary of docs 0..4
    * (~30 types over the whole term alphabet) and a 3-term keyword query.
    * Under the sorted layout files_touched ≤ min(#probe terms, #files): a
    * broad probe only skips once the store has MORE files than the probe
    * has terms (the 100-TB case), a short one skips at any file count; the
    * hashed baseline touches every file at every probe width. */
  def lexPrune(c: Cell): Unit = {
    val docs = c.docs
    val root = graft.Temps.dir("lex-prune-bench")
    CurateStream.upsertLex(docs, root)
    val vocab = docs.where(col("doc_id") < 5)
      .select(explode(graft.ops.TextAnalysis.tokens(col("text"))).as("t"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    pruneTwins(c, "lex_prune", root, CurateStream.PostingsEntity, "t", 96, "n_terms",
      Seq("q175_vocab" -> vocab, "kw3" -> vocab.take(3)))
  }

  /** The slot-gather fetch pruning: the serve path collects the bounded
    * probe union to literals, so the gather reaches the slot-cells scan as
    * a pushed In(cell, …), and compaction range-sorts the entity by
    * `cell` — the postings story with cells for terms. Probes: one query's
    * union (T = 8 slots × np = 2) and the 83-query sample's union (broad —
    * prunes only once #files exceeds the probe's cell spread). */
  def slotGatherPrune(c: Cell): Unit = {
    val slotK = 256
    val emb = c.pin(ScaleLaws.amplifyEmbeddings(c.emb, 4))
    val root = graft.Temps.dir("slot-prune-bench")
    SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true,
      slotK = slotK, slotRounds = 3)
    // probe unions in slotGatherCount's assignment shape
    def probeOf(qs: DataFrame): Seq[Long] = {
      val (scb, slices) = SemanticStream.readSlotBook(c.spark, root).get
      LateInteraction.multiVec(qs, "vec_id", "embedding", slices, slices * scb.head._2.length)
        .select(graft.functions.VectorExprs.nearestCells(
          col("sv").cast("array<double>"), scb, 2).as("pr"))
        .select(explode(col("pr").getField("cid")).as("cell"))
        .distinct().collect().map(_.getLong(0)).toSeq.sorted
    }
    pruneTwins(c, "slot_gather_prune", root, SemanticStream.SlotCellsEntity, "cell", 24,
      "n_cells", Seq("q1" -> probeOf(emb.where(col("vec_id") === 0)),
        "qbatch83" -> probeOf(ScaleLaws.querySample(emb))), "slot_k" -> slotK)
  }

  /** The perceptual-hash BAND/RECALL law — q216's machinery against brute
    * force. Corpus: the documents plus variants at four mutation strengths
    * (prefix overwrite of 1/8/32/64 bytes), populating the Hamming
    * spectrum from 0 to ~tens. EXACT = all-pairs Hamming over the dHash
    * quarters (measurement baseline only); BANDED =
    * [[Multimodal.dHashNearDupPairs]] at radius t. Law, at both grid
    * widths: recall = 1.0 for t ≤ bands − 1 (pigeonhole: radius 3 at
    * 8×9 / 4 bands, radius 7 at 16×9 / 8 bands), decaying above; the
    * per-band candidate volume holds at the SAME 2¹⁶-value band keys. */
  def phashBand(c: Cell): Unit = {
    // variant ids live at doc_id + m·10⁶ (q216/q218's collision cap).
    // PAYLOAD-SIZE FLOOR: the block-mean stand-in needs ≥ ~2 bytes per
    // grid cell, or most wide-grid segments are EMPTY and the 16×9 hash
    // degenerates to colliding near-zero keys (t=0 pairs 1.8k → 73k
    // without it); a real codec always yields rows×cols pixels. 288 = 2 ×
    // the 144-cell wide grid; both widths read the same floored corpus.
    val docs = c.docs.where(col("doc_id") < 1000000L && length(col("text")) >= 288)
      .select(col("doc_id"), col("text"))
    val variants = Seq(1, 8, 32, 64).map { m =>
      docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + m * 1000000L).as("doc_id"),
          concat(lit("Z" * m), expr(s"substring(text, ${m + 1})")).as("text"))
    }.reduce(_.unionByName(_))
    val media = Multimodal.asMedia(docs.unionByName(variants), "doc_id", "text")
    val n = media.count()
    for ((gridRows, radii) <- Seq(8 -> Seq(0, 1, 3, 6, 10),
        16 -> Seq(0, 1, 3, 6, 7, 10, 14))) {
      val nb = gridRows / 2
      val qs = c.pin(Multimodal.dHashQuarters(media, gridRows, 9))
      val exact = c.pin(qs.toDF(("a_id" +: (0 until nb).map(k => s"a_q$k")): _*)
        .join(qs.toDF(("b_id" +: (0 until nb).map(k => s"b_q$k")): _*),
          col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), Pairs.hamming(nb).as("h")))
      // band-join candidate volume (radius-independent)
      val cand = Lsh.selfPairs(Lsh.quarterBands(qs, nb)).count()
      for (t <- radii) {
        val exactN = exact.where(col("h") <= t).count()
        val bandedN = Multimodal.dHashNearDupPairs(media, t, gridRows, 9).count()
        emit("phash_band", "grid_rows" -> gridRows, "bands" -> nb, "n" -> n, "t" -> t,
          "exact_pairs" -> exactN, "banded_pairs" -> bandedN, "cand" -> cand,
          "all_pairs" -> n * (n - 1) / 2,
          "recall" -> roundTo(if (exactN == 0) 1.0 else bandedN.toDouble / exactN, 4))
      }
    }
  }

  /** Upkeep of the ONLINE media-dedup face ([[MediaStream]]): per batch
    * it pays one hash pass over the BATCH plus band probes into the stored
    * quarters index, while the one-shot face (q216's shape) re-hashes and
    * re-pairs the whole ARRIVED corpus. `ingest_secs` should stay ~flat as
    * the index grows, `oneshot_secs` grow with the corpus. Scenario: the
    * documents ×8 (each copy prefixed by a DIFFERENT-length run, so every
    * segment boundary shifts and copies are unrelated payloads — ~40k
    * media rows at sf0.1), split round-robin into a seed + 6 batches;
    * each batch also injects one-byte variants of a fifth of its docs so
    * both dup paths see nonempty results. */
  def phashOnline(c: Cell): Unit = {
    val (batches, amp) = (6, 8)
    val base = c.docs.where(col("doc_id") < 1000000L).select(col("doc_id"), col("text"))
    val docs = c.pin((0 until amp).map(k =>
        base.select((col("doc_id") * amp + k).as("doc_id"),
          concat(lit("<" * (3 * k + 1) + " "), col("text")).as("text")))
      .reduce(_.unionByName(_)))
    val groups = batches + 1
    def slice(g: Int) = docs.where(col("doc_id") % groups === g)
    val root = graft.Temps.dir("phash-online-bench")
    val (_, bootSecs) = time(MediaStream.bootstrap(
      Multimodal.asMedia(slice(0), "doc_id", "text"), root))
    emit("phash_online", "batch" -> 0, "phase" -> "bootstrap", "n_seed" -> slice(0).count(),
      "secs" -> bootSecs)
    var arrived = slice(0)
    for (b <- 1 to batches) {
      // the variants' ids sit beyond the amp range; the fifth is taken on
      // doc_id / groups so it cannot collide with the group split
      val batch = c.pin(slice(b).unionByName(
        slice(b).where(pmod(expr(s"doc_id div $groups"), lit(5L)) === 0)
          .select((col("doc_id") + 100000000L).as("doc_id"),
            concat(lit("Z"), expr("substring(text, 2)")).as("text"))))
      val (man, ingestSecs) = time {
        val m = c.pin.adopt(MediaStream.ingestBatch(
          Multimodal.asMedia(batch, "doc_id", "text"), root))
        m.count()
        m
      }
      val dups = man.where(col("status") =!= "kept").count()
      val nIdx = Layout.readStatic(c.spark, root, MediaStream.QuartersEntity).get.count()
      arrived = arrived.unionByName(batch)
      val (_, oneshotSecs) = time(Multimodal.dHashNearDupPairs(
        Multimodal.asMedia(arrived, "doc_id", "text"), 3).count())
      emit("phash_online", "batch" -> b, "phase" -> "ingest", "batch_n" -> batch.count(),
        "dups" -> dups, "n_index" -> nIdx, "ingest_secs" -> ingestSecs,
        "oneshot_secs" -> oneshotSecs)
    }
  }
}

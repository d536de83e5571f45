package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Checkpoints
import graft.bench.ScaleLaws.{Cell, emit, roundTo, time}
import graft.ops.SimSearch
import graft.streaming.SemanticStream

/** The serving families over maintained vector indexes: every variant
  * serves the SAME query sample ([[ScaleLaws.querySample]]) against the
  * same index and is scored by [[Cell.served]] against a gold top-3 —
  * the exact full scan for the pooled paths, the covering MaxSim for
  * the late-interaction ones. */
object Serving {

  /** The ×4 sign-flip amplified sf embeddings (slots decorrelate from
    * any structure — the honest floor) and the slot-ALIGNED synthetic
    * corpus ([[ScaleLaws.slotTopicEmbeddings]], 8000 vectors over 1024
    * topics — the geometry trained late-interaction encoders produce). */
  private def slotGeometries(c: Cell): Seq[(String, DataFrame)] = Seq(
    "decorr" -> c.pin(ScaleLaws.amplifyEmbeddings(c.emb, 4)),
    "aligned" -> c.pin(ScaleLaws.slotTopicEmbeddings(c.spark, 8000L, 1024)))

  /** Serving-path matrix over ONE index on the ×4 corpus — which dense
    * leg the online hybrid should use: `brute` (the corpus scan, exact but
    * n·d per query), `exact_index` (nProbe stored cells, full vectors),
    * `sq_p2/p4` (cells scanned as uint8 codes, exact re-rank on 32
    * candidates; p4 doubles the probe list) and `jl_d8/16/32` (cells
    * scanned as d′-dim projections; families swap via
    * [[SemanticStream.rotateJlFamily]], timed as its own `jl_rotate`
    * row). Serve latency is min-of-2. */
  def servePath(c: Cell): Unit = {
    val emb = c.pin(ScaleLaws.amplifyEmbeddings(c.emb, 4))
    val n = emb.count()
    val root = graft.Temps.dir("serve-path")
    SemanticStream.bootstrap(emb, root, withSq = true, withJl = true, jlDOut = 8)
    val queries = c.queries(emb)
    val nq = queries.count()
    val gold = c.bruteGold(queries, emb)
    def row(variant: String)(f: => DataFrame): Unit =
      emit("serve_path", Seq("variant" -> variant, "n" -> n, "queries" -> nq) ++
        c.served(gold, reps = 2)(f): _*)
    row("brute")(SimSearch.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3))
    row("exact_index")(SemanticStream.queryTopK(queries, root, topK = 3))
    row("sq_p2")(SemanticStream.queryTopKSq(queries, root, topK = 3, prefilterC = 32))
    row("sq_p4")(SemanticStream.queryTopKSq(queries, root, topK = 3, prefilterC = 32,
      nProbe = 4))
    row("jl_d8")(SemanticStream.queryTopKJl(queries, root, topK = 3, prefilterC = 32))
    for (d <- Seq(16, 32)) {
      val (_, rotSecs) = time(SemanticStream.rotateJlFamily(c.spark, root, dOut = d, seed = 0L))
      emit("jl_rotate", "dprime" -> d, "n" -> n, "secs" -> rotSecs)
      row(s"jl_d$d")(SemanticStream.queryTopKJl(queries, root, topK = 3, prefilterC = 32))
    }
  }

  /** The operating-point sweep (nProbe × prefilterC × d′) over the raw
    * and ×4 corpora, to find where each path crosses recall@3 ≥ 0.9 (a
    * policy that only holds on the raw corpus is not a policy). Its pick
    * is PINNED in [[SemanticStream.ServePolicy]] and regression-gated by
    * ServePolicySpec. One timed run per cell: this grid ranks RECALL. */
  def serveSweep(c: Cell): Unit = {
    val raw = c.emb
    for ((corpus, emb) <- Seq("raw" -> c.pin(raw),
        "amp4" -> c.pin(ScaleLaws.amplifyEmbeddings(raw, 4)))) {
      val n = emb.count()
      val root = graft.Temps.dir(s"serve-sweep-$corpus")
      SemanticStream.bootstrap(emb, root, withSq = true, withJl = true, jlDOut = 16)
      val queries = c.queries(emb)
      val nq = queries.count()
      val gold = c.bruteGold(queries, emb)
      def row(variant: String, nProbe: Int, prefC: Int)(f: => DataFrame): Unit =
        emit("serve_sweep", Seq("corpus" -> corpus, "variant" -> variant, "n" -> n,
          "queries" -> nq, "nprobe" -> nProbe, "prefilter" -> prefC) ++ c.served(gold)(f): _*)
      for (p <- Seq(2, 4, 8, 12, 16))
        row("exact_index", p, 0)(SemanticStream.queryTopK(queries, root, topK = 3, nProbe = p))
      for (p <- Seq(2, 4, 8, 12, 16); pc <- Seq(32, 128))
        row("sq", p, pc)(SemanticStream.queryTopKSq(queries, root, topK = 3,
          prefilterC = pc, nProbe = p))
      // d′ axis via family rotation (the sidecar serves one d′ at a
      // time); the 512 column asks whether the JL ceiling is the
      // candidate budget or the projection itself
      for (d <- Seq(16, 32)) {
        if (d != 16) SemanticStream.rotateJlFamily(c.spark, root, dOut = d, seed = 0L)
        for (p <- Seq(8, 16); pc <- Seq(128, 512))
          row(s"jl_d$d", p, pc)(SemanticStream.queryTopKJl(queries, root, topK = 3,
            prefilterC = pc, nProbe = p))
      }
      val policy = SemanticStream.ServePolicy
      row("policy_sq", policy.NProbe, policy.PrefilterC)(SemanticStream.queryTopKSq(
        queries, root, topK = 3, prefilterC = policy.PrefilterC, nProbe = policy.NProbe))
      // TRAINED-codebook era: the bootstrap codebook is the K lowest-id
      // seed vectors (recall ≈ probed fraction); retrain() runs Lloyd's
      // k-means and reassigns — how far do trained cells move the knee
      SemanticStream.retrain(c.spark, root)
      for (p <- Seq(2, 4, 8, 12, 16))
        row("sq_trained", p, 128)(SemanticStream.queryTopKSq(queries, root, topK = 3,
          prefilterC = 128, nProbe = p))
    }
  }

  /** Late-interaction serving over ONE index per corpus (raw, ×4):
    * `maxsim_serve` is recall@3 of the served cascade
    * ([[SemanticStream.queryTopKMaxSim]]) at the pinned policy, along the
    * C ladder at full probe (every miss is the pooled prefilter ordering
    * disagreeing with the MaxSim re-rank) and along the SLOT stage-1
    * ladder (same gold and re-rank, only the candidate generator
    * changes). `maxsim_cost` is serve seconds over the (T slices × C)
    * grid at full probe — the claimed C·T² slot-cosine rows per query,
    * made inspectable. Latency is min-of-2. */
  def maxSim(c: Cell): Unit = {
    val raw = c.emb
    val amp = c.pin(ScaleLaws.amplifyEmbeddings(raw, 4))
    for ((corpus, emb) <- Seq("raw" -> c.pin(raw), "amplified" -> amp)) {
      val n = emb.count()
      val root = graft.Temps.dir(s"maxsim-bench-$corpus")
      SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true)
      val queries = c.queries(emb)
      val nq = queries.count()
      // TRUE gold is covering: a bounded-C "gold" measured unconverged
      // (512 vs 1024 moved a third of the top-3 on the amplified corpus)
      val gold = c.maxSimGold(queries, emb)
      def row(variant: String)(f: => DataFrame): Unit =
        emit("maxsim_serve", Seq("corpus" -> corpus, "variant" -> variant, "n" -> n,
          "queries" -> nq) ++ c.served(gold, reps = 2)(f): _*)
      row("served_policy")(SemanticStream.queryTopKMaxSim(queries, root, topK = 3,
        prefilterC = SemanticStream.ServePolicy.PrefilterC,
        nProbe = SemanticStream.ServePolicy.NProbe))
      for (pc <- Seq(128, 512, 1024, 2048))
        row(s"served_fullprobe_c$pc")(SemanticStream.queryTopKMaxSim(queries, root,
          topK = 3, prefilterC = pc, nProbe = SimSearch.IvfK))
      for (np <- Seq(1, 2, 4); pc <- Seq(32, 128))
        row(s"slot_np${np}_c$pc")(SemanticStream.queryTopKMaxSimSlots(queries, root,
          topK = 3, prefilterC = pc, slotNProbe = np))
    }
    val n = amp.count()
    val root = graft.Temps.dir("maxsim-bench-cost")
    SemanticStream.bootstrap(amp, root, withSq = true)
    // a 4× denser query set, so the per-query C·T² term clears the
    // per-serve fixed cost (probe pass + windows)
    val denseQ = c.pin(amp.where(pmod(col("vec_id"), lit(23)) === 0))
    val ndq = denseQ.count()
    for (t <- Seq(4, 8, 16); pc <- Seq(32, 128)) {
      val secs = (1 to 2).map { _ =>
        Checkpoints.scoped { ck =>
          time(ck(SemanticStream.queryTopKMaxSim(denseQ, root, topK = 3, prefilterC = pc,
            nProbe = SimSearch.IvfK, slices = t)).count())._2
        }
      }.min
      emit("maxsim_cost", "slices" -> t, "prefilter" -> pc, "n" -> n, "queries" -> ndq,
        "secs" -> secs)
    }
  }

  /** The slot-face grid (q210): recall@3 of
    * [[SemanticStream.queryTopKMaxSimSlots]] over (slotK × Lloyd's rounds
    * × slotNProbe × C) on the raw and ×4 corpora. The stage-1 ceiling is
    * probe COVERAGE of the slot space; seed-only centroids cover badly,
    * Lloyd's rounds spread them. The pinned [[SemanticStream.SlotK]] /
    * [[SemanticStream.SlotRounds]] come from this grid's ≥0.9 bracket.
    * Then `slot_kladder`, the K SELECTIVITY ladder on the ×4 corpus:
    * production scales K with n so the gathered fraction np·T/K shrinks,
    * and the ladder asks whether recall survives the shrink, reporting
    * the measured candidate fraction next to it. */
  def slotSweep(c: Cell): Unit = {
    val raw = c.emb
    val grids = for ((corpus, emb) <- Seq("raw" -> c.pin(raw),
        "amplified" -> c.pin(ScaleLaws.amplifyEmbeddings(raw, 4)))) yield {
      val n = emb.count()
      val queries = c.queries(emb)
      val nq = queries.count()
      val gold = c.maxSimGold(queries, emb)
      for (slotK <- Seq(32, 64); rounds <- Seq(0, 3)) {
        val root = graft.Temps.dir(s"slot-sweep-$corpus-k$slotK-r$rounds")
        SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true,
          slotK = slotK, slotRounds = rounds)
        for (np <- Seq(2, 4, 8); pc <- Seq(32, 128))
          emit("slot_sweep", Seq("corpus" -> corpus, "n" -> n, "queries" -> nq,
            "slotK" -> slotK, "rounds" -> rounds, "nprobe" -> np, "c" -> pc) ++
            c.served(gold)(SemanticStream.queryTopKMaxSimSlots(queries, root, topK = 3,
              prefilterC = pc, slotNProbe = np)): _*)
      }
      (emb, n, queries, nq, gold)
    }
    val (amp, n, queries, nq, gold) = grids.last
    for (slotK <- Seq(64, 128, 256, 512)) {
      val root = graft.Temps.dir(s"slot-kladder-k$slotK")
      SemanticStream.bootstrap(amp, root, withSq = true, withSlots = true, slotK = slotK)
      val nCand = SemanticStream.slotGatherCount(queries, root, slotNProbe = 2)
        .agg(avg(col("n_cand"))).collect().head.getDouble(0)
      emit("slot_kladder", Seq("n" -> n, "queries" -> nq, "slotK" -> slotK, "nprobe" -> 2,
        "c" -> 32, "avg_cand" -> math.round(nCand), "cand_frac" -> roundTo(nCand / n, 4)) ++
        c.served(gold)(SemanticStream.queryTopKMaxSimSlots(queries, root, topK = 3,
          prefilterC = 32, slotNProbe = 2)): _*)
    }
  }

  /** The JOINT slot-face operating surface: (slotK × slotNProbe ×
    * centroid cut) with the PLAID centroid-interaction cut between gather
    * and code scoring armed (C = 128) and disarmed, on both geometries.
    * Per row: gather size/fraction (the stage-1a admit), scored docs (the
    * stage-1b T×T code-kernel bill — `min(cand, cut)` with the cut on),
    * recall@3 vs the covering MaxSim gold, secs.
    * [[SemanticStream.SlotPolicy]] pins its knobs from this grid's ≥0.9
    * bracket at ≤ ~10% coverage on the aligned corpus; SlotPolicySpec
    * gates the pinned point. Slot books are TRAINED (3 rounds): at K ≥ 128
    * the lowest-(id, pos) seed covers the slot space too unevenly. */
  def slotPolicy(c: Cell): Unit =
    for ((corpus, emb) <- slotGeometries(c)) {
      val n = emb.count()
      val queries = c.queries(emb)
      val nq = queries.count()
      val gold = c.maxSimGold(queries, emb)
      for (slotK <- Seq(128, 256, 512)) {
        val root = graft.Temps.dir(s"slot-policy-$corpus-k$slotK")
        SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true,
          slotK = slotK, slotRounds = 3)
        for (np <- Seq(2, 4, 8)) {
          // per-query gather sizes, once per (K, np); the scored bill
          // derives from them PER cut value, so it follows the swept knob
          val cands = SemanticStream.slotGatherCount(queries, root, slotNProbe = np)
            .select(col("n_cand")).collect().map(_.getLong(0))
          val avgCand = if (cands.isEmpty) 0.0 else cands.sum.toDouble / cands.length
          for (cut <- Seq(0, 128)) {
            val scored =
              if (cut <= 0 || cands.isEmpty) avgCand
              else cands.map(x => math.min(x, cut.toLong).toDouble).sum / cands.length
            emit("slot_policy", Seq("corpus" -> corpus, "n" -> n, "queries" -> nq,
              "slotK" -> slotK, "nprobe" -> np, "cut" -> cut, "c" -> 32,
              "avg_cand" -> math.round(avgCand), "cand_frac" -> roundTo(avgCand / n, 4),
              "avg_scored" -> math.round(scored), "scored_frac" -> roundTo(scored / n, 4)) ++
              c.served(gold)(SemanticStream.queryTopKMaxSimSlots(queries, root, topK = 3,
                prefilterC = 32, slotNProbe = np, cutC = cut)): _*)
          }
        }
      }
    }

  /** The slot-alignment DIAGNOSTIC ([[SemanticStream.slotCutAgreement]])
    * on both geometries at slotK 512, k 8: the number an operator reads
    * off the maintained index to arm or disarm the centroid cut. On the
    * aligned corpus the slot-cell centroids ARE the topic clusters, so the
    * centroid ordering tracks the code ordering and agreement reads high;
    * on the decorrelated one it reads low. Per row: sampled queries, mean
    * gathered candidates, mean retention@k and the fraction of queries
    * reading ≥ 0.9 (the arming vote). */
  def slotAlign(c: Cell): Unit = {
    val (slotK, k) = (512, 8)
    for ((corpus, emb) <- slotGeometries(c)) {
      val n = emb.count()
      val root = graft.Temps.dir(s"slot-align-$corpus")
      SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true,
        slotK = slotK, slotRounds = 3)
      val queries = c.queries(emb)
      val (r, secs) = time(c.pin(SemanticStream.slotCutAgreement(queries, root, k))
        .agg(count(lit(1)), avg(col("n_cand")), avg(col("agree")),
          avg(when(col("agree") >= 0.9, 1.0).otherwise(0.0)))
        .head())
      emit("slot_align", "corpus" -> corpus, "n" -> n, "slot_k" -> slotK, "k" -> k,
        "queries" -> r.getLong(0), "avg_cand" -> math.round(r.getDouble(1)),
        "mean_agree" -> roundTo(r.getDouble(2), 4), "arm_frac" -> roundTo(r.getDouble(3), 4),
        "secs" -> secs)
    }
  }

  /** Slot-codebook drift: the collapse-mode ingest stream of
    * [[SemanticRehearsal.batchOf]] (12 batches) against a slot-armed store
    * (slotK 64), per batch the index-level top-cell share of the stored
    * slot index (`slot_imb`, diluted by the balanced base) and of THIS
    * batch's kept slot rows (`batch_slot_imb`, where collapse drift shows
    * first). Arms: `frozen`; `fixed` ([[SemanticStream.slotRetrain]] at
    * the 2/3 mark); `auto` (the wired trigger,
    * [[SemanticStream.slotRetrainIfUnbalanced]] at share 0.25, its rows
    * carrying `fired`); `capped` (the same trigger at most once per 3
    * batches). After each stream, `slot_drift_serve` is the serving face:
    * collapse drift harms SELECTIVITY, not reachability (drifted queries
    * land in crowded cells, gather admits a blown-up candidate set), so it
    * reports the gather fraction next to recall@3 of the slot face (cut
    * disarmed — drift geometry is decorrelated) over the accumulated
    * store. */
  def slotDrift(c: Cell): Unit = {
    val (batches, slotK, autoThreshold, minBetween) = (12, 64, 0.25, 3)
    val base = c.pin(c.emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding")))
    for (mode <- Seq("frozen", "fixed", "auto", "capped")) {
      val root = graft.Temps.dir(s"slot-drift-$mode")
      SemanticStream.bootstrap(base, root, withSq = true, withSlots = true,
        slotK = slotK, slotRounds = 3)
      for (b <- 0 until batches) Checkpoints.scoped { ck =>
        var retrainSecs = 0.0
        if (mode == "fixed" && b == batches * 2 / 3)
          retrainSecs = time(SemanticStream.slotRetrain(c.spark, root, slotK))._2
        val batch = ck(SemanticRehearsal.batchOf(base, b, batches, "collapse"))
        val (man, secs) = time(ck.adopt(SemanticStream.ingestVectors(batch, root)))
        // the batch share BEFORE any triggered retrain retags the store:
        // the row reports the signal the trigger saw, and the trigger is
        // fed it so the aggregation is not paid twice
        val batchSlots = SemanticStream.slotBatchImbalance(c.spark, root, man)
        var fired = false
        if (mode == "auto" || mode == "capped") {
          val (f, s) = time(SemanticStream.slotRetrainIfUnbalanced(c.spark, root, man,
            autoThreshold, slotK, share = Some(batchSlots),
            minBatchesBetween = if (mode == "capped") minBetween else 0).nonEmpty)
          fired = f
          retrainSecs = s
        }
        emit("slot_drift", "retrain" -> mode, "slot_k" -> slotK, "batch" -> b,
          "fired" -> fired, "alpha" -> roundTo(SemanticRehearsal.alphaOf(b, batches), 3),
          "slot_imb" -> roundTo(SemanticStream.slotCellImbalance(c.spark, root), 4),
          "batch_slot_imb" -> roundTo(batchSlots, 4), "secs" -> secs,
          "retrain_secs" -> retrainSecs)
      }
      val corpus = c.pin(graft.sinks.Layout
        .readStatic(c.spark, root, SemanticStream.CellsEntity).get
        .select(col("id").as("vec_id"), col("v").as("embedding")))
      val n = corpus.count()
      // queries: a third of the drifted kept vectors
      val qs = c.pin(corpus.where(col("vec_id") >= 10000000L &&
        pmod(col("vec_id"), lit(3)) === 0))
      val nq = qs.count()
      if (nq > 0) {
        val avgCand = SemanticStream.slotGatherCount(qs, root, slotNProbe = 2)
          .agg(avg(col("n_cand"))).collect().head.getDouble(0)
        val gold = c.maxSimGold(qs, corpus)
        val hits = gold.hits(SemanticStream.queryTopKMaxSimSlots(qs, root, topK = 3,
          prefilterC = 32, slotNProbe = 2))
        emit("slot_drift_serve", Seq("retrain" -> mode, "slot_k" -> slotK, "n" -> n,
          "queries" -> nq, "avg_cand" -> math.round(avgCand),
          "cand_frac" -> roundTo(avgCand / n, 4)) ++ gold.recall(hits): _*)
      }
    }
  }

  /** The JL distortion law over d′ (q158 registers d′=16; this sweeps
    * it): project 64 → d′ for d′ = 8, 16, 32, 64 and report mean / p95 /
    * max |cos′ − cos| over the fixed 780-pair sample. JL concentration
    * predicts error ~1/√d′ — each 4× in d′ should halve the columns — and
    * d′ = 64 shows the floor the plane family itself costs. */
  def jlDistortion(c: Cell): Unit = {
    val emb = c.emb.where(col("vec_id") < 40)
    val full = c.pin(emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", SimSearch.l2norm(col("v"))))
    val base = c.pin(full.toDF("a_id", "av", "an")
      .join(full.toDF("b_id", "bv", "bn"), col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(SimSearch.cosine(col("av"), col("bv"), col("an"), col("bn")), 6).as("cos_full")))
    for (dOut <- Seq(8, 16, 32, 64)) {
      val proj = c.pin(SimSearch.jlProject(emb, "vec_id", "embedding", dOut)
        .withColumn("pn", SimSearch.l2norm(col("pv"))))
      val r = base
        .join(proj.toDF("a_id", "apv", "apn"), Seq("a_id"))
        .join(proj.toDF("b_id", "bpv", "bpn"), Seq("b_id"))
        .select(abs(round(SimSearch.cosine(col("apv"), col("bpv"), col("apn"), col("bpn")), 6)
          - col("cos_full")).as("d"))
        .agg(count(lit(1)), round(avg(col("d")), 4),
          round(expr("percentile(d, 0.95)"), 4), round(max(col("d")), 4))
        .head()
      emit("jl_distortion", "d_out" -> dOut, "pairs" -> r.getLong(0), "mean" -> r.getDouble(1),
        "p95" -> r.getDouble(2), "max" -> r.getDouble(3))
    }
  }

  /** Measure-FIRST probe for a semantic franken-doc residual gate: an
    * embedding BLEND of two stored vectors passes the cosine dup gate when
    * neither parent alone reaches the threshold. Are blends separable
    * from novel vectors by their top-1 stored cosine? `blend` rows:
    * normalize((v_a + v_b)/2) for consecutive corpus ids in DIFFERENT
    * cells (same-cell blends score near their parents and the gate
    * already sees them); `novel` rows: sign-flip twists
    * ([[ScaleLaws.amplifyEmbeddings]]'s decorrelation). Per population:
    * top-1 stored cosine percentiles (nProbe 8, so probe misses don't
    * pollute it) and flag counts over a threshold grid. */
  def frankenResidual(c: Cell): Unit = {
    val corpus = c.pin(c.emb).where(col("vec_id") % 5 =!= 0)
    val root = graft.Temps.dir("franken-residual")
    SemanticStream.bootstrap(corpus, root)
    val cells = c.pin(graft.sinks.Layout.readStatic(c.spark, root, SemanticStream.CellsEntity)
      .get.select(col("id"), col("cell"), col("v")))
    val blends = cells.toDF("a_id", "a_cell", "av")
      .join(cells.toDF("b_id", "b_cell", "bv"),
        col("b_id") === col("a_id") + 1 && col("a_cell") =!= col("b_cell"))
      .select((col("a_id") + lit(2000000L)).as("vec_id"),
        zip_with(col("av"), col("bv"), (x, y) => (x + y) / 2.0).as("embedding"))
    val novel = ScaleLaws.amplifyEmbeddings(corpus, 2)
      .where(col("vec_id") % 2 === 1) // the twisted copies only
      .select((col("vec_id") + lit(3000000L)).as("vec_id"), col("embedding"))
    for ((variant, probe) <- Seq("blend" -> blends, "novel" -> novel)) {
      val top1 = c.pin(SemanticStream.queryTopK(probe, root, topK = 1, nProbe = 8)
        .select(col("q_id"), col("cos")))
      val rows = probe.count()
      val s = top1.agg(count(lit(1)),
        expr("percentile(cos, 0.5)"), expr("percentile(cos, 0.9)"),
        expr("percentile(cos, 0.99)"),
        sum(when(col("cos") >= 0.5, 1L).otherwise(0L)),
        sum(when(col("cos") >= 0.6, 1L).otherwise(0L)),
        sum(when(col("cos") >= 0.7, 1L).otherwise(0L)),
        sum(when(col("cos") >= 0.8, 1L).otherwise(0L))).head()
      def pct(i: Int): Double = if (s.isNullAt(i)) 0.0 else roundTo(s.getDouble(i), 3)
      emit("franken_residual", "variant" -> variant, "rows" -> rows, "served" -> s.getLong(0),
        "p50" -> pct(1), "p90" -> pct(2), "p99" -> pct(3), "ge50" -> s.getLong(4),
        "ge60" -> s.getLong(5), "ge70" -> s.getLong(6), "ge80" -> s.getLong(7))
    }
  }
}

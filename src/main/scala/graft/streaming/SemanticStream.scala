package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.ops.{Pairs, SimSearch}
import graft.sinks.Layout
import graft.sinks.Layout.readStaticOrEmpty

/** ONLINE semantic dedup over a maintained IVF index — the vector-side
  * analog of [[CurateStream]] and the online face of q135's SemDeDup
  * shape.
  *
  * The one-shot q135 re-derives the codebook and every cell assignment
  * from the full corpus; at 100 TB the corpus index must be STORED and
  * probed per batch instead:
  *
  *   - `ivf_codebook` (cid, cv, cn, ver): the coarse quantizer —
  *     bounded (K rows), broadcast into every assignment; `ver` is a
  *     content hash of the codebook, the consistency tag the cells
  *     carry back
  *   - `ivf_cells`    (id, cell, v, n, ver): the inverted file — every
  *     kept vector with its cell assignment under codebook `ver`
  *   - `vec_manifest` (vec_id, cell, status, rep_id): one row per
  *     ingested vector with its dedup provenance, written LAST per
  *     batch as the commit marker
  *
  * Each ingest costs: a zero-shuffle single-pass argmin assignment of
  * the batch ([[SimSearch.ivfAssign]] — K·d codegen arithmetic per
  * row), one equi-join on cell against the stored inverted file, and
  * one batch-internal cell self-join. The corpus is never rescanned
  * and never pairs against itself. The codebook is FROZEN between
  * ingests (standard IVF practice); [[retrain]] is the periodic
  * offline pass that re-fits it to the corpus the index has actually
  * accumulated — SemanticRehearsal measures the drift law (dup recall
  * decays and cells unbalance as ingested batches leave the trained
  * distribution) that sets the retrain cadence, documented in
  * SCALE.md.
  *
  * Retrain crash contract: the codebook and the inverted file are two
  * entities, each swapped atomically ([[Layout.replaceStatic]]) but
  * not jointly — a kill between the swaps would leave assignments
  * from one codebook probed under another, silently missing
  * duplicates. The `ver` tag closes that window: retrain lands the
  * NEW codebook first, then the reassigned cells; every ingest
  * compares the cells' `ver` against the codebook's and ROLLS the
  * torn retrain FORWARD (one reassignment pass — the exact work the
  * crash interrupted) before probing. RetrainSpec kills retrain
  * between the swaps and pins the repair. Read-path repairs (here and
  * on the slot sidecar) ride the store's ONE-WRITER-PER-ROOT
  * discipline that every [[Layout]] swap already assumes: the process
  * that detects a torn swap performs the writer's roll-forward, so a
  * deployment serves and ingests a root from one driver — or
  * quiesces ingest before serving across a crash window — exactly as
  * it must for the upsert/compaction swaps themselves.
  *
  * Dedup rule (q135's keep-first, extended with provenance): a batch
  * vector is a duplicate when some same-cell vector scores cosine
  * ≥ 0.3 (6-dp rounded) among stored corpus vectors or batch-mates
  * with a SMALLER id; `rep_id` is the least matching id and `status`
  * says whether that representative is corpus (`dup_corpus`) or a
  * batch-mate (`dup_batch`). Only kept vectors join the inverted
  * file. Replay-safe like CurateStream: probes exclude the current
  * batch's own ids, writes are anti-join upserts, manifest last.
  * Retrain does NOT revisit past dedup decisions: the manifest is
  * historical provenance (its `cell` is the assignment at ingest
  * time), and a dropped vector stays dropped — only FUTURE probes see
  * the re-fitted geometry.
  */
object SemanticStream {

  val CodebookEntity = "ivf_codebook"
  val CellsEntity = "ivf_cells"
  val ManifestEntity = "vec_manifest"
  /** Optional PQ sidecar (opt-in at [[bootstrap]]): the per-subspace
    * books (tiny, frozen at bootstrap like the seed codebook) and the
    * cell-attributed code rows — M small codes per stored vector, the
    * compressed face [[queryTopKPq]] scans before touching vectors. */
  val PqBooksEntity = "pq_books"
  val PqCodesEntity = "ivf_codes"
  /** Optional SQ sidecar (opt-in at [[bootstrap]]): the per-dimension
    * uint8 grid (tiny, frozen at bootstrap like the PQ books — no
    * training pass at all) and code rows — d small codes per stored
    * vector, the training-free compressed face [[queryTopKSq]] scans
    * before touching vectors. Kept ingests encode under the frozen
    * grid; out-of-grid values round unclamped to the nearest grid
    * point, preserving the ≤ istep/2 reconstruction bound. */
  val SqGridEntity = "sq_grid"
  val SqCodesEntity = "sq_codes"
  /** Optional JL sidecar (opt-in at [[bootstrap]]): the splitmix64
    * plane-family parameters (dOut, seed — the whole projection
    * matrix is derived from them, so the "stored index" is two
    * integers plus a version tag) and the d′-dim projected rows —
    * the dimensionality face [[queryTopKJl]] scans before touching
    * full vectors. Production 4096-d embeddings pay full-dim storage
    * and scan everywhere else; the projected sidecar cuts the
    * prefilter arithmetic d/d′-fold at a measured (~1/√d′) cosine
    * distortion that the exact re-rank then repairs on the candidate
    * set. [[rotateJlFamily]] swaps families under the same
    * ver-tagged roll-forward discipline as [[retrain]]. */
  val JlMetaEntity = "jl_meta"
  val JlVecsEntity = "jl_vecs"
  /** Optional SLOT sidecar (opt-in at [[bootstrap]]): the slot-level
    * coarse quantizer for late-interaction serving — the PLAID/ColBERT
    * candidate shape. The r10 maxsim_serve law measured the POOLED
    * stage-1 ([[queryTopKMaxSim]]) at recall@3 ≈ C/n against the
    * covering MaxSim gold (0.079 at the policy knobs): when pooled and
    * multi-vector orderings decorrelate, no bounded C short of
    * covering recovers recall, and corpus growth drives it to zero.
    * The fix is to index the SLOT vectors themselves: `slot_codebook`
    * holds K coarse centroids over the w-dim slot space (deterministic
    * lowest-(id,pos) seed at bootstrap — the same replayable
    * discipline as the main seed codebook; frozen between ingests,
    * re-fitted by [[slotRetrain]] under the same two-entity torn-swap
    * contract as the main book), and `slot_cells (id, pos, cell, ver)`
    * one assignment row per kept doc × slot — 3 integers + the book's
    * content-hash tag, maintained by ingest under the same
    * anti-join-upsert discipline as the other sidecars.
    * [[queryTopKMaxSimSlots]] probes PER QUERY SLOT and unions
    * candidates, so a doc is reachable whenever ANY slot aligns —
    * exactly the signal MaxSim ranks by and the pooled prefilter
    * structurally cannot see. */
  val SlotBookEntity = "slot_codebook"
  val SlotCellsEntity = "slot_cells"
  /** Forward-projection REGISTRATION (opt-in via [[writeSlotForward]]):
    * one row (tbl, buckets, ver) recording where the doc_id-bucketed
    * copy of `slot_cells` lives and which slot-book generation it was
    * projected under. `ver` is the staleness guard the r13 advice
    * asked for: readers ([[readSlotForward]]) accept the bucketed copy
    * only when its recorded hash equals the LIVE book's, so a crash
    * between a retrain's cells swap and the projection rebuild — or a
    * consumer racing a refresh — falls back to the plain entity
    * instead of silently scoring the cut against the old book's
    * assignments. The meta row is also what makes the refresh
    * AUTOMATIC: [[reassignSlots]] (retrain, torn-swap roll-forward,
    * pre-ver migration — every path that swaps the entity) re-lands
    * the projection for any registered table, so the bucketed copy
    * tracks the entity without a caller-side refresh contract. */
  val SlotForwardMetaEntity = "slot_forward_meta"
  /** Default slot-space cell count and Lloyd's rounds, pinned from the
    * SlotSweep grid (SCALE.md round 11): with the SQ-code scoring
    * stage the quantizer only GATHERS — seed and 3-round-trained
    * codebooks measured indistinguishable (recall@3 = 1.0 across the
    * grid) — so the default stays the deterministic seed (rounds = 0),
    * which is also what q210's oracle replays. `slotRounds` remains
    * the lever for corpora where gather coverage binds. */
  val SlotK = 32
  val SlotRounds = 0

  /** q135's duplicate threshold. */
  val DupThreshold = 0.3

  /** The PINNED serving operating point — the ServeSweep-measured
    * knobs at which the SQ serving path reaches recall@3 ≥ 0.9
    * against the full-scan gold on BOTH the raw sf0.1 corpus and the
    * ×4-amplified one (SCALE.md "Serving-recall operating policy";
    * SCALE_MEASURED_r10 `serve_sweep` has the bracketing rows). The
    * defaults on [[queryTopKSq]] etc. stay the LATENCY-lean settings;
    * serving that promises recall uses these. ServePolicySpec
    * regression-gates the pair: if a knob or kernel change drops the
    * policy below target recall, the suite goes red. */
  object ServePolicy {
    val NProbe = 12
    val PrefilterC = 128
    val TargetRecall3 = 0.9
  }

  /** The PINNED slot-face operating point — [[ServePolicy]]'s analog
    * for [[queryTopKMaxSimSlots]], measured on the JOINT (slotK ×
    * slotNProbe × centroid-cut) grid ([[graft.bench.SlotPolicyBench]],
    * `slot_policy` family, SCALE.md round 12) instead of the r11
    * one-knob ladders. The serve knobs pinned here are corpus-shape
    * independent; the BOOK knobs scale with the corpus and are pinned
    * as a rule, not a constant: slotK ≈ √(n·T) trained (rounds = 3 —
    * [[slotRetrain]]'s trainer; the lowest-(id, pos) seed covers the
    * slot space too unevenly at K ≥ 128), the same K ≈ √n discipline
    * as the main IVF book. With the centroid cut armed the stage-1b
    * code-kernel bill is ≤ CutC·T² per query REGARDLESS of gather
    * width, and the measured joint surface (slot_policy family, both
    * geometries × K ∈ {128,256,512} × np ∈ {2,4,8} × cut ∈ {0,128})
    * reads: on SLOT-ALIGNED geometry (the trained-encoder case) the
    * pinned point holds recall@3 = 0.96 at K = 512 while scoring
    * 1.6% of the corpus — the cut costs ≤ 0.02 recall once K
    * resolves the slot clusters (K/clusters ≥ ~1/2) and halves serve
    * time; on DECORRELATED geometry the centroid ordering is blind
    * (recall 0.41–0.70 with the cut, the r11 centroid-only ablation's
    * 0.37 writ large), so the operating rule is: arm the cut exactly
    * when the embeddings are slot-aligned, and disarm it (cutC = 0)
    * otherwise. Alignment is MEASURED, not trusted (the r13
    * mechanization of what was an encoder-trust clause):
    * [[slotCutAgreement]] reads, on a bounded query sample from the
    * maintained index, the fraction of the code ordering's top-k the
    * armed cut would RETAIN — it separates the two measured
    * geometries (`slot_align` family) and q215 oracle-gates it. Arm
    * when the sampled mean sits in the aligned band (≥ 0.9).
    * SlotPolicySpec regression-gates the pinned point on the aligned
    * fixture. */
  object SlotPolicy {
    val SlotNProbe = 4
    val CutC = 128
    val PrefilterC = 32
    val TargetRecall3 = 0.9
  }

  private val CellsDdl =
    "id bigint, cell bigint, v array<double>, n double, ver string"
  private val PqCodesDdl = "id bigint, codes array<int>"
  private val SqCodesDdl = "id bigint, codes array<bigint>"
  private val JlVecsDdl = "id bigint, pv array<double>, pn double, ver string"
  private val SlotCellsDdl = "id bigint, pos int, cell bigint, ver string"
  private val SlotForwardMetaDdl =
    "tbl string, buckets int, ver string, cnt bigint"

  /** Content hash of a collected codebook — deterministic (the
    * codebook itself is: id-seeded init, fixed rounds, decimal means)
    * so a replayed retrain produces the same tag. */
  def codebookVersion(cb: Seq[(Long, Seq[Double], Double)]): String = {
    val canon = cb.sortBy(_._1)
      .map { case (cid, cv, cn) => s"$cid:${cv.mkString(",")}:$cn" }
      .mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def codebookFrame(s: SparkSession,
      cb: Seq[(Long, Seq[Double], Double)], ver: String): DataFrame = {
    import s.implicits._
    cb.map { case (cid, cv, cn) => (cid, cv, cn, ver) }
      .toDF("cid", "cv", "cn", "ver")
  }

  /** One zero-shuffle assignment pass over the stored inverted file
    * under codebook `cb`, atomically replacing it (ver-tagged). The
    * unit of work a [[retrain]] ends with and a torn retrain's repair
    * repeats. */
  private def reassignAll(s: SparkSession, root: String,
      cb: Seq[(Long, Seq[Double], Double)], ver: String): Unit = {
    val cells = readStaticOrEmpty(s, root, CellsEntity, CellsDdl)
    val reassigned = SimSearch.ivfAssign(cells, "id", "v", cb, p = 1)
      .select(col("id"),
        element_at(col("probes"), 1).getField("cid").as("cell"),
        col("v"), col("n"), lit(ver).as("ver"))
    Layout.replaceStatic(reassigned, root, CellsEntity)
  }

  /** The last live `ver` each (root, entity) sidecar verified clean
    * under, in this process. Anything that could tear a sidecar again
    * (a retrain, rotation or repair, here or in another process) lands
    * a new book whose content hash misses the memo, and the book is
    * re-read per call; ingest folds rows tagged with the live hash. */
  private val cleanChecks =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Roll a torn two-entity swap forward: when any row of `entity`
    * carries a `ver` other than the live book's (or no `ver` column at
    * all: a store written before the tag existed), or `torn` says so,
    * run `redo`, the pass the swap ends with. Memoised per (root,
    * entity, ver). The mismatch scan is metadata-cheap besides: `ver`
    * is constant per file, so parquet stats answer the pushed
    * not-equal. */
  private def rollForward(s: SparkSession, root: String, entity: String,
      ddl: String, ver: String, torn: DataFrame => Boolean = _ => false)(
      redo: => Unit): Unit = {
    if (ver == cleanChecks.get((root, entity))) return
    val rows = readStaticOrEmpty(s, root, entity, ddl)
    if (!rows.columns.contains("ver") ||
        !rows.where(!(col("ver") <=> lit(ver))).isEmpty || torn(rows)) redo
    cleanChecks.put((root, entity), ver)
  }

  /** The live codebook and its version, a torn [[retrain]] rolled
    * forward first: every face that reads the inverted file reads the
    * book here, so it never scores cells assigned under another one.
    * The sidecar readers below ([[readBooks]], [[readGrid]],
    * [[readJlMeta]], [[readSlotBook]] and this one) read their entity
    * through [[Layout.frozenRows]]: a frozen sidecar changes only by a
    * whole-table swap or append, so an unchanged file listing serves the
    * collected rows again without a Spark job. */
  private[streaming] def liveCodebook(s: SparkSession, root: String)
      : (Seq[(Long, Seq[Double], Double)], String) = {
    val cb = SimSearch.codebookOf(Layout.frozenRows(s, root, CodebookEntity))
    require(cb.nonEmpty, s"no codebook under $root — bootstrap first")
    val ver = codebookVersion(cb)
    rollForward(s, root, CellsEntity, CellsDdl, ver)(
      reassignAll(s, root, cb, ver))
    (cb, ver)
  }

  /** The stored PQ books, as the nested structure the kernel
    * expressions take. */
  def readBooks(s: SparkSession, root: String): Option[Seq[Seq[Seq[Double]]]] = {
    val rows = Layout.frozenRows(s, root, PqBooksEntity)
    if (rows.isEmpty) None
    else Some(rows.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq))
  }

  /** The stored SQ grid as (mins, scales, isteps). */
  def readGrid(s: SparkSession, root: String): Option[(Seq[Double], Seq[Double], Seq[Double])] = {
    val rows = Layout.frozenRows(s, root, SqGridEntity)
    if (rows.isEmpty) None
    else {
      val sorted = rows.map(r =>
        (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1)
      Some((sorted.map(_._2).toSeq, sorted.map(_._3).toSeq,
        sorted.map(_._4).toSeq))
    }
  }

  private def gridFrame(s: SparkSession, mins: Seq[Double],
      scales: Seq[Double], isteps: Seq[Double]): DataFrame = {
    import s.implicits._
    mins.indices.map(i => (i, mins(i), scales(i), isteps(i)))
      .toDF("pos", "mn", "sc", "istep")
  }

  private def booksFrame(s: SparkSession,
      books: Seq[Seq[Seq[Double]]]): DataFrame = {
    import s.implicits._
    (for ((book, m) <- books.zipWithIndex; (c, j) <- book.zipWithIndex)
      yield (m, j, c)).toDF("m", "j", "c")
  }

  /** The stored JL family as (dOut, seed, ver). */
  def readJlMeta(s: SparkSession, root: String): Option[(Int, Long, String)] =
    Layout.frozenRows(s, root, JlMetaEntity).headOption
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))

  /** Content tag of a JL family — the projection matrix is a pure
    * function of (dOut, seed), so two integers version the whole
    * sidecar. */
  def jlVersion(dOut: Int, seed: Long): String = {
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"jl:$dOut:$seed".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def jlMetaFrame(s: SparkSession, dOut: Int, seed: Long): DataFrame = {
    import s.implicits._
    Seq((dOut, seed, jlVersion(dOut, seed))).toDF("dout", "seed", "ver")
  }

  /** Projected rows (id, pv, pn, ver) of a vector frame under family
    * (dOut, seed) — one zero-shuffle pass, dOut literal-plane dots per
    * row ([[SimSearch.jlProject]]). */
  private def jlRows(vectors: DataFrame, idCol: String, vecCol: String,
      dOut: Int, seed: Long): DataFrame =
    SimSearch.jlProject(vectors, idCol, vecCol, dOut, seed = seed)
      .select(col("id"), col("pv"),
        SimSearch.l2norm(col("pv")).as("pn"),
        lit(jlVersion(dOut, seed)).as("ver"))

  /** One projection pass over the stored inverted file under family
    * (dOut, seed), atomically replacing the projected sidecar — the
    * unit of work a [[rotateJlFamily]] ends with and a torn rotation's
    * repair repeats. */
  private def reprojectAll(s: SparkSession, root: String, dOut: Int,
      seed: Long): Unit =
    Layout.replaceStatic(
      jlRows(readStaticOrEmpty(s, root, CellsEntity, CellsDdl), "id", "v",
        dOut, seed),
      root, JlVecsEntity)

  /** Swap the JL plane family (e.g. widen d′ as the corpus grows):
    * lands the new meta FIRST (its `ver` is the rotation's commit
    * marker), then the reprojected rows — [[retrain]]'s two-entity
    * crash contract verbatim: a kill between the swaps leaves rows
    * tagged with the old family's ver, and the next ingest/serve
    * detects the mismatch and rolls the rotation forward. */
  def rotateJlFamily(spark: SparkSession, root: String, dOut: Int,
      seed: Long, afterMetaSwap: () => Unit = () => ()): String = {
    require(readJlMeta(spark, root).isDefined,
      s"no JL sidecar under $root — bootstrap(withJl = true) first")
    Layout.replaceStatic(jlMetaFrame(spark, dOut, seed), root, JlMetaEntity)
    afterMetaSwap()
    reprojectAll(spark, root, dOut, seed)
    jlVersion(dOut, seed)
  }

  /** The stored JL family, a torn [[rotateJlFamily]] rolled forward
    * first, so the projected rows carry the family the meta names. */
  private def repairedJlMeta(s: SparkSession,
      root: String): Option[(Int, Long, String)] =
    readJlMeta(s, root).map { case meta @ (dOut, seed, _) =>
      rollForward(s, root, JlVecsEntity, JlVecsDdl, jlVersion(dOut, seed))(
        reprojectAll(s, root, dOut, seed))
      meta
    }

  /** The stored slot codebook as (codebook, slices): centroids in the
    * w-dim slot space plus the slice count the sidecar was built at
    * (the vector dim re-derives as slices·w). */
  def readSlotBook(s: SparkSession, root: String)
      : Option[(Seq[(Long, Seq[Double], Double)], Int)] = {
    val rows = Layout.frozenRows(s, root, SlotBookEntity)
    if (rows.isEmpty) None
    else Some((SimSearch.codebookOf(rows), rows.head.getAs[Int]("slices")))
  }

  /** Slot rows of a vector frame flattened to one synthetic id
    * (sid = id·slices + pos) so the fold-assignment kernel can rank
    * them like any vector frame; decoded back after assignment. */
  private def slotRows(vectors: DataFrame, idCol: String, vecCol: String,
      slices: Int, dim: Int): DataFrame =
    graft.ops.LateInteraction.multiVec(vectors, idCol, vecCol, slices, dim)
      .select((col("id") * slices + col("pos")).as("sid"), col("sv"))

  /** Slot-cell assignment rows (id, pos, cell, ver) of a vector frame
    * under a frozen slot codebook — one zero-shuffle fold pass. `ver`
    * is the slot book's content hash ([[codebookVersion]] — the same
    * derivation as the main codebook's), the consistency tag
    * [[slotRetrain]]'s torn-swap repair checks. */
  private def slotCellRows(vectors: DataFrame, idCol: String,
      vecCol: String, scb: Seq[(Long, Seq[Double], Double)],
      slices: Int, dim: Int, ver: String): DataFrame =
    SimSearch.ivfAssign(slotRows(vectors, idCol, vecCol, slices, dim),
        "sid", "sv", scb, p = 1)
      .select(expr(s"id div $slices").as("id"),
        pmod(col("id"), lit(slices.toLong)).cast("int").as("pos"),
        element_at(col("probes"), 1).getField("cid").as("cell"),
        lit(ver).as("ver"))

  /** One slot-assignment pass over the stored inverted file under slot
    * codebook `scb`, atomically replacing the slot sidecar — the unit
    * of work a [[slotRetrain]] ends with and a torn retrain's repair
    * repeats. */
  private def reassignSlots(s: SparkSession, root: String,
      scb: Seq[(Long, Seq[Double], Double)], slices: Int,
      ver: String): Unit = {
    val dim = slices * scb.head._2.length
    Layout.replaceStatic(
      slotCellRows(readStaticOrEmpty(s, root, CellsEntity, CellsDdl), "id", "v",
        scb, slices, dim, ver),
      root, SlotCellsEntity)
    // a REGISTERED forward projection is a downstream copy of the
    // entity just swapped — re-land it under the new book so the
    // bucketed layout tracks the entity automatically (the r13
    // staleness hole: SlotRetrainSpec used to show the CALLER
    // re-landing it by hand). A crash between the cells swap and this
    // rebuild leaves the meta row carrying the OLD ver, which
    // [[readSlotForward]]'s guard rejects — stale reads are
    // impossible, only a (correct) plain-path fallback until the next
    // swap path re-runs this refresh.
    readStaticOrEmpty(s, root, SlotForwardMetaEntity, SlotForwardMetaDdl)
      .collect().headOption.foreach { r =>
        landSlotForward(s, root, r.getString(0), r.getInt(1), ver)
      }
  }

  /** The stored slot codebook and slice count, a torn [[slotRetrain]]
    * rolled forward first: every slot-face read and ingest path reads
    * the book here, so gather never mixes assignments from two slot
    * codebooks. Besides the shared torn shapes, a present book over an
    * EMPTY `slot_cells` next to a NONEMPTY inverted file is torn: a
    * crash between the bootstrap's book and cells upserts leaves the
    * mismatch scan vacuously clean, and memoising that verdict would
    * serve zero gather candidates for the process lifetime. */
  private def repairedSlotBook(s: SparkSession, root: String)
      : Option[(Seq[(Long, Seq[Double], Double)], Int)] =
    readSlotBook(s, root).map { case book @ (scb, slices) =>
      val ver = codebookVersion(scb)
      rollForward(s, root, SlotCellsEntity, SlotCellsDdl, ver, slotCells =>
        slotCells.isEmpty &&
          !readStaticOrEmpty(s, root, CellsEntity, CellsDdl).isEmpty)(
        reassignSlots(s, root, scb, slices, ver))
      book
    }

  /** [[repairedSlotBook]] of a store that must have the slot sidecar. */
  private def liveSlotBook(s: SparkSession,
      root: String): (Seq[(Long, Seq[Double], Double)], Int) =
    repairedSlotBook(s, root).getOrElse(throw new IllegalStateException(
      s"no slot sidecar under $root — bootstrap(withSlots = true) first"))

  /** Re-fit the frozen SLOT codebook to the corpus the index has
    * accumulated — [[retrain]]'s twin for the late-interaction sidecar
    * (the r11 verdict's gap: the main book retrains, JL rotates, but
    * the slot book was frozen at bootstrap forever, so under drift the
    * gather stage — the slot face's only inexact stage — decayed
    * silently). Deterministic Lloyd's over the KEPT vectors' slot rows
    * (`rounds = 0` re-seeds from the lowest-(id, pos) slots), then the
    * two-entity crash contract verbatim: slot book first (its content
    * hash is the commit marker), reassigned slot cells second; a kill
    * between the swaps leaves rows tagged with the old hash and the
    * next slot-face serve/ingest rolls forward ([[repairedSlotBook]]).
    * Gather semantics after retrain: past dedup decisions are
    * untouched (the manifest is historical); only which cells future
    * probes land in changes. `afterBookSwap` is the crash-injection
    * seam SlotRetrainSpec kills in. Returns the new content hash. */
  def slotRetrain(spark: SparkSession, root: String, slotK: Int = SlotK,
      rounds: Int = 3, afterBookSwap: () => Unit = () => ()): String = {
    val (oldScb, slices) = readSlotBook(spark, root).getOrElse(
      throw new IllegalStateException(
        s"no slot sidecar under $root — bootstrap(withSlots = true) first"))
    val cells = readStaticOrEmpty(spark, root, CellsEntity, CellsDdl)
    require(!cells.isEmpty, s"no inverted file under $root — bootstrap first")
    val dim = slices * oldScb.head._2.length
    val sr = slotRows(cells, "id", "v", slices, dim)
    val scb =
      if (rounds <= 0) SimSearch.collectCodebook(
        SimSearch.ivfCentroids(sr, "sid", "sv", slotK))
      else SimSearch.trainCodebook(sr, "sid", "sv", slotK, rounds)
    val ver = codebookVersion(scb)
    import spark.implicits._
    Layout.replaceStatic(
      scb.map { case (cid, cv, cn) => (cid, cv, cn, slices) }
        .toDF("cid", "cv", "cn", "slices"),
      root, SlotBookEntity)
    afterBookSwap()
    reassignSlots(spark, root, scb, slices, ver)
    ver
  }

  /** Top-cell share of the stored SLOT index — [[cellImbalance]]'s
    * analog for the slot face, and the drift signal the r11 verdict
    * asked an operator to be able to SEE: gather coverage is the slot
    * stage-1's recall ceiling, and a drifting ingest distribution
    * piles new slots into few cells, collapsing the probe union's
    * selectivity, long before any serve-side error surfaces. One
    * aggregate over the 3-int slot rows; uniform would be 1/K. Trend
    * it the way [[cellImbalance]] is trended to set the
    * [[slotRetrain]] cadence. */
  def slotCellImbalance(spark: SparkSession, root: String): Double =
    topCellShare(readStaticOrEmpty(spark, root, SlotCellsEntity, SlotCellsDdl))

  /** Row share of the most populated `cell` in `rows` (0 when empty):
    * the one aggregate every imbalance metric here reads. */
  private def topCellShare(rows: DataFrame): Double =
    rows.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg((max(col("n")).cast("double") / sum(col("n"))).as("s"))
      .collect().headOption.map(r => if (r.isNullAt(0)) 0.0 else r.getDouble(0))
      .getOrElse(0.0)

  /** Top-cell share of ONE ingest's kept SLOT rows —
    * [[batchImbalance]]'s slot-face analog, and the signal the
    * mechanized slot-book trigger watches: collapse drift piles the
    * ARRIVING batch's slots into few cells (measured 0.09 → 0.375,
    * `slot_drift` family) while the accumulated index's
    * [[slotCellImbalance]] idles at ~0.02 behind dedup shielding — a
    * trigger on the index-level metric would never fire. Reads the
    * batch's own slot rows back from the store: a kept-id semi-join
    * against the slot index — the batch id set is batch-bounded so
    * Catalyst broadcasts it, and on the cell-sorted compacted layout
    * the ingest's fresh (uncompacted) files hold most of the hits. */
  def slotBatchImbalance(spark: SparkSession, root: String,
      manifest: DataFrame): Double =
    // no slot sidecar: nothing to trigger on
    repairedSlotBook(spark, root).fold(0.0) { _ =>
      topCellShare(readStaticOrEmpty(spark, root, SlotCellsEntity, SlotCellsDdl)
        .join(manifest.where(col("status") === "kept")
          .select(col("vec_id").as("id")), Seq("id"), "left_semi"))
    }

  /** Process-local cadence bookkeeping for the slot drift trigger:
    * batches seen / batch index of the last fired retrain, per root.
    * Deliberately NOT persisted — the cap is a COST governor, not a
    * correctness invariant (any retrain is safe under the book-ver
    * repair contract), so the worst a restart costs is one
    * earlier-than-cadence retrain while the counters re-warm; the
    * same one-driver-per-root assumption every memo here rides. */
  private val slotIngestCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val slotLastRetrain =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** [[retrainIfUnbalanced]]'s slot-face twin — the arming the r12
    * verdict flagged as missing (metric + retrain + a measured trigger
    * gap existed; nothing fired the retrain): [[slotRetrain]] when the
    * batch's kept-slot imbalance crosses `threshold`, else leave the
    * slot book frozen. No-op on stores without a slot sidecar. The
    * threshold reads on the BATCH metric's measured scale (balanced
    * ingest ~0.09 at K = 64, collapse drift 0.375 — `slot_drift`), not
    * [[slotCellImbalance]]'s dedup-shielded ~0.02 band. A caller that
    * already computed the batch share (monitoring reads it anyway)
    * passes it via `share` so the aggregation isn't paid twice.
    *
    * `minBatchesBetween` is the CADENCE CAP (r13 verdict #3 —
    * SCALE.md's operating note mechanized): under PERSISTENT
    * degenerate arrival the batch metric stays above threshold on
    * every kept batch, and each fire is a full book re-fit +
    * index-wide reassignment — the one per-batch cost that is
    * corpus-linear. With the cap, a drifted batch fires only when at
    * least that many batches have passed since the last fire (the
    * FIRST fire is never delayed — drift onset still triggers
    * immediately); retrains per N drifted batches are bounded by
    * ⌈N / cap⌉ while recall rides the post-retrain book between
    * fires (`slot_drift` capped arm measures it). 0 = uncapped (the
    * r13 behavior). Returns the new book hash when a retrain ran. */
  def slotRetrainIfUnbalanced(spark: SparkSession, root: String,
      manifest: DataFrame, threshold: Double, slotK: Int = SlotK,
      rounds: Int = 3, share: Option[Double] = None,
      minBatchesBetween: Int = 0): Option[String] =
    if (readSlotBook(spark, root).isEmpty) None
    else {
      val n = slotIngestCounts.merge(root, java.lang.Long.valueOf(1L),
        (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
        .longValue()
      // cadence gate FIRST (an in-memory check): a cadence-blocked
      // batch must not pay the drift aggregation whose verdict it
      // would discard (r14 review) — callers that pass `share`
      // (monitoring computed it anyway) are unaffected either way
      val cadenceOk = Option(slotLastRetrain.get(root))
        .forall(last => n - last.longValue() >= minBatchesBetween.toLong)
      if (cadenceOk &&
          share.getOrElse(slotBatchImbalance(spark, root, manifest)) >=
            threshold) {
        slotLastRetrain.put(root, java.lang.Long.valueOf(n))
        Some(slotRetrain(spark, root, slotK, rounds))
      } else None
    }

  /** Seed the index from an existing corpus: id-seeded codebook
    * (K lowest-id vectors — [[retrain]] upgrades it to the trained
    * one) and the corpus's cell assignments. Idempotent. `withPq`
    * additionally freezes id-seeded per-subspace PQ books and stores
    * the corpus's code rows — the compressed sidecar
    * [[queryTopKPq]] scans (kept ingests fold their codes in; the
    * codes are keyed by id only, so they need no retrain coupling —
    * the cell attribution is always read live from the inverted
    * file). */
  def bootstrap(corpus: DataFrame, root: String, k: Int = SimSearch.IvfK,
      idCol: String = "vec_id", vecCol: String = "embedding",
      withPq: Boolean = false, pqM: Int = graft.ops.Pq.M,
      pqKsub: Int = graft.ops.Pq.Ksub, withSq: Boolean = false,
      withJl: Boolean = false, jlDOut: Int = 16, jlSeed: Long = 0L,
      withSlots: Boolean = false, slotK: Int = SlotK,
      slotRounds: Int = SlotRounds,
      slotSlices: Int = graft.ops.LateInteraction.Slices,
      slotDim: Int = SimSearch.LshDim): Unit = {
    val s = corpus.sparkSession
    val cb = graft.Sessions.labeled(s, "semantic-bootstrap:codebook") {
      SimSearch.collectCodebook(
        SimSearch.ivfCentroids(corpus, idCol, vecCol, k))
    }
    val ver = codebookVersion(cb)
    graft.Sessions.labeled(s, "semantic-bootstrap:codebook") {
      Layout.upsertStatic(codebookFrame(s, cb, ver), root, CodebookEntity,
        Seq("cid"))
    }
    // The sidecar chains below are mutually independent — each derives
    // from the corpus + the already-landed codebook and touches its own
    // entity directories only — so they FAN OUT concurrently
    // (optimization-guide §2.6; the per-bootstrap bill becomes the
    // slowest chain, not the sum of 2–7 sequential write jobs). Order
    // that matters stays INSIDE a chain: books before codes, grid
    // before codes, meta before vecs, slot book before slot cells — so
    // a crash can never land code/vec rows whose book/grid/meta is
    // missing. A crash mid-fan-out leaves some SUBSET of chains landed,
    // exactly the torn-bootstrap states the sequential prefix could
    // already produce (all upserts are idempotent; re-running bootstrap
    // completes the store, readers of a missing sidecar fail loudly).
    val chains = Seq.newBuilder[() => Unit]
    chains += { () => graft.Sessions.labeled(s, "semantic-bootstrap:cells") {
      val cells = SimSearch.ivfAssign(corpus, idCol, vecCol, cb, p = 1)
        .select(col("id"),
          element_at(col("probes"), 1).getField("cid").as("cell"),
          col("v"), col("n"), lit(ver).as("ver"))
      Layout.upsertStatic(cells, root, CellsEntity, Seq("id"))
    }}
    if (withPq) chains += { () =>
      graft.Sessions.labeled(s, "semantic-bootstrap:pq") {
        val books = graft.ops.Pq.seedBooks(corpus, idCol, vecCol, pqM, pqKsub)
        Layout.upsertStatic(booksFrame(s, books), root, PqBooksEntity,
          Seq("m", "j"))
        Layout.upsertStatic(
          graft.ops.Pq.encodeCodes(corpus, idCol, vecCol, books)
            .select(col("c_id").as("id"), col("codes")),
          root, PqCodesEntity, Seq("id"))
      }
    }
    if (withSq) chains += { () =>
      graft.Sessions.labeled(s, "semantic-bootstrap:sq") {
        val (mins, scales, isteps) = graft.ops.Sq.dimGrid(corpus, vecCol)
        Layout.upsertStatic(gridFrame(s, mins, scales, isteps), root,
          SqGridEntity, Seq("pos"))
        Layout.upsertStatic(
          corpus.select(col(idCol).as("id"),
            graft.ops.Sq.encode(col(vecCol), mins, scales).as("codes")),
          root, SqCodesEntity, Seq("id"))
      }
    }
    if (withJl) chains += { () =>
      graft.Sessions.labeled(s, "semantic-bootstrap:jl") {
        Layout.upsertStatic(jlMetaFrame(s, jlDOut, jlSeed), root,
          JlMetaEntity, Seq("dout", "seed"))
        Layout.upsertStatic(jlRows(corpus, idCol, vecCol, jlDOut, jlSeed),
          root, JlVecsEntity, Seq("id"))
      }
    }
    if (withSlots) chains += { () =>
      graft.Sessions.labeled(s, "semantic-bootstrap:slots") {
        bootstrapSlots(corpus, root, idCol, vecCol, slotK, slotRounds,
          slotSlices, slotDim)
      }
    }
    Layout.fanout(chains.result())
  }

  /** The slot-sidecar chain of [[bootstrap]] (factored so the fan-out
    * keeps book-before-cells ordering inside one chain). */
  private def bootstrapSlots(corpus: DataFrame, root: String,
      idCol: String, vecCol: String, slotK: Int, slotRounds: Int,
      slotSlices: Int, slotDim: Int): Unit = {
    val s = corpus.sparkSession
    locally {
      // frozen slot-space coarse quantizer: the slotK lowest-(id, pos)
      // slot vectors seed the centroids (same deterministic,
      // oracle-replayable discipline as the main seed codebook), then
      // `slotRounds` fixed Lloyd's rounds spread them over the slot
      // space (trainCodebook — deterministic, decimal means, and the
      // oracle replays it round for round). Training matters here in a
      // way it doesn't for the main codebook: probe COVERAGE of the
      // slot space is the recall ceiling of the slot stage-1, and the
      // SlotSweep grid measured seed-only cells leaving it low.
      val sr = slotRows(corpus, idCol, vecCol, slotSlices, slotDim)
      val scb =
        if (slotRounds <= 0) SimSearch.collectCodebook(
          SimSearch.ivfCentroids(sr, "sid", "sv", slotK))
        else SimSearch.trainCodebook(sr, "sid", "sv", slotK, slotRounds)
      import s.implicits._
      Layout.upsertStatic(
        scb.map { case (cid, cv, cn) => (cid, cv, cn, slotSlices) }
          .toDF("cid", "cv", "cn", "slices"),
        root, SlotBookEntity, Seq("cid"))
      Layout.upsertStatic(
        slotCellRows(corpus, idCol, vecCol, scb, slotSlices, slotDim,
          codebookVersion(scb)),
        root, SlotCellsEntity, Seq("id", "pos"))
    }
  }

  /** Re-fit the frozen codebook to the corpus the inverted file has
    * accumulated: deterministic Lloyd's over the KEPT vectors
    * ([[SimSearch.trainCodebook]] — dropped duplicates don't vote),
    * then swap codebook (first — its `ver` is the retrain's commit
    * marker) and reassigned cells (second). A kill between the swaps
    * leaves cells tagged with the old `ver`; the next [[ingestVectors]]
    * detects the mismatch and rolls forward. Returns the new version
    * tag. `afterCodebookSwap` is the crash-injection seam RetrainSpec
    * kills in. */
  def retrain(spark: SparkSession, root: String, k: Int = SimSearch.IvfK,
      rounds: Int = 3,
      afterCodebookSwap: () => Unit = () => ()): String = {
    val cells = readStaticOrEmpty(spark, root, CellsEntity, CellsDdl)
    require(!cells.isEmpty, s"no inverted file under $root — bootstrap first")
    val cb = SimSearch.trainCodebook(cells, "id", "v", k, rounds)
    val ver = codebookVersion(cb)
    Layout.replaceStatic(codebookFrame(spark, cb, ver), root, CodebookEntity)
    afterCodebookSwap()
    reassignAll(spark, root, cb, ver)
    ver
  }

  /** Top-cell share of the stored inverted file — assignment imbalance
    * at the INDEX level, the Σ|cell|² cost face. A one-aggregate scan
    * of the `cell` column only. Uniform would be 1/K; the measured
    * trained-era band sits at ~2.4/K. Note the rehearsal's finding:
    * keep-first dedup SHIELDS this metric from collapse-mode drift —
    * mutually-similar drifted vectors are dropped as duplicates, so
    * the inverted file stays dominated by the balanced base corpus
    * and index-level share barely moves while the arriving
    * distribution is already degenerate. Watch [[batchImbalance]] for
    * the drift signal; watch this for accumulated index health. */
  def cellImbalance(spark: SparkSession, root: String): Double =
    topCellShare(readStaticOrEmpty(spark, root, CellsEntity, CellsDdl))

  /** Top-cell share of ONE ingest's manifest — the batch-level
    * imbalance, and the metric the mechanized retrain trigger watches:
    * it reads the ARRIVING distribution before dedup filters it, so
    * collapse-mode drift shows here (measured 0.075 → 0.116+ at K=32)
    * even while [[cellImbalance]] stays calm. Costs one aggregate over
    * the already-materialized manifest. */
  def batchImbalance(manifest: DataFrame): Double = topCellShare(manifest)

  /** The maintenance policy, mechanized: [[retrain]] when the batch's
    * assignment imbalance crosses `threshold`, else leave the codebook
    * frozen (retraining on a balanced stream buys nothing and — the
    * rehearsal's finding — can even cost near-pair recall by
    * tightening cells; dup recall wants `probes`, not retrains).
    * Call after an ingest with its manifest; returns the new version
    * when a retrain ran. */
  def retrainIfUnbalanced(spark: SparkSession, root: String,
      manifest: DataFrame, threshold: Double, k: Int = SimSearch.IvfK,
      rounds: Int = 3): Option[String] =
    if (batchImbalance(manifest) >= threshold)
      Some(retrain(spark, root, k, rounds))
    else None

  /** READ-ONLY retrain-pressure audit of the maintained index: fit the
    * codebook [[retrain]] WOULD install (same trainer, same rounds,
    * over the accumulated inverted file) and count, per stored cell,
    * how many vectors would move to a different cell under it. The
    * per-batch imbalance trigger ([[retrainIfUnbalanced]]) only sees
    * the CURRENT batch's skew; this is the index-wide health face —
    * "if we retrained today, what fraction of the file reassigns" —
    * the number an operator trends to set retrain cadence BEFORE
    * recall decays (the round-7 rehearsal's drift law, SCALE.md).
    * Cost: the linear-per-round trainer plus ONE zero-shuffle
    * assignment pass over the stored cells and a per-cell aggregate —
    * the store is never mutated and the corpus never rescanned.
    * Output: (cell, n_stored, n_moved). */
  def retrainPressure(spark: SparkSession, root: String,
      k: Int = SimSearch.IvfK, rounds: Int = 3): DataFrame = {
    val cells = readStaticOrEmpty(spark, root, CellsEntity, CellsDdl)
    require(!cells.isEmpty, s"no inverted file under $root — bootstrap first")
    val cb = SimSearch.trainCodebook(cells, "id", "v", k, rounds)
    cells.select(col("cell"),
        element_at(graft.functions.VectorExprs.nearestCells(
          col("v").cast("array<double>"), cb, 1), 1)
          .getField("cid").as("new_cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_stored"),
        sum(when(col("new_cell") =!= col("cell"), 1L).otherwise(0L))
          .as("n_moved"))
  }

  /** The Structured Streaming driver — [[CurateStream.run]]'s
    * vector-side twin: watch `rawDir` for embedding batches (parquet),
    * dedup each micro-batch against the stored index. Restart-safe for
    * the same reasons (checkpoint replay + self-excluding probes +
    * anti-join upserts + manifest-last), and a replayed batch also
    * repairs any torn [[retrain]] first. `autoThreshold > 0` arms the
    * mechanized maintenance policy per batch
    * ([[retrainIfUnbalanced]] on the fresh manifest — the measured
    * batch-level trigger; the stored index is dedup-shielded and
    * would never fire). `slotAutoThreshold > 0` arms the SLOT book's
    * twin ([[slotRetrainIfUnbalanced]] on the same manifest, at
    * `slotAutoK` cells) — the r12 gap: the slot face had the metric
    * and the retrain but nothing arming them — with
    * `slotMinBatchesBetween` as its cadence cap (r13 gap: persistent
    * degenerate arrival fired a full retrain on every kept batch; the
    * cap bounds fires to ⌈batches/cap⌉, first fire never delayed).
    * `compactEvery > 0`
    * compacts the cells +
    * manifest stores AND every armed sidecar (PQ/SQ codes, JL rows,
    * slot cells — compactStatic is a no-op None for entities the
    * bootstrap never armed) every that many batches, keyed off the
    * stream's batch id like the curate driver; without the sidecars
    * in the window a long-running ingest accumulates one file per
    * batch per sidecar forever (r11 fix, SemanticStreamSpec pins
    * row preservation + the file-count drop). */
  def run(spark: SparkSession, rawDir: String, schema: StructType,
      root: String, checkpoint: String, maxFilesPerTrigger: Int = 1,
      probes: Int = 1, autoThreshold: Double = 0.0,
      compactEvery: Int = 0, k: Int = SimSearch.IvfK,
      residual: Option[Double] = None, slotAutoThreshold: Double = 0.0,
      slotAutoK: Int = SlotK,
      slotMinBatchesBetween: Int = 0): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(rawDir)
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val man = ingestVectors(b, root, probes = probes,
          residual = residual)
        if (autoThreshold > 0)
          retrainIfUnbalanced(spark, root, man, autoThreshold, k)
        if (slotAutoThreshold > 0)
          slotRetrainIfUnbalanced(spark, root, man, slotAutoThreshold,
            slotAutoK, minBatchesBetween = slotMinBatchesBetween)
        graft.Checkpoints.release(man)
        if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
          Seq(CellsEntity, ManifestEntity, PqCodesEntity, SqCodesEntity,
              JlVecsEntity)
            .foreach(Layout.compactStatic(spark, root, _))
          // slot cells compact RANGE-SORTED by cell (the lex-postings
          // precedent): each file owns a cell range, so the slot
          // gather's pushed In(cell, …) prunes files/row groups via
          // parquet min/max stats instead of scanning the whole slot
          // index per query batch (slot_gather_prune family measures
          // the law; the fetch reads ≤ probed-cells' files)
          Layout.compactStatic(spark, root, SlotCellsEntity,
            sortBy = Seq("cell"))
          // a REGISTERED forward projection refreshes in the same
          // window: ingest growth stales it (the count guard declines
          // it until re-landed — readSlotForward), so the deployment
          // that wants the armed cut's bucketed plan between windows
          // pays one projection rewrite per window, next to the file
          // sawtooth it already pays here
          refreshSlotForwardIfRegistered(spark, root)
        }
        ()
      }
      .start()

  /** Approximate top-k over the STORED index without ingesting — the
    * read face of the online index (ingest maintains it, this serves
    * it): zero-shuffle assignment of the query rows against the live
    * codebook (top-`nProbe` probe list from the same fold kernel),
    * one equi-join on cell against the stored inverted file, exact
    * 6-dp cosine re-rank inside the probed cells. Shares ingest's
    * torn-retrain repair so a query never scores cells assigned under
    * a codebook other than the live one. Per query the cost is
    * K·d assignment arithmetic + the probed cells' vectors — the
    * corpus is never scanned. */
  def queryTopK(queries: DataFrame, root: String, topK: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nProbe: Int = SimSearch.IvfProbe): DataFrame = {
    val s = queries.sparkSession
    val (cb, _) = liveCodebook(s, root)
    val cells = readStaticOrEmpty(s, root, CellsEntity, CellsDdl)
      .select(col("id").as("c_id"), col("cell"),
        col("v").as("cv"), col("n").as("cn"))
    cosineTopK(broadcast(probeFold(queries, idCol, vecCol, cb, nProbe))
      .join(cells, Seq("cell")).where(col("q_id") =!= col("c_id")), topK)
  }

  /** One row per (query, probed cell) over the live codebook `cb`:
    * (q_id, qv, qn, extra…, cell), ≤ nq·nProbe rows, the fold every
    * IVF serve face starts from. `widen` adds columns to the
    * assignment rows before the fold. Each face reads its fold once,
    * as the broadcast side of its cell join (without the hint the
    * planner can sort-merge shuffle the corpus-sized inverted file by
    * cell to meet it), so the fold is not checkpointed. */
  private def probeFold(queries: DataFrame, idCol: String, vecCol: String,
      cb: Seq[(Long, Seq[Double], Double)], nProbe: Int,
      extra: Seq[Column] = Nil,
      widen: DataFrame => DataFrame = identity): DataFrame =
    widen(SimSearch.ivfAssign(queries, idCol, vecCol, cb, p = nProbe))
      .select(Seq(col("id").as("q_id"), col("v").as("qv"), col("n").as("qn"))
        ++ extra :+ explode(col("probes").getField("cid")).as("cell"): _*)

  /** The `prefilterC` best candidates per query by `order` (ties to
    * the lower c_id): the cheap stage of every compressed face. */
  private def prefilter(scored: DataFrame, order: Column,
      prefilterC: Int): DataFrame =
    Pairs.topK(scored, Seq(col("q_id")), Seq(order, col("c_id").asc),
      lit(prefilterC), "prn")

  /** Exact 6-dp cosine of each (q_id, qv, qn) × (c_id, cv, cn) pair,
    * top-`topK` per query (ties to the lower c_id). */
  private def cosineTopK(pairs: DataFrame, topK: Int): DataFrame =
    Pairs.topK(pairs.select(col("q_id"), col("c_id"),
        round(SimSearch.cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6)
          .as("cos")),
      Seq(col("q_id")), Seq(col("cos").desc, col("c_id").asc), topK)

  /** The one exact refine of the compressed faces: candidates
    * (q_id, qv, qn, c_id) fetch their stored full vectors and re-rank
    * by [[cosineTopK]]. The candidates are HARD-bounded (≤
    * nq·prefilterC rows), so they broadcast and the full-vector fetch
    * streams the inverted file instead of shuffling it by c_id. */
  private def exactRerank(cand: DataFrame, root: String,
      topK: Int): DataFrame =
    cosineTopK(broadcast(cand).join(
      readStaticOrEmpty(cand.sparkSession, root, CellsEntity, CellsDdl)
        .select(col("id").as("c_id"), col("v").as("cv"), col("n").as("cn")),
      Seq("c_id")), topK)

  /** [[queryTopKPq]]'s training-free twin (requires
    * `bootstrap(withSq = true)`): the probed cells scan as SQ code
    * rows first — asymmetric distance against the frozen grid keeps
    * the `prefilterC` best per query, and only those candidates fetch
    * full vectors for the exact cosine re-rank. Same IO bound (full
    * vectors for prefilterC rows per query), 8× compression instead
    * of 64×, and the SQ rerank recall law (SCALE_MEASURED_r8: total
    * at prefilter 100 where PQ holds 16%) carries over. Shares the
    * torn-retrain repair. */
  def queryTopKSq(queries: DataFrame, root: String, topK: Int,
      prefilterC: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      nProbe: Int = SimSearch.IvfProbe,
      allowed: Option[DataFrame] = None): DataFrame =
    exactRerank(sqCandidates(queries, root, prefilterC, idCol, vecCol,
      nProbe, allowed), root, topK)

  /** [[queryTopKSq]]'s candidate stage as a reusable face: probe
    * assignment → stored-cell equi-join → asymmetric SQ distance over
    * stored codes → per-query top-`prefilterC`. Returns
    * `(q_id, qv, qn, c_id)` — the bounded candidate pairs every
    * downstream re-ranker (exact cosine in [[queryTopKSq]], MaxSim in
    * [[queryTopKMaxSim]]) starts from. Carries the torn-retrain
    * repair, so candidates always come from one codebook version.
    *
    * `allowed` is the FILTERED-search face (FAISS-IDSelector shape):
    * a 1-column (`id`) frame of eligible candidate ids, semi-joined
    * onto the probed cell rows BEFORE the SQ distance and the
    * per-query top-`prefilterC` window — so the whole candidate
    * budget lands on eligible rows. Filtering AFTER the prefilter
    * (the tempting post-filter of an unfiltered top-k) starves the
    * re-rank at selectivity s to ~s·prefilterC survivors and recall
    * collapses; pre-filtering keeps the budget intact at the cost of
    * scanning the same probed cells (the semi-join prunes code rows,
    * never adds any). At 100 TB the allowed set is a dimension
    * predicate resolved to ids — an equi-join, not a scan. */
  def sqCandidates(queries: DataFrame, root: String, prefilterC: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nProbe: Int = SimSearch.IvfProbe,
      allowed: Option[DataFrame] = None): DataFrame = {
    val s = queries.sparkSession
    val (mins, _, isteps) = readGrid(s, root).getOrElse(
      throw new IllegalStateException(
        s"no SQ grid under $root — bootstrap(withSq = true) first"))
    val (cb, _) = liveCodebook(s, root)
    val cellIds0 = readStaticOrEmpty(s, root, CellsEntity, CellsDdl)
      .select(col("id").as("c_id"), col("cell"))
    val cellIds = allowed match {
      case Some(ok) =>
        cellIds0.join(ok.select(col("id").as("c_id")), Seq("c_id"),
          "left_semi")
      case None => cellIds0
    }
    val codes = readStaticOrEmpty(s, root, SqCodesEntity, SqCodesDdl)
      .select(col("id").as("c_id"), col("codes"))
    prefilter(broadcast(probeFold(queries, idCol, vecCol, cb, nProbe))
        .join(cellIds, Seq("cell"))
        .where(col("q_id") =!= col("c_id"))
        .join(codes, Seq("c_id"))
        .select(col("q_id"), col("qv"), col("qn"), col("c_id"),
          graft.functions.SqExprs.dist(col("qv"), col("codes"), mins, isteps)
            .as("sdist")),
        col("sdist").asc, prefilterC)
      .select(col("q_id"), col("qv"), col("qn"), col("c_id"))
  }

  /** Late-interaction serving face: [[sqCandidates]] at the pinned
    * [[ServePolicy]] knobs generates the bounded candidate pairs, and
    * [[graft.ops.LateInteraction.maxSimRerank]] scores them with the
    * multi-vector Σ max slot-cosine cascade — ANN-from-the-stored-index
    * first stage, MaxSim second stage, the production late-interaction
    * cascade (q176's brute prefilter swapped for the maintained index,
    * nothing downstream changed). The corpus side of the re-rank reads
    * the STORED vectors (cells entity), so the only full-vector IO is
    * the candidate slice — the corpus is never rescanned.
    *
    * Recall caveat: [[ServePolicy]]'s ≥0.9@3 target is a POOLED-face
    * property and does NOT transfer here — against the covering-gold
    * MaxSim, recall is bounded by how well the pooled stage-1 ordering
    * predicts the multi-vector one (`maxsim_serve`, SCALE.md): on
    * corpora where the two decorrelate, recall ≈ C/n. For that reason
    * `prefilterC`/`nProbe` have NO defaults here (the r10 verdict: the
    * pooled policy knobs silently adopted a policy that doesn't
    * transfer) — callers must choose a measured budget, and the
    * recommended production face is [[queryTopKMaxSimSlots]], whose
    * slot-level stage-1 probes the signal MaxSim actually ranks by.
    * Measure the C ladder against the covering gold on your corpus
    * (MaxSimBench) before trusting a bounded budget. */
  def queryTopKMaxSim(queries: DataFrame, root: String, topK: Int,
      prefilterC: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      slices: Int = graft.ops.LateInteraction.Slices,
      dim: Int = SimSearch.LshDim): DataFrame = {
    val s = queries.sparkSession
    val pre = sqCandidates(queries, root, prefilterC, idCol, vecCol, nProbe)
      .select(col("q_id"), col("c_id"))
    val corpus = readStaticOrEmpty(s, root, CellsEntity, CellsDdl)
      .select(col("id"), col("v"))
    graft.ops.LateInteraction.maxSimRerank(
      pre, queries.select(col(idCol), col(vecCol)), corpus,
      qIdCol = idCol, qVecCol = vecCol, cIdCol = "id", cVecCol = "v",
      k = topK, slices = slices, dim = dim)
  }

  /** Per-query gathered-candidate count of the slot stage-1 — the
    * sizing audit an operator runs before pinning (slotK, slotNProbe,
    * C): |candidates| is the stage-1 scoring bill (×T² code kernels)
    * and the fraction gathered is the selectivity the slot codebook's
    * K buys. Same gather plan as [[queryTopKMaxSimSlots]], stopped
    * after the distinct — no scoring, no vectors. */
  def slotGatherCount(queries: DataFrame, root: String,
      slotNProbe: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val s = queries.sparkSession
    val (scb, slices) = liveSlotBook(s, root)
    val w = scb.head._2.length
    val dim = slices * w
    val asg = SimSearch.ivfAssign(
        slotRows(queries.select(col(idCol), col(vecCol)), idCol, vecCol,
          slices, dim), "sid", "sv", scb, p = slotNProbe)
      .select(expr(s"id div $slices").as("q_id"),
        explode(col("probes").getField("cid")).as("cell"))
      .distinct()
      .localCheckpoint() // read twice: probe-literal collect + gather
    // the same pushed In(cell, …) the serve gather uses — the audit
    // must price the plan it audits
    val probeCells = asg.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    asg
      .join(readStaticOrEmpty(s, root, SlotCellsEntity, SlotCellsDdl)
        .select(col("id").as("c_id"), col("cell"))
        .where(col("cell").isin(probeCells: _*)), Seq("cell"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id")).distinct()
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_cand"))
  }

  /** Slot-level late-interaction serving — the PLAID/ColBERT candidate
    * shape (Santhanam et al., "PLAID: an efficient engine for late
    * interaction retrieval", CIKM 2022), built from the machinery the
    * index already maintains:
    *
    *   stage 0 — slice the queries into slot vectors and rank each
    *     against the FROZEN slot codebook (plan-carried fold, zero
    *     shuffle, K·w arithmetic per slot); top-`slotNProbe` cells
    *     per query slot;
    *   stage 1a (gather) — equi-join the probed cells against the
    *     stored `slot_cells` rows: a doc is a candidate when ANY of
    *     its slots landed in ANY probed cell;
    *   stage 1a′ (centroid cut, armed by `cutC > 0`) — PLAID's cheap
    *     centroid-interaction stage between gather and code scoring:
    *     every gathered candidate is scored as Σ_qpos max over its
    *     slots of cos(query slot, CENTROID of the slot's cell) — the
    *     per-(query-slot, cell) cosines fall out of the SAME plan-
    *     carried fold the probes come from (p = K instead of p =
    *     `slotNProbe`; the kernel computes all K cosines either way),
    *     so the cut costs equi-joins over precomputed scalars, no
    *     w-dim arithmetic per pair — and only the top-`cutC` docs per
    *     query reach the T×T code kernels. This is the 100-TB cost
    *     lever the r11 verdict priced: measured cand_frac up to 0.87
    *     at small K means stage 1b would otherwise run ≈ n·T² byte
    *     kernels per query; with the cut the code-scoring bill is
    *     cutC·T² regardless of gather width (slot_policy family,
    *     SCALE.md r12). Zero-norm query slots' NaN cosines are
    *     guarded to 0 so degenerates never outrank real matches;
    *   stage 1b (score) — every surviving candidate's full T×T slot
    *     interaction from its stored SQ CODE row ([[graft.functions
    *     .SqExprs.slotCos]] de-quantizes the w-dim slice in place —
    *     near-exact, byte reads, no vector fetch); per (query, doc,
    *     qpos) max → decimal-exact sum = the stage-1 MaxSim estimate
    *     with ALL T terms; top-C docs per query;
    *   stage 2 — the unchanged [[graft.ops.LateInteraction
    *     .maxSimRerank]] C·T² exact cascade over those C docs.
    *
    * Why this survives corpus growth where the pooled stage-1 doesn't:
    * a doc ranks high under MaxSim exactly when its slots align with
    * the query's slots, and aligned slots land in probed slot cells —
    * so the candidate union reaches the docs MaxSim will rank,
    * independent of how the POOLED vectors relate, and the code-row
    * scoring orders them by (near-exactly) the metric itself
    * (`maxsim_serve`/`slot_sweep` measured: pooled recall@3 ≈ C/n;
    * slot face ≥ 0.9 at C ≪ n — SCALE.md round 11). Cost: gather =
    * `slotNProbe`/K of the slot index per query slot (3-int rows);
    * score = |candidates|·T² code-slice kernels (byte reads); the only
    * full-vector IO is the C re-rank candidates. Requires both the
    * slot and SQ sidecars (`bootstrap(withSq = true,
    * withSlots = true)`). */
  /** Shared stage 0 + stage 1a — ONE implementation consumed by the
    * serve path ([[queryTopKMaxSimSlots]]), the alignment diagnostic
    * ([[slotCutAgreement]]) and the measurement harness
    * ([[slotGatherFold]]), so the three cannot desynchronize (r13
    * review: plan identity by construction, not by triplication).
    *
    * Stage 0: per-query-slot probe lists from the fold kernel (K·w
    * arithmetic per slot, zero shuffle), checkpointed — the fold is
    * read up to 4× downstream (probe-literal collect, gather,
    * centroid-cut qcn, stage-1b join) and at p = K recomputing it per
    * consumer would quadruple the dominant kernel cost.
    *
    * Stage 1a (gather): a doc is a candidate when ANY of its slots
    * sits in ANY query slot's top-`slotNProbe` cells — reachability
    * by slot alignment, the signal MaxSim ranks by. `allowed` is the
    * FILTERED-search face (q188's sqCandidates contract): eligible
    * ids semi-join the slot index BEFORE gather, so the whole
    * candidate + top-C budget lands on eligible docs — post-filtering
    * an unfiltered top-k would starve the re-rank at selectivity s to
    * ~s·C survivors; the semi-join prunes index rows, never adds any.
    * The gather is PUSHED (the lex_prune discipline on the slot
    * index): the probe union is BOUNDED (≤ nq·T·slotNProbe cells), so
    * it collects to literals and reaches the slot-cells scan as a
    * pushed In(cell, …) — on the cell-sorted compacted layout parquet
    * min/max stats skip every file holding no probed cell
    * (`slot_gather_prune` measures the law; PlanSpec pins the
    * filter). Semantics-preserving: rows outside the union cannot
    * meet the gather equi-join anyway. The CUT stage reads the
    * unfiltered `scells` — it needs every slot of the gathered
    * candidates, probed or not.
    *
    * Returns (asg, scells, cand); `cand` is NOT checkpointed — the
    * serve path reads it once, callers with multiple consumers
    * checkpoint it themselves. */
  private def slotStage01(queries: DataFrame, root: String,
      idCol: String, vecCol: String, slotNProbe: Int, p: Int,
      allowed: Option[DataFrame], scb: Seq[(Long, Seq[Double], Double)],
      slices: Int): (DataFrame, DataFrame, DataFrame) = {
    val s = queries.sparkSession
    val dim = slices * scb.head._2.length
    val asg = graft.Sessions.labeled(s, "slot-serve:stage0-fold") {
      SimSearch.ivfAssign(
          slotRows(queries.select(col(idCol), col(vecCol)), idCol, vecCol,
            slices, dim), "sid", "sv", scb, p = p)
        .select(expr(s"id div $slices").as("q_id"),
          pmod(col("id"), lit(slices.toLong)).cast("int").as("qpos"),
          col("v").as("qv"), col("probes"))
        .localCheckpoint()
    }
    val scells0 = readStaticOrEmpty(s, root, SlotCellsEntity, SlotCellsDdl)
      .select(col("id").as("c_id"), col("cell"))
    val scells = allowed match {
      case Some(ok) =>
        scells0.join(ok.select(col("id").as("c_id")), Seq("c_id"),
          "left_semi")
      case None => scells0
    }
    val probeCells = graft.Sessions.labeled(s, "slot-serve:probe-literals") {
      asg
        .select(explode(slice(col("probes"), 1, slotNProbe)
          .getField("cid")).as("cell"))
        .distinct().collect().map(_.getLong(0)).toIndexedSeq
    }
    // broadcast the probe pairs (≤ nq·T·slotNProbe rows, the same
    // bound that sanctions the literal collect above): asg is a
    // checkpointed RDD with unknown stats — without the hint the
    // planner shuffles the pruned slot-index scan to sort-merge it
    val cand = broadcast(asg
        .select(col("q_id"), explode(
          slice(col("probes"), 1, slotNProbe).getField("cid")).as("cell"))
        .distinct())
      .join(scells.where(col("cell").isin(probeCells: _*)), Seq("cell"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id")).distinct()
    (asg, scells, cand)
  }

  def queryTopKMaxSimSlots(queries: DataFrame, root: String, topK: Int,
      prefilterC: Int, slotNProbe: Int = 2, cutC: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allowed: Option[DataFrame] = None): DataFrame = {
    val s = queries.sparkSession
    val (scb, slices) = liveSlotBook(s, root)
    val w = scb.head._2.length
    val dim = slices * w
    val (mins, _, isteps) = readGrid(s, root).getOrElse(
      throw new IllegalStateException(
        s"no SQ grid under $root — the slot face scores stage-1 from " +
          "stored codes; bootstrap(withSq = true, withSlots = true)"))
    // the centroid cut needs the cosines to ALL K cells — the kernel
    // computes them either way, so arming the cut only widens the
    // kept fold output, never the work
    val (asg, scells, cand) = slotStage01(queries, root, idCol, vecCol,
      slotNProbe, p = if (cutC > 0) scb.size else slotNProbe, allowed,
      scb, slices)
    // stage 1a′ (centroid cut): rank gathered candidates by the cheap
    // centroid interaction Σ_qpos max_slot cos(query slot, slot-cell
    // centroid) — every term is a lookup into the (q_id, qpos, cell)
    // cosines the fold already computed, so the pass is equi-joins +
    // max/sum over scalars; only the top-cutC reach the code kernels.
    // The decimal sum keeps the tie-broken ordering engine-exact for
    // the oracle replay.
    val pre1 =
      if (cutC <= 0) cand
      else {
        // the cut's candidate-keyed join reads the doc_id-bucketed
        // FORWARD projection when a registered fresh copy exists
        // (measured 6→5 exchanges, `slot_forward`; BucketingSpec plan
        // pin) — the r13 gap was that only the bench consumed it. The
        // ver guard makes the swap safe: stale/missing → the plain
        // entity, so registered stores without a projection are
        // byte-identical to before. Joining the UNFILTERED projection
        // is equivalent to joining `scells` even under `allowed`:
        // `cand` is already restricted to eligible ids, and an inner
        // join on c_id cannot resurrect ineligible rows.
        val cutCells = readSlotForward(s, root, codebookVersion(scb))
          .getOrElse(scells)
        prefilter(centroidCutScores(cand, cutCells, queryCellCosines(asg),
          slices), col("ccut").desc, cutC).select(col("q_id"), col("c_id"))
      }
    // stage 1b (scoring — PLAID's decompression stage on the SQ
    // sidecar): every gathered candidate's FULL T×T slot interaction
    // scored from its stored code row, de-quantized slice-in-place by
    // the native kernel — near-exact (≤ istep/2 per dim), reads bytes
    // not vectors, and covers all T query slots so the estimate has
    // no missing terms. (Matched-slots-only exact scoring measured an
    // 0.87 recall ceiling — docs strong outside the probed cells
    // under-rank; centroid-only scoring measured 0.37 — the w-dim
    // coarse quantizer can't order docs. SlotSweep, SCALE.md r11.)
    // pre1 is broadcast ONLY when the cut bounded it (≤ cutC·nq
    // pairs): the uncut path's pre1 is the raw gather, whose width is
    // corpus-fraction at small K, so it keeps the planner's choice.
    val pre = prefilter(codeScores(if (cutC > 0) broadcast(pre1) else pre1,
        asg, root, w, slices, mins, isteps), col("s1").desc, prefilterC)
      .select(col("q_id"), col("c_id"))
    // stage 2: the unchanged candidate-bounded exact MaxSim cascade
    graft.ops.LateInteraction.maxSimRerank(
      pre, queries.select(col(idCol), col(vecCol)),
      readStaticOrEmpty(s, root, CellsEntity, CellsDdl)
        .select(col("id"), col("v")),
      qIdCol = idCol, qVecCol = vecCol, cIdCol = "id", cVecCol = "v",
      k = topK, slices = slices, dim = dim)
  }

  /** Stage 1b's score `s1` of each candidate pair (q_id, c_id): the
    * full T×T slot interaction from the candidate's stored SQ code
    * row, de-quantized slice-in-place (≤ istep/2 per dim), folded by
    * ONE [[graft.ops.LateInteraction.qposMaxSum]] (one exchange, one
    * shuffled row per pair) into the decimal-exact Σ_qpos max. The
    * query fold `asg` (≤ nq·T rows) is broadcast so the corpus-sized
    * code store streams. Shared by the serve path and the alignment
    * diagnostic, so both score with the identical plan. */
  private def codeScores(pairs: DataFrame, asg: DataFrame, root: String,
      w: Int, slices: Int, mins: Seq[Double],
      isteps: Seq[Double]): DataFrame =
    graft.ops.LateInteraction.qposMaxSum(
      readStaticOrEmpty(asg.sparkSession, root, SqCodesEntity, SqCodesDdl)
        .select(col("id").as("c_id"), col("codes"))
        .join(pairs, Seq("c_id"))
        .join(broadcast(asg.select(col("q_id"), col("qpos"), col("qv"))),
          Seq("q_id"))
        .select(col("q_id"), col("c_id"), col("qpos"),
          explode(sequence(lit(0), lit(slices - 1))).as("cpos"),
          col("qv"), col("codes"))
        .select(col("q_id"), col("c_id"), col("qpos"),
          graft.functions.SqExprs.slotCos(col("qv"), col("codes"),
            col("cpos"), mins, isteps, w).as("sc")),
      Seq("q_id", "c_id"), "qpos", "sc", slices, "s1")

  /** The per-(query, qpos, cell) centroid cosines off a p = K
    * assignment fold — the plan-carried scalars stage 1a′ and the
    * alignment diagnostic rank by (NaN-guarded to 0 so degenerate
    * query slots never outrank real matches). */
  private def queryCellCosines(asg: DataFrame): DataFrame =
    asg.select(col("q_id"), col("qpos"),
        explode(col("probes")).as("pc"))
      .select(col("q_id"), col("qpos"),
        col("pc").getField("cid").as("cell"),
        when(isnan(col("pc").getField("cc")), lit(0.0))
          .otherwise(col("pc").getField("cc")).as("qc"))

  /** Stage 1a′'s candidate-keyed interaction as a standalone shape:
    * per gathered (q_id, c_id), the decimal-exact Σ_qpos max over the
    * candidate's slot cells of the query-slot × cell-centroid cosine.
    * Factored out so the serve path ([[queryTopKMaxSimSlots]]), the
    * alignment diagnostic ([[slotCutAgreement]]) and the forward-
    * projection bench all execute the IDENTICAL plan — the bench's
    * exchange count is the production stage's, not a re-creation's.
    * `scells` is the (c_id, cell) projection of the slot index: pass
    * the stored entity for the registered path, or the doc_id-bucketed
    * FORWARD projection ([[writeSlotForward]]) to drop the
    * corpus-side exchange under this join (the inverted/forward split:
    * gather reads the cell-sorted projection, this stage reads the
    * doc-keyed one). */
  def centroidCutScores(cand: DataFrame, scells: DataFrame,
      qcn: DataFrame,
      slices: Int = graft.ops.LateInteraction.Slices): DataFrame =
    // the Σ_qpos max interaction as ONE aggregation (qposMaxSum — one
    // exchange fewer, one shuffled row per pair instead of per
    // (pair, qpos), bit-identical decimal sum); qcn is the bounded
    // plan-carried fold (≤ nq·T·K rows), broadcast so the
    // candidate-keyed stream is never shuffled to meet it
    graft.ops.LateInteraction.qposMaxSum(
      cand.join(scells, Seq("c_id"))
        .join(broadcast(qcn), Seq("q_id", "cell")),
      Seq("q_id", "c_id"), "qpos", "qc", slices, "ccut")

  /** Stage 0 + stage 1a as a standalone pair for measurement
    * harnesses: the gathered candidates and the p = K per-(query,
    * qpos, cell) centroid cosines, both bounded to one fold pass —
    * the exact inputs [[centroidCutScores]] consumes on the serve
    * path, so a bench driving the cut stage measures the production
    * join, not a re-creation. */
  def slotGatherFold(queries: DataFrame, root: String,
      slotNProbe: Int = SlotPolicy.SlotNProbe, idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val s = queries.sparkSession
    val (scb, slices) = liveSlotBook(s, root)
    val (asg, _, cand) = slotStage01(queries, root, idCol, vecCol,
      slotNProbe, p = scb.size, allowed = None, scb, slices)
    (cand.localCheckpoint(), queryCellCosines(asg))
  }

  /** Land + REGISTER the slot index's FORWARD projection: the
    * (id, cell) rows bucketed (and sorted) by doc id in the session
    * catalog — the second physical projection of the `slot_cells`
    * entity SCALE.md's inverted/forward analysis calls for. The
    * GATHER keeps reading the cell-sorted inverted layout (pushed
    * In(cell, …) file pruning, `slot_gather_prune`); the CUT stage's
    * candidate-keyed join reads THIS layout and loses its corpus-side
    * shuffle exchange (the `attr_bucketed` machinery applied to the
    * slot face — `slot_forward` has the measured row, BucketingSpec
    * the plan pin, and since r14 the PRODUCTION serve path
    * ([[queryTopKMaxSimSlots]]) consumes it whenever it is fresh).
    * Registration order is the crash contract: the bucketed table
    * lands first, the ver-tagged meta row second (the commit marker)
    * — a kill between the two leaves the old meta (or none), which
    * the read guard treats as "no fresh projection". Once registered,
    * every entity swap ([[slotRetrain]], torn-swap roll-forward,
    * pre-ver migration) re-lands the projection automatically
    * ([[reassignSlots]]), closing the r13 manual-refresh hole; ingest
    * GROWTH (new rows under the unchanged book hash) instead STALES
    * it — the count guard in [[readSlotForward]] declines the copy
    * (plain-path fallback, never a result missing the new docs) until
    * the next re-land, which a streaming deployment gets from
    * [[run]]'s compaction window. */
  def writeSlotForward(spark: SparkSession, root: String, table: String,
      buckets: Int): Unit = {
    // project the REPAIRED entity: a torn retrain rolled forward here
    // rather than projected as-is
    val (scb, _) = liveSlotBook(spark, root)
    landSlotForward(spark, root, table, buckets, codebookVersion(scb))
  }

  /** The projection write itself: bucketed copy first, then the meta
    * row (commit marker) carrying the book hash AND the projected row
    * count. Shared by [[writeSlotForward]] and the automatic refresh
    * in [[reassignSlots]] / the streaming driver's compaction
    * window. */
  private def landSlotForward(spark: SparkSession, root: String,
      table: String, buckets: Int, ver: String): Unit = {
    graft.sinks.Bucketing.writeBucketed(
      readStaticOrEmpty(spark, root, SlotCellsEntity, SlotCellsDdl)
        .select(col("id"), col("cell")),
      table, "id", buckets)
    val cnt = graft.sinks.Bucketing.readBucketed(spark, table).count()
    import spark.implicits._
    Layout.replaceStatic(
      Seq((table, buckets, ver, cnt)).toDF("tbl", "buckets", "ver", "cnt"),
      root, SlotForwardMetaEntity)
  }

  /** Re-land a REGISTERED forward projection under the live book —
    * the streaming deployment's freshness cadence, called from
    * [[run]]'s compaction window (ingest growth stales the
    * projection via the count guard; this brings it back). No-op
    * when nothing is registered or the store has no slot sidecar. */
  private def refreshSlotForwardIfRegistered(spark: SparkSession,
      root: String): Unit =
    readStaticOrEmpty(spark, root, SlotForwardMetaEntity, SlotForwardMetaDdl)
      .collect().headOption.foreach { r =>
        repairedSlotBook(spark, root).foreach { case (scb, _) =>
          landSlotForward(spark, root, r.getString(0), r.getInt(1),
            codebookVersion(scb))
        }
      }

  /** The registered forward projection, IF it is fresh under the LIVE
    * slot index — the staleness guard, two components (r13 advice +
    * r14 review):
    *
    *   - the meta row's book hash must equal `liveVer` — catches
    *     retrains/reassignments whose projection rebuild crashed;
    *   - the meta row's recorded ROW COUNT must equal the live
    *     entity's — catches [[ingestVectors]] growth, which appends
    *     slot rows under the UNCHANGED book hash: a ver-only guard
    *     would serve a projection missing the newly ingested docs,
    *     and the armed cut's inner join would silently drop them
    *     from results (the asymmetric failure again — declining only
    *     costs the plain path's exchange). Count equality is a sound
    *     content proxy here: under the entity's lifecycle (anti-join
    *     upserts keyed (id, pos); atomic whole-entity replaces that
    *     re-land the projection) rows are never mutated in place
    *     under one ver, so the count moves iff content moved. The
    *     check is one metadata-cheap count per ARMED serve; a
    *     long-running ingest deployment re-lands the projection in
    *     the driver's compaction window ([[run]]) to stay fresh.
    *
    * A meta row written before the count column existed (r14 schema)
    * is DECLINED, not crashed on — stale-safe migration: the next
    * [[writeSlotForward]]/refresh re-lands it with the count. Returns
    * the (c_id, cell) shape [[centroidCutScores]] takes. */
  def readSlotForward(spark: SparkSession, root: String,
      liveVer: String): Option[DataFrame] = {
    val meta = Layout.readStatic(spark, root, SlotForwardMetaEntity,
      recover = true)
    meta.filter(_.columns.contains("cnt"))
      .flatMap(_.collect().headOption).collect {
        case r if r.getString(2) == liveVer && !r.isNullAt(3) &&
            spark.catalog.tableExists(r.getString(0)) &&
            readStaticOrEmpty(spark, root, SlotCellsEntity, SlotCellsDdl)
              .count() == r.getLong(3) =>
          graft.sinks.Bucketing.readBucketed(spark, r.getString(0))
            .select(col("id").as("c_id"), col("cell"))
      }
  }

  /** Slot-alignment DIAGNOSTIC — mechanizes [[SlotPolicy]]'s
    * arm/disarm rule (the r12 verdict's top serving gap: "arm the cut
    * exactly when the embeddings are slot-aligned" was manual trust in
    * the encoder, while the measured stakes on the `slot_policy` grid
    * are recall@3 0.96 armed-on-aligned vs 0.41–0.70
    * armed-on-decorrelated). Per sampled query: the RETENTION of the
    * CODE-SCORED ordering's top-k (stage 1b's near-exact all-T
    * interaction from stored SQ codes) inside the CENTROID ordering's
    * top-`cutC` (stage 1a′'s cheap Σ_qpos max centroid interaction)
    * over the SAME gathered candidate set — that is literally what an
    * armed cut does to the pipeline: it keeps the centroid top-cutC
    * and discards the rest, so the cut is harmless exactly when the
    * code ordering's winners sit inside that keep-set. On slot-aligned
    * geometry retention reads ≈ 1 (centroids ARE the slot clusters);
    * on decorrelated geometry the w-dim coarse quantizer cannot order
    * docs and retention collapses toward cutC/n_cand (the blind-cut
    * floor) — `slot_align` family rows separate the two measured
    * corpora. Operating rule: arm the cut when the sampled mean reads
    * in the aligned band (≥ ~0.9), disarm below it.
    *
    * Cost: bounded by the SAMPLE — one gather + one full (uncut)
    * code-scoring pass over the sample's candidates; that is the
    * point: the diagnostic prices, on a bounded sample, the exact
    * ordering the cut would preempt, from the maintained index the
    * way q212 computes its serve metrics. Run it at bootstrap and
    * after [[slotRetrain]]; a corpus-wide re-read is never needed.
    *
    * Output: one row per sampled query — (q_id, n_cand, agree) with
    * agree = |top-k_code ∩ top-cutC_centroid| / min(k, n_cand), 6dp
    * (a gather within cutC is retained whole by construction —
    * honest: the cut IS harmless there). */
  def slotCutAgreement(queries: DataFrame, root: String, k: Int,
      slotNProbe: Int = SlotPolicy.SlotNProbe, cutC: Int = SlotPolicy.CutC,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val s = queries.sparkSession
    val (scb, slices) = liveSlotBook(s, root)
    val w = scb.head._2.length
    val (mins, _, isteps) = readGrid(s, root).getOrElse(
      throw new IllegalStateException(
        s"no SQ grid under $root — the diagnostic scores the code " +
          "ordering; bootstrap(withSq = true, withSlots = true)"))
    // stage 0 at p = K (the centroid ordering needs all-cell cosines)
    // + stage 1a — the shared implementation the armed serve path
    // runs, by construction, not by copy
    val (asg, scells, cand0) = slotStage01(queries, root, idCol, vecCol,
      slotNProbe, p = scb.size, allowed = None, scb, slices)
    val cand = cand0
      .localCheckpoint() // both orderings + the denominator read it
    // centroid ordering over ALL gathered candidates (stage 1a′ minus
    // the cut itself — the identical factored plan the serve path runs)
    val topC = prefilter(
        centroidCutScores(cand, scells, queryCellCosines(asg), slices),
        col("ccut").desc, cutC).select(col("q_id"), col("c_id"))
    // code ordering over the same candidates (stage 1b, uncut: `cand`
    // is the raw gather, NOT broadcast)
    val topS = prefilter(codeScores(cand, asg, root, w, slices, mins,
      isteps), col("s1").desc, k).select(col("q_id"), col("c_id"))
    // both rankings are HARD-bounded by their windows (topC ≤
    // sampleN·cutC rows, topS ≤ sampleN·k): broadcast the code top-k
    // into the semi so neither ranking shuffles, and broadcast the
    // per-query hit counts (≤ sampleN rows) into the outer join —
    // sample-bounded frames, safe at any corpus scale
    val hits = topC.join(broadcast(topS), Seq("q_id", "c_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand"))
      .join(broadcast(hits), Seq("q_id"), "left")
      .select(col("q_id"), col("n_cand"),
        round(coalesce(col("hits"), lit(0L)).cast("double") /
          least(lit(k.toLong), col("n_cand")).cast("double"), 6)
          .as("agree"))
  }

  /** Memoized [[slotAlignmentRead]] verdicts, keyed by (root, slot
    * book hash, knobs) — the [[cleanChecks]] invalidation
    * argument verbatim: the only paths that change alignment
    * (retrain, reassignment) land a NEW book whose content hash
    * misses the memo, and ingests fold rows under the live book. */
  private val alignmentReads =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** The sampled alignment number the AUTO serve face arms on: mean
    * [[slotCutAgreement]] over a deterministic bounded sample — the
    * `sampleN` LOWEST-id stored vectors (replayable as ORDER BY id
    * LIMIT n in the oracle) — memoized per (root, book hash, knobs)
    * so a long-serving process pays the diagnostic once per book
    * generation, not per query batch. Only sample queries whose
    * gather actually EXERCISED the cut (n_cand > cutC) vote: a
    * narrow gather retains everything by construction (agree ≡ 1.0),
    * which says nothing about what the cut would do to a wider
    * production gather — averaging those rows in could arm the cut
    * on decorrelated geometry whenever the sample's ids happen to
    * sit in sparse cells (r13 review). If NO sample query exercised
    * the cut the read is 0.0 — DISARMED (r13 advice): absence of
    * evidence is not alignment, and the failure directions are
    * asymmetric — arming on an unexercised sample risks the silent
    * recall loss the diagnostic exists to prevent (a decorrelated
    * corpus whose small sample gathers narrowly would cut production
    * queries that gather wide), while disarming merely serves the
    * plain, always-correct path at the uncut cost. Widen `sampleN`
    * (or lower the probe's cutC) until the sample exercises the cut
    * if the corpus is believed aligned. */
  def slotAlignmentRead(spark: SparkSession, root: String,
      sampleN: Int = 8, k: Int = 8, cutC: Int = SlotPolicy.CutC,
      slotNProbe: Int = SlotPolicy.SlotNProbe): Double = {
    val (scb, _) = liveSlotBook(spark, root)
    val key = s"$root#${codebookVersion(scb)}#$sampleN#$k#$cutC#$slotNProbe"
    alignmentReads.computeIfAbsent(key, _ => {
      val sample = readStaticOrEmpty(spark, root, CellsEntity, CellsDdl)
        .select(col("id").as("vec_id"), col("v").as("embedding"))
        .orderBy(col("vec_id")).limit(sampleN)
      val read = slotCutAgreement(sample, root, k, slotNProbe, cutC)
        .where(col("n_cand") > cutC) // only cut-exercising rows vote
        .agg(avg(col("agree"))).collect().headOption
        .map(r => if (r.isNullAt(0)) 0.0 else r.getDouble(0))
        .getOrElse(0.0)
      java.lang.Double.valueOf(read)
    }).doubleValue()
  }

  /** [[queryTopKMaxSimSlots]] with the centroid cut ARMED BY
    * MEASUREMENT instead of by the caller — the end of the r12
    * verdict's manual-knob list: the operating rule ("arm exactly when
    * the embeddings are slot-aligned") executes itself by reading
    * [[slotAlignmentRead]] off the maintained index and passing
    * `cutC` through when the sample retention clears `armThreshold`
    * (the measured aligned band: 0.959 on slot-topic geometry vs
    * 0.646 decorrelated — `slot_align`), 0 otherwise. On an aligned
    * corpus this serves the pinned cut bill (≤ cutC·T² code kernels);
    * on a decorrelated one it declines the cut the policy documents
    * as blind there — per-corpus, per-book-generation, no operator in
    * the loop. q217 oracle-gates the whole composite: the replay
    * computes the diagnostic AND follows the branch it picks. */
  def queryTopKMaxSimSlotsAuto(queries: DataFrame, root: String,
      topK: Int, prefilterC: Int = SlotPolicy.PrefilterC,
      slotNProbe: Int = SlotPolicy.SlotNProbe, cutC: Int = SlotPolicy.CutC,
      armThreshold: Double = 0.9, sampleN: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allowed: Option[DataFrame] = None): DataFrame = {
    val armed = slotAlignmentRead(queries.sparkSession, root, sampleN,
      k = 8, cutC, slotNProbe) >= armThreshold
    queryTopKMaxSimSlots(queries, root, topK, prefilterC, slotNProbe,
      cutC = if (armed) cutC else 0, idCol, vecCol, allowed)
  }

  /** [[queryTopKSq]]'s dimensionality twin (requires
    * `bootstrap(withJl = true)`): the probed cells scan as d′-dim
    * PROJECTED rows first — cosine in the projected space (d′ dots
    * instead of d) keeps the `prefilterC` best per query, and only
    * those candidates fetch full vectors for the exact cosine
    * re-rank. The query projects at serve time under the STORED plane
    * family (two integers — the matrix re-derives from them), so
    * index and query always share a family; a torn
    * [[rotateJlFamily]] is rolled forward first, and the retrain
    * repair is shared like the other serving faces. JL concentration
    * bounds the prefilter's cosine distortion at ~1/√d′
    * (q158 MEASURES it); the exact re-rank repairs ranking on the
    * candidate set. */
  def queryTopKJl(queries: DataFrame, root: String, topK: Int,
      prefilterC: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      nProbe: Int = SimSearch.IvfProbe): DataFrame = {
    val s = queries.sparkSession
    val (dOut, seed, _) = repairedJlMeta(s, root).getOrElse(
      throw new IllegalStateException(
        s"no JL sidecar under $root — bootstrap(withJl = true) first"))
    val (cb, _) = liveCodebook(s, root)
    // assignment + the query's own projection in one pass
    val probes = probeFold(queries, idCol, vecCol, cb, nProbe,
      Seq(col("qpv"), col("qpn")),
      _.join(jlRows(queries, idCol, vecCol, dOut, seed)
        .select(col("id"), col("pv").as("qpv"), col("pn").as("qpn")),
        Seq("id")))
    val cellIds = readStaticOrEmpty(s, root, CellsEntity, CellsDdl)
      .select(col("id").as("c_id"), col("cell"))
    val pvs = readStaticOrEmpty(s, root, JlVecsEntity, JlVecsDdl)
      .select(col("id").as("c_id"), col("pv").as("cpv"), col("pn").as("cpn"))
    // the corpus-sized cell index and JL sidecar stream past the
    // broadcast fold instead of being shuffled per query
    val cand = prefilter(broadcast(probes).join(cellIds, Seq("cell"))
      .where(col("q_id") =!= col("c_id"))
      .join(pvs, Seq("c_id"))
      .select(col("q_id"), col("qv"), col("qn"), col("c_id"),
        round(SimSearch.cosine(col("qpv"), col("cpv"), col("qpn"),
          col("cpn")), 6).as("pcos")), col("pcos").desc, prefilterC)
    exactRerank(cand, root, topK)
  }

  /** FAISS-style two-stage serving from the stored index (requires
    * `bootstrap(withPq = true)`): the query's probed cells are scanned
    * as CODES first — the cells read is column-pruned to (id, cell)
    * and the 8-byte code rows join by id — ADC keeps the
    * `prefilterC` best per query, and only those candidates fetch
    * their full vectors for the exact cosine re-rank. Per query the
    * full-vector IO is prefilterC rows, never the probed cells' — the
    * composition of q151's two-stage scan with the maintained index.
    * (Production would inline the codes as a column of the inverted
    * file; the sidecar keeps the entity keyed by id alone, so it needs
    * no retrain coupling — cell attribution is read live.) Shares the
    * torn-retrain repair. */
  def queryTopKPq(queries: DataFrame, root: String, topK: Int,
      prefilterC: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      nProbe: Int = SimSearch.IvfProbe): DataFrame = {
    val s = queries.sparkSession
    val books = readBooks(s, root).getOrElse(
      throw new IllegalStateException(
        s"no PQ books under $root — bootstrap(withPq = true) first"))
    val ksub = books.head.length
    val (cb, _) = liveCodebook(s, root)
    val probes = probeFold(queries, idCol, vecCol, cb, nProbe,
      Seq(graft.functions.PqExprs.distTable(col("v"), books).as("dtab")))
    val cellIds = readStaticOrEmpty(s, root, CellsEntity, CellsDdl)
      .select(col("id").as("c_id"), col("cell"))
    val codes = readStaticOrEmpty(s, root, PqCodesEntity, PqCodesDdl)
      .select(col("id").as("c_id"), col("codes"))
    // the corpus-sized cell index and PQ code sidecar stream past the
    // broadcast fold instead of being shuffled
    val cand = prefilter(broadcast(probes).join(cellIds, Seq("cell"))
      .where(col("q_id") =!= col("c_id"))
      .join(codes, Seq("c_id"))
      .select(col("q_id"), col("qv"), col("qn"), col("c_id"),
        graft.functions.PqExprs.adcScore(col("dtab"), col("codes"), ksub)
          .as("adist")), col("adist").asc, prefilterC)
    exactRerank(cand, root, topK)
  }

  /** Dedup one vector batch against the stored index; returns (and
    * lands) the manifest, then folds kept vectors into the inverted
    * file. Deterministic and replay-idempotent. Repairs a torn
    * [[retrain]] (cells' ver ≠ codebook's) by rolling it forward
    * before probing.
    *
    * `probes` is the dup-recall lever the round-7 drift rehearsal
    * measured: a near pair is only caught when the batch vector's
    * probe list reaches its partner's cell, and at p = 1 cell-boundary
    * straddles are misses — a cost retraining does NOT recover (finer
    * cells straddle MORE). Probing the top-p cells multiplies only the
    * batch-side join volume by ≤ p (the stored side still meets on its
    * single assignment cell — the inverted file never fans out);
    * assignment stays the single zero-shuffle kernel pass, which
    * already returns the top-p fold. p = 1 is bit-identical to the
    * pre-probe behavior.
    *
    * `residual` arms the BLEND-SUSPECT gate, the measured remedy for
    * the embedding franken-doc: a vector mixed from two stored corpus
    * vectors (e.g. a doc stitched from two sources, re-embedded) can
    * land in a cell holding NEITHER parent, where the probe-local dup
    * cosine never sees either one. The franken-residual measurement
    * (SCALE_MEASURED_r9 `franken_residual`;
    * [[graft.bench.FrankenResidualBench]]) separates the populations
    * cleanly at sf0.1: cross-cell blends' top-1 stored cosine sits at
    * p50 0.71 / p99 0.80 with 98% ≥ 0.60, while genuinely novel
    * directions (decorrelated twists) top out at p99 0.51 with ZERO
    * rows ≥ 0.60 — so a keeper whose widened-probe (`residualProbes`)
    * top-1 stored cosine reaches the band is recomposition evidence,
    * not noise. Such keepers land `blend_suspect` with the top-1
    * neighbor as `rep_id` attribution and are NOT folded into the
    * index (same exclusion as dups); every other status is untouched
    * and `residual = None` is bit-identical to the ungated ingest.
    * Cost: one extra zero-shuffle assignment pass over the batch plus
    * a `residualProbes`-cell equi-join — batch-bounded, the corpus is
    * never rescanned. */
  def ingestVectors(batch0: DataFrame, root: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probes: Int = 1, residual: Option[Double] = None,
      residualProbes: Int = 4): DataFrame = graft.Checkpoints.scoped { ck =>
    val s = batch0.sparkSession
    // the per-batch checkpoints (asg, the kept rows, and the batch when
    // the residual probe reads it a second time) are released when the
    // ingest returns or fails (a long-lived ingest session would
    // otherwise accumulate them); only the returned manifest stays
    // materialized
    val batch = if (residual.isDefined) ck(batch0) else batch0
    val (cb, ver) = liveCodebook(s, root)
    // zero-shuffle assignment of the batch against the frozen codebook;
    // probe 1 is the assignment cell (what a kept vector is stored
    // under), probes 2..p only widen the match search
    val asg = ck(SimSearch.ivfAssign(batch, idCol, vecCol, cb, p = probes)
      .select(col("id").as("vec_id"),
        element_at(col("probes"), 1).getField("cid").as("cell"),
        col("probes").getField("cid").as("pcells"),
        col("v"), col("n")))
    val ids = asg.select(col("vec_id").as("id"))
    // the inverted file, minus this batch's own (possibly half-landed
    // on a replay) rows. Broadcast discipline (guide §3.1, the
    // CurateStream probe argument verbatim): the batch-derived frames
    // are micro-batch-bounded and stats-less (checkpointed RDDs), the
    // inverted file is corpus-sized — hint the batch side broadcast so
    // the corpus scan STREAMS instead of being shuffled per ingest
    val corpusCells = readStaticOrEmpty(s, root, CellsEntity, CellsDdl)
      .select("id", "cell", "v", "n")
      .join(broadcast(ids), Seq("id"), "left_anti")
    val a = asg.select(col("vec_id"), explode(col("pcells")).as("cell"),
      col("v").as("av"), col("n").as("an"))
    val corpusMatches = broadcast(a)
      .join(corpusCells.toDF("c_id", "cell", "cv", "cn"), Seq("cell"))
      .where(round(SimSearch.cosine(col("av"), col("cv"), col("an"),
        col("cn")), 6) >= DupThreshold)
      .select(col("vec_id"), col("c_id").as("m_id"), lit(1).as("fc"))
    val batchMatches = a
      .join(broadcast(asg.select(col("vec_id").as("b_id"), col("cell"),
        col("v").as("bv"), col("n").as("bn"))), Seq("cell"))
      .where(col("b_id") < col("vec_id"))
      .where(round(SimSearch.cosine(col("av"), col("bv"), col("an"),
        col("bn")), 6) >= DupThreshold)
      .select(col("vec_id"), col("b_id").as("m_id"), lit(0).as("fc"))
    // keep-first: the least matching id is the representative; its
    // provenance decides the status
    val reps = corpusMatches.unionByName(batchMatches)
      .groupBy("vec_id")
      .agg(min(col("m_id")).as("rep_id"),
        expr("min_by(fc, m_id)").as("fc"))
    val manifest0 = asg.select("vec_id", "cell")
      .join(broadcast(reps), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("rep_id").isNull, "kept")
          .when(col("fc") === 1, "dup_corpus")
          .otherwise("dup_batch").as("status"),
        col("rep_id"))
    // blend-suspect amendment (armed by `residual`): keepers whose
    // WIDENED-probe top-1 stored cosine reaches the band are flagged
    // and excluded from the fold — the cross-cell recomposition case
    // the probe-local dup cosine structurally cannot see. Same join
    // shape as the dup probe (cell equi-join, batch side fans out
    // ≤ residualProbes), against the same batch-excluded stored file.
    val manifest = (residual match {
      case None => manifest0
      case Some(lo) =>
            val pr = SimSearch.ivfAssign(batch, idCol, vecCol, cb,
            p = residualProbes)
          .select(col("id").as("vec_id"),
            explode(col("probes").getField("cid")).as("cell"),
            col("v").as("av"), col("n").as("an"))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("cos").desc, col("s_id").asc)
        val sus = broadcast(pr)
          .join(corpusCells.toDF("s_id", "cell", "sv", "sn"), Seq("cell"))
          .select(col("vec_id"), col("s_id"),
            round(SimSearch.cosine(col("av"), col("sv"), col("an"),
              col("sn")), 6).as("cos"))
          .where(col("cos") >= lo)
          .withColumn("srn", row_number().over(w))
          .where(col("srn") === 1)
          .select(col("vec_id"), col("s_id"))
        manifest0.join(broadcast(sus), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            when(col("status") === "kept" && col("s_id").isNotNull,
              "blend_suspect").otherwise(col("status")).as("status"),
            when(col("status") === "kept" && col("s_id").isNotNull,
              col("s_id")).otherwise(col("rep_id")).as("rep_id"))
    }).localCheckpoint() // materialize before the index writes below
    try {
      // the kept vectors' assignment rows, materialized once: every
      // sidecar fold below reads them, and each read would otherwise pay
      // its own broadcast of the kept ids
      val kept = ck(asg.join(broadcast(manifest.where(col("status") === "kept")
        .select("vec_id")), Seq("vec_id"), "left_semi"))
      // index entities fan out in PARALLEL, manifest (the commit marker)
      // last — CurateStream's argument verbatim (optimization-guide
      // §2.6): the chains are mutually independent (each its own entity
      // directories, each an idempotent anti-join off the checkpointed
      // kept/manifest frames), a crash mid-fan-out leaves any SUBSET of
      // entities landed with no manifest, which the replay's
      // self-excluding probes absorb exactly like the old sequential
      // prefix. Per-sidecar ordering (repair before fold) stays inside
      // one chain.
      val writes: Seq[() => Unit] = Seq(
        () => Layout.upsertStatic(
          kept.select(col("vec_id").as("id"), col("cell"), col("v"), col("n"))
            .withColumn("ver", lit(ver)),
          root, CellsEntity, Seq("id"), flipProbe = true),
        // PQ sidecar (present iff bootstrap(withPq = true)): kept vectors
        // fold their code rows in under the frozen books — same anti-join
        // upsert discipline, before the manifest commit marker
        () => readBooks(s, root).foreach { books =>
          Layout.upsertStatic(
            kept.select(col("vec_id").as("id"),
              graft.functions.PqExprs.encode(col("v"), books).as("codes")),
            root, PqCodesEntity, Seq("id"), flipProbe = true)
        },
        // SQ sidecar (present iff bootstrap(withSq = true)): kept vectors
        // encode under the frozen grid — same discipline as the PQ codes
        () => readGrid(s, root).foreach { case (mins, scales, _) =>
          Layout.upsertStatic(
            kept.select(col("vec_id").as("id"),
              graft.functions.SqExprs.encode(col("v"), mins, scales).as("codes")),
            root, SqCodesEntity, Seq("id"), flipProbe = true)
        },
        // JL sidecar (present iff bootstrap(withJl = true)): kept vectors
        // project ONCE at ingest under the stored plane family (a torn
        // family rotation is rolled forward first so the fold never lands
        // rows of a family the meta no longer names)
        () => repairedJlMeta(s, root).foreach { case (dOut, seed, _) =>
          Layout.upsertStatic(
            jlRows(kept.select(col("vec_id"), col("v")), "vec_id", "v",
              dOut, seed),
            root, JlVecsEntity, Seq("id"), flipProbe = true)
        },
        // slot sidecar (present iff bootstrap(withSlots = true)): kept
        // vectors' slot assignments fold in under the frozen slot codebook
        // — 3 integers + a version tag per (doc, slot), same anti-join
        // discipline; a torn slotRetrain is rolled forward first so the
        // fold never lands rows of a book the store no longer holds
        () => repairedSlotBook(s, root).foreach { case (scb, slices) =>
          val dim = slices * scb.head._2.length
          Layout.upsertStatic(
            slotCellRows(kept.select(col("vec_id"), col("v")), "vec_id", "v",
              scb, slices, dim, codebookVersion(scb)),
            root, SlotCellsEntity, Seq("id", "pos"), flipProbe = true)
        })
      Layout.fanout(writes)
      Layout.upsertStatic(manifest, root, ManifestEntity, Seq("vec_id"),
        flipProbe = true)
    } catch {
      case e: Throwable =>
        graft.Checkpoints.release(manifest)
        throw e
    }
    manifest
  }
}

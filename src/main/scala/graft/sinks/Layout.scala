package graft.sinks

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.DataFrame
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{FooterSchema, ParquetFooterReader}
import org.apache.spark.sql.functions.{array, col, format_string, inline, struct}
import scala.jdk.CollectionConverters._

/** Entity sinks (SURVEY.md §2.2 K1-K5). The reference's hand-rolled
  * buffered writer + gzip JSON files map to Spark's parquet/json writers;
  * the delete-all-for-block-then-reinsert idempotency trick (K5,
  * block.rs:172-284) maps to DYNAMIC partition overwrite on the
  * block-derived partition column.
  *
  * Layout mirrors extract.rs:304-313: `static/{skeletons,events,functions,
  * errors,blocks,deployments,destructions}` and
  * `dynamic/{transactions,transfers,logs}` — one directory per entity,
  * dynamic entities partitioned by a block bucket so a streaming replay
  * overwrites exactly the partitions it recomputes.
  */
object Layout {

  /** Partition-bucket width for dynamic entities: one partition per
    * `blocksPerPartition` block numbers. At mainnet scale (~20M blocks,
    * ~100TB of derived rows) 10k-block buckets keep partitions in the
    * hundreds-of-MB range and bound the file count. */
  val blocksPerPartition = 10000L

  def withBlockBucket(df: DataFrame): DataFrame =
    df.withColumn("block_bucket",
      (col("block_number") / blocksPerPartition).cast("long"))

  /** K1: static entity append (buffering/rolling is Spark's job;
    * `maxRecordsPerFile` bounds file size like `--size-output`). */
  def writeStatic(df: DataFrame, root: String, entity: String,
      maxRecordsPerFile: Long = 1000000L): Unit =
    df.write.mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(s"$root/static/$entity")

  /** Shared pool for fanning out MUTUALLY INDEPENDENT store writes
    * (optimization-guide §2.6 — actions are only sequential because the
    * driver calls them sequentially; independent jobs submitted from a
    * small thread pool back-fill executors freed by each other's
    * stragglers). Daemon threads, sized to the widest fan-out a caller
    * uses (index entity chains), not to the data. */
  private lazy val fanoutPool = java.util.concurrent.Executors
    // cached (unbounded) rather than fixed: a chain may itself fan out
    // (bootstrap(withLex) → upsertLex), and a fixed pool whose threads
    // all block awaiting queued nested tasks would deadlock. The write
    // chains are job-submission-bound, their true concurrency is capped
    // by the callers' fan-out widths (≤ ~13), and threads are daemon.
    .newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, "graft-layout-fanout")
      t.setDaemon(true)
      t
    })
  private lazy val fanoutEc =
    scala.concurrent.ExecutionContext.fromExecutor(fanoutPool)

  /** The Spark local properties a fan-out chain takes from the thread
    * that submitted it: job group, description, tags, scheduler pool
    * and enclosing SQL execution. */
  private val chainProperties = Seq("spark.jobGroup.id",
    "spark.job.description", "spark.job.interruptOnCancel",
    "spark.job.tags", "spark.scheduler.pool", "spark.sql.execution.id",
    "spark.sql.execution.root.id")

  /** Run independent write chains concurrently and wait for all.
    * Callers own the independence argument: each thunk must touch its
    * own entity directories only, with any required ordering (e.g.
    * commit-marker-last, books-before-codes) kept INSIDE one thunk. A
    * failure in any chain propagates after ALL chains settle (the first
    * failure thrown, later distinct ones suppressed on it), so the
    * caller never returns while a sibling chain is still writing. Each
    * chain runs under the submitting thread's [[chainProperties]]. */
  def fanout(writes: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    implicit val ec: scala.concurrent.ExecutionContext = fanoutEc
    // local properties are inheritable thread-locals, and a cached pool
    // thread keeps those of whichever thread created it: set the
    // submitter's on every chain (null clears a stale one)
    val sc = org.apache.spark.sql.SparkSession.getDefaultSession
      .map(_.sparkContext)
    val props = sc.toSeq.flatMap(c =>
      chainProperties.map(k => k -> c.getLocalProperty(k)))
    val chains = writes.map(w => Future {
      sc.foreach(c =>
        props.foreach { case (k, v) => c.setLocalProperty(k, v) })
      w()
    })
    // NOT Future.sequence: it fails fast on the first failure, while
    // the other chains are still running
    val failures = chains.flatMap(c =>
      Await.ready(c, scala.concurrent.duration.Duration.Inf).value.get.failed.toOption)
      // chains that share a memoised derivation rethrow ONE instance,
      // and a throwable cannot suppress itself
      .foldLeft(Vector.empty[Throwable])((seen, t) =>
        if (seen.exists(_ eq t)) seen else seen :+ t)
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Swap / parked-old / quarantine directories for atomic static
    * overwrites — dot-prefixed so no parquet reader or directory glob
    * ever picks them up. Package-visible for the crash-kill matrix in
    * LayoutSpec. */
  private[sinks] def swapDir(root: String, entity: String) =
    s"$root/static/.${entity}__swap"
  private[sinks] def oldDir(root: String, entity: String) =
    s"$root/static/.${entity}__old"
  private[sinks] def quarantineDir(root: String, entity: String) =
    s"$root/static/.${entity}__quarantine"

  /** Crash recovery for the atomic-swap overwrite. The writer NEVER
    * deletes the live table before the replacement is in place — it
    * renames it aside (atomic directory rename) — so at every crash
    * point at least one complete copy exists and recovery only has to
    * pick it:
    *  - destination missing + parked old copy present: the crash hit
    *    between the two renames. Promote the swap if it is
    *    job-committed (`_SUCCESS`), else roll the old table back,
    *    QUARANTINING the unmarked swap (it may be a complete merge
    *    whose marker is disabled — see the inline note) rather than
    *    deleting the only copy of the merged result.
    *  - destination present: any leftover swap/old dirs are stale
    *    debris from a completed or abandoned write — delete them.
    * Called by WRITER entry points only — see [[readStatic]]'s race
    * note. */
  def recoverStatic(spark: org.apache.spark.sql.SparkSession, root: String,
      entity: String): Unit = {
    val fs = hadoopFs(spark, root)
    val dst = new org.apache.hadoop.fs.Path(s"$root/static/$entity")
    val swp = new org.apache.hadoop.fs.Path(swapDir(root, entity))
    val old = new org.apache.hadoop.fs.Path(oldDir(root, entity))
    if (!fs.exists(dst)) {
      val swapCommitted = fs.exists(swp) &&
        fs.exists(new org.apache.hadoop.fs.Path(swp, "_SUCCESS"))
      // a committed swap is the newest complete copy (covers both the
      // between-renames window and a first-ever write that died before
      // promotion); otherwise fall back to the parked old table
      val winner = if (swapCommitted) Some(swp)
        else if (fs.exists(old)) Some(old) else None
      // rolling OLD back while an unmarked swap sits next to it: with
      // `_SUCCESS` markers disabled (common object-store tuning) that
      // swap may be the COMPLETE merged result — the only copy of the
      // merge. Quarantine it (rename aside, newest one kept) instead
      // of deleting: the next [[mergeStatic]] folds the quarantine
      // back into its union automatically, so the crashed batch's
      // static contribution survives even a resumed run over a
      // DIFFERENT range.
      if (winner.contains(old) && fs.exists(swp)) {
        val q = new org.apache.hadoop.fs.Path(quarantineDir(root, entity))
        if (fs.exists(q)) fs.delete(q, true)
        if (!fs.rename(swp, q))
          throw new java.io.IOException(s"quarantine $swp -> $q failed")
      }
      winner.foreach { w =>
        if (!fs.rename(w, dst))
          throw new java.io.IOException(s"swap recovery $w -> $dst failed")
      }
    }
    // dst exists now (recovered or never lost): swap/old leftovers are
    // debris from a completed or abandoned write. (A swap deleted here
    // while dst was never lost is pre-rename: dst still holds the
    // pre-merge table and the re-run redoes the merge.) Quarantines
    // are NOT debris — only a newer quarantine replaces one.
    if (fs.exists(dst)) {
      if (fs.exists(swp)) fs.delete(swp, true)
      if (fs.exists(old)) fs.delete(old, true)
    }
  }

  /** Plan a read of one flat parquet directory with its schema resolved
    * on the DRIVER, or None when the directory is missing or holds no
    * data file (a run killed during its FIRST write leaves only
    * `_temporary` debris). `spark.read.parquet(path)` would infer the
    * schema with a one-task Spark job that reads a footer; here the
    * directory is listed once, its first data file by path (`_`/`.`
    * names skipped — the file Spark's non-merging inference touches)
    * has its footer read with row groups skipped, and Spark's own
    * footer conversion ([[FooterSchema]]) turns it into the schema the
    * read is planned with — so row-metadata preference, timestamp rules
    * and nullability stay exactly Spark's, and the read starts no job.
    * Static stores are flat part-file directories by construction: every
    * static writer here writes unpartitioned. */
  private[graft] def readFlat(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] =
    dataFiles(spark, path).headOption
      .map(f => spark.read.schema(FooterSchema(f, spark)).parquet(path))

  /** The data files under one parquet directory, partition
    * directories included, sorted by path: `_`/`.` names skipped at
    * every level (as Spark's file index skips them), empty when the
    * directory is missing. */
  private def dataFiles(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[FileStatus] = {
    val fs = hadoopFs(spark, path)
    def under(dir: org.apache.hadoop.fs.Path): Seq[FileStatus] =
      (try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
        .toSeq
        .filter(f => !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .flatMap(f => if (f.isDirectory) under(f.getPath) else Seq(f))
    under(new org.apache.hadoop.fs.Path(path)).sortBy(_.getPath.toString)
  }

  /** The row count of a parquet directory (static or block-bucketed
    * dynamic), summed on the driver from the row-group row counts in
    * its data files' footers: the same files a Spark read lists, so the
    * sum equals `spark.read.parquet(path).count()`, and no Spark job
    * runs. 0 when the directory is missing or holds no data file. */
  def footerRows(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(spark, path).map { f =>
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  /** Read `static/<entity>`, treating "absent" and "exists but holds no
    * data file" identically as None — so the advertised idempotent
    * re-run resumes instead of dying on a footer-less directory until
    * someone hand-deletes it. The schema comes from one footer read on
    * the driver ([[readFlat]]): planning the read starts no Spark job.
    *
    * `recover = true` additionally runs [[recoverStatic]] swap
    * recovery first — WRITER entry points only (upsert/merge set it).
    * A plain reader must never recover: recovery racing an in-flight
    * writer sitting between [[overwriteStaticAtomic]]'s two renames
    * would roll the table back and destroy the writer's committed
    * swap — and Hadoop's rename-into-existing-dir semantics would then
    * absorb the swap INTO the restored table, reporting success while
    * the merge silently vanished. Writers are one-per-root by contract
    * (one extract/stream process owns a sink root), so writer-side
    * recovery has nobody to race; a reader that finds a crashed store
    * sees the table absent until the owning writer's next run recovers
    * it. */
  def readStatic(spark: org.apache.spark.sql.SparkSession, root: String,
      entity: String, recover: Boolean = false): Option[DataFrame] = {
    if (recover) recoverStatic(spark, root, entity)
    // A plain reader that finds the destination missing may be looking
    // at a HEALTHY writer's between-renames window (the table is parked
    // under .__old for microseconds) — fall back to the parked copy,
    // READ-ONLY, never mutating recovery state. The fallback frame is
    // a transient snapshot: if the writer promotes and cleans up while
    // the frame is still lazy, its files vanish mid-read — the same
    // hazard any non-transactional overwrite-while-read has; callers
    // needing stability localCheckpoint the result.
    readFlat(spark, s"$root/static/$entity")
      .orElse(readFlat(spark, oldDir(root, entity)))
  }

  /** [[readStatic]] with writer-side recovery, or an empty frame of
    * `ddl` when the entity has never been written: how the streaming
    * indexes, each the one writer of its root, read their entities. */
  private[graft] def readStaticOrEmpty(spark: org.apache.spark.sql.SparkSession,
      root: String, entity: String, ddl: String): DataFrame =
    readStatic(spark, root, entity, recover = true).getOrElse(
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(ddl)))

  /** One collected static entity: the data-file listing it was read
    * from (path, length, mtime of each file) and its rows. */
  private final case class Frozen(listing: Seq[(String, Long, Long)],
      rows: Seq[org.apache.spark.sql.Row])

  /** The last [[frozenRows]] read of each (root, entity), the least
    * recently read dropped past [[FrozenCap]] entries. */
  private val FrozenCap = 64
  private val frozen = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String), Frozen](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Frozen]): Boolean =
        size > FrozenCap
    })

  /** The rows of a small static entity that is only ever replaced or
    * appended whole (a codebook, a quantizer's books or grid, a
    * projection family's meta), collected once and served from a driver
    * cache while its data files stay the same. Writer-side recovery
    * ([[recoverStatic]], as [[readStaticOrEmpty]] runs it) comes first,
    * so a parked `.__old` copy has been promoted to the live table
    * before `static/<entity>` is listed. The cache holds one entry per
    * (root, entity), keyed by that listing's path, length and mtime of
    * every file, so a hit starts no Spark job and any append, atomic
    * swap or promotion (new file paths either way) misses and re-reads.
    * It lives as long as the driver, bounded at [[FrozenCap]] entries.
    * Empty when the entity holds no data file. */
  private[graft] def frozenRows(spark: org.apache.spark.sql.SparkSession,
      root: String, entity: String): Seq[org.apache.spark.sql.Row] = {
    recoverStatic(spark, root, entity)
    val dir = s"$root/static/$entity"
    val files = dataFiles(spark, dir)
    if (files.isEmpty) {
      frozen.remove((root, entity))
      Nil
    } else {
      val listing = files.map(f =>
        (f.getPath.toString, f.getLen, f.getModificationTime))
      Option(frozen.get((root, entity))).filter(_.listing == listing)
        .getOrElse {
          val rows = spark.read.schema(FooterSchema(files.head, spark))
            .parquet(dir).collect().toSeq
          val read = Frozen(listing, rows)
          frozen.put((root, entity), read)
          read
        }.rows
    }
  }

  /** Atomic-by-rename overwrite of a static table: write the new
    * contents to a hidden swap directory (the write's plan may still
    * READ the destination — it is untouched until the job commits),
    * rename the live table ASIDE (atomic directory rename — never a
    * recursive delete, which a kill can interrupt halfway, leaving a
    * torn-but-readable table that recovery would then trust), promote
    * the swap, and only then drop the parked copy. A plain
    * `mode("overwrite")` deletes the target BEFORE the job runs, so a
    * crash mid-write would permanently destroy rows accumulated from
    * all earlier ranges; here every crash point leaves a complete copy
    * for [[recoverStatic]]: the live table (swap incomplete), the
    * parked old table (between the renames, if the swap's `_SUCCESS`
    * is absent), or the committed swap. */
  private def overwriteStaticAtomic(df: DataFrame, root: String,
      entity: String, maxRecordsPerFile: Long): Unit = {
    val spark = df.sparkSession
    val swp = swapDir(root, entity)
    val fs = hadoopFs(spark, root)
    // stale debris from an abandoned run would make the renames below
    // land inside existing dirs — clear it while dst is still live
    recoverStatic(spark, root, entity)
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(swp)
    val dst = new org.apache.hadoop.fs.Path(s"$root/static/$entity")
    val old = new org.apache.hadoop.fs.Path(oldDir(root, entity))
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new java.io.IOException(s"rename $dst -> $old failed")
    if (!fs.rename(new org.apache.hadoop.fs.Path(swp), dst))
      throw new java.io.IOException(s"rename $swp -> $dst failed")
    if (!fs.delete(old, true) && fs.exists(old))
      throw new java.io.IOException(s"cleanup of $old failed")
    spark.catalog.refreshByPath(dst.toString)
  }

  /** K4 for the batch path: append only rows whose NATURAL KEY is not
    * already in the table — the relational form of the reference's
    * Dgraph upserts, which are idempotent by natural key
    * (skeleton.rs:162-297 and friends upsert, never blind-insert). A
    * re-run or retried extract over the same root therefore never
    * duplicates static entities, and a second range extends them.
    * For entities with ONE row per key: a crash can only leave whole
    * keys missing, which the replayed append completes. Multi-row-per-
    * key entities need [[upsertStaticReplace]].
    *
    * Scale shape: the anti-join probes the EXISTING table's key
    * projection — a column-pruned parquet scan; for the signature/
    * skeleton dimensions AQE broadcasts it, for mainnet-scale
    * deployments it is one shuffle on the key the table would be
    * bucketed by anyway. The append's plan may READ the path it
    * appends to — that is safe by construction: the scan's file
    * listing is snapshotted at read time, append only ADDS files
    * (never deletes an input), and Spark's overwrite-into-input guard
    * applies to overwrite mode only — so the probe + write run as ONE
    * job instead of paying a materialization action per upsert.
    *
    * `flipProbe` (opt-in, per-MICRO-BATCH callers only): the default
    * anti-join's build/stream choice is the planner's, and once the
    * store outgrows the broadcast threshold it sort-merges — i.e.
    * every batch upsert re-shuffles the CORPUS-SCALE store by key.
    * With the flip the store instead STREAMS through a broadcast SEMI
    * on the incoming keys (no store shuffle, and the pushed key set
    * prunes row groups on a key-clustered compacted store) and only
    * the hit set — ≤ the incoming row count — broadcasts back into
    * the anti. Existence algebra: df ANTI store ≡ df ANTI (store SEMI
    * df.keys) on the same null-safe keys, so the appended rows are
    * identical. The caller owns the bound: flip ONLY frames bounded
    * by a micro-batch. The incoming frame is read twice — key
    * broadcast + anti probe — inside the one write query, and is NOT
    * checkpointed here: every caller passes a frame built only from
    * its own checkpoints or driver literals, so the second read re-runs
    * a cheap, deterministic projection of pinned blocks (the key side
    * prunes to the key columns) instead of paying one materialization
    * job per upsert. A caller whose frame is expensive or
    * nondeterministic to recompute checkpoints it first. */
  def upsertStatic(df: DataFrame, root: String, entity: String,
      keys: Seq[String], maxRecordsPerFile: Long = 1000000L,
      flipProbe: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.broadcast
    val path = s"$root/static/$entity"
    val spark = df.sparkSession
    readStatic(spark, root, entity, recover = true) match {
      case None =>
        df.write.mode("append")
          .option("maxRecordsPerFile", maxRecordsPerFile)
          .parquet(path)
      case Some(existing) =>
        // NULL-SAFE key equality (<=>): a row with a null key must still
        // match its twin in the table, or every re-run re-appends it and
        // the idempotency contract silently breaks on degenerate keys.
        // No dedup on the probe side: an anti join tests EXISTENCE, so
        // duplicate probe rows collapse in its hash relation for free —
        // a dropDuplicates here would add a whole shuffle per upsert
        val probe = existing
          .select(keys.map(k => col(k).as(s"__k_$k")): _*)
        val cond = keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
        val fresh =
          if (flipProbe) {
            val hits = probe.join(
              broadcast(df.select(keys.map(col): _*)), cond, "left_semi")
            df.join(broadcast(hits), cond, "left_anti")
          } else df.join(probe, cond, "left_anti")
        if (existing.columns.toSet == df.columns.toSet)
          fresh.write.mode("append")
            .option("maxRecordsPerFile", maxRecordsPerFile)
            .parquet(path)
        else
          // SCHEMA EVOLUTION: a blind append of a different column set
          // would create a mixed-footer directory where a plain
          // spark.read.parquet (no mergeSchema) silently drops the new
          // column depending on which footer wins schema inference.
          // Pay one atomic rewrite instead: widen BOTH sides
          // (unionByName, missing columns null) so the store stays
          // single-schema — the one-time cost of extending a store
          // written by a previous build (e.g. deployments gaining
          // verified_source_code).
          overwriteStaticAtomic(
            existing.unionByName(fresh, allowMissingColumns = true),
            root, entity, maxRecordsPerFile)
    }
    spark.catalog.refreshByPath(path)
  }

  /** Full atomic replacement of a static entity through the crash-safe
    * swap — the public face of [[overwriteStaticAtomic]] for callers
    * that rebuild a WHOLE table (e.g. [[graft.streaming.SemanticStream]]
    * retrain, which re-derives every cell assignment and must not leave
    * a torn mix of old and new rows; key-scoped replacement stays on
    * [[upsertStaticReplace]]). */
  def replaceStatic(df: DataFrame, root: String, entity: String,
      maxRecordsPerFile: Long = 1000000L): Unit =
    overwriteStaticAtomic(df, root, entity, maxRecordsPerFile)

  /** Compact a static entity's FILE LAYOUT without changing its rows.
    * Incremental ingest ([[upsertStatic]] per batch) appends a few
    * small files per batch; after hundreds of batches every probe of
    * the index pays file listing + per-footer schema reads + one scan
    * task per tiny file — the curate/vector index cost that
    * the `curate_ingest` family of graft.bench.ScaleLaws measures
    * growing with batch count. Compaction
    * rewrites the table through the same crash-safe atomic swap
    * ([[overwriteStaticAtomic]] — a kill at any point leaves a
    * complete copy) into ~targetBytes-sized files, restoring the
    * per-batch probe cost to the data's size rather than its append
    * history. Runs in the ingest process between batches (writers are
    * one-per-root by contract, so there is no reader to race beyond
    * readStatic's documented between-renames window).
    *
    * Returns (filesBefore, filesAfter), or None when the entity does
    * not exist. Idempotent: re-compacting a compacted table rewrites
    * it to the same file count. */
  def compactStatic(spark: org.apache.spark.sql.SparkSession, root: String,
      entity: String, targetBytes: Long = 128L * 1024 * 1024,
      maxRecordsPerFile: Long = 1000000L,
      sortBy: Seq[String] = Nil): Option[(Int, Int)] =
    readStatic(spark, root, entity, recover = true).map { existing =>
      val dst = s"$root/static/$entity"
      val before = dataFiles(spark, dst).size
      val bytes = hadoopFs(spark, root)
        .getContentSummary(new org.apache.hadoop.fs.Path(dst)).getLength
      val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      // repartition (not coalesce): coalesce would glue scan partitions
      // without a shuffle but inherits their skew; the rewrite is the
      // cost here anyway and a balanced layout is the product.
      // `sortBy` range-partitions + sorts instead, so each compacted
      // file owns a key range and its parquet min/max stats prune
      // pushed equality/In probes (the lex_postings term fetch) —
      // same shuffle bill, clustered layout as the product.
      val laidOut =
        if (sortBy.isEmpty) existing.repartition(nFiles)
        else existing
          .repartitionByRange(nFiles, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      overwriteStaticAtomic(laidOut, root, entity, maxRecordsPerFile)
      (before, dataFiles(spark, dst).size)
    }

  /** K4 for MULTI-row-per-key entities (the `abi` table: one skeleton →
    * many rows, all-or-nothing per skeleton): incoming rows REPLACE any
    * existing rows sharing their keys, via the atomic swap. The add-only
    * [[upsertStatic]] would freeze a torn append forever — a crash
    * during job commit can land a strict SUBSET of a key's rows, and
    * the bare existence anti-join then treats the key as fully present.
    * Replace-by-key repairs it on replay instead: the caller re-derives
    * the full row set for every key whose COMMIT MARKER is missing (the
    * skeletons row, written last by both Extract and the stream upsert)
    * and this drops the partial half before re-landing. Rewrite cost is
    * the dimension's size — the same class as [[mergeStatic]], which is
    * why block-keyed streams use the per-block replacement sink
    * instead. */
  def upsertStaticReplace(df: DataFrame, root: String, entity: String,
      keys: Seq[String], maxRecordsPerFile: Long = 1000000L): Unit = {
    val spark = df.sparkSession
    graft.Checkpoints.scoped { ck =>
      val incoming = ck(df) // probe + union both read it
      val all = readStatic(spark, root, entity, recover = true) match {
        case None => incoming
        case Some(existing) =>
          // existence-only probe — no dedup needed (see upsertStatic)
          val probe = incoming
            .select(keys.map(k => col(k).as(s"__k_$k")): _*)
          val cond = keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
          incoming.unionByName(existing.join(probe, cond, "left_anti"))
      }
      overwriteStaticAtomic(all, root, entity, maxRecordsPerFile)
    }
  }

  /** Natural-key upsert with MERGE semantics: union the incoming rows
    * with the existing table, reduce to one row per key via `merge`,
    * and atomically overwrite (swap-by-rename — see
    * [[overwriteStaticAtomic]]; a crash never loses the previous
    * table). For entities whose rows can IMPROVE across runs — an
    * account that becomes a contract, a skeleton whose decompilation
    * succeeds on retry — where [[upsertStatic]]'s add-only identity
    * would freeze the first-seen state forever. The rewrite cost is the
    * dimension's size, which is why the big block-keyed streams use the
    * per-block replacement sink instead.
    *
    * A QUARANTINED merge (recovery parked an unmarked swap — possibly
    * the complete result of a crashed merge whose `_SUCCESS` marker was
    * disabled) is folded back into this merge's union and deleted once
    * the overwrite commits: even when the resumed run covers a
    * DIFFERENT range, the crashed batch's static contribution rides
    * back in instead of being lost. Safe because `merge` is by contract
    * an idempotent per-key reducer over unions (it already absorbs
    * re-runs of the same range), so absorbing a previous merge RESULT —
    * even a partial one, if the swap write itself died mid-job — can
    * only restore or repeat rows, never corrupt them. */
  def mergeStatic(df: DataFrame, root: String, entity: String,
      merge: DataFrame => DataFrame,
      maxRecordsPerFile: Long = 1000000L): Unit = {
    val spark = df.sparkSession
    // recovery runs first (inside the guarded read): it is what may
    // CREATE the quarantine this merge then re-ingests
    val all = readStatic(spark, root, entity, recover = true) match {
      case None => df
      case Some(existing) => df.unionByName(existing)
    }
    val fs = hadoopFs(spark, root)
    val q = new org.apache.hadoop.fs.Path(quarantineDir(root, entity))
    val quarantined = readFlat(spark, q.toString)
    // allowMissingColumns: a quarantine written by an older build may
    // lack columns a newer schema added — widen with nulls, same as the
    // upsert evolution path
    val withQ = quarantined
      .map(all.unionByName(_, allowMissingColumns = true)).getOrElse(all)
    overwriteStaticAtomic(merge(withQ), root, entity, maxRecordsPerFile)
    if (fs.exists(q)) fs.delete(q, true) // consumed (or footer-less debris)
  }

  /** K5: idempotent write of a block-keyed dynamic entity — dynamic
    * partition overwrite replaces exactly the block buckets present in
    * `df`, the relational form of delete-by-block + reinsert. */
  def writeDynamic(df: DataFrame, root: String, entity: String): Unit =
    withBlockBucket(df).write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("block_bucket")
      .parquet(s"$root/dynamic/$entity")

  /** K2: gzip'd JSON bulk-load files (writer.rs:26-48's
    * `<entity>_<n>.json.gz` shape). */
  def writeJsonGz(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)

  /** The bulk-load package's schema artifact (the reference feeds
    * dgraph/contracts.schema to the bulk importer,
    * bulk-import.bash:54-62); generated from [[graft.domain.Schemas]]
    * so it can never drift from the entity StructTypes. */
  def writeDgraphSchema(spark: org.apache.spark.sql.SparkSession, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/contracts.schema")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(graft.domain.Schemas.dgraphSchema
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** K3: signature-dedup gate before the sink (writer.rs:56-58). */
  def dedupBeforeWrite(df: DataFrame, keys: String*): DataFrame =
    df.dropDuplicates(keys)

  /** K6: similarity-edge sink — the reference writes each pair in BOTH
    * directions with the similarity as an edge attribute
    * (similarities.rs:270-303). Input: (a_id, b_id, similarity). Both
    * edges come from one generator over each pair row, so the pair
    * frame is read once (a union of two projections would plan it
    * twice). */
  def similarityEdges(pairs: DataFrame): DataFrame = {
    val sim = col(pairs.columns(2)).as("similarity")
    pairs.select(inline(array(
      struct(col("a_id").as("src"), col("b_id").as("dst"), sim),
      struct(col("b_id").as("src"), col("a_id").as("dst"), sim))))
  }

  def writeSimilarityEdges(pairs: DataFrame, path: String): Unit =
    similarityEdges(pairs).write.mode("overwrite").parquet(path)

  /** K6, literal artifact: the reference's N-Quad similarity lines
    * (similarities.rs:270-303, 383-417):
    * `<uid> <Skeleton.similar_code> <uid> (similarity=x.xxxx) .`
    * — each pair in BOTH directions, similarity to 4 decimals. Pure
    * codegen'd format_string over the edge relation. The predicate
    * depends on the similarity KIND: `Skeleton.similar_code` for
    * n-gram code similarity (similarities.rs:292) and
    * `Skeleton.similar_interface` for interface-Jaccard edges
    * (similarities.rs:273). */
  def nquadLines(pairs: DataFrame,
      predicate: String = "Skeleton.similar_code"): DataFrame =
    similarityEdges(pairs).select(
      format_string(s"<%s> <$predicate> <%s> (similarity=%.4f) .",
        col("src"), col("dst"), col("similarity")).as("nquad"))

  def writeNQuads(pairs: DataFrame, path: String,
      predicate: String = "Skeleton.similar_code"): Unit =
    nquadLines(pairs, predicate).write.mode("overwrite").text(path)

  /** K2 with the reference writer's file naming (writer.rs:26-48):
    * bulk-load shards named `<entity>_<n>.json.gz`. Spark writes
    * part-files first; the rename pass is driver-side Hadoop-FS
    * metadata ops (one per shard, no data movement). */
  def writeJsonGzNamed(df: DataFrame, root: String, entity: String): Unit = {
    val path = s"$root/$entity"
    writeJsonGz(df, path)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    val parts = fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".json.gz"))
      .sortBy(_.getName)
    parts.zipWithIndex.foreach { case (p, i) =>
      val target = new org.apache.hadoop.fs.Path(dir, s"${entity}_$i.json.gz")
      if (!fs.rename(p, target)) // silent false = a hole in the numbering
        throw new java.io.IOException(s"rename $p -> $target failed")
    }
  }
}

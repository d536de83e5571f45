package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sinks.Layout

/** The reference's `stream` mode (SURVEY.md §2.10; stream.rs) restated
  * as Structured Streaming: a stream of raw block-keyed rows →
  * `foreachBatch` → recompute the derived tables for exactly the blocks
  * present in the micro-batch → dynamic-partition-overwrite their block
  * buckets.
  *
  * This preserves the reference's idempotency contract — reprocessing a
  * block REPLACES its derived rows (delete-then-reinsert,
  * block.rs:172-284) — and upgrades partial-failure semantics from
  * row-at-a-time "log and continue" (stream.rs:81-131) to
  * retry-until-converged per micro-batch (SURVEY §7.5-7): each entity's
  * overwrite is atomic (the entities land concurrently), a failure
  * mid-batch can leave OTHER entities of that batch unwritten, and the
  * engine's retry re-derives every entity from the same source offsets
  * — per-block replacement makes the replay idempotent, so the sink
  * converges to exactly the batch's state (at-least-once delivery ×
  * idempotent writes).
  */
object Incremental {

  /** Filesystem-agnostic existence check: resolves the path's own scheme
    * (file:, hdfs:, s3a:, …) through the session's Hadoop conf, so the
    * incremental sink works on the cluster filesystems the 100-TB
    * deployment actually targets, not just the local disk. */
  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** One micro-batch: derive per-entity tables from the batch's raw rows
    * and replace the derived rows of exactly the batch's BLOCKS.
    *
    * The sink is bucketed by block range (Layout.blocksPerPartition), so
    * per-block replacement is a read-modify-write of only the affected
    * buckets: surviving rows of those buckets (anti-joined against the
    * batch's block set) union the newly derived rows, then dynamic
    * partition overwrite. A replay micro-batch touches one or two
    * buckets — bounded IO regardless of table size — while blocks
    * sharing a bucket with a replayed block are preserved. The
    * localCheckpoint materializes survivors before the overwrite (Spark
    * refuses a write whose plan still reads the target path) and is
    * released once the overwrite committed. */
  def processBatch(raw: DataFrame, outRoot: String,
      derive: Map[String, DataFrame => DataFrame]): Unit = {
    val spark = raw.sparkSession
    raw.persist()
    val batchBlocks = raw.select(col("block_number")).distinct().persist()
    try replaceEntities(spark, batchBlocks, outRoot,
      derive.toSeq.map { case (entity, f) => entity -> f(raw) })
    finally {
      batchBlocks.unpersist()
      raw.unpersist()
    }
  }

  /** The per-entity replacement core shared by the single-source batch
    * path, the multi-source live follow, and Extract's dynamic sink:
    * replace the derived rows of exactly `batchBlocks` in every entity
    * table. `batchBlocks` must be persisted by the caller (it drives
    * one anti-join per entity). */
  private[graft] def replaceEntities(spark: SparkSession, batchBlocks: DataFrame,
      outRoot: String, entities: Seq[(String, DataFrame)]): Unit = {
    // the BLOCK set stays a broadcast frame (a replay batch of
    // unbounded width never materializes its block list on the
    // driver); the BUCKET id list is collected — it is bounded by
    // contract at |blocks| / blocksPerPartition (a 1M-block replay is
    // 100 ids) and as a literal it prunes the survivors scan
    // STATICALLY at plan time, which a join-based filter does not
    // guarantee (DPP only fires for selective build sides)
    val affectedBuckets = Layout.withBlockBucket(batchBlocks)
      .select(col("block_bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // each entity lands its own directory, so the replacements run
    // concurrently; a failed one fails the batch once all have settled
    Layout.fanout(entities.map { case (entity, df) => () =>
      graft.Checkpoints.scoped { ck =>
        val path = s"$outRoot/dynamic/$entity"
        val newRows = Layout.withBlockBucket(df)
        val merged =
          if (!pathExists(spark, path)) newRows
          else try {
            val survivors = ck(spark.read.parquet(path)
              .where(col("block_bucket").isin(affectedBuckets: _*))
              .join(broadcast(batchBlocks), Seq("block_number"), "left_anti"))
            newRows.unionByName(survivors)
          } catch {
            // ONLY the no-committed-footer case (a prior run died before
            // its first commit) means "nothing survives". Any other
            // analysis failure — e.g. a schema mismatch against a table a
            // DIFFERENT derive map built — must fail loudly: swallowing
            // it would overwrite the affected buckets with just this
            // batch's rows, silently discarding every other block's data
            // there.
            case e: org.apache.spark.sql.AnalysisException
                if e.getErrorClass != null &&
                  e.getErrorClass.contains("UNABLE_TO_INFER_SCHEMA") =>
              newRows
          }
        merged.write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("block_bucket")
          .parquet(path)
        // the session-level FileStatusCache may hold this path's OLD leaf
        // files (any concurrent reader — a progress poller, the previous
        // batch's survivors scan — primes it); a later read planning from
        // that stale listing hits FILE_NOT_EXIST on the parts the dynamic
        // overwrite just deleted. Invalidate after every commit.
        spark.catalog.refreshByPath(path)
      }
    })
  }

  /** Wire a raw-row stream into the incremental pipeline. The source can
    * be anything block-ordered (file drop directory, Kafka, a rate
    * source in tests); catch-up-then-live (stream.rs:275-336) falls out
    * of Structured Streaming's source offsets — a restart resumes from
    * the checkpoint and replays whatever arrived meanwhile. */
  def run(stream: DataFrame, outRoot: String, checkpoint: String,
      derive: Map[String, DataFrame => DataFrame],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, outRoot, derive)
      }
      .start()

  /** Batch backfill for a block range (the `extract` path, SURVEY §3.1):
    * same derivations, same sink, one shot. Catch-up before going live =
    * run this for `max indexed + 1 .. head`, then start [[run]]. */
  def backfill(raw: DataFrame, outRoot: String,
      derive: Map[String, DataFrame => DataFrame]): Unit =
    processBatch(raw, outRoot, derive)

  /** S6 restated: follow the node's head (stream.rs:339-372
    * `run_stream_extraction` — the websocket subscription becomes a
    * poll: a "new block" IS the head moving past what's indexed, and
    * the zero-egress sandbox has no socket to subscribe to). Every
    * rate-source tick polls `eth_blockNumber`; when the head is past
    * the max indexed block, the gap `last+1..head` is fetched with the
    * paged client and pushed through the same per-block-replacement
    * sink as [[run]] — so catch-up-then-live (stream.rs:275-336) is
    * one code path: the first tick does the big catch-up batch, later
    * ticks process whatever arrived since.
    *
    * `resumeEntity` names the derived table whose max block is the
    * resume point (A14); an empty sink starts from `startBlock`. */
  def followHead(spark: SparkSession, endpoint: String, outRoot: String,
      checkpoint: String, startBlock: Long,
      derive: Map[String, DataFrame => DataFrame], resumeEntity: String,
      slots: Int = 8,
      trigger: Trigger = Trigger.ProcessingTime("200 milliseconds")): StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", 5).load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        val head = graft.sources.Rpc.blockNumber(endpoint)
        val last = maxIndexedBlock(spark, outRoot, resumeEntity)
          .getOrElse(startBlock - 1)
        if (head > last) {
          val raw = graft.sources.Rpc
            .fetchBlocks(spark, endpoint, last + 1, head, slots)
            .withColumnRenamed("number", "block_number")
          processBatch(raw, outRoot, derive)
        }
      }
      .start()

  /** One gap's fetched sources for the multi-entity live follow
    * (stream.rs:70-263 derives transactions/logs/transfers/deployments/
    * destructions per block). Blocks are always fetched; traces and
    * logs fetch LAZILY on first access — a derive map that never touches
    * them costs no extra RPC round — and each materializes exactly once
    * (every consumer would otherwise re-run its HTTP hop), through the
    * tick's checkpoint scope: a Gap is valid only during its tick. */
  final class Gap private[streaming] (val blocks: DataFrame,
      tracesF: () => DataFrame, logsF: () => DataFrame,
      scope: graft.Checkpoints.Scope) {
    lazy val traces: DataFrame = scope(tracesF())
    lazy val logs: DataFrame = scope(logsF())
  }

  /** The multi-entity follow's explicit resume point: a `_synced_head`
    * marker at the sink root recording the last block through which
    * EVERY entity (and the tick's static side effects) committed.
    *
    * The resume point must NOT be derived from per-entity row maxima:
    * an entity with legitimately no rows near the head — selfdestructs
    * are absent for long mainnet stretches — would pin it permanently
    * behind, so every tick re-fetches the entire growing gap (blocks
    * plus a full trace_block sweep) and the indexed==head fixpoint
    * never arrives. The marker advances only after the whole tick
    * committed; a crash mid-tick leaves the previous value and the
    * replayed gap re-replaces idempotently. */
  def syncedHead(spark: SparkSession, outRoot: String): Option[Long] =
    syncedHeadMeta(spark, outRoot).map(_._1)

  /** The marker with its entity set: (head, names of the entities that
    * were synced through it). The names matter on resume — a derive map
    * that GAINS an entity must not trust a marker written without it,
    * or the new entity would never be backfilled below the marker. */
  private[graft] def syncedHeadMeta(spark: SparkSession,
      outRoot: String): Option[(Long, Set[String])] =
    try readMarker(spark, outRoot, "_synced_head")
    catch { case _: Exception => None } // torn marker = replay the gap

  /** Durable tick-intent marker: written BEFORE a tick's first write,
    * cleared only after the tick's synced-head marker committed. Its
    * payload is the tick's PRE-GAP resume point. Presence at startup
    * means a prior process died mid-tick — in that window the
    * per-entity row maxima can read "complete" (the entity replacement
    * committed) while the tick's static side effects (the skeleton/ABI
    * upsert) and the synced-head marker are lost, so both the resume
    * point and any caught-up test must ignore row maxima and replay
    * the recorded gap (idempotent: per-block replacement + natural-key
    * upserts). An in-process flag cannot represent this — it dies with
    * the process. Cost: two driver-side metadata ops per tick.
    *
    * Absence of the intent is ANTI-conservative (it is what licenses
    * the row-maxima shortcut), so this file is never deleted on the
    * write path: [[writeTickIntent]] is create-if-absent (a replay
    * tick inherits the dead tick's intent — its recorded point is ≤
    * ours and replaying more is idempotent), and only the post-marker
    * [[clearTickIntent]] removes it. Read errors other than
    * not-found therefore propagate instead of reading as "no intent". */
  def tickIntent(spark: SparkSession, outRoot: String): Option[Long] =
    tickIntentMeta(spark, outRoot).map(_._1)

  /** The intent with the entity names it was recorded for — a derive
    * map that GAINS an entity must not let the intent's replay point
    * mask the new entity's missing backfill below it. */
  private[graft] def tickIntentMeta(spark: SparkSession,
      outRoot: String): Option[(Long, Set[String])] =
    try readMarker(spark, outRoot, "_tick_intent")
    catch {
      case _: java.io.FileNotFoundException => None // raced with clear
    } // anything else (torn read, corrupt payload) propagates: treating
      // it as "no intent" would silently skip a dead tick's replay

  /** The `head\nnames` payload of the marker file `name` under
    * `outRoot`, None when there is none; read errors propagate. */
  private def readMarker(spark: SparkSession, outRoot: String,
      name: String): Option[(Long, Set[String])] = {
    val p = new org.apache.hadoop.fs.Path(s"$outRoot/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val lines = text.trim.split("\n")
      val names = lines.drop(1).headOption
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)
      Some((lines.head.trim.toLong, names))
    }
  }

  /** Writes the `head\nnames` marker payload to `tmp`. */
  private def writePayload(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, head: Long, entities: Seq[String]): Unit = {
    val out = fs.create(tmp, true)
    try out.write((head.toString + "\n" + entities.sorted.mkString(","))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def writeTickIntent(spark: SparkSession, outRoot: String,
      last: Long, entities: Seq[String]): Unit = {
    val dst = new org.apache.hadoop.fs.Path(s"$outRoot/_tick_intent")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // create-if-absent: never delete-then-recreate (a crash in between
    // would erase the only durable record of the dead tick and fail
    // OPEN). An existing intent — ours from a replay, or a dead
    // process's — already records a point ≤ `last`, so it stands.
    if (fs.exists(dst)) return
    val tmp = new org.apache.hadoop.fs.Path(s"$outRoot/._tick_intent.tmp")
    writePayload(fs, tmp, last, entities)
    if (!fs.rename(tmp, dst) && !fs.exists(dst))
      throw new java.io.IOException(s"rename $tmp -> $dst failed")
  }

  private[graft] def clearTickIntent(spark: SparkSession, outRoot: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$outRoot/_tick_intent")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  private[graft] def writeSyncedHead(spark: SparkSession, outRoot: String,
      head: Long, entities: Seq[String]): Unit = {
    val dst = new org.apache.hadoop.fs.Path(s"$outRoot/_synced_head")
    val tmp = new org.apache.hadoop.fs.Path(s"$outRoot/._synced_head.tmp")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    writePayload(fs, tmp, head, entities)
    // rename is atomic on HDFS/posix; object stores degrade to
    // copy+delete, where a torn state reads back as "absent" via
    // [[syncedHeadMeta]]'s catch and the next tick simply replays — safe
    // either way
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"rename $tmp -> $dst failed")
  }

  /** S6 at full entity width: the live follow with a derive map over
    * ALL THREE fetch faces — each tick fetches the gap's blocks (and,
    * lazily, traces/logs), derives every registered entity, and
    * replaces their block ranges in one pass.
    *
    * Crash consistency: the resume point is the [[syncedHead]] marker,
    * advanced only after every entity AND the tick's static side
    * effects committed — a tick that died after writing some entities
    * re-fetches the same gap and re-replaces every entity idempotently
    * (per-block replacement makes the replay a no-op for the entities
    * that had committed). A sink without a marker (fresh, or built by
    * an older run) falls back once to the conservative min-over-entities
    * scan; the first committed tick writes the marker and retires it. */
  def followHeadEntities(spark: SparkSession, endpoint: String, outRoot: String,
      checkpoint: String, startBlock: Long,
      derive: Seq[(String, Gap => DataFrame)], slots: Int = 8,
      trigger: Trigger = Trigger.ProcessingTime("200 milliseconds"),
      onGap: Gap => Unit = _ => (),
      onTickStart: () => Unit = () => ()): StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", 5).load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        val head = graft.sources.Rpc.blockNumber(endpoint)
        val names = derive.map(_._1)
        def conservativeScan = derive.map { case (entity, _) =>
          maxIndexedBlock(spark, outRoot, entity).getOrElse(startBlock - 1)
        }.min
        val last = tickIntentMeta(spark, outRoot) match {
          // a prior PROCESS died mid-tick: replay its whole gap from
          // the recorded pre-gap point — row maxima (and even the
          // synced-head marker, which predates the dead tick) would
          // under-replay the lost static side effects. The intent's
          // entity-name guard mirrors the marker's: a derive map that
          // GAINED an entity must also backfill it below the intent
          // point, so the resume is the MIN of the replay point and the
          // conservative scan (the new entity's absent table → start)
          case Some((l, recorded)) if names.toSet.subsetOf(recorded) => l
          case Some((l, _)) => math.min(l, conservativeScan)
          case None => syncedHeadMeta(spark, outRoot) match {
            // the marker is only trusted for the entities it was written
            // with: a derive map that gained an entity falls back to the
            // conservative scan, so its whole range backfills; the next
            // committed tick rewrites the marker with the full name set
            case Some((h, synced)) if names.toSet.subsetOf(synced) => h
            case _ => conservativeScan
          }
        }
        // the tick's checkpoints (blocks, and the gap's traces/logs once
        // read) are released when it ends, onGap included
        if (head > last) graft.Checkpoints.scoped { ck =>
          // observable BEFORE any write: a waiter that saw a tick start
          // must not trust per-entity row maxima for its stop decision
          // (they go stale-complete between replaceEntities and
          // onGap/marker commit) — only the synced-head marker says the
          // whole tick, static side effects included, committed
          onTickStart()
          // durable twin of onTickStart, for the CROSS-PROCESS window
          writeTickIntent(spark, outRoot, last, names)
          val blocks = ck(graft.sources.Rpc
            .fetchBlocks(spark, endpoint, last + 1, head, slots)
            .withColumnRenamed("number", "block_number"))
          val gap = new Gap(blocks,
            () => graft.sources.Rpc.traceEntities(
              graft.sources.Rpc.fetchTraces(spark, endpoint, last + 1, head, slots)),
            () => graft.sources.Rpc.fetchLogs(spark, endpoint, last + 1, head, slots),
            ck)
          val batchBlocks = blocks.select(col("block_number")).distinct().persist()
          try {
            replaceEntities(spark, batchBlocks, outRoot,
              derive.map { case (entity, f) => entity -> f(gap) })
            // static-entity side effects (e.g. the live skeleton upsert,
            // stream.rs:172-253) run AFTER the per-block replacement so a
            // crash between the two replays idempotently: the replayed
            // gap re-derives the same skeletons and the upsert's
            // append-if-absent skips them
            onGap(gap)
            // everything committed — advance the resume point, then
            // retire the intent (a crash in between replays the gap
            // once more; every leg is idempotent)
            writeSyncedHead(spark, outRoot, head, names)
            clearTickIntent(spark, outRoot)
          } finally batchBlocks.unpersist()
        }
      }
      .start()

  /** A14: the resume point — max block number already present in a
    * derived table (stream.rs:284-301). */
  def maxIndexedBlock(spark: SparkSession, outRoot: String, entity: String): Option[Long] = {
    val path = s"$outRoot/dynamic/$entity"
    def attempt(retries: Int): Option[Long] =
      try spark.read.parquet(path)
        .agg(max(col("block_number"))).head().get(0) match {
        case n: java.lang.Long => Some(n)
        case _ => None
      } catch {
        // the directory exists but holds no committed footer yet (a
        // first write is still staging, or a prior run aborted): that IS
        // "nothing indexed" — concurrent pollers (followHead's resume
        // check, specs watching progress) must not blow up on it
        case _: org.apache.spark.sql.AnalysisException => None
        // read-while-replace: a dynamic partition overwrite deleted the
        // listed part files between this read's planning and execution
        // (FAILED_READ_FILE / FileNotFoundException). Re-list and retry —
        // the replacement is atomic per commit, so a fresh listing wins.
        case e: Exception if retries > 0 && isVanishedFile(e) =>
          spark.catalog.refreshByPath(path)
          attempt(retries - 1)
      }
    if (!pathExists(spark, path)) None else attempt(retries = 3)
  }

  private def isVanishedFile(e: Throwable): Boolean =
    e match {
      case null => false
      case _: java.io.FileNotFoundException => true
      case s: org.apache.spark.SparkException
        if s.getMessage != null && s.getMessage.contains("FAILED_READ_FILE") => true
      case other => isVanishedFile(other.getCause)
    }
}

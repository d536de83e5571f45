package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sinks.Layout

/** The reference's `stream` subcommand (main.rs:28-56,
  * stream.rs:339-372 `run_stream_extraction`) as a CLI over
  * [[Incremental.followHeadEntities]]: follow the node's head and keep
  * the per-block entity tables replaced — contract deployments and
  * destructions always (stream.rs:70-263's always-on legs), plus
  * transactions / token transfers / logs behind the reference's
  * `--include-tx` / `--include-tokens` / `--include-logs` flags.
  * `--no-sync` skips the catch-up and indexes only blocks past the
  * head at launch (main.rs:49-51); the default behavior is
  * catch-up-then-live from the sink's resume point in one code path.
  *
  * The reference streams into Dgraph; we stream into a static/dynamic
  * parquet root (SURVEY S8: the landed layout is the store), but NOT
  * the tables `extract` lands: [[derivations]] writes narrower shapes
  * (blocks keyed `block_number`, raw deployments, 9-column
  * transactions) under `dynamic/`, where `extract` upserts blocks,
  * deployments and destructions under `static/` and lands 17-column
  * transactions. Following an extract-built root therefore fails with
  * `NUM_COLUMNS_MISMATCH` (`python3 perfbench/run.py
  * --repro-follow-after-extract` prints REPRODUCED), and `analyse`,
  * which reads `static/`, never sees the rows a follower lands.
  */
object Stream {

  /** The per-gap derive map for the configured entity set. */
  def derivations(includeTx: Boolean, includeTokens: Boolean,
      includeLogs: Boolean): Seq[(String, Incremental.Gap => DataFrame)] = {
    val always: Seq[(String, Incremental.Gap => DataFrame)] = Seq(
      "blocks" -> (g => g.blocks.select(col("block_number"), col("ts"),
        col("gas_used"), col("gas_limit"), col("base_fee_wei"),
        col("miner"), col("difficulty"), col("size"),
        size(col("transactions")).cast("long").as("tx_count"))),
      "deployments" -> (g => graft.etl.Decode.deployments(g.traces)),
      "destructions" -> (g => graft.etl.Decode.destructions(g.traces)))
    val tx: Seq[(String, Incremental.Gap => DataFrame)] =
      if (!includeTx) Nil
      else Seq("transactions" -> (g => g.blocks
        .select(col("block_number"), explode(col("transactions")).as("t"))
        .select(col("block_number"), col("t.hash").as("hash"),
          col("t.from").as("from"), col("t.to").as("to"),
          graft.functions.EvmExprs.hexToDec(col("t.value")).as("value"),
          graft.sources.Rpc.hexQtyToLong(col("t.gas")).as("gas"),
          graft.sources.Rpc.hexQtyToLong(col("t.gasPrice")).as("gas_price"),
          col("t.input").as("input"))))
    val tokens: Seq[(String, Incremental.Gap => DataFrame)] =
      if (!includeTokens) Nil
      else Seq("transfers" -> (g => graft.etl.Decode.transfersFromLogs(g.logs)))
    val logs: Seq[(String, Incremental.Gap => DataFrame)] =
      if (!includeLogs) Nil
      else Seq("logs" -> (g => g.logs))
    always ++ tx ++ tokens ++ logs
  }

  /** stream.rs:172-253's live skeleton leg as a K4 natural-key upsert:
    * skeletons in the gap's deployments that the static table doesn't
    * know yet are decompiled (once per DISTINCT hash — the stream-mode
    * face of the A4 discipline) and APPENDED with the full
    * Schemas.skeleton column set; known hashes are skipped, so a
    * replayed gap is a no-op. The anti-join's build side is the
    * EXISTING hash set — at mainnet scale (~400k skeletons, 32 bytes
    * each) that broadcasts; far past that, bucket the skeleton table by
    * hash so the anti-join co-locates instead. Returns the number of
    * NEW skeletons landed.
    *
    * The decompiled ABI rides along (stream.rs:230 `skeleton.set_abi`
    * → skeleton.rs:162-297's upsert writes the functions/events/errors
    * edges): new skeletons also land their `static/{abi,functions,
    * events,errors}` rows through the natural-key upsert — the live
    * face of K3's signature-dedup gate — so a stream-built store is as
    * rich as an extract-built one. Write order is ABI/signatures FIRST,
    * skeleton row LAST: the skeleton row's presence is what the
    * freshness anti-join keys on, so a crash in between leaves the
    * skeleton "fresh" and the replay re-lands it (the signature upserts
    * dedup the already-committed half). */
  def upsertSkeletons(outRoot: String, gapDeployments: DataFrame,
      decompiler: Seq[String], timeoutMs: Long = 5000L): Long = {
    val spark = gapDeployments.sparkSession
    val fresh0 = gapDeployments
      .select(col("skeleton_hash"),
        graft.etl.Decode.skeletonHex(col("deployed_bytecode")).as("bytecode"))
      .where(col("skeleton_hash").isNotNull)
      .dropDuplicates("skeleton_hash")
    val path = s"$outRoot/static/skeletons"
    // guarded read: a crashed prior write (footer-less dir) reads as
    // absent, so the replay re-lands instead of dying on
    // UNABLE_TO_INFER_SCHEMA
    val fresh = (Layout.readStatic(spark, outRoot, "skeletons", recover = true) match {
      case None => fresh0
      case Some(existing) => fresh0.join(
        broadcast(existing.select(col("skeleton_hash"))),
        Seq("skeleton_hash"), "left_anti")
    }).localCheckpoint()
    val n = fresh.count()
    if (n > 0) {
      val decompiled =
        if (decompiler.nonEmpty)
          graft.etl.Decompile.run(fresh, decompiler, timeoutMs)
            .toDF().localCheckpoint()
        else fresh.select(col("skeleton_hash"),
          lit(null).cast("string").as("abi_json"),
          lit(true).as("failed_decompilation"))
      val abi = graft.etl.Decompile.parseAbi(decompiled).localCheckpoint()
      // abi is multi-row-per-skeleton: replace-by-key, so a torn append
      // from a crashed tick is dropped and re-landed on replay
      Layout.upsertStaticReplace(abi, outRoot, "abi", Seq("skeleton_hash"))
      graft.etl.Decompile.signatureEntities(abi).foreach { case (entity, df) =>
        Layout.upsertStatic(df, outRoot, entity, Seq("signature"),
          flipProbe = true)
      }
      fresh
        .join(decompiled.select(col("skeleton_hash"), col("failed_decompilation")),
          Seq("skeleton_hash"), "left")
        .join(graft.analytics.Similarity.erc20Compliancy(abi),
          Seq("skeleton_hash"), "left")
        .join(graft.analytics.Similarity.erc721Compliancy(abi),
          Seq("skeleton_hash"), "left")
        .select(col("skeleton_hash"), col("bytecode"),
          coalesce(col("failed_decompilation"), lit(true))
            .as("failed_decompilation"),
          coalesce(col("erc20_compliancy"), lit(0)).as("erc20_compliancy"),
          coalesce(col("erc721_compliancy"), lit(0)).as("erc721_compliancy"))
        .write.mode("append").parquet(path)
    }
    n
  }

  /** CLI: `runMain graft.streaming.Stream [--endpoint url]
    * [--output-path dir] [--include-tx] [--include-tokens]
    * [--include-logs] [--no-sync] [--num-jobs n] [--from-block b]
    * [--until-head]`. `--until-head` stops at the indexed==head
    * fixpoint instead of following forever (the testable face of a
    * process the reference runs until killed). */
  def main(args: Array[String]): Unit = {
    def flagVal(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    def flag(name: String): Boolean = args.contains(name)
    val endpoint = flagVal("--endpoint").getOrElse(graft.sources.RpcStub.endpoint)
    val outRoot = flagVal("--output-path").getOrElse(graft.Temps.dir("stream-out"))
    val slots = flagVal("--num-jobs").map(_.toInt).getOrElse(8)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    try {
      val head0 = graft.sources.Rpc.blockNumber(endpoint)
      // --no-sync: only blocks that arrive after launch (main.rs:49-51);
      // otherwise catch up from --from-block (or the sink's own resume
      // point when it already has data)
      val startBlock =
        if (flag("--no-sync")) head0 + 1
        else flagVal("--from-block").map(_.toLong).getOrElse(head0 - 10)
      val derive = derivations(flag("--include-tx"),
        flag("--include-tokens"), flag("--include-logs"))
      // live skeleton upsert (stream.rs:172-253): decompile newly seen
      // skeletons with the configured (or stand-in) decompiler
      val decompiler =
        if (flag("--skip-decompilation")) Nil
        else graft.etl.Extract.standInDecompiler()
      val timeoutMs =
        flagVal("--decompiler-timeout").map(_.toLong).getOrElse(5000L)
      val tickStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
      val q = Incremental.followHeadEntities(spark, endpoint, outRoot,
        graft.Temps.dir("stream-ckpt"), startBlock, derive, slots,
        onGap = g => upsertSkeletons(outRoot,
          graft.etl.Decode.deployments(g.traces), decompiler, timeoutMs),
        onTickStart = () => tickStarted.set(true))
      if (flag("--until-head")) {
        val deadline = System.nanoTime() + 300L * 1000000000L
        // the synced-head marker IS the fixpoint signal: it advances
        // only after every entity AND the tick's skeleton upsert
        // committed — unlike per-entity row maxima, it also arrives
        // when an entity legitimately has no rows near the head. The
        // row-maxima check stays as a fallback ONLY while no tick has
        // started: a marker-less store (built by an older run or a
        // batch extract) that is ALREADY at head sees no gap, so no
        // tick ever fires and the marker would never appear. Once a
        // tick starts, row maxima are off the table — they read
        // "complete" in the window between the tick's entity
        // replacement and its skeleton upsert + marker write, and
        // stopping there would permanently lose the gap's
        // skeleton/ABI tables (resume sees maxima at head → no gap →
        // onGap never replays).
        // ...and BOTH legs require no live tick-intent marker: intent
        // present means a tick (this process's or a DEAD one's) has
        // writes in flight or lost side effects pending replay — the
        // follower will replay that gap, so wait for it
        def caughtUp() = {
          val head = graft.sources.Rpc.blockNumber(endpoint)
          Incremental.tickIntent(spark, outRoot).isEmpty &&
            (Incremental.syncedHead(spark, outRoot).exists(_ >= head) ||
              (!tickStarted.get && derive.forall { case (e, _) =>
                Incremental.maxIndexedBlock(spark, outRoot, e).exists(_ >= head) }))
        }
        while (q.exception.isEmpty && !caughtUp() && System.nanoTime() < deadline)
          Thread.sleep(200)
        q.exception.foreach(throw _)
        def skelCount: Option[Long] =
          try Some(spark.read.parquet(s"$outRoot/static/skeletons").count())
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        q.stop()
        val counts = derive.map { case (e, _) =>
          e -> spark.read.parquet(s"$outRoot/dynamic/$e").count() } :+
          ("skeletons" -> skelCount.getOrElse(0L))
        println(s"STREAM $outRoot " +
          counts.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
      } else q.awaitTermination()
    } finally spark.stop()
  }
}

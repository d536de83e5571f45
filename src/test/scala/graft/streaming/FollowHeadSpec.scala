package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.RpcStub

/** S6 live-follow semantics: catch-up to the head, then process blocks
  * that appear AFTER the stream started (the reference's websocket
  * subscription, stream.rs:339-372, restated as a head poll — the stub
  * head is advanced mid-stream to simulate new blocks arriving). */
class FollowHeadSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("followHead catches up, then indexes blocks arriving mid-stream, without duplicates") {
    val out = graft.Temps.dir("follow-live-out")
    val ckpt = graft.Temps.dir("follow-live-ckpt")
    val derive = Map("blocks" -> ((raw: DataFrame) =>
      raw.select(col("block_number"), col("ts"))))
    def maxIdx = Incremental.maxIndexedBlock(spark, out, "blocks")
    def waitUntil(target: Long): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (maxIdx != Some(target) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(maxIdx === Some(target))
    }
    try {
      val q = Incremental.followHead(
        spark, RpcStub.endpoint, out, ckpt, startBlock = 745L, derive, "blocks")
      try {
        waitUntil(RpcStub.Head) // catch-up leg: 745..750 in one batch
        RpcStub.setHead(RpcStub.Head + 3) // three "new blocks" arrive
        waitUntil(RpcStub.Head + 3) // live leg picks up 751..753
      } finally q.stop()
      val nums = spark.read.parquet(s"$out/dynamic/blocks")
        .select("block_number").collect().map(_.getLong(0)).sorted
      assert(nums.toSeq === (745L to RpcStub.Head + 3),
        "every block exactly once: replacement, not append")
    } finally RpcStub.setHead(RpcStub.Head)
  }

  test("crash mid-tick: a failure AFTER the first entity committed replays idempotently on restart") {
    import org.apache.spark.sql.functions.{lit, udf}
    val out = graft.Temps.dir("follow-crash-out")
    val bomb = java.nio.file.Paths.get(graft.Temps.dir("follow-crash-flag"), "armed")
    java.nio.file.Files.createFile(bomb)
    val bombPath = bomb.toString
    // fails at EXECUTION time — i.e. after the preceding entity's
    // overwrite already committed — whenever the flag file exists
    val detonate = udf { (_: Long) =>
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(bombPath)))
        throw new IllegalStateException("injected crash between entity commits")
      true
    }
    def derive: Seq[(String, Incremental.Gap => DataFrame)] = Seq(
      "blocks" -> (g => g.blocks.select(col("block_number"), col("ts"))),
      "deployments" -> (g => graft.etl.Decode.deployments(g.traces)
        .filter(detonate(col("block_number")))
        .select(col("contract"), col("block_number"), col("tx_hash"))))
    val deadline0 = System.nanoTime() + 60L * 1000000000L
    val q1 = Incremental.followHeadEntities(
      spark, RpcStub.endpoint, out, graft.Temps.dir("follow-crash-ckpt1"),
      startBlock = 745L, derive)
    try {
      while (q1.exception.isEmpty && System.nanoTime() < deadline0)
        Thread.sleep(100)
      assert(q1.exception.nonEmpty, "injected failure did not surface")
    } finally q1.stop()
    // the tick died between entity commits: blocks landed, the marker
    // did NOT advance — the resume point still covers the whole gap
    assert(Incremental.maxIndexedBlock(spark, out, "blocks") === Some(RpcStub.Head))
    assert(Incremental.syncedHead(spark, out).isEmpty)

    // restart WITHOUT the bomb (fresh checkpoint — the sink itself is
    // the state): the replayed gap must converge every entity to head
    // with no duplicate rows
    java.nio.file.Files.delete(bomb)
    val q2 = Incremental.followHeadEntities(
      spark, RpcStub.endpoint, out, graft.Temps.dir("follow-crash-ckpt2"),
      startBlock = 745L, derive)
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      def synced = Incremental.syncedHead(spark, out)
      while (q2.exception.isEmpty && synced != Some(RpcStub.Head) &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
      q2.exception.foreach(throw _)
      assert(synced === Some(RpcStub.Head))
    } finally q2.stop()
    val blockNums = spark.read.parquet(s"$out/dynamic/blocks")
      .select("block_number").collect().map(_.getLong(0)).sorted
    assert(blockNums.toSeq === (745L to RpcStub.Head),
      "every block exactly once after the replay")
    val deps = spark.read.parquet(s"$out/dynamic/deployments")
    val expected = (745L to RpcStub.Head)
      .map(n => (0 until RpcStub.txCountOf(n)).count(_ % 4 == 1)).sum
    assert(deps.count() === expected.toLong)
    assert(deps.distinct().count() === expected.toLong, "replay duplicated rows")
  }

  test("an entity with no rows near the head does not pin the resume point (synced-head marker)") {
    import org.apache.spark.sql.functions.lit
    val out = graft.Temps.dir("follow-empty-out")
    // "destructions absent for long stretches": an always-empty entity —
    // under row-maxima resume the fixpoint would NEVER arrive and every
    // tick would re-fetch the whole gap; the marker must still converge
    val derive: Seq[(String, Incremental.Gap => DataFrame)] = Seq(
      "blocks" -> (g => g.blocks.select(col("block_number"), col("ts"))),
      "empty" -> (g => g.blocks.where(lit(false))
        .select(col("block_number"), col("ts"))))
    val q = Incremental.followHeadEntities(
      spark, RpcStub.endpoint, out, graft.Temps.dir("follow-empty-ckpt"),
      startBlock = 745L, derive)
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      def synced = Incremental.syncedHead(spark, out)
      while (q.exception.isEmpty && synced != Some(RpcStub.Head) &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
      q.exception.foreach(throw _)
      assert(synced === Some(RpcStub.Head), "fixpoint pinned by the empty entity")
    } finally q.stop()
    assert(Incremental.maxIndexedBlock(spark, out, "empty") === None)
    assert(Incremental.maxIndexedBlock(spark, out, "blocks") === Some(RpcStub.Head))
  }

  test("a committed tick leaves no persisted RDD behind, traces and logs read") {
    val out = graft.Temps.dir("follow-leak-out")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val q = Incremental.followHeadEntities(
      spark, RpcStub.endpoint, out, graft.Temps.dir("follow-leak-ckpt"),
      startBlock = 745L, Stream.derivations(includeTx = false,
        includeTokens = true, includeLogs = true))
    try {
      def lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (q.exception.isEmpty &&
          !Incremental.syncedHead(spark, out).contains(RpcStub.Head) &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
      q.exception.foreach(throw _)
      assert(Incremental.syncedHead(spark, out) === Some(RpcStub.Head))
      // the tick that wrote the marker has ended once a later batch
      // reports progress
      val seen = lastBatch
      while (q.exception.isEmpty && lastBatch <= seen &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(lastBatch > seen, "no batch completed after the marker")
    } finally q.stop()
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before === Set.empty)
  }

  test("a derive map that gains an entity backfills it despite an at-head marker") {
    val out = graft.Temps.dir("follow-grow-out")
    val blocksOnly: Seq[(String, Incremental.Gap => DataFrame)] = Seq(
      "blocks" -> (g => g.blocks.select(col("block_number"), col("ts"))))
    def runToHead(derive: Seq[(String, Incremental.Gap => DataFrame)],
        ckpt: String): Unit = {
      val q = Incremental.followHeadEntities(
        spark, RpcStub.endpoint, out, graft.Temps.dir(ckpt), 745L, derive)
      // wait on the marker's ENTITY SET, not just its head: run 1's
      // marker already says head, so a head-only wait would win the
      // race against run 2's first (backfilling) tick
      def synced = Incremental.syncedHeadMeta(spark, out).exists {
        case (h, names) =>
          h == RpcStub.Head && derive.map(_._1).toSet.subsetOf(names)
      }
      try {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (q.exception.isEmpty && !synced && System.nanoTime() < deadline)
          Thread.sleep(100)
        q.exception.foreach(throw _)
        assert(synced, s"did not sync ${derive.map(_._1)} to head")
      } finally q.stop()
    }
    runToHead(blocksOnly, "follow-grow-ckpt1")
    // restart with transactions ADDED: the marker says head, but it was
    // written for {blocks} only — trusting it would leave the new
    // entity's whole range un-backfilled forever
    val withTx = blocksOnly :+ ("transactions" ->
      ((g: Incremental.Gap) => g.blocks
        .select(col("block_number"),
          org.apache.spark.sql.functions.explode(col("transactions")).as("t"))
        .select(col("block_number"), col("t.hash").as("hash"))))
    runToHead(withTx, "follow-grow-ckpt2")
    val txs = spark.read.parquet(s"$out/dynamic/transactions")
    val expected = (745L to RpcStub.Head).map(n => RpcStub.txCountOf(n)).sum
    assert(txs.count() === expected.toLong,
      "the added entity was not backfilled below the marker")
    assert(txs.select("block_number").distinct().count() ===
      (745L to RpcStub.Head).count(n => RpcStub.txCountOf(n) > 0).toLong)
  }

  test("skeleton upsert crash ordering: ABI committed but skeleton row lost replays without signature duplicates") {
    val out = graft.Temps.dir("skel-crash-order")
    val traces = graft.sources.Rpc.traceEntities(
      graft.sources.Rpc.fetchTraces(spark, RpcStub.endpoint, 740L, 750L))
    val deps = graft.etl.Decode.deployments(traces).localCheckpoint()
    val decompiler = graft.etl.Extract.standInDecompiler()
    val n1 = Stream.upsertSkeletons(out, deps, decompiler)
    assert(n1 === 2) // both golden skeletons in the gap
    def count(e: String) = spark.read.parquet(s"$out/static/$e").count()
    val (fns, evs, errs, abis) =
      (count("functions"), count("events"), count("errors"), count("abi"))
    assert(fns > 0 && abis > 0)
    // the crash window the ABI-first write order defends: signatures
    // committed, the skeleton row (written LAST) did not — the replayed
    // gap sees the skeletons as fresh and must re-land them while the
    // natural-key upserts dedup the already-committed signature half
    graft.Temps.deleteTree(java.nio.file.Paths.get(s"$out/static/skeletons"))
    spark.catalog.refreshByPath(s"$out/static/skeletons")
    val n2 = Stream.upsertSkeletons(out, deps, decompiler)
    assert(n2 === 2, "lost skeletons were not re-landed on replay")
    assert(count("skeletons") === 2)
    assert((count("functions"), count("events"), count("errors"), count("abi"))
      === ((fns, evs, errs, abis)), "replay duplicated signature entities")
  }

  test("live skeleton upsert: new skeletons appended once, replays skipped (stream.rs:172-253)") {
    val out = graft.Temps.dir("stream-skel-out")
    val ckpt = graft.Temps.dir("stream-skel-ckpt")
    val derive: Seq[(String, Incremental.Gap => DataFrame)] = Seq(
      "blocks" -> (g => g.blocks.select(col("block_number"), col("ts"))))
    val decompiler = graft.etl.Extract.standInDecompiler()
    def maxIdx = Incremental.maxIndexedBlock(spark, out, "blocks")
    def waitUntil(target: Long): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (maxIdx != Some(target) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(maxIdx === Some(target))
    }
    def skeletons = spark.read.parquet(s"$out/static/skeletons")
    def skeletonCount: Long =
      try skeletons.count()
      catch { case _: org.apache.spark.sql.AnalysisException => -1L } // not written yet
    // the upsert runs AFTER the tick's entity replacement — the blocks
    // table reaching the head doesn't imply the same tick's onGap has
    // committed yet, so poll the skeleton table itself
    def waitForSkeletons(n: Long): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (skeletonCount != n && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(skeletonCount === n)
    }
    try {
      val q = Incremental.followHeadEntities(
        spark, RpcStub.endpoint, out, ckpt, startBlock = 745L, derive,
        onGap = g => Stream.upsertSkeletons(out,
          graft.etl.Decode.deployments(g.traces), decompiler))
      try {
        waitUntil(RpcStub.Head)
        // both golden skeletons seen in the catch-up gap, landed once
        // with the full column set
        waitForSkeletons(2)
        assert(skeletons.columns.toSet ===
          graft.domain.Schemas.skeleton.fields.map(_.name).toSet)
        // head advances: the new gap re-derives the same two skeletons —
        // the append-if-absent must skip them. Wait for the NEW gap's
        // upsert to have run (its blocks tick + one full extra tick).
        RpcStub.setHead(RpcStub.Head + 2)
        waitUntil(RpcStub.Head + 2)
        Thread.sleep(1500) // let the advancing tick's onGap commit
        assert(skeletonCount === 2, "replayed skeletons were re-appended")
      } finally q.stop()
    } finally RpcStub.setHead(RpcStub.Head)
  }

  test("onTickStart gates the row-maxima stop fallback until the tick's marker lands") {
    // the --until-head waiter's stop rule (Stream.main): syncedHead, or
    // row maxima ONLY while no tick has started. Block onGap on a latch
    // to hold the follower in the exact window the old rule got wrong —
    // entities committed (maxima at head), skeleton upsert + marker not
    // yet — and assert the rule refuses to stop there.
    val out = graft.Temps.dir("follow-gate-out")
    val tickStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val release = new java.util.concurrent.CountDownLatch(1)
    val derive: Seq[(String, Incremental.Gap => DataFrame)] = Seq(
      "blocks" -> (g => g.blocks.select(col("block_number"), col("ts"))))
    def caughtUp() = {
      val head = graft.sources.Rpc.blockNumber(RpcStub.endpoint)
      Incremental.syncedHead(spark, out).exists(_ >= head) ||
        (!tickStarted.get && derive.forall { case (e, _) =>
          Incremental.maxIndexedBlock(spark, out, e).exists(_ >= head) })
    }
    val q = Incremental.followHeadEntities(
      spark, RpcStub.endpoint, out, graft.Temps.dir("follow-gate-ckpt"),
      startBlock = 745L, derive,
      onGap = _ => release.await(60, java.util.concurrent.TimeUnit.SECONDS),
      onTickStart = () => tickStarted.set(true))
    try {
      // wait for the entity replacement to commit (the stale-complete
      // signal) while onGap is still latched
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!Incremental.maxIndexedBlock(spark, out, "blocks")
          .exists(_ >= RpcStub.Head) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(Incremental.maxIndexedBlock(spark, out, "blocks")
        .exists(_ >= RpcStub.Head), "entity never reached head")
      assert(tickStarted.get, "onTickStart did not fire before entity commit")
      // THE window: maxima at head, marker absent — must NOT stop
      assert(!caughtUp(),
        "stop rule fired between entity commit and the marker write")
      release.countDown()
      val deadline2 = System.nanoTime() + 60L * 1000000000L
      while (!caughtUp() && System.nanoTime() < deadline2) Thread.sleep(100)
      assert(caughtUp(), "marker never landed after onGap completed")
      assert(Incremental.syncedHead(spark, out).exists(_ >= RpcStub.Head))
      assert(Incremental.tickIntent(spark, out).isEmpty,
        "intent not retired after the tick committed")
    } finally { release.countDown(); q.stop() }
  }

  test("tick intent survives a crash: a restarted follower replays the lost gap's side effects") {
    // the CROSS-PROCESS face of the stale-complete window: kill the
    // follower after its entities committed but before onGap/marker —
    // an in-process flag dies with it, so the durable intent marker is
    // what forces the new process to replay the gap (and keeps a fresh
    // waiter from declaring success off row maxima)
    val out = graft.Temps.dir("follow-intent-out")
    val latch = new java.util.concurrent.CountDownLatch(1)
    val derive: Seq[(String, Incremental.Gap => DataFrame)] = Seq(
      "blocks" -> (g => g.blocks.select(col("block_number"), col("ts"))))
    val q1 = Incremental.followHeadEntities(
      spark, RpcStub.endpoint, out, graft.Temps.dir("follow-intent-ckpt1"),
      startBlock = 745L, derive,
      onGap = _ => latch.await(60, java.util.concurrent.TimeUnit.SECONDS))
    val deadline = System.nanoTime() + 60L * 1000000000L
    try {
      while (!Incremental.maxIndexedBlock(spark, out, "blocks")
          .exists(_ >= RpcStub.Head) && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally q1.stop() // "kill -9" mid-tick: onGap never ran, no marker
    latch.countDown()
    assert(Incremental.tickIntent(spark, out).nonEmpty,
      "no durable evidence of the interrupted tick")
    // a FRESH process's waiter (tickStarted=false) must not declare
    // success off the at-head row maxima while the intent is live
    assert(Incremental.syncedHead(spark, out).isEmpty)
    assert(Incremental.maxIndexedBlock(spark, out, "blocks")
      .exists(_ >= RpcStub.Head), "precondition: maxima look complete")
    // restart: the intent forces the gap replay, onGap runs this time
    val replayed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q2 = Incremental.followHeadEntities(
      spark, RpcStub.endpoint, out, graft.Temps.dir("follow-intent-ckpt2"),
      startBlock = 745L, derive, onGap = _ => replayed.set(true))
    try {
      val deadline2 = System.nanoTime() + 60L * 1000000000L
      while ((Incremental.tickIntent(spark, out).nonEmpty ||
          !Incremental.syncedHead(spark, out).exists(_ >= RpcStub.Head)) &&
          System.nanoTime() < deadline2)
        Thread.sleep(100)
      assert(replayed.get, "restart did not replay the interrupted gap's onGap")
      assert(Incremental.syncedHead(spark, out).exists(_ >= RpcStub.Head))
      assert(Incremental.tickIntent(spark, out).isEmpty)
      // and the replay stayed idempotent: every block exactly once
      val nums = spark.read.parquet(s"$out/dynamic/blocks")
        .select("block_number").collect().map(_.getLong(0)).sorted
      assert(nums.distinct.length === nums.length, "replay duplicated rows")
    } finally q2.stop()
  }

  test("a derive map that gains an entity while an intent is pending still backfills it") {
    // an intent whose replay point sits PAST a committed prefix must
    // not mask a newly-added entity's missing backfill below it: run
    // blocks-only to the head (marker committed), advance the head,
    // crash mid-second-tick (intent.last = old head), then restart
    // with deployments ADDED — resume must be min(replay point,
    // conservative scan), i.e. the new table's whole range, not just
    // the intent's two-block gap
    val out = graft.Temps.dir("follow-gain-out")
    val blocksOnly: Seq[(String, Incremental.Gap => DataFrame)] = Seq(
      "blocks" -> (g => g.blocks.select(col("block_number"), col("ts"))))
    try {
      val q1 = Incremental.followHeadEntities(
        spark, RpcStub.endpoint, out, graft.Temps.dir("follow-gain-ckpt1"),
        startBlock = 745L, blocksOnly)
      try {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!Incremental.syncedHead(spark, out).exists(_ >= RpcStub.Head) &&
            System.nanoTime() < deadline)
          Thread.sleep(100)
        assert(Incremental.syncedHead(spark, out).exists(_ >= RpcStub.Head))
      } finally q1.stop()
      // two "new blocks" arrive; the next tick dies mid-flight with
      // intent.last = the old head
      val head2 = RpcStub.Head + 2
      RpcStub.setHead(head2)
      val latch = new java.util.concurrent.CountDownLatch(1)
      val q2 = Incremental.followHeadEntities(
        spark, RpcStub.endpoint, out, graft.Temps.dir("follow-gain-ckpt2"),
        startBlock = 745L, blocksOnly,
        onGap = _ => latch.await(60, java.util.concurrent.TimeUnit.SECONDS))
      try {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (Incremental.tickIntent(spark, out).isEmpty &&
            System.nanoTime() < deadline)
          Thread.sleep(100)
      } finally q2.stop()
      latch.countDown()
      assert(Incremental.tickIntent(spark, out).exists(_ >= RpcStub.Head),
        "intent should record the committed-prefix resume point")
      // restart with deployments ADDED to the derive map
      val gained = blocksOnly :+ ("deployments" ->
        ((g: Incremental.Gap) => graft.etl.Decode.deployments(g.traces)
          .select(col("contract"), col("block_number"), col("tx_hash"))))
      val q3 = Incremental.followHeadEntities(
        spark, RpcStub.endpoint, out, graft.Temps.dir("follow-gain-ckpt3"),
        startBlock = 745L, gained)
      try {
        val deadline = System.nanoTime() + 60L * 1000000000L
        def done() = Incremental.tickIntent(spark, out).isEmpty &&
          Incremental.syncedHead(spark, out).exists(_ >= head2)
        while (!done() && System.nanoTime() < deadline) Thread.sleep(100)
        assert(done(), "restart never converged")
        // the gained entity was backfilled over its WHOLE range — a
        // resume that trusted the intent point alone would only have
        // replayed the two-block gap and missed every deployment below
        val deps = spark.read.parquet(s"$out/dynamic/deployments")
        val expected = (745L to head2)
          .map(n => (0 until RpcStub.txCountOf(n)).count(_ % 4 == 1)).sum
        assert(deps.count() === expected.toLong,
          s"gained entity not fully backfilled (${deps.count()} vs $expected)")
      } finally q3.stop()
    } finally RpcStub.setHead(RpcStub.Head)
  }
}

package perfbench

import graft.sources.RpcStub
import graft.streaming.{Incremental, Stream}

/** Reproducer for a known engine defect, kept out of the workloads:
  * following a root that `Extract.run` built fails, because Extract
  * lands `dynamic/transactions` with 17 columns and the follower's
  * transactions derivation (`Stream.derivations`) with 9, and
  * `Incremental.replaceEntities` unions the two. Prints `REPRODUCED`
  * with the error and exits 0 while the defect stands; prints `FIXED`
  * and exits 1 once the follower catches up over the extract root. */
object ReproFollowAfterExtract {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors())
    val root = graft.Temps.dir("repro-extract-root")
    val decompiler = graft.etl.Extract.standInDecompiler()
    val endpoint = RpcStub.endpoint
    RpcStub.setHead(760L)
    graft.etl.Extract.run(spark, endpoint, 700L, 750L, root, decompiler = decompiler)
    val q = Incremental.followHeadEntities(spark, endpoint, root,
      graft.Temps.dir("repro-ckpt"), 751L, Stream.derivations(true, true, true),
      onGap = g => Stream.upsertSkeletons(root, graft.etl.Decode.deployments(g.traces), decompiler))
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (q.exception.isEmpty && !Incremental.syncedHead(spark, root).exists(_ >= 760L) &&
        System.nanoTime() < deadline) Thread.sleep(100)
    val outcome = q.exception.map(e => s"REPRODUCED ${e.getMessage.linesIterator.take(3).mkString(" ")}")
    q.stop()
    RpcStub.setHead(RpcStub.Head)
    spark.stop()
    println(outcome.getOrElse("FIXED: the follower caught up over an extract-built root"))
    sys.exit(if (outcome.isDefined) 0 else 1)
  }
}

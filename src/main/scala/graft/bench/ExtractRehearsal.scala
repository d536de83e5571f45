package graft.bench

import graft.bench.ScaleLaws.{Cell, emit, time}

/** Dress-rehearsal for `graft.etl.Extract` at an amplified block range —
  * closes the loop on SCALE.md's K4 claim that a static MERGE's rewrite
  * cost is the DIMENSION'S SIZE (not the batch's), while dynamic
  * entities pay only their own blocks' bucket replacement.
  *
  * The stub chain head is advanced so the server answers a `chunks`×
  * 50-block range (every block's content is a deterministic function of
  * its number — the amplified range is as real as the registered one),
  * and the full extract program runs once per 50-block chunk into ONE
  * shared store, exactly how an operator extends a production root.
  * Per chunk it records:
  *
  *  - `secs` — wall-clock of the whole chunk (fetch + derive + land);
  *  - `merged_dim_rows` — |accounts| + |skeletons| after the chunk: the
  *    rows the two mergeStatic sinks REWROTE this chunk (each merge
  *    rewrites its whole dimension through the atomic swap);
  *  - `appended_rows` — rows landed by the add-only upserts this chunk
  *    (blocks/deployments/… grow by the batch, never rewrite);
  *  - `dynamic_rows` — rows landed into dynamic buckets this chunk
  *    (per-block replacement: flat per chunk, by construction).
  *
  * The law under test: `dynamic_rows` and `appended_rows` stay flat as
  * the store grows, `merged_dim_rows` grows ~linearly with the covered
  * range — so per-chunk cost acquires a slowly-growing rewrite term
  * whose unit is the dimension's size. At 100 TB that term is why
  * merged dimensions (accounts ~2×10⁹ rows) get periodic compaction
  * windows rather than per-batch merges, while the dynamic stream never
  * needs one.
  *
  * The ScaleLaws family `extract_rehearsal`, over 16 chunks.
  */
object ExtractRehearsal {
  def measure(c: Cell): Unit = {
    val (chunks, blocksPerChunk, from0) = (16, 50L, 700L)
    val outRoot = graft.Temps.dir("extract-rehearsal")
    val decompiler = graft.etl.Extract.standInDecompiler()
    graft.sources.RpcStub.setHead(from0 + chunks * blocksPerChunk)
    try {
      var (prevDynamic, prevAppended) = (0L, 0L)
      for (chunk <- 0 until chunks) {
        val from = from0 + chunk * blocksPerChunk
        val to = from + blocksPerChunk - 1
        val (counts, secs) = time(graft.etl.Extract.run(c.spark,
          graft.sources.RpcStub.endpoint, from, to, outRoot, decompiler = decompiler))
        val dynTotal = counts("transactions") + counts("transfers") + counts("logs")
        val appTotal = Seq("blocks", "deployments", "destructions", "functions",
          "events", "errors", "abi", "withdrawals").map(counts).sum
        emit("extract_rehearsal", "chunk" -> chunk, "from" -> from, "to" -> to,
          "merged_dim_rows" -> (counts("accounts") + counts("skeletons")),
          "appended_rows" -> (appTotal - prevAppended),
          "dynamic_rows" -> (dynTotal - prevDynamic), "secs" -> secs)
        prevDynamic = dynTotal; prevAppended = appTotal
      }
    } finally graft.sources.RpcStub.setHead(graft.sources.RpcStub.Head)
  }
}

package perfbench

import graft.sources.RpcStub

/** The benchmark's correctness checks, as pure functions over what the
  * engine returned or landed, so each can be shown to fail on a
  * corrupted output. Every check returns the list of its violations;
  * an empty list is a pass. */
object Checks {

  /** Entity row counts the extract of blocks [from, to] must land,
    * derived from the stub node's public per-block rules. */
  def expectedExtractCounts(from: Long, to: Long): Map[String, Long] = {
    var txs, transfers, withdrawals, deployments, destructions = 0L
    val skeletonCodes = scala.collection.mutable.Set.empty[String]
    for (n <- from to to) {
      val c = RpcStub.txCountOf(n)
      txs += c
      withdrawals += RpcStub.wdCountOf(n)
      for (i <- 0 until c) {
        if (i % 4 == 0 || i % 4 == 2) transfers += 1 // ERC-721 / ERC-20 Transfer logs
        if (RpcStub.isCreate(i)) {
          deployments += 1
          skeletonCodes += RpcStub.createdCodeOf(n, i)
        }
        if (RpcStub.isSuicide(i)) destructions += 1
      }
    }
    Map("blocks" -> (to - from + 1), "transactions" -> txs, "logs" -> txs,
      "transfers" -> transfers, "withdrawals" -> withdrawals,
      "deployments" -> deployments, "destructions" -> destructions,
      "skeletons" -> skeletonCodes.size.toLong, "fetch_failures" -> 0L)
  }

  /** Landed counts against the closed form (only the keys it states). */
  def extractCounts(landed: Map[String, Long], expected: Map[String, Long]): Seq[String] =
    expected.toSeq.sortBy(_._1).flatMap { case (k, want) =>
      landed.get(k) match {
        case Some(got) if got == want => None
        case got => Some(s"extract $k: landed ${got.getOrElse("nothing")}, rules give $want")
      }
    }

  /** Analyse's reported counts against a recount of its landed outputs:
    * one lifetime row per distinct contract deployed or destroyed, and
    * two N-Quad lines (both directions) per similar pair. */
  def analyseCounts(lives: Long, distinctContracts: Long,
      pairs: Long, nquadLines: Long): Seq[String] =
    (if (lives == distinctContracts) Nil
     else Seq(s"lifetimes: reported $lives lives, landed contracts give $distinctContracts")) ++
      (if (nquadLines == 2 * pairs) Nil
       else Seq(s"similarities: reported $pairs pairs, landed $nquadLines N-Quad lines"))

  /** Every ingested id has exactly one status row. `statusIds` are the
    * stored manifest's ids restricted to the batch. */
  def oneStatusEach(kind: String, ingested: Seq[Long], statusIds: Seq[Long]): Seq[String] = {
    val counts = statusIds.groupBy(identity).view.mapValues(_.size).toMap
    ingested.distinct.sorted.flatMap { id =>
      counts.getOrElse(id, 0) match {
        case 1 => None
        case k => Some(s"$kind $id has $k status rows")
      }
    } ++ counts.keySet.diff(ingested.toSet).toSeq.sorted
      .map(id => s"$kind $id has a status row but was not ingested")
  }

  /** A serve call answered `topK` rows for every query, each naming a
    * stored id. `rows` are (query id, candidate id). */
  def topK(call: String, queries: Seq[Long], rows: Seq[(Long, Long)], k: Int,
      stored: Long => Boolean): Seq[String] = {
    val byQuery = rows.groupBy(_._1)
    queries.distinct.sorted.flatMap { q =>
      val got = byQuery.getOrElse(q, Nil)
      val short = if (got.size == k) None
        else Some(s"$call: query $q got ${got.size} rows, wants $k")
      val unknown = got.map(_._2).filterNot(stored).distinct.sorted
        .map(c => s"$call: query $q returned unstored id $c")
      short.toSeq ++ unknown
    }
  }
}

package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.analytics.{Lifetimes, Similarity}
import Fixtures._

/** Fixture-driven specs for the entity ETL layer (SURVEY.md §2.3-§2.5
  * over the real schemas). Expected values are hand-computed from the
  * reference semantics cited in each operator's scaladoc. */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** The reference formulation of A7/J7: every interface pair,
    * upper-triangle cross join, Jaccard 0 when either side is empty
    * (similarities.rs:233-238). Bounded inputs only; the engine's
    * [[Similarity.jaccardPairsBlocked]] must agree with it. */
  private def jaccardPairs(interfaces: org.apache.spark.sql.DataFrame,
      threshold: Double): org.apache.spark.sql.DataFrame = {
    val a = interfaces.toDF("a_id", "a_if")
    val b = interfaces.toDF("b_id", "b_if")
    a.crossJoin(b).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        when(size(col("a_if")) === 0 || size(col("b_if")) === 0, lit(0.0))
          .otherwise(
            size(array_intersect(col("a_if"), col("b_if"))).cast("double") /
              size(array_union(col("a_if"), col("b_if"))))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  test("P2: creation traces → deployments with skeleton hash + metadata") {
    val d = Decode.deployments(traces(spark)).collect()
      .map(r => r.getAs[String]("contract") -> r).toMap
    assert(d.keySet === Set(addr(20), addr(21), addr(22)))
    val ok = d(addr(20))
    assert(ok.getAs[String]("creator") === addr(10))
    assert(ok.getAs[Boolean]("failed") === false)
    assert(ok.getAs[String]("skeleton_hash").startsWith("0x"))
    // PUSH-arg-normalized: addr(20) and addr(21) share runtime code
    // "6001600255" whose skeleton zeroes both PUSH args → same hash
    assert(d(addr(20)).getAs[String]("skeleton_hash")
      === d(addr(21)).getAs[String]("skeleton_hash"))
    // direct trace error → failed
    assert(d(addr(22)).getAs[Boolean]("failed") === true)
  }

  test("P3: suicide traces → destructions with decimal balance") {
    val rows = Decode.destructions(traces(spark)).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[String]("contract") === addr(20))
    assert(r.getAs[String]("balance_left") === "1000000000000000000") // 0x0de0b6b3a7640000
    assert(r.getAs[String]("refund_address") === addr(12))
  }

  test("P1: logs → transfers (ERC-20 vs ERC-721, drops wrong arity + non-transfer)") {
    val t = Decode.transfersFromLogs(logs(spark)).collect()
      .map(r => (r.getAs[Long]("block_number"), r.getAs[Long]("log_index")) -> r).toMap
    // log 2 (2 topics) and log 3 (non-transfer topic0) dropped
    assert(t.keySet === Set((100L, 0L), (100L, 1L), (101L, 0L)))
    val erc20 = t((100L, 0L))
    assert(erc20.getAs[String]("token_type") === "ERC20")
    assert(erc20.getAs[String]("from") === addr(1))
    assert(erc20.getAs[String]("to") === addr(2))
    assert(erc20.getAs[String]("value") === "255")
    assert(erc20.getAs[String]("token_id") === null)
    val erc721 = t((100L, 1L))
    assert(erc721.getAs[String]("token_type") === "ERC721")
    assert(erc721.getAs[String]("token_id") === "7")
    assert(erc721.getAs[String]("value") === null)
  }

  test("P4/P6: tx bytes4 + zero-address default") {
    val t = Decode.decorateTransactions(transactions(spark)).collect()
      .map(r => r.getAs[String]("hash") -> r).toMap
    assert(t(Fixtures.hash(1)).getAs[String]("bytes4") === "a9059cbb")
    assert(t(Fixtures.hash(2)).getAs[String]("bytes4") === null) // input < 4 bytes
    assert(t(Fixtures.hash(2)).getAs[String]("to") === "0x" + "0" * 40)
    assert(t(Fixtures.hash(3)).getAs[String]("bytes4") === null) // empty input
    // uint256 string fidelity
    assert(t(Fixtures.hash(2)).getAs[String]("value") ===
      "115792089237316195423570985008687907853269984665640564039457584007913129639935")
  }

  test("J1: array-prefix error propagation (traces.rs:6-34 scenario)") {
    val f = Enrich.propagateTraceErrors(traces(spark)).collect()
      .map(r => (r.getAs[String]("tx_hash"), r.getAs[Seq[Int]]("trace_address")) ->
        r.getAs[Boolean]("failed")).toMap
    assert(f((Fixtures.hash(2), Seq(3))) === true) // errored trace stays failed
    assert(f((Fixtures.hash(2), Seq(3, 0))) === true) // child of failed [3]
    assert(f((Fixtures.hash(2), Seq(4))) === false) // sibling unaffected
    assert(f((Fixtures.hash(1), Seq())) === false)
    assert(f((Fixtures.hash(4), Seq())) === true)
  }

  test("J2: failed-tx semi join flags creations in a tx with any error") {
    val deps = Decode.deployments(traces(spark))
    val flagged = Enrich.flagFailedCreations(deps, traces(spark)).collect()
      .map(r => r.getAs[String]("contract") -> r.getAs[Boolean]("failed")).toMap
    assert(flagged(addr(20)) === false)
    assert(flagged(addr(21)) === true) // tx2 contains errored [3]
    assert(flagged(addr(22)) === true)
  }

  test("§2.7: account dimension union-distinct with is_contract") {
    val deps = Decode.deployments(traces(spark))
    val dest = Decode.destructions(traces(spark))
    val tx = Decode.decorateTransactions(transactions(spark))
    val tr = Decode.transfersFromLogs(logs(spark))
    val acc = Enrich.accounts(blocks(spark), tx, deps, dest, tr, logs(spark))
      .collect().map(r => r.getAs[String]("address") -> r.getAs[Boolean]("is_contract")).toMap
    assert(acc(addr(20)) === true) // deployed contract
    assert(acc(addr(10)) === false) // plain EOA creator
    assert(acc(addr(30)) === true) // log emitter
    assert(acc(addr(40)) === false) // miner
    assert(acc.contains("0x" + "0" * 40)) // zero-address from creation default
    // distinct: every address appears once
    assert(acc.size === Enrich.accounts(blocks(spark), tx, deps, dest, tr, logs(spark)).count())
  }

  test("A1/A2: block gas stats — Gwei, population stddev, empty-block nulls") {
    val stats = Enrich.blockGasStats(blocks(spark), transactions(spark))
      .collect().map(r => r.getAs[Long]("number") -> r).toMap
    val b100 = stats(100L)
    assert(b100.getAs[Long]("tx_count") === 2L)
    assert(b100.getAs[Double]("gas_price_min") === 30.0)
    assert(b100.getAs[Double]("gas_price_max") === 50.0)
    assert(b100.getAs[Double]("gas_price_avg") === 40.0)
    assert(math.abs(b100.getAs[Double]("gas_price_std_dev") - 10.0) < 1e-9) // pop stddev of {30,50}
    val b101 = stats(101L) // one tx, null gas_price → null stats, count 1
    assert(b101.getAs[Long]("tx_count") === 1L)
    assert(b101.isNullAt(b101.fieldIndex("gas_price_min")))
    val b102 = stats(102L) // no txs at all
    assert(b102.getAs[Long]("tx_count") === 0L)
    assert(b102.isNullAt(b102.fieldIndex("gas_price_std_dev")))
  }

  test("A3/K3: signature dedup keeps one row per (kind, signature)") {
    val deduped = Enrich.dedupSignatures(abi(spark))
    val transfers = deduped.filter(col("name") === "transfer").collect()
    assert(transfers.length === 1) // sk20 + skX dup collapsed
    assert(transfers.head.getAs[String]("signature") ===
      "0xa9059cbb2ab09eb219583f4a59a5d0623ade346d962bcd4e46b11da047c9049b")
    assert(transfers.head.getAs[String]("bytes4") === "a9059cbb")
    val unresolved = deduped.filter(col("name").startsWith("Unresolved")).collect().head
    assert(unresolved.getAs[String]("bytes4") === "f8b2cb4f")
    val ev = deduped.filter(col("kind") === "event").collect().head
    assert(ev.getAs[String]("signature") ===
      "0xc0d559150c15862e872a031a8e11f466df4b16d14e736187f2e7fb162060f9d0")
  }

  test("A8/A9: ERC-20 and ERC-721 compliancy scores") {
    val c20 = Similarity.erc20Compliancy(abi(spark)).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(c20("sk20") === 6)
    assert(c20("skX") === 1) // only transfer(address,uint256)
    val c721 = Similarity.erc721Compliancy(abi(spark)).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(c721("sk721") === 9)
    assert(c721("sk20") === 3) // balanceOf(address), transferFrom(a,a,u), approve(a,u)
  }

  test("A10-A13: lifetimes RQ1-RQ4 on the B6 scenarios") {
    val lives = Lifetimes.contractLives(deployments(spark), destructions2(spark))
    val rq1 = Lifetimes.rq1Destroyed(lives).head()
    assert(rq1.getAs[Long]("n_destroyed") === 4L) // c2..c5
    assert(rq1.getAs[Long]("n_total") === 5L)
    val rq2 = Lifetimes.rq2OnceVsMulti(lives).head()
    assert(rq2.getAs[Long]("n_once") === 3L) // c2, c4, c5
    assert(rq2.getAs[Long]("n_multi") === 1L) // c3
    val rq3 = Lifetimes.rq3SameBlockTx(deployments(spark), destructions2(spark)).head()
    assert(rq3.getAs[Long]("n_same_block_pairs") === 1L) // c4
    assert(rq3.getAs[Long]("n_same_tx_pairs") === 1L) // c5
    val rq4 = Lifetimes.rq4LifetimeStats(lives).head()
    assert(rq4.getAs[Long]("n_contracts") === 4L)
    // lifetimes in blocks: c2=10, c3=3, c4=0, c5=0 → avg 3.25
    assert(math.abs(rq4.getAs[Double]("avg_life_blocks") - 3.25) < 1e-9)
    // pop stddev of {10,3,0,0}: mean 3.25, var (45.5625+0.0625+10.5625*2)/4
    val varExp = (math.pow(10 - 3.25, 2) + math.pow(3 - 3.25, 2) + 2 * math.pow(0 - 3.25, 2)) / 4
    assert(math.abs(rq4.getAs[Double]("stddev_life_blocks") - math.sqrt(varExp)) < 1e-9)
  }

  test("A7/J7: exact vs blocked Jaccard pairs agree (threshold > 0)") {
    val ifs = Similarity.interfaceSets(abi(spark))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1),
        math.rint(r.getDouble(2) * 1e9))).toSet
    val exact = canon(jaccardPairs(ifs, 0.05))
    val blocked = canon(Similarity.jaccardPairsBlocked(ifs, 0.05))
    assert(exact === blocked)
    assert(exact.nonEmpty) // sk20/sk721 share balanceOf, transferFrom, approve
  }

  test("A6: ngram cosine — identical skeletons similarity 1, pruned variant bounded") {
    import spark.implicits._
    val sks = Seq(
      ("s1", "6001600260036004600560066007"),
      ("s2", "6001600260036004600560066007"),
      ("s3", "0001000200030004")).toDF("skeleton_hash", "bytecode")
    val pairs = Similarity.cosinePairs(sks, 2, 0.0).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("cosine")).toMap
    assert(math.abs(pairs(("s1", "s2")) - 1.0) < 1e-12)
    assert(!pairs.contains(("s1", "s3"))) // no shared opcode ngram → never materializes
  }

  test("J8: one-vs-all broadcast similarity") {
    val ifs = Similarity.interfaceSets(abi(spark))
    val near = Similarity.similarToTarget(ifs, "sk20", 0.1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(near.contains("sk721")) // shares 3 of 12 names
    assert(!near.contains("sk20")) // self excluded
  }
}

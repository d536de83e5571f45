package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The eth_call name() enrichment stage (J9/U2): the real HTTP JSON-RPC
  * client against the local stub node — resolution, the error path, and
  * the ABI string codec. */
class RpcSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("ABI string codec round-trips, rejects malformed") {
    assert(Rpc.decodeAbiString(RpcStub.abiEncodeString("Wrapped Ether"))
      === Some("Wrapped Ether"))
    assert(Rpc.decodeAbiString(RpcStub.abiEncodeString("")) === Some(""))
    // 33-byte name crosses a word boundary in the padded data
    val long = "x" * 33
    assert(Rpc.decodeAbiString(RpcStub.abiEncodeString(long)) === Some(long))
    assert(Rpc.decodeAbiString("0x") === None)
    assert(Rpc.decodeAbiString("0xdeadbeef") === None)
  }

  test("resolveNames: per-partition client resolves by rule, errors degrade") {
    import spark.implicits._
    // last digit 3/6/9/0 → stub answers an RPC error → resolved=false
    val deps = Seq("0001", "0002", "0003", "0146", "9999", "0002")
      .toDF("contract")
    val got = Rpc.resolveNames(deps, RpcStub.endpoint)
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2)))
      .toSet
    assert(got === Set(
      ("0001", Some("C0001"), true),
      ("0002", Some("C0002"), true), // deduped: one row despite two inputs
      ("0003", None, false),
      ("0146", None, false),
      ("9999", None, false)))
  }

  test("unreachable endpoint degrades to resolved=false, not task failure") {
    import spark.implicits._
    val got = Rpc.resolveNames(Seq("0001").toDF("contract"),
      "http://127.0.0.1:1/").collect()
    assert(got.length === 1 && !got(0).getBoolean(2))
  }

  test("blockNumber reads the head from eth_blockNumber") {
    assert(Rpc.blockNumber(RpcStub.endpoint) === RpcStub.Head)
  }

  test("fetchBlocks decodes hex quantities and keeps the full tx array") {
    val rows = Rpc.fetchBlocks(spark, RpcStub.endpoint, 713L, 713L).collect()
    assert(rows.length === 1)
    val r = rows(0)
    assert(r.getAs[Long]("number") === 713L)
    assert(r.getAs[Long]("ts") === RpcStub.timestampOf(713L))
    assert(r.getAs[Long]("gas_used") === RpcStub.gasUsedOf(713L))
    assert(r.getAs[Long]("base_fee_wei") === RpcStub.baseFeeOf(713L))
    assert(r.getAs[String]("miner") === RpcStub.minerOf(713L))
    val txs = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("transactions")
    assert(txs.length === RpcStub.txCountOf(713L))
    assert(txs.head.getAs[String]("hash") === RpcStub.txHashOf(713L, 0))
  }

  test("past-the-head blocks answer result:null and drop out (termination marker)") {
    val rows = Rpc.fetchBlocks(spark, RpcStub.endpoint,
      RpcStub.Head - 1, RpcStub.Head + 5)
    assert(rows.count() === 2) // head-1 and head only
  }

  test("syncToLive fetches exactly lastIndexed+1 .. head") {
    val nums = Rpc.syncToLive(spark, RpcStub.endpoint, RpcStub.Head - 3)
      .select("number").collect().map(_.getLong(0)).sorted
    assert(nums.toSeq === (RpcStub.Head - 2 to RpcStub.Head).toSeq)
    intercept[IllegalArgumentException] {
      Rpc.syncToLive(spark, RpcStub.endpoint, RpcStub.Head)
    }
  }

  test("parsed fetch output equals the stub rules across a sampled block range") {
    // one fetch over a stride of blocks; every decoded field must equal
    // the closed-form rule the oracles replay
    val rows = Rpc.fetchBlocks(spark, RpcStub.endpoint, 703L, 743L)
      .collect().map(r => r.getAs[Long]("number") -> r).toMap
    (703L to 743L).foreach { n =>
      val r = rows(n)
      assert(r.getAs[Long]("ts") === RpcStub.timestampOf(n), s"ts@$n")
      assert(r.getAs[Long]("gas_used") === RpcStub.gasUsedOf(n), s"gas@$n")
      assert(r.getAs[Long]("base_fee_wei") === RpcStub.baseFeeOf(n), s"fee@$n")
      assert(r.getAs[String]("miner") === RpcStub.minerOf(n), s"miner@$n")
      val txs = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("transactions")
      assert(txs.length === RpcStub.txCountOf(n), s"txs@$n")
      txs.zipWithIndex.foreach { case (t, i) =>
        assert(t.getAs[String]("hash") === RpcStub.txHashOf(n, i))
        assert(t.getAs[String]("value") === "0x" + RpcStub.txValueOf(n, i).toString(16))
        assert(t.getAs[String]("input") === RpcStub.txInputOf(n, i))
      }
      val wds = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("withdrawals")
      assert(wds.length === RpcStub.wdCountOf(n), s"wds@$n")
      wds.zipWithIndex.foreach { case (w, k) =>
        assert(w.getAs[String]("address") === RpcStub.wdAddressOf(n, k))
        assert(w.getAs[String]("amount") === RpcStub.wdAmountOf(n, k).toString)
        assert(w.getAs[Long]("index") === RpcStub.wdIndexOf(n, k))
        assert(w.getAs[Long]("validator_index") === RpcStub.wdValidatorOf(n, k))
      }
    }
  }

  test("transient rate limits: the backoff retry absorbs 503s that recover") {
    // without retries, first attempts at n%3==0 blocks fail → null bodies
    val raw = Rpc.fetchBodies(spark, RpcStub.transientEndpoint, 720L, 730L,
        "eth_getBlockByNumber", retries = 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert((720L to 730L).filter(_ % 3 == 0).forall(raw(_) == null), raw)
    assert((720L to 730L).filterNot(_ % 3 == 0).forall(raw(_) != null), raw)
    // with the default retry policy every block lands (fresh range so
    // the stub's per-block attempt counters start cold)
    val nums = Rpc.fetchBlocks(spark, RpcStub.transientEndpoint, 700L, 710L)
      .select("number").collect().map(_.getLong(0)).toSet
    assert(nums === (700L to 710L).toSet)
  }

  test("degraded node: corrupted and 500ing blocks drop out, the task survives") {
    // 700..720: n%7==0 → HTTP 500 (700,707,714), n%5==0 → truncated
    // JSON (705,710,715,720; 700 already 500s); the remaining 15 blocks
    // parse. No exception reaches the driver — the reference's
    // log-and-continue face (stream.rs:81-131), here as drop-and-count.
    val got = Rpc.fetchBlocks(spark, RpcStub.flakyEndpoint, 700L, 720L)
      .select("number").collect().map(_.getLong(0)).toSet
    val expected = (700L to 720L)
      .filterNot(n => n % 7 == 0 || n % 5 == 0).toSet
    assert(got === expected)
  }

  test("fetchTraces: stub never pre-propagates; Enrich fails descendants only") {
    def failedSet(block: Long) = {
      val traced = Rpc.fetchTraces(spark, RpcStub.endpoint, block, block)
      // no trace arrives with a propagated error string — only rule-errored
      assert(traced.collect().filter(_.getAs[String]("error") != null)
        .forall(_.getAs[String]("error") === "Reverted"))
      graft.etl.Enrich.propagateTraceErrors(traced).collect()
        .map(r => (r.getAs[String]("tx_hash"),
          r.getAs[scala.collection.Seq[Int]]("trace_address").mkString("_"),
          r.getAs[Boolean]("failed"))).toSet
    }
    // block 700, tx 7: root errored ((700+7)%7==0), subs=7%3=1 →
    // child [0] carries no error of its own but inherits the failure
    val s700 = failedSet(700L)
    val h1 = RpcStub.txHashOf(700L, 7)
    assert(RpcStub.rootErrored(700L, 7) && !RpcStub.childErrored(700L, 7, 0))
    assert(s700.contains((h1, "", true)) && s700.contains((h1, "0", true)), s700)
    // block 701, tx 2: root healthy, child [1] errored ((701+2+1)%11==0)
    // → grandchild [1,0] inherits; root and sibling [0] stay healthy
    val s701 = failedSet(701L)
    val h2 = RpcStub.txHashOf(701L, 2)
    assert(!RpcStub.rootErrored(701L, 2) && RpcStub.childErrored(701L, 2, 1))
    assert(s701.contains((h2, "", false)) && s701.contains((h2, "0", false))
      && s701.contains((h2, "1", true)) && s701.contains((h2, "1_0", true)), s701)
  }

  test("joined fetch returns each method's own fetchBodies bodies and failure counts") {
    val methods = Seq(Rpc.GetBlock, Rpc.TraceBlock, Rpc.GetLogs)
    def failed(m: String) = Rpc.failedCounter(spark, m).value.longValue
    // the transient face counts attempts per (method, block), so the
    // joined fetch goes first over a range no other case touches: its
    // retries must absorb the 503s on their own
    val faces = Seq(
      ("healthy", RpcStub.endpoint, 700L, 740L),
      ("flaky", RpcStub.flakyEndpoint, 700L, 740L),
      ("transient", RpcStub.transientEndpoint, 760L, 790L))
    for ((face, ep, from, to) <- faces) {
      val before = methods.map(failed)
      val joined = Rpc.fetchJoined(spark, ep, from, to, methods).collect()
      val joinedFailed = methods.map(failed).zip(before).map { case (a, b) => a - b }
      assert(joined.map(_.getLong(0)).sorted.toSeq === (from to to), face)
      methods.zip(joinedFailed).foreach { case (m, jf) =>
        val b0 = failed(m)
        val own = Rpc.fetchBodies(spark, ep, from, to, m).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        val mine = joined.map(r => r.getLong(0) -> r.getAs[String](m)).toMap
        assert(mine === own, s"$m bodies on $face")
        assert(jf === failed(m) - b0, s"$m failures on $face")
        // the faces behave as specified: flaky 500s every 7th block for
        // the block-keyed methods (eth_getLogs' filter params carry no
        // leading hex, so it passes), transient recovers within retries
        val expectFailed = face match {
          case "flaky" if m != Rpc.GetLogs => (from to to).count(_ % 7 == 0).toLong
          case _ => 0L
        }
        assert(jf === expectFailed, s"$m failures on $face")
        assert(mine.values.count(_ == null) === expectFailed, s"$m nulls on $face")
      }
    }
  }
}

package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.RpcStub

/** The composed `extract` program (main.rs:18-26) against the stub
  * node: every entity lands in the reference layout with the counts
  * the stub rules predict, plus the schema artifact. */
class ExtractSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("extract lands the full reference layout with rule-predicted counts") {
    val out = graft.Temps.dir("extract-spec")
    val counts = Extract.run(spark, RpcStub.endpoint, 700L, 710L, out,
      decompiler = Extract.standInDecompiler())

    // extract.rs:304-313's directory layout, directory for directory:
    // the reference's seven static dirs + three dynamic dirs, plus the
    // relational flattenings of its nested/uid edges (accounts,
    // withdrawals, the skeleton→abi edge table)
    val refStatic = Seq("skeletons", "events", "functions", "errors",
      "blocks", "deployments", "destructions")
    val relationalExtras = Seq("accounts", "withdrawals", "abi")
    val refDynamic = Seq("transactions", "transfers", "logs")
    for (d <- refStatic ++ relationalExtras)
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$out/static/$d")), s"missing static/$d")
    for (d <- refDynamic)
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$out/dynamic/$d")), s"missing dynamic/$d")

    val blocks = (700L to 710L)
    val txs = blocks.flatMap(n => (0 until RpcStub.txCountOf(n)).map(n -> _))
    assert(counts("blocks") === blocks.size)
    assert(counts("withdrawals") === blocks.map(RpcStub.wdCountOf(_).toLong).sum)
    assert(counts("transactions") === txs.size)
    assert(counts("deployments") === txs.count { case (_, i) => i % 4 == 1 })
    assert(counts("destructions") === txs.count { case (_, i) => i % 4 == 3 })
    assert(counts("transfers") === txs.count { case (_, i) => i % 2 == 0 })
    assert(counts("logs") === txs.size) // one log per tx, all arities
    assert(counts("skeletons") === 2) // the two golden bytecodes
    // the stand-in decompiler's two ABI variants, deduped by signature:
    // 8 functions (approve/balanceOf shared), 2 events, 2 errors
    assert(counts("functions") === 8)
    assert(counts("events") === 2)
    assert(counts("errors") === 2)
    assert(counts("abi") === 9 + 5) // per-skeleton edge rows, un-deduped
    // accounts: at least every distinct miner + every created contract
    assert(counts("accounts") >
      blocks.map(RpcStub.minerOf).distinct.size.toLong)

    // the Skeleton entity carries the full Schemas.skeleton column set
    val skels = spark.read.parquet(s"$out/static/skeletons")
    assert(skels.columns.toSet ===
      graft.domain.Schemas.skeleton.fields.map(_.name).toSet)
    assert(skels.where(org.apache.spark.sql.functions.col("failed_decompilation"))
      .count() === 0)

    // transactions land with the signature/fee parity columns and the
    // block-datetime stamp
    val txCols = spark.read.parquet(s"$out/dynamic/transactions").columns.toSet
    for (c <- Seq("nonce", "r", "s", "v", "max_fee_per_gas",
        "max_priority_fee_per_gas", "datetime"))
      assert(txCols.contains(c), s"transactions missing $c")

    // contract addresses carry is_contract=true through the dimension
    val contracts = spark.read.parquet(s"$out/static/accounts")
      .where(org.apache.spark.sql.functions.col("is_contract"))
      .collect().map(_.getString(0)).toSet
    val someCreated = RpcStub.createdAddressOf(701L, 1)
    assert(contracts.contains(someCreated))

    // the schema artifact landed next to the shards
    val schema = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/contracts.schema")))
    assert(schema.contains("accounts.address: string @index(hash) @upsert ."))

    // replayed writes stay idempotent: dynamic through per-block
    // replacement (K5), static through the natural-key upsert (K4, the
    // Dgraph-upsert invariant) — re-running the same range must not
    // duplicate ANY entity
    val counts2 = Extract.run(spark, RpcStub.endpoint, 700L, 710L, out,
      decompiler = Extract.standInDecompiler())
    assert(counts2 === counts)

    // and a LATER range extends the static tables without re-landing
    // what the first range already upserted (same skeletons → same
    // signature entities; only the new blocks/deployments arrive)
    val counts3 = Extract.run(spark, RpcStub.endpoint, 711L, 715L, out,
      decompiler = Extract.standInDecompiler())
    assert(counts3("functions") === counts("functions"))
    assert(counts3("abi") === counts("abi"))
    assert(counts3("skeletons") === counts("skeletons"))
    assert(counts3("blocks") === blocks.size + 5)
    val extraTxs = (711L to 715L).map(n =>
      (0 until RpcStub.txCountOf(n)).map(n -> _)).flatten
    assert(counts3("deployments") ===
      counts("deployments") + extraTxs.count { case (_, i) => i % 4 == 1 })
    // dynamic entities EXTEND too — the later range must not clobber the
    // first range's rows sharing its block bucket (per-block replacement,
    // not bare partition overwrite)
    assert(counts3("transactions") === counts("transactions") + extraTxs.size)
  }

  test("decompile retry across runs: failed skeletons upgrade, successes are not re-decompiled") {
    val out = graft.Temps.dir("extract-retry")
    // run 1 without a decompiler: skeletons land failed, no ABI tables
    val c1 = Extract.run(spark, RpcStub.endpoint, 700L, 710L, out)
    assert(c1("skeletons") === 2 && c1("functions") === 0 && c1("abi") === 0)
    // run 2 with the decompiler: the known-but-failed skeletons are
    // retried, their rows UPGRADE (merge prefers success) and the ABI +
    // signature entities land — the store is indistinguishable from a
    // single decompiler-enabled run, never the half state of failed
    // skeleton rows next to landed ABI rows
    val c2 = Extract.run(spark, RpcStub.endpoint, 700L, 710L, out,
      decompiler = Extract.standInDecompiler())
    assert(c2("skeletons") === 2)
    assert(c2("functions") === 8 && c2("events") === 2 && c2("errors") === 2)
    assert(c2("abi") === 14)
    val skels = spark.read.parquet(s"$out/static/skeletons")
    assert(skels.where(org.apache.spark.sql.functions.col("failed_decompilation"))
      .count() === 0, "failed rows were not upgraded by the retry")
    // run 3: everything known-successful — nothing changes (and nothing
    // is re-decompiled: the A4 gate now excludes known successes)
    val c3 = Extract.run(spark, RpcStub.endpoint, 700L, 710L, out,
      decompiler = Extract.standInDecompiler())
    assert(c3 === c2)
  }

  test("degraded endpoint: failed fetches are counted, their blocks skipped") {
    val out = graft.Temps.dir("extract-flaky")
    // the flaky face 500s every 7th block persistently (700, 707 in
    // range) and truncates every 5th block's JSON (a 200 whose body
    // from_json-nulls — the legitimate silent-drop face); each of the
    // three fetch methods loses the 500-blocks AFTER retries
    val counts = Extract.run(spark, RpcStub.flakyEndpoint, 700L, 710L, out)
    // 2 failed blocks × 2 methods: the flaky face keys on the first hex
    // param, which eth_getLogs' filter-object params don't carry — so
    // the log fetch passes through clean. >= not ==: the accumulator is
    // best-effort (a retried/speculative task that incremented before
    // dying double-counts), so the contract is "at least the real
    // failures surface", never an exact census
    assert(counts("fetch_failures") >= 4)
    // blocks 700, 707 (500s) and 705, 710 (truncated) dropped
    assert(counts("blocks") === 7)
    // a clean run reports zero failures
    val clean = Extract.run(spark, RpcStub.endpoint, 700L, 702L,
      graft.Temps.dir("extract-clean"))
    assert(clean("fetch_failures") === 0)
  }

  test("include flags gate dynamic entities and their account legs (main.rs:76-84)") {
    val out = graft.Temps.dir("extract-flags")
    val counts = Extract.run(spark, RpcStub.endpoint, 700L, 705L, out,
      includeTx = false, includeTransfers = false, includeLogs = false)
    for (e <- Seq("transactions", "transfers", "logs")) {
      assert(!counts.contains(e), s"$e counted despite exclusion")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$out/dynamic/$e")), s"dynamic/$e written")
    }
    // skip-decompilation face: skeletons land flagged, ABI tables empty
    assert(counts("skeletons") === 2)
    assert(counts("functions") === 0)
    val skels = spark.read.parquet(s"$out/static/skeletons")
    assert(skels.where(org.apache.spark.sql.functions.col("failed_decompilation"))
      .count() === 2)
    // miners/deployments still feed accounts; a plain tx endpoint (not a
    // creator, i%4!=1) must NOT appear once the tx leg is excluded
    val accounts = spark.read.parquet(s"$out/static/accounts")
      .collect().map(_.getString(0)).toSet
    assert(accounts.contains(RpcStub.minerOf(700L)))
    assert(accounts.contains(RpcStub.txFromOf(700L, 1))) // creator of the i=1 create
    assert(!accounts.contains(RpcStub.txFromOf(700L, 2)), "tx leg leaked into accounts")
  }

  test("a failed decompile-family write fails the run after every chain settled, before the skeletons marker") {
    import java.nio.file.{Files, Paths}
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    def rows(root: String, table: String) =
      spark.read.parquet(s"$root/$table").collect().toSet
    val tables = Seq("blocks", "deployments", "destructions", "withdrawals",
      "accounts", "abi", "functions", "events", "errors", "skeletons")
      .map("static/" + _) ++
      Seq("transactions", "transfers", "logs").map("dynamic/" + _)
    val clean = graft.Temps.dir("extract-marker-clean")
    val cleanCounts = Extract.run(spark, RpcStub.endpoint, 700L, 710L, clean,
      decompiler = Extract.standInDecompiler())

    // a plain file where static/functions should be: that chain's
    // upsert fails, so the skeletons marker must never be written
    val out = graft.Temps.dir("extract-marker")
    val obstacle = Paths.get(s"$out/static/functions")
    Files.createDirectories(obstacle.getParent)
    Files.writeString(obstacle, "not a table")
    val before = persisted
    intercept[Exception] {
      Extract.run(spark, RpcStub.endpoint, 700L, 710L, out,
        decompiler = Extract.standInDecompiler())
    }
    assert(persisted -- before === Set.empty, "the failed run left persisted RDDs")
    assert(!Files.exists(Paths.get(s"$out/static/skeletons")),
      "the skeletons marker landed although functions failed")
    // the run threw only after its independent chains settled: each of
    // them has landed in full
    for (t <- Seq("static/blocks", "static/deployments", "static/destructions",
        "static/withdrawals", "static/accounts", "dynamic/transactions",
        "dynamic/transfers", "dynamic/logs"))
      assert(rows(out, t) === rows(clean, t), s"$t unsettled")

    // obstacle gone: the re-run completes the store to the clean state
    Files.delete(obstacle)
    val counts = Extract.run(spark, RpcStub.endpoint, 700L, 710L, out,
      decompiler = Extract.standInDecompiler())
    assert(persisted -- before === Set.empty, "the re-run left persisted RDDs")
    assert(counts === cleanCounts)
    for (t <- tables) assert(rows(out, t) === rows(clean, t), t)
  }

  test("returned counts equal a read-back count of every landed table: fresh root, re-run, extension") {
    val out = graft.Temps.dir("extract-counts")
    val dynamic = Set("transactions", "transfers", "logs")
    for ((from, to) <- Seq((700L, 710L), (700L, 710L), (711L, 715L))) {
      val counts = Extract.run(spark, RpcStub.endpoint, from, to, out,
        decompiler = Extract.standInDecompiler())
      assert(counts.keySet === Set("blocks", "deployments", "destructions",
        "skeletons", "functions", "events", "errors", "abi", "accounts",
        "withdrawals", "fetch_failures") ++ dynamic)
      for ((t, n) <- counts - "fetch_failures") {
        val dir = s"$out/${if (dynamic(t)) "dynamic" else "static"}/$t"
        assert(n === spark.read.parquet(dir).count(), s"$t after [$from, $to]")
      }
    }
  }

  test("a failed derivation fails the run once its independent chains landed, and a re-run converges") {
    import java.nio.file.{Files, Paths}
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    def rows(root: String, table: String) =
      spark.read.parquet(s"$root/$table").collect().toSet
    val tables = Seq("blocks", "deployments", "destructions", "withdrawals",
      "accounts", "abi", "functions", "events", "errors", "skeletons")
      .map("static/" + _) ++
      Seq("transactions", "transfers", "logs").map("dynamic/" + _)
    // a sanctuary holding the verified source of one created contract
    val sanctuary = graft.Temps.dir("extract-sanctuary")
    val verified = RpcStub.createdAddressOf(701L, 1)
    Files.writeString(Paths.get(sanctuary, s"${verified.stripPrefix("0x")}_Token.sol"),
      "pragma v 1;")
    def extract(root: String, sanctuaryRoot: String) =
      Extract.run(spark, RpcStub.endpoint, 700L, 710L, root,
        decompiler = Extract.standInDecompiler(),
        sanctuaryRoot = Some(sanctuaryRoot))
    val clean = graft.Temps.dir("extract-derive-clean")
    val cleanCounts = extract(clean, sanctuary)
    assert(spark.read.parquet(s"$clean/static/deployments")
      .where(org.apache.spark.sql.functions.col("verified_source"))
      .collect().map(_.getAs[String]("contract")).toSeq === Seq(verified))

    // a missing sanctuary root fails the deployments derivation, which
    // the deployments, accounts and decompile-family chains all need
    val out = graft.Temps.dir("extract-derive")
    val missing = s"$out-no-sanctuary"
    val before = persisted
    val thrown = intercept[org.apache.spark.sql.AnalysisException](extract(out, missing))
    assert(thrown.getMessage.contains("no-sanctuary"), thrown.getMessage)
    // the derivation ran once: every chain rethrew its one exception,
    // so no second copy of it rides along as suppressed
    assert(!thrown.getSuppressed.exists(_.isInstanceOf[org.apache.spark.sql.AnalysisException]),
      thrown.getSuppressed.toSeq)
    assert(persisted -- before === Set.empty, "the failed run left persisted RDDs")
    // the chains that do not need deployments landed in full first
    for (t <- Seq("static/blocks", "static/withdrawals", "static/destructions",
        "dynamic/transactions", "dynamic/transfers", "dynamic/logs"))
      assert(rows(out, t) === rows(clean, t), s"$t unsettled")
    for (t <- Seq("deployments", "accounts", "skeletons", "abi", "functions",
        "events", "errors"))
      assert(!Files.exists(Paths.get(s"$out/static/$t")), s"static/$t landed")

    // a valid root: the re-run completes the store to the clean state
    val counts = extract(out, sanctuary)
    assert(persisted -- before === Set.empty, "the re-run left persisted RDDs")
    assert(counts === cleanCounts)
    for (t <- tables) assert(rows(out, t) === rows(clean, t), t)
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Sig
import graft.sources.RpcStub

/** The composed `extract` program (extract.rs:84-313) under the oracle
  * gate: ONE memoized end-to-end run against the stub node — fetch,
  * decode, decompile (stand-in script), ABI signature entities,
  * compliancy, name()/sanctuary enrichment flags, datetime stamping —
  * then each query reads one landed entity table back and an oracle
  * states its expected contents from the stub's closed-form rules.
  *
  * Signature-hash literals in the oracles are computed ONCE driver-side
  * by [[graft.functions.Sig]] (DuckDB has no keccak); the keccak itself
  * is pinned independently by KeccakSpec's golden vectors — including
  * the reference's own `transfer(address,uint256)` →
  * `0xa9059cbb…` test (function.rs:96-122) — so the oracle states
  * digests the SQL engine never computes.
  */
object ExtractOps {

  /** Extract range (matches the RpcOps family). */
  private val From = 700L
  private val To = 750L

  /** Created contracts in range: v = n*61 + i for create txs (i%4==1). */
  private def createdValues: Seq[Long] =
    for {
      n <- From to To
      i <- 0 until RpcStub.txCountOf(n) if RpcStub.isCreate(i)
    } yield n * 61L + i

  /** Sanctuary tree for every third created contract:
    * contracts/mainnet/<2hex>/<addr40>_V<v%97>.sol — the q45 layout,
    * keyed on the create rule so the oracle can replay membership. */
  private def buildSanctuaryTree(): String = {
    val root = java.nio.file.Paths.get(graft.Temps.dirFor("extract-sanctuary"))
    createdValues.filter(_ % 3 == 0).foreach { v =>
      val addr = f"$v%040x"
      val shard = root.resolve("contracts").resolve("mainnet").resolve(addr.take(2))
      java.nio.file.Files.createDirectories(shard)
      java.nio.file.Files.writeString(
        shard.resolve(s"${addr}_V${v % 97}.sol"), s"pragma v $v;")
    }
    root.toString
  }

  /** One extract run per JVM; every query reads from its output. */
  private val memo = new java.util.concurrent.atomic.AtomicReference[String]()
  private[graft] def extractRoot(s: SparkSession): String = memo.synchronized {
    if (memo.get == null) {
      val out = graft.Temps.dirFor("extract-q")
      graft.etl.Extract.run(s, RpcStub.endpoint, From, To, out,
        decompiler = graft.etl.Extract.standInDecompiler(),
        nameEndpoint = Some(RpcStub.endpoint),
        sanctuaryRoot = Some(buildSanctuaryTree()))
      memo.set(out)
    }
    memo.get
  }

  // ---- the stand-in decompiler's expected entity rows (variant A =
  // even skeleton byte count = the bzzr0 golden; variant B = odd = the
  // ipfs golden), deduped by signature across both ----
  private def fnRow(name: String, ins: Seq[String], outs: Seq[String]): String =
    s"('function', '${Sig.signatureHash(name, ins)}', '${Sig.bytes4(name, ins)}', " +
      s"'$name', '${ins.mkString(",")}', '${outs.mkString(",")}')"
  private def evRow(name: String, ins: Seq[String]): String =
    s"('event', '${Sig.signatureHash(name, ins, "event")}', NULL, '$name', '${ins.mkString(",")}', NULL)"
  private def errRow(name: String, ins: Seq[String]): String =
    s"('error', '${Sig.signatureHash(name, ins, "error")}', NULL, '$name', '${ins.mkString(",")}', NULL)"

  private def entityRows: Seq[String] = Seq(
    fnRow("totalSupply", Nil, Seq("uint256")),
    fnRow("balanceOf", Seq("address"), Seq("uint256")),
    fnRow("transfer", Seq("address", "uint256"), Seq("bool")),
    fnRow("transferFrom", Seq("address", "address", "uint256"), Seq("bool")),
    fnRow("approve", Seq("address", "uint256"), Seq("bool")),
    fnRow("allowance", Seq("address", "address"), Seq("uint256")),
    fnRow("Unresolved_deadbeef", Nil, Nil),
    fnRow("ownerOf", Seq("uint256"), Seq("address")),
    evRow("Transfer", Seq("address", "address", "uint256")),
    evRow("Event_c0d559150c15862e872a031a8e11f466df4b16d14e736187f2e7fb162060f9d0", Nil),
    errRow("InsufficientBalance", Seq("address", "uint256")),
    errRow("Error_aabbccddaabbccddaabbccddaabbccddaabbccddaabbccddaabbccddaabbccdd", Nil))

  def defs: Map[String, Q] = Map(
    // extract.rs:200-253 ∘ function.rs/event.rs/error.rs: the landed
    // static/{functions,events,errors} tables — decompile → F15 ABI
    // parse → F5/F6 signature build with both unresolved-name
    // short-circuits → K3 dedup — read back and compared against
    // literally-stated rows.
    "q115_extract_entities" -> Q(
      (s, _) => {
        val root = extractRoot(s)
        val f = s.read.parquet(s"$root/static/functions")
          .withColumn("kind", lit("function"))
        val e = s.read.parquet(s"$root/static/events")
          .withColumn("kind", lit("event"))
          .withColumn("bytes4", lit(null).cast("string"))
          .withColumn("outputs", lit(null).cast("string"))
        val er = s.read.parquet(s"$root/static/errors")
          .withColumn("kind", lit("error"))
          .withColumn("bytes4", lit(null).cast("string"))
          .withColumn("outputs", lit(null).cast("string"))
        f.unionByName(e).unionByName(er)
          .select(col("kind"), col("signature"), col("bytes4"), col("name"),
            col("inputs"), col("outputs"))
      },
      Some(s"""SELECT * FROM (VALUES
              |${entityRows.mkString(",\n")}
              |) AS t(kind, signature, bytes4, name, inputs, outputs)""".stripMargin),
      "Extract's static ABI entity tables: decompile → signature build → dedup gate (extract.rs:200-253, function/event/error.rs)"),

    // skeleton.rs:38-157: the full Skeleton entity — normalized
    // skeleton bytecode, failed_decompilation from the subprocess
    // stage, ERC-20/721 compliancy membership counts from the
    // decompiled ABI.
    "q116_extract_skeletons" -> Q(
      (s, _) => s.read.parquet(s"${extractRoot(s)}/static/skeletons"),
      Some {
        import graft.domain.Golden._
        s"""SELECT * FROM (VALUES
           |  ('$SkelHashBzzr0', '$SkelHexBzzr0', false, 6, 3),
           |  ('$SkelHashIpfs', '$SkelHexIpfs', false, 2, 3)
           |) AS t(skeleton_hash, bytecode, failed_decompilation,
           |       erc20_compliancy, erc721_compliancy)""".stripMargin
      },
      "Extract's Skeleton entity: compliancy + failed_decompilation columns (skeleton.rs:38-157)"),

    // block.rs:26-30, 294, 320-322 through the landed static/blocks
    // table: datetime/difficulty/size at full Schemas.block parity.
    "q117_extract_blocks" -> Q(
      (s, _) => s.read.parquet(s"${extractRoot(s)}/static/blocks")
        .select(col("number"),
          graft.functions.Formats.rfc3339(col("datetime")).as("datetime"),
          col("difficulty"), col("size"), col("tx_count")),
      Some(s"""SELECT n AS number,
              |  strftime(make_timestamp((1438269973 + 12*n) * 1000000),
              |           '%Y-%m-%dT%H:%M:%S') || 'Z' AS datetime,
              |  CAST(CAST(n AS HUGEINT) * CAST('10000000000000000000' AS HUGEINT) + 7 AS VARCHAR) AS difficulty,
              |  (n*331) % 100000 + 500 AS size,
              |  n % 13 AS tx_count
              |FROM generate_series($From, $To) AS t(n)""".stripMargin),
      "Extract's Block entity: datetime + uint256 difficulty + size landed (block.rs:26-30, 294, 320-322)"),

    // The dynamic-entity datetime stamp: every landed transaction
    // carries its block's datetime (the reference routes it through the
    // Block edge; we land it at write time), plus the signature/fee
    // columns through the full pipeline.
    "q118_extract_tx_datetime" -> Q(
      (s, _) => s.read.parquet(s"${extractRoot(s)}/dynamic/transactions")
        .select(col("block_number"), col("hash"), col("nonce"), col("v"),
          col("max_fee_per_gas"),
          graft.functions.Formats.rfc3339(col("datetime")).as("datetime")),
      Some(s"""WITH tx AS (
              |  SELECT n, i FROM generate_series($From, $To) AS t(n),
              |       generate_series(0, 12) AS t2(i)
              |  WHERE i < n % 13)
              |SELECT n AS block_number,
              |  printf('0x%064x', n*100000 + i) AS hash,
              |  n*3 + i AS nonce,
              |  CAST(27 + (n+i) % 2 AS VARCHAR) AS v,
              |  CASE WHEN i % 2 = 1 THEN (n*151 + i*19) % 1000000000000 + 2 END AS max_fee_per_gas,
              |  strftime(make_timestamp((1438269973 + 12*n) * 1000000),
              |           '%Y-%m-%dT%H:%M:%S') || 'Z' AS datetime
              |FROM tx""".stripMargin),
      "dynamic transactions carry their block datetime + full column set through Extract"),

    // analysys/similarities.rs:431-471 end to end over the extract
    // layout: interface-Jaccard (name sets over the ABI edge table) AND
    // opcode-n-gram cosine over the skeleton bytecodes, landed as the
    // reference's N-Quad artifact with the per-kind predicate and both
    // directions. The oracle states every line literally: the interface
    // Jaccard is 2 shared names over 12 (the two stand-in ABI
    // variants), and the cosine literal is computed once driver-side by
    // the independent Evm.cosine scalar over the pinned golden
    // skeletons (the relational dot/norm path must agree digit for
    // digit at 4 decimals).
    "q123_analyse_similarities" -> Q(
      (s, _) => {
        val outFile = graft.Temps.dirFor("analyse-nq")
        // ngram length 3: the two 10/11-byte golden skeletons share a
        // trigram (their 5-gram sets are disjoint), so BOTH similarity
        // legs emit a pair and the artifact carries all four lines
        graft.analytics.Analyse.similarities(s, extractRoot(s), outFile,
          interfaceThreshold = 0.1, cosineSim = true, cosineThreshold = 0.1,
          ngramLength = 3)
        s.read.text(outFile).withColumnRenamed("value", "nquad")
      },
      Some {
        import graft.domain.Golden._
        import graft.functions.{Evm, Hex}
        val ifcSim = f"${2.0 / 12}%.4f"
        val cos = Evm.cosine(
          Evm.ngrams(Hex.decode(SkelHexBzzr0), 3),
          Evm.ngrams(Hex.decode(SkelHexIpfs), 3))
        def edge(pred: String, sim: String) = Seq(
          s"('<$SkelHashBzzr0> <Skeleton.$pred> <$SkelHashIpfs> (similarity=$sim) .')",
          s"('<$SkelHashIpfs> <Skeleton.$pred> <$SkelHashBzzr0> (similarity=$sim) .')")
        val rows = edge("similar_interface", ifcSim) ++
          (if (cos >= 0.1) edge("similar_code", f"$cos%.4f") else Nil)
        s"""SELECT * FROM (VALUES
           |${rows.mkString(",\n")}
           |) AS t(nquad)""".stripMargin
      },
      "analyse similarities end to end: interface + cosine N-Quads over the extract layout (similarities.rs:431-471)"),

    // compare_single end to end (similarities.rs:314-429): `analyse
    // similarities --address` resolves the address through the landed
    // Deployment entity to its skeleton, then one-vs-all against every
    // other skeleton with the target side broadcast. Block 701 tx 1 is
    // a create with (701+1)%2=0 → the bzzr0 golden → the target is
    // skeleton A and the single other skeleton B pairs with the same
    // literal similarities as q123.
    "q125_analyse_single" -> Q(
      (s, _) => {
        val outFile = graft.Temps.dirFor("analyse-single-nq")
        graft.analytics.Analyse.similarities(s, extractRoot(s), outFile,
          address = Some(RpcStub.createdAddressOf(701L, 1)),
          interfaceThreshold = 0.1, cosineSim = true, cosineThreshold = 0.1,
          ngramLength = 3)
        s.read.text(outFile).withColumnRenamed("value", "nquad")
      },
      Some {
        import graft.domain.Golden._
        import graft.functions.{Evm, Hex}
        val ifcSim = f"${2.0 / 12}%.4f"
        val cos = Evm.cosine(
          Evm.ngrams(Hex.decode(SkelHexBzzr0), 3),
          Evm.ngrams(Hex.decode(SkelHexIpfs), 3))
        def edge(pred: String, sim: String) = Seq(
          s"('<$SkelHashBzzr0> <Skeleton.$pred> <$SkelHashIpfs> (similarity=$sim) .')",
          s"('<$SkelHashIpfs> <Skeleton.$pred> <$SkelHashBzzr0> (similarity=$sim) .')")
        val rows = edge("similar_interface", ifcSim) ++
          (if (cos >= 0.1) edge("similar_code", f"$cos%.4f") else Nil)
        s"""SELECT * FROM (VALUES
           |${rows.mkString(",\n")}
           |) AS t(nquad)""".stripMargin
      },
      "compare_single: address → deployment → skeleton one-vs-all over the extract layout (similarities.rs:314-429)"),

    // analysys/lifetimes.rs:296-300 end to end: ContractLife rows +
    // the res.txt report landed from the extract layout; the read-back
    // aggregates (RQ1 + RQ4) against the closed-form deploy/destroy
    // rules.
    "q124_analyse_lifetimes" -> Q(
      (s, _) => {
        val out = graft.Temps.dirFor("analyse-lt")
        graft.analytics.Analyse.lifetimes(s, extractRoot(s), out)
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$out/res.txt")), "res.txt not written")
        // RQ1 + RQ4 as ONE aggregation over the landed lives (the
        // rq1Destroyed/rq4LifetimeStats operators themselves are
        // oracle-covered by q09/q47/q111; here the subject is the
        // artifact, and a single agg avoids a 1-row×1-row join that
        // Spark plans as a nested loop)
        val lives = s.read.parquet(s"$out/lifetimes")
        val life = when(
          col("n_deploys") > 0 && col("n_destructions") > 0 &&
            (col("last_destr_block") - col("first_deploy_block")) >= 0,
          col("last_destr_block") - col("first_deploy_block"))
        lives.agg(
          sum(when(col("n_destructions") > 0, 1L).otherwise(0L)).as("n_destroyed"),
          count(lit(1)).as("n_total"),
          round(avg(life), 6).as("avg_life_blocks"),
          round(stddev_pop(life), 6).as("stddev_life_blocks"),
          round(avg(life * 12), 6).as("avg_life_seconds"),
          count(life).as("n_contracts"))
      },
      Some(s"""WITH tx AS (
              |  SELECT n, i FROM generate_series($From, $To) AS t(n),
              |       generate_series(0, 12) AS t2(i)
              |  WHERE i < n % 13),
              |dep AS (SELECT printf('0x%040x', n*61 + i) AS contract, n FROM tx WHERE i % 4 = 1),
              |des AS (SELECT printf('0x%040x', (n - (i%5 + 1))*61 + i - 2) AS contract, n FROM tx WHERE i % 4 = 3),
              |d1 AS (SELECT contract, count(*) AS nd, min(n) AS dep_n FROM dep GROUP BY 1),
              |d2 AS (SELECT contract, count(*) AS ns, max(n) AS des_n FROM des GROUP BY 1),
              |lives AS (SELECT coalesce(nd, 0) AS n_deploys, coalesce(ns, 0) AS n_destructions,
              |                 dep_n, des_n
              |          FROM d1 FULL JOIN d2 USING (contract)),
              |rq1 AS (SELECT CAST(sum(CASE WHEN n_destructions > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_destroyed,
              |               CAST(count(*) AS BIGINT) AS n_total FROM lives),
              |l AS (SELECT des_n - dep_n AS life FROM lives
              |      WHERE n_deploys > 0 AND n_destructions > 0 AND des_n - dep_n >= 0),
              |rq4 AS (SELECT round(avg(life), 6) AS avg_life_blocks,
              |               round(stddev_pop(life), 6) AS stddev_life_blocks,
              |               round(avg(life) * 12, 6) AS avg_life_seconds,
              |               CAST(count(*) AS BIGINT) AS n_contracts FROM l)
              |SELECT n_destroyed, n_total, avg_life_blocks, stddev_life_blocks,
              |       avg_life_seconds, n_contracts
              |FROM rq1, rq4""".stripMargin),
      "analyse lifetimes end to end: ContractLife parquet + res.txt report over the extract layout (lifetimes.rs:296-300)"),

    // extract.rs:163-168 behind the CLI flags: name() eth_call
    // resolution and sanctuary verified-source lookup, landed on the
    // Deployment entity.
    "q119_extract_enrich" -> Q(
      (s, _) => s.read.parquet(s"${extractRoot(s)}/static/deployments")
        .select(col("contract"), col("block_number"), col("name"),
          col("verified_source")),
      Some(s"""WITH tx AS (
              |  SELECT n, i FROM generate_series($From, $To) AS t(n),
              |       generate_series(0, 12) AS t2(i)
              |  WHERE i < n % 13),
              |cr AS (SELECT n, i, n*61 + i AS v FROM tx WHERE i % 4 = 1)
              |SELECT printf('0x%040x', v) AS contract,
              |  n AS block_number,
              |  CASE WHEN v % 16 NOT IN (0, 3, 6, 9)
              |       THEN 'C' || right(printf('%040x', v), 4) END AS name,
              |  (v % 3 = 0) AS verified_source
              |FROM cr""".stripMargin),
      "Extract's name() + sanctuary enrichment flags on the Deployment entity (extract.rs:163-168)"),

    // stream.rs:230 → skeleton.rs:162-297: the LIVE skeleton upsert
    // carries the decompiled ABI into the store. A live follow over gap
    // blocks with unseen skeletons must leave the same
    // static/{functions,events,errors} signature tables an extract
    // would — the q115 rows, landed by the stream path: decompile per
    // NEW skeleton, signature build, natural-key upsert (the live face
    // of K3's dedup gate).
    "q129_stream_abi_entities" -> Q(
      (s, _) => {
        import graft.streaming.{Incremental, Stream}
        val head0 = RpcStub.head
        require(head0 == RpcStub.Head,
          s"stub head $head0 != ${RpcStub.Head}: leftover setHead state")
        val outRoot = graft.Temps.dirFor("streamabi-out")
        val decompiler = graft.etl.Extract.standInDecompiler()
        val derive: Seq[(String, Incremental.Gap => DataFrame)] = Seq(
          "blocks" -> (g => g.blocks.select(col("block_number"), col("ts"))),
          "deployments" -> (g => graft.etl.Decode.deployments(g.traces)))
        val q = Incremental.followHeadEntities(
          s, RpcStub.endpoint, outRoot, graft.Temps.dirFor("streamabi-ckpt"),
          startBlock = 740L, derive,
          onGap = g => Stream.upsertSkeletons(outRoot,
            graft.etl.Decode.deployments(g.traces), decompiler))
        try {
          val deadline = System.nanoTime() + 180L * 1000000000L
          // the synced-head marker advances only after the tick's
          // skeleton+ABI upsert committed — marker at head IS the
          // "stream store complete" signal
          def synced = Incremental.syncedHead(s, outRoot)
          while (q.exception.isEmpty && synced != Some(head0) &&
              System.nanoTime() < deadline)
            Thread.sleep(100)
          q.exception.foreach(throw _)
          if (synced != Some(head0)) throw new IllegalStateException(
            s"stream did not sync to head $head0")
        } finally q.stop()
        val f = s.read.parquet(s"$outRoot/static/functions")
          .withColumn("kind", lit("function"))
        val e = s.read.parquet(s"$outRoot/static/events")
          .withColumn("kind", lit("event"))
          .withColumn("bytes4", lit(null).cast("string"))
          .withColumn("outputs", lit(null).cast("string"))
        val er = s.read.parquet(s"$outRoot/static/errors")
          .withColumn("kind", lit("error"))
          .withColumn("bytes4", lit(null).cast("string"))
          .withColumn("outputs", lit(null).cast("string"))
        f.unionByName(e).unionByName(er)
          .select(col("kind"), col("signature"), col("bytes4"), col("name"),
            col("inputs"), col("outputs"))
      },
      Some(s"""SELECT * FROM (VALUES
              |${entityRows.mkString(",\n")}
              |) AS t(kind, signature, bytes4, name, inputs, outputs)""".stripMargin),
      "live-stream ABI entities: the skeleton upsert lands functions/events/errors for newly seen skeletons (stream.rs:230, skeleton.rs:162-297)"),

    // contract_deployment.rs:319-327: the verified source TEXT itself
    // rides the Deployment entity when the sanctuary has it — the
    // oracle states the file contents the tree builder wrote for the
    // v%3==0 contracts and null everywhere else.
    "q130_extract_source_code" -> Q(
      (s, _) => s.read.parquet(s"${extractRoot(s)}/static/deployments")
        .select(col("contract"), col("block_number"),
          col("verified_source"), col("verified_source_code")),
      Some(s"""WITH tx AS (
              |  SELECT n, i FROM generate_series($From, $To) AS t(n),
              |       generate_series(0, 12) AS t2(i)
              |  WHERE i < n % 13),
              |cr AS (SELECT n, i, n*61 + i AS v FROM tx WHERE i % 4 = 1)
              |SELECT printf('0x%040x', v) AS contract,
              |  n AS block_number,
              |  (v % 3 = 0) AS verified_source,
              |  CASE WHEN v % 3 = 0 THEN 'pragma v ' || v || ';' END
              |    AS verified_source_code
              |FROM cr""".stripMargin),
      "the verified source text lands on the Deployment entity (contract_deployment.rs:319-327)"))
}

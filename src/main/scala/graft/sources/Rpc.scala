package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** U2/J9: the per-contract `name()` eth_call enrichment
  * (contract_deployment.rs:118-156) as a `mapPartitions` JSON-RPC
  * stage — the same out-of-Catalyst pattern as [[graft.etl.Decompile]]:
  * side-effecting I/O lives behind an explicit per-partition client
  * with connection reuse (one keep-alive HttpClient per partition, NOT
  * one per row), and the result joins back to deployments as a plain
  * lookup table ([[Sanctuary.enrichNames]]).
  *
  * At scale: dedupe to DISTINCT addresses before the RPC fan-out,
  * partition count bounds concurrent connections, and a failed or
  * error-returning call degrades to `resolved=false` instead of
  * failing the task (the reference returns `false` likewise).
  */
object Rpc {

  final case class NameRow(contract: String, name: String, resolved: Boolean)

  /** keccak("name()") selector — the reference's ABI method id. */
  val NameSelector = "0x06fdde03"

  /** JVM-singleton HTTP client (thread-safe; JDK 17 HttpClient has no
    * close(), so per-call instances would leak selector threads). */
  lazy val sharedClient: HttpClient = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10))
    .build()

  /** Decode an ABI-encoded `string` return value (0x + offset word +
    * length word + UTF-8 data padded to 32 bytes). None on anything
    * malformed. */
  def decodeAbiString(resultHex: String): Option[String] = {
    try {
      val h = if (resultHex.startsWith("0x")) resultHex.substring(2) else resultHex
      if (h.length < 128) return None
      val offset = java.lang.Long.parseLong(h.substring(0, 64), 16).toInt * 2
      val len = java.lang.Long.parseLong(h.substring(offset, offset + 64), 16).toInt * 2
      val data = h.substring(offset + 64, offset + 64 + len)
      Some(new String(graft.functions.Hex.decode(data), java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Exception => None }
  }

  private val ResultRe = """"result"\s*:\s*"(0x[0-9a-fA-F]*)"""".r

  /** Resolve `name()` for every DISTINCT contract address in
    * `deployments` against a JSON-RPC endpoint. Returns
    * (contract, name, resolved). */
  def resolveNames(deployments: DataFrame, endpoint: String,
      timeoutMs: Long = 10000L): DataFrame = {
    val spark = deployments.sparkSession
    import spark.implicits._
    deployments.select(col("contract")).dropDuplicates("contract")
      .as[String]
      .mapPartitions { rows =>
        // one client per JVM (HttpClient is thread-safe and has no
        // close() on JDK 17 — per-partition instances would leak their
        // selector threads): HTTP/1.1 keep-alive reuses sockets across
        // all of the executor's calls. Per-request timeouts so one
        // hung node degrades that call to resolved=false instead of
        // stalling the task forever.
        val client = Rpc.sharedClient
        val uri = URI.create(endpoint)
        rows.map { addr =>
          val payload =
            s"""{"jsonrpc":"2.0","id":1,"method":"eth_call","params":[{"to":"$addr","data":"$NameSelector"},"latest"]}"""
          try {
            val req = HttpRequest.newBuilder(uri)
              .header("Content-Type", "application/json")
              .timeout(java.time.Duration.ofMillis(timeoutMs))
              .POST(HttpRequest.BodyPublishers.ofString(payload))
              .build()
            val body = client.send(req, HttpResponse.BodyHandlers.ofString()).body()
            ResultRe.findFirstMatchIn(body)
              .flatMap(m => decodeAbiString(m.group(1))) match {
              case Some(n) => NameRow(addr, n, resolved = true)
              case None    => NameRow(addr, null, resolved = false)
            }
          } catch { case _: Exception => NameRow(addr, null, resolved = false) }
        }
      }
      .toDF()
  }

  // --------------------------------------------------------------------
  // S1/S2/S7 fetch faces (blocks.rs:6-18 get_block_with_txs,
  // traces.rs:36-50 trace_block, stream.rs:275-336 sync_to_live). The
  // mapPartitions stage ([[fetchJoined]]) does ONLY the HTTP hop —
  // every requested method per block, concurrently — and returns raw
  // JSON bodies; everything after — envelope parse, hex-quantity
  // decode, transaction-array explode ([[parseBlocks]], [[parseTraces]],
  // [[parseLogs]]) — is declarative (`from_json` + `conv`), so it stays
  // inside whole-stage codegen and Catalyst can prune it.
  // --------------------------------------------------------------------

  /** One driver-side JSON-RPC POST (the reference's head query and
    * single-value calls, stream.rs:286-300). */
  def post(endpoint: String, method: String, params: String,
      timeoutMs: Long = 10000L): String = {
    val payload =
      s"""{"jsonrpc":"2.0","id":1,"method":"$method","params":$params}"""
    val req = HttpRequest.newBuilder(URI.create(endpoint))
      .header("Content-Type", "application/json")
      .timeout(java.time.Duration.ofMillis(timeoutMs))
      .POST(HttpRequest.BodyPublishers.ofString(payload))
      .build()
    sharedClient.send(req, HttpResponse.BodyHandlers.ofString()).body()
  }

  private val HexResultRe = """"result"\s*:\s*"0x([0-9a-fA-F]+)"""".r

  /** `eth_blockNumber` — the live chain head (stream.rs:286-300). */
  def blockNumber(endpoint: String): Long =
    HexResultRe.findFirstMatchIn(post(endpoint, "eth_blockNumber", "[]"))
      .map(m => java.lang.Long.parseLong(m.group(1), 16))
      .getOrElse(throw new IllegalStateException("eth_blockNumber gave no result"))

  /** Per-(session, method) failure counter shared by every fetch of
    * that method, so callers (Extract's fetch_failures report) can
    * distinguish head-termination (zero) from persistent client errors
    * (nonzero). Snapshot-and-subtract to scope to one fetch. */
  private val failedCounters =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.util.LongAccumulator]()
  def failedCounter(spark: SparkSession, method: String): org.apache.spark.util.LongAccumulator =
    failedCounters.computeIfAbsent(
      spark.sparkContext.applicationId + ":" + method,
      _ => spark.sparkContext.longAccumulator(s"graft.rpc.failed($method)"))

  /** The three per-block fetch methods (blocks.rs:6-18, traces.rs:36-50,
    * logs.rs:30-60). */
  val GetBlock = "eth_getBlockByNumber"
  val TraceBlock = "trace_block"
  val GetLogs = "eth_getLogs"

  /** Fetch every method in `methods` for each block number over
    * `[from, to]` — the reference's per-block `get_block ∥ get_traces ∥
    * get_logs` (`tokio::join!` under one semaphore permit,
    * extract.rs:104-141). One row per block: `number`, then one raw JSON
    * body column per method, named after the method.
    *
    * `slots` bounds the partitions exactly like the reference's
    * `Semaphore::new(num_jobs)` (stream.rs:303): one partition = one
    * block at a time, whose calls go out CONCURRENTLY on the shared
    * keep-alive client (`sendAsync`, so at most `slots × methods`
    * requests are in flight). The calls are latency-bound, so
    * overlapping them divides a block's fetch time by about the number
    * of methods.
    *
    * Every call keeps its own retry: non-2xx responses and transport
    * errors are retried with doubling backoff — the reference's bounded
    * retry policy (extract.rs:406-413: rate-limit/timeout retries,
    * 500 ms initial backoff; defaults here are scaled down for the local
    * stub). A block's still-failing calls are re-sent together after
    * each backoff, so every call sees the same attempt count and
    * delays as it would alone. Only 2xx counts as success: a 404/400
    * from a misconfigured endpoint must NOT parse as a body (its
    * non-JSON payload would from_json to null and silently mimic the
    * past-the-head marker). A call still failing after `retries` yields
    * a null body — the parsers' drop-null is the reference's
    * log-and-skip face — and bumps its method's [[failedCounter]]. */
  def fetchJoined(spark: SparkSession, endpoint: String, from: Long, to: Long,
      methods: Seq[String], slots: Int = 8, timeoutMs: Long = 10000L,
      retries: Int = 3, backoffMs: Long = 50L): DataFrame = {
    import spark.implicits._
    require(to >= from, s"empty block range [$from, $to]")
    require(methods.nonEmpty, "no fetch method")
    val failed = methods.map(failedCounter(spark, _))
    spark.range(from, to + 1, 1, math.min(slots.toLong, to - from + 1).toInt)
      .as[Long]
      .mapPartitions { nums =>
        val client = Rpc.sharedClient
        val uri = URI.create(endpoint)
        nums.map { n =>
          val hexN = "0x" + java.lang.Long.toHexString(n)
          val reqs = methods.map { method =>
            val params = method match {
              case GetBlock => s"""["$hexN",true]"""
              // per-block filter — the reference fetches logs one block
              // at a time (logs.rs:30-60)
              case GetLogs => s"""[{"fromBlock":"$hexN","toBlock":"$hexN"}]"""
              case _ => s"""["$hexN"]"""
            }
            HttpRequest.newBuilder(uri)
              .header("Content-Type", "application/json")
              .timeout(java.time.Duration.ofMillis(timeoutMs))
              .POST(HttpRequest.BodyPublishers.ofString(
                s"""{"jsonrpc":"2.0","id":1,"method":"$method","params":$params}"""))
              .build()
          }
          val bodies = Array.fill[String](methods.size)(null)
          var pending: Seq[Int] = methods.indices
          var attempt = 0
          while (pending.nonEmpty && attempt <= retries) {
            val inFlight = pending.map(i =>
              i -> client.sendAsync(reqs(i), HttpResponse.BodyHandlers.ofString()))
            pending = inFlight.filterNot { case (i, call) =>
              try {
                val resp = call.join()
                val ok = resp.statusCode() / 100 == 2
                if (ok) bodies(i) = resp.body()
                ok
              } catch { case _: Exception => false }
            }.map(_._1)
            if (pending.nonEmpty) {
              attempt += 1
              if (attempt <= retries)
                Thread.sleep(backoffMs << math.min(attempt - 1, 6))
            }
          }
          // BEST-EFFORT counter: accumulator updates inside mapPartitions
          // are not exactly-once (a task retried or speculatively
          // re-executed after incrementing double-counts), so consumers
          // must treat a nonzero value as "at least this many" — exact
          // failure accounting would count the null-body rows in the
          // materialized frame instead
          pending.foreach(i => failed(i).add(1L))
          (n, bodies.toSeq)
        }
      }
      .select(col("_1").as("number") +:
        methods.indices.map(i => col("_2").getItem(i).as(methods(i))): _*)
  }

  /** One method's bodies, `(number, body)`, over `[from, to]`: the
    * single-method [[fetchJoined]], with the same retry and failure
    * accounting. */
  def fetchBodies(spark: SparkSession, endpoint: String, from: Long, to: Long,
      method: String, slots: Int = 8, timeoutMs: Long = 10000L,
      retries: Int = 3, backoffMs: Long = 50L): DataFrame =
    bodiesOf(fetchJoined(spark, endpoint, from, to, Seq(method), slots,
      timeoutMs, retries, backoffMs), method)

  /** One method's `(number, body)` face of a [[fetchJoined]] frame —
    * the input shape of [[parseBlocks]], [[parseTraces]] and
    * [[parseLogs]]. */
  def bodiesOf(joined: DataFrame, method: String): DataFrame =
    joined.select(col("number"), col(method).as("body"))

  /** Hex quantity "0x1b4" → long. */
  private def hexLong(c: Column): Column =
    conv(regexp_replace(c, "^0x", ""), 16, 10).cast(LongType)

  private val txSchema = StructType(Seq(
    StructField("hash", StringType), StructField("from", StringType),
    StructField("to", StringType), StructField("value", StringType),
    StructField("gas", StringType), StructField("gasPrice", StringType),
    StructField("input", StringType),
    // signature + EIP-1559 members (transaction.rs:394-409); legacy txs
    // omit the fee caps, so from_json decodes them to null
    StructField("nonce", StringType), StructField("r", StringType),
    StructField("s", StringType), StructField("v", StringType),
    StructField("maxFeePerGas", StringType),
    StructField("maxPriorityFeePerGas", StringType)))

  /** Hex quantity column → long, for consumers of the raw tx array. */
  def hexQtyToLong(c: Column): Column = hexLong(c)

  private val wdSchema = StructType(Seq(
    StructField("index", StringType), StructField("validatorIndex", StringType),
    StructField("address", StringType), StructField("amount", StringType)))

  private val blockEnvelope = StructType(Seq(StructField("result", StructType(Seq(
    StructField("number", StringType), StructField("timestamp", StringType),
    StructField("gasUsed", StringType), StructField("gasLimit", StringType),
    StructField("baseFeePerGas", StringType), StructField("miner", StringType),
    StructField("difficulty", StringType), StructField("size", StringType),
    StructField("transactions", ArrayType(txSchema)),
    StructField("withdrawals", ArrayType(wdSchema)))))))

  private val traceEnvelope = StructType(Seq(StructField("result", ArrayType(
    StructType(Seq(
      StructField("action", StructType(Seq(
        StructField("from", StringType), StructField("to", StringType),
        StructField("init", StringType), StructField("address", StringType),
        StructField("refundAddress", StringType),
        StructField("balance", StringType)))),
      StructField("result", StructType(Seq(
        StructField("address", StringType), StructField("code", StringType)))),
      StructField("error", StringType),
      StructField("traceAddress", ArrayType(IntegerType)),
      StructField("subtraces", IntegerType),
      StructField("transactionHash", StringType),
      StructField("transactionPosition", IntegerType),
      StructField("type", StringType)))))))

  /** S1: `eth_getBlockByNumber(n, true)` over a block range → one typed
    * row per AVAILABLE block (a null `result` — past the head, or a
    * failed call — drops out, the reference's "block not available yet"
    * marker, stream.rs:316-321). Keeps the full transaction array
    * (blocks.rs:6-18 fetches blocks WITH transactions). */
  def fetchBlocks(spark: SparkSession, endpoint: String, from: Long, to: Long,
      slots: Int = 8): DataFrame =
    parseBlocks(fetchBodies(spark, endpoint, from, to, GetBlock, slots))

  /** [[fetchBlocks]]' parse over fetched `(number, body)` rows. */
  def parseBlocks(bodies: DataFrame): DataFrame =
    bodies
      .select(from_json(col("body"), blockEnvelope).getField("result").as("r"))
      .where(col("r").isNotNull)
      .select(
        hexLong(col("r.number")).as("number"),
        hexLong(col("r.timestamp")).as("ts"),
        hexLong(col("r.gasUsed")).as("gas_used"),
        hexLong(col("r.gasLimit")).as("gas_limit"),
        hexLong(col("r.baseFeePerGas")).as("base_fee_wei"),
        col("r.miner").as("miner"),
        // difficulty is a uint256 — it rides as a decimal STRING
        // (block.rs:294); size fits a long (block.rs:320-322)
        graft.functions.EvmExprs.hexToDec(col("r.difficulty")).as("difficulty"),
        hexLong(col("r.size")).as("size"),
        col("r.transactions").as("transactions"),
        // reference Withdrawal shape (Schemas.withdrawal): amounts
        // become uint256-decimal STRINGS (block.rs:333), indexes longs
        transform(col("r.withdrawals"), w => struct(
          w.getField("address").as("address"),
          conv(regexp_replace(w.getField("amount"), "^0x", ""), 16, 10)
            .as("amount"),
          hexLong(w.getField("index")).as("index"),
          hexLong(w.getField("validatorIndex")).as("validator_index")))
          .as("withdrawals"))

  /** S2: `trace_block(n)` over a block range → one row per trace with
    * the raw (UNPROPAGATED) error column — error propagation is
    * [[graft.etl.Enrich.propagateTraceErrors]]'s job, exactly as the
    * reference propagates after the fetch (traces.rs:36-50). */
  def fetchTraces(spark: SparkSession, endpoint: String, from: Long, to: Long,
      slots: Int = 8): DataFrame =
    parseTraces(fetchBodies(spark, endpoint, from, to, TraceBlock, slots))

  /** [[fetchTraces]]' parse over fetched `(number, body)` rows. */
  def parseTraces(bodies: DataFrame): DataFrame =
    bodies
      .select(col("number").as("block_number"),
        explode(from_json(col("body"), traceEnvelope).getField("result")).as("t"))
      .select(
        col("block_number"),
        col("t.transactionHash").as("tx_hash"),
        col("t.traceAddress").as("trace_address"),
        col("t.subtraces").as("subtraces"),
        col("t.type").as("trace_type"),
        col("t.error").as("error"),
        col("t.action.from").as("from_address"),
        col("t.action.to").as("to_address"),
        col("t.action.init").as("init"),
        col("t.result.address").as("created_address"),
        col("t.result.code").as("created_code"),
        col("t.action.address").as("destroyed_address"),
        col("t.action.refundAddress").as("refund_address"),
        col("t.action.balance").as("balance"))

  private val logEnvelope = StructType(Seq(StructField("result", ArrayType(
    StructType(Seq(
      StructField("address", StringType),
      StructField("topics", ArrayType(StringType)),
      StructField("data", StringType),
      StructField("blockNumber", StringType),
      StructField("transactionHash", StringType),
      StructField("transactionIndex", StringType),
      StructField("logIndex", StringType),
      StructField("removed", BooleanType)))))))

  /** S4: per-block `eth_getLogs` over a block range → rows in the
    * [[graft.domain.Schemas.log]] shape (topics array flattened into 4
    * nullable columns, log.rs:157-175). */
  def fetchLogs(spark: SparkSession, endpoint: String, from: Long, to: Long,
      slots: Int = 8): DataFrame =
    parseLogs(fetchBodies(spark, endpoint, from, to, GetLogs, slots))

  /** [[fetchLogs]]' parse over fetched `(number, body)` rows. */
  def parseLogs(bodies: DataFrame): DataFrame =
    bodies
      .select(col("number").as("block_number"),
        explode(from_json(col("body"), logEnvelope).getField("result")).as("l"))
      .select(
        col("block_number"),
        col("l.transactionHash").as("tx_hash"),
        hexLong(col("l.transactionIndex")).as("tx_index"),
        hexLong(col("l.logIndex")).as("log_index"),
        col("l.address").as("address"),
        // get() is null-safe past the end — topics carry 1..4 entries
        // (element_at would throw under ANSI on short arrays)
        get(col("l.topics"), lit(0)).as("topic_0"),
        get(col("l.topics"), lit(1)).as("topic_1"),
        get(col("l.topics"), lit(2)).as("topic_2"),
        get(col("l.topics"), lit(3)).as("topic_3"),
        col("l.data").as("data"),
        col("l.removed").as("removed"))

  /** Fetched traces → the [[graft.domain.Schemas.trace]] entity shape
    * (0x prefixes stripped from bytecode — the decode stack consumes
    * bare hex), ready for [[graft.etl.Decode.deployments]] and the
    * rest of the extract leg. */
  def traceEntities(fetched: DataFrame): DataFrame =
    fetched.select(
      col("block_number"),
      col("tx_hash"),
      col("trace_address"),
      col("trace_type").as("type"),
      col("error"),
      col("from_address").as("from"),
      regexp_replace(col("init"), "^0x", "").as("init"),
      coalesce(col("created_address"), col("destroyed_address")).as("address"),
      regexp_replace(col("created_code"), "^0x", "").as("code"),
      regexp_replace(col("balance"), "^0x", "").as("balance"),
      col("refund_address"))

  /** S7: the catch-up scan (stream.rs:275-336 `sync_to_live`): ask the
    * node for its head, then fetch `lastIndexed+1 .. head` in parallel
    * bounded by `slots`. Returns the typed block frame for the gap —
    * the caller unions it with the already-indexed data (K4/K5 replace
    * semantics live in [[graft.streaming.Incremental]]). */
  def syncToLive(spark: SparkSession, endpoint: String, lastIndexed: Long,
      slots: Int = 8): DataFrame = {
    val head = blockNumber(endpoint)
    require(head > lastIndexed, s"already at head $head (indexed $lastIndexed)")
    fetchBlocks(spark, endpoint, lastIndexed + 1, head, slots)
  }
}

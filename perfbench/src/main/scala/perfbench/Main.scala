package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark run: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --checkout <dir> --results <file> [--spans <file>]`.
  *
  * Prints, as the last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`: the end-to-end metrics when
  * `--trace 0`, the per-layer metrics when `--trace 1` (a job listener
  * is registered only then). The full record, spans included, goes to
  * the results file. Exit code 1 when any check failed. */
object Main {

  /** Writes the benchmark's JSON records and reads its pins. */
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Per-layer figures beyond the listener's per-layer set. */
  val LayerExtras: Seq[String] = Seq("persisted_rdds_left", "sources.rpc_failed",
    "sinks.write_amp", "etl.extract_s", "analytics.analyse_s",
    "curate.text_ingest_s", "curate.vector_ingest_s") ++
    Workloads.ServeCalls.map(c => s"serve.${c._1}_s")

  def main(args: Array[String]): Unit = {
    def arg(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    def need(name: String) = arg(name).getOrElse(sys.error(s"missing $name"))
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toInt
    val trace = need("--trace") == "1"
    val checkout = Paths.get(need("--checkout"))
    val results = Paths.get(need("--results"))
    val run = Workloads.All.getOrElse(workload,
      sys.error(s"unknown workload $workload (known: ${Workloads.All.keys.toSeq.sorted.mkString(", ")})"))

    val cpus = Runtime.getRuntime.availableProcessors()
    val s0 = System.nanoTime()
    val spark = graft.Sessions.local(cpus)
    val sessionSecs = (System.nanoTime() - s0) / 1e9
    val ctx = new Ctx(spark, seed, seconds, cpus)
    val tracer = if (trace) Some(new JobTracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)

    val pins = Json.readValue(checkout.resolve("perfbench/inputs.json").toFile,
      classOf[Map[String, String]])
    val prints = Inputs.fingerprints(checkout,
      Paths.get(graft.etl.Extract.standInDecompiler().last))
    ctx.check(prints.toSeq.sorted.collect {
      case (k, v) if !pins.get(k).contains(v) =>
        s"input fingerprint $k is $v, pinned ${pins.getOrElse(k, "nothing")}: " +
          "the workload inputs changed, so this run is not comparable"
    })

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = osBean.getProcessCpuTime
    try {
      heapPools.foreach(_.resetPeakUsage())
      run(ctx)
    } catch {
      case e: Throwable =>
        ctx.attempted += 1
        ctx.failed += 1
        ctx.violations += s"workload aborted: $e"
        e.printStackTrace()
    }
    val processCpuSecs = (osBean.getProcessCpuTime - cpu0) / 1e9
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    // what the run left reachable (its stores' cached blocks, leaked
    // persisted RDDs, driver state): heap in use after a full collection.
    // The second collection reclaims what Spark's cleaner released for
    // objects the first one found unreachable.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapRetainedMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    val e2e = ListMap(
      "setup_s" -> (if (ctx.setupSecs.isEmpty) Double.NaN
        else sessionSecs + Stats.median(ctx.setupSecs), "s"),
      "items_per_s" -> ctx.extra.getOrElse("items_per_s", (Double.NaN, "items/s")),
      "write_p50_s" -> ctx.extra.getOrElse("write_p50_s", (Double.NaN, "s")),
      "read_p50_s" -> ctx.extra.getOrElse("read_p50_s", (Double.NaN, "s")),
      "heap_retained_mb" -> (heapRetainedMb, "MB"))

    val perLayer = tracer.map { t =>
      t.drain()
      val jobs = t.snapshot
      val m = TraceReport.layerMetrics(jobs, ctx.ops.toSeq)
      val outBytes = TraceReport.jobsInOps(jobs, ctx.ops.toSeq).map(_._1.outputBytes).sum
      m("persisted_rdds_left") =
        ((ctx.persistedAfterOp.lastOption.getOrElse(persistedBefore) - persistedBefore).toDouble, "count")
      m("sinks.write_amp") =
        (if (ctx.storeGrowthBytes > 0) outBytes.toDouble / ctx.storeGrowthBytes else 0.0, "ratio")
      val aliases = Map("etl.extract_s" -> "extract_p50_s", "analytics.analyse_s" -> "analyse_s")
      LayerExtras.filterNot(m.contains).foreach { k =>
        m(k) = ctx.extra.getOrElse(aliases.getOrElse(k, k), (0.0, if (k.endsWith("_s")) "s" else "count"))
      }
      arg("--spans").foreach { p =>
        Files.write(Paths.get(p), TraceReport.spanLines(jobs, ctx.ops.toSeq).asJava,
          StandardCharsets.UTF_8)
      }
      ListMap(m.toSeq: _*)
    }

    val correct = ctx.failed == 0 && ctx.attempted > 0
    val printed = perLayer.getOrElse(e2e)
    def metricJson(m: ListMap[String, (Double, String)]) =
      ListMap(m.toSeq.map { case (k, (v, u)) =>
        k -> ListMap("value" -> Some(v).filterNot(x => x.isNaN || x.isInfinite), "unit" -> u)
      }: _*)
    val record = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cpus" -> cpus, "fingerprints" -> ListMap(prints.toSeq.sorted: _*),
      "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failed_frac" -> (if (ctx.attempted > 0) ctx.failed.toDouble / ctx.attempted else 1.0),
      "violations" -> ctx.violations.toSeq,
      "session_s" -> sessionSecs,
      "setup_runs_s" -> ctx.setupSecs,
      "timed_ops" -> ctx.ops.map(o => ListMap("name" -> o.name, "secs" -> (o.end - o.start) / 1000.0)).toSeq,
      "heap_peak_mb" -> heapPeakMb,
      "process_cpu_s" -> processCpuSecs,
      "persisted_rdds_after_op" -> ctx.persistedAfterOp.map(_ - persistedBefore).toSeq,
      "end_to_end" -> metricJson(e2e),
      "workload_metrics" -> metricJson(ListMap(ctx.extra.toSeq: _*)),
      "per_layer" -> perLayer.map(metricJson))
    Files.createDirectories(results.toAbsolutePath.getParent)
    Files.writeString(results, Json.writeValueAsString(record) + "\n")

    ctx.violations.foreach(v => System.err.println(s"[perfbench] check failed: $v"))
    println(Json.writeValueAsString(ListMap("correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> metricJson(printed))))
    System.out.flush()
    graft.sources.RpcStub.setHead(graft.sources.RpcStub.Head)
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}

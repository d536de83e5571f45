package graft.bench

import org.apache.spark.sql.functions._

import graft.sinks.Bucketing
import graft.streaming.SemanticStream
import graft.bench.ScaleLaws.time

/** Measures the slot index's FORWARD projection — the r12 verdict's
  * #4 ask, and the second half of SCALE.md's inverted/forward split:
  * the GATHER reads the cell-sorted inverted layout (pushed In file
  * pruning, measured in `slot_gather_prune`), but the CUT stage's
  * candidate-keyed join (`cand ⋈_c_id slot_cells`) re-shuffles the
  * corpus-cardinality slot rows per query batch. The stated remedy is
  * one entity, two physical projections: a doc_id-bucketed FORWARD
  * copy ([[SemanticStream.writeSlotForward]], the `attr_bucketed`
  * machinery) whose scan partitioning already satisfies the join —
  * the corpus-side exchange disappears.
  *
  * This bench runs the IDENTICAL cut-stage plan
  * ([[SemanticStream.centroidCutScores]] — the exact factored shape
  * the serve path executes) against the plain stored entity and the
  * bucketed forward projection, and reports exchange count + wall
  * time of each. Broadcast is disabled: at bench scale Catalyst would
  * broadcast the probe side and hide the exchange story that matters
  * at 10^10 docs where neither side broadcasts.
  *
  * Registered queries keep the plain oracle-checked path (the same
  * split as q193 vs `attr_bucketed`).
  *
  * Usage: `runMain graft.bench.SlotForwardBench
  * [sfDir=/root/testdata/sf0.1] [n=8000] [topics=1024] [slotK=512]
  * [buckets=16]`. */
object SlotForwardBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = args.lift(1).map(_.toLong).getOrElse(8000L)
    val topics = args.lift(2).map(_.toInt).getOrElse(1024)
    val slotK = args.lift(3).map(_.toInt).getOrElse(512)
    val buckets = args.lift(4).map(_.toInt).getOrElse(16)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val loc = graft.Temps.dir("slot-fwd-bucketdb")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_slotfwd LOCATION '$loc'")

      val emb = ScaleLaws.slotTopicEmbeddings(spark, n, topics)
        .localCheckpoint()
      val root = graft.Temps.dir("slot-fwd-store")
      SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true,
        slotK = slotK, slotRounds = 3)
      val queries = emb.where(pmod(col("vec_id"), lit(97)) === 0)
        .localCheckpoint()
      // the gather + fold inputs, shared by both variants (the bench
      // measures the CUT stage only — the projections differ there)
      val (cand, qcn) = SemanticStream.slotGatherFold(queries, root,
        slotNProbe = SemanticStream.SlotPolicy.SlotNProbe)
      val nCand = cand.count()

      val (_, tWrite) = time {
        SemanticStream.writeSlotForward(spark, root,
          "graft_slotfwd.slot_cells", buckets)
      }

      def run(variant: String,
          scells: org.apache.spark.sql.DataFrame): Unit = {
        val df = SemanticStream.centroidCutScores(cand, scells, qcn)
        val exchanges = "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
        val (rows, secs) = time(df.count())
        val wSecs = if (variant == "bucketed") tWrite else 0.0
        println(s"""{"family":"slot_forward","variant":"$variant",""" +
          s""""n":$n,"slot_k":$slotK,"cand":$nCand,"buckets":$buckets,""" +
          s""""exchanges":$exchanges,"rows":$rows,""" +
          s""""write_secs":${math.round(wSecs * 100) / 100.0},""" +
          s""""secs":${math.round(secs * 100) / 100.0}}""")
      }
      run("plain", graft.sinks.Layout
        .readStatic(spark, root, SemanticStream.SlotCellsEntity).get
        .select(col("id").as("c_id"), col("cell")))
      run("bucketed", Bucketing
        .readBucketed(spark, "graft_slotfwd.slot_cells")
        .select(col("id").as("c_id"), col("cell")))
    } finally spark.stop()
  }
}

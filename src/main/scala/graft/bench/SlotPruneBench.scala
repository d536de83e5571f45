package graft.bench

import org.apache.spark.sql.functions._

import graft.sinks.Layout
import graft.streaming.SemanticStream
import graft.bench.ScaleLaws.time

/** MEASURED proof of the slot-gather fetch pruning — [[LexPruneBench]]'s
  * method applied to the slot index: the r12 serve path collects the
  * bounded probe union to literals, so the gather reaches the
  * slot-cells scan as a pushed In(cell, …), and the stream driver's
  * compaction window range-sorts the entity by `cell` — each file owns
  * a cell range and parquet min/max stats skip every file holding no
  * probed cell. Without the sort (hash-laid baseline) every file
  * intersects every probe and the gather reads the whole index per
  * query batch — exactly the postings story, with cells for terms.
  *
  * Per (layout × probe): files_touched/files_total under the
  * row-group pruning rule (any probe cell ∈ [min, max] of the file's
  * own rows), rows in touched files, and the min-of-2 wall clock of
  * the actual pushed-filter fetch. Probes: one query's union (T = 8
  * slots × np = 2 — the short-probe shape) and an 83-query batch's
  * union (broad — prunes only when #files exceeds the probe's cell
  * spread, the 100-TB regime).
  *
  * Usage: `runMain graft.bench.SlotPruneBench
  * [sfDir=/root/testdata/sf0.1] [factor=4] [slotK=256] [targetKB=24]`. */
object SlotPruneBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(4)
    val slotK = args.lift(2).map(_.toInt).getOrElse(256)
    val targetKB = args.lift(3).map(_.toLong).getOrElse(24L)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      val emb = ScaleLaws.amplifyEmbeddings(
        graft.queries.Tables.embeddings(spark, sfDir), factor)
        .localCheckpoint()
      val root = graft.Temps.dir("slot-prune-bench")
      SemanticStream.bootstrap(emb, root, withSq = true, withSlots = true,
        slotK = slotK, slotRounds = 3)

      // probe unions from the real audit (slotGatherCount's assignment
      // shape): one query and the 83-query batch
      def probeOf(qs: org.apache.spark.sql.DataFrame): Seq[Long] = {
        val (scb, slices) = SemanticStream.readSlotBook(spark, root).get
        val w = scb.head._2.length
        graft.ops.LateInteraction.multiVec(qs, "vec_id", "embedding",
            slices, slices * w)
          .select(graft.functions.VectorExprs.nearestCells(
            col("sv").cast("array<double>"), scb, 2).as("pr"))
          .select(explode(col("pr").getField("cid")).as("cell"))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted
      }
      val one = probeOf(emb.where(col("vec_id") === 0))
      val batch = probeOf(emb.where(pmod(col("vec_id"), lit(97)) === 0))
      val probes = Seq("q1" -> one, "qbatch83" -> batch)

      def measure(variant: String): Unit = {
        val cells = Layout.readStatic(spark, root,
          SemanticStream.SlotCellsEntity).get
        for ((pname, pcells) <- probes) {
          val cellArr = array(pcells.map(lit): _*)
          val files = cells.withColumn("fn", input_file_name())
            .groupBy(col("fn"))
            .agg(count(lit(1)).as("n"),
              min(col("cell")).as("mn"), max(col("cell")).as("mx"))
            .withColumn("touched",
              exists(cellArr, x => x >= col("mn") && x <= col("mx")))
          val agg = files.agg(count(lit(1)).as("files_total"),
              sum(when(col("touched"), 1L).otherwise(0L)).as("files_touched"),
              sum(col("n")).as("rows_total"),
              sum(when(col("touched"), col("n")).otherwise(0L))
                .as("rows_in_touched"))
            .collect().head
          val matching = cells.where(col("cell").isin(pcells: _*))
          val secs = (1 to 2).map(_ => time(matching.count())._2).min
          println(s"""{"family":"slot_gather_prune","variant":"$variant",""" +
            s""""probe":"$pname","n_cells":${pcells.length},"slot_k":$slotK,""" +
            s""""files_total":${agg.getLong(0)},""" +
            s""""files_touched":${agg.getLong(1)},""" +
            s""""rows_total":${agg.getLong(2)},""" +
            s""""rows_in_touched":${agg.getLong(3)},""" +
            s""""secs_fetch":${math.round(secs * 1000) / 1000.0}}""")
        }
      }

      Layout.compactStatic(spark, root, SemanticStream.SlotCellsEntity,
        targetBytes = targetKB * 1024)
      measure("hashed")
      Layout.compactStatic(spark, root, SemanticStream.SlotCellsEntity,
        targetBytes = targetKB * 1024, sortBy = Seq("cell"))
      measure("sorted_cell")
    } finally spark.stop()
  }
}

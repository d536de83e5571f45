package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.SemanticStream
import graft.bench.ScaleLaws.time

/** Measures the slot-alignment DIAGNOSTIC
  * ([[SemanticStream.slotCutAgreement]]) on the two `slot_policy`
  * geometries — the r12 verdict's #2 ask mechanized: the centroid
  * cut's arm/disarm rule needs a number the OPERATOR can read off the
  * maintained index, and this family shows that number separating the
  * geometries whose measured recall stakes are 0.96 (armed on
  * aligned) vs 0.41–0.70 (armed on decorrelated):
  *
  *   - `aligned` — [[ScaleLaws.slotTopicEmbeddings]] (the trained
  *     late-interaction geometry): the slot-cell centroids ARE the
  *     topic clusters, so the cheap centroid ordering tracks the
  *     code ordering → agreement reads high;
  *   - `decorr` — the ×`factor` sign-flip amplified sf embeddings:
  *     the w-dim coarse quantizer cannot order docs → agreement
  *     reads low (the r11 centroid-only 0.37 ablation, served as a
  *     diagnostic instead of rediscovered per corpus).
  *
  * Per row: corpus, slotK, sampled query count, mean gathered
  * candidates, mean retention@k, and the fraction of sampled queries
  * reading ≥ 0.9 (the arming vote — the documented aligned band).
  * JSON rows, family `slot_align`.
  *
  * Usage: `runMain graft.bench.SlotAlignBench
  * [sfDir=/root/testdata/sf0.1] [factor=4] [n=8000] [topics=1024]
  * [slotK=512] [k=8]`. */
object SlotAlignBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(4)
    val nAligned = args.lift(2).map(_.toLong).getOrElse(8000L)
    val topics = args.lift(3).map(_.toInt).getOrElse(1024)
    val slotK = args.lift(4).map(_.toInt).getOrElse(512)
    val k = args.lift(5).map(_.toInt).getOrElse(8)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      def probe(corpus: String, emb: DataFrame): Unit = {
        val n = emb.count()
        val root = graft.Temps.dir(s"slot-align-$corpus")
        SemanticStream.bootstrap(emb, root, withSq = true,
          withSlots = true, slotK = slotK, slotRounds = 3)
        val queries = emb.where(pmod(col("vec_id"), lit(97)) === 0)
          .localCheckpoint()
        val ((nq, avgCand, meanAgree, armFrac), secs) = time {
          val r = SemanticStream.slotCutAgreement(queries, root, k)
            .localCheckpoint()
          val row = r.agg(count(lit(1)), avg(col("n_cand")),
              avg(col("agree")),
              avg(when(col("agree") >= 0.9, 1.0).otherwise(0.0)))
            .collect().head
          (row.getLong(0), row.getDouble(1), row.getDouble(2),
            row.getDouble(3))
        }
        println(s"""{"family":"slot_align","corpus":"$corpus",""" +
          s""""n":$n,"slot_k":$slotK,"k":$k,"queries":$nq,""" +
          s""""avg_cand":${math.round(avgCand)},""" +
          s""""mean_agree":${math.round(meanAgree * 10000) / 10000.0},""" +
          s""""arm_frac":${math.round(armFrac * 10000) / 10000.0},""" +
          s""""secs":${math.round(secs * 100) / 100.0}}""")
        queries.unpersist()
      }
      val rawEmb = graft.queries.Tables.embeddings(spark, sfDir)
      probe("decorr",
        ScaleLaws.amplifyEmbeddings(rawEmb, factor).localCheckpoint())
      probe("aligned",
        ScaleLaws.slotTopicEmbeddings(spark, nAligned, topics)
          .localCheckpoint())
    } finally spark.stop()
  }
}

package graft.bench

import org.apache.spark.sql.functions._

import graft.sinks.Bucketing
import graft.bench.ScaleLaws.time

/** Measures the q193/q206/q209 "bucketed attribution table" claim —
  * the last narrative-only scale shape the r11 verdict flagged: the
  * hint-free attribution joins are correct, but they still SHUFFLE the
  * corpus-cardinality (doc_id, source) projection once per audit; the
  * stated 100-TB remedy (TextOps q193 comment) is to land that
  * projection ONCE as a doc_id-bucketed table so every subsequent
  * audit's attribution side joins from scan partitioning with no
  * exchange. This bench runs the IDENTICAL overlap-matrix plan
  * ([[graft.queries.TextOps.sourceOverlapOf]]) against the plain
  * parquet projection and the bucketed table, and reports the
  * exchange count + wall time of each — the q163/LexPrune self-probe
  * discipline: the claim is a measured row, not a comment.
  *
  * Broadcast is disabled for the measurement: at bench scale Catalyst
  * would broadcast the small attribution side and hide the exchange
  * story that matters at 10^10 docs, where neither side broadcasts
  * (the r10 finding that removed the hints in the first place).
  *
  * Usage: `runMain graft.bench.AttrBucketBench
  * [sfDir=/root/testdata/sf0.1] [buckets=16]`. */
object AttrBucketBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val buckets = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val loc = graft.Temps.dir("attr-bucketdb")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_attr LOCATION '$loc'")

      val docs = graft.queries.Tables.documents(spark, sfDir)
      val srcsPlain = docs.select(col("doc_id"), col("source"))
      val (_, tWrite) = time {
        Bucketing.writeBucketed(srcsPlain, "graft_attr.srcs", "doc_id",
          buckets)
      }
      // the pair side is shared and pre-materialized so both variants
      // measure exactly the attribution joins + the matrix aggregate
      val pairs = graft.queries.TextOps.bandPairs(spark, sfDir)
        .select(col("a_id"), col("b_id")).localCheckpoint()
      val nPairs = pairs.count()

      def run(variant: String, srcs: org.apache.spark.sql.DataFrame): Unit = {
        val df = graft.queries.TextOps.sourceOverlapOf(pairs, srcs)
        val exchanges = "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
        val (rows, secs) = time(df.count())
        // write cost belongs to the variant that wrote: only the
        // bucketed table was materialized, so the plain row bills 0
        val wSecs = if (variant == "bucketed") tWrite else 0.0
        println(s"""{"family":"attr_bucketed","variant":"$variant",""" +
          s""""pairs":$nPairs,"buckets":$buckets,""" +
          s""""exchanges":$exchanges,"rows":$rows,""" +
          s""""write_secs":${math.round(wSecs * 100) / 100.0},""" +
          s""""secs":${math.round(secs * 100) / 100.0}}""")
      }
      run("plain", srcsPlain)
      run("bucketed", Bucketing.readBucketed(spark, "graft_attr.srcs"))
    } finally spark.stop()
  }
}

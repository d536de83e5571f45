package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one JVM-wide session — Spark startup
  * dominates test time otherwise). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // mirrors graft.Sessions: events.ts is parquet TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The id of the RDD holding a `localCheckpoint`'s blocks. Leak checks
    * compare `getPersistentRDDs` key sets, not sizes: the map holds its
    * RDDs weakly, so a GC may drop an unrelated unreferenced one. */
  def checkpointedRddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      case other => sys.error(s"not a checkpointed frame: ${other.nodeName}")
    }
}

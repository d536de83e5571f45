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

  /** Jobs started by `f` on this thread (and by any fan-out chain it
    * submits, which inherits the job group), counted by a listener: `f`
    * runs under its own job group, then a sentinel job does; the
    * listener bus delivers in order, so once the sentinel is seen every
    * job `f` started has been counted. */
  def jobsStartedBy[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"jobs-probe-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, tag)
      val out = try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-sentinel", s"$tag-sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(s"$tag-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$tag-sentinel"), "sentinel job never reached the listener")
      (out, seen.toArray.count(_ == tag))
    } finally sc.removeSparkListener(listener)
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

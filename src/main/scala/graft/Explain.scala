package graft
import org.apache.spark.sql.SparkSession
/** Plan inspector: print the formatted physical plan of selected
  * registry queries (all when no names given).
  * `sbt "runMain graft.Explain <sfDir> [name ...]"` — each name selects
  * every registered query it prefixes, as [[Verify]]'s filter does
  * (`q28` → `q28_minhash_bands`); a name that selects nothing is an
  * error. */
object Explain {

  /** The registered query names each of `names` prefixes, sorted. */
  def resolve(names: Seq[String]): Seq[String] = {
    val registered = SparkEntry.queries.keys.toSeq.sorted
    names.flatMap { n =>
      val hits = registered.filter(_.startsWith(n))
      require(hits.nonEmpty, s"no registered query starts with '$n'")
      hits
    }.distinct
  }

  /** The formatted physical plan of one registered query. */
  def plan(spark: SparkSession, sfDir: String, name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = resolve(if (args.length > 1) args.drop(1).toSeq else Seq(""))
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try println(plan(spark, sfDir, n))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}

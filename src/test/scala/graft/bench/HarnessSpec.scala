package graft.bench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The ScaleLaws harness: a family cell releases every checkpoint it
  * made, and every row it prints is one `{"family":…}` JSON line that
  * `tools/assemble_scale.py` picks up, with the harness's rounding. */
class HarnessSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val FamilyRow = """\{"family".*\}""".r
  private val Json = new ObjectMapper()

  private def decimals(x: Double): Int = BigDecimal(x).scale

  test("a family run through the harness leaves no persistent RDD behind") {
    val sc = spark.sparkContext
    // key sets, not sizes: the map is weak, so a GC can drop an old
    // entry while the run leaks a new one
    val before = sc.getPersistentRDDs.keySet
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out) {
      ScaleLaws.run(spark, "/root/testdata/sf0.01", Seq(1), "simhash_narrow_q112")
    }
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persistent RDDs left by the cell: $leaked")

    val lines = out.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
    assert(lines.size === 1, lines)
    assert(FamilyRow.pattern.matcher(lines.head).matches(), lines.head)
    val row = Json.readTree(lines.head)
    assert(row.get("family").asText() === "simhash_narrow_q112")
    assert(row.get("n").asLong() === 500L)
    assert(row.get("factor").asInt() === 1)
    // the candidate law at sf0.01, factor 1 (ScaleLawSpec pins its growth)
    assert(row.get("candidates").asLong() > 0L)
    assert(row.get("pairs").asLong() > 0L)
    assert(decimals(row.get("secs").asDouble()) <= 2)
  }

  test("the emitter writes one parseable line with secs at 2 dp and the rest as given") {
    val line = ScaleLaws.line("serve_path", "variant" -> "a\"b", "n" -> 8000L,
      "fired" -> true, "secs" -> 1.23456, "retrain_secs" -> 0.987,
      "secs_fetch" -> ScaleLaws.roundTo(0.12345, 3), "recall3" -> 0.1234)
    assert(!line.contains("\n"))
    assert(FamilyRow.pattern.matcher(line).matches(), line)
    val row = Json.readTree(line)
    assert(row.fieldNames().next() === "family")
    assert(row.get("variant").asText() === "a\"b")
    assert(row.get("n").asLong() === 8000L)
    assert(row.get("fired").asBoolean())
    assert(row.get("secs").asDouble() === 1.23)
    assert(row.get("retrain_secs").asDouble() === 0.99)
    assert(row.get("secs_fetch").asDouble() === 0.123)
    assert(row.get("recall3").asDouble() === 0.1234)
  }

  test("the recall@3 cell scores served rows against the gold at 4 dp") {
    val s = spark
    import s.implicits._
    val gold = new ScaleLaws.Gold(Seq((1L, 2L), (1L, 3L), (2L, 5L)).toDF("q_id", "c_id"))
    val hits = gold.hits(Seq((1L, 2L, 0.9), (2L, 5L, 0.8), (2L, 7L, 0.1))
      .toDF("q_id", "c_id", "cos"))
    assert(hits === 2L)
    val cols = gold.recall(hits).toMap
    assert(cols("gold") === 3L)
    assert(cols("recall3") === 0.6667)
    val row = Json.readTree(ScaleLaws.line("x", gold.recall(hits): _*))
    assert(row.get("recall3").asDouble() === 0.6667)
  }
}

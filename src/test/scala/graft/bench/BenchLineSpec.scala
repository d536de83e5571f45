package graft.bench

import org.scalatest.funsuite.AnyFunSuite

/** The bench stdout contract: the harness tail-captures ~2000 chars of
  * stdout (with ~100 more consumed by the build tool's closing lines),
  * so the printed JSON line must ALWAYS fit under that and parse — for
  * seven rounds the full per-query map silently never did. Pins the
  * budget against the real registry size and worse. */
class BenchLineSpec extends AnyFunSuite {

  private def fakeResults(n: Int): Seq[(String, Double)] =
    (0 until n).map(i => (f"q${i}%03d_some_longer_query_name", i * 1.2345))

  private val suffix =
    """"sf":"/root/testdata/sf0.1","load_before":12.34,"load_after":23.45}"""

  test("the line fits the 2000-char tail with closing-line headroom") {
    for (n <- Seq(1, 50, 161, 400, 1000)) {
      val line = graft.Bench.budgetedLine(fakeResults(n), 123.456,
        "/tmp/bench.json", suffix)
      assert(line.length <= 1850, s"n=$n line=${line.length} chars")
    }
  }

  test("the line parses as JSON and reports its own truncation") {
    // a JSON-shape check with no parser on the classpath: balanced
    // braces, the registry count, and the kept-entry count all present
    val n = 161
    val line = graft.Bench.budgetedLine(fakeResults(n), 99.9,
      "/tmp/bench.json", suffix)
    assert(line.startsWith("{") && line.endsWith("}"))
    assert(line.count(_ == '{') === line.count(_ == '}'))
    assert(line.contains(s""""queries_total":$n"""))
    val reported = """"queries_reported":(\d+)""".r
      .findFirstMatchIn(line).get.group(1).toInt
    assert(reported > 0 && reported < n) // truncated, and says so
    assert(line.count(_ == ':') >= reported) // the kept entries are there
    // no dangling comma before the map's closing brace
    assert(!line.contains(",}"))
  }

  test("a small registry is reported in full") {
    val line = graft.Bench.budgetedLine(fakeResults(10), 1.0,
      "/tmp/bench.json", suffix)
    assert(line.contains(""""queries_total":10"""))
    assert(line.contains(""""queries_reported":10"""))
  }

  test("truncation keeps the TOP-BY-TIME queries, not the name prefix") {
    // fakeResults times grow with the index, so the hottest queries are
    // the highest-numbered names — the alphabetical-prefix bug kept
    // exactly the opposite end (r14 verdict: every optimized query was
    // invisible to the driver record)
    val n = 400
    val line = graft.Bench.budgetedLine(fakeResults(n), 99.9,
      "/tmp/bench.json", suffix)
    val reported = """"queries_reported":(\d+)""".r
      .findFirstMatchIn(line).get.group(1).toInt
    assert(reported < n)
    // the single most expensive query is on the line; the cheapest is not
    assert(line.contains(f"q${n - 1}%03d_some_longer_query_name"))
    assert(!line.contains("q000_some_longer_query_name"))
    // and the kept entries arrive in descending-time order
    val firstKept = """"(q\d+_some_longer_query_name)":""".r
      .findFirstMatchIn(line.drop(line.indexOf("\"queries\":"))).get.group(1)
    assert(firstKept === f"q${n - 1}%03d_some_longer_query_name")
  }

  test("the line parses with a JSON parser, bare and behind a log prefix") {
    // how a consumer reads the captured tail: strip one `[level] ` log
    // prefix if present (sbt relays a forked main's stdout that way
    // unless its output strategy is StdoutOutput), then parse
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def parse(out: String) = {
      val t = out.trim
      val body =
        if (t.startsWith("[") && !t.startsWith("[{") && t.contains("] "))
          t.substring(t.indexOf("] ") + 2)
        else t
      mapper.readTree(body)
    }
    val n = 161
    val line = graft.Bench.budgetedLine(fakeResults(n), 99.9,
      "/tmp/bench.json", suffix)
    val bare = parse(line)
    assert(bare === parse("[info] " + line))
    assert(bare.get("metric").asText === "total")
    assert(bare.get("value").asDouble === 99.9)
    assert(bare.get("queries_total").asInt === n)
    assert(bare.get("queries").size === bare.get("queries_reported").asInt)
    assert(bare.get("load_after").asDouble === 23.45)
  }
}

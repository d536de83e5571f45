package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for LLM-data-pipeline work (tokenizing,
  * hashing, shingling, language-ID, quality scoring, fingerprinting).
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * higher-order functions — no Scala UDFs — so plans stay inside
  * whole-stage codegen and scale linearly with rows. All hash arithmetic
  * is deliberately expressible in ANSI SQL (fold of `(acc*31 + ascii) % p`)
  * so DuckDB oracles can reproduce values bit-for-bit.
  */
object TextAnalysis {

  val HashMod = 1000000007L // fits 64-bit intermediate products
  val MinHashP = 2147483647L // 2^31 - 1

  /** Whitespace tokens with empties dropped (split keeps trailing empties
    * under Java's limit=-1 semantics, DuckDB's string_split does not). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Deterministic 64-bit-safe string hash: fold of
    * (acc*31 + codepoint) % HashMod over characters. Native expression —
    * the higher-order `aggregate(split(...))` form is interpreted per
    * element (HOFs have no codegen) and dominated signature stages. */
  def tokenHash(t: Column): Column = graft.functions.EvmExprs.tokenHash(t)

  /** 60-bit composite rolling-window hashes over a token-hash array:
    * per w-token window, two independent (acc*base + h) % HashMod folds
    * (bases 131/137) combined as h₁₃₁·HashMod + h₁₃₇ — both folds and
    * the combination stay under int64, so DuckDB replays the exact
    * arithmetic. The width is NOT optional: ScaleLaws measured a single
    * 30-bit fold accreting birthday false-dups with corpus growth
    * (SCALE.md MEASURED). Shared by q134 and the ScaleLaws span family
    * so the bench measures exactly the operator that ships. Returns an
    * empty array for docs shorter than w tokens. */
  def spanHashes(th: Column, w: Int): Column = {
    def fold(base: Long) = (i: Column) =>
      aggregate(slice(th, i + 1, lit(w)), lit(0L),
        (a, b) => (a * base + b) % HashMod)
    when(size(th) >= w,
      transform(sequence(lit(0), size(th) - w), i =>
        fold(131L)(i) * HashMod + fold(137L)(i)))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Single-fold rolling span hash (base 131 only, ~30 bits) — the
    * DELIBERATELY narrow key the q138 confirm layer is proven
    * against: ScaleLaws measured this width accreting birthday
    * false-dups with corpus growth (526 → 13,058 key-level dup docs
    * from 5k to 80k docs), which the verbatim-confirm join must — and
    * does — erase. Production uses [[spanHashes]]' 60-bit composite;
    * this exists so the proof doesn't depend on the key being wide. */
  def spanHashesNarrow(th: Column, w: Int): Column =
    when(size(th) >= w,
      transform(sequence(lit(0), size(th) - w), i =>
        aggregate(slice(th, i + 1, lit(w)), lit(0L),
          (a, b) => (a * 131L + b) % HashMod)))
      .otherwise(array().cast("array<bigint>"))

  /** Word n-gram shingles (space-joined) over an ALREADY-MATERIALIZED
    * token array column, empty array when too short.
    *
    * Important: pass a plain column reference, not `tokens(text)` —
    * lambda bodies don't get common-subexpression elimination, so an
    * inline tokenizer would re-split the text for every element_at
    * (observed 25× slowdown on the q24 bench before this split). */
  def shinglesFromTokens(toks: Column, n: Int): Column = {
    val count = size(toks) - (n - 1)
    when(count >= 1,
      transform(sequence(lit(1), count), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** One min-hash: min over (a*h + b) % MinHashP of hashed shingles.
    * Null for empty shingle sets. */
  def minHash(shingleHashes: Column, a: Long, b: Long): Column =
    array_min(transform(shingleHashes, h => (h * a + lit(b)) % MinHashP))

  /** Default coefficient pairs for min-hash signatures (fixed primes —
    * deterministic across runs and engines by design). */
  val MinHashCoeffs: Seq[(Long, Long)] =
    Seq((1299721L, 1299827L), (1299833L, 1299709L),
      (1300021L, 1300033L), (1300109L, 1300151L))

  /** b-bit SimHash over token hashes (with multiplicity): bit j is set
    * when sum of (+1/-1 for bit j of each token hash) is positive. */
  def simHash(tokenHashes: Column, bits: Int = 16): Column =
    (0 until bits).map { j =>
      val bitSum = aggregate(tokenHashes, lit(0L),
        (acc, h) => acc + (shiftright(h, j).bitwiseAND(1L) * 2L - 1L))
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The 64-bit SimHash scale shape, as FOUR independent 16-bit
    * quarters: quarter k is a 16-bit [[simHash]] over the token hashes
    * remixed by the k-th [[MinHashCoeffs]] affine transform mod
    * [[MinHashP]] (token hashes alone carry only ~30 bits of entropy —
    * remixing makes each quarter's bits independent). The quarter
    * VECTOR is the fingerprint; total hamming distance is the sum of
    * per-quarter `bit_count(xor)`. By pigeonhole, any pair within
    * hamming distance 3 agrees exactly on ≥1 quarter, so the
    * (k, quarter) equi-join finds ALL radius-3 pairs over 65,536-value
    * bucket keys — the cardinality law that keeps candidate volume
    * ~n²/2¹⁶ per band instead of the 16-bit demo's n²/2⁸ (SCALE.md).
    * Kept as separate columns (not one packed long): bit 63 would ride
    * the sign bit in Spark and overflow DuckDB's checked BIGINT, and
    * the band join wants the quarters individually anyway. */
  def simHashQuarter(tokenHashes: Column, k: Int): Column = {
    val (a, b) = MinHashCoeffs(k)
    simHash(transform(tokenHashes, h => (h * a + lit(b)) % MinHashP), 16)
  }

  /** Exact-dedup content key of a text column (q83's key). */
  private[graft] def contentKey(text: Column): Column = md5(text.cast("binary"))

  /** q27's per-doc quality features over `text`: the token array `T`,
    * `n_toks` and the stopword ratio rounded to 6 places. The ratio of
    * an empty doc is 0.0, so it lands low_quality instead of failing
    * the ANSI division. */
  private[graft] def withQuality(df: DataFrame): DataFrame = df
    .withColumn("T", tokens(col("text")))
    .withColumn("n_toks", size(col("T")).cast("long"))
    .withColumn("stopword_ratio",
      when(col("n_toks") === 0, lit(0.0)).otherwise(round(
        size(filter(col("T"), w => w.isin("the", "a", "of", "and", "to")))
          .cast("double") / col("n_toks"), 6)))

  /** The curation quality gate over [[withQuality]]'s columns. */
  private[graft] def qualityGate: Column =
    col("n_toks") >= 40L && col("stopword_ratio") >= 0.03

  /** One row per 4-token shingle hash `sh` of a doc's `text` (a
    * generator for `select`) — decontamination's benchmark and probe
    * rows. */
  private[graft] def shingleRows: Column =
    explode(graft.functions.EvmExprs.shingleHashesFromText(col("text"))).as("sh")

  /** Rolling document fingerprint: fold of (acc*131 + tokenHash) % HashMod
    * over tokens in order — order-sensitive, content-defined. */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => (acc * 131L + tokenHash(t)) % HashMod)

  /** Marker-token language/topic ID: count hits per marker set, argmax
    * with a fixed precedence for ties. Returns (scores..., label). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "core" -> Seq("the", "a", "of", "and"),
    "db" -> Seq("table", "row", "column", "key", "query"),
    "perf" -> Seq("fast", "slow", "big", "small"))

  def markerScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers: _*)))

  def langId(s1: Column, s2: Column, s3: Column): Column =
    when(s3 > s1 && s3 > s2, lit("perf"))
      .when(s2 > s1, lit("db"))
      .otherwise(lit("core"))
}

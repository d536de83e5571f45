package graft.bench

import org.apache.spark.sql.functions._

import graft.ops.{Lsh, Multimodal, Pairs}

/** The perceptual-hash BAND/RECALL law — q216's machinery measured
  * against brute force (the q163/LexPrune self-probe discipline: the
  * pigeonhole claim is a measured row, not a comment):
  *
  *   - corpus = the documents table plus deterministic variants at
  *     four mutation strengths (prefix overwrite of 1 / 8 / 32 / 64
  *     bytes), populating the Hamming spectrum from 0 to ~tens;
  *   - EXACT = all-pairs 64-bit Hamming over the dHash quarters
  *     (measurement baseline only — bounded corpus, never the
  *     production path);
  *   - BANDED = [[Multimodal.dHashNearDupPairs]] at radius t.
  *
  * Law, measured at BOTH grid widths (r13 verdict #4): recall = 1.0
  * for t ≤ bands − 1 (any pair within that distance agrees on ≥ 1
  * whole quarter — radius 3 at the default 8×9 / 4 bands, radius 7
  * at the wide 16×9 / 8 bands), decaying above as the pigeonhole
  * guarantee expires; candidate volume ≈ Σ bucket² per band ≪ n²/2,
  * at the SAME 2¹⁶-value band keys for both widths — the grid
  * constant is the n²/2^w knob. JSON rows, family `phash_band`.
  *
  * Usage: `runMain graft.bench.PHashBench
  * [sfDir=/root/testdata/sf0.1]`. */
object PHashBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      // same collision cap as q216/q218: variant ids live at
      // doc_id + m·10⁶, so the base universe excludes that range.
      // PAYLOAD-SIZE FLOOR for the width comparison: the block-mean
      // stand-in needs ≥ ~2 bytes per grid cell — a payload shorter
      // than the cell count leaves most wide-grid segments EMPTY
      // (zero bits), degenerating the 16×9 hash to near-zero keys
      // that collide massively (measured: t=0 "identical" pairs 1.8k
      // → 73k without the floor). A REAL codec never hits this (it
      // always yields rows×cols pixels regardless of byte size), so
      // the floor keeps the measured law about the GRID, not the
      // stub's byte-starvation artifact. 288 = 2 × the 144-cell wide
      // grid; both widths measured on the same floored corpus.
      val docs = graft.queries.Tables.documents(spark, sfDir)
        .where(col("doc_id") < 1000000L && length(col("text")) >= 288)
        .select(col("doc_id"), col("text"))
      val variants = Seq(1, 8, 32, 64).map { m =>
        docs.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + m * 1000000L).as("doc_id"),
            concat(lit("Z" * m), expr(s"substring(text, ${m + 1})"))
              .as("text"))
      }.reduce(_.unionByName(_))
      val media = Multimodal.asMedia(docs.unionByName(variants),
        "doc_id", "text")
      val n = media.count()
      // both grid widths (r13 verdict #4 — the wide variant measured,
      // not narrated): 8×9 = 4 bands / 64 bits, exact through radius
      // 3; 16×9 = 8 bands / 128 bits, exact through radius 7 at the
      // SAME 2¹⁶-value band keys. The law to read off the rows: the
      // per-band candidate volume holds (~bands·n²/2¹⁶ scaled by key
      // skew) while the pigeonhole radius doubles — the grid constant
      // is the n²/2^w knob.
      for ((gridRows, radii) <- Seq(8 -> Seq(0, 1, 3, 6, 10),
          16 -> Seq(0, 1, 3, 6, 7, 10, 14))) {
        val nb = gridRows / 2
        val qs = Multimodal.dHashQuarters(media, gridRows, 9)
          .localCheckpoint()
        // measurement baseline: all-pairs exact Hamming (bounded corpus)
        val exact = qs
          .toDF(("a_id" +: (0 until nb).map(k => s"a_q$k")): _*)
          .join(qs.toDF(("b_id" +: (0 until nb).map(k => s"b_q$k")): _*),
            col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"), Pairs.hamming(nb).as("h"))
          .localCheckpoint()
        // band-join candidate volume (radius-independent)
        val cand = Lsh.selfPairs(Lsh.quarterBands(qs, nb)).count()
        for (t <- radii) {
          val exactN = exact.where(col("h") <= t).count()
          val bandedN = Multimodal.dHashNearDupPairs(media, t, gridRows, 9)
            .count()
          val recall =
            if (exactN == 0) 1.0 else bandedN.toDouble / exactN
          println(s"""{"family":"phash_band","grid_rows":$gridRows,""" +
            s""""bands":$nb,"n":$n,"t":$t,""" +
            s""""exact_pairs":$exactN,"banded_pairs":$bandedN,""" +
            s""""cand":$cand,"all_pairs":${n * (n - 1) / 2},""" +
            s""""recall":${math.round(recall * 10000) / 10000.0}}""")
        }
        exact.unpersist(); qs.unpersist()
      }
    } finally spark.stop()
  }
}

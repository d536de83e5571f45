package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.Layout
import graft.streaming.CurateStream
import graft.bench.ScaleLaws.time

/** MEASURED proof of the served-BM25 postings-fetch pruning — the one
  * scale claim of the lexical index that had no family row (r10
  * verdict #3): "compaction range-sorts postings by `t`, so the pushed
  * In(t, …) filter prunes files/row groups via min/max stats"
  * (RetrievalOps.bm25ServedTopK; CurateStream.run's compaction window).
  *
  * Method (the q163 self-probe pattern, upgraded from MODELED files to
  * the ACTUAL written layout): build the lex store, compact the
  * postings twice at the same target file count — once hash-laid
  * (plain repartition: the layout a store would have WITHOUT the
  * sortBy claim) and once range-sorted by `t` (the production
  * compaction path) — then, for the q175 query-term probe, compute
  * each real file's [min(t), max(t)] from its own rows
  * (input_file_name groups) and count the files whose range intersects
  * the probe set. That intersection rule IS parquet's row-group
  * min/max pruning decision for a pushed In-filter, so
  * `files_touched / files_total` is the fraction of the store the
  * fetch reads under each layout. `rows_in_touched` sizes the same
  * claim in rows; `secs_fetch` is the min-of-2 wall clock of the
  * actual pushed-filter slice count on that layout.
  *
  * Usage: `runMain graft.bench.LexPruneBench [sfDir=/root/testdata/sf0.1]
  * [targetKB=96]`. */
object LexPruneBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val targetKB = args.lift(1).map(_.toLong).getOrElse(96L)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      val docs = graft.queries.Tables.documents(spark, sfDir)
      val root = graft.Temps.dir("lex-prune-bench")
      CurateStream.upsertLex(docs, root)

      // probe A — q175's shape: the distinct query vocabulary of docs
      // 0..4 (broad — ~30 types spread over the whole term alphabet);
      // probe B — a 3-term keyword query (the short-query shape).
      // The pruning LAW under a range-sorted layout is
      // files_touched ≤ min(#probe terms, #files): a broad-vocabulary
      // probe only skips once the store has MORE files than the probe
      // has terms (the 100-TB case — thousands of files vs tens of
      // terms), while a short probe skips at any file count. The
      // hashed baseline touches every file at every probe width.
      val full = docs.where(col("doc_id") < 5)
        .select(explode(graft.ops.TextAnalysis.tokens(col("text"))).as("t"))
        .distinct().collect().map(_.getString(0)).sorted
      val probes = Seq("q175_vocab" -> full, "kw3" -> full.take(3))

      def measure(variant: String): Unit = {
        val post = Layout.readStatic(spark, root,
          CurateStream.PostingsEntity).get
        for ((pname, terms) <- probes) {
          val termArr = array(terms.map(lit): _*)
          // per ACTUAL file: row count and the t range its parquet
          // min/max stats would advertise
          val files = post.withColumn("fn", input_file_name())
            .groupBy(col("fn"))
            .agg(count(lit(1)).as("n"),
              min(col("t")).as("mn"), max(col("t")).as("mx"))
            // touched iff any probe term falls inside [mn, mx] — the
            // row-group pruning rule for In(t, ...); the HOF runs over
            // a #files-row frame, never the store
            .withColumn("touched",
              exists(termArr, x => x >= col("mn") && x <= col("mx")))
          val agg = files.agg(count(lit(1)).as("files_total"),
              sum(when(col("touched"), 1L).otherwise(0L)).as("files_touched"),
              sum(col("n")).as("rows_total"),
              sum(when(col("touched"), col("n")).otherwise(0L))
                .as("rows_in_touched"))
            .collect().head
          val matching = post.where(col("t").isin(terms.toIndexedSeq: _*))
          val secs = (1 to 2).map(_ => time(matching.count())._2).min
          println(s"""{"family":"lex_prune","variant":"$variant",""" +
            s""""probe":"$pname","n_terms":${terms.length},""" +
            s""""files_total":${agg.getLong(0)},""" +
            s""""files_touched":${agg.getLong(1)},""" +
            s""""rows_total":${agg.getLong(2)},""" +
            s""""rows_in_touched":${agg.getLong(3)},""" +
            s""""secs_fetch":${math.round(secs * 1000) / 1000.0}}""")
        }
      }

      // hash-laid baseline first (plain repartition), then the
      // production range-sorted compaction of the SAME rows
      Layout.compactStatic(spark, root, CurateStream.PostingsEntity,
        targetBytes = targetKB * 1024)
      measure("hashed")
      Layout.compactStatic(spark, root, CurateStream.PostingsEntity,
        targetBytes = targetKB * 1024, sortBy = Seq("t"))
      measure("sorted_t")
    } finally spark.stop()
  }
}

package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.Layout

/** The reference's `analyse` subcommand end to end (main.rs:100-174,
  * analysys/similarities.rs:431-471, analysys/lifetimes.rs:296-300),
  * running over the EXTRACT OUTPUT's parquet layout — the reference
  * reads the same entities back from Dgraph (S8), which SURVEY drops in
  * favor of the landed layout being the store.
  *
  *  - `similarities`: interface-Jaccard (name sets over the ABI edge
  *    table, similarities.rs:94-105) and/or opcode-n-gram cosine over
  *    skeleton bytecode, all-pairs or one-vs-all for a single address
  *    (compare_single's address → deployment → skeleton two-hop,
  *    similarities.rs:314-429); each surviving pair lands as N-Quad
  *    lines in BOTH directions with the per-kind predicate
  *    (`similar_interface` :273 / `similar_code` :292).
  *  - `lifetimes`: ContractLife rows + the RQ1-RQ4 text report
  *    (lifetimes.rs:65-294), landed as parquet + `res.txt`.
  *
  * Scale shape: pair generation is always an equi-join on a derived key
  * (shared interface name / shared n-gram); one-vs-all broadcasts the
  * single target row; the report's four aggregates are scalar rows.
  */
object Analyse {

  /** An entity of the extract layout, read through [[Layout.readStatic]]
    * (schema from one driver-side footer: planning starts no job). A
    * missing or empty entity directory fails the analysis. */
  private def static(spark: SparkSession, root: String,
      entity: String): DataFrame =
    Layout.readStatic(spark, root, entity).getOrElse(
      throw new java.io.FileNotFoundException(
        s"$root/static/$entity holds no parquet data"))

  /** compare_single's first hop: the target address's skeleton hash(es)
    * from the Deployment entity (similarities.rs:314-340). */
  private def targetHashes(spark: SparkSession, root: String,
      address: String): DataFrame =
    static(spark, root, "deployments")
      .where(lower(col("contract")) === address.toLowerCase)
      .select(col("skeleton_hash").as("t_hash"))
      .where(col("t_hash").isNotNull)
      .dropDuplicates("t_hash")

  /** All-pairs or one-vs-all similarity over the extract layout; writes
    * the N-Quad artifact and returns per-metric pair counts. Every
    * checkpoint it takes is released before it returns. */
  def similarities(spark: SparkSession, root: String, outFile: String,
      address: Option[String] = None,
      interfaceSim: Boolean = true, interfaceThreshold: Double = 0.75,
      cosineSim: Boolean = false, cosineThreshold: Double = 0.95,
      ngramLength: Int = 5): Map[String, Long] = {
    // similarities.rs:442: at least one metric must be enabled
    require(interfaceSim || cosineSim,
      "at least one similarity metric must be enabled")
    graft.Checkpoints.scoped { ck =>
      val target = address.map(a => ck(targetHashes(spark, root, a)))

      val ifcLines: Option[DataFrame] =
        if (!interfaceSim) None
        else {
          val ifc = Similarity.interfaceSets(static(spark, root, "abi"))
          val pairs = target match {
            case None => Similarity.jaccardPairsBlocked(ifc, interfaceThreshold)
              .select(col("a_id"), col("b_id"), col("jaccard"))
            case Some(t) =>
              // J8: one-vs-all — broadcast the target interface(s) against
              // the full interface scan, keeping the target id for the edge
              val tIf = ifc.join(broadcast(t), col("skeleton_hash") === col("t_hash"))
                .select(col("t_hash"), col("interface").as("t_if"))
              ifc.crossJoin(broadcast(tIf))
                .where(col("skeleton_hash") =!= col("t_hash"))
                .select(col("t_hash").as("a_id"), col("skeleton_hash").as("b_id"),
                  when(size(col("interface")) === 0 || size(col("t_if")) === 0, lit(0.0))
                    .otherwise(
                      size(array_intersect(col("interface"), col("t_if"))).cast("double") /
                        size(array_union(col("interface"), col("t_if"))))
                    .as("jaccard"))
                .where(col("jaccard") >= interfaceThreshold)
          }
          // materialize once: the text write AND the pair count below both
          // consume this leg — uncheckpointed, each .count() would re-run
          // the full pair generation (at mainnet scale, the most expensive
          // job in the program, three times over)
          Some(ck(Layout.nquadLines(pairs, "Skeleton.similar_interface")))
        }

      val cosLines: Option[DataFrame] =
        if (!cosineSim) None
        else {
          val skeletons = static(spark, root, "skeletons")
            .select(col("skeleton_hash"), col("bytecode"))
          val pairs = target match {
            case None =>
              Similarity.cosinePairs(skeletons, ngramLength, cosineThreshold)
                .select(col("a_id"), col("b_id"), col("cosine"))
            case Some(t) =>
              // norms + both dot sides read it
              val rows = ck(Similarity.ngramRows(skeletons, ngramLength))
              val norms = rows.groupBy(col("skeleton_hash"))
                .agg(sqrt(sum(col("cnt") * col("cnt"))).as("norm"))
              val tRows = rows.join(broadcast(t),
                  col("skeleton_hash") === col("t_hash"))
                .select(col("t_hash"), col("ngram"), col("cnt").as("t_cnt"))
              rows.join(tRows, Seq("ngram"))
                .where(col("skeleton_hash") =!= col("t_hash"))
                .groupBy(col("t_hash"), col("skeleton_hash"))
                .agg(sum(col("cnt") * col("t_cnt")).cast("double").as("dot"))
                .join(norms.toDF("t_hash", "t_norm"), "t_hash")
                .join(norms, "skeleton_hash")
                .select(col("t_hash").as("a_id"), col("skeleton_hash").as("b_id"),
                  (col("dot") / (col("t_norm") * col("norm"))).as("cosine"))
                .where(col("cosine") >= cosineThreshold)
          }
          // same once-only contract as the interface leg
          Some(ck(Layout.nquadLines(pairs, "Skeleton.similar_code")))
        }

      val lines = (ifcLines.toSeq ++ cosLines.toSeq).reduce(_.unionByName(_))
      lines.write.mode("overwrite").text(outFile)
      Map(
        "interface_pairs" -> ifcLines.map(_.count() / 2).getOrElse(0L),
        "cosine_pairs" -> cosLines.map(_.count() / 2).getOrElse(0L))
    }
  }

  /** ContractLife rows (datetime stamped through the Block edge) +
    * the RQ1-RQ4 report, landed as `lifetimes` parquet + `res.txt`
    * (lifetimes.rs:296-300's output_path contract). */
  def lifetimes(spark: SparkSession, root: String, outPath: String): Map[String, Long] = {
    val blockTimes = static(spark, root, "blocks")
      .select(col("number").as("block_number"), col("datetime").as("block_datetime"))
    def stamped(entity: String) =
      static(spark, root, entity)
        .select(col("contract"), col("block_number"), col("tx_hash"))
        .join(broadcast(blockTimes), Seq("block_number"), "left")
    val dep = stamped("deployments")
    val des = stamped("destructions")
    val lives = Lifetimes.contractLives(dep, des)
    lives.write.mode("overwrite").parquet(s"$outPath/lifetimes")
    val reportText = Lifetimes.report(dep, des)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outPath))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outPath/res.txt"), reportText + "\n")
    // counted from the landed footers: no job reads the table back
    Map("lives" -> Layout.footerRows(spark, s"$outPath/lifetimes"))
  }

  /** CLI face mirroring the reference's `analyse` subcommands
    * (main.rs:100-174): `analyse similarities --extract-root <dir>
    * --output-file <f> [--address a] [--no-interface-sim]
    * [--interface-threshold t] [--cosine-sim] [--cosine-threshold t]
    * [--ngram-length n]` and `analyse lifetimes --extract-root <dir>
    * --output-path <dir>`. `--extract-root` replaces the reference's
    * Dgraph endpoint — the landed layout is our store (SURVEY S8). */
  def main(args: Array[String]): Unit = {
    def flagVal(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    def flag(name: String): Boolean = args.contains(name)
    val sub = args.headOption.getOrElse("similarities")
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    try {
      val root = flagVal("--extract-root")
        .getOrElse(sys.error("--extract-root is required"))
      val counts = sub match {
        case "similarities" => similarities(spark, root,
          flagVal("--output-file").getOrElse(graft.Temps.dir("analyse-nq")),
          address = flagVal("--address"),
          interfaceSim = !flag("--no-interface-sim"),
          interfaceThreshold =
            flagVal("--interface-threshold").map(_.toDouble).getOrElse(0.75),
          cosineSim = flag("--cosine-sim"),
          cosineThreshold =
            flagVal("--cosine-threshold").map(_.toDouble).getOrElse(0.95),
          ngramLength = flagVal("--ngram-length").map(_.toInt).getOrElse(5))
        case "lifetimes" => lifetimes(spark, root,
          flagVal("--output-path").getOrElse(graft.Temps.dir("analyse-lt")))
        case other => sys.error(s"unknown analyse subcommand: $other")
      }
      println("ANALYSE " +
        counts.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    } finally spark.stop()
  }
}

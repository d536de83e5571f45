package graft.analytics

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
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
  * Scale shape: one pass per call, every result computed once. Pair
  * generation is always an equi-join on a derived key (shared interface
  * name / shared n-gram); one-vs-all broadcasts the single target row.
  * Both similarity legs stream into the one N-Quad write, which also
  * counts them. The ContractLife rows are built once and landed; the
  * report reads them back as one fused RQ1/RQ2/RQ4 aggregate, plus one
  * RQ3 aggregate over the unstamped deployments/destructions.
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
    * the N-Quad artifact and returns per-metric pair counts, observed by
    * the write itself. Only the one-vs-all path checkpoints (the target
    * hashes and the n-gram rows its joins read twice), and every
    * checkpoint is released before it returns. */
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
          Some(Layout.nquadLines(pairs, "Skeleton.similar_interface"))
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
          Some(Layout.nquadLines(pairs, "Skeleton.similar_code"))
        }

      // both legs feed the one text write, and each leg's lines are
      // counted by that write's own job: an Observation above the leg's
      // last exchange sits in the write's result stage, whose
      // accumulator updates the scheduler applies once per partition
      val legs = Seq("interface_pairs" -> ifcLines, "cosine_pairs" -> cosLines)
        .collect { case (name, Some(lines)) =>
          val seen = Observation(name)
          (name, seen, lines.observe(seen, count(lit(1)).as("lines")))
        }
      legs.map(_._3).reduce(_.unionByName(_)).write.mode("overwrite").text(outFile)
      Map("interface_pairs" -> 0L, "cosine_pairs" -> 0L) ++ legs.map {
        case (name, seen, _) => name -> seen.get("lines").asInstanceOf[Long] / 2
      }
    }
  }

  /** ContractLife rows (datetime stamped through the Block edge) +
    * the RQ1-RQ4 report, landed as `lifetimes` parquet + `res.txt`
    * (lifetimes.rs:296-300's output_path contract). The rows are built
    * once, by the write; the report reads the landed table. */
  def lifetimes(spark: SparkSession, root: String, outPath: String): Map[String, Long] = {
    val blockTimes = static(spark, root, "blocks")
      .select(col("number").as("block_number"), col("datetime").as("block_datetime"))
    def unstamped(entity: String) =
      static(spark, root, entity)
        .select(col("contract"), col("block_number"), col("tx_hash"))
    def stamped(entity: String) =
      unstamped(entity).join(broadcast(blockTimes), Seq("block_number"), "left")
    val livesPath = s"$outPath/lifetimes"
    Lifetimes.contractLives(stamped("deployments"), stamped("destructions"))
      .write.mode("overwrite").parquet(livesPath)
    // the report reads the landed rows back (schema from the footer: no
    // job), and RQ3 never reads a datetime, so it joins no block times
    val landed = Layout.readFlat(spark, livesPath).getOrElse(
      throw new java.io.FileNotFoundException(s"$livesPath holds no parquet data"))
    val reportText = Lifetimes.report(landed,
      unstamped("deployments"), unstamped("destructions"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outPath/res.txt"), reportText + "\n")
    // counted from the landed footers: no job reads the table back
    Map("lives" -> Layout.footerRows(spark, livesPath))
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

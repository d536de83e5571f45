package graft.analytics

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.functions.{Evm, Hex}
import graft.ops.Pairs

/** The `analyse similarities` pipeline (SURVEY.md §2.5 A5-A9, §2.4
  * J7/J8; reference src/analysys/similarities.rs). Two similarity
  * measures over contract skeletons:
  *
  *  - interface Jaccard over ABI name sets (functions ∪ events ∪ errors,
  *    names only — similarities.rs:94-103, 233-238)
  *  - opcode-n-gram cosine (similarities.rs:113-143, 216-230)
  *
  * Scale design: the reference's rayon upper-triangle loop is O(n²); we
  * keep that as the exact formulation (with `$"a.id" < $"b.id"`) and
  * provide the 100-TB path as an exploded-ngram EQUI-join — pairs only
  * materialize for skeletons sharing at least one n-gram. The
  * per-ngram fan-out is not capped: an n-gram in d skeletons yields
  * d(d-1)/2 join rows.
  */
object Similarity {

  /** A5/F12: skeleton bytecode (hex) → exploded (skeleton_hash, ngram,
    * cnt) rows; PUSH arguments skipped by the tokenizer. */
  def ngramRows(skeletons: DataFrame, n: Int): DataFrame = {
    val ngramsUdf = udf { (hex: String) =>
      if (hex == null) Map.empty[String, Long]
      else Evm.ngrams(Hex.decode(hex), n)
    }
    skeletons
      .select(col("skeleton_hash"), explode(ngramsUdf(col("bytecode"))).as(Seq("ngram", "cnt")))
  }

  /** A6/J7 (scale path): all skeleton pairs with n-gram cosine ≥
    * threshold, via equi-join on shared n-grams; the norms read all of a
    * skeleton's n-grams, so scores are the reference's exact cosine. */
  def cosinePairs(skeletons: DataFrame, n: Int, threshold: Double): DataFrame = {
    val rows = ngramRows(skeletons, n)
    val norms = rows.groupBy(col("skeleton_hash"))
      .agg(sqrt(sum(col("cnt") * col("cnt"))).as("norm"))
    Pairs.sides(Pairs.sharedKey(rows, "ngram"), norms, Seq("a_norm"), Seq("b_norm"))
      .select(col("a_id"), col("b_id"),
        (col("dot").cast("double") / (col("a_norm") * col("b_norm"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Interface name set per skeleton: functions ∪ events ∪ errors names
    * (similarities.rs:94-103). */
  def interfaceSets(abi: DataFrame): DataFrame =
    abi.groupBy(col("skeleton_hash"))
      .agg(collect_set(col("name")).as("interface"))

  /** A7/J7: all pairs with interface Jaccard ≥ threshold — exact
    * upper-triangle formulation (0 when either side empty,
    * similarities.rs:233-238). For bounded inputs only; at scale use
    * the exploded-name equi-join variant [[jaccardPairsBlocked]]. */
  def jaccardPairs(interfaces: DataFrame, threshold: Double): DataFrame = {
    val a = interfaces.toDF("a_id", "a_if")
    val b = interfaces.toDF("b_id", "b_if")
    a.crossJoin(b).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        when(size(col("a_if")) === 0 || size(col("b_if")) === 0, lit(0.0))
          .otherwise(
            size(array_intersect(col("a_if"), col("b_if"))).cast("double") /
              size(array_union(col("a_if"), col("b_if"))))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** A7 at scale: candidate pairs meet on shared names (equi-join on
    * exploded name), intersection counted per pair, union by
    * inclusion-exclusion — no cross join. Pairs sharing no name (Jaccard
    * 0) never materialize, which is exactly the ≥-threshold semantics. */
  def jaccardPairsBlocked(interfaces: DataFrame, threshold: Double): DataFrame = {
    val sizes = interfaces.select(col("skeleton_hash"), size(col("interface")).as("n"))
    val names = interfaces.select(col("skeleton_hash"),
      explode(col("interface")).as("name"))
    Pairs.sides(Pairs.sharedKey(names, "name"),
        sizes, Seq("a_n"), Seq("b_n"))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("a_n") + col("b_n") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** J8: one-vs-all — broadcast the single target row against the full
    * scan (similarities.rs:314-429's paged loop becomes one broadcast
    * nested-loop join). */
  def similarToTarget(interfaces: DataFrame, targetHash: String,
      threshold: Double): DataFrame =
    similarToTarget(interfaces,
      interfaces.sparkSession.range(1).select(lit(targetHash).as("t_hash")),
      threshold)

  /** J8, address entry point form: the target skeleton arrives as a
    * 1-row frame (column `t_hash`) produced by the address → deployment
    * → skeleton two-hop (similarities.rs:45-107), so the whole
    * compare_single flow stays one lazy plan — no driver round-trip for
    * the looked-up hash. */
  def similarToTarget(interfaces: DataFrame, target: DataFrame,
      threshold: Double): DataFrame = {
    val tIf = interfaces.join(broadcast(target),
        col("skeleton_hash") === col("t_hash"))
      .select(col("t_hash"), col("interface").as("t_if"))
    interfaces.crossJoin(broadcast(tIf))
      .where(col("skeleton_hash") =!= col("t_hash"))
      .select(col("skeleton_hash"),
        when(size(col("interface")) === 0 || size(col("t_if")) === 0, lit(0.0))
          .otherwise(
            size(array_intersect(col("interface"), col("t_if"))).cast("double") /
              size(array_union(col("interface"), col("t_if"))))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  private def compliancyScore(abi: DataFrame, sigs: Seq[(String, String)],
      outCol: String): DataFrame = {
    val canonical = concat(col("name"), lit("("),
      array_join(transform(col("inputs"), f => f.getField("internalType")), ","),
      lit(")"))
    val wanted = sigs.map { case (n, t) => s"$n($t)" }
    abi.filter(col("kind") === "function")
      .select(col("skeleton_hash"), canonical.as("sig"))
      .filter(col("sig").isin(wanted: _*))
      .groupBy(col("skeleton_hash"))
      .agg(countDistinct(col("sig")).cast("int").as(outCol))
  }

  /** A8: ERC-20 compliancy 0-6 — canonical-signature membership count
    * (skeleton.rs:38-78). */
  def erc20Compliancy(abi: DataFrame): DataFrame =
    compliancyScore(abi, Seq(
      "totalSupply" -> "",
      "balanceOf" -> "address",
      "transfer" -> "address,uint256",
      "transferFrom" -> "address,address,uint256",
      "approve" -> "address,uint256",
      "allowance" -> "address,address"), "erc20_compliancy")

  /** A9: ERC-721 compliancy 0-9 (skeleton.rs:96-157). */
  def erc721Compliancy(abi: DataFrame): DataFrame =
    compliancyScore(abi, Seq(
      "balanceOf" -> "address",
      "ownerOf" -> "uint256",
      "safeTransferFrom" -> "address,address,uint256,bytes",
      "safeTransferFrom" -> "address,address,uint256",
      "transferFrom" -> "address,address,uint256",
      "approve" -> "address,uint256",
      "setApprovalForAll" -> "address,bool",
      "getApproved" -> "uint256",
      "isApprovedForAll" -> "address,address"), "erc721_compliancy")
}

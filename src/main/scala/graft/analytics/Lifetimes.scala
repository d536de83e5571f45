package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `analyse lifetimes` research questions (SURVEY.md §2.5 A10-A13,
  * §2.4 J5/J6; reference src/analysys/lifetimes.rs). Each RQ is a short
  * aggregation over `deployments ⟗ destructions` — the reference's
  * graph traversal + rayon folds collapse into grouped aggregates and
  * one equi-join on `contract`.
  *
  * One pass: the ContractLife rows are built once ([[contractLives]],
  * one grouped aggregate over a tagged union). The report reads them
  * once: RQ1, RQ2 and RQ4 are one fused aggregate over those rows
  * ([[rq124]]) and RQ3 is one aggregate over the intra-contract join, so
  * a report is two actions. The standalone `rq1`-`rq4` operators stay
  * as the per-question faces (and as the fused aggregate's reference).
  */
object Lifetimes {

  /** J5: per-contract deploy/destroy summary — the `ContractLife` row
    * (lifetimes.rs:30-45, 320-357). */
  def contractLives(deployments: DataFrame, destructions: DataFrame): DataFrame = {
    // the two per-contract aggregates + full-outer pairing fused into
    // ONE grouped aggregate over a tagged union (optimization-guide
    // §2.3/§2.4: BHJ is unsupported for full outer, so the pairing
    // sort-merged two corpus-contract-sized frames; the union
    // partial-aggregates map-side into a single exchange with no
    // sorts). Equivalence: per contract, sum(is_dep)/sum(1-is_dep)
    // reproduce the two counts (0 — not null — when a side is absent,
    // exactly what na.fill(0) produced), and min/max over the
    // side-tagged null columns reproduce the outer join's
    // null-when-absent min/max; counts/min/max are order-independent,
    // no floating point anywhere. Each leg's null placeholders take the
    // OTHER leg's column types, so every output column keeps the type
    // of the side it comes from.
    def typeOf(side: DataFrame, c: String) = side.schema(c).dataType
    val dep = deployments.select(col("contract"), lit(1L).as("is_dep"),
      col("block_number").as("dep_bn"), col("block_datetime").as("dep_ts"),
      lit(null).cast(typeOf(destructions, "block_number")).as("des_bn"),
      lit(null).cast(typeOf(destructions, "block_datetime")).as("des_ts"))
    val des = destructions.select(col("contract"), lit(0L).as("is_dep"),
      lit(null).cast(typeOf(deployments, "block_number")).as("dep_bn"),
      lit(null).cast(typeOf(deployments, "block_datetime")).as("dep_ts"),
      col("block_number").as("des_bn"), col("block_datetime").as("des_ts"))
    dep.unionAll(des)
      .groupBy(col("contract"))
      .agg(
        sum(col("is_dep")).as("n_deploys"),
        min(col("dep_bn")).as("first_deploy_block"),
        min(col("dep_ts")).as("first_deploy_ts"),
        sum(lit(1L) - col("is_dep")).as("n_destructions"),
        max(col("des_bn")).as("last_destr_block"),
        max(col("des_ts")).as("last_destr_ts"))
  }

  /** A10 (RQ1): contracts with ≥1 destruction vs all (lifetimes.rs:65-82). */
  def rq1Destroyed(lives: DataFrame): DataFrame =
    lives.agg(
      sum(when(col("n_destructions") > 0, 1L).otherwise(0L)).as("n_destroyed"),
      count(lit(1)).as("n_total"))

  /** A11 (RQ2): of destroyed contracts, destroyed exactly once vs more
    * (lifetimes.rs:84-104). */
  def rq2OnceVsMulti(lives: DataFrame): DataFrame =
    lives.filter(col("n_destructions") > 0).agg(
      sum(when(col("n_destructions") === 1, 1L).otherwise(0L)).as("n_once"),
      sum(when(col("n_destructions") > 1, 1L).otherwise(0L)).as("n_multi"))

  /** A12 (RQ3) via J6: per contract, cross-compare every destruction
    * with every deployment; count pairs sharing a block (different tx)
    * and pairs sharing a tx (lifetimes.rs:106-157). The cross join is
    * intra-contract (bounded fan-out per key), an equi-join on contract. */
  def rq3SameBlockTx(deployments: DataFrame, destructions: DataFrame): DataFrame = {
    val dep = deployments.select(
      col("contract"), col("block_number").as("dep_block"), col("tx_hash").as("dep_tx"))
    val des = destructions.select(
      col("contract"), col("block_number").as("des_block"), col("tx_hash").as("des_tx"))
    dep.join(des, Seq("contract"))
      .select(col("contract"),
        (col("dep_block") === col("des_block") && col("dep_tx") =!= col("des_tx"))
          .as("same_block_diff_tx"),
        (col("dep_tx") === col("des_tx")).as("same_tx"))
      .agg(
        sum(when(col("same_block_diff_tx"), 1L).otherwise(0L)).as("n_same_block_pairs"),
        sum(when(col("same_tx"), 1L).otherwise(0L)).as("n_same_tx_pairs"),
        countDistinct(when(col("same_block_diff_tx"), col("contract")))
          .as("n_contracts_same_block"),
        countDistinct(when(col("same_tx"), col("contract")))
          .as("n_contracts_same_tx"))
  }

  /** A13 (RQ4): lifetime = max(destr block) − min(deploy block), kept
    * when ≥ 0 (lifetimes.rs:227-229); average + POPULATION stddev over
    * blocks, average over seconds (lifetimes.rs:283-287). */
  def rq4LifetimeStats(lives: DataFrame): DataFrame =
    lives
      .filter(col("n_deploys") > 0 && col("n_destructions") > 0)
      .select(
        (col("last_destr_block") - col("first_deploy_block")).as("life_blocks"),
        (unix_timestamp(col("last_destr_ts")) - unix_timestamp(col("first_deploy_ts")))
          .as("life_seconds"))
      .filter(col("life_blocks") >= 0)
      .agg(
        count(lit(1)).as("n_contracts"),
        avg(col("life_blocks")).as("avg_life_blocks"),
        stddev_pop(col("life_blocks")).as("stddev_life_blocks"),
        avg(col("life_seconds")).as("avg_life_seconds"))

  /** RQ1, RQ2 and RQ4 as ONE aggregate over the ContractLife rows, so
    * the three questions cost one scan and one single-row exchange.
    * Each conditional aggregate ranges over exactly the row set its
    * standalone operator filters to — RQ2 over the destroyed rows
    * ([[rq2OnceVsMulti]]), RQ4 over the deployed-and-destroyed rows with
    * a non-negative lifetime ([[rq4LifetimeStats]]) — and skips the
    * nulls `when` leaves outside that set, so an empty set gives the
    * operator's null. The counts and averages are the operators' own
    * aggregates (a double sum of whole block or second counts is exact
    * below 2^53).
    * The population stddev is taken from exact decimal moments
    * (n·Σx² − (Σx)²)/n², one rounding before the square root, instead of
    * `stddev_pop`'s streaming update, whose last digit depends on how
    * the rows are partitioned: the report prints it in full, and the
    * landed table it reads is partitioned unlike the frame it was
    * built from. */
  def rq124(lives: DataFrame): DataFrame = {
    val destroyed = col("n_destructions") > 0
    val lifeBlocks = col("last_destr_block") - col("first_deploy_block")
    val lived = col("n_deploys") > 0 && destroyed && lifeBlocks >= 0
    val lifeSeconds =
      unix_timestamp(col("last_destr_ts")) - unix_timestamp(col("first_deploy_ts"))
    val x = when(lived, lifeBlocks.cast("decimal(38,0)"))
    lives.agg(
      sum(when(destroyed, 1L).otherwise(0L)).as("n_destroyed"),
      count(lit(1)).as("n_total"),
      sum(when(destroyed, when(col("n_destructions") === 1, 1L).otherwise(0L)))
        .as("n_once"),
      sum(when(destroyed, when(col("n_destructions") > 1, 1L).otherwise(0L)))
        .as("n_multi"),
      count(x).as("n_contracts"),
      avg(when(lived, lifeBlocks)).as("avg_life_blocks"),
      sum(x).as("sum_x"), sum(x * x).as("sum_xx"),
      avg(when(lived, lifeSeconds)).as("avg_life_seconds"))
      .withColumn("stddev_life_blocks", when(col("n_contracts") > 0, sqrt(
        (col("n_contracts") * col("sum_xx") - col("sum_x") * col("sum_x")).cast("double") /
          (col("n_contracts") * col("n_contracts")).cast("double"))))
      .drop("sum_x", "sum_xx")
  }

  /** K7: the `res.txt` analysis report (lifetimes.rs:65-294, 300) — the
    * four RQ results formatted as prose lines, from two actions: the
    * fused [[rq124]] over `lives` and [[rq3SameBlockTx]] over the
    * deployments/destructions (RQ3 reads only contract, block and tx).
    * The aggregates are tiny scalars, so collecting them to the driver
    * is the right plan. `lives` may be the landed ContractLife table, so
    * a caller that has written it does not build it again. */
  def report(lives: DataFrame, deployments: DataFrame,
      destructions: DataFrame): String = {
    val r = rq124(lives).head()
    val r3 = rq3SameBlockTx(deployments, destructions).head()
    Seq(
      s"RQ1: ${r.getAs[Long]("n_destroyed")} of ${r.getAs[Long]("n_total")} contracts were destroyed at least once",
      s"RQ2: ${r.getAs[Long]("n_once")} destroyed exactly once, ${r.getAs[Long]("n_multi")} more than once",
      s"RQ3: ${r3.getAs[Long]("n_same_block_pairs")} deploy/destroy pairs in the same block (different tx), " +
        s"${r3.getAs[Long]("n_same_tx_pairs")} in the same tx",
      s"RQ4: avg lifetime ${r.getAs[Double]("avg_life_blocks")} blocks " +
        s"(stddev ${r.getAs[Double]("stddev_life_blocks")}), " +
        s"${r.getAs[Double]("avg_life_seconds")} seconds, over ${r.getAs[Long]("n_contracts")} contracts"
    ).mkString("\n")
  }

  /** [[report]] over ContractLife rows built from the two inputs. */
  def report(deployments: DataFrame, destructions: DataFrame): String =
    report(contractLives(deployments, destructions), deployments, destructions)
}

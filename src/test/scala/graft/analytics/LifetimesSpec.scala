package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.TestSpark

/** The ContractLife pairing keeps each side's column types: a
  * destructions frame whose block columns are typed differently from
  * the deployments' lands its `last_destr_*` columns in its own types. */
class LifetimesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("contractLives: each leg's columns keep that leg's types") {
    val ts = java.sql.Timestamp.valueOf("2021-01-01 00:00:10")
    val ntz = java.time.LocalDateTime.parse("2021-01-01T00:00:20")
    val deployments = spark.createDataFrame(
      java.util.Arrays.asList(Row("0xa", 10L, ts), Row("0xb", 11L, ts)),
      StructType(Seq(StructField("contract", StringType),
        StructField("block_number", LongType),
        StructField("block_datetime", TimestampType))))
    val destructions = spark.createDataFrame(
      java.util.Arrays.asList(Row("0xa", 12, ntz), Row("0xc", 13, ntz)),
      StructType(Seq(StructField("contract", StringType),
        StructField("block_number", IntegerType),
        StructField("block_datetime", TimestampNTZType))))
    val lives = Lifetimes.contractLives(deployments, destructions)
    val types = lives.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("first_deploy_block") === LongType)
    assert(types("first_deploy_ts") === TimestampType)
    assert(types("last_destr_block") === IntegerType)
    assert(types("last_destr_ts") === TimestampNTZType)
    val byContract = lives.collect().map(r => r.getString(0) -> r).toMap
    val a = byContract("0xa")
    assert(a.getAs[Long]("n_deploys") === 1L && a.getAs[Long]("n_destructions") === 1L)
    assert(a.getAs[Long]("first_deploy_block") === 10L)
    assert(a.getAs[java.sql.Timestamp]("first_deploy_ts") === ts)
    assert(a.getAs[Int]("last_destr_block") === 12)
    assert(a.getAs[java.time.LocalDateTime]("last_destr_ts") === ntz)
    val c = byContract("0xc")
    assert(c.getAs[Long]("n_deploys") === 0L && c.isNullAt(c.fieldIndex("first_deploy_block")))
    assert(byContract("0xb").isNullAt(byContract("0xb").fieldIndex("last_destr_ts")))
  }
}

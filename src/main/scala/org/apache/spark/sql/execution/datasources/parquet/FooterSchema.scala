package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's package-private footer-to-schema conversion
  * (`ParquetFileFormat.readSchema`): one file's footer, read on the
  * driver with row groups skipped, resolves to exactly the schema
  * Spark's own inference would give — the row-metadata schema when
  * present, else the converted parquet schema under the session's
  * binary/INT96/NTZ/nanos settings. */
object FooterSchema {
  def apply(file: FileStatus, spark: SparkSession): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark).get
  }
}

package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.command.DDLUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex,
  InsertIntoHadoopFsRelationCommand}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Catalog-free bucketed parquet tables: Spark's own bucketed write and
  * bucketed scan, addressed by path instead of by table name.
  *
  * `DataFrameWriter.bucketBy` only works with `saveAsTable` (a catalog
  * entry); `write` plans the same `InsertIntoHadoopFsRelationCommand` that
  * `saveAsTable` runs, with the [[BucketSpec]] and no table, so the files
  * carry the `_0000b` bucket-id suffix a bucketed scan reads back. `read`
  * wraps the directory in a `HadoopFsRelation` that carries the same spec,
  * so the scan reports `HashPartitioning(bucketColumn, numBuckets)` and an
  * operator that requires that clustering (a `groupBy(bucketColumn)`) runs
  * with no exchange. Both sides hash with murmur3 `pmod`, the function of a
  * shuffle's `hashpartitioning`.
  */
object BucketedParquet {

  /** Overwrite `path` with `df`, bucketed by `bucketColumn` into
    * `numBuckets` buckets, each bucket's rows sorted by `sortColumns`.
    */
  def write(df: DataFrame, path: String, numBuckets: Int, bucketColumn: String,
      sortColumns: Seq[String]): Unit = {
    val spark = df.sparkSession
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val query = df.queryExecution.analyzed
    val out = p.makeQualified(fs.getUri, fs.getWorkingDirectory)
    // overwriting a directory the input still reads would delete its files
    DDLUtils.verifyNotReadPath(query, out)
    val cmd = InsertIntoHadoopFsRelationCommand(
      outputPath = out,
      staticPartitions = Map.empty,
      ifPartitionNotExists = false,
      partitionColumns = Nil,
      bucketSpec = Some(BucketSpec(numBuckets, Seq(bucketColumn), sortColumns)),
      fileFormat = new ParquetFileFormat,
      options = Map.empty,
      query = query,
      mode = SaveMode.Overwrite,
      catalogTable = None,
      fileIndex = None,
      outputColumnNames = query.output.map(_.name))
    spark.sessionState.executePlan(cmd).assertCommandExecuted()
  }

  /** Read a directory written by [[write]] as a bucketed relation. The
    * schema is read from the files' footers; `emptySchema` stands in when
    * there are none (a bucketed write of no rows creates no file).
    */
  def read(spark: SparkSession, path: String, numBuckets: Int, bucketColumn: String,
      options: Map[String, String], emptySchema: StructType): DataFrame = {
    val files = new InMemoryFileIndex(spark, Seq(new Path(path)), options, None)
    val format = new ParquetFileFormat
    val dataSchema = format.inferSchema(spark, options, files.allFiles()).getOrElse(emptySchema)
    spark.baseRelationToDataFrame(HadoopFsRelation(files, new StructType(), dataSchema,
      Some(BucketSpec(numBuckets, Seq(bucketColumn), Nil)), format, options)(spark))
  }
}

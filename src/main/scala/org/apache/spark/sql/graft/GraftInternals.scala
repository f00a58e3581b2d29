package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Bridge into Spark's `private[sql]` surface (the standard idiom for
  * libraries shipping native Catalyst expressions — same approach as
  * spark-alchemy / frameless). Everything else in graft stays on the
  * public API; the bridge carries Column↔Expression conversion,
  * session function registration, checkpoint-file lookup, and the
  * manifest scan ([[parquetFiles]]) that builds a parquet relation
  * from a known file list without Spark's listing and
  * schema-inference jobs.
  */
object GraftInternals {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Idempotently register a native expression as a SQL function on this
    * session (so `expr("name(...)")` and spark.sql both see it). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    val id = FunctionIdentifier(name)
    if (!reg.functionExists(id)) {
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  def expressionInfo(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", name)

  /** The reliable-checkpoint file backing a checkpoint()ed DataFrame —
    * None for localCheckpoint (block-backed, GC-cleaned) or any
    * non-checkpoint plan. Used by graft.operators.Lineage.Chain to
    * delete superseded iteration checkpoints. */
  def checkpointFile(df: org.apache.spark.sql.DataFrame): Option[String] =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getCheckpointFile
      case _ => None
    }

  /** `spark.read.option("basePath", basePath).parquet(files)` for a
    * file list whose sizes the caller already knows (an index
    * manifest), minus the two Spark jobs that read would start: no
    * listing (the file index is served from a cache filled with the
    * given statuses) and no schema-inference job (the data schema is
    * the footer of the path-wise first file — the one file Spark's
    * non-merging inference reads — converted in the calling JVM with the
    * session's converter settings). Partition columns are inferred
    * from the paths under `basePath` exactly as the reader would.
    * `files` must be non-empty and their sizes exact: the parquet
    * reader locates each footer from the size it is given. */
  def parquetFiles(spark: SparkSession, basePath: String,
                   files: Seq[(String, Long)]): DataFrame = {
    require(files.nonEmpty, s"no parquet files to scan under $basePath")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = new Path(basePath).getFileSystem(hadoopConf)
    val statuses = files.map { case (p, size) =>
      new FileStatus(size, false, 0, 0L, 0L, fs.makeQualified(new Path(p)))
    }
    val known = statuses.map(st => st.getPath -> Array(st)).toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = known.get(p)
      override def putLeafFiles(p: Path, leaves: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = Map("basePath" -> basePath)
    val index = new InMemoryFileIndex(spark, statuses.map(_.getPath), options,
      None, cache)
    val first = statuses.minBy(_.getPath.toString)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, hadoopConf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val dataSchema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, dataSchema.asNullable, None,
      new ParquetFileFormat, options)(spark))
  }
}

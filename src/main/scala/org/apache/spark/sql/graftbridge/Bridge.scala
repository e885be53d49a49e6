package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression and LogicalPlan → DataFrame bridges. Spark 4
  * hides the classic converters behind `private[sql]`; custom-operator
  * libraries conventionally expose them from a package under
  * `org.apache.spark.sql`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The persisted RDDs behind a `localCheckpoint`ed DataFrame (the
    * `LogicalRDD` leaves of its plan) — `Dataset.unpersist` only talks
    * to the CacheManager, so explicitly releasing checkpoint blocks
    * needs the underlying RDD handles.
    */
  def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** A DataFrame whose logical plan is a single `LogicalRDD` leaf over
    * an existing `InternalRow` RDD — the lineage-flattening half of
    * `localCheckpoint` WITHOUT the truncation: actions recompute
    * through the RDD DAG (the compiled physical plan) if the RDD's
    * storage is evicted, instead of failing, and the Catalyst plan
    * stays leaf-sized for every downstream reference.
    */
  def fromInternalRows(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** A DataFrame's physical output as a FRESH `InternalRow` RDD safe to
    * persist (rows copied out of the operators' reused buffers) —
    * pairs with [[fromInternalRows]].
    */
  def toInternalRows(df: DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd.map(_.copy())

  /** Write `df` into the fresh dir `dir` in Spark's BUCKETED layout —
    * one file per non-empty bucket per task, the bucket id encoded in
    * the file name (`part-…_000NN.c000.snappy.parquet`) — with no
    * catalog table: the `InsertIntoHadoopFsRelationCommand` that
    * `saveAsTable(…bucketBy…)` plans, built directly with a
    * `BucketSpec` and `catalogTable = None`. `partitionCol` adds a
    * `<col>=<value>` directory level above the bucket files. The
    * command runs eagerly, like every command `Dataset.ofRows` is given.
    */
  def writeBucketed(spark: SparkSession, df: DataFrame, dir: String,
                    bucketCol: String, numBuckets: Int,
                    partitionCol: Option[String]): Unit = {
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val query = df.queryExecution.analyzed
    val resolver = spark.sessionState.conf.resolver
    ofRows(spark, InsertIntoHadoopFsRelationCommand(
      outputPath = new org.apache.hadoop.fs.Path(dir),
      staticPartitions = Map.empty,
      ifPartitionNotExists = false,
      partitionColumns = query.output.filter(a => partitionCol.exists(resolver(a.name, _))),
      bucketSpec = Some(BucketSpec(numBuckets, Seq(bucketCol), Seq(bucketCol))),
      fileFormat = new ParquetFileFormat,
      options = Map.empty,
      query = query,
      mode = SaveMode.ErrorIfExists,
      catalogTable = None,
      fileIndex = None,
      outputColumnNames = query.output.map(_.name)))
  }

  /** Read one dir written by [[writeBucketed]] as a BUCKETED relation,
    * from its files alone: the listing comes from an `InMemoryFileIndex`
    * (partition values typed by `partitionSchema`), the bucketing from
    * the `BucketSpec` given here, and the size the planner weighs for a
    * broadcast from the index's file sizes. The scan carries
    * HashPartitioning(bucketCol, numBuckets), so joins and aggregations
    * on the bucket key need no Exchange on this side.
    */
  def readBucketed(spark: SparkSession, dir: String, dataSchema: StructType,
                   partitionSchema: StructType, bucketCol: String,
                   numBuckets: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val index = new InMemoryFileIndex(spark, Seq(new org.apache.hadoop.fs.Path(dir)),
      Map.empty[String, String], Some(StructType(dataSchema.fields ++ partitionSchema.fields)))
    val rel = HadoopFsRelation(index, index.partitionSchema, dataSchema,
      Some(BucketSpec(numBuckets, Seq(bucketCol), Seq(bucketCol))),
      new ParquetFileFormat, Map.empty[String, String])(spark)
    ofRows(spark, LogicalRelation(rel))
  }

  /** Every "t<version>/<name>"-suffixed file a FileStreamSource
    * checkpoint's source ledger attributes to a batch ≤ `maxBatchId` —
    * read through Spark's OWN `FileStreamSourceLog` (the class that
    * WRITES the ledger also parses its version header, compaction
    * layout, and any future format evolution). This is the one
    * streaming-internals touch in the library
    * ([[graft.etl.ChangeFeed.CheckpointFrontier]]); constructing the
    * `private[sql]`-package class lives here with the other
    * private-API converters so a Spark upgrade breaks ONE auditable
    * file, loudly, at compile time.
    */
  def committedSourceFiles(spark: SparkSession, sourceLogDir: String,
                           maxBatchId: Long): Seq[String] = {
    import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog
    val log = new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark,
      sourceLogDir)
    log.allFiles().iterator
      .filter(_.batchId <= maxBatchId)
      .map(_.sparkPath.toUri.getPath.split('/'))
      .collect { case parts if parts.length >= 2 =>
        parts.takeRight(2).mkString("/") }
      .toSeq
  }
}

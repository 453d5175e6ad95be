package graft.index

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.io.api.Binary
import org.apache.spark.{GraftInputMetrics, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{FileSourceScanExec, PartitionedFileUtil}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** A handle's reader of posting blocks by term: the rows of
  * [[GraftIndex.blockRows]] with no per-query plan. A small select used to
  * plan that `term IN` scan on every query: analysis, optimization,
  * codegen, and a broadcast of the session's Hadoop conf, which Spark's
  * parquet reader makes each time it is built. Here the handle makes, once:
  *   - the postings scan's own file splits, grouped into its partitions,
  *     each file with its segment's ordinal ([[SegmentWriter.segOrdOf]]);
  *   - one broadcast of the Hadoop conf, set up for the postings read
  *     schema as Spark's parquet reader sets it up.
  *
  * A query then runs ONE job over those splits ([[GraftIndex.collectWithin]]).
  * Its task opens each file with Spark's vectorized parquet reader, under
  * the terms' `term IN` as a parquet filter, so row-group statistics,
  * dictionaries and column indexes still prune what it reads. It keeps the
  * rows whose term is one of the query's, checked on the term column
  * before a row is decoded, and decodes them as the scan's encoder would:
  * a `max_gtf` written before format 2 reads as [[GraftIndex.postingsOf]]
  * coalesces it. */
private[index] final class PostingsReader private (
    splits: RDD[Array[PostingsReader.Split]],
    conf: Broadcast[SerializableConfiguration],
    sectioned: Boolean,
    batchRows: Int) {

  /** the blocks of `terms`, in one job that ships at most `cap` postings */
  def collect(terms: Seq[String], cap: Long): Option[Array[PostingBlockRow]] =
    GraftIndex.collectWithin(splits,
      new PostingsReader.Read(conf, terms.toArray, sectioned, batchRows), cap)
}

private[index] object PostingsReader {
  /** one file split of the postings scan and its segment's ordinal */
  final case class Split(file: PartitionedFile, segOrd: Int)

  /** The reader of `postings` (a handle's [[GraftIndex.postings]]), over
    * the data segments `segs` ((dir, ordinal)). Its splits are the ones
    * Spark's scan of that plan reads, partitioned as that scan partitions
    * them (FileSourceScanExec's non-bucketed read), so a collect's tasks
    * and their share of the cap are the scan's. */
  def apply(spark: SparkSession, postings: DataFrame, segs: Seq[(String, Int)],
      sectioned: Boolean): PostingsReader = {
    val scan = postings.queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(throw new IllegalStateException("the postings plan reads no files"))
    val rel = scan.relation
    val listing = scan.selectedPartitions
    val maxSplit = FilePartition.maxSplitBytes(spark, listing)
    val files = listing.filePartitionIterator.flatMap { p =>
      p.files.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
        rel.fileFormat.isSplitable(spark, rel.options, f.getPath), maxSplit, p.values))
    }.toArray.sortBy(_.length)(Ordering[Long].reverse)
    val ordOf = SegmentWriter.segOrdOf(spark, segs)
    val splits = spark.sparkContext.makeRDD(
      FilePartition.getFilePartitions(spark, files.toSeq, maxSplit).map(p =>
        (p.files.map(f => Split(f, ordOf(f.urlEncodedPath))), p.preferredLocations().toSeq)))
    val sql = spark.sessionState.conf
    val hadoop = spark.sessionState.newHadoopConfWithOptions(rel.options)
    hadoop.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    hadoop.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, SegmentWriter.schema("postings").json)
    hadoop.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    hadoop.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sql.nestedSchemaPruningEnabled)
    hadoop.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    hadoop.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
    hadoop.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.isParquetINT96AsTimestamp)
    hadoop.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    hadoop.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong)
    hadoop.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sql.parquetReaderRespectUnknownTypeAnnotation)
    new PostingsReader(splits, spark.sparkContext.broadcast(new SerializableConfiguration(hadoop)),
      sectioned, sql.parquetVectorizedReaderBatchSize)
  }

  /** The read of one query's `terms` over one partition's splits. It is a
    * named class, not a lambda, for the reason [[GraftIndex.collectWithin]]'s
    * task is one. A file is opened only when the rows before it have been
    * taken, so a task that passes its share stops opening files. */
  private final class Read(conf: Broadcast[SerializableConfiguration], terms: Array[String],
      sectioned: Boolean, batchRows: Int)
      extends (Iterator[Array[Split]] => Iterator[PostingBlockRow]) with Serializable {
    def apply(splits: Iterator[Array[Split]]): Iterator[PostingBlockRow] = {
      if (terms.isEmpty) return Iterator.empty
      val ctx = TaskContext.get()
      val job = new JobConf(conf.value.value) // the task's own copy: it takes the filter
      ParquetInputFormat.setFilterPredicate(job, FilterApi.in(FilterApi.binaryColumn("term"),
        terms.iterator.map(Binary.fromString).toSet.asJava))
      val want = new java.util.HashSet[UTF8String](terms.map(UTF8String.fromString).toSeq.asJava)
      val record = GraftInputMetrics.recorder(ctx)
      splits.flatMap(_.iterator).flatMap { s =>
        val reader = new VectorizedParquetRecordReader(false, batchRows)
        ctx.addTaskCompletionListener[Unit](_ => reader.close())
        val f = s.file
        reader.initialize(new FileSplit(f.toPath, f.start, f.length, Array.empty[String]),
          new TaskAttemptContextImpl(job, new TaskAttemptID()))
        reader.initBatch(new StructType(), InternalRow.empty)
        new Blocks(reader, s.segOrd, want, record)
      }
    }

    /** the rows of one opened file whose term is wanted, decoded. The
      * columns are the postings read schema's, in PostingBlockRow's order. */
    private final class Blocks(reader: VectorizedParquetRecordReader, segOrd: Int,
        want: java.util.Set[UTF8String], record: Long => Unit) extends Iterator[PostingBlockRow] {
      private val batch = reader.resultBatch()
      private var row = 0
      private var ready = false
      private var done = false

      def hasNext: Boolean = {
        while (!ready && !done) {
          if (row < batch.numRows) {
            if (want.contains(batch.column(0).getUTF8String(row))) ready = true else row += 1
          } else if (reader.nextBatch()) { record(batch.numRows); row = 0 }
          else { done = true; reader.close() }
        }
        ready
      }

      def next(): PostingBlockRow = {
        if (!hasNext) throw new NoSuchElementException
        ready = false
        val r = row
        row += 1
        def c(i: Int) = batch.column(i)
        val maxTf = c(6).getInt(r)
        PostingBlockRow(c(0).getUTF8String(r).toString, c(1).getInt(r), c(2).getInt(r),
          c(3).getLong(r), c(4).getLong(r), c(5).getInt(r), maxTf,
          if (!c(7).isNullAt(r)) c(7).getInt(r) else if (sectioned) -1 else maxTf,
          c(8).getInt(r), c(9).getLong(r), c(10).getInt(r), c(11).getBinary(r), segOrd)
      }
    }
  }
}

package graft.sources

import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator

/** The parquet format every [[TxTable]] data write goes through: Spark's
  * own parquet writer (the bytes on disk are unchanged) wrapped in an
  * `OutputWriter` that records each file's manifest entries as its rows
  * pass — the row count, the min/max of each stats column at its
  * canonical type ([[TxTable.statKind]]: integral as itself, date as
  * epoch days, timestamp as epoch micros, string in UTF-8 byte order)
  * and the Bloom words of each Bloom column ([[TxTable.bloomPos]] over
  * [[TxTable.hash32Of]] of the canonical string). No job re-reads the
  * written files and no footer is opened; the shape of Delta's
  * `DeltaJobStatisticsTracker`.
  *
  * The entries come back to the driver through an accumulator registered
  * for the one write ([[StatsParquetFileFormat.recording]]): every file
  * is written in the write job's result stage, whose task updates apply
  * once per task, and entries are keyed by file name.
  */
private[sources] class StatsParquetFileFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val inner = super.prepareWrite(sparkSession, job, options, dataSchema)
    val sink = options.get(StatsParquetFileFormat.SinkOption)
      .flatMap(id => Option(StatsParquetFileFormat.sinks.get(id)))
      .getOrElse(throw new IllegalStateException(
        "StatsParquetFileFormat writes only inside StatsParquetFileFormat.recording"))
    new StatsWriterFactory(inner, sink)
  }
}

/** One written file's manifest entries, by file name. */
private[sources] final case class WrittenFile(name: String, rows: Long,
    ranges: Map[String, TxTable.ColRange], blooms: Map[String, Array[Long]])

private[sources] object StatsParquetFileFormat {

  /** The write option naming the [[Sink]] a write records into. */
  val SinkOption = "graft.stats.sink"

  /** What one write records (stats columns; Bloom columns with their
    * filter geometry) and where the entries go.
    */
  final case class Sink(statsCols: Seq[String], blooms: Seq[(String, (Int, Int))],
      acc: CollectionAccumulator[WrittenFile])

  private val sinks = new java.util.concurrent.ConcurrentHashMap[String, Sink]()

  /** Run `write` — a DataFrameWriter action through this format with the
    * given options, issued by the caller so the job keeps the caller's
    * call site — and return each written file's entries by file name.
    */
  def recording(spark: SparkSession, statsCols: Seq[String],
      blooms: Seq[(String, (Int, Int))])(
      write: Map[String, String] => Unit): Map[String, WrittenFile] = {
    val acc = spark.sparkContext.collectionAccumulator[WrittenFile]
    val id = java.util.UUID.randomUUID().toString
    sinks.put(id, Sink(statsCols, blooms, acc))
    try write(Map(SinkOption -> id))
    finally sinks.remove(id)
    import scala.jdk.CollectionConverters._
    acc.value.asScala.map(w => w.name -> w).toMap
  }
}

/** Resolves a [[StatsParquetFileFormat.Sink]] against the written schema
  * and wraps each of Spark's parquet writers in a [[StatsOutputWriter]].
  */
private final class StatsWriterFactory(inner: OutputWriterFactory,
    sink: StatsParquetFileFormat.Sink) extends OutputWriterFactory {
  override def getFileExtension(context: TaskAttemptContext): String =
    inner.getFileExtension(context)

  override def newInstance(path: String, dataSchema: StructType,
      context: TaskAttemptContext): OutputWriter = {
    def ordinal(c: String) = dataSchema.fieldIndex(c)
    new StatsOutputWriter(inner.newInstance(path, dataSchema, context),
      sink.statsCols.map(c => (c, ordinal(c), dataSchema(c).dataType)).toArray,
      sink.blooms.map { case (c, (mBits, k)) =>
        (c, ordinal(c), dataSchema(c).dataType, mBits,
          graft.ext.PortableHash.minhashAB(k).toArray)
      }.toArray,
      sink.acc)
  }
}

/** Spark's parquet writer plus the per-file recording: every row goes
  * to `inner` unchanged, then widens the running ranges and sets its
  * Bloom bits; `close` reports the file's [[WrittenFile]].
  */
private final class StatsOutputWriter(inner: OutputWriter,
    stats: Array[(String, Int, DataType)],
    blooms: Array[(String, Int, DataType, Int, Array[(Long, Long)])],
    acc: CollectionAccumulator[WrittenFile]) extends OutputWriter {
  private var rows = 0L
  private val isString = stats.map(_._3 == StringType)
  private val seen = new Array[Boolean](stats.length)
  private val loL = new Array[Long](stats.length)
  private val hiL = new Array[Long](stats.length)
  private val loS = new Array[UTF8String](stats.length)
  private val hiS = new Array[UTF8String](stats.length)
  private val words = blooms.map(b => new Array[Long](b._4 / 32))
  private lazy val md = java.security.MessageDigest.getInstance("MD5")

  /** The canonical long of a non-null integral, date or timestamp cell. */
  private def canonicalLong(row: InternalRow, i: Int, dt: DataType): Long = dt match {
    case ByteType => row.getByte(i).toLong
    case ShortType => row.getShort(i).toLong
    case IntegerType | DateType => row.getInt(i).toLong
    case _ => row.getLong(i) // LongType; TimestampType as epoch micros
  }

  override def write(row: InternalRow): Unit = {
    inner.write(row)
    rows += 1
    var j = 0
    while (j < stats.length) {
      val (_, i, dt) = stats(j)
      if (!row.isNullAt(i)) {
        if (isString(j)) {
          // the row buffer is reused: a kept bound is copied out of it
          val v = row.getUTF8String(i)
          if (!seen(j) || v.binaryCompare(loS(j)) < 0) loS(j) = v.clone()
          if (!seen(j) || v.binaryCompare(hiS(j)) > 0) hiS(j) = v.clone()
        } else {
          val v = canonicalLong(row, i, dt)
          if (!seen(j) || v < loL(j)) loL(j) = v
          if (!seen(j) || v > hiL(j)) hiL(j) = v
        }
        seen(j) = true
      }
      j += 1
    }
    j = 0
    while (j < blooms.length) {
      val (_, i, dt, mBits, ab) = blooms(j)
      if (!row.isNullAt(i)) {
        val repr =
          if (dt == StringType) row.getUTF8String(i).toString
          else java.lang.Long.toString(canonicalLong(row, i, dt))
        val x = math.floorMod(TxTable.hash32Of(md,
          repr.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
          graft.ext.PortableHash.P)
        val w = words(j)
        var h = 0
        while (h < ab.length) {
          val pos = TxTable.bloomPos(x, ab(h), mBits)
          w(pos / 32) |= 1L << (pos % 32)
          h += 1
        }
      }
      j += 1
    }
  }

  override def close(): Unit = {
    inner.close()
    val ranges = stats.indices.collect { case j if seen(j) =>
      stats(j)._1 -> (
        if (isString(j)) TxTable.ColRange("string", loS(j).toString, hiS(j).toString)
        else TxTable.ColRange("long", loL(j).toString, hiL(j).toString))
    }.toMap
    acc.add(WrittenFile(new org.apache.hadoop.fs.Path(inner.path()).getName, rows,
      ranges, blooms.indices.map(j => blooms(j)._1 -> words(j)).toMap))
  }

  override def path(): String = inner.path()
}

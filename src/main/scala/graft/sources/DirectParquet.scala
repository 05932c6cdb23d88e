package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions,
  ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.reflect.ClassTag

/**
 * The crawl round's one parquet writer: docs, seen-archive slices,
 * frontier bucket files and politeness state all go through it. Its
 * [[scan]] is the round's read of its own directories.
 *
 * Each file is encoded by Spark's own [[ParquetWriteSupport]] (same
 * encoder, footer schema and metadata as `df.write.parquet`) into
 * parquet's java.nio [[LocalOutputFile]] under a hidden temp name, then
 * atomically renamed to `part-<partition>.parquet`. Names are
 * deterministic, so a retried task overwrites its own file; readers never
 * see a temp file (Spark skips `.`-files, the SeenIndex loads `*.parquet`).
 *
 * No Hadoop `FileSystem`, `FileOutputCommitter` or `FileFormatWriter`:
 * without native Hadoop, the checksummed `LocalFileSystem` forks a `chmod`
 * child per file create and mkdir (hundreds per crawl round) and writes a
 * `.crc` beside every file; the committer adds `_temporary` renames and
 * `_SUCCESS`; and every write task deserialized the session's whole Hadoop
 * `Configuration` (~1,090 gzip'd entries) to read a few `parquet.*` keys.
 * The crawl tables' commit points are the frontier manifest rename and
 * the overwrite of the per-round directories, both owned by the caller.
 *
 * Tasks return one [[FileCommit]] per file — the DataSource V2
 * `DataWriter` → `WriterCommitMessage` shape — so callers build manifests
 * and counts from the messages instead of re-reading footers.
 */
object DirectParquet {

  /** One committed file: its bucket (-1 when the table has none), the
    * writing partition, rows and bytes. */
  final case class FileCommit(bucket: Int, partition: Int, rows: Long, bytes: Long)
    extends WriterCommitMessage

  /**
   * The writer settings the driver resolves once from the session and the
   * caller's write options — the only configuration a task receives:
   * codec, zstd level, block and page size, page checksums, dictionary,
   * and the columns whose statistics are off (`#<column>` options).
   * `schema` must match the layout of the rows handed to the writer.
   */
  final case class Settings(schema: StructType, props: Map[String, String]) {

    def open(file: Path): ParquetWriter[InternalRow] = {
      val conf = new Configuration(false)
      props.foreach { case (k, v) => conf.set(k, v) }
      ParquetWriteSupport.setSchema(schema, conf)
      val b = new RowWriterBuilder(new LocalOutputFile(file))
        .withConf(conf)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .withCompressionCodec(ParquetOutputFormat.getCompression(conf))
        .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
        .withPageSize(ParquetOutputFormat.getPageSize(conf))
        .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
        .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
        .withPageWriteChecksumEnabled(ParquetOutputFormat.getPageWriteChecksumEnabled(conf))
      props.foreach { case (k, v) =>
        if (k.startsWith(Settings.statsPrefix))
          b.withStatisticsEnabled(k.stripPrefix(Settings.statsPrefix), v.toBoolean)
      }
      b.build()
    }
  }

  object Settings {
    private val scalarKeys = Seq(
      org.apache.parquet.hadoop.codec.ZstandardCodec.PARQUET_COMPRESS_ZSTD_LEVEL,
      ParquetOutputFormat.BLOCK_SIZE, ParquetOutputFormat.PAGE_SIZE,
      ParquetOutputFormat.PAGE_WRITE_CHECKSUM_ENABLED, ParquetOutputFormat.ENABLE_DICTIONARY)
    private[DirectParquet] val statsPrefix = ParquetOutputFormat.STATISTICS_ENABLED + "#"

    /** Resolve like `df.write.options(options).parquet(...)` would: an
      * option wins over the session's SQL conf, which wins over its
      * Hadoop conf; the codec follows Spark's `compression` option and
      * `spark.sql.parquet.compression.codec`. */
    def resolve(spark: SparkSession, schema: StructType,
        options: Map[String, String] = Map.empty): Settings = {
      val sql = spark.sessionState.conf
      val sqlSet = sql.getAllConfs
      val hadoop = spark.sparkContext.hadoopConfiguration
      def lookup(k: String): Option[String] =
        options.get(k).orElse(sqlSet.get(k)).orElse(Option(hadoop.get(k)))
      val props = scalarKeys.flatMap(k => lookup(k).map(k -> _)).toMap ++
        options.filter(_._1.startsWith(statsPrefix)) ++ Map(
          ParquetOutputFormat.COMPRESSION ->
            new ParquetOptions(options, sql).compressionCodecClassName) ++
        // the session settings ParquetWriteSupport's schema converter reads
        Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT, SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
          SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED, SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
          .map(e => e.key -> sql.getConfString(e.key))
      Settings(schema, props)
    }
  }

  private final class RowWriterBuilder(file: LocalOutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Writer of one `part-<partition>.parquet` under `dir`. The hidden temp
    * name carries the task attempt, so concurrent attempts never share
    * one; [[commit]] renames it over any earlier attempt's file. */
  final class PartWriter(settings: Settings, dir: Path, partition: Int, val bucket: Int = -1,
      attempt: Long = 0L) extends DataWriter[InternalRow] {
    Files.createDirectories(dir)
    private val target = dir.resolve(f"part-$partition%05d.parquet")
    private val temp = dir.resolve(f".part-$partition%05d.parquet.$attempt.tmp")
    private val writer = settings.open(temp)
    private var rows = 0L

    override def write(row: InternalRow): Unit = { writer.write(row); rows += 1 }

    override def commit(): FileCommit = {
      writer.close()
      Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      FileCommit(bucket, partition, rows, Files.size(target))
    }

    override def abort(): Unit =
      try writer.close() finally Files.deleteIfExists(temp): Unit

    override def close(): Unit = ()
  }

  /** A [[PartWriter]] for the running task: partition id and attempt come
    * from its TaskContext. */
  def taskWriter(settings: Settings, dir: Path, bucket: Int = -1): PartWriter = {
    val tc = TaskContext.get()
    new PartWriter(settings, dir, tc.partitionId(), bucket, tc.taskAttemptId())
  }

  /** Abort every writer (best effort), then rethrow `e`. */
  def abortAll(writers: Iterable[PartWriter], e: Throwable): Nothing = {
    writers.foreach(w => try w.abort() catch { case s: Throwable => e.addSuppressed(s) })
    throw e
  }

  /**
   * Run `f` over every partition of `df`'s physical rows and collect one
   * result per partition. The job runs as one SQL execution started HERE,
   * so its stages carry the caller's call site like any DataFrame action
   * and executors see the session's SQL conf.
   */
  def runJob[T: ClassTag](df: DataFrame)(f: (Int, Iterator[InternalRow]) => T): Array[T] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("direct parquet write")) {
      qe.toRdd.mapPartitionsWithIndex((i, it) => Iterator.single(f(i, it))).collect()
    }
  }

  /**
   * `spark.read.schema(schema).parquet(dirs: _*)`'s relation minus Spark's
   * path check, which starts a ForkJoinPool thread per path on every call
   * (the crawl reads the pool's bucket dirs and the round's docs every
   * round). `schema` is the data schema as given (`spark.read` would make
   * it nullable); the files must sit directly under `dirs` (no partition
   * discovery), and a missing dir throws [[java.io.FileNotFoundException]].
   */
  def scan(spark: SparkSession, dirs: Seq[String], schema: StructType): DataFrame = {
    dirs.foreach { d =>
      if (!Files.isDirectory(Paths.get(d)))
        throw new java.io.FileNotFoundException(s"no parquet directory $d")
    }
    val index = new InMemoryFileIndex(spark, dirs.map(new org.apache.hadoop.fs.Path(_)),
      Map.empty, Some(schema))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(), schema, None,
      new ParquetFileFormat(), Map.empty)(spark))
  }

  /** Write `rows` on the driver as `<dir>/part-00000.parquet`, replacing
    * the directory's previous content. */
  def writeDriverFile(dir: String, settings: Settings, rows: Iterator[InternalRow]): FileCommit = {
    clearDir(Paths.get(dir))
    val w = new PartWriter(settings, Paths.get(dir), 0)
    try {
      rows.foreach(w.write)
      w.commit()
    } catch { case e: Throwable => abortAll(Seq(w), e) }
  }

  /** Recursive delete (no-op if absent) — the overwrite of a round dir. */
  def clearDir(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(clearDir)
    Files.deleteIfExists(p): Unit
  }

  /** A directory's entries, with the listing stream CLOSED: an unclosed
    * `Files.list` keeps the directory fd open until GC finalization, and
    * at per-bucket/per-round call rates the leaked fds exhaust `ulimit -n`
    * mid-campaign (measured: bench crash at pair 4). */
  def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try {
      val b = Vector.newBuilder[Path]
      s.forEach(x => b += x)
      b.result()
    } finally s.close()
  }
}

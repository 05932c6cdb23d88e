package graft.sources

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/**
 * Minimal Iceberg-style table facade: snapshot isolation + atomic commit
 * over plain partitioned Parquet, with BUCKET-granular data-file tracking.
 *
 * No Iceberg runtime jar exists in this container (SURVEY.md §7.0), so the
 * north rule's "Iceberg tables" are emulated with the same *semantics* the
 * pipeline needs, behind a one-file facade so a real Iceberg catalog is a
 * drop-in swap later:
 *
 *  - the manifest maps every `host_bucket` to the data directory holding
 *    its current file (an Iceberg manifest's data-file list, keyed by
 *    partition). One commit writes it, for seeding and for every round:
 *    [[IcebergishTable.commitMerge]] — the emulation of `MERGE INTO` +
 *    partition-level file replacement — runs one task per bucket that
 *    merges the bucket's delta into its sorted file in one read and one
 *    write. Only dirty buckets are rewritten; clean buckets keep pointing
 *    at their old files, so per-round I/O is O(touched buckets), never
 *    O(table), and only the delta is shuffled;
 *  - each bucket's file is SORTED in the order the merge emits (for the
 *    frontier: host, then priority, [[graft.frontier.Frontier.fileOrder]])
 *    — the clustered layout that lets the fifo pop be a streaming
 *    per-partition take with no Sort in its plan, and the next merge
 *    stream the file instead of re-sorting it;
 *  - bucket files are written by [[DirectParquet]]: one
 *    `data-r<round>-<nonce>/hb=<b>/part-<partition>.parquet` per bucket,
 *    and each write task returns its per-file row counts, from which the
 *    commit builds the manifest (Iceberg's manifest stats; no footer
 *    re-read, no count() re-scan);
 *  - `manifest.json.tmp` → `manifest.json` POSIX rename is the ONLY
 *    commit point of this table (the reference's analogue is the single
 *    SQLite transaction, store/store.go:69-105); a crash mid-write leaves
 *    a stale-but-consistent snapshot, its unreferenced data dir is pruned
 *    by the next commit, and the torn round replays idempotently. No
 *    Hadoop output committer runs: its `_temporary` renames and
 *    `_SUCCESS` marker would be a second, redundant commit protocol, and
 *    Hadoop's checksummed local filesystem forked a `chmod` per file and
 *    directory while every write task deserialized the whole session
 *    Hadoop conf (see [[DirectParquet]]);
 *  - data dirs no longer referenced by the NEW manifest are pruned (real
 *    Iceberg keeps history by retention policy; single-writer here).
 *
 * Scale note (100 TB design point): the DOCS table is append-only (one new
 * partition dir per round, never rewritten; handled directly by the
 * crawler). This facade serves the FRONTIER, whose per-round delta is
 * bucket-selective. Bucket files must stay under
 * `spark.sql.files.maxPartitionBytes` so a bucket is never split across
 * read partitions (the streaming-pop invariant): numBuckets scales with
 * the frontier (10^10 URLs → 10^4-10^5 buckets), checked at commit time.
 */
object IcebergishTable {

  /** One bucket's current data file: the snapshot dir holding it +
    * rows (manifest stats). */
  case class BucketEntry(dir: String, rows: Long)

  case class Snapshot(round: Int, rows: Long, buckets: Map[Int, BucketEntry]) {
    def bucketPaths(rootDir: String): Seq[String] =
      buckets.toSeq.sortBy(_._1).map { case (b, e) => s"$rootDir/${e.dir}/hb=$b" }
  }

  /** (bucket, its delta rows, a reader of its file's rows) → None when
    * the bucket stays clean, else its new rows in file order. */
  type BucketMerge = (Int, Iterator[InternalRow], () => Iterator[InternalRow]) =>
    Option[Iterator[InternalRow]]

  /** Bucket → manifest entry for one commit's files. A bucket written by
    * two tasks fails the commit: its sorted layout would be torn across
    * files, which popSortedFifo's sortedness check cannot see — it would
    * silently over-pop per-host budgets. */
  def bucketEntries(dataDir: String, files: Seq[DirectParquet.FileCommit]): Map[Int, BucketEntry] = {
    files.groupBy(_.bucket).foreach { case (bucket, fs) =>
      if (fs.size > 1)
        throw new IllegalStateException(
          s"bucket $bucket was written by partitions ${fs.map(_.partition).sorted.mkString(",")}")
    }
    files.map(f => f.bucket -> BucketEntry(dataDir, f.rows)).toMap
  }

  def renderManifest(s: Snapshot): String = {
    val bs = s.buckets.toSeq.sortBy(_._1).map { case (b, e) =>
      s""""$b":{"dir":"${e.dir}","rows":${e.rows}}"""
    }.mkString(",")
    s"""{"round":${s.round},"rows":${s.rows},"buckets":{$bs}}"""
  }

  /** @param source names the manifest in error messages. */
  def parseManifest(txt: String, source: String = "manifest"): Snapshot = {
    def topField(k: String): Option[String] =
      txt.split("\"" + k + "\":") match {
        case parts if parts.length > 1 => Some(parts(1).split("[,{}]")(0).trim)
        case _ => None
      }
    val round = topField("round").get.toInt
    val rows = topField("rows").get.toLong
    // older builds wrote a "compact" round; compact < round means rounds
    // (compact, round] live in delta files this build never reads — their
    // rows would silently vanish from the pool, so refuse the snapshot
    topField("compact").map(_.toInt).filter(_ < round).foreach { c =>
      throw new IllegalStateException(
        s"$source: snapshot round $round has uncompacted delta rounds ($c, $round] " +
          "from the removed delta pool; finish it with the build that wrote it")
    }
    val bucketsBody = txt.split("\"buckets\":\\{")(1).stripSuffix("}").stripSuffix("}")
    val entries = "\"(\\d+)\":\\{\"dir\":\"([^\"]+)\",\"rows\":(\\d+)\\}".r
      .findAllMatchIn(bucketsBody)
      .map(m => m.group(1).toInt -> BucketEntry(m.group(2), m.group(3).toLong))
      .toMap
    Snapshot(round, rows, entries)
  }
}

class IcebergishTable(val root: String, schema: StructType,
    /** Extra options for the parquet writes (e.g. `parquet.block.size` —
      * the default 128 MB row-group buffer per concurrent writer task is
      * real heap at local[32]; bucket files are a few MB here anyway). */
    writerOptions: Map[String, String] = Map.empty,
    /** Columns DROPPED from the data files — for columns the reader can
      * derive (the frontier's `host` and `host_bucket` are pure functions
      * of `url`; `last_visit` is constant 0 in the pool). Every dropped byte is paid per round in
      * sort+encode CPU and fresh-page commits — at 27 M pool rows the
      * derivable columns were ~25 % of the rewrite volume. Callers that
      * drop columns must restore them on read (see
      * [[graft.frontier.Frontier.restorePool]]). */
    dropCols: Seq[String] = Nil) extends Serializable {

  import IcebergishTable.{BucketEntry, Snapshot}

  /** The on-file schema (full schema minus [[dropCols]]). */
  private val fileSchema: StructType =
    StructType(schema.filterNot(f => dropCols.contains(f.name)))

  /** The file schema as a file read gives it: every column nullable. */
  private val readSchema: StructType = StructType(fileSchema.map(_.copy(nullable = true)))

  private def manifestPath = Paths.get(root, "manifest.json")

  def currentSnapshot(): Option[Snapshot] = {
    if (!Files.exists(manifestPath)) return None
    Some(IcebergishTable.parseManifest(Files.readString(manifestPath),
      manifestPath.toString))
  }

  /**
   * Read the current snapshot (one multi-path FileScan over the bucket
   * files). Read-parallelism note: Spark packs small files into read
   * partitions by `spark.sql.files.maxPartitionBytes` /
   * `spark.sql.files.openCostInBytes` — when bucket files are much smaller
   * than maxPartitionBytes (small local frontiers), many buckets share one
   * partition and the streaming pop's parallelism is capped at the PACK
   * count. Deployments with small bucket files should size
   * openCostInBytes ≈ maxPartitionBytes ≈ the bucket-file size (the bench
   * does); at the 10^10 design point bucket files are ~100 MB and the
   * defaults already give one-file-per-partition. Correctness never
   * depends on the packing: bucket files never split below
   * maxPartitionBytes (checked at commit) and packed files are
   * bucket-disjoint, which is all the streaming take needs.
   */
  def read(spark: SparkSession): DataFrame = {
    val paths = currentSnapshot().map(_.bucketPaths(root)).getOrElse(Nil)
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fileSchema)
    else DirectParquet.scan(spark, paths, readSchema)
  }

  /**
   * Commit snapshot `round` as a per-bucket merge of `delta` into the
   * bucket files (`MERGE INTO` with bucket-level file replacement).
   * Partition b of `delta` must hold exactly bucket b's rows (e.g. on
   * [[graft.frontier.Frontier.bucketToken]]); its task runs `merge` over
   * them and a reader of bucket b's file (file-schema rows in file order)
   * and writes the rows it returns, in the same order, straight to the
   * new file — no file row crosses an exchange or is re-sorted. A clean
   * bucket keeps its file unread; a dirty one left empty drops out of the
   * manifest.
   * Returns total table rows.
   *
   * @param beforeRename invoked with the new snapshot's total rows after
   *   the data write but BEFORE the atomic manifest rename — the caller's
   *   barrier for side writes that must be durable before this snapshot
   *   becomes visible. A throw aborts the commit with the manifest
   *   un-bumped (torn round).
   */
  def commitMerge(delta: DataFrame, round: Int, merge: IcebergishTable.BucketMerge,
      beforeRename: Long => Unit): Long = {
    val spark = delta.sparkSession
    Files.createDirectories(Paths.get(root))
    val dataDir = s"data-r$round-${java.util.UUID.randomUUID().toString.take(8)}"
    val prev = currentSnapshot().map(_.buckets).getOrElse(Map.empty)
    val current = prev.map { case (b, e) => b -> s"$root/${e.dir}/hb=$b" }
    // Spark's own parquet reader (vectorized, InternalRow out), built once
    // here: the tasks carry its broadcast conf, not a Hadoop conf each.
    // Bucket files are written with the read schema (every column nullable).
    val readFile = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, readSchema, new StructType(), readSchema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())
    val settings = DirectParquet.Settings.resolve(spark, readSchema, writerOptions)
    val out = s"$root/$dataDir"
    val results = DirectParquet.runJob(delta) { (bucket, rows) =>
      def pool(): Iterator[InternalRow] = current.get(bucket).iterator
        .flatMap(d => DirectParquet.listDir(Paths.get(d)))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .flatMap(f => readFile(PartitionedFile(InternalRow.empty,
          SparkPath.fromPath(new org.apache.hadoop.fs.Path(f.toUri)), 0L, Files.size(f))))
      merge(bucket, rows, () => pool()).map { merged =>
        var w: DirectParquet.PartWriter = null
        try {
          merged.foreach { r =>
            if (w == null) w = DirectParquet.taskWriter(settings, Paths.get(out, s"hb=$bucket"), bucket)
            w.write(r)
          }
          bucket -> Option(w).map(_.commit())
        } catch { case e: Throwable => DirectParquet.abortAll(Option(w), e) }
      }
    }.flatten
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val files = results.flatMap(_._2).toSeq
    files.filter(_.bytes > maxSplit).foreach { f =>
      System.err.println(s"[icebergish] WARN bucket ${f.bucket} file (${f.bytes} B) exceeds " +
        s"maxPartitionBytes=$maxSplit — raise numBuckets (streaming-pop invariant)")
    }
    // the written files plus the clean buckets become snapshot `round`;
    // the barrier, the rename, then the prune of every data dir the new
    // manifest no longer references
    val buckets = (prev -- results.map(_._1)) ++ IcebergishTable.bucketEntries(dataDir, files)
    val rows = buckets.valuesIterator.map(_.rows).sum
    beforeRename(rows)
    renameManifest(Snapshot(round, rows, buckets))
    prune(keep = buckets.valuesIterator.map(_.dir).toSet)
    rows
  }

  private def renameManifest(s: Snapshot): Unit = {
    val tmp = Paths.get(root, "manifest.json.tmp")
    Files.writeString(tmp, IcebergishTable.renderManifest(s))
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def prune(keep: Set[String]): Unit = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) return
    DirectParquet.listDir(dir).foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("data-r") && !keep.contains(name))
        DirectParquet.clearDir(p)
    }
  }
}

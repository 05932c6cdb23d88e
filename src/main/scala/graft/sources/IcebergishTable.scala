package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
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
 *    partition). A commit may be **partial**: only dirty buckets are
 *    rewritten; clean buckets keep pointing at their old files — the
 *    emulation of `MERGE INTO` + partition-level file replacement, so
 *    per-round I/O is O(touched buckets), never O(table);
 *  - each bucket's file is written SORTED by `sortCols` (for the frontier:
 *    host, then priority) — the clustered layout that lets the fifo pop be
 *    a streaming per-partition take with no Sort in its plan;
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
    bucketCol: String = "host_bucket",
    sortCols: Seq[String] = Nil,
    /** Extra options for the parquet writes (e.g. `parquet.block.size` —
      * the default 128 MB row-group buffer per concurrent writer task is
      * real heap at local[32]; bucket files are a few MB here anyway). */
    writerOptions: Map[String, String] = Map.empty,
    /** Columns DROPPED from the data files right after the commit sort —
      * for columns the reader can derive (the frontier's `host` and
      * `host_bucket` are pure functions of `url`; `last_visit` is
      * constant 0 in the pool). Every dropped byte is paid per round in
      * sort+encode CPU and fresh-page commits — at 27 M pool rows the
      * derivable columns were ~25 % of the rewrite volume. Callers that
      * drop columns must restore them on read (see
      * [[graft.frontier.Frontier.restorePool]]). */
    dropCols: Seq[String] = Nil) extends Serializable {

  import IcebergishTable.{BucketEntry, Snapshot}

  /** The on-file schema (full schema minus [[dropCols]]). */
  private val fileSchema: StructType =
    StructType(schema.filterNot(f => dropCols.contains(f.name)))

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
  def read(spark: SparkSession): DataFrame =
    currentSnapshot() match {
      case Some(s) =>
        val paths = s.bucketPaths(root)
        if (paths.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fileSchema)
        else spark.read.schema(fileSchema).parquet(paths: _*)
      case _ =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fileSchema)
    }

  /**
   * Commit `df` as snapshot `round`. With `dirtyBuckets = None` the whole
   * table is replaced (initial load); with `Some(buckets)` ONLY those
   * buckets' files are rewritten — `df` must contain exactly the new
   * content of the dirty buckets, and every clean bucket survives
   * untouched from the previous snapshot. Returns total table rows.
   */
  /** @param preClustered the caller guarantees `df` is already hash-
    *   partitioned by `bucketCol` (e.g. straight out of
    *   [[graft.frontier.Frontier.mergeRound]]) — the commit skips its own
    *   repartition, so merge + sorted write share ONE exchange.
    * @param beforeRename invoked with the new snapshot's total rows after
    *   the data write but BEFORE the atomic manifest rename — the caller's
    *   barrier for side writes (the politeness state, the round's lineage
    *   record) that must be durable before this snapshot becomes visible.
    *   A throw aborts the commit with the manifest un-bumped (torn round). */
  def commit(df: DataFrame, round: Int, dirtyBuckets: Option[Set[Int]] = None,
      preClustered: Boolean = false, beforeRename: Long => Unit = _ => ()): Long = {
    Files.createDirectories(Paths.get(root))
    val spark = df.sparkSession
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = s"data-r$round-$nonce"
    // one exchange clusters rows per bucket (one task → one file per
    // bucket dir); the within-partition sort gives each bucket file the
    // (host, priority) layout the streaming pop depends on. The sort leads
    // with the bucket key so each bucket's rows are contiguous in its
    // partition — the writer starts one file per run of equal keys.
    val keyed = df.withColumn("hb", col(bucketCol))
    val clustered0 =
      if (preClustered) keyed else keyed.repartition(col(bucketCol))
    val clustered =
      if (sortCols.nonEmpty)
        clustered0.sortWithinPartitions((col("hb") +: sortCols.map(col)): _*)
      else clustered0
    // a projection after the sort is narrow — file row order is preserved
    val files = DirectParquet.writeBuckets(
      clustered.select((fileSchema.fieldNames.map(col) :+ col("hb")).toIndexedSeq: _*),
      s"$root/$dataDir", writerOptions)

    // bucket → rows straight from the write tasks' commit messages
    // (Iceberg-manifest-style stats, no footer re-read)
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    files.filter(_.bytes > maxSplit).foreach { f =>
      System.err.println(s"[icebergish] WARN bucket ${f.bucket} file (${f.bytes} B) exceeds " +
        s"maxPartitionBytes=$maxSplit — raise numBuckets (streaming-pop invariant)")
    }
    // preClustered is a caller CLAIM the commit verifies (ADVICE r2): a
    // truly bucket-hash-partitioned input puts each bucket wholly in one
    // write task → exactly one file per bucket dir. A bucket from two
    // tasks means its (host, prio) layout is torn across files and
    // popSortedFifo's per-partition sortedness check could NOT catch it
    // (each fragment is sorted); it would silently over-pop per-host
    // budgets. Fail the commit loudly instead.
    files.groupBy(_.bucket).foreach { case (bucket, fs) =>
      if (fs.size > 1)
        throw new IllegalStateException(
          s"commit(preClustered=$preClustered) but bucket $bucket was written by " +
            s"partitions ${fs.map(_.partition).sorted.mkString(",")} — input was not " +
            s"hash-partitioned by $bucketCol")
    }
    val written: Map[Int, BucketEntry] =
      files.map(f => f.bucket -> BucketEntry(dataDir, f.rows)).toMap

    val prev = currentSnapshot()
    val kept: Map[Int, BucketEntry] = (prev, dirtyBuckets) match {
      case (Some(p), Some(dirty)) => p.buckets -- dirty
      case _ => Map.empty
    }
    val buckets = kept ++ written
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

  /** Materialize a directory listing and CLOSE the stream — an unclosed
    * `Files.list` keeps the directory fd open until GC finalization, and
    * at per-bucket/per-round call rates the leaked fds exhaust `ulimit -n`
    * mid-campaign (measured: bench crash at pair 4). */
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(p)
    try {
      val b = Vector.newBuilder[java.nio.file.Path]
      s.forEach(x => b += x)
      b.result()
    } finally s.close()
  }

  private def prune(keep: Set[String]): Unit = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) return
    listDir(dir).foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("data-r") && !keep.contains(name))
        DirectParquet.clearDir(p)
    }
  }
}

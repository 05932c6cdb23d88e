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
 *  - per-bucket row counts come from the parquet FOOTERS of the
 *    just-written files (driver-side metadata reads, like Iceberg's
 *    manifest stats) — NOT from a count() re-scan of the data (a
 *    round-1 serial-floor cost);
 *  - `manifest.json.tmp` → `manifest.json` POSIX rename is the atomic
 *    commit point (the reference's analogue is the single SQLite
 *    transaction, store/store.go:69-105); a crash mid-write leaves a
 *    stale-but-consistent snapshot and the torn round replays
 *    idempotently;
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
    * @param beforeRename invoked after the data write + footer stats but
    *   BEFORE the atomic manifest rename — the caller's barrier for
    *   overlapped side writes (seen archive, politeness state) that must
    *   be durable before this snapshot becomes visible. A throw aborts
    *   the commit with the manifest un-bumped (torn round). */
  def commit(df: DataFrame, round: Int, dirtyBuckets: Option[Set[Int]] = None,
      preClustered: Boolean = false, beforeRename: () => Unit = () => ()): Long = {
    Files.createDirectories(Paths.get(root))
    val spark = df.sparkSession
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = s"data-r$round-$nonce"
    // one exchange clusters rows per bucket (one task → one file per
    // bucket dir); the within-partition sort gives each bucket file the
    // (host, priority) layout the streaming pop depends on. The sort MUST
    // lead with the write's partition key (`hb`): FileFormatWriter requires
    // ordering by partition columns and would otherwise inject its own
    // (unstable) sort, destroying the layout.
    val keyed = df.withColumn("hb", col(bucketCol)) // partition dir key
    val clustered0 =
      if (preClustered) keyed else keyed.repartition(col(bucketCol))
    val clustered1 =
      if (sortCols.nonEmpty)
        clustered0.sortWithinPartitions((col("hb") +: sortCols.map(col)): _*)
      else clustered0
    // a projection after the sort is narrow — file row order is preserved
    val clustered =
      if (dropCols.isEmpty) clustered1 else clustered1.drop(dropCols: _*)
    clustered
      .write.mode("overwrite").options(writerOptions)
      .partitionBy("hb").parquet(s"$root/$dataDir")

    // bucket → rows from parquet footers (metadata only, no data re-scan;
    // footer opens parallelized — sequential opens were a measurable
    // driver-side serial floor at 64+ buckets/round)
    val conf = spark.sessionState.newHadoopConf()
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val written: Map[Int, BucketEntry] =
      listBucketDirs(s"$root/$dataDir").par(32) { case (bucket, dir) =>
        var rows = 0L
        var files = 0
        listDir(dir).iterator
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach { f =>
            if (Files.size(f) > maxSplit)
              System.err.println(s"[icebergish] WARN bucket file $f exceeds " +
                s"maxPartitionBytes=$maxSplit — raise numBuckets (streaming-pop invariant)")
            rows += parquetRowCount(conf, f.toString)
            files += 1
          }
        // preClustered is a caller CLAIM the commit verifies (ADVICE r2):
        // a truly bucket-hash-partitioned input puts each bucket wholly in
        // one write task → exactly one file per bucket dir. Two files mean
        // the bucket's rows spanned tasks — its (host, prio) layout is torn
        // across files and popSortedFifo's per-partition sortedness check
        // could NOT catch it (each fragment is sorted); it would silently
        // over-pop per-host budgets. Fail the commit loudly instead.
        if (preClustered && files > 1)
          throw new IllegalStateException(
            s"commit(preClustered=true) but bucket $bucket wrote $files files — " +
              s"input was not hash-partitioned by $bucketCol")
        bucket -> BucketEntry(dataDir, rows)
      }.toMap

    beforeRename()
    val prev = currentSnapshot()
    val kept: Map[Int, BucketEntry] = (prev, dirtyBuckets) match {
      case (Some(p), Some(dirty)) => p.buckets -- dirty
      case _ => Map.empty
    }
    val buckets = kept ++ written
    val rows = buckets.valuesIterator.map(_.rows).sum
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

  private implicit class ParOps[A](xs: Seq[A]) {
    /** Fixed-pool parallel map (scala-parallel-collections isn't on the
      * classpath; this is driver-side metadata I/O, not data compute). */
    def par[B](threads: Int)(f: A => B): Seq[B] = {
      if (xs.lengthCompare(2) < 0) return xs.map(f)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(threads, xs.length))
      try {
        val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = f(x)
        }))
        futures.map(_.get())
      } finally pool.shutdown()
    }
  }

  private def listBucketDirs(dataDir: String): Seq[(Int, java.nio.file.Path)] = {
    val d = Paths.get(dataDir)
    if (!Files.exists(d)) return Seq.empty
    listDir(d)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("hb="))
      .map(p => p.getFileName.toString.stripPrefix("hb=").toInt -> p)
  }

  /** Row count from the parquet footer (Iceberg-manifest-style stats). */
  private def parquetRowCount(conf: org.apache.hadoop.conf.Configuration,
      file: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  private def prune(keep: Set[String]): Unit = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) return
    listDir(dir).foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("data-r") && !keep.contains(name))
        deleteRecursively(p)
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

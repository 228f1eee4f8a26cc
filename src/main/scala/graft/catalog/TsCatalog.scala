package graft.catalog

import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.StatementExecutor.OneShotMaxRows

/** Per-series options (reference ts_opts_t, src/timeseries.h:88-92).
  * Both duplication policies are real write options here (the reference
  * parses but never applies them, src/statement_execute.c:102):
  * "insert" appends duplicates, "ignore" drops points whose timestamp
  * already exists (reference DP_IGNORE/DP_INSERT, src/timeseries.h:43).
  * Retention is enforced by [[TsCatalog.enforceRetention]] (parsed but
  * never enforced in the reference — no reaper exists there).
  */
final case class SeriesMeta(
    retentionNs: Option[Long],
    dupPolicy: String = "insert")

/** Filesystem-backed database/series catalog.
  *
  * Layout — the Spark-native analog of the reference's storage plane
  * (db dir + per-series chunk/partition files, src/timeseries.c:82-123,
  * src/partition.h:9-15):
  *
  * {{{
  * <root>/<db>/<series>/_series.json          series options
  * <root>/<db>/<series>/._series.json.<uuid>.tmp  a create in flight
  * <root>/<db>/<series>/data/bucket=<n>/part-....parquet
  * <root>/<db>/<series>/data/bucket=<n>/.part-....tmp     an append in flight
  * }}}
  *
  * `bucket = timestamp div bucketNs` is the analog of the reference's
  * 900-second in-memory chunk window (TS_CHUNK_SIZE,
  * src/timeseries.h:13) promoted to a parquet partition column: range
  * queries skip whole buckets at the driver's directory listing and
  * parquet row-group min/max stats prune within a bucket — the same
  * two-level seek as the reference's chunk window + sparse index
  * (src/index.c:65-109).
  * At 100 TB the bucket width is the knob that keeps partition counts
  * sane; it is stored per series, and a catalog of another width
  * refuses the series ([[seriesMeta]]).
  *
  * Two write paths, one per input shape: [[insert]] writes a DataFrame
  * in one Spark job (bulk loads, streaming micro-batches), [[append]]
  * writes rows the driver already holds (a wire INSERT) with no job.
  * Both add complete parquet files only — a point is visible, and
  * acked, once its file is renamed into place — and neither fsyncs, as
  * Spark's own committer does not and the reference's WAL pwrite does
  * not (src/wal.c:70-83).
  *
  * Two read paths, likewise: [[readSeries]]/[[readBuckets]] build a
  * Spark scan, for reads of any size; [[localPoints]] reads a few
  * buckets' files on the driver with no job, through the reader a scan
  * task uses, and gives up past
  * [[graft.engine.StatementExecutor.OneShotMaxRows]] rows (the wire
  * reads and the `ignore`-policy lookup of [[append]]). The reference
  * answers such reads from its own chunks the same way, with no
  * distributed step (`ts_last`, src/timeseries.c:1180-1215; `ts_range`,
  * src/partition.c:203-212). Both read only complete, renamed files.
  */
final class TsCatalog(spark: SparkSession, val root: String,
    val bucketNs: Long = TsCatalog.DefaultBucketNs) {

  import TsCatalog._

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- database ops (reference src/dbcontext.c:85-167) ----

  def createDb(name: String): Boolean = fs.mkdirs(new Path(root, name))

  def dbExists(name: String): Boolean = fs.exists(new Path(root, name))

  def listDbs(): Seq[String] =
    if (!fs.exists(new Path(root))) Nil
    else fs.listStatus(new Path(root)).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted

  def dropDb(name: String): Boolean = {
    val p = new Path(root, name)
    fs.exists(p) && fs.delete(p, true)
  }

  // ---- series ops (reference src/timeseries.c:173-208) ----

  private def seriesPath(db: String, name: String) = new Path(new Path(root, db), name)
  private def dataPath(db: String, name: String) = new Path(seriesPath(db, name), "data")

  def createSeries(db: String, name: String, meta: SeriesMeta): Boolean = {
    if (!dbExists(db)) return false
    val sp = seriesPath(db, name)
    if (fs.exists(sp)) return false
    fs.mkdirs(sp)
    writeMeta(db, name, meta)
    true
  }

  def seriesExists(db: String, name: String): Boolean =
    fs.exists(seriesPath(db, name))

  def listSeries(db: String): Seq[String] =
    if (!dbExists(db)) Nil
    else try fs.listStatus(new Path(root, db)).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq.sorted
    catch { case _: java.io.FileNotFoundException => Nil } // raced dropDb

  def dropSeries(db: String, name: String): Boolean = {
    val p = seriesPath(db, name)
    fs.exists(p) && fs.delete(p, true)
  }

  private def metaPath(db: String, name: String) = new Path(seriesPath(db, name), "_series.json")

  /** The options of a series, from its `_series.json`; None while it
    * has none (never created, or dropped). [[writeMeta]] renames a
    * complete file into place, so a file that is not exactly what it
    * writes is damaged and fails the read with its path, never reading
    * as defaults; so does a series stored at another bucket width than
    * this catalog's, which would mis-prune every range and reap live
    * buckets. */
  def seriesMeta(db: String, name: String): Option[SeriesMeta] = {
    val p = metaPath(db, name)
    if (!fs.exists(p)) return None
    // exists→open is a TOCTOU window against a concurrent dropSeries
    // (CatalogSoakSpec caught it): a series deleted in between reads
    // as absent, exactly like losing the exists() race
    val in =
      try fs.open(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    text match {
      case MetaJson(ret, pol, width) =>
        require(width.toLong == bucketNs,
          s"$p records $width ns buckets; this catalog reads $bucketNs ns buckets")
        Some(SeriesMeta(Option.when(ret != "null")(ret.toLong), pol))
      case _ => throw new IllegalStateException(s"torn or incomplete series metadata at $p: '$text'")
    }
  }

  /** Writes a series' options to a hidden file and renames it into
    * place, so a reader sees the whole file or none. */
  private def writeMeta(db: String, name: String, meta: SeriesMeta): Unit = {
    val p = metaPath(db, name)
    val hidden = new Path(p.getParent, s".${p.getName}.${UUID.randomUUID()}.tmp")
    val out = fs.create(hidden, true)
    val retJson = meta.retentionNs.map(_.toString).getOrElse("null")
    try out.write(
      s"""{"retentionNs":$retJson,"dupPolicy":"${meta.dupPolicy}","bucketNs":$bucketNs}"""
        .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(hidden, p))
      throw new java.io.IOException(s"createSeries: cannot rename $hidden to $p")
  }

  // ---- read / write (reference ts_insert src/timeseries.c:621-682) ----

  /** All points of a series as (timestamp: Long nanos, value: Double).
    *
    * Pruning happens at DRIVER LISTING: one `listStatus` of the
    * series' data directory names its `bucket=` partitions, and only
    * those a closed range can touch ([[buckets]]) reach Spark, as
    * explicit paths under `basePath`. Spark handed a directory lists
    * its subdirectories itself, and past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    * with a distributed job: ~750 ms of frame construction for the
    * whole root of a 97-bucket series against ~25 ms for one bucket
    * directory. The derived `bucket` predicate stays on the plan as a
    * real PartitionFilter, the precise timestamp filter prunes parquet
    * row groups within the surviving buckets (the sparse-index analog,
    * src/index.c:65-109) — together the analog of the reference's
    * chunk-window skip (src/timeseries.c:882-891). Unranged reads and
    * ranges spanning more than 32 buckets still pay Spark's parallel
    * listing of the paths they pass.
    */
  def readSeries(db: String, name: String,
      range: Option[(Long, Long)] = None): DataFrame = {
    // a range prunes by bucket width: fail on a series of another width
    range.foreach(_ => seriesMeta(db, name))
    readBuckets(db, name, buckets(db, name, range), range)
  }

  /** The `bucket=` partitions of a series that `range` can touch (all
    * of them without a range), ascending, from one driver-side listing.
    * A missing series (never written, or a raced drop) has none. */
  private[graft] def buckets(db: String, name: String,
      range: Option[(Long, Long)]): Seq[Long] = {
    val listed =
      try fs.listStatus(dataPath(db, name)).toSeq
      catch { case _: java.io.FileNotFoundException => return Nil }
    val all = listed.map(_.getPath.getName).filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toLong).sorted
    range.fold(all) { case (t0, t1) =>
      all.filter(b => b >= Math.floorDiv(t0, bucketNs) && b <= Math.floorDiv(t1, bucketNs))
    }
  }

  /** The points of the given `bucket=` partitions (as listed by
    * [[buckets]]), restricted to `range`. Building the frame runs no
    * Spark job while `bucketIds` stays at or under Spark's parallel
    * listing threshold (32). */
  private[graft] def readBuckets(db: String, name: String, bucketIds: Seq[Long],
      range: Option[(Long, Long)]): DataFrame = {
    if (bucketIds.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], PointSchema)
    val dp = dataPath(db, name)
    val full = spark.read.schema(PointSchemaWithBucket)
      .option("basePath", dp.toString)
      .parquet(bucketIds.map(b => new Path(dp, s"bucket=$b").toString): _*)
    val pruned = range match {
      case Some((t0, t1)) =>
        full.filter(col("bucket") >= Math.floorDiv(t0, bucketNs) &&
            col("bucket") <= Math.floorDiv(t1, bucketNs) &&
            col("timestamp") >= t0 && col("timestamp") <= t1)
      case None => full
    }
    pruned.select(col("timestamp"), col("value"))
  }

  /** The points of the given `bucket=` partitions (as listed by
    * [[buckets]]) inside `range`, sorted stably by timestamp, read on
    * the driver with no Spark job; `None` once more than
    * [[graft.engine.StatementExecutor.OneShotMaxRows]] rows have been
    * decoded, in range or not, so neither the driver's memory nor its
    * decode time passes that bound, or on a null point (only a bulk
    * [[insert]] of nullable columns stores one), which the caller's
    * Spark plan handles. A bucket directory is listed when the read
    * reaches it, so a read that gives up lists no further. Points are
    * gathered in file name order, so equal timestamps keep one order
    * while the bucket is unchanged. A file listed and then deleted (a
    * concurrent [[compact]] or [[dropSeries]]) fails the read with
    * `FileNotFoundException`, as a Spark scan does. */
  private[graft] def localPoints(db: String, name: String, bucketIds: Seq[Long],
      range: Option[(Long, Long)]): Option[Seq[(Long, Double)]] = {
    val dp = dataPath(db, name)
    val decoded = new AtomicInteger
    val points = ArrayBuffer.empty[(Long, Double)]
    val fits = bucketIds.iterator.forall { b =>
      val files = fs.listStatus(new Path(dp, s"bucket=$b"))
        .filter(f => isPointFile(f.getPath.getName)).sortBy(_.getPath.getName).toSeq
      readPointFiles(files, range, decoded).map(points ++= _).isDefined
    }
    if (fits) Some(points.sortBy(_._1).toSeq) else None
  }

  /** The points of `files` inside `range`, in file order; `None` once
    * `decoded`, shared by every reader of one [[localPoints]], passes
    * the bound, or on a null point. The files are read concurrently on
    * [[TsCatalog.ReadPool]]: a scan task's per-file set-up (footer,
    * schema, reader) is most of the cost of a small file, and a wire
    * INSERT adds one small file per bucket. */
  private[graft] def readPointFiles(files: Seq[FileStatus], range: Option[(Long, Long)],
      decoded: AtomicInteger = new AtomicInteger): Option[Seq[(Long, Double)]] = {
    val (lo, hi) = range.getOrElse((Long.MinValue, Long.MaxValue))
    def read(f: FileStatus): Option[ArrayBuffer[(Long, Double)]] =
      if (decoded.get() > OneShotMaxRows) None
      else {
        val rows = pointReader(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath),
          0L, f.getLen, Array.empty[String], f.getModificationTime, f.getLen))
        try {
          val points = ArrayBuffer.empty[(Long, Double)]
          var ok = true
          while (ok && rows.hasNext) {
            val r = rows.next()
            ok = decoded.incrementAndGet() <= OneShotMaxRows && !r.isNullAt(0) && !r.isNullAt(1)
            if (ok) {
              val t = r.getLong(0)
              if (t >= lo && t <= hi) points += ((t, r.getDouble(1)))
            }
          }
          if (ok) Some(points) else None
        } finally rows match {
          // a reader left before its end would hold its file open
          case c: java.io.Closeable => c.close()
          case _ => ()
        }
      }
    val parts = files.map(f => Future(read(f))(ReadPool)).map(Await.result(_, Duration.Inf))
    if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get)) else None
  }

  /** Spark's parquet reader for point files, the function a scan task
    * calls per file (row at a time, no pushed filters), built on the
    * first [[localPoints]]. */
  private lazy val pointReader: PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(spark, PointSchema,
      new StructType(), PointSchema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConfWithOptions(Map.empty))

  /** Append a batch of points, honoring the series' duplication policy;
    * returns the number of points written.
    *
    * One Spark job: the write itself. The count is an observed metric
    * of that job ([[org.apache.spark.sql.Observation]]), read after
    * the parquet commit, so nothing is cached and the batch plan runs
    * once. The write keeps the input's partitioning, so streaming
    * micro-batches and bulk loads keep their parallel write. Rows
    * already on the driver go through [[append]] instead, which runs
    * no job.
    *
    * "ignore": drop batch rows whose timestamp already exists — the
    * existing-side lookup reads ONLY the listed buckets the batch can
    * collide with ([[bucketPrunePredicate]]: the exact bucket set for
    * narrow batches, min/max range bounds past the literal cap), passed
    * to Spark as explicit paths ([[readBuckets]]), so the cost scales
    * with the batch's time span, not series size, and Spark never lists
    * the data root itself.
    */
  def insert(db: String, name: String, points: DataFrame): Long = {
    val meta = seriesMeta(db, name).getOrElse(SeriesMeta(None))
    val batch = points.select(
      col("timestamp").cast(LongType).as("timestamp"),
      col("value").cast(DoubleType).as("value"))
    val deduped =
      if (meta.dupPolicy == "ignore") {
        val b = batch.dropDuplicates("timestamp")
        val listed = buckets(db, name, None)
        val hit = if (listed.isEmpty) Nil else listed.filter(bucketPrunePredicate(b))
        if (hit.nonEmpty) {
          val existing = readBuckets(db, name, hit, None).select(col("timestamp"))
          b.join(existing, Seq("timestamp"), "left_anti")
        } else b
      } else batch
    val written = new Observation()
    // sort within partitions by timestamp before writing: parquet
    // row-group min/max stats become tight, so intra-bucket range
    // seeks prune row groups (the sparse-index analog only works on
    // sorted data; the reference keeps chunks sorted for the same
    // reason, src/timeseries.c:357-395)
    deduped.withColumn("bucket", bucketExpr)
      .observe(written, count(lit(1)).as("n"))
      .sortWithinPartitions("bucket", "timestamp")
      .write.mode("append").partitionBy("bucket")
      .parquet(dataPath(db, name).toString)
    written.get("n").asInstanceOf[Long]
  }

  /** Append a batch the driver already holds (a wire INSERT), honoring
    * the series' duplication policy; returns the number of points
    * written.
    *
    * No Spark job under "insert": the rows are sorted by timestamp
    * (stably, so duplicates keep statement order), grouped by
    * `Math.floorDiv(timestamp, bucketNs)` — the rule of [[buckets]] —
    * and each group is written by Spark's own parquet writer (the
    * `ParquetWriteSupport`, codec and schema of a job-written file) to
    * a hidden `.part-<uuid>….tmp` file in its `bucket=` directory,
    * which readers skip. Once every file is complete, each is renamed
    * to `part-<uuid>.<codec>.parquet`, and only then does the call
    * return for the caller to ack. Nothing is fsynced. A crash before
    * the renames leaves hidden files only, which [[compact]] drops when
    * it rewrites their bucket; a crash between the renames of a batch
    * spanning buckets leaves the renamed buckets' points visible,
    * unacked.
    *
    * "ignore": the first occurrence of each timestamp in statement
    * order wins, and timestamps already stored are dropped. The stored
    * timestamps are read on the driver ([[localPoints]]) from only the
    * buckets the batch touches, restricted to its [min, max]; past the
    * driver-row bound, one Spark job collects them instead.
    */
  def append(db: String, name: String, rows: Seq[(Long, Double)]): Long = {
    val meta = seriesMeta(db, name).getOrElse(SeriesMeta(None))
    val batch =
      if (meta.dupPolicy == "ignore") {
        val first = rows.distinctBy(_._1)
        val stored = storedTimestamps(db, name, first.map(_._1))
        first.filterNot(r => stored(r._1))
      } else rows
    val dp = dataPath(db, name)
    val written = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    try batch.sortBy(_._1).groupBy(r => Math.floorDiv(r._1, bucketNs)).foreach {
      case (b, group) =>
        val file = s"part-${UUID.randomUUID()}${pointWriter.extension}"
        val dir = new Path(dp, s"bucket=$b")
        val hidden = new Path(dir, s".$file.tmp")
        written += ((hidden, new Path(dir, file)))
        pointWriter.write(hidden, group)
    } catch { case e: Throwable =>
      written.foreach { case (hidden, _) => fs.delete(hidden, false) }
      throw e
    }
    written.foreach { case (hidden, visible) =>
      if (!fs.rename(hidden, visible))
        throw new java.io.IOException(s"append: cannot rename $hidden to $visible")
    }
    batch.size
  }

  /** Which of `ts` a series already stores, from the listed buckets
    * `ts` falls in, restricted to `ts`' [min, max]: read on the driver,
    * or by one collect past the driver-row bound. */
  private def storedTimestamps(db: String, name: String, ts: Seq[Long]): Set[Long] =
    if (ts.isEmpty) Set.empty
    else {
      val range = Some((ts.min, ts.max))
      val touched = ts.map(Math.floorDiv(_, bucketNs)).toSet
      val hit = buckets(db, name, range).filter(touched)
      localPoints(db, name, hit, range) match {
        case Some(points) => points.map(_._1).toSet
        case None => readBuckets(db, name, hit, range).select(col("timestamp"))
          .collect().map(_.getLong(0)).toSet
      }
    }

  /** Spark's parquet writer for point files, built on the first
    * [[append]]: neither the constructor nor [[insert]] pays for it. */
  private lazy val pointWriter: PointWriter = {
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(Map.empty))
    new PointWriter(
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty, PointSchema),
      job.getConfiguration)
  }

  /** Bucket test on the existing side of an ignore-policy insert:
    * which listed `bucket=` partitions ([[buckets]]) can contain
    * timestamps colliding with batch `b`?
    *
    * Dense/narrow batches (the PLANS.md norm — bucketNs is sized to
    * ingest density) get the tight form: the batch's distinct bucket
    * ids, selecting exactly the touched partitions. That set is
    * collected to the driver, and a years-long backfill into fine
    * buckets could have 10^5-10^6 of them, so past [[InLiteralCap]]
    * distinct buckets the test degrades to min/max RANGE bounds: O(1)
    * driver state, reading at worst the untouched buckets inside the
    * batch's span (which the timestamp-level anti-join then ignores —
    * correctness never depends on the pruning being tight). The common
    * case stays ONE small driver job (distinct + limit), the wide case
    * pays one extra min/max aggregate.
    */
  private[graft] def bucketPrunePredicate(b: DataFrame): Long => Boolean = {
    val sample = b.select(bucketExpr.as("b")).distinct()
      .limit(InLiteralCap + 1).collect().map(_.getLong(0))
    if (sample.length <= InLiteralCap) sample.toSet
    else {
      val mm = b.agg(min(bucketExpr).as("lo"), max(bucketExpr).as("hi"))
        .collect()(0)
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      bucket => bucket >= lo && bucket <= hi
    }
  }

  /** Max bucket ids [[bucketPrunePredicate]] collects before it falls
    * back to range bounds. 1000 is small driver state while covering
    * weeks of per-hour buckets. */
  private val InLiteralCap = 1000

  /** Exact floor-division bucket of a timestamp column — MUST agree
    * with the Math.floorDiv pruning bounds of [[buckets]] and
    * [[readBuckets]]. Double division + cast is wrong twice over:
    * epoch-nanos exceed 2^53 (the quotient can round UP across a
    * bucket boundary, landing a point in a bucket the pruner will
    * skip — silent data loss), and the cast
    * truncates toward zero rather than flooring for negatives. `div`
    * truncates too, so correct it by one when a negative division has a
    * remainder. */
  private def bucketExpr: Column =
    // pmod(a, b) >= 0 for b > 0, so (a - pmod(a, b)) is an exact
    // multiple of b and integer `div` of exact multiples == floorDiv;
    // every step stays in Long arithmetic (no double rounding).
    expr(s"(timestamp - pmod(timestamp, ${bucketNs}L)) div ${bucketNs}L")

  /** Retention reaper: physically drops whole bucket partitions whose
    * entire window is older than `now - retention` — a metadata-only
    * delete (no rewrite), the scalable analog of retention enforcement
    * the reference declares but never runs (src/timeseries.h:88-92).
    *
    * CONCURRENT-INGEST CONTRACT (unlike [[compact]], which demands a
    * quiet window): the reaper IS safe against a concurrent
    * micro-batch append, by disjointness rather than locking. The
    * reaper touches only bucket dirs whose ENTIRE window predates
    * `now − retention`; an append touches only its own rows' buckets,
    * and its ignore-policy read side prunes to the batch's own bucket
    * span ([[bucketPrunePredicate]]). So as long as
    * `retention > ingest lateness + bucket width` — i.e. arriving rows
    * are never already expired — the two paths' directory sets are
    * DISJOINT, and a dir delete cannot interact with a rename-in
    * commit or a pruned-out listing entry on a different dir
    * (StreamingSpec races the two and locks the invariant). Ingesting
    * rows OLDER than the retention window concurrently with the reaper
    * is outside the contract: such an append can recreate a bucket dir
    * the reaper just dropped, resurrecting only the new rows until the
    * next reap.
    */
  def enforceRetention(db: String, name: String, nowNs: Long): Int = {
    val meta = seriesMeta(db, name).getOrElse(return 0)
    val cutoff = meta.retentionNs match {
      // retention <= 0 means "retention disabled", NOT "expire
      // everything" — `CREATE ts 0 'policy'` is the conventional way to
      // pass a duplication policy without retention
      case Some(r) if r > 0 => nowNs - r
      case _ => return 0
    }
    val dp = dataPath(db, name)
    if (!fs.exists(dp)) return 0
    // same TOCTOU hardening as seriesMeta: a series dropped between
    // the exists check and the listing reaps nothing
    val listed =
      try fs.listStatus(dp).toSeq
      catch { case _: java.io.FileNotFoundException => return 0 }
    val dropped = listed
      .filter(_.getPath.getName.startsWith("bucket="))
      .filter { st =>
        val b = st.getPath.getName.stripPrefix("bucket=").toLong
        (b + 1) * bucketNs <= cutoff // entire bucket window expired
      }
    dropped.foreach(st => fs.delete(st.getPath, true))
    dropped.size
  }

  /** Compact small files within each bucket (the analog of the
    * reference's chunk flush/merge, src/partition.c:62-125): rewrite
    * buckets whose file count exceeds `maxFilesPerBucket`, and delete
    * bucket directories that hold no visible point file (the hidden
    * leftovers of an [[append]] that crashed before its rename), so
    * [[buckets]] stops listing them. Returns the number of buckets
    * rewritten.
    *
    * CONCURRENT-READER CONTRACT (this and [[enforceRetention]]):
    * maintenance is NOT safe to run under concurrent reads — schedule
    * it in the ingest pipeline's quiet window, exactly like the
    * reference's single-threaded flush. What a concurrent scan
    * actually observes, by when its FILE LISTING happened:
    *  - listed before the swap, opened files before the swap finished
    *    → complete pre-maintenance snapshot;
    *  - listed before the swap, opened after → loud FileNotFound
    *    (Spark's re-create-the-Dataset error) with default
    *    `spark.sql.files.ignoreMissingFiles=false` — never enable
    *    that flag on this catalog, it converts this case to silent
    *    row loss;
    *  - listed INSIDE the two-rename swap window (live dir renamed
    *    aside, replacement not yet installed) → the bucket is simply
    *    absent from the listing: a SILENTLY EMPTY bucket. The window
    *    is two renames wide (the rewrite itself happens into a temp
    *    dir beforehand), but it exists — which is WHY the quiet-window
    *    requirement is the contract and loud failure only the
    *    common-case safety net (MaintenanceSpec exercises the
    *    stale-index races; the listing-mid-swap race is inherently
    *    timing-dependent).
    * Snapshot-isolated reads under maintenance require a versioned
    * table format (the Delta/Iceberg class of layout), which this
    * bucket-directory catalog deliberately does not reimplement. */
  def compact(db: String, name: String, maxFilesPerBucket: Int = 8): Int = {
    val dp = dataPath(db, name)
    if (!fs.exists(dp)) return 0
    val fileCounts =
      (try fs.listStatus(dp).toSeq
       catch { case _: java.io.FileNotFoundException => return 0 })
      .filter(_.getPath.getName.startsWith("bucket="))
      .map(st => st.getPath -> fs.listStatus(st.getPath).count(f => isPointFile(f.getPath.getName)))
    fileCounts.foreach { case (bucketDir, n) => if (n == 0) fs.delete(bucketDir, true) }
    val toCompact = fileCounts.collect { case (bucketDir, n) if n > maxFilesPerBucket => bucketDir }
    toCompact.foreach { bucketDir =>
      val tmp = new Path(bucketDir.getParent, "._compact_" + bucketDir.getName)
      val old = new Path(bucketDir.getParent, "._old_" + bucketDir.getName)
      val df = spark.read.schema(PointSchema).parquet(bucketDir.toString)
      df.sort("timestamp").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      // swap via two renames so a crash at any point leaves the data
      // recoverable (either the live dir or ._old_ still holds it);
      // the live dir is never deleted before its replacement is in place
      fs.delete(old, true)
      if (!fs.rename(bucketDir, old))
        throw new java.io.IOException(s"compact: cannot move $bucketDir aside")
      if (!fs.rename(tmp, bucketDir)) {
        fs.rename(old, bucketDir) // roll back
        throw new java.io.IOException(s"compact: cannot install $tmp")
      }
      fs.delete(old, true)
    }
    toCompact.size
  }
}

object TsCatalog {
  /** The driver threads that read point files
    * ([[TsCatalog.readPointFiles]]), shared by every catalog of the
    * JVM: half the cores, so reads leave the other half to the
    * statements of other connections (a wire INSERT writes on its own
    * thread), and daemons, so a statement never starts a thread and
    * the pool never holds the JVM open. */
  private lazy val ReadPool = ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(
    math.max(1, Runtime.getRuntime.availableProcessors / 2), { (r: Runnable) =>
      val t = new Thread(r, "graft-point-reader")
      t.setDaemon(true)
      t
    }))

  /** A file of a `bucket=` directory that readers see: a parquet file
    * whose name Spark's listing does not hide (a `.` or `_` prefix). */
  private def isPointFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")

  /** One point file per `write`, through the writer a Spark write
    * task uses (`OutputWriterFactory.newInstance`); the configuration
    * is shared by every file, as a write job's tasks share theirs. */
  private final class PointWriter(factory: OutputWriterFactory,
      conf: org.apache.hadoop.conf.Configuration) {
    private def context = new TaskAttemptContextImpl(conf, new TaskAttemptID())

    /** ".snappy.parquet" under the default codec. */
    val extension: String = factory.getFileExtension(context)

    def write(path: Path, rows: Seq[(Long, Double)]): Unit = {
      val out = factory.newInstance(path.toString, PointSchema, context)
      try rows.foreach { case (t, v) => out.write(InternalRow(t, v)) }
      finally out.close()
    }
  }

  /** 900 s in nanos — mirrors the reference's in-memory chunk window
    * (TS_CHUNK_SIZE, src/timeseries.h:13). */
  val DefaultBucketNs: Long = 900L * 1000000000L

  val PointSchema: StructType = StructType(Seq(
    StructField("timestamp", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  val PointSchemaWithBucket: StructType = PointSchema.add(
    StructField("bucket", LongType, nullable = true))

  /** The one form [[TsCatalog.writeMeta]] writes: retention, policy,
    * bucket width. */
  private val MetaJson =
    """\{"retentionNs":(null|-?\d+),"dupPolicy":"([^"]*)","bucketNs":(-?\d+)\}""".r
}

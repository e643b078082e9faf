package graft.operators

import graft.core.Materialize
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The lakehouse layout pair composed end-to-end: a z-clustered multi-file
 * write ([[Zorder]]) plus a Delta-style per-file min/max stats manifest,
 * and a manifest-pruned read that opens ONLY the files whose stats
 * overlap the predicate — the file-skipping mechanic Delta's transaction
 * log and Iceberg's manifests provide, built from plain parquet +
 * DataFrame ops.
 *
 * == The commit log ==
 *
 * Every mutation commits a NEW manifest snapshot under a versioned log:
 *
 * {{{
 *   path/data/part-*.parquet          the immutable data files
 *   path/_log/v0000000042/manifest/   full stats snapshot (1 row/file)
 *   path/_log/v0000000042/_commit     marker: op + nFiles/nRows
 *                                     + data schema
 *                                     + upsert insert-file list
 * }}}
 *
 * == Schema ==
 *
 * Each commit records the snapshot's DATA SCHEMA; every read resolves
 * files against the recorded schema, so ADDITIVE evolution just works:
 * an append may add columns (never drop or retype — fail-loud), files
 * written before the column existed null-fill it, time travel replays
 * each snapshot under its own schema, and [[compact]] physically
 * normalizes old files as a side effect. The Delta/Iceberg
 * schema-in-the-log design, reduced to the additive case.
 *
 * A version is STAGED complete (manifest parquet + `_commit` marker) in a
 * `_log/_tmp-<uuid>` directory and becomes visible atomically when the
 * whole directory renames into place — rename-to-a-fresh-name is atomic
 * on HDFS and local FS, and the rename runs through `FileContext` with
 * `Rename.NONE` semantics so a destination that already exists FAILS the
 * rename instead of merging into it. Readers resolve "latest committed
 * version" once per read and replay exactly that snapshot, which gives
 * them SNAPSHOT ISOLATION from the writer: no mutation ever
 * rewrites or deletes a file an existing snapshot references — superseded
 * files are reclaimed only by an explicit [[vacuum]]. A crashed attempt
 * leaves only `_tmp-*` staging debris (never a half-visible version);
 * [[vacuum]] sweeps it.
 *
 * == One writer at a time ==
 *
 * A table has one writer at a time: the batch job that owns it. Every
 * mutation resolves the latest version ONCE, builds its manifest against
 * that base, and commits ONCE at base+1. A second writer that took the
 * slot meanwhile makes the rename fail, and the mutation throws
 * [[CommitConflictException]] with nothing visible — no retry, no
 * rebase; its written data files stay unreferenced until [[vacuum]].
 * (On an object store without atomic rename the final rename needs the
 * store's conditional put — out of scope here.)
 *
 * Scale shape: the manifest holds one row per DATA FILE (not per row), so
 * planning a pruned read is a driver-side replay of a #files-row table —
 * exactly Delta-log/Iceberg-manifest sized, the one collect in this
 * module and legitimate for the same reason theirs is. Commit markers are
 * ~100-byte files read driver-side (#versions of them — the Delta log
 * listing); [[vacuum]] drops superseded manifests but keeps every marker,
 * so [[history]] survives maintenance. Because the data is z-ordered on
 * the stats columns, every file covers a tight hyper-rectangle in ALL of
 * them at once, so a range predicate on ANY clustered column eliminates
 * most files before a byte of data is read.
 */
object Lakehouse {

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.operators.Lakehouse")

  /** Default [[upsertByKey]] small-batch contract cap. */
  val DefaultMaxProbeKeys: Long = 1000000L

  // ------------------------------------------------------------------
  // log protocol
  // ------------------------------------------------------------------

  private val VersionDirRe = "^v(\\d{10})$".r

  private def logDir(path: String) = s"$path/_log"
  private def versionDir(path: String, v: Long) = f"${logDir(path)}/v$v%010d"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A commit lost its version slot to another writer. Every mutation
    * lets it propagate: the table holds the winner's commit only, and
    * nothing of the loser is visible. */
  final class CommitConflictException(msg: String)
    extends IllegalStateException(msg)

  /** Committed versions, ascending — a directory listing of `_log`
    * filtered to dirs whose `_commit` marker exists (staging debris and
    * torn pre-rename states carry no marker). Driver-sized: #versions
    * entries. */
  private def committedVersions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsOf(spark, path)
    val ld = new Path(logDir(path))
    if (!fs.exists(ld)) Seq.empty
    else fs.listStatus(ld).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionDirRe(n) if fs.exists(new Path(st.getPath, "_commit")) =>
          Some(n.toLong)
        case _ => None
      }
    }.sorted
  }

  /** Latest committed version, or -1 if `path` holds no log. */
  def latestVersion(spark: SparkSession, path: String): Long =
    committedVersions(spark, path).lastOption.getOrElse(-1L)

  /** The live stats manifest (one row per data file of the latest
    * committed snapshot). */
  def readManifest(spark: SparkSession, path: String): DataFrame = {
    val v = latestVersion(spark, path)
    require(v >= 0, s"no committed lakehouse log at $path — writeClustered first")
    manifestAt(spark, path, v)
  }

  /** The stats manifest of a PINNED version — the snapshot-isolation
    * read path: a reader that resolved version `v` keeps replaying `v`'s
    * manifest (and its data files, which no mutation deletes) however
    * many commits land meanwhile. Valid until a [[vacuum]] whose
    * `retainVersions` window has moved past `v`. */
  private[graft] def manifestAt(spark: SparkSession, path: String, version: Long): DataFrame =
    spark.read.parquet(s"${versionDir(path, version)}/manifest")

  /** DESCRIBE-HISTORY analog: one row per committed version —
    * `(version, op, n_files, n_rows)`, the counts
    * being each version's SNAPSHOT TOTALS (its whole manifest, not the
    * commit's delta). They are recorded INTO each `_commit` marker at
    * commit time — surviving [[vacuum]] alongside the marker — so this is
    * a pure driver-side marker replay: ZERO Spark jobs however old the
    * table (spec-pinned with a job listener) — not one manifest
    * aggregation job per version, which on a year-old table would be
    * hundreds of driver-blocking jobs for one DESCRIBE. Markers written
    * before counts existed fall back to their retained manifest (null
    * counts if vacuumed away). */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, path)
    committedVersions(spark, path).map { v =>
      val c = readCommit(fs, path, v)
      val counts = (c.nFiles, c.nRows) match {
        case (Some(f), Some(r)) => (Some(f), Some(r))
        case _ => // legacy marker without counts: one manifest replay
          if (fs.exists(new Path(versionDir(path, v), "manifest"))) {
            val m = manifestAt(spark, path, v)
              .agg(count(lit(1)), coalesce(sum(col("n_rows")), lit(0L))).head()
            (Some(m.getLong(0)), Some(m.getLong(1)))
          } else (None, None)
      }
      (v, c.op, counts._1, counts._2)
    }.toDF("version", "op", "n_files", "n_rows")
  }

  /** A commit marker's fields. Markers of older logs may also carry
    * `streamId`/`batchId` keys; parsing ignores them. */
  private case class CommitInfo(op: String, nFiles: Option[Long],
      nRows: Option[Long], insertFiles: Seq[String],
      dataSchema: Option[org.apache.spark.sql.types.StructType],
      postimageFiles: Seq[String], deleteFiles: Seq[String],
      writerToken: String)

  private def readCommit(fs: FileSystem, path: String, v: Long): CommitInfo = {
    val in = fs.open(new Path(versionDir(path, v), "_commit"))
    val props = new java.util.Properties()
    try props.load(in) finally in.close()
    def optLong(k: String) = Option(props.getProperty(k)).map(_.toLong)
    def fileList(prefix: String): Seq[String] = {
      val n = Option(props.getProperty(s"n${prefix.capitalize}Files"))
        .map(_.toInt).getOrElse(0)
      (0 until n).map(i => props.getProperty(s"${prefix}File.$i"))
    }
    CommitInfo(props.getProperty("op", ""), optLong("nFiles"), optLong("nRows"),
      fileList("insert"),
      Option(props.getProperty("dataSchema")).map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]),
      fileList("postimage"), fileList("delete"),
      props.getProperty("writerToken", ""))
  }

  /** The table's data schema as of version `v`, as recorded in that
    * commit's marker — the schema every read of that snapshot resolves
    * against, so files written BEFORE a column was added null-fill it
    * instead of (parquet first-file semantics) silently dropping it.
    * None on markers that predate schema tracking (readers fall back to
    * file-footer schemas, the pre-evolution behavior). Driver-side: one
    * ~1 KB marker read, zero Spark jobs. */
  private def dataSchemaAt(spark: SparkSession, path: String, v: Long)
      : Option[org.apache.spark.sql.types.StructType] =
    if (v < 0) None
    else readCommit(fsOf(spark, path), path, v).dataSchema

  /** [[dataSchemaAt]] of the latest committed version. */
  private[graft] def dataSchema(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] =
    dataSchemaAt(spark, path, latestVersion(spark, path))

  /** Stages `manifest` + marker as a complete version directory and
    * renames it into the `base + 1` slot — every mutation's one commit.
    * The rename is the commit point: `FileContext` + `Rename.NONE` fails
    * if the slot is taken (it never merges into an existing directory,
    * unlike `FileSystem.rename`'s copy fallback), so a lost race throws
    * [[CommitConflictException]] with NOTHING visible — the staging
    * debris is cleaned up (best-effort; [[vacuum]] sweeps leftovers).
    *
    * AMBIGUOUS rename: on HDFS a rename can apply on the filesystem while
    * the client sees an error (the non-idempotent-RPC hazard). Each call
    * writes a fresh writer token into its marker; when the rename reports
    * the slot taken, the slot's marker is read back, and if it carries
    * OUR token the commit landed and the version is returned.
    *
    * The marker records file/row counts (one tiny read of the just-
    * written single-file manifest — #files rows) so [[history]] never
    * has to replay manifests. */
  private[graft] def commitVersion(spark: SparkSession, path: String,
      manifest: DataFrame, op: String, base: Long,
      insertFiles: Seq[String] = Nil,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None,
      postimageFiles: Seq[String] = Nil,
      deleteFiles: Seq[String] = Nil)
      : Long = {
    val fs = fsOf(spark, path)
    val v = base + 1
    val token = java.util.UUID.randomUUID().toString
    val tmp = new Path(logDir(path), s"_tmp-$token")
    val vd = new Path(versionDir(path, v))
    try {
      manifest.coalesce(1).write.mode("error")
        .parquet(new Path(tmp, "manifest").toString)
      val counts = spark.read.parquet(new Path(tmp, "manifest").toString)
        .agg(count(lit(1)), coalesce(sum(col("n_rows")), lit(0L))).head()
      val props = new java.util.Properties()
      props.setProperty("op", op)
      props.setProperty("nFiles", counts.getLong(0).toString)
      props.setProperty("nRows", counts.getLong(1).toString)
      // row-level CDF bookkeeping: an upsert commit's insert-only and
      // update-postimage batches ([[changesSince]] reads the former,
      // [[changesDetailed]] both), and a delete commit's deleted-row
      // sidecar files (under `_cdf/`, never in the data manifest)
      def putList(prefix: String, files: Seq[String]): Unit = {
        props.setProperty(s"n${prefix.capitalize}Files", files.size.toString)
        files.zipWithIndex.foreach { case (f, i) =>
          props.setProperty(s"${prefix}File.$i", f)
        }
      }
      putList("insert", insertFiles)
      putList("postimage", postimageFiles)
      putList("delete", deleteFiles)
      props.setProperty("writerToken", token)
      // the snapshot's data schema (top-level nullable normalized — added
      // columns ARE null in pre-evolution files): reads resolve against
      // THIS, so those files null-fill instead of inheriting parquet's
      // first-file semantics
      dataSchema.foreach(s => props.setProperty("dataSchema",
        org.apache.spark.sql.types.StructType(
          s.fields.map(_.copy(nullable = true))).json))
      val out = fs.create(new Path(tmp, "_commit"), false)
      try props.store(out, null) finally out.close()
      // a version dir WITHOUT a marker cannot come from this protocol
      // (visibility is the whole-dir rename) — it is pre-protocol debris
      // or a torn copy; reclaim it rather than letting it wedge the slot
      if (fs.exists(vd) && !fs.exists(new Path(vd, "_commit")))
        fs.delete(vd, true)
      if (fs.exists(vd))
        throw new CommitConflictException(
          s"lakehouse log at $path: version $v was committed by another writer")
      val fc = FileContext.getFileContext(fs.getUri,
        spark.sparkContext.hadoopConfiguration)
      // ONLY a destination-exists outcome is a commit race; any other
      // IOException (permissions, quota, a broken filesystem) propagates
      // as the infrastructure failure it is
      def lost(e: Exception): Unit =
        if (!ownsSlot(fs, path, v, token)) throw new CommitConflictException(
          s"lakehouse log at $path: lost the race for version $v: $e")
      try fc.rename(tmp, vd, Options.Rename.NONE)
      catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException => lost(e)
        case e: org.apache.hadoop.fs.PathExistsException => lost(e)
      }
      v
    } catch {
      case e: Throwable =>
        // leave no staging debris behind on any failure path (best-effort)
        try fs.delete(tmp, true) catch { case _: Exception => () }
        throw e
    }
  }

  /** Did OUR rename land at `slot` despite the client-side error? A
    * missing marker is a definitive NO (visibility is the whole-dir
    * rename — a committed slot always carries its marker); any other
    * IOException is retried a few times before failing LOUDLY, because
    * concluding "not mine" from a transient read error would report a
    * landed commit as lost, and a caller that re-runs the mutation would
    * commit the same rows twice. */
  private def ownsSlot(fs: FileSystem, path: String, slot: Long,
      token: String): Boolean = {
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        return fs.exists(new Path(versionDir(path, slot), "_commit")) &&
          readCommit(fs, path, slot).writerToken == token
      } catch {
        case _: java.io.FileNotFoundException => return false
        case e: java.io.IOException =>
          if (attempt >= 3) throw new IllegalStateException(
            s"lakehouse log at $path: cannot read the commit marker at " +
              s"version $slot to determine whether a conflicted commit " +
              "was actually ours — inspect the log before re-running (a " +
              "blind re-run could duplicate the committed rows)", e)
          Thread.sleep(25L * attempt)
      }
    }
    false // unreachable
  }

  /** `live` without the `removed` files, plus stats rows for the `added`
    * files — the manifest every mutation commits. */
  private def swapFiles(spark: SparkSession, live: DataFrame,
      removed: Seq[String], added: Seq[String], zCols: Seq[String]): DataFrame = {
    val kept =
      if (removed.isEmpty) live else live.filter(!col("file").isin(removed: _*))
    if (added.isEmpty) kept
    else kept.unionByName(statsOf(spark.read.parquet(added: _*), zCols)
      .select(kept.columns.map(col): _*))
  }

  // ------------------------------------------------------------------
  // writes
  // ------------------------------------------------------------------

  /**
   * Creates a FRESH layout: writes `df` z-clustered on `zCols` into
   * `files` parquet files under `path/data`, then commits version 0 of
   * the one-row-per-file stats manifest (min/max of every `zCols` member
   * + row count). Any prior log at `path` is dropped (create-table
   * semantics). The stats pass is a column-pruned scan of just the
   * clustered columns grouped by `input_file_name()` — on columnar
   * storage it reads only those columns, the analog of collecting
   * footer stats at write time.
   *
   * This is DESTRUCTIVE create-table, not an atomic REPLACE: the old
   * log is dropped and the data dir overwritten before version 0
   * commits, so a concurrent reader of the OLD table loses its files
   * (an atomic replace would need versioned data subdirs — out of
   * scope; [[appendClustered]]/[[compact]] are the snapshot-safe
   * mutations).
   */
  def writeClustered(df: DataFrame, path: String, zCols: Seq[String],
      files: Int, bits: Int = 16): Unit = {
    val spark = df.sparkSession
    fsOf(spark, path).delete(new Path(logDir(path)), true)
    Zorder.writeZOrdered(df, zCols, s"$path/data", files, bits)
    commitVersion(spark, path,
      statsOf(spark.read.parquet(s"$path/data"), zCols),
      "create", base = -1L,
      dataSchema = Some(df.schema))
  }

  /** One manifest row per file of `data`: min/max of every clustered
    * column + row count, grouped by `input_file_name()` — a column-pruned
    * scan of just the stats columns, the analog of collecting footer
    * stats at write time. */
  private def statsOf(data: DataFrame, zCols: Seq[String]): DataFrame = {
    val aggs = zCols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    } :+ count(lit(1)).as("n_rows")
    data.select(input_file_name().as("file") +: zCols.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Data-file listing (driver-side, manifest-replay sized). Used only
    * by [[vacuum]]'s orphan sweep — mutations know their own written
    * files exactly (see [[writeBatch]]). */
  private def listData(spark: SparkSession, path: String): Set[String] = {
    val p = new Path(s"$path/data")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toUri.toString).toSet
  }

  /** Scheme-insensitive file identity (`file:///x` == `file:/x`) for
    * comparing manifest URIs (from `input_file_name()`) against listing
    * URIs (from `FileStatus`). */
  private def pathKey(uri: String): String = new java.net.URI(uri).getPath

  /** Reads data `files` resolved against version `v`'s RECORDED schema
    * when the marker carries one: files written before a column was
    * added null-fill it (parquet by-name resolution), instead of the
    * scan inheriting whatever the first listed file happens to contain.
    * Legacy markers (pre-tracking) fall back to footer schemas — the
    * pre-evolution behavior, safe because those tables were written
    * under the schema-equality contract. Empty `files` yields an empty
    * frame with the snapshot's schema. */
  private def readData(spark: SparkSession, path: String, v: Long,
      files: Seq[String]): DataFrame =
    dataSchemaAt(spark, path, v) match {
      case Some(s) =>
        if (files.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        else spark.read.schema(s).parquet(files: _*)
      case None =>
        if (files.isEmpty)
          spark.read.parquet(s"$path/data").filter(lit(false))
        else spark.read.parquet(files: _*)
    }

  /** Writes `df` as a z-clustered batch via a private staging dir, then
    * moves each part file into `path/data` and returns EXACTLY the moved
    * files. The written-file set is known by construction, never inferred
    * from a before/after listing diff — a listing diff would also claim
    * the orphan files a crashed or losing write left in `data/` and
    * commit manifest rows for them (phantom reads). Part-file names are
    * job-UUID unique, so the per-file renames cannot collide; a crash
    * leaves only `_stage-*` debris outside `data/`, invisible to every
    * reader and swept by [[vacuum]]. */
  private def writeBatch(spark: SparkSession, path: String, df: DataFrame,
      zCols: Seq[String], files: Int, bits: Int): Seq[String] = {
    val fs = fsOf(spark, path)
    val stage = new Path(path,
      s"_stage-${java.util.UUID.randomUUID().toString}")
    try {
      Zorder.writeZOrdered(df, zCols, stage.toString, files, bits)
      val dataDir = new Path(s"$path/data")
      fs.mkdirs(dataDir)
      fs.listStatus(stage).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .map { s =>
          val dst = new Path(dataDir, s.getPath.getName)
          require(fs.rename(s.getPath, dst),
            s"writeBatch: rename ${s.getPath} -> $dst failed")
          fs.makeQualified(dst).toUri.toString
        }
    } finally {
      try fs.delete(stage, true) catch { case _: Exception => () }
    }
  }

  /**
   * The nightly-ingest shape: appends `df` as a NEW z-clustered batch of
   * `files` parquet files to an existing [[writeClustered]] layout and
   * commits a snapshot extending the live manifest with the new files'
   * stats rows — no existing data file or manifest row is rewritten, and
   * [[prunedRead]] stays exact over the union (spec-pinned). Each batch
   * is z-scaled on its OWN min/max bounds: clustering quality is
   * per-batch, manifest stats (the thing pruning reads) are exact
   * regardless.
   *
   * The batch frame is evaluated up to three times by the z-clustered
   * write (bounds aggregation + range sampling + the write itself) —
   * a caller whose batch is an expensive upstream pipeline should
   * `localCheckpoint()` it first (the rewrite ops do this internally
   * for their bounded affected-file reads; an append batch's size is
   * the caller's to judge).
   *
   * SCHEMA EVOLUTION is additive-only: the batch must carry every
   * existing column with its exact type (a retype or drop fails loudly,
   * far from nothing — a later explicit-file read would otherwise
   * reconcile mixed files to the FIRST file's schema and silently lose a
   * column), and may ADD new columns — the commit records the widened
   * schema, and every read resolves against the recorded schema so
   * pre-evolution files null-fill the added columns.
   */
  def appendClustered(df: DataFrame, path: String, zCols: Seq[String],
      files: Int, bits: Int = 16): Unit = {
    val spark = df.sparkSession
    val base = latestVersion(spark, path)
    require(base >= 0, s"no committed lakehouse log at $path — writeClustered first")
    val live = manifestAt(spark, path, base)
    require(live.columns.toSet == statsOf(df.limit(0), zCols).columns.toSet,
      s"appendClustered: zCols $zCols do not match the manifest at $path " +
        "— an appended batch must carry stats for the SAME clustered " +
        "columns or pruning would silently skip it")
    // additive-evolution check + widened-schema derivation, before the
    // write. The table schema comes from the commit marker — emptiness
    // from the marker's nFiles too, so the common (schema-tracked) path
    // decides with ZERO Spark jobs; only a legacy (pre-tracking) marker
    // probes the manifest and one live-file footer. An EMPTY manifest
    // (legal after a wipe-delete) has nothing to conflict with — the
    // batch defines the schema.
    val info = readCommit(fsOf(spark, path), path, base)
    val tableSchema =
      if (info.nFiles.contains(0L)) None
      else info.dataSchema.orElse {
        val probeFile = live.select(col("file")).limit(1).collect()
        if (probeFile.isEmpty) None
        else Some(spark.read.parquet(probeFile(0).getString(0)).schema)
      }
    val schema = tableSchema match {
      case None => df.schema
      case Some(t) =>
        val batch = df.schema.fields.map(f => f.name -> f.dataType).toMap
        t.fields.foreach { f =>
          batch.get(f.name) match {
            case None => throw new IllegalArgumentException(
              s"appendClustered: batch is missing existing column " +
                s"'${f.name}' at $path — evolution is additive-only " +
                "(columns can be added, never dropped)")
            case Some(dt) => require(dt == f.dataType,
              s"appendClustered: column '${f.name}' is ${f.dataType
                .simpleString} in the table but ${dt.simpleString} in " +
                s"the batch at $path — a retype needs an explicit " +
                "rewrite (replaceClustered), not an append")
          }
        }
        val addedCols =
          df.schema.fields.filterNot(f => t.fieldNames.contains(f.name))
        org.apache.spark.sql.types.StructType(t.fields ++ addedCols)
    }
    val newFiles = writeBatch(spark, path, df, zCols, files, bits)
    require(newFiles.nonEmpty, "appendClustered: the write added no files")
    commitVersion(spark, path, swapFiles(spark, live, Nil, newFiles, zCols),
      "append", base, dataSchema = Some(schema))
  }

  /**
   * OPTIMIZE-style compaction: data files holding fewer than `minRows`
   * rows (the small-batch debris [[appendClustered]] accumulates) are
   * re-clustered together into `files` new z-ordered files; every other
   * data file — and its manifest row — is untouched. Returns
   * (filesCompacted, filesWritten); a no-op (0 or 1 small file) returns
   * without committing.
   *
   * Scale shape: the decision pass is the driver-side manifest replay
   * (#files rows); only the small files' bytes are read and rewritten.
   * The compacted originals are NOT deleted — the new snapshot just stops
   * referencing them, so a reader pinned on the previous version (or one
   * that resolved "latest" a moment before this commit) keeps reading a
   * consistent, complete snapshot. [[vacuum]] reclaims the superseded
   * bytes once no retained version references them.
   */
  def compact(spark: SparkSession, path: String, zCols: Seq[String],
      minRows: Long, files: Int, bits: Int = 16): (Int, Int) = {
    val base = latestVersion(spark, path)
    require(base >= 0, s"no committed lakehouse log at $path")
    val m = manifestAt(spark, path, base)
    require(m.columns.contains("n_rows"),
      s"manifest at $path has no n_rows column")
    val small = m.filter(col("n_rows") < minRows)
      .select(col("file")).collect().map(_.getString(0)).toSeq
    if (small.size <= 1) return (0, 0)
    // read under the recorded schema: compaction NORMALIZES pre-evolution
    // small files to the current schema as a side effect. Materialized
    // ONCE (truncated): the z-write evaluates its input three
    // times (bounds agg + range sampling + write), and the small files
    // — bounded bytes by the minRows selection — should be scanned
    // once, not thrice
    val newFiles = {
      val input = Materialize.truncate(readData(spark, path, base, small))
      try writeBatch(spark, path, input, zCols, files, bits)
      finally Materialize.release(input)
    }
    commitVersion(spark, path, swapFiles(spark, m, small, newFiles, zCols),
      "compact", base, dataSchema = dataSchemaAt(spark, path, base))
    (small.size, newFiles.size)
  }

  /**
   * Atomic REPLACE (the INSERT OVERWRITE / CREATE OR REPLACE TABLE
   * shape): swaps the table's ENTIRE contents for `df` in one commit.
   * The new batch lands as fresh UUID-named files first, then the commit
   * publishes a manifest referencing ONLY those files — so a reader
   * pinned on the previous version (or one that resolved "latest" a
   * moment before) keeps reading its complete old snapshot, unlike
   * [[writeClustered]]'s destructive create, which drops the old log
   * before version 0 exists. Superseded files stay on disk for pinned
   * readers until [[vacuum]].
   *
   * A replace may RE-CLUSTER: `zCols` (and the schema) need not match
   * the current layout — the manifest is rebuilt whole, so downstream
   * [[prunedRead]]s simply prune on the new columns. It is a REWRITE op,
   * excluded from the incremental changes feed — a full rewrite cannot
   * be expressed as appended rows. Replacing with an EMPTY frame is
   * refused (use `deleteWhere(lit(true))` to empty a table); parquet
   * needs at least one file to carry the new schema.
   *
   * Like [[appendClustered]], `df` is evaluated up to three times by
   * the z-clustered write (bounds aggregation + range sampling + the
   * write) — `localCheckpoint()` an expensive upstream pipeline first;
   * whether that trade pays is the caller's call for a whole-table
   * batch (the rewrite ops checkpoint internally because their inputs
   * are bounded by the affected files, a different cost regime).
   */
  def replaceClustered(df: DataFrame, path: String, zCols: Seq[String],
      files: Int, bits: Int = 16): Unit = {
    val spark = df.sparkSession
    val base = latestVersion(spark, path)
    require(base >= 0,
      s"no committed lakehouse log at $path — writeClustered creates one")
    require(!df.isEmpty,
      "replaceClustered: an empty replace is refused — " +
        "deleteWhere(lit(true)) is the explicit way to empty a table")
    val newFiles = writeBatch(spark, path, df, zCols, files, bits)
    require(newFiles.nonEmpty, "replaceClustered: the write added no files")
    commitVersion(spark, path,
      statsOf(spark.read.parquet(newFiles: _*), zCols),
      "replace", base, dataSchema = Some(df.schema))
  }

  /** Ops that REWRITE existing rows into new files (vs append new data).
    * [[addedFilesSince]] skips them — feeding a rewrite downstream would
    * double-count rows the consumer already saw. `upsert` is NOT here:
    * it splits its write into rewrite files and insert-only files, and
    * the feed surfaces exactly the latter (update-postimages still never
    * feed — the remaining slice of the full-CDF trade this module does
    * not take on). `replace` swaps the whole table: by definition not
    * expressible as appended rows. */
  private val RewriteOps = Set("compact", "delete", "replace")

  /** Test observability hook: the number of candidate data files the
    * last COW probe ([[deleteWhere]]/[[upsertByKey]]) actually scanned —
    * lets a spec pin that `pruneRanges` really shrank the probe below
    * the table's file count. */
  @volatile private[graft] var lastProbeScannedFiles: Int = -1

  /**
   * Copy-on-write UPSERT (MERGE, latest-wins by key): every existing
   * row whose `keyCols` tuple appears in `updates` is replaced WHOLESALE
   * by the update rows carrying that key, and update keys absent from
   * the table are inserted. Only data files containing a matched key are
   * rewritten (survivor rows + all updates re-cluster together);
   * untouched files keep their bytes and manifest rows, and originals
   * stay for pinned readers until [[vacuum]]. Returns (filesRewritten,
   * rowsReplaced, rowsUpserted). SQL equality: null-keyed rows never
   * match — they are never replaced, and null-keyed updates insert.
   * An EMPTY table (legal after a delete removed every row) takes the
   * insert-all path: every update row lands, nothing is replaced.
   *
   * PURE INSERTS (update keys absent from the table) are written as
   * their own file batch and recorded in the commit marker, so
   * [[changesSince]] feeds exactly them downstream — update-postimages
   * still never feed (they would double-count keys the consumer saw).
   *
   * `updates` is materialized ONCE at entry (truncated): the
   * frame is otherwise evaluated by the probe, the rewrite union, and
   * the final count, and a NON-DETERMINISTIC source (sampling, `rand()`,
   * a re-read of mutating storage) could present different keys to the
   * probe than to the rewrite — silently losing or duplicating rows,
   * the hazard Delta's MERGE materializes its source against.
   *
   * `pruneRanges` (optional) pre-prunes the PROBE scan through the
   * manifest, the same file skipping [[prunedRead]] does — correctness
   * contract: every EXISTING row whose key appears in `updates` must lie
   * inside the ranges (rows outside are never probed, so a matched key
   * out there would duplicate instead of replace). Use it when the
   * update keys bound a clustered column (the CDC shape: today's
   * partition only).
   *
   * Scale shape: the update batch is assumed SMALL against the table
   * (the CDC-merge shape) — its distinct keys broadcast into both the
   * affected-file probe and the survivor anti-join, so the table is
   * never shuffled; the probe scan reads only `keyCols` + file names
   * (column-pruned) over only the manifest-surviving files, and the
   * rewrite reads only the affected files. The contract is ENFORCED,
   * not just documented: a batch carrying more than `maxProbeKeys`
   * distinct keys fails loudly up front — the broadcast probe and the
   * driver-side matched-key collection are both sized by the batch's
   * distinct keys, and an over-contract batch would otherwise blow up
   * the driver mid-merge instead of at the contract boundary. Split
   * such a batch, raise the cap deliberately (sized to driver memory),
   * or pass `largeBatch = true` for the shuffle-side path below.
   *
   * `largeBatch = true` is the over-contract escape hatch: the SAME
   * merge semantics with NO driver-size dependence anywhere — the
   * probe semi-joins the table's key columns against the update keys
   * as a shuffle join (AQE still broadcasts when the batch turns out
   * small), matched keys stay a distributed frame (one extra
   * key-column-pruned scan of the affected files, checkpointed, never
   * collected), and the survivor anti-join shuffles instead of
   * broadcasting. Driver state remains #files-bounded (the per-file
   * match counts). Costs: that extra pruned scan plus shuffles sized
   * by the batch — which is why it is opt-in, not the default: the CDC
   * small-batch shape should keep its zero-shuffle broadcast plan. A
   * WHOLE-table rewrite is still better served by [[replaceClustered]].
   * `maxProbeKeys` does not apply in this mode (nothing driver-sized is
   * bounded by it) — a non-default cap combined with `largeBatch` logs
   * a warning so the dead parameter is visible.
   *
   * Every intermediate frame this merge truncates (the batch,
   * the large-batch matched keys and splits, the survivors) is
   * RELEASED on exit — success or failure — so a caller running many
   * merges does not accumulate dead executor blocks.
   */
  def upsertByKey(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], files: Int = 4, bits: Int = 16,
      pruneRanges: Seq[(String, Double, Double)] = Nil,
      maxProbeKeys: Long = DefaultMaxProbeKeys,
      largeBatch: Boolean = false): (Int, Long, Long) = {
    require(keyCols.nonEmpty, "upsertByKey: need at least one key column")
    if (largeBatch && maxProbeKeys != DefaultMaxProbeKeys)
      log.warn(s"upsertByKey: maxProbeKeys=$maxProbeKeys is IGNORED with " +
        "largeBatch=true — the shuffle-side path has no driver-sized " +
        "state for the cap to bound")
    val toRelease = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val u = Materialize.truncate(updates)
    toRelease += u
    try {
    if (u.isEmpty) return (0, 0L, 0L)
    val base = latestVersion(spark, path)
    require(base >= 0, s"no committed lakehouse log at $path")
    val m = manifestAt(spark, path, base)
    val zCols = m.columns.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_")
    }.toSeq
    val fileRows = m.select(col("file"), col("n_rows")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val allFiles = fileRows.keys.toSeq
    if (allFiles.isEmpty) {
      // empty table: nothing to probe or replace — insert-all, and every
      // written file feeds the changes feed; the batch defines the schema
      lastProbeScannedFiles = 0
      val newFiles = writeBatch(spark, path, u, zCols, files, bits)
      commitVersion(spark, path, swapFiles(spark, m, Nil, newFiles, zCols),
        "upsert", base, insertFiles = newFiles, dataSchema = Some(u.schema))
      return (0, 0L, u.count())
    }
    val data = readData(spark, path, base, allFiles)
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
    require(shape(data.schema) == shape(u.schema),
      s"upsertByKey: updates schema ${u.schema.simpleString} does " +
        s"not match the layout's ${data.schema.simpleString}")
    val candidates =
      if (pruneRanges.isEmpty) allFiles
      else selectFilesIn(m, path, pruneRanges)._1
    lastProbeScannedFiles = candidates.size
    val keys = u.select(keyCols.map(col): _*).distinct()
    // split the update batch by whether its key EXISTS in the table:
    // matched rows are UPDATE-POSTIMAGES, unmatched rows are PURE
    // INSERTS — and survivors, postimages, and inserts each land as
    // their own file batch, recorded in the commit marker, so
    // [[changesSince]] feeds exactly the inserts and [[changesDetailed]]
    // feeds inserts + postimages with row-level change types. Null-keyed
    // updates never match (SQL semantics) so they land as inserts.
    // Whether the survivor batch is empty (every affected row replaced)
    // is known from the manifest's n_rows — no extra job. The two modes
    // differ ONLY in where the matched keys live (driver+broadcast vs a
    // checkpointed distributed frame) and whether joins may shuffle.
    val (probe, matchedKeys) = if (!largeBatch) {
      // the small-batch contract, enforced: this path broadcasts `keys`
      // and collects matched key tuples driver-side — probed here with a
      // limit(cap + 1) count over the already-materialized checkpoint
      // (the guard's work is O(cap) regardless of batch size, never a
      // full-batch aggregation) so an over-contract batch fails AT the
      // boundary, loudly, instead of as a driver OOM mid-rewrite
      val capProbe = math.min(maxProbeKeys, Int.MaxValue - 1L).toInt
      require(keys.limit(capProbe + 1).count() <= maxProbeKeys,
        s"upsertByKey: the update batch carries more than " +
          s"maxProbeKeys=$maxProbeKeys distinct keys — the broadcast " +
          "probe and driver-side matched-key collection are sized by the " +
          "batch's distinct keys (the CDC small-batch shape); split the " +
          "batch into smaller merges, raise maxProbeKeys deliberately, " +
          "or pass largeBatch = true for the shuffle-side merge path")
      // ONE probe scan yields both the per-file match counts AND the
      // set of matched key tuples (collect_set is bounded by the update
      // batch's distinct keys per file — small by the CDC contract), so
      // the affected files are not re-read just to learn which keys hit
      val probeRows =
        if (candidates.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else readData(spark, path, base, candidates)
          .select(input_file_name().as("_f") +: keyCols.map(col): _*)
          .join(broadcast(keys), keyCols, "left_semi")
          .groupBy(col("_f")).agg(count(lit(1)).as("n"),
            collect_set(struct(keyCols.map(col): _*)).as("ks"))
          .collect()
      val keySchema = org.apache.spark.sql.types.StructType(
        keyCols.map(c => u.schema(c)))
      (probeRows.map(r => r.getString(0) -> r.getLong(1)).toMap,
        broadcast(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(
              probeRows.toSeq.flatMap(
                _.getSeq[org.apache.spark.sql.Row](2)).distinct).asJava),
          keySchema)))
    } else {
      // the shuffle-side path: per-file match counts from a shuffle
      // semi-join (driver sees #files rows, never keys), matched keys
      // as a DISTRIBUTED frame — one extra key-column-pruned scan of
      // the affected files, checkpointed once (sized by the matched
      // distinct keys) so the upd/ins splits below don't re-run it
      val counts =
        if (candidates.isEmpty) Map.empty[String, Long]
        else readData(spark, path, base, candidates)
          .select(input_file_name().as("_f") +: keyCols.map(col): _*)
          .join(keys, keyCols, "left_semi")
          .groupBy(col("_f")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val aff = allFiles.filter(counts.contains)
      val mk =
        if (aff.isEmpty) keys.limit(0)
        else {
          val c = Materialize.truncate(keys.join(
            readData(spark, path, base, aff).select(keyCols.map(col): _*),
            keyCols, "left_semi"))
          toRelease += c
          c
        }
      (counts, mk)
    }
    val affected = allFiles.filter(probe.contains)
    val replaced = probe.values.sum
    // no affected files ⇒ matchedKeys is provably empty: the splits are
    // known without running a join job (the all-insert case skips the
    // wasted shuffle/checkpoint). Otherwise, under the CDC contract the
    // splits are broadcast semi/anti joins over the checkpointed batch —
    // cheap to re-evaluate in writeBatch's three passes; the large-batch
    // splits are SHUFFLE joins, so they materialize once instead of
    // shuffling the batch three times each
    val (upd, ins) =
      if (affected.isEmpty) (u.limit(0), u)
      else {
        def split(how: String) = {
          val j = u.join(matchedKeys, keyCols, how)
          if (largeBatch) { val c = Materialize.truncate(j); toRelease += c; c }
          else j
        }
        (split("left_semi"), split("left_anti"))
      }
    val affectedRows = affected.map(fileRows).sum
    // survivors materialize ONCE (truncated) before the z-write's
    // three input evaluations — the affected files (the merge's most
    // expensive read, bounded by the COW contract) are scanned a single
    // time for the rewrite, matching [[deleteWhere]]'s single-scan pin.
    // The anti-join broadcasts under the CDC contract; the large-batch
    // path lets the planner shuffle it (AQE downgrades to broadcast
    // when the batch turns out small anyway)
    val survivorKeys = if (largeBatch) keys else broadcast(keys)
    val survivorFiles =
      if (affected.isEmpty || replaced == affectedRows) Seq.empty[String]
      else {
        val surv = Materialize.truncate(readData(spark, path, base, affected)
          .join(survivorKeys, keyCols, "left_anti"))
        toRelease += surv
        writeBatch(spark, path, surv, zCols, files, bits)
      }
    val postimageFiles =
      if (affected.isEmpty) Seq.empty[String]
      else writeBatch(spark, path, upd, zCols, files, bits)
    val insertFiles =
      if (ins.isEmpty) Seq.empty[String]
      else writeBatch(spark, path, ins, zCols, files, bits)
    val newFiles = survivorFiles ++ postimageFiles ++ insertFiles
    require(newFiles.nonEmpty, "upsertByKey: the rewrite added no files")
    commitVersion(spark, path, swapFiles(spark, m, affected, newFiles, zCols),
      "upsert", base, insertFiles = insertFiles,
      dataSchema = dataSchemaAt(spark, path, base),
      postimageFiles = postimageFiles)
    (affected.size, replaced, u.count())
    } finally toRelease.foreach(Materialize.release)
  }

  /**
   * Copy-on-write DELETE: rows matching `pred` are removed by rewriting
   * ONLY the data files that contain a match — survivors re-cluster into
   * at most `files` new z-ordered files, every untouched file keeps its
   * bytes and manifest row, and the originals stay on disk for pinned
   * readers until [[vacuum]]. Returns (filesRewritten, rowsDeleted);
   * no match is a no-op with no commit.
   *
   * `pred` must be DETERMINISTIC — it is evaluated in the affected-file
   * probe and again in the survivor filter, and a predicate that answers
   * differently between the two (rand(), sampling) would silently lose
   * or resurrect rows; a non-deterministic predicate throws here, the
   * same refusal Delta's DELETE makes.
   *
   * `pruneRanges` (optional) pre-prunes the PROBE scan through the
   * manifest — correctness contract: `pred` must IMPLY the ranges (any
   * row, current or future, that `pred` can match lies inside them;
   * rows outside are never probed, so a match out there survives). Use
   * it when `pred` bounds a clustered column; a spec pins that the
   * probe then scans fewer files than the table holds.
   *
   * SQL DELETE semantics: a row is removed iff `pred` is TRUE — rows
   * where it evaluates null are kept. The affected-file probe is one
   * scan over the candidate file set with `pred` pushed down (a
   * selective predicate on a clustered column touches few row groups);
   * the rewrite reads only the affected files. Clustered columns are
   * recovered from the manifest, so the caller states nothing twice.
   *
   * With `cdf = true` (the default) the DELETED rows are also written to
   * a `_cdf/` sidecar (never part of the data manifest — plain readers
   * cannot see it) and recorded in the commit marker, so
   * [[changesDetailed]] can retract them downstream with
   * `_change_type = delete`. Costs one extra write sized by the deleted
   * rows — NOT an extra read: the affected files are materialized once
   * and both outputs (survivors + sidecar) split from that single scan.
   * Pass `cdf = false` for bulk purges nobody mirrors.
   */
  def deleteWhere(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column, files: Int = 4, bits: Int = 16,
      pruneRanges: Seq[(String, Double, Double)] = Nil,
      cdf: Boolean = true): (Int, Long) = {
    val base = latestVersion(spark, path)
    require(base >= 0, s"no committed lakehouse log at $path")
    val m = manifestAt(spark, path, base)
    val zCols = m.columns.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_")
    }.toSeq
    val allFiles = m.select(col("file")).collect().map(_.getString(0)).toSeq
    if (allFiles.isEmpty) return (0, 0L)
    val candidates =
      if (pruneRanges.isEmpty) allFiles
      else selectFilesIn(m, path, pruneRanges)._1
    lastProbeScannedFiles = candidates.size
    if (candidates.isEmpty) return (0, 0L)
    val probeFrame = readData(spark, path, base, candidates).filter(pred)
    // the determinism check must run on the ANALYZED plan: an unresolved
    // rand() reports deterministic=true until function resolution binds it
    require(!probeFrame.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if !f.condition.deterministic => f
    }.isDefined,
      "deleteWhere: the predicate is non-deterministic — it is evaluated " +
        "twice (probe + survivor filter) and could answer differently " +
        "each time, silently losing or resurrecting rows")
    val hits = probeFrame
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (hits.isEmpty) return (0, 0L)
    val affected = allFiles.filter(f => hits.contains(f))
    // the affected files — the mutation's most expensive input —
    // materialize ONCE (truncated, the module's idiom from
    // [[upsertByKey]]): the survivor z-write alone evaluates its input
    // three times (bounds agg + range sampling + write), and with CDF
    // the deleted-row sidecar consumes it too; every pass after this
    // line reads cached blocks, never the files (spec-pinned via a
    // counting filesystem: the whole delete opens the affected files at
    // most twice — probe + this materialization)
    val affFrame = Materialize.truncate(readData(spark, path, base, affected))
    try {
    val survivors = affFrame.filter(!(pred <=> lit(true)))
    val anySurvivor = !survivors.isEmpty
    val newFiles =
      if (anySurvivor) writeBatch(spark, path, survivors, zCols, files, bits)
      else Seq.empty[String]
    // the CDF sidecar: the doomed rows, written OUTSIDE data/ so no
    // table reader ever sees them; the marker references the exact
    // files, so a crash before commit leaves only unreferenced debris
    // (vacuum sweeps it)
    val deleteFiles =
      if (!cdf) Seq.empty[String]
      else {
        val fs = fsOf(spark, path)
        val dir = new Path(path,
          s"_cdf/del-${java.util.UUID.randomUUID().toString}")
        affFrame.filter(pred <=> lit(true))
          .write.parquet(dir.toString)
        fs.listStatus(dir).toSeq
          .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
          .map(s => fs.makeQualified(s.getPath).toUri.toString)
      }
    commitVersion(spark, path, swapFiles(spark, m, affected, newFiles, zCols),
      "delete", base, dataSchema = dataSchemaAt(spark, path, base),
      deleteFiles = deleteFiles)
    (affected.size, hits.values.sum)
    } finally Materialize.release(affFrame)
  }

  /**
   * Reclaims storage the log no longer needs: data files referenced by
   * NONE of the last `retainVersions` committed snapshots (compacted-away
   * originals, crashed-append leftovers, any orphan under `data/`),
   * superseded versions' manifest parquet, crashed staging directories
   * (`_stage-*`, `_log/_tmp-*`), and marker-less pre-protocol version
   * dirs. Commit MARKERS are kept for every version so [[history]]
   * survives. Returns
   * (dataFilesDeleted, manifestsPruned).
   *
   * A RETAINED version whose manifest a previous, narrower-windowed
   * vacuum already pruned is SKIPPED, not fatal — its snapshot is
   * unreadable either way, and failing the whole vacuum would wedge
   * maintenance until an unrelated commit moved the window.
   *
   * Vacuum is one of the table's writes: it runs while no other
   * mutation does, so every unreferenced file and staging directory is
   * debris and goes at once.
   *
   * Contract: snapshots older than the retained window stop being
   * readable — the same retention trade Delta's `VACUUM` makes. Size
   * `retainVersions` to outlive the longest concurrent reader.
   */
  def vacuum(spark: SparkSession, path: String,
      retainVersions: Int = 1): (Int, Int) = {
    require(retainVersions >= 1,
      s"vacuum: retainVersions must be >= 1, got $retainVersions")
    val fs = fsOf(spark, path)
    val committed = committedVersions(spark, path)
    require(committed.nonEmpty, s"no committed lakehouse log at $path")
    val retained = committed.takeRight(retainVersions)
    val live: Set[String] = retained.flatMap { v =>
      if (!fs.exists(new Path(versionDir(path, v), "manifest")))
        Seq.empty // already pruned by an earlier narrower vacuum
      else manifestAt(spark, path, v).select(col("file")).collect()
        .map(r => pathKey(r.getString(0))).toSeq
    }.toSet
    val dead = listData(spark, path).toSeq.filterNot(f => live(pathKey(f)))
    dead.foreach(f => fs.delete(new Path(new java.net.URI(f)), false))
    val pruned = committed.dropRight(retainVersions).count { v =>
      val mp = new Path(versionDir(path, v), "manifest")
      fs.exists(mp) && fs.delete(mp, true)
    }
    fs.listStatus(new Path(logDir(path))).foreach { st =>
      st.getPath.getName match {
        case VersionDirRe(_) if !fs.exists(new Path(st.getPath, "_commit")) =>
          fs.delete(st.getPath, true)
        case n if n.startsWith("_tmp-") => fs.delete(st.getPath, true)
        case _ => ()
      }
    }
    val root = new Path(path)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      if (st.getPath.getName.startsWith("_stage-")) fs.delete(st.getPath, true)
    }
    // CDF sidecar retention: delete-row files referenced only by
    // versions OUTSIDE the retained window (their feed window has
    // passed — same trade as the manifests), plus crashed-delete debris
    // referenced by no marker at all
    val cdfDir = new Path(path, "_cdf")
    if (fs.exists(cdfDir)) {
      val liveCdf = retained.flatMap(v =>
        readCommit(fs, path, v).deleteFiles.map(pathKey)).toSet
      fs.listStatus(cdfDir).foreach { st =>
        val fls =
          if (st.isFile) Seq(st)
          else fs.listStatus(st.getPath).toSeq
        fls.filter(f => f.isFile && !liveCdf(pathKey(f.getPath.toUri.toString)))
          .foreach(f => fs.delete(f.getPath, false))
        if (st.isDirectory && fs.listStatus(st.getPath).isEmpty)
          fs.delete(st.getPath, true)
      }
    }
    (dead.size, pruned)
  }

  // ------------------------------------------------------------------
  // reads
  // ------------------------------------------------------------------

  /** Manifest replay: the data files whose `[min_c, max_c]` interval
    * overlaps `[lo, hi]` on `predCol`, plus the total file count.
    * Driver-sized by construction (one manifest row per file), so it is
    * collected ONCE and filtered on the driver — planning a pruned read
    * costs a single #files-row job, not one per derived statistic. */
  def selectFiles(spark: SparkSession, path: String, predCol: String,
      lo: Double, hi: Double): (Seq[String], Int) =
    selectFilesMulti(spark, path, Seq((predCol, lo, hi)))

  /** Multi-range manifest replay — the reason the data is Z-ORDERED
    * rather than sorted on one column: every file is a tight
    * hyper-rectangle in ALL clustered columns, so each predicate prunes
    * independently and a file survives only if it overlaps EVERY range
    * (intersection of per-column survivors). */
  private[graft] def selectFilesMulti(spark: SparkSession, path: String,
      ranges: Seq[(String, Double, Double)]): (Seq[String], Int) =
    selectFilesIn(readManifest(spark, path), path, ranges)

  /** [[selectFilesMulti]] against a PINNED version — the planning half
    * of a time-travel read. */
  private def selectFilesMultiAt(spark: SparkSession, path: String, version: Long,
      ranges: Seq[(String, Double, Double)]): (Seq[String], Int) =
    selectFilesIn(manifestAt(spark, path, version), path, ranges)

  private def selectFilesIn(m: DataFrame, path: String,
      ranges: Seq[(String, Double, Double)]): (Seq[String], Int) = {
    require(ranges.nonEmpty, "selectFilesMulti: need at least one range")
    ranges.foreach { case (c, _, _) =>
      require(m.columns.contains(s"min_$c"),
        s"manifest at $path has no stats for column '$c' — it was " +
          "not in the write's zCols")
    }
    // integral stats compare as LONGS against ceil/floor'd bounds — a
    // double cast would round a |value| > 2^53 min/max by up to ~1024,
    // which can push a file's rounded min past the query's hi and
    // silently prune a file the exact residual WOULD have matched (e.g.
    // raw 64-bit hash keys). Fractional stats compare as doubles.
    import org.apache.spark.sql.types._
    val integral = ranges.map { case (c, _, _) =>
      m.schema(s"min_$c").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    val statCols = ranges.zipWithIndex.flatMap { case ((c, _, _), i) =>
      val cast = if (integral(i)) "long" else "double"
      Seq(col(s"min_$c").cast(cast).as(s"lo$i"),
        col(s"max_$c").cast(cast).as(s"hi$i"))
    }
    val rows = m.select(col("file") +: statCols: _*).collect()
    val kept = rows.toIndexedSeq
      .filter { r =>
        ranges.zipWithIndex.forall { case ((_, lo, hi), i) =>
          !r.isNullAt(2 * i + 1) && !r.isNullAt(2 * i + 2) && {
            if (integral(i))
              !(r.getLong(2 * i + 2) < math.ceil(lo).toLong ||
                r.getLong(2 * i + 1) > math.floor(hi).toLong)
            else
              !(r.getDouble(2 * i + 2) < lo || r.getDouble(2 * i + 1) > hi)
          }
        }
      }
      .map(_.getString(0))
    (kept, rows.length)
  }

  /**
   * Reads only the manifest-surviving files and applies the EXACT
   * predicate `predCol BETWEEN lo AND hi` — pruning is a superset filter
   * (file granularity), the residual filter restores row-exact
   * semantics, so the result is identical to a full scan + filter while
   * touching a fraction of the files (spec-pinned: fewer files than
   * written, same rows as the full scan).
   */
  def prunedRead(spark: SparkSession, path: String, predCol: String,
      lo: Double, hi: Double): DataFrame =
    prunedReadMulti(spark, path, Seq((predCol, lo, hi)))

  /** [[prunedRead]] against a PINNED version — time travel: replays the
    * snapshot as of `version` (from [[history]] or a reader's earlier
    * [[latestVersion]] resolve) with the same file skipping + exact
    * residual. Readable until [[vacuum]]'s retention window moves past
    * `version`. */
  def prunedReadAt(spark: SparkSession, path: String, version: Long,
      predCol: String, lo: Double, hi: Double): DataFrame =
    prunedFrom(spark, path, version,
      selectFilesMultiAt(spark, path, version, Seq((predCol, lo, hi)))._1,
      Seq((predCol, lo, hi)))

  /** [[prunedRead]] over a conjunction of ranges — manifest pruning on
    * every clustered column at once, then the exact residual AND.
    * "Latest" is resolved ONCE: file list and schema both come from that
    * version, so a commit landing mid-plan cannot mix a newer manifest
    * with an older schema (or vice versa). */
  def prunedReadMulti(spark: SparkSession, path: String,
      ranges: Seq[(String, Double, Double)]): DataFrame = {
    val v = latestVersion(spark, path)
    prunedFrom(spark, path, v,
      selectFilesMultiAt(spark, path, v, ranges)._1, ranges)
  }

  private def prunedFrom(spark: SparkSession, path: String, version: Long,
      files: Seq[String],
      ranges: Seq[(String, Double, Double)]): DataFrame = {
    if (files.isEmpty)
      return readData(spark, path, version, Nil)
    val scan = readData(spark, path, version, files)
    // each residual predicate must compare in its column's NATIVE type: a
    // double bound against an integral column would cast the COLUMN,
    // which disables parquet row-group pushdown — manifest pruning would
    // then skip files only to decode every surviving row group. Integral
    // bounds tighten by ceil/floor (same row set, pushdown kept).
    import org.apache.spark.sql.types._
    val exact = ranges.map { case (c, lo, hi) =>
      scan.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          col(c) >= lit(math.ceil(lo).toLong) &&
            col(c) <= lit(math.floor(hi).toLong)
        // float bounds only when the doubles are float-exact (same row
        // set); an inexact bound falls through to the double compare —
        // correct, just no row-group pushdown on that one predicate
        case FloatType
            if lo.toFloat.toDouble == lo && hi.toFloat.toDouble == hi =>
          col(c) >= lit(lo.toFloat) && col(c) <= lit(hi.toFloat)
        case _ => col(c) >= lit(lo) && col(c) <= lit(hi)
      }
    }.reduce(_ && _)
    scan.filter(exact)
  }

  // ------------------------------------------------------------------
  // incremental consumption
  // ------------------------------------------------------------------

  /** The file set of version `v`'s manifest. A manifest vacuumed away
    * raises the retention-window error, an IllegalStateException like a
    * vacuumed feed file or a REPLACE in the window, so a consumer
    * re-syncs on one exception type. */
  private def manifestFiles(spark: SparkSession, fs: FileSystem, path: String,
      v: Long, caller: String): Set[String] = {
    if (!fs.exists(new Path(versionDir(path, v), "manifest")))
      throw new IllegalStateException(s"$caller: version $v's manifest was " +
        "vacuumed — incremental consumers must keep up with the retention window")
    manifestAt(spark, path, v).select(col("file")).collect()
      .map(_.getString(0)).toSet
  }

  /** Data files ADDED by each committed version in `(sinceVersion,
    * latest]`, as (version, files) pairs — the manifest diff a
    * downstream incremental job replays instead of rescanning the
    * table. REWRITE versions (`compact`, `delete`, `replace`) are
    * EXCLUDED: they re-file rows the consumer already saw, and
    * double-counting them is exactly the bug this op-aware diff prevents
    * (the reason commits record their op at all). `upsert` versions feed
    * ONLY their marker-recorded insert-only files — [[upsertByKey]]
    * writes pure inserts (keys absent from the table) as their own batch
    * precisely so the feed can surface them without re-feeding the
    * rewritten survivors. So this is an APPEND feed; deletions and
    * update-postimages are not fed downstream, the Delta CDF trade this
    * module does not take on. Driver-sized: #versions manifest replays.
    * Versions whose manifests were vacuumed away fail loudly — consume
    * before the retention window passes. */
  private[graft] def addedFilesSince(spark: SparkSession, path: String,
      sinceVersion: Long): Seq[(Long, Seq[String])] = {
    val fs = fsOf(spark, path)
    val versions = committedVersions(spark, path).filter(_ > sinceVersion)
    def filesOf(v: Long): Set[String] = manifestFiles(spark, fs, path, v, "addedFilesSince")
    versions.foldLeft((Seq.empty[(Long, Seq[String])],
        Option.empty[Set[String]])) { case ((acc, prevOpt), v) =>
      val cur = filesOf(v)
      val prev = prevOpt.getOrElse(
        if (v == 0) Set.empty[String]
        else filesOf(v - 1))
      val info = readCommit(fs, path, v)
      val added =
        if (info.op == "upsert") {
          // marker paths are writer-qualified URIs, manifest paths are
          // input_file_name() form — match on the path component
          val insKeys = info.insertFiles.map(pathKey).toSet
          (cur -- prev).filter(f => insKeys(pathKey(f))).toSeq.sorted
        } else if (RewriteOps.contains(info.op)) Seq.empty
        else (cur -- prev).toSeq.sorted
      (acc :+ (v, added), Some(cur))
    }._1.filter(_._2.nonEmpty)
  }

  /** The rows added since `sinceVersion` — reads ONLY the files
    * [[addedFilesSince]] surfaces (create + append commits, plus upsert
    * commits' insert-only batches; compaction/delete/replace rewrites
    * excluded), so a nightly downstream pass costs the new bytes, never
    * a table rescan. Empty frame (with the table's schema) when nothing
    * new landed. */
  def changesSince(spark: SparkSession, path: String,
      sinceVersion: Long): DataFrame = {
    // resolve "latest" once and clamp the feed to it: files appended
    // before a column was added null-fill it under the resolved schema,
    // and a commit landing mid-plan cannot slip newer files under an
    // older schema
    val v = latestVersion(spark, path)
    readData(spark, path, v,
      addedFilesSince(spark, path, sinceVersion)
        .filter(_._1 <= v).flatMap(_._2))
  }

  /**
   * The ROW-LEVEL change data feed (Delta CDF analog): every change in
   * `(sinceVersion, latest]` as data rows plus `_change_type`
   * (`insert` | `update_postimage` | `delete`) and `_version` —
   * everything a downstream MIRROR needs to stay key-exact:
   *
   *  - create/append commits feed their new files as `insert`;
   *  - upsert commits feed their marker-recorded insert-only batch as
   *    `insert` and their update-postimage batch as `update_postimage`
   *    (survivor re-files never feed — the consumer already has those
   *    rows);
   *  - delete commits feed the deleted rows from the `_cdf/` sidecar
   *    [[deleteWhere]] wrote (rows deleted with `cdf = false` are NOT
   *    retractable — same trade as Delta with CDF disabled);
   *  - compaction feeds nothing (pure re-file);
   *  - a `replace` in range FAILS LOUDLY: a whole-table swap cannot be
   *    expressed as row changes — the consumer must re-sync from the
   *    new snapshot.
   *
   * Invariant (spec-pinned): applying the feed in `_version` order to
   * the `sinceVersion` snapshot — delete by key, then upsert
   * postimages + inserts by key — reproduces the latest snapshot
   * exactly. All rows resolve under the LATEST schema (pre-evolution
   * rows null-fill added columns). Upsert commits written before
   * postimage tracking feed only their inserts (their postimages were
   * never split out); start mirrors from a fresh snapshot on such logs.
   *
   * Scale shape: one scan node per contributing (version, change-type)
   * group, unioned — sized by the CONSUMPTION WINDOW (a nightly
   * consumer unions a day of commits), not the table; a consumer that
   * lets thousands of versions pile up should catch up in windowed
   * calls. Wall time is the new bytes (12M-row soak: 1.4s).
   *
   * A consumer that fell behind a [[vacuum]] window gets the
   * retention-contract error; it must re-sync from the latest snapshot
   * and resume the feed from that version, never skip the window.
   */
  def changesDetailed(spark: SparkSession, path: String,
      sinceVersion: Long): DataFrame = {
    val fs = fsOf(spark, path)
    val latest = latestVersion(spark, path)
    val versions = committedVersions(spark, path)
      .filter(v => v > sinceVersion && v <= latest)
    def filesOf(v: Long): Set[String] = manifestFiles(spark, fs, path, v, "changesDetailed")
    // fold with a CARRIED previous-file-set (addedFilesSince's trick):
    // consecutive appends replay one manifest each instead of two; a
    // rewrite/typed op invalidates the carry (its file set moved), so
    // the next append falls back to filesOf(v - 1)
    val groups: Seq[(Seq[String], String, Long)] = versions.foldLeft(
        (Seq.empty[(Seq[String], String, Long)],
          Option.empty[Set[String]])) { case ((acc, prevOpt), v) =>
      val info = readCommit(fs, path, v)
      info.op match {
        case "replace" => throw new IllegalStateException(
          s"changesDetailed: version $v of $path is a whole-table " +
            "REPLACE — not expressible as row changes; re-sync the " +
            "consumer from the new snapshot")
        case "compact" => (acc, None)
        case "delete" =>
          (if (info.deleteFiles.isEmpty) acc
           else acc :+ ((info.deleteFiles, "delete", v)), None)
        case "upsert" =>
          (acc ++ Seq((info.insertFiles, "insert", v),
            (info.postimageFiles, "update_postimage", v))
            .filter(_._1.nonEmpty), None)
        case _ => // create / append: the manifest diff, as changesSince
          val cur = filesOf(v)
          val prev = prevOpt.getOrElse(
            if (v == 0) Set.empty[String] else filesOf(v - 1))
          val added = (cur -- prev).toSeq.sorted
          (if (added.isEmpty) acc
           else acc :+ ((added, "insert", v)), Some(cur))
      }
    }._1
    // fail with the retention contract, not a mid-job FileNotFound: a
    // feed file vacuumed away means the consumer fell behind the window
    groups.foreach { case (fls, ct, v) =>
      fls.find(f => !fs.exists(new Path(new java.net.URI(f)))).foreach(f =>
        throw new IllegalStateException(
          s"changesDetailed: version $v's $ct file $f was vacuumed — " +
            "incremental consumers must keep up with the retention window"))
    }
    val empty = readData(spark, path, latest, Nil)
      .withColumn("_change_type", lit(""))
      .withColumn("_version", lit(0L)).limit(0)
    groups.foldLeft(empty) { case (acc, (fls, ct, v)) =>
      acc.unionByName(readData(spark, path, latest, fls)
        .withColumn("_change_type", lit(ct))
        .withColumn("_version", lit(v)))
    }
  }

  // ------------------------------------------------------------------
  // typed reads (string / date / timestamp clustered columns)
  // ------------------------------------------------------------------

  /** Parses each bound string in its column's type and fails loudly on a
    * bound the type can't hold (a silent null would prune every file
    * instead). Evaluated DRIVER-SIDE through Catalyst's own Cast — same
    * parsing semantics the plan would use, zero Spark jobs: read
    * planning stays a pure manifest replay. Returns typed literal
    * Columns, so the residual filter carries native-type constants
    * (parquet row-group pushdown needs no constant-folding help). */
  private def typedBounds(spark: SparkSession,
      ranges: Seq[(String, String, String)],
      dtOf: String => org.apache.spark.sql.types.DataType)
      : Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    ranges.map { case (c, lo, hi) =>
      val dt = dtOf(c)
      def parse(s: String): org.apache.spark.sql.Column = {
        val v =
          try Cast(Literal(s), dt, tz).eval()
          catch { case e: Exception => throw new IllegalArgumentException(
            s"typed pruning: bound '$s' does not parse as the type of " +
              s"column '$c' (${dt.simpleString})", e) }
        require(v != null,
          s"typed pruning: bound '$s' does not parse as the type of " +
            s"column '$c' (${dt.simpleString})")
        org.apache.spark.sql.graft.Bridge.column(Literal(v, dt))
      }
      (parse(lo), parse(hi))
    }
  }

  /** [[selectFilesMulti]] for string / date / timestamp clustered
    * columns: bounds are given as strings parsed in each stat column's
    * NATIVE type (`"2026-01-14"` against a date column, a plain string
    * against a string column — compared with Spark's binary collation,
    * the same order the z-writer clustered by). Equality is `lo == hi`.
    * Exact-integral bounds work too; FRACTIONAL numeric bounds belong to
    * the Double form, whose ceil/floor tightening this path has no need
    * to replicate. */
  def selectFilesTyped(spark: SparkSession, path: String,
      ranges: Seq[(String, String, String)]): (Seq[String], Int) =
    selectFilesTypedIn(spark, readManifest(spark, path), path, ranges)

  /** [[selectFilesTyped]] against a PINNED version. */
  private def selectFilesTypedAt(spark: SparkSession, path: String, version: Long,
      ranges: Seq[(String, String, String)]): (Seq[String], Int) =
    selectFilesTypedIn(spark, manifestAt(spark, path, version), path, ranges)

  private def selectFilesTypedIn(spark: SparkSession, m: DataFrame,
      path: String,
      ranges: Seq[(String, String, String)]): (Seq[String], Int) = {
    require(ranges.nonEmpty, "selectFilesTyped: need at least one range")
    ranges.foreach { case (c, _, _) =>
      require(m.columns.contains(s"min_$c"),
        s"manifest at $path has no stats for column '$c' — it was " +
          "not in the write's zCols")
    }
    val lits = typedBounds(spark, ranges, c => m.schema(s"min_$c").dataType)
    // a file survives only if it overlaps EVERY range; null stats mean an
    // all-null column in that file — no row can match, prune it
    val keep = ranges.zip(lits).map { case ((c, _, _), (loL, hiL)) =>
      col(s"max_$c") >= loL && col(s"min_$c") <= hiL
    }.reduce(_ && _)
    val rows = m.select(col("file"),
      coalesce(keep, lit(false)).as("keep")).collect()
    (rows.toIndexedSeq.filter(_.getBoolean(1)).map(_.getString(0)),
      rows.length)
  }

  /** [[prunedReadMulti]] with [[selectFilesTyped]] bounds — the data-card
    * read path whose first predicate is a date or a category, not a
    * number. The residual compares in each column's native type (the
    * bound literal is cast, never the column), so parquet row-group
    * pushdown survives alongside the manifest-level file skipping. */
  def prunedReadTyped(spark: SparkSession, path: String,
      ranges: Seq[(String, String, String)]): DataFrame = {
    // resolve "latest" once — same snapshot-consistency note as
    // [[prunedReadMulti]]
    val v = latestVersion(spark, path)
    prunedTypedFrom(spark, path, v,
      selectFilesTypedAt(spark, path, v, ranges)._1, ranges)
  }

  /** [[prunedReadTyped]] against a PINNED version — typed time travel,
    * same retention contract as [[prunedReadAt]]. */
  def prunedReadTypedAt(spark: SparkSession, path: String, version: Long,
      ranges: Seq[(String, String, String)]): DataFrame =
    prunedTypedFrom(spark, path, version,
      selectFilesTypedAt(spark, path, version, ranges)._1, ranges)

  private def prunedTypedFrom(spark: SparkSession, path: String,
      version: Long, files: Seq[String],
      ranges: Seq[(String, String, String)]): DataFrame = {
    if (files.isEmpty)
      return readData(spark, path, version, Nil)
    val scan = readData(spark, path, version, files)
    val lits = typedBounds(spark, ranges, c => scan.schema(c).dataType)
    val exact = ranges.zip(lits).map { case ((c, _, _), (loL, hiL)) =>
      col(c) >= loL && col(c) <= hiL
    }.reduce(_ && _)
    scan.filter(exact)
  }
}

package graft.sinks.v2

import java.io.{BufferedInputStream, DataInputStream, EOFException, File, FileInputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.core.CassandraTokens
import graft.sinks.{BulkSink, SortedRunWriter}

/**
 * Read path for the graft-bulk sorted-run format: each Data.db file is one
 * InputPartition (files are independent sorted runs, so parallelism =
 * partition count of the original load) streaming (token, pk, value,
 * bucket) rows. Lets a distributed verification or repair job re-scan a
 * bulk load without any driver-side file handling.
 *
 * Token predicates PUSH DOWN and apply EXACTLY, the per-range read the
 * reference's loader does with per-range file sections
 * (ExternalSSTableLoaderClient.java:57-137 supplies ranges;
 * streamSSTables sends only matching sections):
 *  - the manifest's [minToken, maxToken] prunes whole runs;
 *  - the sparse Index.db seeks past the leading bytes of a run (offset
 *    of the last entry strictly below the bound; compressed runs resolve
 *    it through their chunk map, ADR 0001);
 *  - every reader drops the tokens outside the band [lo, hi]; a
 *    Murmur3-sorted run stops at its first token above hi, while an
 *    md5-sorted RandomPartitioner run or a file with no manifest (whose
 *    murmur3 tokens are unordered) reads to its end.
 * So a pushed token comparison leaves no Filter behind: Spark plans the
 * same code for every range (the literals never reach generated code)
 * and reuses it from its codegen cache. Only what the band cannot express
 * stays residual: other columns, non-Long literals, and `token >
 * Long.MaxValue` / `token < Long.MinValue`, which match nothing but
 * saturate to a band holding the extreme token.
 *
 * A range scan that aggregates still costs two jobs (the AQE map stage
 * and the result stage): Spark 4.1's DataSourceV2ScanExecBase reports
 * UnknownPartitioning(0) unless the scan is key-grouped, so a global
 * aggregate's AllTuples plans an exchange even over one split. Only a
 * query that reads `bucket` (below) can be key-grouped.
 *
 * Columns PRUNE too: value payloads (the bulk of every record) are skipped
 * in the stream, never allocated, when the query does not read `value` —
 * a count or token histogram over a bulk directory touches only framing.
 *
 * The scan DECLARES what the format guarantees, so Catalyst plans around
 * re-reads instead of re-shuffling perfectly-placed data:
 *  - SupportsReportOrdering: every split is one decorated-key-sorted run,
 *    so per-partition output ordering is (token ASC, pk ASC) — a sort
 *    within partitions on that ordering plans no Sort over it;
 *  - SupportsReportPartitioning: every row of a split shares the split's
 *    `bucket` (the run's ring bucket, for plain and salted loads alike),
 *    reported as key-grouped partitioning on the `bucket` column (each
 *    split carries its key via HasPartitionKey) — with
 *    spark.sql.sources.v2.bucketing.enabled a per-run aggregation plans
 *    no Exchange. The ring-bucket FUNCTION itself (unsigned token ranges)
 *    is not a Catalyst partitioning, so token-derived clusterings still
 *    exchange; the bucket column is the declared, checkable surface;
 *  - SupportsRuntimeFiltering: a broadcast join's actual token values
 *    narrow the split plan at execution time (per-run IN-set pruning);
 *  - LIMIT and ORDER-BY-token-LIMIT plan only the runs needed to cover
 *    the limit (token order exploits disjoint-verified ring ranges).
 */
object GraftBulkRead {
  val schema: StructType = StructType(Seq(
    StructField("token", LongType, nullable = false),
    StructField("pk", BinaryType, nullable = false),
    StructField("value", BinaryType, nullable = false),
    StructField("bucket", IntegerType, nullable = false)))

  /** One planned file read: start at `startOffset` (0 unless an index
    * seek applies) and return the rows whose token lies in [`loBound`,
    * `hiBound`]; `sorted` (a Murmur3-sorted run) lets the read stop at
    * the first token above `hiBound`, otherwise it reads to the end.
    * `estRows`/`estBytes` pro-rate the manifest totals to the pushed
    * token band via the sparse index (whole-run totals when no index
    * can narrow them); `bucket` is the run's ring bucket (its reducer
    * slot for a `distributerandomly` load, -1 when unknown: pre-manifest
    * dirs with unparseable names); `minToken`/`maxToken` echo the
    * manifest range for set-pruning consumers. */
  final case class PlannedSplit(file: String, codec: String,
      startOffset: Long, loBound: Long, hiBound: Long, sorted: Boolean,
      bucket: Int = -1, estRows: Long = 0L, estBytes: Long = 0L,
      minToken: Long = Long.MinValue, maxToken: Long = Long.MaxValue,
      chunked: Boolean = false, totalBytes: Long = -1L)

  /** The inclusive band (lo, hi) a comparison of `token` with a Long
    * bounds, None for any other filter. The exclusive comparisons
    * saturate at the extremes instead of overflowing, so `token >
    * Long.MaxValue` and `token < Long.MinValue` yield a band one token
    * too wide: see [[appliesExactly]]. */
  private[v2] def tokenBand(f: Filter): Option[(Option[Long], Option[Long])] = f match {
    case GreaterThan("token", v: Long)        => Some((Some(if (v == Long.MaxValue) v else v + 1), None))
    case GreaterThanOrEqual("token", v: Long) => Some((Some(v), None))
    case LessThan("token", v: Long)           => Some((None, Some(if (v == Long.MinValue) v else v - 1)))
    case LessThanOrEqual("token", v: Long)    => Some((None, Some(v)))
    case EqualTo("token", v: Long)            => Some((Some(v), Some(v)))
    case _                                    => None
  }

  /** True when reading [[tokenBand]]'s band returns exactly the rows `f`
    * keeps, so Spark need not re-apply it. */
  private[v2] def appliesExactly(f: Filter): Boolean = f match {
    case GreaterThan("token", Long.MaxValue) | LessThan("token", Long.MinValue) => false
    case _ => tokenBand(f).isDefined
  }

  private val RunNameRe = """graft-(\d+)-Data\.db""".r

  /**
   * Plan the splits a scan needs given an optional token range [lo, hi],
   * both inclusive. Files without a manifest entry (pre-manifest dirs)
   * read uncompressed from byte 0 and are never early-stopped: with no
   * manifest there is no evidence of murmur3 sort order, and stopping an
   * md5-sorted (or unsorted) file at the first out-of-band murmur3 token
   * would silently drop rows. ONE manifest read and at most one index
   * read per run serve pruning, seeking, and statistics alike;
   * `preRead` lets a caller that already parsed the manifest share it.
   */
  def planSplits(dir: File, lo: Option[Long], hi: Option[Long],
      preRead: Option[Seq[BulkSink.PartitionManifest]] = None): Seq[PlannedSplit] = {
    val manifests = preRead.getOrElse(BulkSink.readManifests(dir))
      .map(m => m.dataFile -> m).toMap
    val (loBound, hiBound) = (lo.getOrElse(Long.MinValue), hi.getOrElse(Long.MaxValue))
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith("-Data.db")).sortBy(_.getName)
    def bucketOf(name: String): Int = name match {
      case RunNameRe(pid) => pid.toInt
      case _              => -1
    }
    files.iterator.flatMap { f =>
      manifests.get(f.getName) match {
        case Some(m) =>
          if (m.rows == 0 || lo.exists(_ > m.maxToken) || hi.exists(_ < m.minToken)) None
          else {
            // the whole run is inside the band -> totals are exact, no
            // index read needed; otherwise one index pass yields both the
            // seek offset and the in-band entry fraction
            // the sparse index speaks LOGICAL offsets; they seek direct
            // into uncompressed runs and through the chunk map into
            // compressed ones (the reader resolves the chunk), so any
            // indexed run narrows here
            val bandCovers =
              lo.forall(_ <= m.minToken) && hi.forall(_ >= m.maxToken)
            val (start, estRows, estBytes) =
              if (bandCovers) (0L, m.rows, m.bytes)
              else if (m.indexFile.nonEmpty) {
                val (off, frac) = indexSeekAndFraction(
                  new File(dir, m.indexFile), lo, hi.filter(_ != Long.MaxValue))
                (if (lo.isDefined) off else 0L,
                  math.max(1L, math.ceil(m.rows * frac).toLong),
                  math.max(1L, math.ceil(m.bytes * frac).toLong))
              } else (0L, m.rows, m.bytes)
            // RandomPartitioner runs (hex token range in the manifest) are
            // md5-sorted, NOT murmur3-sorted: stopping at the first
            // recomputed murmur3 token above hi would truncate them
            // mid-file, so they filter row by row to EOF (their Long range
            // is pinned full-ring, so the bounds above never prune them)
            Some(PlannedSplit(f.getAbsolutePath, m.codec, start, loBound, hiBound,
              sorted = m.minTokenHex.isEmpty, m.partition, estRows, estBytes,
              m.minToken, m.maxToken, chunked = m.chunks > 0, totalBytes = m.bytes))
          }
        case None =>
          Some(PlannedSplit(f.getAbsolutePath, "none", 0L, loBound, hiBound, sorted = false,
            bucketOf(f.getName), estRows = 0L, estBytes = f.length()))
      }
    }.toSeq
  }

  /** True when EVERY Data.db in the directory has a manifest entry and
    * every entry is a Murmur3 run: md5-sorted RandomPartitioner runs are
    * not token-sorted for the reader, and a file WITHOUT a manifest has
    * no evidence of order at all — claiming ordering over either would
    * let Spark elide sorts over unordered data. */
  private[graft] def murmur3Sorted(dir: File,
      preRead: Option[Seq[BulkSink.PartitionManifest]] = None): Boolean = {
    val ms = preRead.getOrElse(BulkSink.readManifests(dir))
    val manifested = ms.map(_.dataFile).toSet
    ms.nonEmpty && ms.forall(_.minTokenHex.isEmpty) &&
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith("-Data.db")).forall(f => manifested(f.getName))
  }

  /**
   * One pass over a sparse index: the seek offset (offset of the LAST
   * entry with token strictly below `lo` — rows before it all have
   * token <= its token < lo, so starting there cannot drop a match;
   * strictness matters because rows equal to an entry's token can
   * precede the entry) and the fraction of entries inside [lo, hi]
   * (with one neighbor on each open side, since rows between two
   * entries can still match — keeps the estimate an over- not
   * under-count at index granularity).
   */
  private def indexSeekAndFraction(idxFile: File, lo: Option[Long],
      hi: Option[Long]): (Long, Double) = {
    if (!idxFile.exists()) return (0L, 1.0)
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(idxFile), 1 << 14))
    try {
      var best = 0L
      var total = 0L
      var within = 0L
      var sawBelow = false // an entry below lo exists -> count one neighbor
      var sawAbove = false
      val loB = lo.getOrElse(Long.MinValue)
      val hiB = hi.getOrElse(Long.MaxValue)
      var done = false
      while (!done) {
        try {
          val tok = in.readLong()
          val off = in.readLong()
          total += 1
          if (tok < loB) { best = off; sawBelow = true }
          if (tok >= loB && tok <= hiB) within += 1
          if (tok > hiB) sawAbove = true
        } catch { case _: EOFException => done = true }
      }
      val bounded = within + (if (sawBelow) 1L else 0L) + (if (sawAbove) 1L else 0L)
      val frac = if (total == 0) 1.0 else math.min(1.0, bounded.toDouble / total)
      (best, frac)
    } finally in.close()
  }
}

final class GraftBulkScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var lo: Option[Long] = None // inclusive
  private var hi: Option[Long] = None // inclusive
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = GraftBulkRead.schema
  private var limit: Option[Int] = None
  private var topN: Option[Boolean] = None // Some(desc) when ORDER BY token

  /** LIMIT n: plan only enough runs to cover n rows (manifest row counts
    * are exact), instead of opening every run of a huge load for a peek.
    * Returns false — Spark still applies the limit for exactness. */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    false
  }

  /** ORDER BY token [ASC|DESC] LIMIT n: ring-aligned runs have DISJOINT
    * token ranges, so the n globally-smallest (or largest) tokens live in
    * a prefix (suffix) of the runs ordered by range — plan only that.
    * Applied at plan time only when the directory's ranges verify
    * disjoint; Spark still sorts and limits (returns false). Orderings
    * not led by the token column push nothing.
    */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    orders.headOption.collect {
      case o if o.expression() == Expressions.column("token") ||
        o.expression().toString == "token" => o.direction()
    }.foreach { dir =>
      limit = Some(n)
      topN = Some(dir == SortDirection.DESCENDING)
    }
    false
  }
  override def isPartiallyPushed: Boolean = true

  // column pruning: a count or token histogram over a bulk directory must
  // not materialize the value payloads (the bulk of every record's bytes —
  // the reader SKIPS them instead of allocating + copying)
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def raiseLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
  private def lowerHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))

  /** Folds every token comparison into the band [lo, hi] the reader
    * applies, and hands back only the filters that band does not apply
    * exactly ([[GraftBulkRead.appliesExactly]]): with none left, Spark
    * plans no Filter over the scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val banded = filters.flatMap(f => GraftBulkRead.tokenBand(f).map(f -> _))
    banded.foreach { case (_, (l, h)) => l.foreach(raiseLo); h.foreach(lowerHi) }
    pushed = banded.map(_._1)
    filters.filterNot(GraftBulkRead.appliesExactly)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new GraftBulkScan(path, required, lo, hi, limit, topN)
}

/**
 * The planned scan. Splits are planned ONCE (lazily) and shared by
 * partition planning, statistics, ordering, and partitioning reports —
 * and re-planned if a RUNTIME filter narrows the token band after
 * compile time (SupportsRuntimeFiltering: Spark's dynamic-pruning rule
 * hands a broadcast join's actual `token` build values to the scan, the
 * per-range section streaming the reference's loader applies at runtime,
 * ExternalSSTableLoaderClient.java:57-137 — a repair join against a few
 * damaged tokens then touches only the runs that can contain them).
 */
final class GraftBulkScan(path: String, required: StructType,
    initLo: Option[Long], initHi: Option[Long],
    limit: Option[Int] = None, topN: Option[Boolean] = None)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsReportOrdering
    with SupportsReportPartitioning with SupportsRuntimeFiltering {

  @volatile private var lo: Option[Long] = initLo
  @volatile private var hi: Option[Long] = initHi
  // a runtime IN set prunes per-run, not just by its global [min, max]:
  // scattered repair tokens hit a few runs each, and a run whose range
  // contains NONE of the values reads nothing
  @volatile private var inSet: Option[Array[Long]] = None
  @volatile private var planned: Seq[GraftBulkRead.PlannedSplit] = _

  // one manifest read serves split planning, statistics, and the
  // ordering/partitioning reports alike
  private lazy val manifests = BulkSink.readManifests(new File(path))

  private def splits: Seq[GraftBulkRead.PlannedSplit] = {
    if (planned == null) {
      val base = GraftBulkRead.planSplits(new File(path), lo, hi, Some(manifests))
      val setPruned = inSet match {
        case Some(vs) => base.filter(s =>
          // random runs pin their Long range full-ring -> always kept
          vs.exists(v => v >= s.minToken && v <= s.maxToken))
        case None => base
      }
      planned = limitPrefix(setPruned)
    }
    planned
  }

  /** LIMIT/ORDER-BY-token-LIMIT planning: take runs (in token order for
    * top-n, directory order for a bare limit) until their EXACT row
    * counts cover the limit. Applied only when no band/set narrowing is
    * active (pro-rated estimates over-count and could under-plan) and
    * every file is manifested (exact counts). A bare LIMIT may take ANY
    * runs; top-n by token additionally needs the directory's ranges to
    * verify DISJOINT (overlapping runs share the extremes) — otherwise
    * nothing is truncated. Spark re-applies the limit/sort either way,
    * so this is purely a plan-size optimization. */
  private def limitPrefix(base: Seq[GraftBulkRead.PlannedSplit])
      : Seq[GraftBulkRead.PlannedSplit] = limit match {
    case Some(n) if lo.isEmpty && hi.isEmpty && inSet.isEmpty &&
        base.forall(_.estRows > 0) && (topN.isEmpty || rangesDisjoint) =>
      val ordered = topN match {
        case None        => base
        case Some(false) => base.sortBy(_.minToken)
        // NOT sortBy(-maxToken): -Long.MinValue overflows back to
        // Long.MinValue, so a run holding only minimum tokens (empty
        // partition keys pin there) would displace the true top runs
        case Some(true)  => base.sortBy(_.maxToken)(Ordering[Long].reverse)
      }
      var covered = 0L
      val out = scala.collection.mutable.ArrayBuffer.empty[GraftBulkRead.PlannedSplit]
      val it = ordered.iterator
      while (covered < n && it.hasNext) {
        val s = it.next()
        out += s
        covered += s.estRows
      }
      out.toSeq
    case _ => base
  }

  /** Disjoint, Murmur3-sorted token ranges across all non-empty runs. */
  private lazy val rangesDisjoint: Boolean = {
    val ms = manifests.filter(_.rows > 0)
    ms.forall(_.minTokenHex.isEmpty) && {
      val sorted = ms.sortBy(_.minToken)
      sorted.sliding(2).forall {
        case Seq(a, b) => a.maxToken < b.minToken
        case _         => true
      }
    }
  }
  private lazy val murmur3Sorted =
    GraftBulkRead.murmur3Sorted(new File(path), Some(manifests))

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("token"))

  /** Runtime narrowing: fold the join-side token values/bounds into the
    * band the reader applies and re-plan splits. An IN set narrows the
    * band to its [min, max] and prunes runs holding none of its values;
    * the band stays a superset of the set, which is safe because the
    * join that produced it still applies after the scan. Unknown filter
    * shapes are ignored. */
  override def filter(filters: Array[Filter]): Unit = {
    var newLo = lo
    var newHi = hi
    def raise(v: Long): Unit = newLo = Some(newLo.fold(v)(math.max(_, v)))
    def lower(v: Long): Unit = newHi = Some(newHi.fold(v)(math.min(_, v)))
    var newSet = inSet
    filters.foreach {
      case In("token", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Long]) =>
        val longs = vs.map(_.asInstanceOf[Long])
        raise(longs.min); lower(longs.max)
        // intersect with any previous set (both filters must hold)
        newSet = Some(newSet.fold(longs)(prev => prev.intersect(longs)))
      case f => GraftBulkRead.tokenBand(f).foreach { case (l, h) =>
        l.foreach(raise); h.foreach(lower)
      }
    }
    if (newLo != lo || newHi != hi || newSet.map(_.toSet) != inSet.map(_.toSet)) {
      lo = newLo; hi = newHi; inSet = newSet
      planned = null // re-plan with the narrowed band
    }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    splits.map(s => GraftBulkInputPartition(s): InputPartition).toArray

  // manifest-derived estimates AFTER token pruning (pro-rated into a run
  // by its sparse index), so Catalyst can broadcast a narrowly-filtered
  // bulk read into a join instead of shuffling both sides (logical bytes:
  // what the scan produces)
  override def estimateStatistics(): Statistics = {
    val known = splits.filter(_.estRows > 0)
    if (known.isEmpty) new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    } else new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.of(known.map(_.estBytes).sum)
      override def numRows() = java.util.OptionalLong.of(known.map(_.estRows).sum)
    }
  }

  // every split is one decorated-key-sorted run: (token ASC, pk ASC) per
  // partition — valid only for Murmur3 runs (the reader reports murmur3
  // tokens, which are unordered inside an md5-sorted random run) and only
  // over columns that survive pruning
  override def outputOrdering(): Array[SortOrder] = {
    val names = required.fieldNames
    if (!murmur3Sorted || !names.contains("token")) Array.empty
    else {
      val tok = Expressions.sort(Expressions.column("token"), SortDirection.ASCENDING)
      if (names.contains("pk"))
        Array(tok, Expressions.sort(Expressions.column("pk"), SortDirection.ASCENDING))
      else Array(tok)
    }
  }

  // every row of a split shares the split's ring bucket: key-grouped on
  // the `bucket` column when it survives pruning and every split knows
  // its bucket (HasPartitionKey carries the per-split key)
  override def outputPartitioning(): Partitioning = {
    val names = required.fieldNames
    if (names.contains("bucket") && splits.nonEmpty && splits.forall(_.bucket >= 0))
      new KeyGroupedPartitioning(Array(Expressions.identity("bucket")), splits.length)
    else new UnknownPartitioning(splits.length)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftBulkReaderFactory(required.fieldNames)
}

final case class GraftBulkInputPartition(split: GraftBulkRead.PlannedSplit)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(Array[Any](split.bucket))
}

final class GraftBulkReaderFactory(columns: Array[String] = GraftBulkRead.schema.fieldNames)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftBulkPartitionReader(partition.asInstanceOf[GraftBulkInputPartition].split, columns)
}

final class GraftBulkPartitionReader(split: GraftBulkRead.PlannedSplit,
    columns: Array[String] = GraftBulkRead.schema.fieldNames)
    extends PartitionReader[InternalRow] {
  // the value payload is the bulk of a record's bytes; when pruned away it
  // is SKIPPED in the stream, never allocated (the key must always be read
  // to advance the frame, and it yields the token anyway). A natural end
  // must land EXACTLY on the manifest's logical byte count, regardless of
  // the band: a sorted split that stops early never reaches the end of
  // the stream.
  private val records = new SortedRunWriter.RecordCursor(
    SortedRunWriter.openLogical(new File(split.file), split.codec, split.chunked,
      split.startOffset), split.file,
    readValues = columns.contains("value"), declaredBytes = split.totalBytes,
    startOffset = split.startOffset)
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (records.next()) {
      val token = CassandraTokens.token(records.key)
      // a sorted run holds nothing in band past its first token above hi
      if (token > split.hiBound) { if (split.sorted) return false }
      else if (token >= split.loBound) {
        current = new GenericInternalRow(columns.map[Any] {
          case "token"  => token
          case "pk"     => records.key
          case "value"  => records.value
          case "bucket" => split.bucket
        })
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = records.close()
}

package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

import graft.core.{CassandraTokens, CqlValueCodec}

/**
 * Bulk-load sink, directory mode: the Spark rebuild of the reference's
 * sorted-SSTable write path (CrunchCqlBulkRecordWriter.java:59-181 /
 * CrunchBulkRecordWriter.java:65-251 — behavior only). Each output
 * partition owns one contiguous token range of the ring; rows arrive
 * pre-sorted in decorated-key order and are appended to a local sorted
 * run ("Data.db" analog) plus a sparse index, exactly the contract a
 * CQLSSTableWriter in .sorted() mode needs. Network streaming to a live
 * cluster (SSTableLoader) is out of scope offline; the manifest records
 * everything a loader needs (token range, file, count, bytes).
 *
 * Scale design: the shuffle is RDD repartitionAndSortWithinPartitions —
 * ONE exchange, sort happens in the shuffle (Tungsten sort-spill), writer
 * is append-only and streams row-at-a-time: no buffering of a partition in
 * memory, so a 100 TB load is bounded by disk, not heap. Speculative
 * execution must stay off (Spark default) so no partition is written twice.
 */
object BulkSink {

  /** Seed of the bucket->partition permutation and of the salt sample
    * (any fixed value works; what matters is that driver and every task
    * agree). */
  private val SlotSeed = 0x5eed5107L

  /**
   * Seeded Fisher-Yates permutation of 0..n-1. The reference shuffles the
   * range->reducer assignment so ADJACENT token ranges (often co-hot: a
   * freshly-written id range, a time-ordered key prefix) do not land on
   * adjacent reducers of the same host (CassandraParams.java:319-328,
   * Collections.shuffle over the reducer list). The reference's shuffle is
   * unseeded-Random-per-job; here it is seeded so any task, retry, or
   * re-run computes the identical bijection with no config channel.
   */
  private[graft] def slotPermutation(n: Int): Array[Int] = {
    val perm = Array.tabulate(n)(identity)
    val rnd = new java.util.Random(SlotSeed)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    perm
  }

  /** The inverse of [[slotPermutation]]: the ring bucket (or salted
    * sub-bucket) each reducer slot owns. A task derives what it owns from
    * its partition id with it (same seed -> same bijection, no config
    * channel). */
  private[sinks] def slotOwners(n: Int): Array[Int] = {
    val owner = new Array[Int](n)
    slotPermutation(n).zipWithIndex.foreach { case (slot, b) => owner(slot) = b }
    owner
  }

  /**
   * Murmur3 ring-bucket partitioner, with per-bucket SALTING for hot
   * token ranges: bucket `b` expands to `salts(b)` sub-buckets (1 when
   * absent), and rows route to a sub-bucket by a seeded hash of the
   * PARTITION-KEY bytes (a pure function of the key — Spark may recompute
   * map tasks on fetch failure, so per-record randomness would corrupt
   * the shuffle; and same-pk rows stay in ONE sub-bucket, so the k-way
   * merge never has to interleave equal keys from two runs and same-key
   * rows remain contiguous, the newRow-on-key-change contract). The
   * sub-bucket hash is Scala's Murmur3 x86 under its own seed —
   * uncorrelated with the Cassandra x64_128 ring token that keys the
   * SORT. The slot permutation applies over the TOTAL sub-bucket count,
   * so a hot range's sub-buckets spread across reducers like adjacent
   * ranges do. With no salts, `total = n` and bucket b goes to slot
   * `slotPermutation(n)(b)`.
   *
   * This is the answer SURVEY §7.4 risk 5 asks for: the reference's
   * only hot-range escape (`distributerandomly`,
   * CassandraPartitioner.java:58-60) forfeits ring alignment for EVERY
   * range; salting splits only the hot ones and [[writeSorted]]'s
   * sink-side merge restores the one-sorted-run-per-range contract.
   */
  final class RingPartitioner(n: Int, salts: Map[Int, Int] = Map.empty) extends Partitioner {
    require(n > 0)
    require(salts.forall { case (b, k) => b >= 0 && b < n && k >= 1 },
      s"salts must map bucket in [0, $n) -> subBuckets >= 1: $salts")
    private[sinks] val kOf = Array.tabulate(n)(b => salts.getOrElse(b, 1))
    private[sinks] val offsets = kOf.scanLeft(0)(_ + _) // length n+1
    /** Total shuffle partitions: n plus the extra sub-buckets. */
    val total: Int = offsets(n)
    private val perm = slotPermutation(total)
    override def numPartitions: Int = total
    override def getPartition(key: Any): Int = key match {
      case (token: Long, pk: Array[Byte]) =>
        val b = CassandraTokens.bucketOfToken(token, n)
        val k = kOf(b)
        val sub =
          if (k == 1) 0
          else scala.math.floorMod(
            scala.util.hashing.MurmurHash3.bytesHash(pk, 0x5a17ed), k)
        perm(offsets(b) + sub)
      case other => throw new IllegalArgumentException(s"bad key: $other")
    }
  }

  /** RandomPartitioner ring-bucket partitioner: keys carry canonical
    * 16-byte md5 tokens; buckets are the reference's ceil(2^127/n) ranges
    * (CassandraParams.java:297-316), permuted like the Murmur3 path. */
  final class RandomRingPartitioner(n: Int) extends Partitioner {
    require(n > 0)
    private val perm = slotPermutation(n)
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key match {
      case (token: Array[Byte], _) => perm(CassandraTokens.randomBucketOfTokenBytes(token, n))
      case other => throw new IllegalArgumentException(s"bad key: $other")
    }
  }

  /**
   * `distributerandomly` partitioner: spreads rows over partitions with no
   * correlation to ring position, the reference's load-balance escape hatch
   * (CassandraPartitioner.java:58-60 assigns a random reducer). Crucially
   * the reference KEEPS the within-reducer decorated-key sort — the sort
   * comparator applies regardless of routing (CassandraParams.java:291-293)
   * — so the output is still valid sorted runs, just not ring-aligned.
   * The reference draws Random.nextInt per record, safe under MR because
   * map output materializes exactly once; Spark recomputes map tasks on
   * fetch failure, so the assignment must be a pure function of the key:
   * a seeded hash of the partition-key bytes (uncorrelated with the
   * Murmur3 ring token, which keys the sort, not the routing).
   */
  final class RandomSpreadPartitioner(n: Int) extends Partitioner {
    require(n > 0)
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key match {
      case (_, pk: Array[Byte]) =>
        scala.math.floorMod(scala.util.hashing.MurmurHash3.bytesHash(pk, 0x5eed5107), n)
      case other => throw new IllegalArgumentException(s"bad key: $other")
    }
  }

  /** Decorated-key order: token, then unsigned key bytes (G3 semantics). */
  implicit val decoratedOrdering: Ordering[(Long, Array[Byte])] =
    (a: (Long, Array[Byte]), b: (Long, Array[Byte])) =>
      CassandraTokens.compareDecorated(a._1, a._2, b._1, b._2)

  /** RandomPartitioner decorated-key order: 16-byte md5 token (unsigned
    * lexicographic = numeric), then unsigned key bytes. */
  val randomDecoratedOrdering: Ordering[(Array[Byte], Array[Byte])] =
    (a: (Array[Byte], Array[Byte]), b: (Array[Byte], Array[Byte])) => {
      val c = CassandraTokens.compareUnsigned(a._1, b._1)
      if (c != 0) c else CassandraTokens.compareUnsigned(a._2, b._2)
    }

  /** `bytes` is the LOGICAL record-stream size (what a re-parse yields);
    * `physicalBytes` is the on-disk size (what a transfer costs) — they
    * differ only for compressed runs. -1 = written by a pre-r8 job.
    * RandomPartitioner runs carry their md5 token range as 32-char hex in
    * `minTokenHex`/`maxTokenHex` (md5 tokens reach 2^127 and overflow the
    * Long fields, which such runs pin to the full range so Long-token
    * pruning keeps them); empty hex = a Murmur3 run.
    * `chunks` is the compressed run's chunk-map entry count: readers use
    * it to tell "this run NEEDS its Chunks.db sidecar" (a missing sidecar
    * then fails loudly instead of silently decoding only the first chunk)
    * from a legacy pre-chunking sequential run (-1 = written before the
    * field existed, chunked-ness unknown; 0 = uncompressed). */
  final case class PartitionManifest(
      partition: Int, rows: Long, bytes: Long, minToken: Long, maxToken: Long,
      sorted: Boolean, dataFile: String, indexFile: String, codec: String = "none",
      physicalBytes: Long = -1L, minTokenHex: String = "", maxTokenHex: String = "",
      chunks: Int = -1)

  /**
   * Write `df` as sorted per-token-range runs under `outDir`, the
   * engine's one writer of the run format. `keyCols` form the partition
   * key (composite if 2+). Every column is encoded by
   * [[CqlValueCodec.rowEncoder]]. Returns per-partition manifests (also
   * persisted as _MANIFEST.json). A ring-aligned run (Murmur3 or
   * RandomPartitioner) is named, and its manifest `partition` set, by
   * its ring bucket, whichever reducer slot wrote it; a
   * `distributerandomly` run owns no bucket and keeps its reducer slot.
   *
   * `salts` maps a hot Murmur3 ring bucket to the number of sub-buckets
   * its rows shuffle over (see [[RingPartitioner]] and [[writeRing]]);
   * the merged layout is that of a plain write. A plain load is the case
   * in which every bucket has one salt. Salting is the ring-preserving
   * alternative to `distributeRandomly`, so salts with it, or with the
   * RandomPartitioner, are refused before any job runs; [[planSalts]]
   * finds the hot buckets from a sample.
   *
   * Records are ordered by decorated key (token, then key bytes) and by
   * nothing else: records that share a partition key keep the order in
   * which the shuffle delivers them, i.e. their arrival order. With
   * unique keys the runs are a function of the rows alone; with shared
   * keys their bytes (and a compressed run's size) follow the input's
   * order.
   *
   * `outDir` must be empty or absent: a directory that already holds a
   * load is refused before any job runs ([[requireEmptySink]]).
   */
  def writeSorted(df: DataFrame, keyCols: Seq[String], numBuckets: Int,
      outDir: String, indexInterval: Int = 128,
      partitionerClass: String = graft.core.CassandraParams.Murmur3Partitioner,
      compression: Option[String] = None,
      distributeRandomly: Boolean = false,
      chunkSize: Int = SortedRunWriter.DefaultChunkSize,
      salts: Map[Int, Int] = Map.empty)
      : Seq[PartitionManifest] = {
    require(keyCols.nonEmpty)
    // resolve the codec and validate the chunk size DRIVER-side so a bad
    // option fails before the shuffle runs, not in task 0 of the write stage
    val codec = compression.map(SortedRunWriter.normalizeCodec)
    require(chunkSize >= 1024, s"chunkSize must be >= 1 KiB, got $chunkSize")
    requireEmptySink(outDir)
    val isRandom = partitionerClass match {
      case graft.core.CassandraParams.Murmur3Partitioner => false
      case graft.core.CassandraParams.RandomPartitioner  => true
      case other => throw new IllegalArgumentException(
        s"unknown partitioner class: $other")
    }
    require(salts.isEmpty || (!isRandom && !distributeRandomly),
      "salts need the Murmur3 partitioner and no distributeRandomly — " +
        s"salting IS the ring-preserving alternative to distributeRandomly: $salts")
    Files.createDirectories(Paths.get(outDir))

    // distributerandomly changes ONLY the routing; the shuffle still sorts
    // every partition in decorated-key order, so both paths emit valid
    // sorted runs — random ones just span the full token range (their
    // manifests say so, and the stream plan fans them to all replicas)
    val manifests: Seq[PartitionManifest] = if (isRandom) {
      // RandomPartitioner (CassandraPartitioner.java:46-47,63-72): tokens
      // are abs(md5(key)) carried as canonical 16-byte big-endian values,
      // bucketed by ceil(2^127/n) ranges, sorted unsigned-lexicographic
      // (= numeric md5 token order)
      val keyed = keyedRows(df, keyCols, CassandraTokens.md5TokenBytes)
      val partitioner: Partitioner =
        if (distributeRandomly) new RandomSpreadPartitioner(numBuckets)
        else new RandomRingPartitioner(numBuckets)
      val owner = slotOwners(numBuckets)
      // the ordered-RDD conversion needs the key Ordering implicitly
      implicit val ord: Ordering[(Array[Byte], Array[Byte])] = randomDecoratedOrdering
      val aligned = keyed.repartitionAndSortWithinPartitions(partitioner)
      aligned.mapPartitionsWithIndex { (pid, it) =>
        val run = if (distributeRandomly) pid else owner(pid)
        Iterator.single(writeRandomPartition(outDir, run, it, codec, chunkSize))
      }.collect().toSeq
    } else {
      val keyed = keyedRows(df, keyCols, CassandraTokens.token)
      if (distributeRandomly)
        keyed.repartitionAndSortWithinPartitions(new RandomSpreadPartitioner(numBuckets))
          .mapPartitionsWithIndex { (pid, it) =>
            Iterator.single(writePartition(outDir, pid, it, indexInterval, codec, chunkSize))
          }.collect().toSeq
      else writeRing(keyed, numBuckets, outDir, salts, indexInterval, codec, chunkSize)
    }

    val json = manifests.map(manifestJson).mkString("[", ",", "]")
    Files.write(Paths.get(outDir, "_MANIFEST.json"), json.getBytes(StandardCharsets.UTF_8))
    manifests
  }

  /**
   * The Murmur3 ring write: one shuffle sends every ring bucket, or each
   * sub-bucket of a salted one, to its own reducer slot, and each slot
   * writes one sorted run. A bucket with one salt writes its final run
   * straight into `outDir`, named by the bucket. The `k` slots of a
   * salted bucket write plain sub-runs into `_salt-tmp`, and one merge
   * task per hot range then K-WAY MERGES them back into ONE
   * decorated-key-sorted run named by the bucket ([[mergeSubRuns]]), so
   * the layout is indistinguishable from an unsalted write.
   *
   * Scale shape: `k` reducers share a hot range's rows and sort-spill in
   * parallel instead of one straggler (CassandraPartitioner.java:57-72's
   * one-range-one-reducer shape); the merge streams `k` sorted runs
   * through a k-element heap — sequential I/O, constant memory, no
   * re-sort — so a hot range's bytes are read once more, the price of
   * removing the straggler. `_salt-tmp` exists only while a salted write
   * runs. Manifests come back in slot order, a merged run in the place
   * of its bucket's first sub-run.
   */
  private def writeRing(keyed: RDD[((Long, Array[Byte]), Array[Byte])],
      numBuckets: Int, outDir: String, salts: Map[Int, Int], indexInterval: Int,
      codec: Option[String], chunkSize: Int): Seq[PartitionManifest] = {
    val partitioner = new RingPartitioner(numBuckets, salts)
    val kOf = partitioner.kOf
    val offsets = partitioner.offsets
    val owner = slotOwners(partitioner.total)
    val tmp = new java.io.File(outDir, "_salt-tmp")
    val tmpPath = tmp.getAbsolutePath
    // staging is reclaimed on EVERY exit: a failed task or merge must not
    // strand a hot range's worth of sub-run bytes under the output dir
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete(); ()
    }
    if (salts.nonEmpty) Files.createDirectories(tmp.toPath)
    try {
      // per slot: (bucket, sub-bucket, manifest)
      val written = keyed.repartitionAndSortWithinPartitions(partitioner)
        .mapPartitionsWithIndex { (pid, it) =>
          val sub = owner(pid)
          var b = java.util.Arrays.binarySearch(offsets, sub)
          if (b < 0) b = -b - 2
          // a sub-run is written plain: the merge re-reads it and encodes
          // once, in the final writer
          val m =
            if (kOf(b) == 1) writePartition(outDir, b, it, indexInterval, codec, chunkSize)
            else writePartition(tmpPath, pid, it, indexInterval, None, chunkSize)
          Iterator.single((b, sub - offsets(b), m))
        }.collect().toSeq
      val hot = written.filter(w => kOf(w._1) > 1).groupBy(_._1).toSeq.map {
        case (b, group) =>
          val subs = group.sortBy(_._2).map(_._3)
          (b, subs.map(_.dataFile), subs.map(_.rows).sum)
      }
      // one merge task per hot range; each must reproduce its sub-runs'
      // row total exactly
      val merged =
        if (hot.isEmpty) Map.empty[Int, PartitionManifest]
        else keyed.sparkContext.parallelize(hot, hot.size).map {
          case (b, dataFiles, rows) =>
            b -> mergeSubRuns(tmpPath, outDir, b, dataFiles, rows,
              indexInterval, codec, chunkSize)
        }.collect().toMap
      written.collect { case (b, 0, m) => merged.getOrElse(b, m) }
    } finally if (salts.nonEmpty) rmTree(tmp)
  }

  /**
   * Refuses a sink directory that already holds a load: run files
   * (`graft-*-Data.db`), a manifest, a stream plan or a salted write's
   * staging dir. A second load into it would leave runs its manifest
   * does not list (the reader full-scans those next to the new ones),
   * keep a stale stream plan, or fail midway with some new runs already
   * in place. Driver-side and file-system only, so it runs before any job.
   */
  def requireEmptySink(outDir: String): Unit = {
    val held = Option(new java.io.File(outDir).list()).getOrElse(Array.empty[String])
      .filter(n => (n.startsWith("graft-") && n.endsWith("-Data.db")) ||
        n == "_MANIFEST.json" || n == "_STREAM_PLAN.json" || n == "_salt-tmp")
    require(held.isEmpty, s"sink directory $outDir already holds a load " +
      s"(${held.length} entries such as ${held.min}); load into an empty or absent directory")
  }

  /** K-way merge of one hot range's sorted sub-runs into its final
    * decorated-key-sorted run: a k-element min-heap streams the runs —
    * sequential reads, O(k) memory — and the writer's own sorted-input
    * check re-verifies global order at write time (any heap or routing
    * bug fails loudly, never ships an unsorted run). `expectedRows`
    * (the phase-1 manifests' sum) is REQUIRED to match the merged
    * count — belt over the cursor's truncation check. A sub-run that
    * cannot be opened fails the merge like any other fault: the run in
    * progress is removed and every cursor that did open is closed. */
  private[graft] def mergeSubRuns(tmpDir: String, outDir: String,
      bucket: Int, dataFiles: Seq[String], expectedRows: Long,
      indexInterval: Int, codec: Option[String],
      chunkSize: Int): PartitionManifest = {
    val writer = new SortedRunWriter(outDir, bucket, indexInterval, codec,
      chunkSize = chunkSize)
    val cursors = scala.collection.mutable.ArrayBuffer.empty[SortedRunWriter.RecordCursor]
    try {
      dataFiles.foreach { f =>
        val file = new java.io.File(tmpDir, f)
        cursors += new SortedRunWriter.RecordCursor(new java.io.BufferedInputStream(
          new java.io.FileInputStream(file), 1 << 16), s"sub-run $file")
      }
      // heap entries carry each cursor's head token: the run format
      // stores none, so it is recomputed once per record
      type Head = (Long, SortedRunWriter.RecordCursor)
      val heap = new java.util.PriorityQueue[Head](
        math.max(1, cursors.size),
        (a: Head, b: Head) =>
          CassandraTokens.compareDecorated(a._1, a._2.key, b._1, b._2.key))
      def push(c: SortedRunWriter.RecordCursor): Unit =
        if (c.next()) { heap.add((CassandraTokens.token(c.key), c)); () }
      cursors.foreach(push)
      while (!heap.isEmpty) {
        val (token, c) = heap.poll()
        writer.add(token, c.key, c.value)
        push(c)
      }
      val m = writer.close()
      require(m.rows == expectedRows,
        s"merged run for bucket $bucket carries ${m.rows} rows, " +
          s"phase-1 sub-runs declared $expectedRows — a sub-run was " +
          "truncated or foreign; refusing the undercounted merge")
      m
    } catch { case e: Throwable => writer.abort(); throw e }
    finally cursors.foreach(_.close())
  }

  /** [[planSalts]]: the share of rows sampled, how many times the mean
    * a bucket's share must exceed to count as hot, and the most
    * sub-buckets one hot bucket gets. */
  private val SaltSampleFraction = 0.01
  private val HotFactor = 2.0
  private val MaxSalt = 16

  /**
   * Hot-range detection for [[writeSorted]]'s `salts`: estimates each ring
   * bucket's row share from one seeded sample pass and proposes
   * `ceil(share / mean)` sub-buckets (at most `MaxSalt`) for every bucket
   * whose share exceeds `HotFactor`× the mean. Driver state is #buckets
   * counters; an empty result means the ring is balanced and the write
   * is a plain one.
   */
  def planSalts(df: DataFrame, keyCols: Seq[String], numBuckets: Int): Map[Int, Int] = {
    require(keyCols.nonEmpty)
    val sample = df.sample(withReplacement = false, SaltSampleFraction, seed = SlotSeed)
    val keyOf = partitionKeyOf(sample.schema, keyCols)
    val counts = sample.queryExecution.toRdd.map { row =>
      CassandraTokens.bucketOfToken(CassandraTokens.token(keyOf(row)), numBuckets)
    }.countByValue()
    val totalN = counts.values.sum.toDouble
    if (totalN == 0) return Map.empty
    val mean = totalN / numBuckets
    counts.collect {
      case (b, c) if c > HotFactor * mean =>
        b -> math.min(MaxSalt, math.ceil(c / mean).toInt)
    }.toMap
  }

  /** One manifest entry as JSON. The hex token-range fields appear only
    * for RandomPartitioner runs. */
  private[graft] def manifestJson(m: PartitionManifest): String = {
    val hexFields =
      if (m.minTokenHex.isEmpty) ""
      else s""""minTokenHex":"${m.minTokenHex}","maxTokenHex":"${m.maxTokenHex}","""
    s"""{"partition":${m.partition},"rows":${m.rows},"bytes":${m.bytes},""" +
      s""""physicalBytes":${m.physicalBytes},"chunks":${m.chunks},""" +
      hexFields +
      s""""minToken":${m.minToken},"maxToken":${m.maxToken},"sorted":${m.sorted},""" +
      s""""dataFile":"${m.dataFile}","indexFile":"${m.indexFile}","codec":"${m.codec}"}"""
  }

  private val ManifestEntryRe =
    ("""\{"partition":(-?\d+),"rows":(\d+),"bytes":(\d+),(?:"physicalBytes":(-?\d+),)?""" +
      """(?:"chunks":(-?\d+),)?""" +
      """(?:"minTokenHex":"([0-9a-f]*)","maxTokenHex":"([0-9a-f]*)",)?""" +
      """"minToken":(-?\d+),"maxToken":(-?\d+),"sorted":(true|false),""" +
      """"dataFile":"([^"]+)","indexFile":"([^"]*)","codec":"([^"]+)"\}""").r

  /** Parse a _MANIFEST.json (the physicalBytes and hex token-range fields
    * are absent in older manifests). Empty if the file is missing. */
  def readManifests(dir: java.io.File): Seq[PartitionManifest] = {
    val mf = new java.io.File(dir, "_MANIFEST.json")
    if (!mf.exists()) Nil
    else {
      val json = new String(Files.readAllBytes(mf.toPath), StandardCharsets.UTF_8)
      ManifestEntryRe.findAllMatchIn(json).map { g =>
        PartitionManifest(g.group(1).toInt, g.group(2).toLong, g.group(3).toLong,
          g.group(8).toLong, g.group(9).toLong, g.group(10).toBoolean,
          g.group(11), g.group(12), g.group(13),
          physicalBytes = Option(g.group(4)).map(_.toLong).getOrElse(-1L),
          minTokenHex = Option(g.group(6)).getOrElse(""),
          maxTokenHex = Option(g.group(7)).getOrElse(""),
          chunks = Option(g.group(5)).map(_.toInt).getOrElse(-1))
      }.toSeq
    }
  }

  /** Append-only sorted-run writer; enforces the sorted-input contract
    * (the .sorted() writer requirement — the reference's newRow-on-key-
    * change would corrupt on unsorted input). */
  private def writePartition(outDir: String, pid: Int,
      it: Iterator[((Long, Array[Byte]), Array[Byte])],
      indexInterval: Int, codec: Option[String],
      chunkSize: Int = SortedRunWriter.DefaultChunkSize): PartitionManifest = {
    val writer = new SortedRunWriter(outDir, pid, indexInterval, codec,
      chunkSize = chunkSize)
    try {
      while (it.hasNext) {
        val ((token, key), value) = it.next()
        writer.add(token, key, value)
      }
      writer.close()
    } catch { case e: Throwable => writer.abort(); throw e }
  }

  /** RandomPartitioner variant: keys arrive as canonical md5 token bytes. */
  private def writeRandomPartition(outDir: String, pid: Int,
      it: Iterator[((Array[Byte], Array[Byte]), Array[Byte])],
      codec: Option[String],
      chunkSize: Int = SortedRunWriter.DefaultChunkSize): PartitionManifest = {
    val writer = new SortedRunWriter(outDir, pid, compression = codec,
      randomTokens = true, chunkSize = chunkSize)
    try {
      while (it.hasNext) {
        val ((token, key), value) = it.next()
        writer.addRandom(token, key, value)
      }
      writer.close()
    } catch { case e: Throwable => writer.abort(); throw e }
  }

  /** The one keying pass of every write, over `df`'s internal rows:
    * per row its partition key (one key column raw, 2+ composite), the
    * key's token, and its record value (every column, CQL-encoded by
    * [[CqlValueCodec.rowEncoder]]). Encoders are built driver-side, so an
    * unsupported column type fails before any job runs. */
  private def keyedRows[T](df: DataFrame, keyCols: Seq[String],
      tokenOf: Array[Byte] => T): RDD[((T, Array[Byte]), Array[Byte])] = {
    val schema = df.schema
    val keyOf = partitionKeyOf(schema, keyCols)
    val valueOf = CqlValueCodec.rowEncoder(schema.fields.indices.map(i => (i, schema(i).dataType)))
    df.queryExecution.toRdd.map { row =>
      val pk = keyOf(row)
      ((tokenOf(pk), pk), valueOf(row))
    }
  }

  /** Partition key bytes of an internal row: one key column's CQL bytes
    * raw, 2+ key columns as a composite. */
  private def partitionKeyOf(schema: StructType,
      keyCols: Seq[String]): InternalRow => Array[Byte] = {
    val idx = keyCols.map(schema.fieldIndex).toArray
    val encoders = idx.map(i => CqlValueCodec.encoder(schema(i).dataType))
    if (idx.length == 1) row => encoders(0)(row, idx(0))
    else row => CqlValueCodec.composite(Array.tabulate(idx.length)(j => encoders(j)(row, idx(j))))
  }
}

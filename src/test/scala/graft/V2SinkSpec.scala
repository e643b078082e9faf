package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CassandraTokens, CqlValueCodec}
import graft.functions.cassandra_token
import graft.sinks.BulkSink

/** The graft-bulk run format: runs written by [[BulkSink]], the one bulk
  * writer, read back through the read-only "graft-bulk" DataSource. */
class V2SinkSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  test("v2 round trip: written runs read back via spark.read") {
    val (out, ms) = SparkSuite.bulkOrders("rt", 4)
    val back = spark.read.format("graft-bulk").option("path", out).load()
    assert(back.columns.toSeq === Seq("token", "pk", "value", "bucket"))
    assert(back.count() === 1500)
    // tokens recompute from keys and every pk round-trips
    val bad = back.filter(cassandra_token(col("pk")) =!= col("token")).count()
    assert(bad === 0)
    // distributed read parallelism = one split per non-empty run
    val nonEmpty = ms.count(_.rows > 0)
    assert(nonEmpty >= 1 && back.rdd.getNumPartitions === nonEmpty)
  }

  test("compressionclass round-trips through the sink for every codec") {
    import graft.sinks.SortedRunWriter
    for (cls <- Seq("DeflateCompressor", "LZ4Compressor", "ZstdCompressor",
        "org.apache.cassandra.io.compress.SnappyCompressor")) {
      val codec = SortedRunWriter.normalizeCodec(cls)
      // option -> writer -> manifest -> spark.read decompresses
      val (out, ms) = SparkSuite.bulkOrders(codec, 4, compression = Some(cls))
      assert(ms.forall(_.codec === codec), s"manifest missing codec for $cls")
      assert(BulkSink.readManifests(new java.io.File(out)).forall(_.codec === codec))
      val back = spark.read.format("graft-bulk").option("path", out).load()
      assert(back.count() === 1500)
      assert(back.filter(cassandra_token(col("pk")) =!= col("token")).count() === 0)
      // compressed Data.db must not parse as the raw record format
      // (i.e. the bytes on disk really are codec bytes, not plaintext):
      // logical bytes in the manifest exceed the physical deflate file
      if (codec == "deflate") {
        val logical = ms.map(_.bytes).sum
        val physical = new java.io.File(out).listFiles()
          .filter(_.getName.endsWith("Data.db")).map(_.length).sum
        assert(physical < logical, s"deflate wrote $physical >= logical $logical")
      }
    }
  }

  test("compressed runs carry physical bytes, a chunk map, and a usable Index.db") {
    import graft.sinks.SortedRunWriter
    val (out, all) = SparkSuite.bulkOrders("cmeta", 4, compression = Some("DeflateCompressor"))
    val dir = new java.io.File(out)
    val ms = all.filter(_.rows > 0)
    assert(ms.nonEmpty)
    ms.foreach { m =>
      // chunked compression (CompressionInfo.db analog) makes logical
      // offsets seekable, so compressed runs now carry an index AND a
      // chunk map; physical stays below logical
      assert(m.indexFile.nonEmpty && new java.io.File(dir, m.indexFile).exists())
      val chunks = SortedRunWriter.readChunks(
        SortedRunWriter.chunksFileFor(new java.io.File(dir, m.dataFile)))
      assert(chunks.nonEmpty, s"${m.dataFile} has no chunk map")
      assert(chunks.head === ((0L, 0L)))
      // chunk offsets ascend in both coordinates and stay in range
      chunks.sliding(2).foreach {
        case Array((l1, p1), (l2, p2)) => assert(l1 < l2 && p1 < p2)
        case _ => ()
      }
      assert(chunks.last._1 < m.bytes && chunks.last._2 < m.physicalBytes)
      assert(m.physicalBytes === new java.io.File(dir, m.dataFile).length)
      assert(m.physicalBytes < m.bytes,
        s"${m.dataFile}: physical ${m.physicalBytes} not below logical ${m.bytes}")
    }
    // uncompressed runs: physical == logical, index present, no chunk map
    val (out2, all2) = SparkSuite.bulkOrders("umeta", 4)
    val ms2 = all2.filter(_.rows > 0)
    assert(ms2.nonEmpty)
    ms2.foreach { m =>
      assert(m.physicalBytes === m.bytes)
      assert(m.indexFile.nonEmpty)
      assert(new java.io.File(out2, m.indexFile).exists())
      assert(!SortedRunWriter.chunksFileFor(new java.io.File(out2, m.dataFile)).exists())
    }
  }

  test("token-banded read of a zstd run seeks via index + chunk map") {
    import graft.sinks.SortedRunWriter
    import graft.sinks.v2.GraftBulkRead
    // ONE compressed run with dense index and small chunks so a mid-run
    // band demonstrably starts past byte zero
    val (out, ms) = SparkSuite.bulkOrders("zseek", 1,
      Seq("o_orderkey", "o_orderpriority", "o_orderdate"), indexInterval = 16,
      compression = Some("ZstdCompressor"), chunkSize = 4 * 1024)
    val m = ms.find(_.rows > 0).get
    val dir = new java.io.File(out)
    val full = spark.read.format("graft-bulk").option("path", out).load()
      .select("token").as[Long].collect().sorted
    val lo = full((full.length * 0.8).toInt)

    // the planned split starts at a LOGICAL offset inside the run...
    val splits = GraftBulkRead.planSplits(dir, Some(lo), None)
    assert(splits.length === 1)
    assert(splits.head.startOffset > 0, "no index seek into the compressed run")
    // ...and the chunk map resolves it to a physical seek past byte zero,
    // i.e. the read touches fewer physical bytes than the whole file
    val chunks = SortedRunWriter.readChunks(
      SortedRunWriter.chunksFileFor(new java.io.File(dir, m.dataFile)))
    val (stream, logicalStart) = SortedRunWriter.openChunked(
      new java.io.File(dir, m.dataFile), "zstd", chunks, splits.head.startOffset)
    stream.close()
    assert(logicalStart > 0 && logicalStart <= splits.head.startOffset)
    val physStart = chunks.collectFirst { case (l, p) if l == logicalStart => p }.get
    assert(physStart > 0 && physStart < m.physicalBytes,
      s"banded read still starts at physical byte 0 of ${m.physicalBytes}")

    // e2e exactness through spark.read with the filter pushed
    def scan() = spark.read.format("graft-bulk").option("path", out).load()
    assert(scan().filter(col("token") >= lo).count() === full.count(_ >= lo))
    val hi = full((full.length * 0.9).toInt)
    assert(scan().filter(col("token") >= lo && col("token") <= hi).count() ===
      full.count(t => t >= lo && t <= hi))
  }

  test("token predicates prune runs and index-seek past leading bytes") {
    import graft.sinks.v2.GraftBulkRead
    val (out, ms) = SparkSuite.bulkOrders("prune", 4, Seq("o_orderkey", "o_orderstatus"),
      indexInterval = 16)
    val dir = new java.io.File(out)
    val nonEmpty = ms.count(_.rows > 0)
    val full = spark.read.format("graft-bulk").option("path", out).load()
      .select("token").as[Long].collect().sorted
    val lo = full((full.length * 0.7).toInt)
    val hi = full((full.length * 0.3).toInt)

    // manifest [minToken, maxToken] prunes whole runs on either bound
    val loSplits = GraftBulkRead.planSplits(dir, Some(lo), None)
    assert(loSplits.length < nonEmpty, s"lower bound pruned nothing ($nonEmpty splits)")
    assert(GraftBulkRead.planSplits(dir, None, Some(hi)).length < nonEmpty)

    // the run containing lo starts mid-file via its sparse index
    val containing = ms.filter(m => m.rows > 0 && m.minToken < lo && lo <= m.maxToken)
    assert(containing.nonEmpty)
    containing.foreach { m =>
      val s = loSplits.find(_.file.endsWith(m.dataFile)).get
      assert(s.startOffset > 0, s"no index seek into ${m.dataFile}")
      assert(s.startOffset < m.bytes)
    }

    // e2e: the pushed filter reads fewer splits and stays exact
    def scan() = spark.read.format("graft-bulk").option("path", out).load()
    val lower = scan().filter(col("token") >= lo)
    assert(lower.rdd.getNumPartitions < nonEmpty)
    assert(lower.count() === full.count(_ >= lo))
    val ranged = scan().filter(col("token") >= hi && col("token") <= lo)
    assert(ranged.count() === full.count(t => t >= hi && t <= lo))
    val point = scan().filter(col("token") === lo)
    assert(point.count() === full.count(_ == lo))
    // a filter outside every run's range reads zero splits
    assert(GraftBulkRead.planSplits(dir, Some(Long.MaxValue), None)
      .isEmpty || full.max == Long.MaxValue)
  }

  test("column pruning reaches the scan; value payloads skip, results exact") {
    val (out, _) = SparkSuite.bulkOrders("colprune", 4)
    def scan() = spark.read.format("graft-bulk").option("path", out).load()

    // the leaf scan's output shrinks to the projected columns (Catalyst
    // pushed the projection into the source, not a post-scan Project)
    val tokensOnly = scan().select("token")
    val leafOut = tokensOnly.queryExecution.executedPlan.collectLeaves()
      .head.output.map(_.name)
    assert(leafOut === Seq("token"), s"scan still reads $leafOut")

    // projected values match the full read in every combination
    val full = scan().collect().map(r => (r.getLong(0),
      r.getAs[Array[Byte]](1).toSeq, r.getAs[Array[Byte]](2).toSeq))
    assert(tokensOnly.as[Long].collect().sorted.toSeq ===
      full.map(_._1).sorted.toSeq)
    val pks = scan().select("pk").collect().map(_.getAs[Array[Byte]](0).toSeq)
    assert(pks.sortBy(_.toString) === full.map(_._2).sortBy(_.toString))
    assert(scan().count() === full.length) // no columns at all (count*)
    // pruning composes with the token-range pushdown
    val mid = full.map(_._1).sorted.apply(full.length / 2)
    assert(scan().filter(col("token") >= mid).select("pk").count() ===
      full.count(_._1 >= mid))
  }

  test("scan statistics come from manifests and shrink under token pruning") {
    import graft.sinks.v2.GraftBulkScanBuilder
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val (out, ms) = SparkSuite.bulkOrders("stats", 4, Seq("o_orderkey", "o_orderstatus"))

    def stats(f: GraftBulkScanBuilder => Unit) = {
      val b = new GraftBulkScanBuilder(out)
      f(b)
      b.build().asInstanceOf[SupportsReportStatistics].estimateStatistics()
    }
    val full = stats(_ => ())
    assert(full.numRows.getAsLong === ms.map(_.rows).sum)
    assert(full.sizeInBytes.getAsLong === ms.map(_.bytes).sum)
    // a bound above some runs' maxToken must shrink the estimate
    val cut = ms.filter(_.rows > 0).map(_.maxToken).sorted.apply(1)
    val pruned = stats(_.pushFilters(Array(GreaterThanOrEqual("token", cut + 1))))
    assert(pruned.numRows.getAsLong < full.numRows.getAsLong)
    assert(pruned.sizeInBytes.getAsLong < full.sizeInBytes.getAsLong)
    assert(pruned.numRows.getAsLong > 0)
  }

  test("RandomPartitioner runs read back whole: md5-sorted on disk, no murmur3 early-stop") {
    import graft.core.CassandraParams
    val (out, all) = SparkSuite.bulkOrders("random", 4,
      partitionerClass = CassandraParams.RandomPartitioner)
    val ms = all.filter(_.rows > 0)
    assert(ms.nonEmpty && ms.map(_.rows).sum === 1500)
    ms.foreach { m =>
      assert(m.minTokenHex.matches("[0-9a-f]{32}"))
      assert(m.indexFile.isEmpty)
    }
    // runs are md5-decorated-sorted on disk
    ms.foreach { m =>
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(new java.io.File(out, m.dataFile))))
      var prev: Array[Byte] = null
      try {
        while (in.available() > 0) {
          val klen = in.readUnsignedShort()
          val key = new Array[Byte](klen); in.readFully(key)
          in.skipBytes(in.readInt())
          if (prev != null)
            assert(CassandraTokens.compareRandomDecorated(prev, key) <= 0,
              s"unsorted random run ${m.dataFile}")
          prev = key
        }
      } finally in.close()
    }
    // a murmur3 token-range read over a random directory must NOT
    // early-stop mid-file (runs aren't murmur3-sorted): counts stay exact
    val back = spark.read.format("graft-bulk").option("path", out).load()
    assert(back.count() === 1500)
    val mid = 0L
    assert(back.filter(col("token") >= mid).count() ===
      back.collect().count(_.getLong(0) >= mid))
  }

  test("statistics pro-rate an in-run token band via the sparse index") {
    import graft.sinks.v2.GraftBulkScanBuilder
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    // ONE run (buckets=1) so any shrink must come from inside the run,
    // not from pruning whole files; a dense index (every 16 rows) keeps
    // the estimate's granularity tight
    val (out, ms) = SparkSuite.bulkOrders("prorate", 1, Seq("o_orderkey", "o_orderstatus"),
      indexInterval = 16)
    val m = ms.find(_.rows > 0).get
    val toks = spark.read.format("graft-bulk").option("path", out).load()
      .select("token").as[Long].collect().sorted
    // a band covering the middle ~10% of rows
    val lo = toks((toks.length * 0.45).toInt)
    val hi = toks((toks.length * 0.55).toInt)
    def stats(f: GraftBulkScanBuilder => Unit) = {
      val b = new GraftBulkScanBuilder(out)
      f(b)
      b.build().asInstanceOf[SupportsReportStatistics].estimateStatistics()
    }
    val full = stats(_ => ())
    assert(full.numRows.getAsLong === m.rows)
    val band = stats(_.pushFilters(Array(
      GreaterThanOrEqual("token", lo), LessThanOrEqual("token", hi))))
    val est = band.numRows.getAsLong
    val actual = toks.count(t => t >= lo && t <= hi)
    // never an under-count (a too-small estimate invites a wrong
    // broadcast) and a real shrink vs the whole run — within index
    // granularity of the truth
    assert(est >= actual, s"estimate $est under-counts actual $actual")
    assert(est <= m.rows / 2, s"estimate $est did not shrink vs ${m.rows}")
    assert(est <= actual + 3L * 16L, s"estimate $est too far above actual $actual")
    assert(band.sizeInBytes.getAsLong < full.sizeInBytes.getAsLong / 2)
    // one-sided bands pro-rate too
    val upper = stats(_.pushFilters(Array(GreaterThanOrEqual("token", lo))))
    assert(upper.numRows.getAsLong <= m.rows * 6 / 10)
    assert(upper.numRows.getAsLong >= toks.count(_ >= lo))
  }

  test("runtime filters narrow the scan to the runs containing the join tokens") {
    import graft.sinks.v2.GraftBulkScanBuilder
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.In
    val (out, ms) = SparkSuite.bulkOrders("rtf", 8, Seq("o_orderkey", "o_orderstatus"))
    val nonEmpty = ms.count(_.rows > 0)
    assert(nonEmpty >= 4)

    // contract mechanics: an IN set of tokens from one run's range must
    // re-plan the scan down to the runs intersecting [min, max] of the set
    val target = ms.filter(_.rows > 0).maxBy(_.rows)
    val scan = new GraftBulkScanBuilder(out).build()
    val before = scan.toBatch.planInputPartitions().length
    assert(before === nonEmpty)
    scan.asInstanceOf[SupportsRuntimeFiltering].filter(
      Array[org.apache.spark.sql.sources.Filter](
        In("token", Array[Any](target.minToken, target.maxToken))))
    val after = scan.toBatch.planInputPartitions().length
    assert(after < before, s"runtime IN filter pruned nothing ($before splits)")
    // the surviving splits all intersect the narrowed band
    assert(after >= 1)

    // set pruning beats the global band: two scattered tokens (lowest and
    // highest runs) span the whole ring by [min, max], yet only the runs
    // actually CONTAINING a value survive
    val sorted = ms.filter(_.rows > 0).sortBy(_.minToken)
    val scattered = Array[Any](sorted.head.minToken, sorted.last.maxToken)
    val scan2 = new GraftBulkScanBuilder(out).build()
    scan2.asInstanceOf[SupportsRuntimeFiltering].filter(
      Array[org.apache.spark.sql.sources.Filter](In("token", scattered)))
    val kept = scan2.toBatch.planInputPartitions().length
    assert(kept === 2, s"scattered IN set kept $kept of $nonEmpty runs " +
      "(global [min,max] would keep all)")

    // e2e: a broadcast join keyed on token stays exact with the scan's
    // runtime filtering declared (whether or not Spark chooses to inject
    // a dynamic filter at this size, results must match the plain join)
    val bulk = spark.read.format("graft-bulk").option("path", out).load()
    val probeTokens = bulk.select("token").distinct().limit(20)
    val joined = bulk.join(broadcast(probeTokens), "token").count()
    val expected = bulk.collect().map(_.getLong(0)).count(
      probeTokens.collect().map(_.getLong(0)).toSet)
    assert(joined === expected)
  }

  test("RandomPartitioner + compression compose: chunked md5-sorted runs stream and verify") {
    import graft.core.CassandraParams
    import graft.sinks.{InProcessCluster, SortedRunWriter, StreamLoader}
    val (out, ms) = SparkSuite.bulkOrders("randz", 4, Seq("o_orderkey", "o_orderpriority"),
      partitionerClass = CassandraParams.RandomPartitioner,
      compression = Some("ZstdCompressor"), chunkSize = 4 * 1024)
    val dir = new java.io.File(out)
    val nonEmpty = ms.filter(_.rows > 0)
    assert(nonEmpty.map(_.rows).sum === 1500)
    nonEmpty.foreach { m =>
      assert(m.codec === "zstd")
      assert(m.minTokenHex.matches("[0-9a-f]{32}")) // md5 range rides in hex
      assert(m.indexFile.isEmpty) // Long-token index stays suppressed
      assert(SortedRunWriter.chunksFileFor(new java.io.File(dir, m.dataFile)).exists())
      assert(m.physicalBytes < m.bytes)
    }
    // read back through the chunk-aware reader: exact rows, never truncated
    val back = spark.read.format("graft-bulk").option("path", out).load()
    assert(back.count() === 1500)
    // stream one compressed random run to a RandomPartitioner receiver:
    // it rebuilds the logical stream from the chunk map and verifies md5
    // decorated order on it
    val cluster = new InProcessCluster(Seq("cass-r"),
      partitioner = CassandraParams.RandomPartitioner)
    val endpoints = cluster.start()
    try {
      val m = nonEmpty.maxBy(_.rows)
      val (addr, port) = endpoints("cass-r")
      val r = StreamLoader.streamRun(new java.io.File(dir, m.dataFile), m,
        "cass-r", addr, port)
      assert(r.ok, s"stream session failed: ${r.message}")
      assert(r.rows === m.rows)
      val received = cluster.receivedStreams(("cass-r", m.dataFile))
      assert(received.sortedOk && received.bytes === m.bytes)
    } finally cluster.stop()
  }

  test("manifest-less directories: no early-stop truncation, no false ordering claim") {
    import graft.core.CassandraParams
    import graft.sinks.v2.GraftBulkRead
    // md5-sorted random runs whose manifest goes missing (partial copy):
    // a murmur3 upper bound must NOT early-stop mid-file (murmur3 tokens
    // are unordered there) and the scan must not claim token ordering
    val (out, _) = SparkSuite.bulkOrders("nomanifest", 2, Seq("o_orderkey", "o_orderstatus"),
      partitionerClass = CassandraParams.RandomPartitioner)
    val full = spark.read.format("graft-bulk").option("path", out).load().collect()
    assert(full.length === 1500)
    val mid = full.map(_.getLong(0)).sorted.apply(full.length / 2)
    Files.delete(java.nio.file.Paths.get(out, "_MANIFEST.json"))
    val dir = new java.io.File(out)
    assert(!GraftBulkRead.murmur3Sorted(dir), "orderless dir claims ordering")
    GraftBulkRead.planSplits(dir, None, Some(mid)).foreach(s =>
      assert(!s.sorted, s"unmanifested split early-stops at ${s.hiBound}"))
    val filtered = spark.read.format("graft-bulk").option("path", out).load()
      .filter(col("token") <= mid)
    assert(filtered.count() === full.count(_.getLong(0) <= mid),
      "manifest-less md5 run was truncated by a murmur3 early-stop")
  }

  test("unknown compressionclass fails at plan time, loudly") {
    val out = Files.createTempDirectory("graft-v2-badcodec").toString
    val e = intercept[Exception] {
      BulkSink.writeSorted(spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
        Seq("o_orderkey"), 4, out, compression = Some("BrotliCompressor"))
    }
    assert(SparkSuite.causeMessages(e).exists(_.contains("unsupported compressionclass")))
    // nothing was written
    assert(new java.io.File(out).list().isEmpty)
  }

  test("limit and token top-n plan only the runs they need") {
    val (out, ms) = SparkSuite.bulkOrders("limit", 8, Seq("o_orderkey", "o_orderstatus"))
    val nonEmpty = ms.count(_.rows > 0)
    assert(nonEmpty >= 4)
    def scan() = spark.read.format("graft-bulk").option("path", out).load()

    // bare LIMIT: one run covers 10 rows -> one split planned
    val limited = scan().limit(10)
    assert(limited.count() === 10)
    assert(limited.rdd.getNumPartitions < nonEmpty,
      "LIMIT still plans every run")

    // ORDER BY token LIMIT: the result equals the full sort's prefix
    // (disjoint ring ranges -> bottom runs contain the global bottom-n)
    val fullAsc = scan().collect().map(_.getLong(0)).sorted
    val bottom = scan().orderBy(col("token")).limit(7)
    assert(bottom.collect().map(_.getLong(0)).toSeq === fullAsc.take(7).toSeq)
    val top = scan().orderBy(col("token").desc).limit(7)
    assert(top.collect().map(_.getLong(0)).toSeq ===
      fullAsc.reverse.take(7).toSeq)

    // a pushed token band disables the truncation (estimates over-count);
    // exactness must hold regardless
    val mid = fullAsc(fullAsc.length / 2)
    assert(scan().filter(col("token") >= mid).limit(5).count() === 5)
  }

  test("chunked run missing its Chunks.db sidecar fails loudly, not truncated") {
    // several chunks per run (1 KiB chunks), so a sequential decompressor
    // would stop at the first chunk boundary and silently return ~2% of
    // the rows — exactly the failure mode the reader must refuse
    val (out, ms) = SparkSuite.bulkOrders("sidecar", 2, Seq("o_orderkey", "o_orderpriority"),
      compression = Some("ZstdCompressor"), chunkSize = 1024)
    assert(ms.filter(_.rows > 0).forall(_.chunks > 1),
      "test needs multi-chunk runs to be meaningful")
    assert(spark.read.format("graft-bulk").option("path", out).load().count() === 1500)
    // a partial directory copy that kept Data.db but lost the sidecars
    new java.io.File(out).listFiles().filter(_.getName.endsWith("-Chunks.db"))
      .foreach(f => assert(f.delete()))
    val e = intercept[Exception] {
      spark.read.format("graft-bulk").option("path", out).load().count()
    }
    assert(SparkSuite.causeMessages(e).exists(m => m.contains("sidecar") && m.contains("missing")),
      s"expected a loud sidecar-loss failure, got: ${SparkSuite.causeMessages(e).mkString(" | ")}")
  }

  test("corrupt Chunks.db sidecar fails as loudly as a missing one") {
    val (out, ms) = SparkSuite.bulkOrders("badsidecar", 1, Seq("o_orderkey", "o_orderpriority"),
      compression = Some("ZstdCompressor"), chunkSize = 1024)
    assert(ms.filter(_.rows > 0).forall(_.chunks > 1))
    assert(spark.read.format("graft-bulk").option("path", out).load().count() === 1500)
    // flip one chunk's physical offset so extents stop ascending — the
    // read must refuse the framing (named file), not mis-frame the
    // decompress or crash allocating a bogus extent
    val sidecar = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith("-Chunks.db")).head
    val raf = new java.io.RandomAccessFile(sidecar, "rw")
    try {
      raf.seek(16 + 8) // second pair's physical offset
      raf.writeLong(-5L)
    } finally raf.close()
    val e = intercept[Exception] {
      spark.read.format("graft-bulk").option("path", out).load().count()
    }
    assert(SparkSuite.causeMessages(e).exists(m =>
      m.contains("corrupt chunk sidecar") && m.contains(sidecar.getName)),
      s"expected a loud corrupt-sidecar failure, got: ${SparkSuite.causeMessages(e).mkString(" | ")}")
  }

  test("an EMPTY chunk map over non-empty payload is corrupt framing, not a pass") {
    import graft.sinks.SortedRunWriter
    // the stream sender hits this when the sidecar file is missing: zero
    // chunks cannot frame compressed bytes, and the old silent pass sent
    // the payload anyway, failing receiver-side with a row-count mismatch
    // that never named the sidecar
    assert(SortedRunWriter.chunkFramingError(Array.empty, 0L).isEmpty)
    assert(SortedRunWriter.chunkFramingError(Array.empty, 1024L)
      .exists(_.contains("empty chunk map")))
    val e = intercept[IllegalStateException] {
      SortedRunWriter.validateChunks(
        new java.io.File("/tmp/x-Chunks.db"), Array.empty, 1024L)
    }
    assert(e.getMessage.contains("x-Chunks.db"))
  }

  test("legacy sequential compressed runs (pre-chunking manifest) still read") {
    // one chunk per run -> the file IS a single valid zstd stream, the
    // shape a pre-chunking writer produced; strip the manifest's chunks
    // field (it didn't exist then) and drop the sidecars
    val (out, _) = SparkSuite.bulkOrders("legacy", 2, Seq("o_orderkey", "o_orderpriority"),
      compression = Some("ZstdCompressor"), chunkSize = 32 * 1024 * 1024)
    val mf = java.nio.file.Paths.get(out, "_MANIFEST.json")
    val json = new String(Files.readAllBytes(mf))
    Files.write(mf, json.replaceAll("\"chunks\":-?\\d+,", "").getBytes)
    new java.io.File(out).listFiles().filter(_.getName.endsWith("-Chunks.db"))
      .foreach(f => assert(f.delete()))
    val parsed = BulkSink.readManifests(new java.io.File(out))
    assert(parsed.nonEmpty && parsed.forall(_.chunks === -1))
    // chunked-ness unknown -> sequential fallback reads the whole stream
    val back = spark.read.format("graft-bulk").option("path", out).load()
    assert(back.count() === 1500)
    assert(back.filter(cassandra_token(col("pk")) =!= col("token")).count() === 0)
  }

  test("token top-n DESC is not fooled by a run pinned at the minimum token") {
    import graft.sinks.SortedRunWriter
    // run 0: one empty partition key — its token pins to Long.MinValue,
    // where -maxToken overflows back to Long.MinValue and (before the fix)
    // sorted this run AHEAD of the true top runs in DESC planning
    val out = Files.createTempDirectory("graft-v2-topn-min").toString
    val w0 = new SortedRunWriter(out, 0)
    w0.add(Long.MinValue, Array.emptyByteArray, Array[Byte](1))
    val m0 = w0.close()
    // run 1: ordinary keys in decorated order
    val keyed = (1L to 64L)
      .map(k => CqlValueCodec.serializeLong(k))
      .map(k => (CassandraTokens.token(k), k))
      .sortBy(_._1)
    val w1 = new SortedRunWriter(out, 1)
    keyed.foreach { case (t, k) => w1.add(t, k, Array[Byte](2)) }
    val m1 = w1.close()
    val json = Seq(m0, m1).map(BulkSink.manifestJson).mkString("[", ",", "]")
    Files.write(java.nio.file.Paths.get(out, "_MANIFEST.json"), json.getBytes)

    val top = spark.read.format("graft-bulk").option("path", out).load()
      .orderBy(col("token").desc).limit(1).collect()
    assert(top.length === 1)
    assert(top.head.getLong(0) === keyed.map(_._1).max,
      "DESC top-1 planned the Long.MinValue run instead of the true top run")
  }

  test("a truncated Data.db fails loudly instead of a silently partial scan") {
    val (out, _) = SparkSuite.bulkOrders("trunc", 2, Seq("o_orderkey", "o_orderpriority"))
    assert(spark.read.format("graft-bulk").option("path", out).load().count() === 1500)
    // chop the tail off one run (a partial copy): the manifest's logical
    // byte count no longer matches what the stream yields
    val victim = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith("-Data.db")).maxBy(_.length)
    val ch = java.nio.channels.FileChannel.open(victim.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(victim.length() / 2) finally ch.close()
    val e = intercept[Exception] {
      spark.read.format("graft-bulk").option("path", out).load().count()
    }
    assert(SparkSuite.causeMessages(e).exists(_.contains("truncated or stale-manifest")),
      s"expected the truncation guard, got: ${SparkSuite.causeMessages(e).mkString(" | ")}")

    // the mirror corruption: EXTRA trailing records a stale manifest never
    // promised must also refuse, not silently emit more rows
    val (out2, _) = SparkSuite.bulkOrders("overlong", 2, Seq("o_orderkey", "o_orderpriority"))
    val victim2 = new java.io.File(out2).listFiles()
      .filter(_.getName.endsWith("-Data.db")).maxBy(_.length)
    val extra = new java.io.DataOutputStream(
      new java.io.FileOutputStream(victim2, true))
    try { // one complete, parseable record frame past the manifested end
      extra.writeShort(2); extra.write(Array[Byte](1, 2))
      extra.writeInt(1); extra.write(Array[Byte](3))
    } finally extra.close()
    val e2 = intercept[Exception] {
      spark.read.format("graft-bulk").option("path", out2).load().count()
    }
    assert(SparkSuite.causeMessages(e2).exists(_.contains("truncated or stale-manifest")),
      s"expected the overlong guard, got: ${SparkSuite.causeMessages(e2).mkString(" | ")}")
  }

  test("a manifest-less run torn inside a key-length prefix fails the scan") {
    val (out, Seq(m)) = SparkSuite.bulkOrders("torn", 1, Seq("o_orderkey", "o_orderpriority"))
    // the second sparse-index entry's offset is a record boundary; keep
    // one byte past it, so the run ends inside that record's prefix
    val idx = new java.io.DataInputStream(new java.io.FileInputStream(
      new java.io.File(out, m.indexFile)))
    val boundary = try { idx.skipNBytes(24); idx.readLong() } finally idx.close()
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(out, m.dataFile), java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(boundary + 1) finally ch.close()
    Files.delete(java.nio.file.Paths.get(out, "_MANIFEST.json"))
    val e = intercept[Exception] {
      spark.read.format("graft-bulk").option("path", out).load().count()
    }
    assert(SparkSuite.causeMessages(e).exists(_.contains("key-length prefix")),
      s"expected a torn-record failure, got: ${SparkSuite.causeMessages(e).mkString(" | ")}")
  }

  test("a load into a directory that holds one is refused before any job, plain and salted") {
    def snapshot(dir: String) = (new java.io.File(dir).list().sorted.toSeq,
      spark.read.format("graft-bulk").option("path", dir).load().collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getAs[Array[Byte]](2).toSeq))
        .sortBy(r => (r._1, r._2.toString)).toSeq)
    val (out, _) = SparkSuite.bulkOrders("reload", 4)
    val before = snapshot(out)
    // a subset with fewer buckets: before the refusal this left two of the
    // old runs unmanifested (read back beside the new ones), and the
    // salted reload died at its first rename with new runs in place
    val subset = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(col("o_orderkey") % 3 === 0)
    val reloads = Seq[(String, () => Any)](
      "plain" -> (() => BulkSink.writeSorted(subset, Seq("o_orderkey"), 2, out)),
      "salted" -> (() => BulkSink.writeSorted(subset, Seq("o_orderkey"), 2, out,
        salts = Map(0 -> 2))))
    reloads.foreach { case (kind, reload) =>
      var e: IllegalArgumentException = null
      val jobs = SparkSuite.jobsDuring { e = intercept[IllegalArgumentException](reload()) }
      assert(e.getMessage.contains(out), s"$kind refusal does not name the directory")
      assert(jobs === 0, s"$kind reload ran $jobs jobs before refusing")
      assert(snapshot(out) === before, s"$kind reload changed the first load")
    }
    // any one load artifact is enough to refuse; an empty dir loads
    for (artifact <- Seq("_MANIFEST.json", "_STREAM_PLAN.json", "_salt-tmp",
        "graft-00007-Data.db")) {
      val dir = Files.createTempDirectory("graft-bulk-held")
      if (artifact == "_salt-tmp") Files.createDirectory(dir.resolve(artifact))
      else Files.write(dir.resolve(artifact), Array.emptyByteArray)
      intercept[IllegalArgumentException](
        BulkSink.writeSorted(subset, Seq("o_orderkey"), 2, dir.toString))
    }
    val empty = Files.createTempDirectory("graft-bulk-empty").toString
    assert(BulkSink.writeSorted(subset, Seq("o_orderkey"), 2, empty).map(_.rows).sum ===
      subset.count())
  }

  test("the writer refuses salts with RandomPartitioner or distributeRandomly before any job") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val contradictions = Seq[(String, String => Any)](
      "RandomPartitioner" -> (dir => BulkSink.writeSorted(orders, Seq("o_orderkey"), 4, dir,
        partitionerClass = graft.core.CassandraParams.RandomPartitioner, salts = Map(1 -> 2))),
      "distributeRandomly" -> (dir => BulkSink.writeSorted(orders, Seq("o_orderkey"), 4, dir,
        distributeRandomly = true, salts = Map(1 -> 2))))
    contradictions.foreach { case (kind, write) =>
      val dir = Files.createTempDirectory("graft-bulk-saltx").toString
      var e: IllegalArgumentException = null
      val jobs = SparkSuite.jobsDuring { e = intercept[IllegalArgumentException](write(dir)) }
      assert(e.getMessage.contains("salts"), s"$kind: ${e.getMessage}")
      assert(jobs === 0, s"$kind: ran $jobs jobs before refusing")
      assert(new java.io.File(dir).list().isEmpty, s"$kind: the sink dir is not empty")
    }
  }

  test("with unique keys, input order changes no byte of the written runs") {
    // records are ordered by decorated key only, so distinct keys leave
    // nothing to arrival order. Every column type goes through the one
    // encoder: pre-epoch timestamps with sub-millisecond digits (millis
    // floor), decimal and the complex types; every 7th row nulls each
    // value column
    val frame = spark.range(0, 64).select(col("id"),
      concat(lit("k"), col("id").cast("string")).as("k"),
      timestamp_micros(lit(-1500L) - col("id") * 1000003L).as("ts"),
      timestamp_micros(lit(-2500L) - col("id") * 999L).cast("timestamp_ntz").as("ts_ntz"),
      (col("id") * 1.234).cast("decimal(12,3)").as("dec"),
      array(col("id").cast("float"), lit(null).cast("float"), lit(-0.5f)).as("arr"),
      map(lit("a"), col("id").cast("int"), lit("b"), lit(null).cast("int")).as("m"),
      struct(col("id").cast("int").as("x"), lit("y").as("y")).as("st"))
    val valueCols = frame.columns.filterNot(Set("id", "k"))
    val df = frame.select(col("k") +: valueCols.map(c =>
      when(col("id") % 7 === 0, lit(null)).otherwise(col(c)).as(c)): _*)
    def written(input: org.apache.spark.sql.DataFrame, codec: Option[String]) = {
      val out = Files.createTempDirectory("graft-bulk-order").toFile
      BulkSink.writeSorted(input, Seq("k"), 3, out.toString, compression = codec,
        chunkSize = 1024)
      out -> out.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)
        .sortBy(_._1).toSeq
    }
    for (codec <- Seq(None, Some("LZ4Compressor"))) {
      val (dir, ascending) = written(df.coalesce(1), codec)
      val (_, descending) = written(df.orderBy(col("k").desc).coalesce(1), codec)
      val (_, scattered) = written(df.repartition(5, col("ts")), codec)
      assert(ascending === descending, s"input order changed the runs ($codec)")
      assert(ascending === scattered, s"input partitioning changed the runs ($codec)")
      // row 1's ts is -1001503 us: its millis floor to -1002, not -1001
      val values = spark.read.format("graft-bulk").option("path", dir.toString).load()
        .collect().map(r => CqlValueCodec.toHex(r.getAs[Array[Byte]]("pk")) ->
          CqlValueCodec.toHex(r.getAs[Array[Byte]]("value"))).toMap
      val row1 = values(CqlValueCodec.toHex("k1".getBytes("UTF-8")))
      assert(values.size === 64 &&
        row1.contains(CqlValueCodec.toHex(CqlValueCodec.serializeLong(-1002L))), row1)
    }
  }
}

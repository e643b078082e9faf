package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CassandraTokens, CqlValueCodec}
import graft.functions.{cassandra_token, cql_serialize, partition_key, token_bucket}
import graft.operators.CqlPipeline
import graft.operators.CqlPipeline.Projection
import graft.sinks.BulkSink

object SparkSuite {
  lazy val spark: SparkSession = Sessions.local(4).getOrCreate()

  /** Every message down the cause chain — Spark wraps task failures in
    * several layers, so asserts grep the whole chain, not just the top. */
  def causeMessages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ causeMessages(t.getCause)

  /** The number of Spark jobs `body` starts. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.Bridge
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; Bridge.drainListenerBus(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** The read specs' fixture: the 1500 sf0.001 orders, keyed by
    * o_orderkey, written by [[BulkSink.writeSorted]] into a fresh temp
    * directory. `cols` picks the written columns (all when empty).
    * Returns the directory and the load's manifests. */
  def bulkOrders(name: String, buckets: Int, cols: Seq[String] = Nil,
      indexInterval: Int = 128,
      partitionerClass: String = graft.core.CassandraParams.Murmur3Partitioner,
      compression: Option[String] = None,
      chunkSize: Int = graft.sinks.SortedRunWriter.DefaultChunkSize)
      : (String, Seq[BulkSink.PartitionManifest]) = {
    val out = java.nio.file.Files.createTempDirectory(s"graft-bulk-$name").toString
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val df = if (cols.isEmpty) orders else orders.select(cols.map(col): _*)
    (out, BulkSink.writeSorted(df, Seq("o_orderkey"), buckets, out, indexInterval,
      partitionerClass, compression, chunkSize = chunkSize))
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("expressions agree with the pure kernel (interpreted + codegen)") {
    val df = Seq("foo", "bar", "baz", "").toDF("k")
      .select(col("k"), cassandra_token(cql_serialize(col("k"))).as("tok"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("foo") === -2129773440516405919L)
    assert(got("bar") === -7911037993560119804L)
    assert(got("baz") === 8295379539955784970L)
    assert(got("") === Long.MinValue)
  }

  test("token_bucket expression matches kernel across range") {
    val df = spark.range(1000).select(
      cql_serialize(concat(lit("key-"), col("id").cast("string"))).as("pk"))
      .select(cassandra_token(col("pk")).as("tok"), col("pk"))
      .select(col("tok"), token_bucket(col("tok"), 8).as("b"))
    df.collect().foreach { r =>
      assert(r.getInt(1) === CassandraTokens.bucketOfToken(r.getLong(0), 8))
    }
  }

  test("composite partition_key expression matches kernel composite layout") {
    val df = Seq(("k1", 7L)).toDF("a", "b")
      .select(hex(partition_key(col("a"), col("b"))).as("h"))
    val expected = CqlValueCodec.toHex(CqlValueCodec.composite(Array(
      CqlValueCodec.serializeString("k1"), CqlValueCodec.serializeLong(7L))))
    assert(df.head().getString(0) === expected)
  }

  test("toCql honors rowkey/timestamp/ttl/ignore flags") {
    val df = Seq((1L, "u1", 42L, 9, "drop-me")).toDF("id", "user", "ts", "ttl", "junk")
    val out = CqlPipeline.toCql(df, Projection(
      rowkey = Some("user"), timestampField = Some("ts"), ttlField = Some("ttl"),
      ignore = Seq("junk"), defaultTimestampMicros = 5L))
    assert(out.columns.toSeq === Seq("rowkey", "id", "user", "writetime", "ttl"))
    val r = out.head()
    assert(r.getString(0) === "u1" && r.getLong(1) === 1L)
    assert(r.getLong(3) === 42L && r.getInt(4) === 9)
  }

  test("toCql null timestamp falls back to plan-time default") {
    val df = Seq((1L, Some(42L)), (2L, None)).toDF("id", "ts")
    val out = CqlPipeline.toCql(df, Projection(
      timestampField = Some("ts"), defaultTimestampMicros = 777L))
    val rows = out.orderBy("rowkey").collect()
    assert(rows(0).getLong(rows(0).fieldIndex("writetime")) === 42L)
    assert(rows(1).getLong(rows(1).fieldIndex("writetime")) === 777L)
  }

  test("parseLegacy rejects malformed rows like the reference") {
    def parseOne(line: String): Unit =
      CqlPipeline.parseLegacy(Seq(line).toDF("value")).collect()
    parseOne("HdfsToCassandra\t1\trk\tcn\tv") // fine
    val e1 = intercept[Exception](parseOne("WrongPrefix\t1\trk\tcn\tv"))
    assert(e1.getMessage.contains("HdfsToCassandra"))
    val e2 = intercept[Exception](parseOne("HdfsToCassandra\t1\trk\tcn\tv\textra"))
    assert(e2.getMessage.contains("row format"))
    val e3 = intercept[Exception](parseOne("HdfsToCassandra\t9\trk\tcn\tv"))
    assert(e3.getMessage.contains("version"))
  }

  test("parseLegacyPermissive routes malformed lines to the error channel") {
    val lines = Seq(
      "HdfsToCassandra\t1\trk\tcn\tv",
      "WrongPrefix\t1\trk\tcn\tv",
      "HdfsToCassandra\t9\trk\tcn\tv",
      "HdfsToCassandra\t2\trk\tcn\tv").toDF("value")
    val parsed = CqlPipeline.parseLegacyPermissive(lines).collect()
    assert(parsed.count(_.isNullAt(5)) === 1) // one good row
    val errors = parsed.filter(!_.isNullAt(5)).map(_.getString(5)).sorted
    assert(errors.toSeq === Seq("bad arity", "bad prefix", "unknown version"))
  }

  test("alignToRing: every partition's rows arrive non-decreasing in decorated key") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val projected = CqlPipeline.toCql(orders, Projection(defaultTimestampMicros = 1L))
    val aligned = CqlPipeline.alignToRing(projected, Seq("rowkey"), numBuckets = 4)
    val perPart = aligned.select(col("_token"), col("_pk"))
      .rdd.mapPartitionsWithIndex { (pid, it) =>
        var prev: (Long, Array[Byte]) = null
        var sorted = true
        var n = 0
        it.foreach { r =>
          val cur = (r.getLong(0), r.getAs[Array[Byte]](1))
          if (prev != null && CassandraTokens.compareDecorated(prev._1, prev._2, cur._1, cur._2) > 0)
            sorted = false
          prev = cur; n += 1
        }
        Iterator.single((pid, sorted, n))
      }.collect()
    assert(perPart.forall(_._2), s"unsorted partitions: ${perPart.filterNot(_._2).mkString(",")}")
    assert(perPart.map(_._3).sum === orders.count())
  }

  test("BulkSink.writeSorted produces sorted runs with full manifest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val projected = CqlPipeline.toCql(orders, Projection(defaultTimestampMicros = 1L))
    val manifests = BulkSink.writeSorted(projected, Seq("rowkey"), numBuckets = 4, dir)
    assert(manifests.length === 4)
    assert(manifests.map(_.rows).sum === orders.count())
    assert(manifests.forall(_.sorted))
    // ring alignment: each run holds exactly one ring bucket and is named
    // by it, whichever reducer slot the permutation gave it
    manifests.filter(_.rows > 0).foreach { m =>
      val bucket = CassandraTokens.bucketOfToken(m.minToken, 4)
      assert(CassandraTokens.bucketOfToken(m.maxToken, 4) === bucket)
      assert(bucket === m.partition)
      assert(m.dataFile === f"graft-$bucket%05d-Data.db")
    }
    assert(new java.io.File(dir, "_MANIFEST.json").exists())
    // data files parse back: short keylen + key + int vallen + val
    val m0 = manifests.find(_.rows > 0).get
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(new java.io.File(dir, m0.dataFile))))
    var rows = 0L
    var prevTok = Long.MinValue
    try {
      while (in.available() > 0) {
        val klen = in.readUnsignedShort()
        val key = new Array[Byte](klen); in.readFully(key)
        val vlen = in.readInt()
        in.skipBytes(vlen)
        val tok = CassandraTokens.token(key)
        assert(tok >= prevTok); prevTok = tok
        rows += 1
      }
    } finally in.close()
    assert(rows === m0.rows)
  }

  test("salted writeSorted: a planted hot range splits across sub-buckets and merges back to one globally sorted run") {
    val numBuckets = 4
    def bucketOf(s: String): Int = CassandraTokens.bucketOfToken(
      CassandraTokens.token(CqlValueCodec.serializeString(s)), numBuckets)
    // plant the skew the reference's one-range-one-reducer shape chokes
    // on: 8000 distinct keys all landing in ONE ring bucket, plus a
    // balanced background
    val hotBucket = 1
    val hotKeys = Iterator.from(0).map(i => s"hot-$i")
      .filter(k => bucketOf(k) == hotBucket).take(8000).toSeq
    val bgKeys = (0 until 1200).map(i => s"bg-$i")
    val df = (hotKeys ++ bgKeys).toDF("rowkey")
      .withColumn("v", length(col("rowkey")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft-salt").toString
    val manifests = BulkSink.writeSorted(df, Seq("rowkey"), numBuckets, dir,
      salts = Map(hotBucket -> 4))
    // final layout: ONE run per ring bucket, pid = bucket, range inside it
    assert(manifests.length === numBuckets)
    assert(manifests.map(_.rows).sum === 8000L + 1200L)
    manifests.filter(_.rows > 0).foreach { m =>
      assert(CassandraTokens.bucketOfToken(m.minToken, numBuckets)
        === m.partition)
      assert(CassandraTokens.bucketOfToken(m.maxToken, numBuckets)
        === m.partition)
      assert(m.sorted)
    }
    val hot = manifests.find(_.partition == hotBucket).get
    assert(hot.rows >= 8000L)
    // (the sub-bucket balance of these 8000 keys is pinned on the
    // partitioner in KernelSpec)
    // the staging dir is gone; the manifest round-trips
    assert(!new java.io.File(dir, "_salt-tmp").exists())
    val reread = BulkSink.readManifests(new java.io.File(dir))
    assert(reread.map(m => (m.partition, m.rows)).sortBy(_._1)
      === manifests.map(m => (m.partition, m.rows)).sortBy(_._1))
    // property: the MERGED hot run is globally decorated-key-sorted
    // (re-parse, independent of the writer's own check)
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(new java.io.File(dir, hot.dataFile))))
    var rows = 0L
    var prevTok = Long.MinValue
    var prevKey: Array[Byte] = null
    try {
      while (in.available() > 0) {
        val klen = in.readUnsignedShort()
        val key = new Array[Byte](klen); in.readFully(key)
        val vlen = in.readInt()
        in.skipBytes(vlen)
        val tok = CassandraTokens.token(key)
        if (prevKey != null)
          assert(CassandraTokens.compareDecorated(
            prevTok, prevKey, tok, key) <= 0,
            s"merged run out of decorated order at row $rows")
        prevTok = tok; prevKey = key
        rows += 1
      }
    } finally in.close()
    assert(rows === hot.rows)
    // and the merged output is BYTE-IDENTICAL to the unsalted write's
    // run for the same bucket: same rows, same order, same framing —
    // the sorted-run contract survived the salt+merge round trip
    val dir2 = java.nio.file.Files.createTempDirectory("graft-salt0").toString
    val plain = BulkSink.writeSorted(df, Seq("rowkey"), numBuckets, dir2)
    val plainHot = plain.find(_.partition == hotBucket).get
    assert(plainHot.rows === hot.rows && plainHot.bytes === hot.bytes)
    val a = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, hot.dataFile))
    val b = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir2, plainHot.dataFile))
    assert(java.util.Arrays.equals(a, b),
      "salted+merged run bytes differ from the unsalted run")
  }

  test("plain and salted loads of one input name every ring bucket's run alike") {
    val numBuckets = 4
    val hotBucket = 2
    val df = (0 until 3000).map(i => s"np-$i").toDF("rowkey")
      .withColumn("v", length(col("rowkey")).cast("long"))
    val plainDir = java.nio.file.Files.createTempDirectory("graft-name-plain").toString
    val saltDir = java.nio.file.Files.createTempDirectory("graft-name-salt").toString
    val plain = BulkSink.writeSorted(df, Seq("rowkey"), numBuckets, plainDir)
    val salted = BulkSink.writeSorted(df, Seq("rowkey"), numBuckets, saltDir,
      salts = Map(hotBucket -> 3))
    assert(BulkSink.slotPermutation(numBuckets).toSeq !== (0 until numBuckets),
      "an identity permutation cannot tell a slot from a bucket")
    def layout(ms: Seq[BulkSink.PartitionManifest]) = ms.filter(_.partition != hotBucket)
      .map(m => (m.partition, m.dataFile, m.minToken, m.maxToken)).sortBy(_._1)
    assert(layout(plain).size === numBuckets - 1)
    assert(layout(plain) === layout(salted))
    // the reader's bucket column is the ring bucket of every row, both ways
    Seq(plainDir, saltDir).foreach { dir =>
      val back = spark.read.format("graft-bulk").option("path", dir).load()
      assert(back.count() === 3000)
      assert(back.filter(token_bucket(col("token"), numBuckets) =!= col("bucket")).count() === 0,
        s"$dir: bucket column is not the ring bucket")
    }
  }

  test("salted writeSorted with compression: merged runs are chunked and read back") {
    val numBuckets = 4
    def bucketOf(s: String): Int = CassandraTokens.bucketOfToken(
      CassandraTokens.token(CqlValueCodec.serializeString(s)), numBuckets)
    val hotBucket = 3
    val hotKeys = Iterator.from(0).map(i => s"hz-$i")
      .filter(k => bucketOf(k) == hotBucket).take(3000).toSeq
    val df = (hotKeys ++ (0 until 600).map(i => s"bgz-$i")).toDF("rowkey")
      .withColumn("v", md5(col("rowkey")))
    val dir = java.nio.file.Files.createTempDirectory("graft-saltz").toString
    val manifests = BulkSink.writeSorted(df, Seq("rowkey"), numBuckets, dir,
      compression = Some("ZstdCompressor"), chunkSize = 4096,
      salts = Map(hotBucket -> 3))
    assert(manifests.map(_.rows).sum === 3600L)
    assert(manifests.forall(_.codec === "zstd"))
    // every non-empty run — merged hot one and plain cold ones alike —
    // carries its chunk map and a usable index
    manifests.filter(_.rows > 0).foreach { m =>
      assert(m.chunks > 0, s"${m.dataFile} not chunked")
      assert(graft.sinks.SortedRunWriter.chunksFileFor(
        new java.io.File(dir, m.dataFile)).exists())
      assert(m.indexFile.nonEmpty)
      assert(m.physicalBytes > 0 && m.physicalBytes < m.bytes,
        s"${m.dataFile}: physical ${m.physicalBytes} vs logical ${m.bytes}")
    }
    // the compressed salted layout reads back through the manifest-aware
    // DSv2 path, token pruning included
    val back = spark.read.format("graft-bulk").option("path", dir).load()
    assert(back.count() === 3600L)
    val hot = manifests.find(_.partition == hotBucket).get
    assert(back.filter(col("token") >= hot.minToken &&
      col("token") <= hot.maxToken).count() >= hot.rows)
  }

  test("mergeSubRuns refuses truncated sub-runs and row-count drift") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mrg-tmp").toString
    val out = java.nio.file.Files.createTempDirectory("graft-mrg-out").toString
    // two well-formed sub-runs, decorated-key-sorted each
    def writeRun(pid: Int, keys: Seq[String]): (String, Long) = {
      val w = new graft.sinks.SortedRunWriter(tmp, pid)
      keys.map(k => (CassandraTokens.token(CqlValueCodec.serializeString(k)),
          CqlValueCodec.serializeString(k)))
        .sortWith((a, b) =>
          CassandraTokens.compareDecorated(a._1, a._2, b._1, b._2) < 0)
        .foreach { case (t, pk) => w.add(t, pk, Array[Byte](1, 2, 3)) }
      val m = w.close()
      (m.dataFile, m.rows)
    }
    val (f1, n1) = writeRun(0, (0 until 200).map(i => s"mg-a-$i"))
    val (f2, n2) = writeRun(1, (0 until 200).map(i => s"mg-b-$i"))
    // the happy path merges exactly
    val merged = graft.sinks.BulkSink.mergeSubRuns(tmp, out, 0,
      Seq(f1, f2), n1 + n2, 128, None, 64 * 1024)
    assert(merged.rows === n1 + n2)
    // a WRONG declared total is refused (the phase-1/merge belt)
    val out2 = java.nio.file.Files.createTempDirectory("graft-mrg-o2").toString
    val eCount = intercept[IllegalArgumentException](
      graft.sinks.BulkSink.mergeSubRuns(tmp, out2, 0,
        Seq(f1, f2), n1 + n2 + 5, 128, None, 64 * 1024))
    assert(eCount.getMessage.contains("declared"), eCount.getMessage)
    // a sub-run truncated MID-RECORD fails loudly, never a silent
    // undercount
    val raf = new java.io.RandomAccessFile(new java.io.File(tmp, f2), "rw")
    raf.setLength(raf.length() - 3)
    raf.close()
    val out3 = java.nio.file.Files.createTempDirectory("graft-mrg-o3").toString
    val eTrunc = intercept[IllegalStateException](
      graft.sinks.BulkSink.mergeSubRuns(tmp, out3, 0,
        Seq(f1, f2), n1 + n2, 128, None, 64 * 1024))
    assert(eTrunc.getMessage.contains("truncated"), eTrunc.getMessage)
    // a run torn MID-PREFIX (only 1 of the 2 key-length bytes present)
    // must raise the same truncated-run error, not read as a clean EOF
    // that silently drops the torn record
    val fos = new java.io.FileOutputStream(new java.io.File(tmp, f1), true)
    fos.write(0); fos.close()
    val out4 = java.nio.file.Files.createTempDirectory("graft-mrg-o4").toString
    val ePrefix = intercept[IllegalStateException](
      graft.sinks.BulkSink.mergeSubRuns(tmp, out4, 0,
        Seq(f1), n1, 128, None, 64 * 1024))
    assert(ePrefix.getMessage.contains("truncated") &&
      ePrefix.getMessage.contains("prefix"), ePrefix.getMessage)
    // a sub-run that cannot be opened fails the merge and leaves no run
    // behind in the out dir
    val out5 = java.nio.file.Files.createTempDirectory("graft-mrg-o5").toString
    intercept[java.io.FileNotFoundException](
      graft.sinks.BulkSink.mergeSubRuns(tmp, out5, 0,
        Seq(f1, "graft-09999-Data.db"), n1, 128, None, 64 * 1024))
    val left = new java.io.File(out5).list().filter(n =>
      n.startsWith("graft-") && (n.endsWith("-Data.db") || n.endsWith("-Index.db")))
    assert(left.isEmpty, s"a failed merge left ${left.mkString(", ")}")
  }

  test("planSalts detects the planted hot bucket and only it") {
    val numBuckets = 4
    def bucketOf(s: String): Int = CassandraTokens.bucketOfToken(
      CassandraTokens.token(CqlValueCodec.serializeString(s)), numBuckets)
    val hotBucket = 2
    // enough rows that planSalts' 1% sample holds some 500 of them
    val hotKeys = Iterator.from(0).map(i => s"h2-$i")
      .filter(k => bucketOf(k) == hotBucket).take(40000).toSeq
    val bgKeys = (0 until 12000).map(i => s"bg2-$i")
    val df = (hotKeys ++ bgKeys).toDF("rowkey")
    val salts = BulkSink.planSalts(df, Seq("rowkey"), numBuckets)
    assert(salts.keySet === Set(hotBucket), s"salts: $salts")
    assert(salts(hotBucket) >= 2 && salts(hotBucket) <= 16)
    // and the plan feeds straight into the salted write
    val dir = java.nio.file.Files.createTempDirectory("graft-saltp").toString
    val manifests = BulkSink.writeSorted(df, Seq("rowkey"), numBuckets, dir,
      salts = salts)
    assert(manifests.map(_.rows).sum === 52000L)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries execute at sf0.001 and return rows") {
    SparkEntry.queries.foreach { q =>
      val n = q.build(spark, sf).count()
      assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("approx_count_distinct within HLL++ error of exact") {
    // the query now folds the bound into a boolean the oracle checks; the
    // spec asserts it holds for every group (exact counts stay positive)
    val rows = SparkEntry.query("q13_approx_distinct").build(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_orders") > 0L)
      assert(r.getAs[Boolean]("within_bound"),
        s"sketch estimate out of bound for ${r.getAs[String]("l_returnflag")}")
    }
  }

  test("approx_percentile within rank-error bound of exact") {
    // q20b folds the bound into a boolean the oracle hash-checks; the
    // spec asserts it holds per group and the exact values are sane
    val rows = SparkEntry.query("q20b_approx_percentiles").build(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p25 = r.getAs[Double]("p25_qty")
      val p75 = r.getAs[Double]("p75_qty")
      assert(p25 > 0 && p25 <= p75, s"degenerate percentiles: $p25 .. $p75")
      assert(r.getAs[Boolean]("within_bound"),
        s"sketch percentile out of bound for ${r.getAs[String]("l_returnflag")}")
    }
  }

  test("registry rejects a duplicate query name and names it") {
    val q = SparkEntry.query("q1_agg")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.index(Seq(q, SparkEntry.query("s1_scan_project"), q.copy(timed = false)))
    }
    assert(e.getMessage.contains("q1_agg"), e.getMessage)
    assert(!e.getMessage.contains("s1_scan_project"), e.getMessage)
  }

  test("every rows-only query states a non-empty reason") {
    val reasons = SparkEntry.queries.collect {
      case SparkEntry.Query(n, _, SparkEntry.RowsOnly(r), _) => n -> r
    }
    assert(reasons.nonEmpty)
    reasons.foreach { case (n, r) => assert(r.trim.nonEmpty, s"$n: empty reason") }
  }

  test("unknown query names fail before any query runs, naming each one") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.resolveCsv("q1_agg, q1_agx ,graph_pagrank")
    }
    assert(e.getMessage.contains("q1_agx") && e.getMessage.contains("graph_pagrank"),
      e.getMessage)
    assert(!e.getMessage.contains("q1_agg"), e.getMessage)
    assert(SparkEntry.resolveCsv("q4_window,q1_agg").map(_.name) === Seq("q4_window", "q1_agg"))
  }

  test("edge keys: null, empty, and unicode rowkeys flow through the sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edge").toString
    val df = Seq(
      (Option("normal-key"), "v1"),
      (Option(""), "v2"),          // empty key -> minimum token
      (None: Option[String], "v3"), // null key -> empty buffer -> minimum token
      (Option("ключ-日本語-🔑"), "v4") // multi-byte utf8
    ).toDF("rowkey", "value")
    val manifests = BulkSink.writeSorted(df, Seq("rowkey"), 4, dir)
    assert(manifests.map(_.rows).sum === 4)
    // empty/null keys land in bucket 0 (token = Long.MinValue)
    val p0 = manifests.find(_.partition == 0).get
    assert(p0.rows >= 2 && p0.minToken === Long.MinValue)
  }

  test("composite keys order by token then unsigned bytes in the sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft-comp").toString
    val df = (1 to 100).map(i => (s"part-${i % 10}", i.toLong, s"v$i"))
      .toDF("k1", "k2", "value")
    val manifests = BulkSink.writeSorted(df, Seq("k1", "k2"), 4, dir)
    assert(manifests.map(_.rows).sum === 100)
    assert(manifests.forall(_.sorted))
  }
}

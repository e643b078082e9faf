package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.core.{CassandraParams, CqlValueCodec}
import graft.sinks.BulkSink
import graft.sinks.v2.GraftBulkRead

/**
 * ScalaCheck properties for exact token-range reads of the graft-bulk
 * source: on every run kind, a scan filtered on `token` returns exactly
 * the rows a plain Scala filter keeps from a full read. The reader
 * applies the pushed band itself (Spark keeps no Filter over it), so
 * this checks the reader, not Spark. Bounds come from row tokens (the
 * empty keys pin three rows at Long.MinValue), sparse-index entries,
 * their neighbours, the ring's extremes and random longs; lo and hi are
 * drawn independently, so lo > hi is common.
 */
object TokenBandReadPropertySpec extends Properties("tokenBandRead") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  private lazy val spark = SparkSuite.spark

  /** A written directory, its full read as sorted (token, pk, value)
    * rows, and the tokens its sparse indexes hold. */
  final case class Fixture(dir: String, rows: Seq[(Long, String, String)], indexTokens: Seq[Long])

  private def read(dir: String, where: Option[Column] = None): Seq[(Long, String, String)] = {
    val df = spark.read.format("graft-bulk").option("path", dir).load()
    where.fold(df)(df.where).select("token", "pk", "value").collect().toSeq
      .map(r => (r.getLong(0), CqlValueCodec.toHex(r.getAs[Array[Byte]](1)),
        CqlValueCodec.toHex(r.getAs[Array[Byte]](2))))
      .sorted
  }

  private def fixture(name: String, write: String => Unit): Fixture = {
    val dir = Files.createTempDirectory(s"graft-band-$name").toString
    write(dir)
    val indexTokens = new File(dir).listFiles().filter(_.getName.endsWith("-Index.db"))
      .toSeq.flatMap { f =>
        val in = new java.io.DataInputStream(new java.io.FileInputStream(f))
        try Iterator.continually(in.available() > 0).takeWhile(identity)
          .map { _ => val t = in.readLong(); in.readLong(); t }.toList
        finally in.close()
      }
    Fixture(dir, read(dir), indexTokens)
  }

  /** 1200 distinct keys plus three rows with the empty key. */
  private lazy val input = {
    import spark.implicits._
    ((0 until 1200).map(i => (s"band-$i", i)) ++ (1 to 3).map(i => ("", -i)))
      .toDF("rowkey", "v")
  }
  private def load(dir: String, buckets: Int, indexInterval: Int = 128,
      partitioner: String = CassandraParams.Murmur3Partitioner,
      compression: Option[String] = None): Unit = {
    BulkSink.writeSorted(input, Seq("rowkey"), buckets, dir, indexInterval, partitioner,
      compression, chunkSize = 1024)
    ()
  }

  private lazy val murmur3 = fixture("m3", load(_, 4, indexInterval = 16))
  private lazy val lz4 = {
    val fx = fixture("lz4", load(_, 2, indexInterval = 8, compression = Some("LZ4Compressor")))
    val mid = fx.indexTokens.sorted.apply(fx.indexTokens.size / 2)
    require(GraftBulkRead.planSplits(new File(fx.dir), Some(mid), None).exists(_.startOffset > 0),
      "the LZ4 fixture plans no index seek")
    fx
  }
  private lazy val random = fixture("md5", load(_, 4, partitioner = CassandraParams.RandomPartitioner))
  /** The RandomPartitioner runs copied without their manifest. */
  private lazy val noManifest = {
    val dir = Files.createTempDirectory("graft-band-nomanifest")
    new File(random.dir).listFiles().filter(_.getName != "_MANIFEST.json")
      .foreach(f => Files.copy(f.toPath, dir.resolve(f.getName)))
    Fixture(dir.toString, random.rows, Nil)
  }

  private def bound(fx: Fixture): Gen[Long] = {
    val tokens = fx.rows.map(_._1) ++ fx.indexTokens
    Gen.frequency(
      4 -> Gen.oneOf(tokens),
      2 -> Gen.oneOf(if (fx.indexTokens.isEmpty) tokens else fx.indexTokens),
      2 -> Gen.oneOf(tokens).flatMap(t => Gen.oneOf(t - 1, t + 1)),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue),
      1 -> Gen.long)
  }

  /** A token filter built from (lo, hi), with the rows it keeps. */
  private val shapes: Seq[(String, (Long, Long) => (Column, Long => Boolean))] = Seq(
    "between" -> ((lo, hi) => (col("token").between(lo, hi), t => t >= lo && t <= hi)),
    ">= and <=" -> ((lo, hi) => (col("token") >= lo && col("token") <= hi, t => t >= lo && t <= hi)),
    "> and <" -> ((lo, hi) => (col("token") > lo && col("token") < hi, t => t > lo && t < hi)),
    ">" -> ((lo, _) => (col("token") > lo, _ > lo)),
    "<=" -> ((_, hi) => (col("token") <= hi, _ <= hi)),
    "=" -> ((lo, _) => (col("token") === lo, _ == lo)),
    "> Long.MaxValue" -> ((_, _) => (col("token") > Long.MaxValue, _ => false)),
    "< Long.MinValue" -> ((_, _) => (col("token") < Long.MinValue, _ => false)))

  private def exact(fx: => Fixture): Prop =
    Prop.forAll(bound(fx), bound(fx), Gen.oneOf(shapes)) { case (lo, hi, (name, shape)) =>
      val (where, keeps) = shape(lo, hi)
      val got = read(fx.dir, Some(where))
      val want = fx.rows.filter(r => keeps(r._1))
      Prop.collect(name)(got == want) :| s"$name over [$lo, $hi]: ${got.size} rows, want ${want.size}"
    }

  property("a Murmur3 run reads exactly the band") = exact(murmur3)
  property("an LZ4-chunked run read through an index seek reads exactly the band") = exact(lz4)
  property("a RandomPartitioner run reads exactly the band") = exact(random)
  property("a manifest-less RandomPartitioner run reads exactly the band") = exact(noManifest)
}

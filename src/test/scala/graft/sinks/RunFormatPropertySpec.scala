package graft.sinks

import java.io.{ByteArrayOutputStream, DataOutputStream, File}
import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Properties}

import graft.core.CassandraTokens

/**
 * ScalaCheck properties for the sorted-run on-disk format, exercising the
 * chunked-compression machinery (Chunks.db, independent chunk inflation,
 * chunk-boundary seeks) across every codec with random record shapes and
 * chunk sizes — the file-format analog of the kernel property tests.
 */
object RunFormatPropertySpec extends Properties("SortedRunFormat") {

  private val keyGen: Gen[Array[Byte]] =
    Gen.chooseNum(1, 24).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127)))
      .map(_.map(_.toByte).toArray)
  private val valueGen: Gen[Array[Byte]] =
    Gen.frequency(
      6 -> Gen.chooseNum(0, 120),
      1 -> Gen.chooseNum(1500, 3000)) // spans small chunks
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127)))
      .map(_.map(_.toByte).toArray)
  private val recordsGen: Gen[List[(Array[Byte], Array[Byte])]] =
    Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.zip(keyGen, valueGen)))
  private val codecGen: Gen[String] =
    Gen.oneOf("none", "deflate", "lz4", "snappy", "zstd")
  private val chunkGen: Gen[Int] = Gen.chooseNum(1024, 8192)

  /** The exact logical record-stream bytes the format promises. */
  private def logicalBytes(sorted: Seq[(Array[Byte], Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    sorted.foreach { case (k, v) =>
      out.writeShort(k.length); out.write(k); out.writeInt(v.length); out.write(v)
    }
    out.flush()
    bos.toByteArray
  }

  private def readAll(in: java.io.InputStream): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    var n = in.read(buf)
    while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
    in.close()
    bos.toByteArray
  }

  property("write/read round-trip for every codec, any records, any chunk size") =
    Prop.forAll(recordsGen, codecGen, chunkGen) { (records, codec, chunkSize) =>
      val dir = Files.createTempDirectory("graft-runprop").toFile
      try {
        val sorted = records
          .map { case (k, v) => (CassandraTokens.token(k), k, v) }
          .sortWith((a, b) => CassandraTokens.compareDecorated(a._1, a._2, b._1, b._2) < 0)
          .map { case (_, k, v) => (k, v) }
        val w = new SortedRunWriter(dir.toString, 0, indexInterval = 4,
          compression = Some(codec).filter(_ != "none"), chunkSize = chunkSize)
        sorted.foreach { case (k, v) => w.add(CassandraTokens.token(k), k, v) }
        val m = w.close()
        val expected = logicalBytes(sorted)
        val dataFile = new File(dir, m.dataFile)

        val manifestOk = m.rows == sorted.length && m.bytes == expected.length &&
          m.physicalBytes == dataFile.length()

        val backOk =
          if (codec == "none") {
            java.util.Arrays.equals(Files.readAllBytes(dataFile.toPath), expected)
          } else {
            val chunks = SortedRunWriter.readChunks(
              SortedRunWriter.chunksFileFor(dataFile))
            val pairsOk = chunks.nonEmpty && chunks.head == ((0L, 0L)) &&
              chunks.sliding(2).forall {
                case Array((l1, p1), (l2, p2)) => l1 < l2 && p1 < p2
                case _ => true
              }
            // full inflate == logical stream
            val (full, startFull) = SortedRunWriter.openChunked(dataFile, codec, chunks, 0L)
            val fullOk = startFull == 0L &&
              java.util.Arrays.equals(readAll(full), expected)
            // seek to EVERY chunk boundary: tail matches the logical tail
            val seeksOk = chunks.forall { case (lOff, _) =>
              val (s, start) = SortedRunWriter.openChunked(dataFile, codec, chunks, lOff)
              start == lOff &&
                java.util.Arrays.equals(readAll(s),
                  expected.drop(lOff.toInt))
            }
            // and an arbitrary mid-stream offset lands at-or-before it
            val mid = expected.length / 2L
            val (s2, start2) = SortedRunWriter.openChunked(dataFile, codec, chunks, mid)
            val midOk = start2 <= mid &&
              java.util.Arrays.equals(readAll(s2), expected.drop(start2.toInt))
            pairsOk && fullOk && seeksOk && midOk
          }
        manifestOk && backOk
      } finally {
        Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
        dir.delete()
        ()
      }
    }

  property("record cursor ends only on a record boundary and at the declared length") =
    Prop.forAll(recordsGen, Gen.listOfN(16, Gen.choose(0.0, 1.0)), Gen.oneOf(true, false)) {
      (records, fractions, readValues) =>
        val stream = logicalBytes(records)
        val boundaries = records.scanLeft(0L) { case (off, (k, v)) => off + 6 + k.length + v.length }
        val cuts = (boundaries ++ fractions.map(f => (f * stream.length).toLong)).distinct
        def cursor(cut: Long, declared: Long) = new SortedRunWriter.RecordCursor(
          new java.io.ByteArrayInputStream(stream, 0, cut.toInt), s"cut-$cut",
          readValues = readValues, declaredBytes = declared)
        def drain(c: SortedRunWriter.RecordCursor): Either[String, Seq[Array[Byte]]] =
          try Right(Iterator.continually(c.next()).takeWhile(identity).map(_ => c.key).toList)
          catch { case e: IllegalStateException => Left(e.getMessage) }
        cuts.forall { cut =>
          val n = boundaries.indexOf(cut)
          val undeclared = drain(cursor(cut, -1L))
          val declared = drain(cursor(cut, stream.length.toLong))
          if (n < 0) undeclared.isLeft && declared.isLeft
          else undeclared.exists(keys => keys.length == n &&
              keys.zip(records).forall { case (k, (rk, _)) => java.util.Arrays.equals(k, rk) }) &&
            declared.isLeft == (cut != stream.length)
        }
    }
}

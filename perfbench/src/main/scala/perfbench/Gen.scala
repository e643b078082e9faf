package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{Encoders, SparkSession}

/** One row of the narrow load table: about 90 bytes once CQL-encoded. */
final case class NarrowRow(user_id: String, score: Int, amount: Double,
    payload: String, event_ts: Long, ttl_s: Int)

/** One document of the curation corpus. */
final case class Doc(doc_id: Long, domain: String, text: String,
    embedding: Array[Float], crawled_at: Long)

/** What the corpus generator planted, so the kept set is known exactly. */
final case class CorpusTruth(
    docs: Int, lowQuality: Int, nonEnglish: Int,
    exactDups: Int, nearDups: Int, semanticDups: Int,
    expectedKept: Set[Long], nearDupLosers: Set[Long])

/**
 * Seeded input generators. The seed is the only source of randomness: the
 * same seed writes the same rows, and the engine under test only ever sees
 * the files written here.
 */
object Gen {

  /** SplitMix64 finalizer: a bijection on 64-bit values. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Unique, uniformly spread, non-sequential key of row `id` under `seed`. */
  def narrowKey(seed: Long, id: Long): String =
    f"${mix(id + seed * 0x9e3779b97f4a7c15L)}%016x"

  private val PayloadAlphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  def narrowRow(seed: Long, id: Long): NarrowRow = {
    val r = new java.util.SplittableRandom(mix(seed ^ mix(id)))
    val len = 8 + r.nextInt(25)
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) { sb += PayloadAlphabet.charAt(r.nextInt(PayloadAlphabet.length)); i += 1 }
    NarrowRow(narrowKey(seed, id), r.nextInt(100000), r.nextDouble() * 1000.0,
      sb.result(), 1700000000000000L + r.nextLong(86400L * 1000000L * 365),
      86400 * (1 + r.nextInt(30)))
  }

  /** Writes `rows` narrow rows as parquet under `dir`. */
  def writeNarrow(spark: SparkSession, seed: Long, rows: Long, dir: File): Unit = {
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    spark.range(0L, rows, 1L, parts)
      .map(id => narrowRow(seed, id))(Encoders.product[NarrowRow])
      .write.mode("overwrite").parquet(dir.getPath)
  }

  // ---- curation corpus -----------------------------------------------------

  private val EnStop = Array("the", "a", "of", "and", "is", "to", "in")
  private val DeStop = Array("der", "die", "das", "und", "ist", "nicht", "ein")
  private val Reserved: Set[String] =
    Set("the", "a", "of", "and", "is", "to", "in", "der", "die", "das", "und",
      "ist", "nicht", "ein", "le", "la", "les", "et", "est", "un", "une", "el",
      "los", "las", "es", "y", "una", "para", "be", "that", "have", "with")

  /** The fixed vocabulary: 4000 pseudo-words, the same for every seed. */
  val Vocabulary: Array[String] = {
    val r = new java.util.SplittableRandom(7L)
    val consonants = "bcdfghjklmnprstvwz"
    val vowels = "aeiou"
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < 4000) {
      val syll = 2 + r.nextInt(3)
      val w = (0 until syll).map(_ =>
        s"${consonants.charAt(r.nextInt(consonants.length))}${vowels.charAt(r.nextInt(vowels.length))}")
        .mkString
      if (!Reserved.contains(w)) words += w
    }
    words.toArray
  }

  val Domains = 10000

  /** Zipf(1.1) CDF over the domain ranks. */
  private lazy val domainCdf: Array[Double] = {
    val w = Array.tabulate(Domains)(k => 1.0 / math.pow(k + 1, 1.1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def zipfDomain(r: java.util.SplittableRandom): String = {
    val u = r.nextDouble()
    var i = java.util.Arrays.binarySearch(domainCdf, u)
    if (i < 0) i = -i - 1
    f"site-${math.min(i, Domains - 1)}%05d.example"
  }

  private def words(r: java.util.SplittableRandom, n: Int, stop: Array[String]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb += ' '
      sb ++= (if (r.nextInt(4) == 0) stop(r.nextInt(stop.length))
              else Vocabulary(r.nextInt(Vocabulary.length)))
      i += 1
    }
    sb.result()
  }

  private def embedding(r: java.util.SplittableRandom): Array[Float] =
    Array.fill(64)(r.nextGaussian().toFloat)

  private def crawledAt(r: java.util.SplittableRandom): Long =
    1700000000000000L + r.nextLong(86400L * 1000000L * 365)

  /**
   * A corpus of `n` documents with planted rates: 5% low quality, 5% not
   * English, 4% exact duplicates (case and whitespace changed), 4%
   * near-duplicates (one word appended) and 3% semantic duplicates (new
   * text, copied embedding). Each planted copy pairs with its own clean
   * original, so within each pair the engine must keep the smaller id.
   */
  def corpus(seed: Long, n: Int): (Seq[Doc], CorpusTruth) = {
    val r = new java.util.SplittableRandom(mix(seed ^ 0x636f72707573L))
    val nLow = n * 5 / 100
    val nDe = n * 5 / 100
    val nExact = n * 4 / 100
    val nNear = n * 4 / 100
    val nSem = n * 3 / 100
    val nCopies = nExact + nNear + nSem
    val nClean = n - nLow - nDe - nCopies
    require(nClean >= nCopies, s"corpus of $n docs too small for its planted copies")
    // doc ids are a seeded permutation, so which side of a pair is kept
    // varies by seed
    val ids = Array.tabulate(n)(_.toLong)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    var next = 0
    def nextId(): Long = { next += 1; ids(next - 1) }

    val clean = Array.fill(nClean)(Doc(nextId(), zipfDomain(r),
      words(r, 80 + r.nextInt(71), EnStop), embedding(r), crawledAt(r)))
    val low = Array.fill(nLow)(Doc(nextId(), zipfDomain(r),
      Array.fill(5 + r.nextInt(8))(f"${r.nextInt(100000)}%05d").mkString(" "),
      embedding(r), crawledAt(r)))
    val de = Array.fill(nDe)(Doc(nextId(), zipfDomain(r),
      words(r, 80 + r.nextInt(71), DeStop), embedding(r), crawledAt(r)))
    // originals are distinct clean docs, one planted copy each
    val originals = clean.take(nCopies)
    val copies = originals.indices.map { k =>
      val o = originals(k)
      if (k < nExact) {
        val t = o.text.split(' ')
        Doc(nextId(), zipfDomain(r),
          "  " + t.head.toUpperCase + "   " + t.tail.mkString("  ") + " ", embedding(r), crawledAt(r))
      } else if (k < nExact + nNear)
        Doc(nextId(), zipfDomain(r),
          o.text + " " + Vocabulary(r.nextInt(Vocabulary.length)), embedding(r), crawledAt(r))
      else
        Doc(nextId(), zipfDomain(r), words(r, 80 + r.nextInt(71), EnStop),
          o.embedding.clone(), crawledAt(r))
    }
    val losers = originals.indices.map(k => math.max(originals(k).doc_id, copies(k).doc_id))
    val kept = (clean.map(_.doc_id) ++ copies.map(_.doc_id)).toSet -- losers
    val nearLosers = losers.slice(nExact, nExact + nNear).toSet
    val docs = (clean ++ low ++ de ++ copies).sortBy(_.doc_id)
    (docs.toSeq, CorpusTruth(n, nLow, nDe, nExact, nNear, nSem, kept, nearLosers))
  }

  def writeCorpus(spark: SparkSession, docs: Seq[Doc], dir: File): Unit = {
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    spark.createDataset(docs)(Encoders.product[Doc]).repartition(parts)
      .write.mode("overwrite").parquet(dir.getPath)
  }

  // ---- ring ----------------------------------------------------------------

  val Hosts: Seq[String] = Seq("node-1", "node-2", "node-3")

  /** The 3-node ring of `graft.tools.StreamSoak` (the soak behind the
    * stream probe this benchmark is sized by): 6 evenly spaced tokens, 2
    * adjacent ones per node. A run that crosses one of the 3 node
    * boundaries streams to 3 replicas at rf=2 instead of 2. */
  val Ring: Seq[(String, Seq[Long])] = {
    val step = java.lang.Long.divideUnsigned(-1L, 6L)
    Hosts.zipWithIndex.map { case (h, i) =>
      h -> Seq(Long.MinValue + (2L * i + 1L) * step, Long.MinValue + (2L * i + 2L) * step)
    }
  }

  /** The ring as the cluster-info JSON the CLI reads. */
  def writeRing(file: File, rf: Int): Unit = {
    val nodes = Ring.map { case (h, ts) =>
      s"""{"host": "$h", "tokens": [${ts.mkString(", ")}]}"""
    }.mkString("[", ", ", "]")
    Files.write(file.toPath,
      s"""{"partitioner": "org.apache.cassandra.dht.Murmur3Partitioner", "nodes": $nodes, "rf": $rf}"""
        .getBytes(StandardCharsets.UTF_8))
  }
}

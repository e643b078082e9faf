package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.Dedup

/**
 * MinHash+LSH dedup soak: N synthetic documents (~80 words each from a
 * 1000-word vocabulary, deterministic by id) with planted near-duplicates
 * (every 50th document repeats the previous one with one word changed).
 * Measures the full pipeline — shingle, sign, band join, verify — well
 * beyond the test corpus, and reports recall on the planted pairs.
 *
 *   sbt "runMain graft.tools.DedupSoak 100000"
 */
object DedupSoak {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 100000L
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // doc i: words w(i,0..79); a planted near-dup copies doc i-1 except
    // word 0. Deterministic: word = "w" + hash-ish mix of (docSeed, pos).
    val docSeed = when(col("id") % 50 === 0 && col("id") > 0, col("id") - 1)
      .otherwise(col("id"))
    val words = transform(sequence(lit(0), lit(79)), i =>
      concat(lit("w"), pmod(xxhash64(docSeed * 128 + i), lit(1000))))
    val firstWord = when(col("id") % 50 === 0 && col("id") > 0,
      concat(lit("CHANGED"), col("id"))).otherwise(element_at(words, 1))
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", array_prepend(slice(words, 2, 79), firstWord)).as("text"))

    val t0 = System.nanoTime()
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
    val found = pairs.count()
    val sec = (System.nanoTime() - t0) / 1e9
    val planted = (n - 1) / 50
    val recall = pairs
      .filter(col("doc_b") - col("doc_a") === 1 && col("doc_b") % 50 === 0)
      .count().toDouble / planted
    println(f"""{"docs":$n,"sec":$sec%.1f,"docs_per_sec":${(n / sec).toLong},""" +
      f""""pairs_found":$found,"planted":$planted,"planted_recall":$recall%.3f}""")
    spark.stop()
  }
}

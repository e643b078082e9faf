package graft.core

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}

/**
 * ScalaCheck properties for the pure TextHash kernels — random unicode
 * input (including supplementary-plane chars, nulls, duplicates) against
 * independent reference implementations, complementing the fixed-corpus
 * equivalence tests in KernelEquivalenceSpec.
 */
object KernelPropertySpec extends Properties("TextHash") {

  private val token: Gen[String] = Gen.oneOf(
    Gen.stringOfN(3, Gen.alphaNumChar),
    Gen.oneOf("", "a", "🙂", "你好", "Ça", "a b", "a\"b", "\n"),
    Gen.listOf(Gen.oneOf("a", "b", "🙂")).map(_.mkString))

  private val tokens: Gen[List[String]] = Gen.listOf(token)
  private val tokensWithNulls: Gen[List[String]] =
    Gen.listOf(Gen.frequency(9 -> token, 1 -> Gen.const(null: String)))

  private def arr(xs: Seq[String]): GenericArrayData =
    new GenericArrayData(xs.map(s => if (s == null) null else UTF8String.fromString(s)).toArray[Any])

  property("maxTokenCount == groupBy-count max") = Prop.forAll(tokensWithNulls) { xs =>
    val expected = xs.filter(_ != null)
      .groupBy(identity).values.map(_.size).maxOption.getOrElse(0)
    TextHash.maxTokenCount(arr(xs)) == expected
  }

  property("arraySumLong == filtered sum") =
    Prop.forAll(Gen.listOf(Gen.option(Gen.choose(-1000000L, 1000000L)))) { xs =>
      val a = new GenericArrayData(
        xs.map(_.map(java.lang.Long.valueOf).orNull).toArray[Any])
      TextHash.arraySumLong(a) == xs.flatten.sum
    }

  property("simhash matches the hex-string reference formula") =
    Prop.forAll(tokens, Gen.oneOf(16, 60)) { (xs, bits) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](bits)
      xs.foreach { t =>
        md.reset()
        val hex = md.digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        val h = java.lang.Long.parseLong(hex.substring(0, bits / 4), 16)
        (0 until bits).foreach { b =>
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        }
      }
      val expected = (0 until bits).map(b => if (votes(b) > 0) 1L << b else 0L).sum
      TextHash.simhashFromTokens(arr(xs), bits) == expected
    }

  property("simhash is token-order invariant") = Prop.forAll(tokens) { xs =>
    TextHash.simhashFromTokens(arr(xs), 60) ==
      TextHash.simhashFromTokens(arr(scala.util.Random.shuffle(xs)), 60)
  }

  // lines drawn from a small pool so duplicates (incl. empty and
  // whitespace-only lines, unicode, trailing newlines) are common
  private val doc: Gen[String] = Gen.listOf(Gen.oneOf(
    "", "a", "b", "🙂 line", "the same line", "\tx", " ", "你好"))
    .map(_.mkString("\n"))

  property("dedupLines == first-occurrence filter of split lines") =
    Prop.forAll(doc) { s =>
      // the naive O(lines²) reference the kernel replaced: split (keeping
      // trailing empties, like Spark's split), first occurrences in order
      val expected = s.split("\n", -1).distinct.mkString("\n")
      TextHash.dedupLines(UTF8String.fromString(s)).toString == expected
    }

  property("charGramHashes emits cpCount-k+1 grams") =
    Prop.forAll(Gen.asciiPrintableStr.flatMap(a => token.map(a + _)), Gen.choose(1, 6)) { (s, k) =>
      val cps = s.codePointCount(0, s.length)
      val n = TextHash.charGramHashes(UTF8String.fromString(s), k).numElements()
      n == math.max(0, cps - k + 1)
    }

  property("setFingerprint is permutation invariant") = Prop.forAll(tokensWithNulls) { xs =>
    java.util.Arrays.equals(
      TextHash.setFingerprint(arr(xs)),
      TextHash.setFingerprint(arr(scala.util.Random.shuffle(xs))))
  }

  property("wordGrams == sliding-window distinct reference") = {
    // generator and reference splitter cover all six separator bytes the
    // kernel claims — vertical tab spelled , not a raw 0x0B byte,
    // so the coverage is visible to a reader (two review rounds read the
    // invisible raw byte as a coverage hole)
    val text: Gen[String] = Gen.listOf(Gen.oneOf(
      token, Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r", "  "))).map(_.mkString)
    Prop.forAll(text, Gen.choose(1, 4)) { (s, n) =>
      val toks = s.split("[ \t\n\u000B\f\r]+").filter(_.nonEmpty).toList
      val expected =
        if (toks.length < n) Nil
        else toks.sliding(n).map(_.mkString(" ")).toList.distinct
      val got = {
        val a = TextHash.wordGrams(UTF8String.fromString(s), n)
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString).toList
      }
      got == expected
    }
  }

  property("countIn == manual membership count") =
    Prop.forAll(tokensWithNulls, Gen.listOf(token)) { (xs, words) =>
      val set = new java.util.HashSet[UTF8String]()
      words.foreach(w => set.add(UTF8String.fromString(w)))
      val expected = xs.count(x => x != null && words.contains(x))
      TextHash.countIn(arr(xs), set) == expected
    }

  // --- packed sorted-long sets: the one bounded varint reader ---

  private val sortedLongs: Gen[Array[Long]] = Gen.listOf(Gen.oneOf(
    Gen.choose(Long.MinValue, Long.MaxValue), Gen.choose(-300L, 300L),
    Gen.oneOf(Long.MinValue, Long.MaxValue, 0L))).map(_.toArray.sorted)

  private def pack(xs: Array[Long]): Array[Byte] =
    TextHash.packSortedLongs(new GenericArrayData(xs))

  /** One varint of 1..10 bytes: continuation bytes with random payloads. */
  private def varint(bytes: Int): Gen[List[Byte]] =
    Gen.listOfN(bytes, Gen.choose(0, 0x7f)).map { ps =>
      ps.init.map(p => (p | 0x80).toByte) :+ ps.last.toByte
    }

  private val validBlob: Gen[Array[Byte]] =
    Gen.nonEmptyListOf(Gen.choose(1, 10).flatMap(varint)).map(_.flatten.toArray)

  /** The unbounded decode loop the kernels used before the bounded reader. */
  private def referenceUnpack(blob: Array[Byte]): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var pos = 0
    var prev = 0L
    while (pos < blob.length) {
      var x = 0L; var s = 0; var m = 0L
      while ({ m = blob(pos); pos += 1; (m & 0x80) != 0 }) { x |= (m & 0x7fL) << s; s += 7 }
      x |= (m & 0x7fL) << s
      prev = if (out.isEmpty) (x >>> 1) ^ -(x & 1L) else prev + x
      out += prev
    }
    out.toArray
  }

  /** 11+ bytes of one varint: 11..20 continuation bytes, then a terminator. */
  private val overlong: Gen[Array[Byte]] = for {
    n <- Gen.choose(11, 20)
    ps <- Gen.listOfN(n, Gen.choose(0, 0x7f))
    last <- Gen.choose(0, 0x7f)
  } yield (ps.map(p => (p | 0x80).toByte) :+ last.toByte).toArray

  private def rejectsOverlong(f: => Any): Boolean =
    try { f; false }
    catch { case e: IllegalArgumentException => e.getMessage.contains("overlong varint") }

  property("unpackSortedLongs inverts packSortedLongs") = Prop.forAll(sortedLongs) { xs =>
    TextHash.unpackSortedLongs(pack(xs)).toLongArray().sameElements(xs)
  }

  property("packedIntersectCount == distinct set intersection size") =
    Prop.forAll(sortedLongs, sortedLongs) { (a, b) =>
      TextHash.packedIntersectCount(pack(a), pack(b)) == (a.toSet & b.toSet).size
    }

  property("random valid blobs decode exactly as the unbounded loop did") =
    Prop.forAll(validBlob) { blob =>
      TextHash.unpackSortedLongs(blob).toLongArray().sameElements(referenceUnpack(blob))
    }

  property("an overlong varint throws in both kernels") =
    Prop.forAll(overlong, validBlob, validBlob) { (bad, pre, post) =>
      rejectsOverlong(TextHash.unpackSortedLongs(pre ++ bad ++ post)) &&
        rejectsOverlong(TextHash.unpackSortedLongs(bad)) &&
        rejectsOverlong(TextHash.packedIntersectCount(bad ++ post, pre)) &&
        rejectsOverlong(TextHash.packedIntersectCount(pre, bad ++ post))
    }
}

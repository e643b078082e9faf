package graft.core

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Text-hashing kernels called from generated code. shingleHash32 equals
 * `CAST(conv(substring(md5(s),1,8),16,10) AS BIGINT)` — the first four
 * digest bytes read as an unsigned 32-bit big-endian integer — so values
 * are identical to the SQL/DuckDB formulation, just without the
 * hex-string detour.
 */
object TextHash {

  /** MinHash permutation constants (see Dedup scaladoc for the rationale). */
  val MinhashP = 4294967311L // prime > 2^32
  val MinhashA: Array[Long] = Array(1073741827L, 998244353L, 805306457L,
    754974721L, 536870923L, 469762049L, 268435459L, 167772161L)
  val MinhashB: Array[Long] = Array(12345L, 67890L, 111213L, 141516L,
    171819L, 202122L, 232425L, 262728L)

  private val tl = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private def shingleHash32(s: UTF8String): Long = {
    val md = tl.get()
    md.reset()
    val dig = md.digest(s.getBytes)
    ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
  }

  /** array<string> shingles -> array<long> 32-bit hashes. */
  def shingleHashes(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = shingleHash32(shingles.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Winnowing (MOSS-style rolling-hash document fingerprinting): the
   * minimum hash of every sliding window of `w` consecutive k-gram hashes,
   * returned as sorted distinct values. Guarantee: any shared substring of
   * length >= w+k-1 between two documents yields at least one shared
   * fingerprint. O(n) via a monotonic deque. Fewer than w hashes collapse
   * to a single window (the global minimum).
   */
  def winnow(hashes: ArrayData, w: Int): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val mins = new java.util.TreeSet[java.lang.Long]()
    if (n <= w) {
      var m = Long.MaxValue
      var i = 0
      while (i < n) { val h = hashes.getLong(i); if (h < m) m = h; i += 1 }
      mins.add(m)
    } else {
      // deque of indexes with increasing hash values; head = window min
      val idx = new Array[Int](n)
      var head = 0
      var tail = 0 // exclusive
      var i = 0
      while (i < n) {
        val h = hashes.getLong(i)
        while (tail > head && hashes.getLong(idx(tail - 1)) >= h) tail -= 1
        idx(tail) = i; tail += 1
        if (idx(head) <= i - w) head += 1
        if (i >= w - 1) mins.add(hashes.getLong(idx(head)))
        i += 1
      }
    }
    val out = new Array[Long](mins.size())
    val it = mins.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /**
   * Count regex matches without materializing them. Value-equal to
   * `size(regexp_extract_all(s, pattern, 0))` — Spark's own `regexp_count`
   * is RuntimeReplaceable sugar for exactly that extract-all form, so it
   * still allocates a string per match; this kernel runs the same
   * `Matcher.find()` loop and only increments a counter. The compiled
   * Pattern rides in as a codegen reference object (compiled once per
   * plan, not per row).
   */
  def countMatches(s: UTF8String, p: java.util.regex.Pattern): Long = {
    val m = p.matcher(s.toString)
    var c = 0L
    while (m.find()) c += 1
    c
  }

  /**
   * Fused char-gram hashing: 32-bit md5-derived hash of every overlapping
   * k-code-point gram of `s`, with ZERO intermediate gram strings. Replaces
   * `shingle_hashes(regexp_extract_all(s, "(?s)(?=(.{k}))", 1))`, which
   * allocated one k-char string per character of the document. A k-gram of
   * code points is a contiguous UTF-8 byte slice, so the digest runs
   * directly over `(bytes, start(i), start(i+k) - start(i))` — values are
   * identical to hashing the extracted substring (md5 of the same UTF-8
   * bytes). Fewer than k code points -> empty array, matching the
   * no-matches regex result.
   */
  def charGramHashes(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // code-point start offsets (starts(cnt) = n sentinel closes the last gram)
    val starts = new Array[Int](n + 1)
    var cnt = 0
    var off = 0
    while (off < n) {
      starts(cnt) = off
      cnt += 1
      off += UTF8String.numBytesForFirstByte(bytes(off))
    }
    starts(cnt) = n
    if (cnt < k) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](cnt - k + 1)
    val md = tl.get()
    var i = 0
    while (i + k <= cnt) {
      md.reset()
      md.update(bytes, starts(i), starts(i + k) - starts(i))
      val dig = md.digest()
      out(i) = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      i += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Count of array elements present in `words` — value-equal to
   * `size(filter(arr, w => w.isin(words)))` but codegen'd: the higher-order
   * `filter` form is CodegenFallback (interpreted per row per column, and
   * immune to subexpression elimination), which is what made quality
   * scoring re-pay the tokenizer for every output column.
   */
  def countIn(arr: ArrayData, words: java.util.HashSet[UTF8String]): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && words.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /**
   * DISTINCT overlapping word n-grams (single-space joined, first-
   * occurrence order) — value-equal to
   * `array_distinct(regexp_extract_all(regexp_replace(trim(s), "\\s+", " "),
   * "(?<![^ ])(?=(tok( tok){n-1}))", 1))` with ASCII-whitespace
   * separators (java.util.regex \s without UNICODE_CHARACTER_CLASS), but
   * one byte-level pass with no regex engine and no normalized
   * intermediate string. ASCII whitespace bytes never occur inside UTF-8
   * multi-byte sequences, so the byte scan is code-point safe.
   */
  def wordGrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
    // token spans
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isWs(bytes(i))) i += 1
        ends.add(i)
      }
    }
    val nTok = starts.size()
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var t = 0
    while (t + n <= nTok) {
      var size = n - 1 // joining spaces
      var j = 0
      while (j < n) { size += ends.get(t + j) - starts.get(t + j); j += 1 }
      val out = new Array[Byte](size)
      var pos = 0
      j = 0
      while (j < n) {
        if (j > 0) { out(pos) = ' '; pos += 1 }
        val l = ends.get(t + j) - starts.get(t + j)
        System.arraycopy(bytes, starts.get(t + j), out, pos, l)
        pos += l
        j += 1
      }
      seen.add(UTF8String.fromBytes(out))
      t += 1
    }
    val arr = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }

  /**
   * Characters (code points, whitespace excluded) covered by REPEAT
   * occurrences of word n-grams: for every n-gram occurrence beyond that
   * gram's first, add the gram's token character count. The Gopher
   * duplicate-n-gram repetition signal (Rae et al. 2021, Table A1),
   * O(tokens) with one hash probe per gram — the per-gram
   * filter-and-count form any SQL expression would plan is O(grams²)
   * per row.
   *
   * Char counts are code points (UTF-8 continuation bytes excluded), so
   * CJK text measures the same as an engine counting characters.
   */
  def dupGramChars(s: UTF8String, n: Int): Long = {
    val bytes = s.getBytes
    val len = bytes.length
    def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isWs(bytes(i))) i += 1
        ends.add(i)
      }
    }
    val nTok = starts.size()
    if (nTok < n) return 0L
    // per-token code-point counts, computed once
    val charLens = new Array[Int](nTok)
    var t = 0
    while (t < nTok) {
      var c = 0
      var p = starts.get(t)
      while (p < ends.get(t)) { if ((bytes(p) & 0xC0) != 0x80) c += 1; p += 1 }
      charLens(t) = c
      t += 1
    }
    val seen = new java.util.HashSet[UTF8String]()
    var dup = 0L
    t = 0
    while (t + n <= nTok) {
      var size = n - 1
      var j = 0
      while (j < n) { size += ends.get(t + j) - starts.get(t + j); j += 1 }
      val out = new Array[Byte](size)
      var pos = 0
      j = 0
      while (j < n) {
        if (j > 0) { out(pos) = ' '; pos += 1 }
        val l = ends.get(t + j) - starts.get(t + j)
        System.arraycopy(bytes, starts.get(t + j), out, pos, l)
        pos += l
        j += 1
      }
      if (!seen.add(UTF8String.fromBytes(out))) {
        var cl = 0L
        j = 0
        while (j < n) { cl += charLens(t + j); j += 1 }
        dup += cl
      }
      t += 1
    }
    dup
  }

  /** Sum of an array<long> (null elements skipped) — value-equal to
    * `aggregate(arr, 0L, (acc, x) -> acc + x)`, whose higher-order form
    * is CodegenFallback and defeats subexpression elimination for every
    * sibling column sharing the array subtree. */
  def arraySumLong(arr: ArrayData): Long = {
    val n = arr.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) s += arr.getLong(i)
      i += 1
    }
    s
  }

  /**
   * SimHash over a token array, IN-ROW: per token, the first `bits` bits
   * of md5 (big-endian hex order, so bit values equal the SQL form
   * `conv(substring(md5(w),1,bits/4),16,10)`); each bit votes +1/-1 and
   * the majority sets the signature bit. SimHash is a pure per-document
   * function — the explode + groupBy(doc) 60-column vote aggregation this
   * replaces paid an exchange for what one row-local loop computes.
   * Null elements are skipped; empty array -> all-negative votes -> 0L.
   */
  def simhashFromTokens(arr: ArrayData, bits: Int): Long = {
    require(bits > 0 && bits <= 60 && bits % 4 == 0,
      s"bits must be a positive multiple of 4, <= 60 (signed-int64-safe), got $bits")
    val votes = new Array[Int](bits)
    val md = tl.get()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val dig = md.digest(arr.getUTF8String(i).getBytes)
        // first bits/4 hex chars as an unsigned big-endian value
        var h = 0L
        var j = 0
        val nibbles = bits / 4
        while (j < nibbles) {
          val b = dig(j / 2) & 0xff
          val nib = if (j % 2 == 0) b >>> 4 else b & 0xf
          h = (h << 4) | nib
          j += 1
        }
        var b = 0
        while (b < bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  /**
   * Occurrence count of the most frequent element of a string array —
   * the Gopher-style "top word fraction" repetition signal, computed
   * in-row (one hash map per row, no explode/groupBy shuffle). Value-equal
   * to `max(count) OVER (GROUP BY doc, word)` of the exploded form; null
   * elements are skipped (the tokenizer emits none); empty array -> 0.
   */
  def maxTokenCount(arr: ArrayData): Int = {
    val n = arr.numElements()
    if (n == 0) return 0
    val m = new java.util.HashMap[UTF8String, Integer](Math.min(n * 2, 1 << 10))
    var best = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val c = m.merge(arr.getUTF8String(i), Integer.valueOf(1),
          (a: Integer, b: Integer) => Integer.valueOf(a.intValue() + b.intValue()))
        if (c.intValue() > best) best = c.intValue()
      }
      i += 1
    }
    best
  }

  /**
   * Order-insensitive 16-byte fingerprint of a string SET: md5 over the
   * binary-sorted elements, each framed as 4-byte BE length + UTF-8 bytes
   * (length framing keeps the encoding injective). Replaces
   * `md5(to_json(sort_array(sh)))`, which JSON-escaped and concatenated
   * every shingle into one giant string per row. Used as a grouping key
   * only — both sides of any comparison compute it the same way. Null
   * elements (legal when the input array type has containsNull=true) sort
   * first and frame as length -1 with no payload — distinct from every
   * real element (length >= 0), so {null} and {""} fingerprint apart.
   */
  def setFingerprint(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val elems = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      elems(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    java.util.Arrays.sort(elems, (a: UTF8String, b: UTF8String) =>
      if (a eq b) 0 else if (a == null) -1 else if (b == null) 1 else a.compareTo(b))
    val md = tl.get()
    md.reset()
    val lenBuf = new Array[Byte](4)
    i = 0
    while (i < n) {
      val len = if (elems(i) == null) -1 else elems(i).numBytes()
      lenBuf(0) = (len >>> 24).toByte
      lenBuf(1) = (len >>> 16).toByte
      lenBuf(2) = (len >>> 8).toByte
      lenBuf(3) = len.toByte
      md.update(lenBuf)
      if (len >= 0) md.update(elems(i).getBytes)
      i += 1
    }
    md.digest()
  }

  /**
   * Within-document line dedup: keep the FIRST occurrence of each
   * '\n'-separated line, preserving order — value-equal to the
   * higher-order form
   * `array_join(filter(split(t,"\n"), (x,i) => array_position(split(t,"\n"),x) = i+1), "\n")`
   * but O(lines) via a hash set where array_position made it O(lines²)
   * per document (a pathological million-line doc stalls a task under
   * the naive form; this one stays linear). '\n' is ASCII, so byte-level
   * splitting of UTF-8 is exact; kept-line slices reference the input
   * buffer — one output allocation, no per-line copies.
   */
  def dedupLines(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val n = bytes.length
    val seen = new java.util.HashSet[UTF8String]()
    var keptStarts = new Array[Int](16)
    var keptLens = new Array[Int](16)
    var kept = 0
    var outBytes = 0
    var lineStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == '\n') {
        val len = i - lineStart
        if (seen.add(UTF8String.fromBytes(bytes, lineStart, len))) {
          if (kept == keptStarts.length) {
            keptStarts = java.util.Arrays.copyOf(keptStarts, kept * 2)
            keptLens = java.util.Arrays.copyOf(keptLens, kept * 2)
          }
          keptStarts(kept) = lineStart
          keptLens(kept) = len
          kept += 1
          outBytes += len
        }
        lineStart = i + 1
      }
      i += 1
    }
    // kept >= 1 always: even "" yields one (empty) line
    val out = new Array[Byte](outBytes + kept - 1)
    var pos = 0
    var j = 0
    while (j < kept) {
      if (j > 0) { out(pos) = '\n'; pos += 1 }
      System.arraycopy(bytes, keptStarts(j), out, pos, keptLens(j))
      pos += keptLens(j)
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  /**
   * Shannon entropy of the CODE POINT distribution, in bits — the
   * compressibility proxy of quality filtering (gibberish and
   * binary-ish text read high, repeated boilerplate reads low).
   * One O(len) byte pass; counts key on the code point's leading
   * byte offset width + value via a small open hash map. Defined as
   * -sum p_i * log2 p_i over code-point frequencies; empty -> 0.0.
   * Summation runs over ascending code points so the float result is
   * a pure function of the text, independent of any engine ordering.
   */
  def charEntropy(s: UTF8String): Double = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return 0.0
    // code point -> count, via a sorted array of (cp, count) built from
    // a HashMap (doc alphabets are small; clarity over micro-tuning)
    val counts = new java.util.HashMap[Integer, Integer]()
    var off = 0
    var total = 0
    while (off < n) {
      val w = UTF8String.numBytesForFirstByte(bytes(off))
      // decode the code point (UTF-8, matching String semantics)
      var cp = 0
      if (w == 1) cp = bytes(off) & 0x7f
      else {
        cp = bytes(off) & (0x7f >> w)
        var j = 1
        while (j < w && off + j < n) {
          cp = (cp << 6) | (bytes(off + j) & 0x3f)
          j += 1
        }
      }
      val prev = counts.get(cp)
      counts.put(cp, if (prev == null) 1 else prev + 1)
      total += 1
      off += w
    }
    val cps = new Array[Int](counts.size())
    val it = counts.keySet().iterator()
    var i = 0
    while (it.hasNext) { cps(i) = it.next(); i += 1 }
    java.util.Arrays.sort(cps)
    var h = 0.0
    val ln2 = math.log(2.0)
    i = 0
    while (i < cps.length) {
      val p = counts.get(cps(i)).toDouble / total
      h -= p * (math.log(p) / ln2)
      i += 1
    }
    h
  }

  /**
   * |distinct(a) ∩ distinct(b)| of two ASC-SORTED arrays (`sort_array`
   * order — nulls first) by one two-pointer merge: no per-row hash set,
   * no materialized intersection array. Equal to
   * `size(array_intersect(a, b))` whenever both inputs are sorted
   * (duplicates skipped via the prev guard; a null element common to
   * both sides counts once, matching array_intersect).
   */
  def sortedIntersectCountLong(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0
    while (i < na && a.isNullAt(i)) i += 1
    while (j < nb && b.isNullAt(j)) j += 1
    var c = if (i > 0 && j > 0) 1 else 0
    var prevSet = false
    var prev = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        if (!prevSet || prev != x) { c += 1; prev = x; prevSet = true }
        i += 1; j += 1
      }
    }
    c
  }

  /** Int-element variant of [[sortedIntersectCountLong]]. */
  def sortedIntersectCountInt(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0
    while (i < na && a.isNullAt(i)) i += 1
    while (j < nb && b.isNullAt(j)) j += 1
    var c = if (i > 0 && j > 0) 1 else 0
    var prevSet = false
    var prev = 0
    while (i < na && j < nb) {
      val x = a.getInt(i); val y = b.getInt(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        if (!prevSet || prev != x) { c += 1; prev = x; prevSet = true }
        i += 1; j += 1
      }
    }
    c
  }

  /** String-element variant of [[sortedIntersectCountLong]] (UTF8String
    * binary order — the order `sort_array` uses). */
  def sortedIntersectCountString(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0
    while (i < na && a.isNullAt(i)) i += 1
    while (j < nb && b.isNullAt(j)) j += 1
    var c = if (i > 0 && j > 0) 1 else 0
    var prev: UTF8String = null
    while (i < na && j < nb) {
      val x = a.getUTF8String(i); val y = b.getUTF8String(j)
      val cmp = x.compareTo(y)
      if (cmp < 0) i += 1
      else if (cmp > 0) j += 1
      else {
        if (prev == null || prev.compareTo(x) != 0) { c += 1; prev = x }
        i += 1; j += 1
      }
    }
    c
  }

  /**
   * Delta-varint pack of an ASC-sorted long/int array (`sort_array`
   * order, null-free — collect_list output): zigzag-varint of the first
   * value, then a plain varint per non-negative delta. An adjacency list
   * of clustered ids packs to ~1-3 bytes per element instead of the 8-9
   * bytes an UnsafeArrayData long element costs through an exchange —
   * the representation [[packedIntersectCount]] consumes without ever
   * materializing the longs back into an array.
   */
  def packSortedLongs(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    if (n == 0) return Array.emptyByteArray
    val buf = new Array[Byte](n * 10) // varint worst case, trimmed below
    var pos = 0
    var prev = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          "pack_sorted_longs: null element (expects null-free sorted arrays)")
      val e = arr.getLong(i)
      var v =
        if (i == 0) (e << 1) ^ (e >> 63) // zigzag: only the first may be negative
        else {
          if (e < prev) throw new IllegalArgumentException(
            "pack_sorted_longs: input array is not ascending-sorted")
          // the delta can exceed Long.MaxValue (min -> positive spans);
          // its two's-complement bits encode as unsigned varint and the
          // decoder's wrapping add reconstructs the value mod 2^64
          e - prev
        }
      while ((v & ~0x7fL) != 0) {
        buf(pos) = ((v & 0x7f) | 0x80).toByte; pos += 1; v >>>= 7
      }
      buf(pos) = v.toByte; pos += 1
      prev = e
      i += 1
    }
    java.util.Arrays.copyOf(buf, pos)
  }

  /** Int-element variant of [[packSortedLongs]] (same byte format, so
    * int- and long-keyed graphs share one intersect kernel). */
  def packSortedInts(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    if (n == 0) return Array.emptyByteArray
    val buf = new Array[Byte](n * 5)
    var pos = 0
    var prev = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          "pack_sorted_longs: null element (expects null-free sorted arrays)")
      val e = arr.getInt(i).toLong
      var v =
        if (i == 0) (e << 1) ^ (e >> 63)
        else {
          if (e < prev) throw new IllegalArgumentException(
            "pack_sorted_longs: input array is not ascending-sorted")
          // the delta can exceed Long.MaxValue (min -> positive spans);
          // its two's-complement bits encode as unsigned varint and the
          // decoder's wrapping add reconstructs the value mod 2^64
          e - prev
        }
      while ((v & ~0x7fL) != 0) {
        buf(pos) = ((v & 0x7f) | 0x80).toByte; pos += 1; v >>>= 7
      }
      buf(pos) = v.toByte; pos += 1
      prev = e
      i += 1
    }
    java.util.Arrays.copyOf(buf, pos)
  }

  /**
   * Inverse of [[packSortedLongs]]: decode a delta-varint blob back to
   * the ascending long array it packed (wrapping adds reconstruct values
   * mod 2^64, matching the encoder's wrapping deltas). Used where a
   * packed adjacency list must fan back out into rows (the pagerank
   * contribution explode) — the array is transient in-row, so the
   * exchange/cache still carries the ~1-3 B/id encoding.
   */
  def unpackSortedLongs(blob: Array[Byte]): ArrayData = {
    val len = blob.length
    if (len == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.emptyLongArray)
    val in = new VarintCursor(blob, "unpack_sorted_longs")
    // a blob ending mid-varint (continuation bit set on the last byte)
    // is truncated — the terminator-count pass below would silently
    // decode one element short instead of running off the end
    if ((blob(len - 1) & 0x80) != 0) throw in.malformed("truncated varint")
    // pass 1: element count = number of varint terminator bytes
    var n = 0
    var i = 0
    while (i < len) { if ((blob(i) & 0x80) == 0) n += 1; i += 1 }
    val out = new Array[Long](n)
    var k = 0
    var prev = 0L
    while (k < n) {
      val x = in.next()
      prev =
        if (k == 0) (x >>> 1) ^ -(x & 1L) // zigzag: only the first value
        else prev + x // wrapping add mirrors the encoder's wrapping delta
      out(k) = prev
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /**
   * The one reader of the [[packSortedLongs]] varint stream. `next()`
   * decodes the unsigned varint at the cursor and rejects one that runs off
   * the blob (truncated) or past 10 bytes (overlong: an 11th byte would
   * shift past bit 63 and decode garbage). A final class with a plain
   * field, not a nested def over local vars, so the merge loop's cursor
   * is not boxed into a runtime ref. (A FOREIGN byte string that happens
   * to parse as varints is not detectable — the format is header-free by
   * design; the contract is pack_sorted_longs output.)
   */
  private final class VarintCursor(blob: Array[Byte], fn: String) {
    private var pos = 0
    def hasNext: Boolean = pos < blob.length
    def next(): Long = {
      var x = 0L; var s = 0; var m = 0L
      while ({ m = nextByte(); (m & 0x80) != 0 }) {
        x |= (m & 0x7fL) << s; s += 7
        if (s == 70) throw malformed("overlong varint")
      }
      x | ((m & 0x7fL) << s)
    }
    private def nextByte(): Long = {
      if (pos >= blob.length) throw malformed("truncated varint")
      val b = blob(pos); pos += 1; b
    }
    def malformed(what: String) = new IllegalArgumentException(
      s"$fn: malformed blob ($what) — input must be pack_sorted_longs output")
  }

  /**
   * |distinct(a) ∩ distinct(b)| of two [[packSortedLongs]]-packed sets by
   * one two-pointer merge over the ENCODED bytes — varints decode
   * incrementally as each side advances, so the intersect never
   * reconstructs an array. Distinct semantics match
   * [[sortedIntersectCountLong]] on the arrays that were packed.
   */
  def packedIntersectCount(a: Array[Byte], b: Array[Byte]): Int = {
    if (a.length == 0 || b.length == 0) return 0
    val ca = new VarintCursor(a, "packed_intersect_count")
    val cb = new VarintCursor(b, "packed_intersect_count")
    def unzig(x: Long) = (x >>> 1) ^ -(x & 1L) // zigzag: only the first value
    var va = unzig(ca.next())
    var vb = unzig(cb.next())
    var c = 0
    var prevSet = false
    var prev = 0L
    var done = false
    while (!done) {
      if (va == vb) {
        if (!prevSet || prev != va) { c += 1; prev = va; prevSet = true }
        if (!ca.hasNext || !cb.hasNext) done = true
        else { va += ca.next(); vb += cb.next() }
      } else if (va < vb) {
        if (!ca.hasNext) done = true else va += ca.next()
      } else {
        if (!cb.hasNext) done = true else vb += cb.next()
      }
    }
    c
  }

  /** k-min signature over 32-bit hashes with the permutation constants. */
  def minhashSignature(hashes: ArrayData, k: Int): ArrayData = {
    val as = MinhashA
    val bs = MinhashB
    val p = MinhashP
    val sig = Array.fill(k)(Long.MaxValue)
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      val h = hashes.getLong(j)
      var i = 0
      while (i < k) {
        val m = (as(i) * h + bs(i)) % p
        if (m < sig(i)) sig(i) = m
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }
}

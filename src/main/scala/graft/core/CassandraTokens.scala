package graft.core

/**
 * Cassandra Murmur3Partitioner token math, reimplemented from the public
 * MurmurHash3 x64_128 algorithm (Austin Appleby, public domain) with the
 * Cassandra-specific quirks the reference depends on:
 *
 *  - tail bytes are SIGN-EXTENDED when xor'd into k1/k2 (Cassandra's Java
 *    port diverges from the canonical C++ here, and the on-ring token
 *    placement of every production cluster depends on it);
 *  - the token is the first 64-bit half of the 128-bit hash;
 *  - an empty key maps to the minimum token (Long.MinValue);
 *  - a hash of Long.MinValue is normalized to Long.MaxValue so the ring is
 *    symmetric around zero.
 *
 * Reference behavior (studied, not copied):
 *   /root/reference/src/main/java/com/spotify/hdfs2cass/cassandra/utils/
 *     CassandraPartitioner.java:42-72 (token -> bucket math)
 *   /root/reference/src/test/java/com/spotify/hdfs2cass/cassandra/utils/
 *     CassandraKeyComparatorTest.java:57-59 (known-hash oracle values)
 *
 * All methods are static-forwarded (top-level object) so generated Java
 * codegen can call them directly: `graft.core.CassandraTokens.token(bytes)`.
 */
object CassandraTokens {

  private final val C1 = 0x87c37b91114253d5L
  private final val C2 = 0x4cf5ad432745937fL

  @inline private def rotl64(v: Long, n: Int): Long = (v << n) | (v >>> (64 - n))

  @inline private def fmix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  @inline private def blockLE(d: Array[Byte], i: Int): Long =
    (d(i) & 0xffL) |
      ((d(i + 1) & 0xffL) << 8) |
      ((d(i + 2) & 0xffL) << 16) |
      ((d(i + 3) & 0xffL) << 24) |
      ((d(i + 4) & 0xffL) << 32) |
      ((d(i + 5) & 0xffL) << 40) |
      ((d(i + 6) & 0xffL) << 48) |
      ((d(i + 7) & 0xffL) << 56)

  /** First 64 bits of MurmurHash3 x64_128, Cassandra variant (signed tail). */
  private def murmur3First64(data: Array[Byte], offset: Int, length: Int, seed: Long): Long = {
    val nblocks = length >> 4
    var h1 = seed
    var h2 = seed

    var i = 0
    while (i < nblocks) {
      val base = offset + (i << 4)
      var k1 = blockLE(data, base)
      var k2 = blockLE(data, base + 8)
      k1 *= C1; k1 = rotl64(k1, 31); k1 *= C2; h1 ^= k1
      h1 = rotl64(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= C2; k2 = rotl64(k2, 33); k2 *= C1; h2 ^= k2
      h2 = rotl64(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      i += 1
    }

    // Tail: bytes are sign-extended (Cassandra's Java semantics).
    val tail = offset + (nblocks << 4)
    val rem = length & 15
    var k1 = 0L
    var k2 = 0L
    if (rem > 8) {
      var j = rem - 1
      while (j >= 8) { k2 ^= data(tail + j).toLong << ((j - 8) << 3); j -= 1 }
      k2 *= C2; k2 = rotl64(k2, 33); k2 *= C1; h2 ^= k2
    }
    if (rem > 0) {
      var j = math.min(rem, 8) - 1
      while (j >= 0) { k1 ^= data(tail + j).toLong << (j << 3); j -= 1 }
      k1 *= C1; k1 = rotl64(k1, 31); k1 *= C2; h1 ^= k1
    }

    h1 ^= length.toLong
    h2 ^= length.toLong
    h1 += h2
    h2 += h1
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 + h2 // hash[0]
  }

  /** Cassandra Murmur3Partitioner token of a partition key. */
  def token(key: Array[Byte]): Long = {
    if (key == null || key.length == 0) return Long.MinValue
    val h = murmur3First64(key, 0, key.length, 0L)
    if (h == Long.MinValue) Long.MaxValue else h
  }

  /**
   * Width of each of `n` contiguous token ranges covering the full unsigned
   * 2^64 token space: ceil(2^64 / n), as an unsigned long.
   * (ceil(2^64/n) == floor((2^64-1)/n) + 1 for all n >= 1.)
   */
  private[graft] def rangePerBucket(n: Int): Long = {
    require(n > 0, s"bucket count must be positive, got $n")
    java.lang.Long.divideUnsigned(-1L, n.toLong) + 1L
  }

  /**
   * Contiguous ring bucket of a token: floor((token + 2^63) / rangePerBucket)
   * in unsigned arithmetic. Bucket b owns tokens
   * [MinValue + b*range, MinValue + (b+1)*range).
   */
  def bucketOfToken(tok: Long, n: Int): Int = {
    if (n == 1) return 0 // rangePerBucket(1) wraps to 0; whole ring is one bucket
    // tok + Long.MinValue wraps to the unsigned offset of tok on the ring.
    val unsignedOffset = tok + Long.MinValue
    java.lang.Long.divideUnsigned(unsignedOffset, rangePerBucket(n)).toInt
  }

  /** bucketOfToken composed with token(). */
  def bucket(key: Array[Byte], n: Int): Int = bucketOfToken(token(key), n)

  /**
   * Unsigned lexicographic byte comparison — Cassandra compares raw key
   * bytes (after the token) in unsigned order when breaking token ties.
   */
  def compareUnsigned(a: Array[Byte], b: Array[Byte]): Int = {
    java.util.Arrays.compareUnsigned(a, b)
  }

  /** Decorated-key comparison: token order, then unsigned key bytes. */
  def compareDecorated(tokA: Long, keyA: Array[Byte], tokB: Long, keyB: Array[Byte]): Int = {
    val c = java.lang.Long.compare(tokA, tokB)
    if (c != 0) c else compareUnsigned(keyA, keyB)
  }

  // ---------------------------------------------------------------------
  // RandomPartitioner (MD5 / BigIntegerToken) token math. Behavior studied
  // from /root/reference/src/main/java/com/spotify/hdfs2cass/cassandra/
  // utils/CassandraPartitioner.java:46-47,58-72 (BigIntegerToken.abs() /
  // rangePerReducer bucket division) and CassandraParams.java:297-300
  // (RandomPartitioner range [0, 2^127 - 1], ceil division): the token is
  // abs(md5(key)) as a BigInteger, so it lies in [0, 2^127] and is carried
  // through the engine as a CANONICAL 16-byte big-endian unsigned value —
  // fixed width, so Spark's unsigned-lexicographic BinaryType ordering IS
  // numeric token ordering and the same sort/shuffle machinery serves both
  // partitioners.
  // ---------------------------------------------------------------------

  private final val RandomTokenBits = 127

  // these run once per ROW in codegen'd paths: reuse the digest per thread
  // and memoize the per-n range constant instead of re-deriving them
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val RangeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, java.math.BigInteger]()

  /** RandomPartitioner token: abs(md5(key)) (empty key -> abs(-1) = 1,
    * mirroring BigIntegerToken.abs() of RandomPartitioner.MINIMUM). */
  private[graft] def md5Token(key: Array[Byte]): java.math.BigInteger = {
    if (key == null || key.length == 0) return java.math.BigInteger.ONE
    val md = Md5.get()
    md.reset()
    new java.math.BigInteger(md.digest(key)).abs()
  }

  /** Canonical 16-byte big-endian unsigned encoding of an md5 token. */
  def md5TokenBytes(key: Array[Byte]): Array[Byte] = {
    val t = md5Token(key)
    val raw = t.toByteArray // two's complement BE, may have 0-17 bytes
    val out = new Array[Byte](16)
    if (raw.length <= 16) {
      System.arraycopy(raw, 0, out, 16 - raw.length, raw.length)
    } else {
      // abs() can reach 2^127 exactly -> 17-byte encoding with a leading 0x00
      System.arraycopy(raw, raw.length - 16, out, 0, 16)
    }
    out
  }

  /** ceil(2^127 / n) — the reference's rangePerReducer for RandomPartitioner
    * ([0, 2^127 - 1] inclusive, ceil division: CassandraParams.java:297-316).
    * Memoized: callers hit this once per row. */
  private[graft] def randomRangePerBucket(n: Int): java.math.BigInteger = {
    require(n > 0, s"bucket count must be positive, got $n")
    RangeCache.computeIfAbsent(n, { n =>
      val span = java.math.BigInteger.ONE.shiftLeft(RandomTokenBits)
      val qr = span.divideAndRemainder(java.math.BigInteger.valueOf(n.toLong))
      if (qr(1).signum == 0) qr(0) else qr(0).add(java.math.BigInteger.ONE)
    })
  }

  /** Ring bucket of a canonical 16-byte md5 token: token / rangePerBucket,
    * clamped so the single maximal token 2^127 stays in the last bucket. */
  def randomBucketOfTokenBytes(tok: Array[Byte], n: Int): Int = {
    val t = new java.math.BigInteger(1, tok)
    val b = t.divide(randomRangePerBucket(n)).intValue()
    math.min(b, n - 1)
  }

  /** randomBucketOfTokenBytes composed with md5TokenBytes. */
  def randomBucket(key: Array[Byte], n: Int): Int =
    randomBucketOfTokenBytes(md5TokenBytes(key), n)

  /** RandomPartitioner decorated-key comparison: md5 token order (canonical
    * bytes compare unsigned = numeric), then unsigned key bytes. */
  def compareRandomDecorated(keyA: Array[Byte], keyB: Array[Byte]): Int = {
    val c = compareUnsigned(md5TokenBytes(keyA), md5TokenBytes(keyB))
    if (c != 0) c else compareUnsigned(keyA, keyB)
  }
}

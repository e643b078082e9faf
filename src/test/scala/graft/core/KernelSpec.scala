package graft.core

import org.scalatest.funsuite.AnyFunSuite

class KernelSpec extends AnyFunSuite {

  // --- Token math -----------------------------------------------------------
  // Oracle values from the reference's own test suite
  // (CassandraKeyComparatorTest.java:57-59): murmur3_128(x)[0].
  test("murmur3 token matches Cassandra's known hash values") {
    assert(CassandraTokens.token("foo".getBytes("UTF-8")) === -2129773440516405919L)
    assert(CassandraTokens.token("bar".getBytes("UTF-8")) === -7911037993560119804L)
    assert(CassandraTokens.token("baz".getBytes("UTF-8")) === 8295379539955784970L)
  }

  test("empty key maps to minimum token") {
    assert(CassandraTokens.token(Array.emptyByteArray) === Long.MinValue)
    assert(CassandraTokens.token(null) === Long.MinValue)
  }

  test("token ordering matches the reference comparator test expectations") {
    val foo = CassandraTokens.token("foo".getBytes)
    val bar = CassandraTokens.token("bar".getBytes)
    val baz = CassandraTokens.token("baz".getBytes)
    assert(bar < foo && foo < baz && bar < baz)
  }

  test("tail sign-extension: keys with high-bit bytes hash consistently") {
    // lock in self-consistency for non-ASCII tails (regression guard: the
    // Cassandra Java variant sign-extends, an unsigned implementation of the
    // tail would differ on exactly these inputs)
    val k = Array(0x80.toByte, 0xff.toByte, 0x01.toByte)
    val t1 = CassandraTokens.token(k)
    val t2 = CassandraTokens.token(k.clone())
    assert(t1 === t2)
    // 17 bytes: one full block + 1 tail byte with high bit set
    val k17 = Array.fill[Byte](17)(0xab.toByte)
    assert(CassandraTokens.token(k17) === CassandraTokens.token(k17.clone()))
  }

  test("rangePerBucket is ceil(2^64/n)") {
    assert(CassandraTokens.rangePerBucket(1) === 0L) // 2^64 wraps to 0 (full ring)
    assert(CassandraTokens.rangePerBucket(2) === Long.MinValue) // 2^63 unsigned
    assert(CassandraTokens.rangePerBucket(4) === (1L << 62))
    // n=3: ceil(2^64/3) = 6148914691236517206
    assert(CassandraTokens.rangePerBucket(3) === 6148914691236517206L)
  }

  test("bucketOfToken covers 0..n-1 and is monotonic in token order") {
    for (n <- Seq(2, 3, 5, 8, 32, 1000)) {
      assert(CassandraTokens.bucketOfToken(Long.MinValue, n) === 0)
      assert(CassandraTokens.bucketOfToken(Long.MaxValue, n) === n - 1)
      assert(CassandraTokens.bucketOfToken(0L, n) >= 0)
    }
    val rnd = new scala.util.Random(42)
    (0 until 20000).foreach { _ =>
      val a = rnd.nextLong(); val b = rnd.nextLong()
      val n = rnd.nextInt(4096) + 1
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      val bl = CassandraTokens.bucketOfToken(lo, n)
      val bh = CassandraTokens.bucketOfToken(hi, n)
      assert(bl <= bh && bl >= 0 && bh < n, s"a=$a b=$b n=$n -> $bl,$bh")
    }
  }

  test("n=1 puts every token in bucket 0") {
    // rangePerBucket(1) wraps to 0; bucket must still be 0 for all tokens.
    for (t <- Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue))
      assert(CassandraTokens.bucketOfToken(t, 1) === 0)
  }

  test("bucket balance is roughly uniform for hashed keys") {
    val n = 8
    val counts = new Array[Int](n)
    (0 until 80000).foreach { i =>
      counts(CassandraTokens.bucket(s"key-$i".getBytes, n)) += 1
    }
    val expected = 80000 / n
    counts.foreach(c => assert(math.abs(c - expected) < expected * 0.2,
      s"unbalanced buckets: ${counts.mkString(",")}"))
  }

  // --- Serialization kernel -------------------------------------------------
  test("scalar serialization: fixed-width big-endian wire format") {
    assert(CqlValueCodec.toHex(CqlValueCodec.serializeLong(1L)) === "0000000000000001")
    assert(CqlValueCodec.toHex(CqlValueCodec.serializeLong(-1L)) === "FFFFFFFFFFFFFFFF")
    assert(CqlValueCodec.toHex(CqlValueCodec.serializeInt(258)) === "00000102")
    assert(CqlValueCodec.toHex(CqlValueCodec.serializeString("abc")) === "616263")
    assert(CqlValueCodec.toHex(CqlValueCodec.serializeDouble(1.0)) === "3FF0000000000000")
    assert(CqlValueCodec.toHex(CqlValueCodec.serializeBoolean(true)) === "01")
    assert(CqlValueCodec.serializeString(null).length === 0)
  }

  test("decimal serialization: scale prefix + unscaled big-endian") {
    // 1.2 = unscaled 12, scale 1 -> 00000001 0C (DecimalSerializer layout)
    assert(CqlValueCodec.toHex(CqlValueCodec.serializeDecimal(
      new java.math.BigDecimal("1.2"))) === "00000001" + "0C")
    assert(CqlValueCodec.toHex(CqlValueCodec.serializeDecimal(
      java.math.BigDecimal.ZERO)) === "00000000" + "00")
  }

  test("uuid serialization is 16 bytes msb-first") {
    val u = java.util.UUID.fromString("00112233-4455-6677-8899-aabbccddeeff")
    assert(CqlValueCodec.toHex(CqlValueCodec.serializeUuid(u)) ===
      "00112233445566778899AABBCCDDEEFF")
  }

  test("collection serialization: protocol-v2 ushort-prefixed layout") {
    val l = CqlValueCodec.serializeCollection(Seq("a".getBytes, "bc".getBytes))
    assert(CqlValueCodec.toHex(l) === "00020001" + "61" + "0002" + "6263")
    val empty = CqlValueCodec.serializeCollection(Nil)
    assert(CqlValueCodec.toHex(empty) === "0000")
  }

  test("map serialization: ushort count + klen/k/vlen/v") {
    val m = CqlValueCodec.serializeMap(Seq(("k".getBytes, "v1".getBytes)))
    assert(CqlValueCodec.toHex(m) === "0001" + "0001" + "6B" + "0002" + "7631")
  }

  test("reference fixture: map {foo:1, bar:2} (CassandraRecordUtilsTest oracle)") {
    // protocol-v2 bytes the reference's MapSerializer oracle produces for
    // the same fixture (UTF8 keys, Int32 values, insertion order)
    val m = CqlValueCodec.serializeMap(Seq(
      ("foo".getBytes, CqlValueCodec.serializeInt(1)),
      ("bar".getBytes, CqlValueCodec.serializeInt(2))))
    assert(CqlValueCodec.toHex(m) ===
      "0002" + "0003" + "666F6F" + "0004" + "00000001" +
        "0003" + "626172" + "0004" + "00000002")
  }

  test("reference fixture: list [foo, bar, baz] utf8") {
    val l = CqlValueCodec.serializeCollection(
      Seq("foo", "bar", "baz").map(_.getBytes("UTF-8")))
    assert(CqlValueCodec.toHex(l) ===
      "0003" + "0003" + "666F6F" + "0003" + "626172" + "0003" + "62617A")
  }

  test("reference fixture: set {1.0f, 2.0f, 3.0f}") {
    val s = CqlValueCodec.serializeCollection(
      Seq(1.0f, 2.0f, 3.0f).map(CqlValueCodec.serializeFloat))
    assert(CqlValueCodec.toHex(s) ===
      "0003" + "0004" + "3F800000" + "0004" + "40000000" + "0004" + "40400000")
  }

  test("composite key layout: 2-byte len + bytes + 0x00 per component") {
    val c = CqlValueCodec.composite(Array("ab".getBytes, "c".getBytes))
    assert(CqlValueCodec.toHex(c) === "0002" + "6162" + "00" + "0001" + "63" + "00")
  }

  test("partitionKey: single index passes through raw, multi composes") {
    val values = IndexedSeq("k1".getBytes, "k2".getBytes, "v".getBytes)
    assert(CqlValueCodec.partitionKey(values, Array(0)) eq values(0))
    val comp = CqlValueCodec.partitionKey(values, Array(0, 1))
    assert(CqlValueCodec.toHex(comp) === "0002" + "6B31" + "00" + "0002" + "6B32" + "00")
  }

  // --- Legacy TSV parse -----------------------------------------------------
  // Example/exception semantics mirror LegacyInputFormatTest.java:26-85.
  test("legacy v1/v2/v3 lines parse") {
    val v1 = LegacyLine.parse("HdfsToCassandra\t1\trk\tcn\tval", 999L)
    assert(v1 === LegacyLine("rk", "cn", "val", 999L, 0L))
    val v2 = LegacyLine.parse("HdfsToCassandra\t2\trk\tcn\t12345\tval", 999L)
    assert(v2 === LegacyLine("rk", "cn", "val", 12345L, 0L))
    val v3 = LegacyLine.parse("HdfsToCassandra\t3\trk\tcn\t12345\t600\tval", 999L)
    assert(v3 === LegacyLine("rk", "cn", "val", 12345L, 600L))
  }

  test("legacy malformed rows throw with descriptive messages") {
    def bad(s: String): String =
      intercept[IllegalArgumentException](LegacyLine.parse(s, 0L)).getMessage
    assert(bad("WrongPrefix\t1\trk\tcn\tval").contains("HdfsToCassandra"))
    assert(bad("HdfsToCassandra\t1\trk\tcn\tts\textra").contains("row format"))
    assert(bad("HdfsToCassandra\t9\trk\tcn\tval").contains("version"))
    intercept[IllegalArgumentException](LegacyLine.parse("HdfsToCassandra\t2\trk\tcn\tNaN\tval", 0L))
  }

  // --- RandomPartitioner (MD5 / BigIntegerToken) ----------------------------
  // Mirrors the reference comparator contract (CassandraKeyComparatorTest.
  // java:35-55: ordering under a non-Murmur3 partitioner is the decorated-
  // key order of that partitioner) for the RandomPartitioner branch of
  // CassandraPartitioner.java:46-47,63-64 (BigIntegerToken.token.abs()).
  test("md5 token is abs(md5(key)); empty key maps to abs(MINIMUM) = 1") {
    val md = java.security.MessageDigest.getInstance("MD5")
    for (k <- Seq("foo", "bar", "baz", "", "abc1", "ключ-日本語")) {
      val key = k.getBytes("UTF-8")
      val expected =
        if (key.isEmpty) java.math.BigInteger.ONE
        else new java.math.BigInteger(md.digest(key)).abs()
      assert(CassandraTokens.md5Token(key) === expected, s"key=$k")
      md.reset()
    }
    assert(CassandraTokens.md5Token(null) === java.math.BigInteger.ONE)
  }

  test("canonical md5 token bytes: fixed width, unsigned order = numeric order") {
    val keys = Seq("foo", "bar", "baz", "abc", "def", "1", "2", "abc1", "abc2", "")
      .map(_.getBytes("UTF-8"))
    for (a <- keys; b <- keys) {
      val numeric = CassandraTokens.md5Token(a).compareTo(CassandraTokens.md5Token(b))
      val bytes = CassandraTokens.compareUnsigned(
        CassandraTokens.md5TokenBytes(a), CassandraTokens.md5TokenBytes(b))
      assert(Integer.signum(bytes) === Integer.signum(numeric),
        s"byte order diverges from numeric for ${new String(a)} vs ${new String(b)}")
      assert(CassandraTokens.md5TokenBytes(a).length === 16)
    }
    // decorated comparison: token order first, key bytes break ties
    assert(CassandraTokens.compareRandomDecorated("foo".getBytes, "foo".getBytes) === 0)
  }

  test("random bucket math: ceil range, full coverage, monotonic") {
    // rangePerBucket(1) = 2^127 (whole ring, one bucket)
    assert(CassandraTokens.randomRangePerBucket(1) ===
      java.math.BigInteger.ONE.shiftLeft(127))
    // n=3: ceil(2^127/3) — cross-checked with BigInteger arithmetic
    val span = java.math.BigInteger.ONE.shiftLeft(127)
    val three = java.math.BigInteger.valueOf(3)
    assert(CassandraTokens.randomRangePerBucket(3) ===
      span.add(three).subtract(java.math.BigInteger.ONE).divide(three))
    for (n <- Seq(1, 2, 3, 5, 8, 32)) {
      val buckets = (0 until 500).map(i =>
        CassandraTokens.randomBucket(s"key-$i".getBytes("UTF-8"), n))
      assert(buckets.forall(b => b >= 0 && b < n), s"n=$n out of range")
      if (n <= 8) assert(buckets.distinct.size === n, s"n=$n not covered by 500 keys")
      // monotonic in token order
      val sortedByTok = (0 until 500).map(i => s"key-$i".getBytes("UTF-8"))
        .sortWith((a, b) => CassandraTokens.compareRandomDecorated(a, b) < 0)
      val bs = sortedByTok.map(CassandraTokens.randomBucket(_, n))
      assert(bs === bs.sorted, s"n=$n buckets not monotonic in token order")
    }
    // the maximal token 2^127 stays in the last bucket (clamp)
    val maxTok = java.math.BigInteger.ONE.shiftLeft(127).toByteArray.drop(1) // 16 bytes: 0x80 00...
    assert(maxTok.length === 16)
    assert(CassandraTokens.randomBucketOfTokenBytes(maxTok, 7) === 6)
  }

  test("winnow kernel equals naive sliding-window minima (sorted distinct)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 3, 4, 5, 20, 100); w <- Seq(1, 4, 7)) {
      val hs = Array.fill(n)(rnd.nextLong() & 0xffffffffL)
      val naive =
        if (n == 0) Set.empty[Long]
        else if (n <= w) Set(hs.min)
        else (0 to n - w).map(i => hs.slice(i, i + w).min).toSet
      val got = TextHash.winnow(new GenericArrayData(hs), w).toLongArray().toSeq
      assert(got.toSet === naive, s"n=$n w=$w")
      assert(got === got.sorted, s"n=$n w=$w not sorted")
      assert(got.distinct === got, s"n=$n w=$w has duplicates")
    }
  }

  // --- Reducer-slot permutation ---------------------------------------------
  test("slot permutation: bijective, deterministic, scatters adjacent buckets") {
    import graft.sinks.BulkSink
    for (n <- Seq(4, 16, 32, 256)) {
      val perm = BulkSink.slotPermutation(n)
      assert(perm.sorted.toSeq === (0 until n), s"n=$n not a bijection")
      assert(perm.toSeq === BulkSink.slotPermutation(n).toSeq, s"n=$n not deterministic")
    }
    // adjacent (co-hot) ring buckets must not stay adjacent wholesale: for a
    // realistic partition count, most neighboring buckets land >1 apart
    val n = 256
    val perm = BulkSink.slotPermutation(n)
    val adjacentKept = (0 until n - 1).count(b => math.abs(perm(b + 1) - perm(b)) <= 1)
    assert(adjacentKept < n / 8,
      s"$adjacentKept of ${n - 1} adjacent bucket pairs still adjacent after permutation")
    // identity would fail the above by construction
    assert(perm.toSeq !== (0 until n).toSeq)
  }

  test("RandomSpreadPartitioner balances, ignores the token, stays deterministic") {
    import graft.sinks.BulkSink
    val p = new BulkSink.RandomSpreadPartitioner(16)
    val counts = new Array[Int](16)
    (0 until 16000).foreach { i =>
      counts(p.getPartition((0L, s"key-$i".getBytes("UTF-8")))) += 1
    }
    // hash spread: every partition near 1000 ± 30%
    assert(counts.min > 700 && counts.max < 1300, counts.mkString(","))
    // pure function of the KEY (shuffle-retry safety) — the token must not
    // matter, because the ring position is exactly what random routing drops
    val k = "key-7".getBytes("UTF-8")
    assert(p.getPartition((123L, k)) === p.getPartition((-456L, k)))
  }

  // --- Params ---------------------------------------------------------------
  test("target URI grammar parses with defaults from cluster info") {
    val info = StaticClusterInfo(numClusterNodes = 5)
    val p = CassandraParams.parse(
      "cql://seed.example.com:9042/ks/table?reducers=8&distributerandomly=true&streamthrottlembits=100",
      info)
    assert(p.keyspace === "ks" && p.columnFamily === "table")
    assert(p.reducers === 8 && p.distributeRandomly)
    assert(p.streamThrottleMBits === Some(100))
    val defaulted = CassandraParams.parse("cql://h/ks/t", info)
    assert(defaulted.reducers === 5) // defaults to cluster node count
    // reference parity: deprecated copiers=/mappers= accepted and ignored
    // (CassandraParams.java:107-109,117-119), not rejected
    val withCopiers = CassandraParams.parse(
      "cql://h/ks/t?copiers=5&mappers=9&reducers=3", info)
    assert(withCopiers.reducers === 3)
  }

  test("query-string parse: bare key means true, '=' in value preserved") {
    val q = CassandraParams.parseQuery("a=1&flag&b=x=y&")
    assert(q === Map("a" -> "1", "flag" -> "true", "b" -> "x=y"))
  }

  test("saltbuckets= URI grammar: only auto parses; maps, typos and contradictions fail loudly") {
    val info = StaticClusterInfo(numClusterNodes = 5)
    val auto = CassandraParams.parse("cql://h/ks/t?saltbuckets=auto", info)
    assert(auto.saltAuto)
    val none = CassandraParams.parse("cql://h/ks/t", info)
    assert(!none.saltAuto)
    // a hand-written bucket:subBuckets map is refused, never silently
    // read as an unsalted load
    for (v <- Seq("3:4,7:2", "3-4", "3:1")) {
      val e = intercept[IllegalArgumentException](
        CassandraParams.parse(s"cql://h/ks/t?reducers=8&saltbuckets=$v", info))
      assert(e.getMessage.contains("only 'auto'"), e.getMessage)
    }
    // salting is the ring-preserving alternative to distributerandomly,
    // and it salts the Murmur3 ring only: both refused at parse time
    val eRandom = intercept[IllegalArgumentException](CassandraParams.parse(
      "cql://h/ks/t?saltbuckets=auto&distributerandomly=true", info))
    assert(eRandom.getMessage.contains("distributerandomly"), eRandom.getMessage)
    intercept[IllegalArgumentException](CassandraParams.parse(
      "cql://h/ks/t?saltbuckets=auto",
      StaticClusterInfo(partitionerClass = CassandraParams.RandomPartitioner)))
  }

  test("RingPartitioner: same pk same partition, sub-slots stay inside the bucket") {
    import graft.sinks.BulkSink
    val n = 8
    val salts = Map(2 -> 4, 5 -> 3)
    val p = new BulkSink.RingPartitioner(n, salts)
    assert(p.total === n + 3 + 2)
    // invert the permutation to recover each partition's (bucket, sub)
    val kOf = Array.tabulate(n)(b => salts.getOrElse(b, 1))
    val offsets = kOf.scanLeft(0)(_ + _)
    val perm = BulkSink.slotPermutation(p.total)
    val inv = new Array[Int](perm.length)
    perm.zipWithIndex.foreach { case (q, s) => inv(q) = s }
    (0 until 5000).foreach { i =>
      val pk = s"key-$i".getBytes("UTF-8")
      val tok = CassandraTokens.token(pk)
      val b = CassandraTokens.bucketOfToken(tok, n)
      val part = p.getPartition((tok, pk))
      // routing is a pure function of the key (shuffle-retry safety)
      assert(part === p.getPartition((tok, pk)))
      // and the sub-slot belongs to the key's ring bucket
      val sub = inv(part)
      assert(sub >= offsets(b) && sub < offsets(b + 1),
        s"key $i routed outside its ring bucket")
    }
    // every sub-slot of a salted bucket receives SOME keys
    val hits = (0 until 20000).map { i =>
      val pk = s"k$i".getBytes("UTF-8")
      inv(p.getPartition((CassandraTokens.token(pk), pk)))
    }.toSet
    assert((offsets(2) until offsets(3)).forall(hits.contains),
      "a salted sub-bucket never received a key")
    // balance: 8000 distinct keys planted in one ring bucket spread over
    // its 4 sub-slots (binomial over distinct pks — every sub-slot
    // gets some, the largest at most 2x the mean)
    val hot = new BulkSink.RingPartitioner(4, Map(1 -> 4))
    val hotKeys = Iterator.from(0).map(i => CqlValueCodec.serializeString(s"hot-$i"))
      .filter(k => CassandraTokens.bucketOfToken(CassandraTokens.token(k), 4) == 1)
      .take(8000).toSeq
    val perSlot = hotKeys.groupBy(k => hot.getPartition((CassandraTokens.token(k), k)))
      .map { case (slot, ks) => slot -> ks.size }
    assert(perSlot.size === 4, s"sub-slots: $perSlot")
    assert(perSlot.values.min > 0 && perSlot.values.max <= 2 * (8000 / 4),
      s"hot range did not balance across sub-buckets: $perSlot")
    // no salts: bucket b goes to slot slotPermutation(n)(b), the plain
    // ring routing
    val plain = new BulkSink.RingPartitioner(n)
    assert(plain.total === n)
    val plainPerm = BulkSink.slotPermutation(n)
    (0 until 5000).foreach { i =>
      val pk = s"key-$i".getBytes("UTF-8")
      val tok = CassandraTokens.token(pk)
      assert(plain.getPartition((tok, pk)) ===
        plainPerm(CassandraTokens.bucketOfToken(tok, n)), s"key $i")
    }
  }

  test("insert statement synthesis") {
    val p = CassandraParams.parse("cql://h/ks/t", StaticClusterInfo())
    assert(p.buildInsertStatement(Seq("a", "b")) ===
      "INSERT INTO ks.t (a, b) VALUES (?, ?) USING TIMESTAMP ? AND TTL ?")
  }
}

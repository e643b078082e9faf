package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/**
 * Proves the custom expressions survive strict codegen (no fallback) and
 * that GraftExtensions registers them for SQL. Sessions are built fresh —
 * getOrCreate() would silently reuse another suite's session and drop
 * both the strict-codegen confs and the extensions.
 */
class CodegenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def freshSession(b: SparkSession.Builder => SparkSession.Builder): SparkSession = {
    // Touch the JVM-shared suite session FIRST: if this suite's builder
    // is the one that CREATES the shared SparkContext, its strict confs
    // (CODEGEN_ONLY, fallback=false) land in the context's SparkConf and
    // become inherited session defaults for every later suite — which
    // hard-fails tests that rely on graceful codegen fallback (the PQ
    // codebook-literal plan) depending on suite ORDER. With the context
    // pre-created by the clean builder, these confs stay session-scoped.
    val _ = SparkSuite.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    b(Sessions.local(2)).getOrCreate()
  }

  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // a hand-built blob holding exactly "foo" — built through the same core
  // the agg publishes, so the codegen'd probes exercise the real format
  private val fooBloom = locally {
    val bits = graft.core.Bloom.alloc(1 << 10)
    graft.core.Bloom.add(bits, 3,
      org.apache.spark.unsafe.types.UTF8String.fromString("foo"))
    graft.core.Bloom.toBlob(bits, 3)
  }

  test("custom expressions compile under CODEGEN_ONLY") {
    val spark = freshSession(_
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY"))
    assert(spark.conf.get("spark.sql.codegen.factoryMode") === "CODEGEN_ONLY")
    import spark.implicits._
    val df = Seq(("foo", 1L), ("bar", 2L), ("", 3L)).toDF("k", "v")
      .select(
        cassandra_token(cql_serialize(col("k"))).as("tok"),
        token_bucket(cassandra_token(cql_serialize(col("k"))), 8).as("b"),
        hex(composite_key(cql_serialize(col("k")), cql_serialize(col("v")))).as("ck"),
        hex(partition_key(col("k"), col("v"))).as("pk"),
        cassandra_random_token(cql_serialize(col("k"))).as("rtok"),
        random_token_bucket(cassandra_random_token(cql_serialize(col("k"))), 8).as("rb"),
        dedup_lines(concat_ws("\n", col("k"), col("k"), lit("x"))).as("dl"),
        bloom_contains(lit(fooBloom), col("k")).as("bc"),
        bloom_any(lit(fooBloom), array(col("k"), lit("zzz"))).as("ba"),
        char_entropy(concat(col("k"), lit("ab"))).as("ce"),
        dup_gram_chars(concat_ws(" ", col("k"), col("k"), col("k")), 1).as("dg"),
        pq_encode(array(col("v").cast("double"), lit(0.0)),
          Seq(Seq(Seq(1.0), Seq(2.0)), Seq(Seq(0.0), Seq(5.0)))).as("pq"),
        z_order(col("v"), col("v") * 2L).as("zo"))
    val rows = df.collect()
    assert(rows.length === 3)
    // v=1 -> sub0 nearest [1.0] (code 0); v=2 -> [2.0] (code 1); second
    // component 0.0 always codes 0. v=3 ties nothing: |3-2| < |3-1| -> 1
    assert(rows.map(_.getAs[scala.collection.Seq[Int]]("pq").toSeq).toSeq
      === Seq(Seq(0, 0), Seq(1, 0), Seq(1, 0)))
    // z_order(v, 2v), dim0 at even bit positions: interleave(1,2) =
    // bit0 + bit3 = 9; (2,4) = bit2 + bit5 = 36; (3,6) = 0b101101 = 45
    assert(rows.map(_.getAs[Long]("zo")).toSeq === Seq(9L, 36L, 45L))
    // "foo foo foo": two repeat 1-gram occurrences x 3 chars each
    assert(rows(0).getAs[Long]("dg") === 6L)
    assert(rows(0).getLong(0) === -2129773440516405919L)
    assert(rows(0).getAs[String]("dl") === "foo\nx")
    assert(rows(0).getAs[Boolean]("bc") && rows(0).getAs[Boolean]("ba"))
    assert(!rows(1).getAs[Boolean]("bc") && !rows(1).getAs[Boolean]("ba"))
    assert(rows(2).getAs[String]("dl") === "\nx") // empty line kept once
    assert(rows(2).getLong(0) === Long.MinValue) // empty key
    rows.foreach { r =>
      assert(r.getAs[Array[Byte]]("rtok").length === 16)
      val b = r.getInt(5)
      assert(b >= 0 && b < 8)
    }
  }

  test("pq_encode rejects a vector of the wrong length (interpreted and codegen)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference,
      InterpretedUnsafeProjection, UnsafeArrayData}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    // two subspaces of two dims: the codebook expects 4 elements. Unsafe
    // arrays are the codegen input, where an out-of-range read is not caught
    val cb = Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)), Seq(Seq(0.0, 0.0), Seq(2.0, 2.0)))
    def arrays(xs: Double*) = Seq(
      FloatType -> UnsafeArrayData.fromPrimitiveArray(xs.map(_.toFloat).toArray),
      DoubleType -> UnsafeArrayData.fromPrimitiveArray(xs.toArray))
    for ((xs, code) <- Seq((Seq(1.0, 1.0, 0.0), None), (Seq(1.0, 1.0, 2.0, 2.0), Some(Seq(1, 1))),
        (Seq(1.0, 1.0, 2.0, 2.0, 9.0), None));
        (elem, arr) <- arrays(xs: _*)) {
      val e = PqEncodeExpr(BoundReference(0, ArrayType(elem, containsNull = false),
        nullable = false), cb)
      for ((path, proj) <- Seq(
          "interpreted" -> InterpretedUnsafeProjection.createProjection(Seq(e)),
          "codegen" -> GenerateUnsafeProjection.generate(Seq(e)))) {
        val what = s"$path $elem ${xs.length} elements"
        code match {
          case Some(c) =>
            assert(proj(InternalRow(arr)).getArray(0).toIntArray().toSeq === c, what)
          case None =>
            val ex = intercept[IllegalArgumentException](proj(InternalRow(arr)))
            assert(ex.getMessage.contains(s"vector has ${xs.length} elements") &&
              ex.getMessage.contains("expects 4"), s"$what: ${ex.getMessage}")
        }
      }
    }
  }

  test("GraftExtensions registers the functions for SQL") {
    val s = freshSession(_.withExtensions(new GraftExtensions))
    assert(s.catalog.functionExists("cassandra_token"),
      "extensions did not apply (stale session reused?)")
    val r = s.sql(
      """SELECT cassandra_token(cql_serialize('foo')) AS tok,
        |       token_bucket(cassandra_token(cql_serialize('foo')), 8) AS b,
        |       hex(composite_key(cql_serialize('a'), cql_serialize('b'))) AS ck
        |""".stripMargin).head()
    assert(r.getLong(0) === -2129773440516405919L)
    assert(r.getInt(1) === graft.core.CassandraTokens.bucket(
      graft.core.CqlValueCodec.serializeString("foo"), 8))
    assert(r.getString(2) === "0001" + "61" + "00" + "0001" + "62" + "00")
    // text/dedup kernels reachable from SQL with the same values as the
    // Scala API (spot-check one scalar and one array kernel + literal args)
    val t = s.sql(
      """SELECT match_count('a b a', 'a') AS mc,
        |       max_token_count(array('x','y','x')) AS mtc,
        |       array_sum_long(array(1L, 41L)) AS asl,
        |       simhash_tokens(array('alpha','beta'), 16) AS sh
        |""".stripMargin).head()
    assert(t.getLong(0) === 2L)
    assert(t.getInt(1) === 2)
    assert(t.getLong(2) === 42L)
    val viaApi = locally {
      import s.implicits._
      Seq(Seq("alpha", "beta")).toDF("a")
        .select(graft.functions.simhash_tokens(col("a"), 16)).collect().head.getLong(0)
    }
    assert(t.getLong(3) === viaApi)
    // dedup_lines from SQL: first occurrences, order preserved
    assert(s.sql("SELECT dedup_lines('a\nb\na\n\nb') AS d").head().getString(0)
      === "a\nb\n")
    // z_order from SQL: interleave(1, 2) = bit0 + bit3 = 9
    assert(s.sql("SELECT z_order(1L, 2L) AS z").head().getLong(0) === 9L)
    // word_grams: SQL form matches the Scala API on the same input
    val wg = s.sql("SELECT word_grams(' the quick  brown fox ', 2) AS g").head()
    val wgApi = locally {
      import s.implicits._
      Seq(" the quick  brown fox ").toDF("t")
        .select(graft.functions.word_grams(col("t"), 2)).collect().head.getSeq[String](0)
    }
    assert(wg.getSeq[String](0) === wgApi)
    assert(wgApi === Seq("the quick", "quick brown", "brown fox"))
    // topk_freq: SQL form matches the Scala API on the same input
    locally {
      import s.implicits._
      val df = Seq("a", "b", "a", "c", "a", "b").toDF("x")
      df.createOrReplaceTempView("freq_in")
      val viaSql = s.sql("SELECT topk_freq(x, 10, 2) AS top FROM freq_in")
        .head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getLong(1)))
      val viaApi2 = df.agg(graft.functions.FreqAgg.topk_freq(col("x"), 10, 2))
        .head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getLong(1)))
      assert(viaSql === viaApi2)
      assert(viaSql === Seq(("a", 3L), ("b", 2L)))
    }
    // bloom surface end-to-end from SQL: agg a set, probe members + a miss
    val bl = s.sql(
      """WITH b AS (SELECT bloom_agg(v, 4096, 4) AS f
        |           FROM (VALUES ('x'), ('y')) t(v))
        |SELECT bloom_contains(f, 'x') AS hx, bloom_contains(f, 'nope') AS hn,
        |       bloom_any(f, array('q', 'y')) AS ha
        |FROM b""".stripMargin).head()
    assert(bl.getBoolean(0) && !bl.getBoolean(1) && bl.getBoolean(2))
    // char_entropy from SQL: "ab" -> 1 bit
    assert(s.sql("SELECT char_entropy('ab') AS e").head().getDouble(0) === 1.0)
    // dup_gram_chars from SQL: "a b a b a" repeats "a b" and "b a" once each
    assert(s.sql("SELECT dup_gram_chars('a b a b a', 2) AS d").head().getLong(0) === 4L)
    // a truncated/foreign binary blob must fail loudly, never probe true
    val mex = intercept[Exception] {
      s.sql("SELECT bloom_contains(CAST('ab' AS BINARY), 'x') AS h").head()
    }
    assert(SparkSuite.causeMessages(mex).exists(_.contains("malformed bloom blob")),
      SparkSuite.causeMessages(mex).mkString("; "))
    // vec_dot + vec_sum_agg from SQL: exact small-integer arithmetic
    assert(s.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head().getDouble(0) === 11.0)
    val vs = s.sql(
      """SELECT vec_sum_agg(v) AS s FROM (
        |  VALUES (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
        |         (array(CAST(3.0 AS FLOAT), CAST(5.0 AS FLOAT)))) t(v)""".stripMargin)
      .head().getStruct(0)
    assert(vs.getLong(0) === 2L && vs.getSeq[Double](1) === Seq(4.0, 7.0))
    // vec_outer_agg from SQL: n, sums, and the row-major outer sums
    // (1,2)⊗(1,2) + (3,5)⊗(3,5) = [1+9, 2+15, 2+15, 4+25]
    val vo = s.sql(
      """SELECT vec_outer_agg(v) AS o FROM (
        |  VALUES (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
        |         (array(CAST(3.0 AS FLOAT), CAST(5.0 AS FLOAT)))) t(v)""".stripMargin)
      .head().getStruct(0)
    assert(vo.getLong(0) === 2L && vo.getSeq[Double](1) === Seq(4.0, 7.0))
    assert(vo.getSeq[Double](2) === Seq(10.0, 17.0, 17.0, 29.0))
  }

  test("sorted_intersect_count == size(array_intersect) on sorted inputs (codegen-only)") {
    val spark = freshSession(_
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .withExtensions(new GraftExtensions))
    import spark.implicits._
    // deterministic pseudo-random sorted arrays WITH duplicates: the
    // kernel's contract is exact equality with array_intersect's
    // distinct semantics whenever both sides are sort_array'd
    val rnd = new scala.util.Random(20L)
    def arr(): Seq[Long] =
      Seq.fill(rnd.nextInt(12))(rnd.nextInt(10).toLong).sorted
    val longs = Seq.fill(300)((arr(), arr())).toDF("a", "b")
    val badL = longs.select(
        sorted_intersect_count(col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(badL === 0L, "long kernel diverges from array_intersect")
    def sarr(): Seq[String] =
      Seq.fill(rnd.nextInt(10))(s"w${rnd.nextInt(8)}").sorted
    val strs = Seq.fill(300)((sarr(), sarr())).toDF("a", "b")
    val badS = strs.select(
        sorted_intersect_count(col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(badS === 0L, "string kernel diverges from array_intersect")
    // empty/disjoint edges + SQL registration with the same value
    val r = spark.sql(
      """SELECT sorted_intersect_count(array(1L,2L,2L,5L), array(2L,3L,5L)) AS c,
        |       sorted_intersect_count(array(1L), array(2L)) AS d,
        |       sorted_intersect_count(CAST(array() AS array<bigint>), array(1L)) AS e
        |""".stripMargin).head()
    assert(r.getInt(0) === 2 && r.getInt(1) === 0 && r.getInt(2) === 0)
  }

  test("packed_intersect_count over pack_sorted_longs == array_intersect (codegen-only)") {
    val spark = freshSession(_
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .withExtensions(new GraftExtensions))
    import spark.implicits._
    // randomized sorted arrays with duplicates AND negatives (the zigzag
    // first-value case) plus wide gaps (multi-byte varint deltas): the
    // packed merge must equal array_intersect's distinct count whenever
    // both sides are sort_array'd and null-free
    val rnd = new scala.util.Random(21L)
    def arr(): Seq[Long] = Seq.fill(rnd.nextInt(14))(
      rnd.nextInt(40).toLong - 10L + (if (rnd.nextInt(5) == 0) 1000000L else 0L)
    ).sorted
    val longs = Seq.fill(400)((arr(), arr())).toDF("a", "b")
    val badL = longs.select(
        packed_intersect_count(
          pack_sorted_longs(col("a")), pack_sorted_longs(col("b"))).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(badL === 0L, "packed long kernel diverges from array_intersect")
    // int-element arrays pack into the same byte format
    def iarr(): Seq[Int] = Seq.fill(rnd.nextInt(12))(rnd.nextInt(20) - 5).sorted
    val ints = Seq.fill(300)((iarr(), iarr())).toDF("a", "b")
    val badI = ints.select(
        packed_intersect_count(
          pack_sorted_longs(col("a")), pack_sorted_longs(col("b"))).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(badI === 0L, "packed int kernel diverges from array_intersect")
    // empty sides, singletons, Long extremes + SQL registration
    val r = spark.sql(
      """SELECT packed_intersect_count(pack_sorted_longs(array(1L,2L,2L,5L)),
        |                              pack_sorted_longs(array(2L,3L,5L))) AS c,
        |       packed_intersect_count(pack_sorted_longs(CAST(array() AS array<bigint>)),
        |                              pack_sorted_longs(array(1L))) AS d,
        |       packed_intersect_count(
        |         pack_sorted_longs(array(-9223372036854775808L, 0L, 9223372036854775807L)),
        |         pack_sorted_longs(array(-9223372036854775808L, 9223372036854775807L))) AS e
        |""".stripMargin).head()
    assert(r.getInt(0) === 2 && r.getInt(1) === 0 && r.getInt(2) === 2)
    // an unsorted input must fail loudly, never mis-count
    val mex = intercept[Exception] {
      spark.sql("SELECT pack_sorted_longs(array(5L, 1L)) AS p").head()
    }
    assert(SparkSuite.causeMessages(mex).exists(_.contains("not ascending-sorted")),
      SparkSuite.causeMessages(mex).mkString("; "))
  }

  test("unpack_sorted_longs inverts pack_sorted_longs (codegen-only)") {
    val spark = freshSession(_
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .withExtensions(new GraftExtensions))
    import spark.implicits._
    // randomized sorted arrays with duplicates, negatives (zigzag first
    // value), wide gaps (multi-byte varint deltas), and Long extremes
    // (wrapping min -> positive spans): unpack(pack(x)) must be x exactly
    val rnd = new scala.util.Random(2121L)
    def arr(): Seq[Long] = rnd.nextInt(6) match {
      case 0 => Seq.empty
      case 1 => Seq(Long.MinValue, rnd.nextLong().abs - 1, Long.MaxValue).sorted
      case _ => Seq.fill(rnd.nextInt(14))(
        rnd.nextInt(40).toLong - 10L + (if (rnd.nextInt(5) == 0) 1000000L else 0L)
      ).sorted
    }
    val bad = Seq.fill(400)(Tuple1(arr())).toDF("a")
      .select(col("a"),
        unpack_sorted_longs(pack_sorted_longs(col("a"))).as("rt"))
      .filter(not(col("a") <=> col("rt"))).count()
    assert(bad === 0L, "unpack_sorted_longs is not pack's inverse")
    // SQL registration + int-element pack unpacks to the same values as longs
    val r = spark.sql(
      """SELECT unpack_sorted_longs(pack_sorted_longs(array(-3, 0, 7))) AS a,
        |       unpack_sorted_longs(pack_sorted_longs(
        |         CAST(array() AS array<bigint>))) AS b
        |""".stripMargin).head()
    assert(r.getSeq[Long](0) === Seq(-3L, 0L, 7L) && r.getSeq[Long](1).isEmpty)
    // a truncated blob must fail loudly
    val mex2 = intercept[Exception] {
      spark.sql("SELECT unpack_sorted_longs(X'80') AS p").head()
    }
    assert(SparkSuite.causeMessages(mex2).exists(_.contains("malformed blob")),
      SparkSuite.causeMessages(mex2).mkString("; "))
  }
}

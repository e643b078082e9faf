package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/**
 * Value-equivalence of the round-4 codegen'd kernels against the exact
 * expression forms they replaced, on shared inputs — plus the null-element
 * edge the replaced forms tolerated. Runs under CODEGEN_ONLY so the
 * kernels are also proven to compile into whole-stage codegen (no
 * interpreted fallback on the hot path).
 */
class KernelEquivalenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  // lazy val (stable identifier) so `import spark.implicits._` compiles.
  // Like CodegenSpec: a fresh session on the SHARED SparkContext — never
  // stop() it (that kills the context under every later suite); afterAll
  // only clears the active/default slots so the strict-codegen confs
  // cannot leak into other suites.
  private lazy val spark: SparkSession = {
    // ensure the shared SparkContext is created by the CLEAN suite
    // builder — if THIS builder creates it, the strict codegen confs
    // below land in the context SparkConf and leak into every later
    // suite's sessions as inherited defaults (see CodegenSpec)
    val _ = SparkSuite.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Sessions.local(2)
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .getOrCreate()
  }

  override def beforeAll(): Unit = { spark; () }

  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def texts: DataFrame = {
    import spark.implicits._
    Seq(
      "the quick brown fox jumps over the lazy dog",
      "", // empty
      "a", // shorter than any k-gram
      "Ça va? Привет мир — 你好世界", // multi-byte BMP code points
      "  leading and   trailing   spaces  ",
      "word", // exactly one token
      "aaaaaaa", // overlapping self-similar grams
      "line one\nline two\ttabbed, punctuated! (parens) [brackets] 42 3.14",
      "ALLCAPS SHOUTING WITH 100% PUNCTUATION!!!",
      "mixedCASE tokens don't align with word boundaries' apostrophes"
    ).toDF("text")
  }

  private def assertColsEqual(df: DataFrame, a: String, b: String): Unit = {
    val bad = df.filter(!(col(a) <=> col(b))).collect()
    assert(bad.isEmpty, s"$a != $b on: ${bad.mkString("; ")}")
  }

  test("match_count == size(regexp_extract_all(_, p, 0)) — the replaced form") {
    // the quality/token patterns actually used by TextAnalysis, plus edges
    val patterns = Seq(
      "\\p{L}+", // letter runs
      "[\\p{Punct}]", // single punct chars
      "\\d+(\\.\\d+)?", // numbers
      "\\s+", // whitespace runs
      "zz+" // never matches
    )
    patterns.foreach { p =>
      val df = texts.select(
        match_count(col("text"), p).as("kernel"),
        size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("long").as("spark"))
      // size() returns -1 for null input but 0 for no matches; both sides
      // see the same non-null strings here
      assertColsEqual(df, "kernel", "spark")
    }
  }

  test("match_count on null input is null (nullIntolerant, like the replaced form)") {
    import spark.implicits._
    val df = Seq(Some("ab ab"), None).toDF("text")
      .select(match_count(col("text"), "ab").as("c"))
    assert(df.collect().map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq
      === Seq(2L, null))
  }

  test("char_gram_hashes == shingle_hashes(lookahead regexp grams) — the replaced form") {
    // Equivalence holds on BMP text. On supplementary characters the two
    // forms INTENTIONALLY diverge — see the dedicated test below.
    for (k <- Seq(1, 3, 5, 9)) {
      val df = texts.select(
        char_gram_hashes(col("text"), k).as("kernel"),
        shingle_hashes(
          regexp_extract_all(col("text"), lit(s"(?s)(?=(.{$k}))"), lit(1))).as("spark"))
      assertColsEqual(df, "kernel", "spark")
    }
  }

  test("char_gram_hashes treats supplementary chars as ONE gram position (regexp form did not)") {
    import spark.implicits._
    // java.util.regex advances one code UNIT after a zero-width match, so
    // the replaced lookahead form emitted an extra gram starting inside
    // each surrogate pair. The kernel grams over code points — the correct
    // semantics — so "🙂🙂" (2 code points) has exactly 2 one-grams and
    // 1 two-gram, and equal text yields equal hashes regardless of plane.
    val df = Seq("🙂🙂").toDF("text").select(
      size(char_gram_hashes(col("text"), 1)).as("k1"),
      size(char_gram_hashes(col("text"), 2)).as("k2"),
      size(regexp_extract_all(col("text"), lit("(?s)(?=(.{1}))"), lit(1))).as("regex1"))
    val r = df.collect().head
    assert(r.getInt(0) === 2)
    assert(r.getInt(1) === 1)
    assert(r.getInt(2) === 4, "regexp form splits surrogate pairs (the bug the kernel fixes)")
    // both one-grams hash identically (same code point)
    val hs = Seq("🙂🙂").toDF("text")
      .select(char_gram_hashes(col("text"), 1).as("h")).collect().head.getSeq[Long](0)
    assert(hs.distinct.size === 1)
  }

  test("array_count_in == size(filter(_, isin)) — the replaced higher-order form") {
    val words = Seq("the", "a", "and", "don't")
    val df = texts
      .select(split(col("text"), "\\s+").as("toks"))
      .select(
        array_count_in(col("toks"), words).as("kernel"),
        size(filter(col("toks"), w => w.isin(words: _*))).as("spark"))
    assertColsEqual(df, "kernel", "spark")
  }

  test("array_count_in skips null elements like the filter form") {
    import spark.implicits._
    val df = Seq(Seq(Some("the"), None, Some("fox"), Some("the")))
      .toDF("toks")
      .select(
        array_count_in(col("toks"), Seq("the", "fox")).as("kernel"),
        size(filter(col("toks"), w => w.isin("the", "fox"))).as("spark"))
    val r = df.collect().head
    assert(r.getInt(0) === 3)
    assert(r.getInt(0) === r.getInt(1))
  }

  test("max_token_count == exploded groupBy/max(count) — the replaced two-shuffle form") {
    import spark.implicits._
    val toks = texts.withColumn("id", monotonically_increasing_id())
      .select(col("id"), split(trim(col("text")), "\\s+").as("toks"))
    val kernel = toks.select(col("id"), max_token_count(col("toks")).as("kernel"))
    val exploded = toks.select(col("id"), explode(col("toks")).as("w"))
      .groupBy(col("id"), col("w")).count()
      .groupBy(col("id")).agg(max(col("count")).cast("int").as("spark"))
    val joined = kernel.join(exploded, Seq("id"), "left")
      // empty-array rows never explode: the kernel reports 0 there
      .select(col("kernel"), coalesce(col("spark"), lit(0)).as("spark"))
    assertColsEqual(joined, "kernel", "spark")
    // null elements are skipped; null array is null; empty array is 0
    val edge = Seq(
      (1, Some(Seq(Some("a"), None, Some("a"), Some("b")))),
      (2, Some(Seq.empty[Option[String]])),
      (3, Option.empty[Seq[Option[String]]])
    ).toDF("id", "arr").select(col("id"), max_token_count(col("arr")).as("c"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getInt(1))).toMap
    assert(edge(1) === 2)
    assert(edge(2) === 0)
    assert(edge(3) === null)
  }

  test("word_grams == array_distinct(regexp_extract_all(lookahead)) — the replaced form") {
    for (n <- Seq(1, 2, 3, 5)) {
      val norm = regexp_replace(trim(col("text")), "\\s+", " ")
      val gram = Seq.fill(n)("[^ ]+").mkString(" ")
      val df = texts.select(
        word_grams(col("text"), n).as("kernel"),
        array_distinct(regexp_extract_all(norm, lit(s"(?<![^ ])(?=($gram))"), lit(1)))
          .as("spark"))
      assertColsEqual(df, "kernel", "spark")
    }
    // supplementary-plane text: the byte scan is code-point safe
    import spark.implicits._
    val emoji = Seq("🙂 a\t🙂 a  b").toDF("text")
      .select(word_grams(col("text"), 2).as("g")).collect().head.getSeq[String](0)
    assert(emoji === Seq("🙂 a", "a 🙂", "a b"))
  }

  test("array_sum_long == aggregate(_, 0L, +) — the replaced higher-order form") {
    import spark.implicits._
    val df = texts.select(shingle_hashes(
        regexp_extract_all(col("text"), lit("(?s)(?=(.{3}))"), lit(1))).as("hs"))
      .select(
        array_sum_long(col("hs")).as("kernel"),
        aggregate(col("hs"), lit(0L), (acc, x) => acc + x).as("spark"))
    assertColsEqual(df, "kernel", "spark")
    val edge = Seq(
      (1, Some(Seq(Some(1L), None, Some(41L)))),
      (2, Some(Seq.empty[Option[Long]])),
      (3, Option.empty[Seq[Option[Long]]])
    ).toDF("id", "arr").select(col("id"), array_sum_long(col("arr")).as("s"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(edge(1) === 42L) // null elements skipped
    assert(edge(2) === 0L)
    assert(edge(3) === null)
  }

  test("simhash_tokens == exploded md5 bit-vote aggregation — the replaced form") {
    import spark.implicits._
    for (bits <- Seq(16, 60)) {
      val toks = texts.withColumn("id", monotonically_increasing_id())
        .select(col("id"), split(trim(col("text")), "\\s+").as("toks"))
      val kernel = toks.select(col("id"),
        simhash_tokens(col("toks"), bits).as("kernel"))
      val h = conv(substring(md5(col("w")), 1, bits / 4), 16, 10).cast("long")
      val votes = (0 until bits).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
      val sig = (0 until bits).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
      val exploded = toks.select(col("id"), explode(col("toks")).as("w"))
        .withColumn("h", h)
        .groupBy(col("id")).agg(votes.head, votes.tail: _*)
        .select(col("id"), sig.cast("long").as("spark"))
      val joined = kernel.join(exploded, Seq("id")).select(col("kernel"), col("spark"))
      assertColsEqual(joined, "kernel", "spark")
    }
    // null tokens are skipped; empty array votes all-negative -> 0
    val edge = Seq(
      (1, Some(Seq(Some("a"), None, Some("b")))),
      (2, Some(Seq.empty[Option[String]])),
      (3, Option.empty[Seq[Option[String]]])
    ).toDF("id", "arr").select(col("id"), simhash_tokens(col("arr"), 16).as("s"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val noNull = Seq(Seq("a", "b")).toDF("arr")
      .select(simhash_tokens(col("arr"), 16)).collect().head.getLong(0)
    assert(edge(1) === noNull)
    assert(edge(2) === 0L)
    assert(edge(3) === null)
  }

  test("set_fingerprint groups exactly like md5(to_json(sort_array(_))) — the replaced key") {
    import spark.implicits._
    // equivalence as a GROUPING KEY: fp(a) == fp(b) iff the replaced
    // md5/json key matches — including near-miss pairs that must differ
    val arrays: Seq[Seq[String]] = Seq(
      Seq("b", "a", "c"), Seq("c", "b", "a"), // same set, different order
      Seq("a", "bc"), Seq("ab", "c"), // concat-equal, set-different
      Seq("a,b"), Seq("a", "b"), // separator injection
      Seq("a\"b"), Seq("a\\\"b"), // json-escape near-miss
      Seq(""), Seq("", ""), // empty strings, duplicate elements
      Seq(), // empty set
      Seq("你好", "🙂") // multi-byte
    )
    val df = arrays.toDF("arr").select(
      hex(set_fingerprint(col("arr"))).as("kernel"),
      md5(to_json(sort_array(col("arr")))).as("spark"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
    for (i <- rows.indices; j <- rows.indices) {
      assert((rows(i)._1 == rows(j)._1) === (rows(i)._2 == rows(j)._2),
        s"grouping disagreement between ${arrays(i)} and ${arrays(j)}")
    }
  }

  test("set_fingerprint tolerates null elements and keeps {null} != {\"\"}") {
    import spark.implicits._
    val df = Seq(
      (1, Seq(Some("x"), None, Some("y"))),
      (2, Seq(None)),
      (3, Seq(Some(""))),
      (4, Seq(None, Some("x"), Some("y"))) // same multiset as row 1
    ).toDF("id", "arr").select(col("id"), hex(set_fingerprint(col("arr"))).as("fp"))
    val fp = df.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(fp(1) === fp(4)) // order-insensitive with nulls present
    assert(fp(2) !== fp(3)) // null sorts/frames apart from empty string
  }
}

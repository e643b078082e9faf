package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Entity, Multimodal, Similarity, TextAnalysis}

/** Behavior specs for the LLM-pipeline operators on planted fixtures. */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"

  /** Runs `body` with the context's checkpoint dir set to `dir` (None:
    * unset), restoring the previous setting afterwards. */
  private def withCheckpointDir[T](dir: Option[java.nio.file.Path])(body: => T): T = {
    val had = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir.map(_.toString).orNull)
    try body finally spark.sparkContext.setCheckpointDir(had.orNull)
  }

  private def checkpointFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator.asScala.filter(f => f.getFileName.toString.startsWith("part-")).toList
    } finally s.close()
  }

  test("exact dedup groups identical normalized texts") {
    val df = docs(
      1L -> "Hello  world   foo", 2L -> "hello world foo", 3L -> "different text here")
    val groups = Dedup.exactDupGroups(df, "doc_id", "text").collect()
    assert(groups.length === 2)
    val dup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("survivor_id") === 1L)
  }

  test("minhash LSH finds planted near-duplicates and skips distinct docs") {
    val nearDup = base.replace("delta", "DELTA") // 3 shingles differ out of 18
    val unrelated = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val df = docs(1L -> base, 2L -> nearDup, 3L -> unrelated, 4L -> base)
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    // exact duplicate pair (1,4) must surface with jac 1.0
    assert(pairs.exists(p => p._1 == 1 && p._2 == 4 && p._3 == 1.0))
    // near-dup (1,2): jaccard = 12/24 = 0.5 (3-shingle window around one
    // changed token out of 20 kills 3 shingles each side)
    assert(pairs.exists(p => p._1 == 1 && p._2 == 2))
    // unrelated doc never pairs
    assert(!pairs.exists(p => p._1 == 3 || p._2 == 3))
  }

  test("LSH candidates match brute-force pairs at high threshold") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lsh = Dedup.minhashLshPairs(d, "doc_id", "text", threshold = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all pairs (no blocking) at the same threshold
    val withSh = d.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .withColumn("n", size(col("sh")))
    val bf = withSh.alias("a").join(withSh.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter", size(array_intersect(col("a.sh"), col("b.sh"))))
      .withColumn("jac", col("inter").cast("double") / (col("a.n") + col("b.n") - col("inter")))
      .filter(col("jac") >= 0.9)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH with 4 bands x 2 rows has >99.9% recall at jac >= 0.9; on this
    // corpus it must find every brute-force pair (and no false positives
    // survive verification)
    assert(lsh === bf, s"lsh=$lsh bf=$bf")
  }

  test("simhash: near-identical docs collide, unrelated docs differ") {
    val df = docs(
      1L -> base, 2L -> base,
      3L -> "one two three four five six seven eight nine ten")
    val sig = Dedup.withSimhash16(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(3L))
    assert(sig.values.forall(s => s >= 0 && s < 65536))
  }

  test("ngram jaccard pairs respect the blocking column") {
    val df = Seq(
      (1L, base, "s1"), (2L, base, "s1"),   // same block, dup
      (3L, base, "s2")                      // dup but different block
    ).toDF("doc_id", "text", "source")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", "source", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("brute-force knn returns k ranked neighbors; self excluded by id split") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val knn = Similarity.bruteForceTopK(
      e.filter(col("vec_id") < 3), e.filter(col("vec_id") >= 3),
      "vec_id", "embedding", k = 4).collect()
    assert(knn.length === 12)
    knn.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.sorted.reverse.toSeq === sims.toSeq) // rank order = sim desc
    }
  }

  test("lsh topk candidates are a subset of brute-force with decent recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val c = e.filter(col("vec_id") >= 20)
    val lsh = Similarity.lshTopK(q, c, "vec_id", "embedding", dim = 64, k = 1, planes = 4)
      .collect()
    // every query lands in some bucket; with 4 planes most buckets non-empty
    assert(lsh.length >= 10, s"got ${lsh.length} of 20 queries answered")
    // returned sims must match the exact cosine of that pair
    val bf = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { r =>
      assert(bf((r.getLong(0), r.getLong(1))) === r.getDouble(2))
    }
  }

  test("language ID spots real multilingual text") {
    val df = Seq(
      (1L, "the cat sat of the mat and it is a cat"),
      (2L, "der Hund und die Katze ist ein Tier nicht das"),
      (3L, "le chat et la maison est un endroit les arbres"),
      (4L, "el perro y los gatos es una casa para todos"),
      (5L, "这是一个中文句子 with some latin")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.withLangId(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang")).toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "zh"))
  }

  test("quality score rewards long alphabetic stopword-bearing text") {
    val df = Seq(
      (1L, ("the quick brown fox of a lazy dog and it is fine " * 10).trim),
      (2L, "@@@@ #### 1234 $$$$")
    ).toDF("doc_id", "text")
    val q = TextAnalysis.withQuality(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    assert(q(1L) > 0.7 && q(2L) < 0.2)
  }

  test("multimodal decode: mapPartitions stub agrees with the expression path") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("payload", col("text").cast("binary"))
    val viaPartitions = Multimodal.decodeAssets(df, "doc_id", "payload")
      .collect().map(d => d.id -> d.meta).toMap
    val viaExpr = Multimodal.stubFeatures(df, "doc_id", "payload").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("byte_len"), r.getAs[String]("sha256"),
          r.getAs[Int]("width"), r.getAs[Int]("height"), r.getAs[Int]("frames")))).toMap
    assert(viaPartitions.size === viaExpr.size)
    viaPartitions.foreach { case (id, m) =>
      val (len, sha, w, h, f) = viaExpr(id)
      assert(m.byteLen === len && m.sha256 === sha)
      assert(m.width === w && m.height === h && m.frames === f)
    }
  }

  test("salted join matches plain join results") {
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = o.join(c, Seq("o_custkey")).select("o_orderkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = graft.operators.Skew.saltedJoin(o, c, "o_custkey", factor = 4)
      .select("o_orderkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted === plain)
  }

  test("salted aggregation matches plain aggregation") {
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val plain = o.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2)))).toSet
    val salted = graft.operators.Skew.saltedCountSum(o, Seq("o_orderstatus"), "o_totalprice", 4)
      .collect().map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2)))).toSet
    assert(salted === plain)
  }

  test("IVF topk: exact sims, recall vs brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val c = e.filter(col("vec_id") >= 20)
    val ivf = Similarity.ivfTopK(q, c, "vec_id", "embedding", k = 1, nlist = 8, nprobe = 3)
      .collect().map(r => r.getLong(1) -> ((r.getLong(0), r.getDouble(2)))).map(_.swap)
    assert(ivf.length === 20, "every query must return a top-1")
    val bfAll = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", k = 1000)
      .collect()
    val bfSims = bfAll.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // returned sims are the exact cosine of the pair (no approximation in scoring)
    ivf.foreach { case ((qid, sim), cid) => assert(bfSims((qid, cid)) === sim) }
    // recall@1 with nprobe=3 of nlist=8 cells should recover most true tops
    val trueTop = bfAll.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = ivf.count { case ((qid, _), cid) => trueTop(qid) == cid }
    assert(hits >= 10, s"recall@1 too low: $hits/20")
    // integer vectors train and assign exactly like their double casts
    val ints = c.select(col("vec_id"),
      transform(col("embedding"), x => round(x * 100).cast("int")).as("embedding"))
    def cells(corpus: org.apache.spark.sql.DataFrame) = {
      val (assigned, centroids) =
        Similarity.ivfIndexFrames(corpus, "vec_id", "embedding", nlist = 8)
      (assigned.select("c_id", "bucket").collect().toSet,
        centroids.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap)
    }
    assert(cells(ints) === cells(ints.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))))
  }

  test("quantized topk: exact re-ranked sims, recall vs brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val c = e.filter(col("vec_id") >= 20)
    val i8 = Similarity.quantizedTopK(q, c, "vec_id", "embedding", k = 1, refine = 10)
      .collect().map(r => r.getLong(1) -> ((r.getLong(0), r.getDouble(2)))).map(_.swap)
    assert(i8.length === 20, "every query must return a top-1")
    val bfAll = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", k = 1000)
      .collect()
    val bfSims = bfAll.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the re-rank scores candidates in FULL float precision: every
    // returned sim is the exact brute-force cosine of that pair
    i8.foreach { case ((qid, sim), cid) => assert(bfSims((qid, cid)) === sim) }
    // int8 coarse + refine=10 must recover nearly every true top-1: the
    // quantization error per component is <= scale/2 (~0.4% of the max
    // component), far below organic top-1 separation at rank 10
    val trueTop = bfAll.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = i8.count { case ((qid, _), cid) => trueTop(qid) == cid }
    assert(hits >= 18, s"recall@1 too low: $hits/20")
  }

  test("PQ topk: exact re-ranked sims, recall vs brute force (both codebook modes)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val c = e.filter(col("vec_id") >= 20)
    val bfAll = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", k = 1000)
      .collect()
    val bfSims = bfAll.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val trueTop = bfAll.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact mode: the 480-vector corpus has <= 480 distinct subvectors per
    // subspace but ksub=512 covers them all -> quantization error 0, ADC
    // ordering = true ordering, recall exactly 1
    val exact = Similarity.pqTopK(q, c, "vec_id", "embedding", k = 1,
        refine = 4, m = 8, ksub = 512)
      .collect().map(r => r.getLong(1) -> ((r.getLong(0), r.getDouble(2)))).map(_.swap)
    assert(exact.length === 20, "every query must return a top-1")
    exact.foreach { case ((qid, sim), cid) => assert(bfSims((qid, cid)) === sim) }
    assert(exact.count { case ((qid, _), cid) => trueTop(qid) == cid } === 20,
      "exact-mode PQ must have recall 1")
    // k-means mode: ksub=16 << distinct subvectors forces the trained
    // codebooks; sims remain exact brute-force cosines (the float
    // re-rank), and recall is bought by the refine margin (the PQ
    // serving trade: coarse cut keeps refine/|corpus| = 12.5% here)
    val km = Similarity.pqTopK(q, c, "vec_id", "embedding", k = 1,
        refine = 60, m = 8, ksub = 16)
      .collect().map(r => r.getLong(1) -> ((r.getLong(0), r.getDouble(2)))).map(_.swap)
    assert(km.length === 20, "every query must return a top-1")
    km.foreach { case ((qid, sim), cid) => assert(bfSims((qid, cid)) === sim) }
    val hits = km.count { case ((qid, _), cid) => trueTop(qid) == cid }
    assert(hits >= 14, s"k-means PQ recall@1 too low: $hits/20")
  }

  test("PQ exact mode reconstructs: codes decode back to the original subvectors") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") >= 10)
      .select(col("vec_id"),
        Similarity.plantedClusterVector(col("vec_id")).as("embedding"))
    val (codes, codebooks) = Similarity.pqIndexFrames(
      e, "vec_id", "embedding", m = 8, ksub = 64)
    // every subspace stayed within ksub (planted corpus: <= 41 distinct)
    assert(codebooks.groupBy("sub").count().collect().forall(_.getLong(1) <= 64))
    // decode: codes -> codewords -> flattened vector == original (cast to
    // double); zero quantization error is the exact-mode contract
    val decoded = codes.select(col("c_id"), posexplode(col("code")).as(Seq("s", "cd")))
      .join(codebooks, col("s") === codebooks("sub") && col("cd") === codebooks("code"))
      .groupBy("c_id")
      .agg(flatten(array_sort(collect_list(struct(col("s"), col("centroid")))
        ).getField("centroid")).as("rebuilt"))
    val orig = e.select(col("vec_id").as("c_id"),
      col("embedding").cast("array<double>").as("v"))
    val mismatches = decoded.join(orig, "c_id")
      .filter(col("rebuilt") =!= col("v")).count()
    assert(mismatches === 0L, "exact-mode PQ must reconstruct losslessly")
  }

  test("IVFPQ: exact re-ranked sims, recall vs brute force, parquet round-trip") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val c = e.filter(col("vec_id") >= 20)
    val bfAll = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", k = 1000)
      .collect()
    val bfSims = bfAll.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val trueTop = bfAll.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ip = Similarity.ivfPqTopK(q, c, "vec_id", "embedding", k = 1,
        refine = 60, nlist = 8, nprobe = 3, m = 8, ksub = 16)
      .collect().map(r => r.getLong(1) -> ((r.getLong(0), r.getDouble(2)))).map(_.swap)
    assert(ip.length === 20, "every query must return a top-1")
    // the re-rank scores candidates in full float: every sim is exact
    ip.foreach { case ((qid, sim), cid) => assert(bfSims((qid, cid)) === sim) }
    // recall now compounds BOTH approximations (cell pruning x k-means
    // PQ): nprobe=3/8 cells and ksub=16 codebooks with a refine margin
    val hits = ip.count { case ((qid, _), cid) => trueTop(qid) == cid }
    assert(hits >= 10, s"IVFPQ recall@1 too low: $hits/20")
    // round-trip: the single index frame + model tables persist
    val queries10 = e.filter(col("vec_id") < 10)
    val corpus10 = e.filter(col("vec_id") >= 10)
    val direct = Similarity.ivfPqTopK(queries10, corpus10, "vec_id", "embedding",
        k = 5, refine = 20, nlist = 8, nprobe = 3, m = 8, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (index, cents, cbs) = Similarity.ivfPqIndexFrames(
      corpus10, "vec_id", "embedding", nlist = 8, m = 8, ksub = 32)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx")
    index.write.mode("overwrite").parquet(s"$dir/index")
    cents.write.mode("overwrite").parquet(s"$dir/cents")
    cbs.write.mode("overwrite").parquet(s"$dir/cbs")
    val viaStorage = Similarity.ivfPqSearchIndex(queries10,
        spark.read.parquet(s"$dir/index"), spark.read.parquet(s"$dir/cents"),
        spark.read.parquet(s"$dir/cbs"),
        corpus10, "vec_id", "embedding", k = 5, refine = 20, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaStorage === direct)
  }

  test("PQ index survives a parquet round-trip: search equals direct pqTopK") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 10)
    val corpus = e.filter(col("vec_id") >= 10)
    val direct = Similarity.pqTopK(queries, corpus, "vec_id", "embedding",
        k = 5, refine = 20, m = 8, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (codes, codebooks) = Similarity.pqIndexFrames(
      corpus, "vec_id", "embedding", m = 8, ksub = 32)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-idx")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
    val viaStorage = Similarity.pqSearchIndex(queries,
        spark.read.parquet(s"$dir/codes"),
        spark.read.parquet(s"$dir/codebooks"),
        corpus, "vec_id", "embedding", k = 5, refine = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaStorage === direct)
  }

  test("chunkPassages: window math, tail emission, overlap reconstruction") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than a window
      (3L, "")                                        // empty-string quirk: 1 empty token
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkPassages(docs, "doc_id", "text",
        chunkTokens = 4, strideTokens = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2))
    // doc 1: n=10, chunks = 1 + ceil(6/2) = 4, starts 0,2,4,6 — last
    // window ends exactly at token 10, no degenerate extra chunk
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq === Seq(0, 1, 2, 3))
    assert(d1.head._3 === "t1 t2 t3 t4" && d1.last._3 === "t7 t8 t9 t10")
    assert(d1.forall(_._4 == 4L))
    // stride < chunk: consecutive windows overlap by chunk - stride tokens
    d1.sliding(2).foreach { case Array(a, b) =>
      assert(a._3.split(" ").drop(2).toSeq === b._3.split(" ").take(2).toSeq)
    }
    // doc 2: one window holding the whole (short) doc
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0, "a b c", 3L)))
    // doc 3: the tokens("") quirk — a single empty token, one empty chunk
    assert(out.filter(_._1 == 3L).toSeq === Seq((3L, 0, "", 1L)))
    // a ragged tail shorter than chunkTokens is still emitted
    val ragged = Seq((9L, (1 to 9).map("x" + _).mkString(" "))).toDF("doc_id", "text")
    val tail = TextAnalysis.chunkPassages(ragged, "doc_id", "text", 4, 2)
      .collect().map(r => (r.getInt(1), r.getLong(3))).sortBy(_._1)
    assert(tail.toSeq === Seq((0, 4L), (1, 4L), (2, 4L), (3, 3L)))
  }

  test("bloom filter: no false negatives across partition merges, bounded FP rate") {
    import graft.functions.BloomAgg.bloom_agg
    import graft.functions.bloom_contains
    // 2000 items folded across 13 partitions: merge is pointwise OR, so
    // every inserted item MUST probe positive no matter the combine tree
    val items = spark.range(2000).repartition(13)
      .select(concat(lit("item-"), col("id")).as("s"))
    val blob = items.agg(bloom_agg(col("s"), 1 << 15, 5)).head().getAs[Array[Byte]](0)
    assert(blob.length === 8 + (1 << 15) / 8)
    val misses = items.filter(!bloom_contains(lit(blob), col("s"))).count()
    assert(misses === 0L, s"bloom false negatives: $misses")
    // ~16 bits/item, k=5 -> theoretical FP ~0.04%; assert a loose 2% bound
    val fp = spark.range(2000, 52000)
      .select(concat(lit("item-"), col("id")).as("s"))
      .filter(bloom_contains(lit(blob), col("s"))).count()
    assert(fp < 1000, s"bloom FP rate too high: $fp/50000")
    // zero-row aggregation publishes the empty filter: nothing probes true
    val empty = items.limit(0).agg(bloom_agg(col("s"), 1 << 10, 3))
      .head().getAs[Array[Byte]](0)
    val hits = items.filter(bloom_contains(lit(empty), col("s"))).count()
    assert(hits === 0L, s"empty bloom hit $hits items")
  }

  test("decontaminateBloom: row-identical to the exact operator") {
    import graft.operators.Curate
    val eval = docs(1L -> base, 2L -> "one two three four five six seven")
    val corpus = docs(
      10L -> base,                                    // full overlap
      11L -> ("alpha beta gamma prefix " + base),     // partial overlap
      12L -> "totally unrelated words nothing shared here at all",
      13L -> "six seven unrelatedtail words here")    // 1 shared shingle? none (needs 3-gram)
    val exact = Curate.contaminationHits(corpus, eval, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val bloom = Curate.decontaminateBloom(corpus, eval, "doc_id", "text",
        numBits = 1 << 12, numHashes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(bloom.toSeq === exact.toSeq)
    assert(exact.map(_._1).toSeq === Seq(10L, 11L)) // 12/13 clean
    // a DELIBERATELY saturated filter (every probe positive) still yields
    // the exact rows: the verify join owns correctness, bloom only prunes
    val sat = Array.fill[Byte](8 + 8)(-1)
    sat(0) = 0; sat(1) = 0; sat(2) = 0; sat(3) = 1 // k=1
    sat(4) = 0; sat(5) = 0; sat(6) = 0; sat(7) = 1 // 1 word, all ones
    val candidates = corpus.filter(
      graft.functions.bloom_any(lit(sat), graft.operators.Dedup.shingles(col("text"), 3)))
    assert(candidates.count() === 4L) // saturated bloom passes everything
    val viaSat = Curate.contaminationHits(candidates, eval, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(viaSat.toSeq === exact.toSeq)
  }

  test("bm25TopK: tf monotonicity, idf favors rare terms, bounded ordered output") {
    import graft.operators.Search
    val corpus = docs(
      1L -> "spark spark spark filler filler filler filler filler",
      2L -> "spark filler filler filler filler filler filler filler",
      3L -> "common filler filler filler filler filler filler filler",
      4L -> "nothing relevant here at all eight tokens pad")
    // 'common' appears in doc 3 only; 'filler' in docs 1-3: rare beats
    // common at equal tf because idf dominates
    val out = Search.bm25TopK(corpus, "doc_id", "text",
        terms = Seq("spark", "common"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val byId = out.toMap
    // doc 4 matches nothing -> excluded entirely
    assert(!byId.contains(4L) && out.length === 3)
    // same length, higher tf -> strictly higher score
    assert(byId(1L) > byId(2L), s"tf monotonicity violated: $byId")
    // output ordering: (score desc, id asc), scores rounded to 4 decimals
    assert(out.sortBy(p => (-p._2, p._1)).toSeq === out.toSeq)
    assert(out.forall { case (_, s) => s == math.rint(s * 1e4) / 1e4 })
    // k truncates to the single best doc; that is doc 3 — its rare term
    // (idf ln 10/3) beats doc 1's tf=3 of the commoner term (idf ln 2,
    // tf saturating at k1): BM25's rarity-over-repetition property
    val top1 = Search.bm25TopK(corpus, "doc_id", "text",
      terms = Seq("spark", "common"), k = 1).collect()
    assert(top1.length === 1 && top1.head.getLong(0) === 3L)
    // idf: a term hitting 1 of 4 docs outscores one hitting 3 of 4 at
    // equal tf and equal doc length (docs 2 vs 3 swap term rarity)
    val rare = Search.bm25TopK(corpus, "doc_id", "text",
        terms = Seq("common", "filler"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(rare(3L) > rare(2L), s"idf weighting violated: $rare")
  }

  test("sampleKPerStratum: exact k per stratum, deterministic, partition-invariant") {
    import graft.operators.Curate
    val df = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(4))).as("source"))
    val s1 = Curate.sampleKPerStratum(df, "doc_id", "source", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(identity)
    // exactly k rows per stratum (every stratum has >= k members here)
    assert(s1.groupBy(_._1).view.mapValues(_.length).toMap ===
      Map("s0" -> 5, "s1" -> 5, "s2" -> 5, "s3" -> 5))
    // partition-layout invariance: the sample is a pure function of ids
    val s2 = Curate.sampleKPerStratum(df.repartition(17), "doc_id", "source", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(identity)
    assert(s1.toSeq === s2.toSeq)
    // a stratum smaller than k returns all its members, no padding
    val tiny = spark.range(3).select(col("id").as("doc_id"), lit("only").as("source"))
    assert(Curate.sampleKPerStratum(tiny, "doc_id", "source", k = 10).count() === 3L)
  }

  test("tfidfTopTerms: rare terms outrank common at equal tf; ties by term text") {
    import graft.operators.Search
    // "kiwi" hits 1 of 4 docs, "apple" hits all 4: at equal tf the rare
    // term must score higher in doc 1
    val docs = Seq(
      (1L, "apple kiwi apple kiwi"), (2L, "apple pear"),
      (3L, "apple pear plum"), (4L, "apple plum plum"))
      .toDF("doc_id", "text")
    val out = Search.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(3)), r.getString(1))).toMap
    assert(out((1L, 1L)) === "kiwi", s"rare term not ranked first: $out")
    assert(out((1L, 2L)) === "apple")
    // doc 2: pear (df=2) outranks apple (df=4) at tf=1
    assert(out((2L, 1L)) === "pear")
    // doc 4: plum tf=2 beats apple tf=1 despite equal-ish idf
    assert(out((4L, 1L)) === "plum")
    // every doc yields at most k rows, ranks dense from 1
    val ranks = Search.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(ranks.forall(_ <= 2))
  }

  test("coOccurrenceEdges: pair expansion per group; oversized hub baskets dropped, census unchanged under a generous cap") {
    import graft.operators.Graph
    val df = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),        // 3 pairs
      (2L, "a"), (2L, "b"), (2L, "b"),        // dup row collapses -> 1 pair
      (3L, "h1"), (3L, "h2"), (3L, "h3"), (3L, "h4"), (3L, "h5")) // hub: 10 pairs
      .toDF("g", "i")
    // exhaustive default: every group expands
    assert(Graph.coOccurrenceEdges(df, "g", "i").count() === 14L)
    // the cap is ENFORCED: the 5-item hub basket contributes NO pairs
    val capped = Graph.coOccurrenceEdges(df, "g", "i", maxBasket = 4)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(capped.length === 4, s"expected 3 + 1 pairs, got ${capped.length}")
    assert(capped.toSet === Set(("a", "b"), ("a", "c"), ("b", "c")),
      "capped edge set leaked a hub pair or lost a small-basket pair")
    assert(!capped.exists(p => p._1.startsWith("h") || p._2.startsWith("h")),
      "a hub-basket pair survived the cap")
    intercept[IllegalArgumentException](
      Graph.coOccurrenceEdges(df, "g", "i", maxBasket = 1))
    // on TPC-H data (baskets <= 7 items) the production cap of 64 is
    // inert: the full triangle census is bit-identical to exhaustive
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val exhaustive = Graph.triangleStats(
      Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"), "a", "b")
      .collect()(0).toSeq
    val production = Graph.triangleStats(
      Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey", maxBasket = 64),
      "a", "b").collect()(0).toSeq
    assert(production === exhaustive,
      "maxBasket=64 changed the TPC-H census — the cap must be inert here")
    // the packed-adjacency path (integral node ids ride the probe joins
    // as delta-varint binary) must census identically to the generic
    // array path (string ids): same random multigraph, ids long vs "n"+id
    val rnd = new scala.util.Random(7L)
    val rawEdges = Seq.fill(600)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val longCensus = Graph.triangleStats(
      rawEdges.toDF("s", "d"), "s", "d").collect()(0).toSeq
    val strCensus = Graph.triangleStats(
      rawEdges.map { case (a, b) => (s"n$a", s"n$b") }.toDF("s", "d"),
      "s", "d").collect()(0).toSeq
    assert(longCensus === strCensus,
      "packed (long) and generic (string) census paths disagree")
  }

  test("pageRank: regular graphs stay at 1.0, hubs outrank leaves, mass conserved") {
    import graft.operators.Graph
    // 2-cycle: every iteration maps 1.0 -> 0.15 + 0.85*1.0 = 1.0 exactly
    val cycle = Seq(("a", "b"), ("b", "a")).toDF("s", "d")
    val cr = Graph.pageRank(cycle, "s", "d", iterations = 3)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(cr === Map("a" -> 1.0, "b" -> 1.0))
    // star (symmetrized): hub h linked to 3 leaves — hub must outrank,
    // and on a symmetric graph total rank is exactly #nodes
    val star = Seq(("h", "l1"), ("h", "l2"), ("h", "l3")).toDF("s", "d")
    val sr = Graph.pageRank(star, "s", "d", iterations = 5, symmetrize = true)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(sr("h") > sr("l1") && sr("l1") === sr("l2") && sr("l2") === sr("l3"))
    assert(math.abs(sr.values.sum - 4.0) < 1e-9, s"mass not conserved: $sr")
    // symmetrize must not double-count a graph already holding both
    // directions: same input as `cycle` -> same ranks
    val both = Graph.pageRank(cycle, "s", "d", iterations = 3, symmetrize = true)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(both === cr)
    // dangling destination (no out-edges) floors at 1-d once upstream
    // rank stops arriving; here after 2 iters sink keeps only 0.15+0.85*c
    val chain = Seq(("x", "y")).toDF("s", "d")
    val dr = Graph.pageRank(chain, "s", "d", iterations = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(math.abs(dr("x") - 0.15) < 1e-12)
    assert(math.abs(dr("y") - (0.15 + 0.85 * 0.15)) < 1e-12)
  }

  test("graph: a checkpoint dir makes pageRank/triangleStats reliable, same results") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
      .toDF("s", "d")
    def run() = (
      Graph.pageRank(edges, "s", "d", iterations = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap,
      Graph.triangleStats(edges, "s", "d").collect()(0).toSeq)
    val local = withCheckpointDir(None)(run())
    val dir = java.nio.file.Files.createTempDirectory("graft-graph-ckpt")
    // the dir only changes where lineage-truncation blocks live
    assert(withCheckpointDir(Some(dir))(run()) === local)
    assert(checkpointFiles(dir).nonEmpty, s"no reliable checkpoint files under $dir")
  }

  test("segmentDedup: first occurrence survives, docs rewritten, full dup vanishes") {
    import graft.operators.Dedup
    // seg size 2: doc 1 = [a b][c d], doc 2 = [c d][e f] (loses "c d"),
    // doc 3 = [a b][c d] (loses everything), doc 4 repeats its own
    // segment ([g h][g h] -> keeps only the first)
    val df = Seq(
      (1L, "a b c d"), (2L, "c d e f"), (3L, "a b c d"), (4L, "g h g h"))
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text", segTokens = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, "a b c d", 2L), (2L, "e f", 1L), (4L, "g h", 1L)))
    // partition-layout invariance
    val out2 = Dedup.segmentDedup(df.repartition(5), "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq === out2.toSeq)
    // trailing short segment participates: "a b c" = [a b][c]; doc 6's
    // lone "c" duplicates doc 5's tail and is erased
    val tail = Seq((5L, "a b c"), (6L, "x y c")).toDF("doc_id", "text")
    val t2 = Dedup.segmentDedup(tail, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(t2.toSeq === Seq((5L, "a b c"), (6L, "x y")))
  }

  test("weightedSampleK: equals the window form, skips bad weights, partition-invariant") {
    import graft.operators.Curate
    val df = spark.range(300).select(col("id").as("doc_id"),
      (pmod(col("id") * 37, lit(100)) + 1).as("w"))
    val got = Curate.weightedSampleK(df, "doc_id", "w", k = 25)
      .collect().map(_.getLong(0)).sorted
    // oracle: rank by ln(u)/w desc with the same dyadic u
    val u = (conv(substring(md5(concat(lit("wsample:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    val want = df.withColumn("k", log(u) / col("w").cast("double"))
      .orderBy(col("k").desc, col("doc_id")).limit(25)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === want.toSeq)
    // weight shapes the sample: heavy rows are overrepresented vs uniform
    val heavy = df.filter(col("w") > 50)
    val inSample = got.count(id => (id * 37 % 100) + 1 > 50)
    assert(inSample > 12, s"weighting looks uniform: $inSample/25 heavy")
    // null/zero weights never sample; layout invariance
    val bad = spark.range(300).select(col("id").as("doc_id"),
      when(col("id") < 150, lit(null).cast("long")).otherwise(lit(0L)).as("w"))
    assert(Curate.weightedSampleK(bad, "doc_id", "w", 10).count() === 0L)
    val got2 = Curate.weightedSampleK(df.repartition(13), "doc_id", "w", k = 25)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === got2.toSeq)
  }

  test("temperatureMixKeep: sqrt rebalancing shifts shares, caps at 1, deterministic") {
    import graft.operators.Curate
    // skewed corpus: s0 has 900 rows, s1 has 90, s2 has 10
    val df = spark.range(1000).select(col("id").as("doc_id"),
      when(col("id") < 900, "s0").when(col("id") < 990, "s1")
        .otherwise("s2").as("source"))
    val kept = Curate.temperatureMixKeep(df, "doc_id", "source", targetRows = 300L)
      .groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // alpha=0.5 target shares prop. to sqrt(n): 30/9.49/3.16 -> keep
    // rates ~0.078/0.25/0.74 -> expected kept ~70/22/7; Bernoulli noise
    // is a few rows — the ordering and rough magnitudes are the contract
    assert(kept("s0") > kept("s1") && kept("s1") > kept("s2"))
    // natural share of s0 is 90%; rebalanced share must drop well below
    val total = kept.values.sum.toDouble
    assert(kept("s0") / total < 0.8, s"no rebalancing: $kept")
    assert(kept("s2") >= 3, s"low-resource source starved: $kept")
    // huge target -> every rate caps at 1 -> identity
    assert(Curate.temperatureMixKeep(df, "doc_id", "source", 1000000L)
      .count() === 1000L)
    // deterministic under repartition
    val k2 = Curate.temperatureMixKeep(df.repartition(7), "doc_id", "source", 300L)
      .count()
    assert(k2 === kept.values.sum)
  }

  test("char_entropy: closed-form values, unicode code points, empty text") {
    import graft.functions.char_entropy
    val out = Seq("aaaa", "ab", "aab", "", "éé", "aé")
      .toDF("t").select(char_entropy(col("t"))).collect().map(_.getDouble(0))
    assert(out(0) === 0.0)                        // single symbol
    assert(out(1) === 1.0)                        // two equiprobable
    assert(math.abs(out(2) - 0.9182958340544896) < 1e-12)
    assert(out(3) === 0.0)                        // empty
    assert(out(4) === 0.0)                        // multi-byte code point counts as ONE symbol
    assert(out(5) === 1.0)                        // ascii + multi-byte, equiprobable
  }

  test("dupClusters: min-label connected components over planted pairs") {
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (10L, 11L, 0.9))
      .toDF("doc_a", "doc_b", "jac")
    val clusters = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dupClusters converges on a long chain (diameter > 1 round)") {
    val chain = (1L until 9L).map(i => (i, i + 1, 1.0)).toDF("doc_a", "doc_b", "jac")
    val clusters = Dedup.dupClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.values.toSet === Set(1L))
    assert(clusters.keySet === (1L to 9L).toSet)
  }

  test("dupClusters: a round that keeps the edge count but moves edges has not converged") {
    // the chain 1-5 plus three repeated pairs truncates to 7 edges; its
    // first round also leaves 7, with 4 still pointing at 2 and 5 at 3
    val pairs = ((1L until 5L).map(i => (i, i + 1)) ++ Seq((1L, 2L), (2L, 3L), (3L, 4L)))
      .toDF("doc_a", "doc_b")
    val clusters = Dedup.dupClusters(pairs, 0L).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(clusters.sorted.toSeq === (1L to 5L).map(_ -> 1L))
  }

  test("dupClusters: string ids take Spark's minimum, not String.compareTo's") {
    // U+1F600 is a surrogate pair in UTF-16, so compareTo puts it below
    // U+E000..U+FFFF; Spark compares UTF-8 bytes and puts it above
    val (smile, pua, repl) = ("\uD83D\uDE00", "\uE000", "\uFFFD")
    assert(smile.compareTo(pua) < 0)
    val components = Seq(Seq(smile, pua, repl), Seq("x" + smile, "x" + pua, "y"))
    val pairs = components.flatMap(c => c.zip(c.tail)).toDF("doc_a", "doc_b")
    val sparkMin = components.zipWithIndex.flatMap { case (c, i) => c.map(_ -> i) }
      .toDF("name", "c").groupBy("c").agg(min("name")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val expected = components.zipWithIndex.flatMap { case (c, i) => c.map(_ -> sparkMin(i)) }.toMap
    assert(expected(smile) === pua && expected("x" + smile) === "x" + pua)
    Seq(Dedup.ClusterDriverCapBytes, 0L).foreach { cap =>
      val got = Dedup.dupClusters(pairs, cap).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got === expected, s"cap $cap")
    }
  }

  test("dupClusters sends the driver at most its cap, in 2 jobs when the input fits") {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.graft.Bridge
    import graft.core.Materialize
    val sc = spark.sparkContext
    // the jobs `body` runs and the bytes their task results sent the driver
    def measured(body: => Unit): (Int, Long) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null) { bytes.addAndGet(te.taskMetrics.resultSize); () }
      }
      Bridge.drainListenerBus(sc)
      sc.addSparkListener(listener)
      try { body; Bridge.drainListenerBus(sc) } finally sc.removeSparkListener(listener)
      (jobs.get, bytes.get)
    }
    // 150 cliques of 40 nodes: 117,000 edges (3.3 MB) that contract to
    // 6,000 (168 KB); the tiny cap sits between, well above the few KB of
    // metrics every task result carries
    val cliques = spark.range(0, 6000).select(col("id").as("doc_a"))
      .join(spark.range(0, 6000).select(col("id").as("doc_b")),
        floor(col("doc_a") / 40) === floor(col("doc_b") / 40) && col("doc_a") < col("doc_b"))
    val pairs = Materialize.truncate(cliques)
    try {
      val (jobs, bytes) = measured(Dedup.dupClusters(pairs))
      assert(jobs <= 2, s"$jobs jobs for an input under the cap")
      assert(bytes <= Dedup.ClusterDriverCapBytes)
      val tiny = 512L << 10
      var labels = Map.empty[Long, Long]
      val (roundJobs, roundBytes) = measured {
        labels = Dedup.dupClusters(pairs, tiny).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(roundJobs > 2, "no contraction round ran under the tiny cap")
      assert(roundBytes <= tiny,
        s"$roundJobs jobs' task results sent $roundBytes bytes over a $tiny-byte cap")
      assert(labels === (0L until 6000L).map(i => i -> i / 40 * 40).toMap)
    } finally Materialize.release(pairs)
  }

  test("topk aggregate matches window-ranking semantics (sim desc, id asc, rank 1..k)") {
    // reference ranking computed independently with a window over the same
    // scored relation — the heap aggregate must reproduce it exactly
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val c = e.filter(col("vec_id") >= 10)
    val got = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val qq = q.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val cc = c.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id").asc)
    val want = cc.crossJoin(qq)
      .withColumn("sim", round(Similarity.cosine(col("q_vec"), col("c_vec")), 4))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 7)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got === want)
  }

  test("ngram df-cap bounds candidates under a planted hot shingle") {
    // 40 otherwise-unrelated docs all share one hot phrase; two docs are
    // true near-duplicates of each other through RARE shingles.
    val hot = "common header boilerplate notice"
    val noise = (1L to 40L).map(i =>
      (i, s"$hot unique${i}a unique${i}b unique${i}c unique${i}d unique${i}e"))
    val dupA = 100L -> s"$hot $base"
    val dupB = 101L -> s"$hot ${base.replace("delta", "DELTA")}"
    val df = (noise :+ dupA :+ dupB).toDF("doc_id", "text")
      .withColumn("block", lit("b0"))
    // uncapped: the hot shingles alone generate ~C(42,2) candidate pairs
    val uncapped = Dedup.ngramCandidates(df, "doc_id", "text", "block", maxDf = 1000000).count()
    assert(uncapped > 800, s"hot shingle should explode candidates, got $uncapped")
    // capped: hot shingles (df=42 > 10) leave the index; only rare-shingle
    // collisions remain -> exactly the true near-dup candidate pair
    val capped = Dedup.ngramCandidates(df, "doc_id", "text", "block", maxDf = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSet === Set((100L, 101L)), s"got ${capped.toSeq}")
    // verified output is unchanged by the cap (exact jaccard from full sets)
    val pc = Dedup.ngramJaccardPairs(df, "doc_id", "text", "block", 0.4, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pu = Dedup.ngramJaccardPairs(df, "doc_id", "text", "block", 0.4, maxDf = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pc === pu)
    assert(pc.map(p => (p._1, p._2)) === Set((100L, 101L)))
  }

  test("multimodal frame-sample plumbing: batched, one row per kept frame") {
    val d = Seq((1L, "payload one"), (2L, "another payload body")).toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
    // frame sampling: every 2nd frame of the decoded frame count, per doc
    val frames = Multimodal.decodeAssets(d, "doc_id", "payload").collect()
      .map(a => a.id -> a.meta.frames).toMap
    val sampled = Multimodal.sampleFrames(d, "doc_id", "payload", everyN = 2).collect()
    sampled.groupBy(_.id).foreach { case (id, fs) =>
      assert(fs.length === (frames(id) + 1) / 2, s"doc $id")
      assert(fs.map(_.frame_idx).sorted.toSeq === (0 until frames(id) by 2).toSeq)
      fs.foreach(f => assert(f.frame_sha.length === 64))
    }
  }

  test("BPE-ish token count: contractions and punctuation count, unlike whitespace") {
    val d = Seq((1L, "don't stop, believing!"), (2L, "hello world")).toDF("doc_id", "text")
    val counts = d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // "don't stop, believing!" -> don|'t|( stop)|,|( believing)|! = 6 bpe, 3 ws
    assert(counts(1L) === ((3L, 6L)))
    // plain words: one bpe token per word
    assert(counts(2L) === ((2L, 2L)))
  }

  test("winnowing fingerprints localize shared passages") {
    val shared = "the quick brown fox jumps over the lazy dog repeatedly"
    val d = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"completely different beginning $shared and another tail"),
      (3L, "nothing in common with the others at all zebra quux")).toDF("doc_id", "text")
    val fps = d.select(col("doc_id"),
        TextAnalysis.winnowingFingerprints(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // winnowing guarantee: a shared substring of >= w+k-1 chars yields at
    // least one shared fingerprint — docs 1 and 2 share a whole sentence
    assert((fps(1L) & fps(2L)).nonEmpty)
    // sharers overlap far more than unrelated docs
    assert((fps(1L) & fps(2L)).size > (fps(1L) & fps(3L)).size)
    // identical docs -> identical fingerprint sets (deterministic)
    val d2 = Seq((10L, "identical text body here right now"),
      (11L, "identical text body here right now")).toDF("doc_id", "text")
    val f2 = d2.select(col("doc_id"),
        TextAnalysis.winnowingFingerprints(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(f2(10L) === f2(11L) && f2(10L).nonEmpty)
  }

  test("int8 quantization round-trips within scale/2 per component") {
    import graft.operators.Similarity
    val vecs = Seq(
      (1L, Array(0.5f, -1.25f, 3.75f, 0.0f)),
      (2L, Array(-127.0f, 127.0f, 0.5f, -0.5f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector -> scale 0, q 0
      (4L, Array(1e-6f, -1e-6f, 5e-7f, 0.0f))).toDF("vec_id", "embedding")
    val rows = vecs.select(col("vec_id"),
        col("embedding"),
        Similarity.quantizeI8(col("embedding")).as("qz"),
        Similarity.dequantI8(Similarity.quantizeI8(col("embedding"))).as("back"))
      .collect()
    rows.foreach { r =>
      val x = r.getSeq[Float](1)
      val qz = r.getStruct(2)
      val scale = qz.getFloat(0)
      val q = qz.getSeq[Byte](1)
      val back = r.getSeq[Float](3)
      assert(q.forall(b => b >= -127 && b <= 127))
      if (x.forall(_ == 0f)) {
        assert(scale === 0f && q.forall(_ == 0) && back.forall(_ == 0f))
      } else {
        // round-trip error bounded by scale/2 (+ float ulp slack)
        x.zip(back).foreach { case (a, b) =>
          assert(math.abs(a - b) <= scale * 0.501,
            s"vec ${r.getLong(0)}: |$a - $b| > ${scale / 2}")
        }
        // the max-magnitude component always quantizes to +-127
        assert(q.map(b => math.abs(b.toInt)).max === 127)
      }
    }
  }

  test("sharedPassages surfaces cross-doc fingerprints with exact doc counts") {
    val shared = "the quick brown fox jumps over the lazy dog repeatedly"
    val d = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"completely different beginning $shared and another tail"),
      (3L, s"third carrier text with $shared inside it too"),
      (4L, "nothing in common with the others at all zebra quux")).toDF("doc_id", "text")
    val rows = TextAnalysis.sharedPassages(d, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "no shared fingerprint for a shared sentence")
    // every surviving fingerprint names at least 2 docs; min/max bound them
    rows.foreach { case (n, lo, hi) =>
      assert(n >= 2 && lo < hi && lo >= 1L && hi <= 4L)
    }
    // at least one fingerprint is shared by all three carrier docs
    assert(rows.exists { case (n, lo, hi) => n === 3L && lo === 1L && hi === 3L })
    // the unrelated doc never pairs: no fingerprint claims 4 docs
    assert(rows.forall(_._1 <= 3L))
  }

  test("mass duplicates beyond the df cap still pair via the set-fingerprint rescue") {
    // 15 identical copies: EVERY shingle has block df = 15 > maxDf = 10, so
    // the capped index alone would silently produce zero pairs for the most
    // common real dedup target — the rescue must emit all C(15,2) pairs
    val df = (1L to 15L).map(i => (i, base)).toDF("doc_id", "text")
      .withColumn("block", lit("b0"))
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", "block", 0.9, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length === 15 * 14 / 2, s"got ${pairs.length} pairs")
    assert(pairs.forall(_._3 === 1.0))
    assert(pairs.map(p => (p._1, p._2)).toSet ===
      (for (a <- 1L to 15L; b <- (a + 1) to 15L) yield (a, b)).toSet)
  }

  test("topk aggregate edges: k exceeding group size, exact ties, null sims") {
    import graft.functions.TopKAgg.topk_agg
    val df = Seq(
      (1L, 10L, Option(0.5)), (1L, 11L, Option(0.9)), (1L, 12L, Option(0.9)),
      (1L, 13L, None), // null sim must be ignored, not ranked
      (2L, 20L, Option(0.1))
    ).toDF("q_id", "c_id", "sim")
    val got = df.groupBy(col("q_id"))
      .agg(topk_agg(col("sim"), col("c_id"), 5).as("top"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(t => (t.getLong(0), t.getDouble(1))))
      .toMap
    // k=5 > group size: all non-null entries, best first, ties by id asc
    assert(got(1L) === Seq((11L, 0.9), (12L, 0.9), (10L, 0.5)))
    assert(got(2L) === Seq((20L, 0.1)))
  }

  test("cached operator scopes release all but the returned frame's blocks") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.graft.Bridge
    import graft.core.Materialize
    import graft.operators.{Classify, Curate, LangModel, Profile, Search}
    val sc = spark.sparkContext
    val corpus = docs(1L -> base, 2L -> base.replace("delta", "DELTA"), 3L -> base,
      4L -> "one two three four five six seven eight nine ten")
    val blocked = corpus.withColumn("src", lit("s"))
    val train = Seq(("A", "alpha beta gamma"), ("B", "one two three")).toDF("lang", "text")
    val index = Dedup.lshBandIndex(corpus, "doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("doc_a", "doc_b")
    // each family's result frame; None where it returns driver values
    val families: Seq[(String, () => Option[DataFrame])] = Seq(
      "bm25TopK" -> (() => Some(Search.bm25TopK(corpus, "doc_id", "text", Seq("alpha"), 2))),
      "naiveBayes" -> (() => Some(Classify.naiveBayes(corpus, train, "doc_id", "text", "lang"))),
      "bigramScore" -> (() => Some(LangModel.bigramScore(corpus, train, "doc_id", "text"))),
      "ngramJaccardPairs" -> (() => Some(Dedup.ngramJaccardPairs(blocked, "doc_id", "text",
        "src", 0.5))),
      "containmentPairs over hot shingles" -> (() => Some(Dedup.containmentPairs(blocked,
        "doc_id", "text", "src", 0.5, maxDf = 2))),
      "simhashBandPairs" -> (() => Some(Dedup.simhashBandPairs(corpus, "doc_id", "text"))),
      "minhashLshPairs" -> (() => Some(Dedup.minhashLshPairs(corpus, "doc_id", "text",
        threshold = 0.5))),
      "incrementalNearDupPairs" -> (() => Some(Dedup.incrementalNearDupPairs(
        docs(10L -> base), corpus, "doc_id", "text", index))),
      "packBlocks" -> (() => Some(Curate.packBlocks(corpus, "doc_id", "text", 5L))),
      "dupClusters" -> (() => Some(Dedup.dupClusters(pairs))),
      "dupClusters contracted to stars" -> (() => Some(Dedup.dupClusters(pairs, 0L))),
      "curateCorpus" -> (() => Some(Curate.curateCorpus(corpus, "doc_id", "text",
        minQuality = 0.0, langs = Set.empty)._1)),
      "exactQuantiles" -> (() => {
        Profile.exactQuantiles(corpus, "doc_id", Seq(0.5)); None }))
    families.foreach { case (name, run) =>
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = run()
      assert(out.forall(_.count() > 0), s"$name: empty result proves nothing")
      assert(Bridge.cacheIsEmpty(spark), s"$name left a Dataset cache entry")
      // a frame built on the driver holds no blocks
      val behind = out.flatMap(_.queryExecution.logical match {
        case r: LogicalRDD => Some(r.rdd.id)
        case _: LocalRelation => None
        case p => fail(s"$name returned an untruncated frame: $p")
      })
      assert(sc.getPersistentRDDs.keySet.toSet -- before === behind.toSet,
        s"$name: persistent RDDs other than the result's")
      out.foreach(Materialize.release)
      assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
        s"$name: release left the result's blocks")
    }
  }

  test("simhash banded Hamming join equals the all-pairs form (pigeonhole exactness)") {
    // near-identical docs (tiny hamming), a moderately-edited one, and
    // unrelated ones: band candidates + verify must reproduce EXACTLY the
    // all-pairs <=3 result
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // identical -> hamming 0
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // one word swapped
      (4L, "totally different content with other words entirely here now"),
      (5L, "more unrelated text that shares nothing with the first group")
    ).toDF("doc_id", "text")
    val banded = graft.operators.Dedup.simhashBandPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sims = graft.operators.Dedup.withSimhash60(docs, "doc_id", "text")
    val all = sims.as("a").join(sims.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.simhash60").bitwiseXOR(col("b.simhash60"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded === all)
    assert(banded.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
  }

  test("withSplit is deterministic, partitions completely, and lands near the fractions") {
    import graft.operators.Curate
    val ids = spark.range(10000).toDF("id")
    val s1 = Curate.withSplit(ids, "id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1.keySet === Set("train", "val", "test")) // complete partition
    assert(s1.values.sum === 10000)
    // md5 buckets are uniform enough that 90/5/5 holds within a few percent
    assert(math.abs(s1("train") - 9000) < 300, s1.toString)
    assert(math.abs(s1("val") - 500) < 150, s1.toString)
    // determinism: a second run assigns every id identically
    val a = Curate.withSplit(ids, "id")
    val b = Curate.withSplit(ids, "id").withColumnRenamed("split", "split2")
    assert(a.join(b, "id").filter(col("split") =!= col("split2")).count() === 0)
  }

  test("mixKeep honors per-source rates and is independent of the split hash") {
    import graft.operators.Curate
    val docs = spark.range(4000)
      .select(col("id"), when(col("id") % 2 === 0, "keep_none").otherwise("keep_all").as("src"))
    val kept = docs.filter(Curate.mixKeep("id", "src",
      Map("keep_none" -> 0, "keep_all" -> 1000), defaultPerMille = 500))
    val bySrc = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("keep_none")) // rate 0 keeps nothing
    assert(bySrc("keep_all") === 2000) // rate 1000 keeps everything
    // independence: among kept docs of an all-kept source, the SPLIT hash
    // still distributes (mixing didn't bias the split assignment)
    val splits = Curate.withSplit(kept, "id").groupBy("split").count().count()
    assert(splits === 3)
  }

  test("packBlocks offsets are exact, contiguous, and partition-count invariant") {
    import graft.operators.Curate
    val docs = spark.range(1, 201)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (1 to 7).map(i => concat(lit(s"w$i"), col("id"))): _*).as("text"))
    // every doc tokenizes to exactly 7 tokens -> offsets are 7*(id-1)
    val packed = Curate.packBlocks(docs, "doc_id", "text", blockTokens = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(packed.length === 200)
    packed.foreach { case (id, n, off, blk) =>
      assert(n === 7L)
      assert(off === 7L * (id - 1), s"doc $id offset $off")
      assert(blk === off / 50L)
    }
    // partition-count invariance: a child session with a different
    // shuffle-partition setting produces the identical assignment
    val other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", "3")
    val docs2 = other.createDataFrame(docs.rdd, docs.schema)
    val packed2 = Curate.packBlocks(docs2, "doc_id", "text", blockTokens = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(packed2.sortBy(_._1).toSeq === packed.sortBy(_._1).toSeq)
  }

  test("contaminationHits finds planted n-gram overlap and nothing else") {
    import graft.operators.Curate
    val evalDocs = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "something about the quick brown fox appearing here"), // shares "the quick brown" + "quick brown fox"
      (11L, "entirely unrelated words with no overlap whatsoever at all"),
      (12L, "jumps over the lazy dog is a shared tail")) // shares 3-grams of the tail
      .toDF("doc_id", "text")
    val hits = Curate.contaminationHits(corpus, evalDocs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet === Set(10L, 12L)) // 11 is clean
    assert(hits(10L) === 2) // "the quick brown", "quick brown fox"
    assert(hits(12L) === 3) // "jumps over the", "over the lazy", "the lazy dog"
  }

  test("semanticDedup keeps min-id representatives, never drops across groups") {
    import graft.operators.Similarity
    def vec(axis: Int, scale: Float) =
      Array.tabulate(8)(i => if (i == axis) scale else 0.0f)
    val rows = Seq(
      (1L, vec(0, 1.0f)), (5L, vec(0, 2.0f)), (9L, vec(0, 0.5f)), // same direction = dups
      (2L, vec(1, 1.0f)), (7L, vec(1, 1.0f)), // another dup group
      (3L, vec(2, 1.0f))) // singleton
    val df = spark.createDataFrame(rows).toDF("id", "v")
    val kept = Similarity.semanticDedup(df, "id", "v",
      threshold = 0.999, nlist = 3, maxTrainRows = 100)
      .select("id").collect().map(_.getLong(0)).toSet
    // min id of each cosine-identical group survives; the axis-2
    // singleton is untouched (cross-axis cosine is 0)
    assert(kept === Set(1L, 2L, 3L))
  }

  test("k-means index builds and semanticDedup read their input once while training") {
    import graft.operators.Similarity
    val n = 600L
    val acc = spark.sparkContext.longAccumulator("rows read")
    val seen = udf { () => acc.add(1); true }.asNondeterministic()
    // 16-dim vectors, more distinct than any k below, read through a
    // counting filter that no optimizer rule may drop, fold or reorder
    val corpus = spark.range(0, n, 1, 4).filter(seen())
      .select(col("id").as("vec_id"), transform(sequence(lit(0), lit(15)),
        i => sin(col("id") * (i + 1)).cast("float")).as("v"))
    // the eager part of an index build is training: one sample pass
    def reads(build: => Any): Long = { acc.reset(); build; acc.value }
    assert(reads(Similarity.ivfIndexFrames(corpus, "vec_id", "v", nlist = 8)) === n)
    assert(reads(Similarity.pqIndexFrames(corpus, "vec_id", "v", m = 4, ksub = 16)) === n)
    assert(reads(Similarity.ivfPqIndexFrames(corpus, "vec_id", "v",
      nlist = 8, m = 4, ksub = 16)) === n)
    // semanticDedup adds the representatives' lazy checkpoint, whose
    // adaptive plan runs its one shuffle (cell assignment + exact-dup
    // collapse) when the checkpoint is declared: the sample pass plus that
    assert(reads(Similarity.semanticDedup(corpus, "vec_id", "v",
      threshold = 0.99, nlist = 8)) === 2 * n)
  }

  test("k-means training sample reaches the driver capped, however many partitions hold it") {
    import graft.operators.Similarity
    import org.apache.spark.scheduler._
    // 8 partitions of 200 rows, each far over the 25-row cap, with 512-dim
    // vectors (4 KB a row): shipping every partition's top-25 to the
    // driver returns 8 x 100 KB; merging them on an executor returns one
    val cap = 25
    val rowBytes = 512L * 8
    val corpus = spark.range(0, 1600, 1, 8).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(511)), i => sin(col("id") * (i + 1))).as("v"))
    val resultBytes = new java.util.concurrent.atomic.AtomicLong
    val started = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { started.incrementAndGet(); () }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = { ended.incrementAndGet(); () }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) { resultBytes.addAndGet(te.taskMetrics.resultSize); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Similarity.ivfIndexFrames(corpus, "vec_id", "v", nlist = 4, maxTrainRows = cap)
      // listener delivery is async: a job's task ends precede its job end
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((started.get == 0 || ended.get < started.get) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(started.get === 1 && ended.get === 1, "training is one job")
      assert(resultBytes.get < 2 * cap * rowBytes,
        s"task results sent ${resultBytes.get} bytes to the driver for a " +
          s"$cap-row sample of ${cap * rowBytes} bytes")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("topk_freq: exact under capacity, MG bound over capacity, merge across partitions") {
    import graft.functions.FreqAgg.topk_freq
    // planted frequencies across 8 partitions force real partial merges
    val rows = (1 to 100).flatMap(i => Seq.fill(100 - i)(s"item$i"))
    val df = spark.createDataset(rows)(org.apache.spark.sql.Encoders.STRING)
      .repartition(8).toDF("x")
    // capacity >= distinct -> exact counts in exact order
    val exact = df.agg(topk_freq(col("x"), 200, 5)).head()
      .getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getLong(1)))
    assert(exact === Seq("item1" -> 99L, "item2" -> 98L, "item3" -> 97L,
      "item4" -> 96L, "item5" -> 95L))
    // tight capacity: every reported estimate e satisfies
    // true - n/(cap+1) <= e <= true (MG undercounts, never overcounts),
    // and the heaviest item must survive (99 > n/(cap+1))
    val n = rows.length
    val cap = 64
    val approx = df.agg(topk_freq(col("x"), cap, 10)).head()
      .getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getLong(1)))
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    approx.foreach { case (item, est) =>
      val t = truth(item)
      assert(est <= t, s"$item overcounted: $est > $t")
      assert(est >= t - n / (cap + 1), s"$item undercounted beyond the MG bound")
    }
    assert(approx.map(_._1).contains("item1"))
  }

  test("redactPii masks planted emails, IPs, phones and leaves clean text alone") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "write to john.doe+x@sub.example.co.uk today"),
      (2L, "server at 192.168.0.17 timed out"),
      (3L, "call +1 555-867-5309 or (areacode) nothing"),
      (4L, "clean text with numbers 12345 and a date 2024-01-01"),
      (5L, "multi: a@b.io then 10.0.0.1 then 555-123-4567 end"))
      .toDF("id", "t")
    val out = df.select(col("id"), TextAnalysis.redactPii(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "write to [EMAIL] today")
    assert(out(2L) === "server at [IP] timed out")
    assert(out(3L) === "call [PHONE] or (areacode) nothing")
    assert(out(4L) === "clean text with numbers 12345 and a date 2024-01-01")
    assert(out(5L) === "multi: [EMAIL] then [IP] then [PHONE] end")
  }

  test("olsTrend: exact planted line, flat series, degenerate groups") {
    import graft.operators.Stats
    val df = Seq(
      ("line", 0.0, 1.0), ("line", 1.0, 3.0), ("line", 2.0, 5.0), ("line", 3.0, 7.0),
      ("flat", 0.0, 5.0), ("flat", 1.0, 5.0), ("flat", 2.0, 5.0),
      ("xconst", 2.0, 1.0), ("xconst", 2.0, 9.0),
      ("single", 1.0, 1.0))
      .toDF("g", "x", "y")
    val out = Stats.olsTrend(df, "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(out("line") === ((Some(2.0), Some(1.0), Some(1.0))), "y=2x+1 exactly")
    assert(out("flat") === ((Some(0.0), Some(5.0), None)),
      "flat series: slope 0, r2 undefined")
    assert(out("xconst") === ((None, None, None)), "zero x variance: no fit")
    assert(out("single") === ((None, None, None)), "n=1: no fit")
  }

  test("corrMatrix: planted perfect/anti/zero correlation; constant column nulls") {
    import graft.operators.Stats
    val df = Seq((1.0, 2.0, -1.0, 7.0), (2.0, 4.0, -2.0, 7.0),
      (3.0, 6.0, -3.0, 7.0), (4.0, 8.0, -4.0, 7.0))
      .toDF("a", "b2a", "neg_a", "const7")
    val out = Stats.corrMatrix(df, Seq("a", "b2a", "neg_a", "const7"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> Option(r.get(2)))
      .toMap
    assert(out(("a", "a")) === Some(1.0))
    assert(out(("a", "b2a")) === Some(1.0), "linear scaling must correlate 1")
    assert(out(("a", "neg_a")) === Some(-1.0), "negation must correlate -1")
    assert(out(("a", "const7")) === None, "zero-variance column must null")
    assert(out(("const7", "const7")) === None)
    assert(out.size === 10, "upper triangle of 4 columns")
  }

  test("welchTTest: hand-computed statistics, degenerate groups go null") {
    import graft.operators.Stats
    val df = Seq(
      ("m", "A", 1.0), ("m", "A", 2.0), ("m", "A", 3.0),
      ("m", "B", 10.0), ("m", "B", 12.0),
      ("single", "A", 5.0), ("single", "B", 1.0), ("single", "B", 2.0),
      ("flat", "A", 3.0), ("flat", "A", 3.0),
      ("flat", "B", 3.0), ("flat", "B", 3.0),
      ("m", "C", 99.0)) // unknown variant must be ignored
      .toDF("metric", "variant", "v")
    val out = Stats.welchTTest(df, "metric", "variant", "v", "A", "B")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          Option(r.get(5)), Option(r.get(6))))).toMap
    // ma=2 va=1, mb=11 vb=2: t = -9/sqrt(1/3 + 1) = -7.7942,
    // df = (4/3)^2 / ((1/9)/2 + 1) = 1.6842
    val (na, nb, ma, mb, t, dfw) = out("m")
    assert((na, nb, ma, mb) === ((3L, 2L, 2.0, 11.0)))
    assert(t === Some(-7.7942) && dfw === Some(1.6842))
    // n_a < 2 -> no test, means still reported
    assert(out("single")._5.isEmpty && out("single")._6.isEmpty)
    assert(out("single")._3 === 5.0)
    // zero variance on both sides -> se2 = 0 -> no test, not ±Inf
    assert(out("flat")._5.isEmpty && out("flat")._6.isEmpty)
  }

  test("ohlcBars: open/close by event time regardless of row order; bucket math") {
    import graft.operators.Resample
    // rows deliberately NOT in time order — open/close must follow ts
    val ev = Seq(
      ("a", 105L, 9.0),  // bucket 100: latest -> close
      ("a", 101L, 3.0),  // bucket 100: earliest -> open
      ("a", 103L, 7.0),  // bucket 100: high
      ("a", 210L, 5.0),  // bucket 200: singleton -> open=close=high=low
      ("b", 101L, 2.0))
      .toDF("k", "ts_us", "v")
    val out = Resample.ohlcBars(ev, Seq("k"), "ts_us", "v", bucketMicros = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))))
      .toMap
    assert(out(("a", 100L)) === ((3.0, 9.0, 9.0, 3.0, 3L)))
    assert(out(("a", 200L)) === ((5.0, 5.0, 5.0, 5.0, 1L)))
    assert(out(("b", 100L)) === ((2.0, 2.0, 2.0, 2.0, 1L)))
  }

  test("z-order layout gives every file a tight min/max on BOTH columns") {
    import graft.operators.Zorder
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val linDir = java.nio.file.Files.createTempDirectory("graft-lin").toString
    val zDir = java.nio.file.Files.createTempDirectory("graft-z").toString
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(linDir)
    Zorder.writeZOrdered(li, Seq("l_orderkey", "l_partkey"), zDir, files = 8)
    def meanSpan(dir: String, c: String): Double =
      spark.read.parquet(dir)
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).as("s"))
        .agg(avg(col("s"))).head().getDouble(0)
    def fullSpan(c: String): Double =
      li.agg((max(col(c)) - min(col(c))).cast("double")).head().getDouble(0)
    val pkFull = fullSpan("l_partkey")
    val okFull = fullSpan("l_orderkey")
    // z-clustered rewrite preserves the rows
    assert(spark.read.parquet(zDir).count() === li.count())
    // the orderkey-sorted layout leaves partkey unclustered: every file
    // spans nearly the whole partkey range — a partkey predicate prunes
    // nothing
    assert(meanSpan(linDir, "l_partkey") > 0.8 * pkFull,
      "baseline layout unexpectedly clustered on the non-sort column")
    // the z layout narrows BOTH: with 8 curve ranges the top z bits split
    // partkey into ~quarters and orderkey into ~halves
    assert(meanSpan(zDir, "l_partkey") < 0.5 * pkFull,
      s"z files span ${meanSpan(zDir, "l_partkey")} of $pkFull partkey")
    assert(meanSpan(zDir, "l_orderkey") < 0.7 * okFull,
      s"z files span ${meanSpan(zDir, "l_orderkey")} of $okFull orderkey")
  }

  test("lakehouse: manifest pruning opens fewer files than written, rows stay exact") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lakehouse").toString
    val ev = graft.core.EventTime.withTsUs(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .select(col("user_id"), col("event_type"), col("value"), col("ts_us"))
    Lakehouse.writeClustered(ev, dir, Seq("user_id", "ts_us"), files = 16)
    // 16 data files + a 16-row manifest on disk (sf0.001 users span 0-14,
    // so [4,7] is the ~27% range the composed query uses at larger SFs)
    val (kept, total) = Lakehouse.selectFiles(spark, dir, "user_id", 4, 7)
    assert(total === 16, s"expected 16 written files, manifest says $total")
    // the file-skipping effect: a ~27% user_id range must NOT touch every
    // file — z-clustering makes each file a tight user_id x ts rectangle
    assert(kept.nonEmpty && kept.size < total,
      s"pruning read ${kept.size}/$total files — no skipping happened")
    // no-drift contract: pruned read == full scan + exact filter, row for row
    val pruned = Lakehouse.prunedRead(spark, dir, "user_id", 4, 7)
    val full = spark.read.parquet(s"$dir/data")
      .filter(col("user_id") >= 4 && col("user_id") <= 7)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
      "pruned read drifted from the full filtered scan")
    // stats for a non-clustered column are absent and say so
    val e = intercept[IllegalArgumentException](
      Lakehouse.selectFiles(spark, dir, "value", 0, 1))
    assert(e.getMessage.contains("no stats"))
  }

  test("lakehouse: append adds a batch without rewriting; pruning exact over the union") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-append").toString
    val ev = graft.core.EventTime.withTsUs(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
    val (batch1, batch2) =
      (ev.filter(col("event_id") % 3 =!= 0), ev.filter(col("event_id") % 3 === 0))
    Lakehouse.writeClustered(batch1, dir, Seq("user_id", "ts_us"), files = 6)
    val before = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.lastModified).toMap
    val (_, total1) = Lakehouse.selectFiles(spark, dir, "user_id", 0, 100)
    assert(total1 === 6)
    Lakehouse.appendClustered(batch2, dir, Seq("user_id", "ts_us"), files = 2)
    // existing data files untouched (names AND mtimes), manifest grew by
    // exactly the appended batch's file count
    val after = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.lastModified).toMap
    assert(before.forall { case (n, m) => after.get(n).contains(m) },
      "append rewrote an existing data file")
    assert(after.size === 8, s"expected 6 + 2 data files, found ${after.size}")
    val (kept, total2) = Lakehouse.selectFiles(spark, dir, "user_id", 0, 100)
    assert(total2 === 8, s"manifest should cover both batches, says $total2")
    assert(kept.size === 8)
    // pruned read over the union == full filter over the ORIGINAL frame
    val pruned = Lakehouse.prunedRead(spark, dir, "user_id", 4, 7)
    val expect = ev.filter(col("user_id") >= 4 && col("user_id") <= 7)
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty,
      "incremental layout drifted from the source of truth")
    // appending with different clustered columns must fail loudly, not
    // silently write stats pruning would never consult
    val e = intercept[IllegalArgumentException](
      Lakehouse.appendClustered(batch2, dir, Seq("user_id"), files = 2))
    assert(e.getMessage.contains("zCols"))
    // destructive schema drift must fail loudly — an ADDED column is
    // legal additive evolution (its own spec), but a DROP or a RETYPE
    // would corrupt what existing readers resolve
    val e2 = intercept[IllegalArgumentException](
      Lakehouse.appendClustered(batch2.drop("event_id"), dir,
        Seq("user_id", "ts_us"), files = 2))
    assert(e2.getMessage.contains("missing existing column"))
    val e3 = intercept[IllegalArgumentException](
      Lakehouse.appendClustered(
        batch2.withColumn("event_id", col("event_id").cast("int")), dir,
        Seq("user_id", "ts_us"), files = 2))
    assert(e3.getMessage.contains("retype"))
  }

  test("lakehouse: compaction merges ONLY small files, pruning exact before and after") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-compact").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      pmod(col("id"), lit(100)).as("k"), col("id").as("t"))
    Lakehouse.writeClustered(mk(0, 4000), dir, Seq("k", "t"), files = 4)
    val bigBefore = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.lastModified).toMap
    Lakehouse.appendClustered(mk(4000, 4200), dir, Seq("k", "t"), files = 2)
    Lakehouse.appendClustered(mk(4200, 4400), dir, Seq("k", "t"), files = 2)
    // 4 small files (~100 rows each) merge into 1; the 4 initial
    // 1000-row files survive with names and mtimes untouched
    val (compacted, written) = Lakehouse.compact(spark, dir, Seq("k", "t"),
      minRows = 500, files = 1)
    assert(compacted === 4 && written === 1, s"compacted $compacted -> $written")
    val after = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.lastModified).toMap
    assert(bigBefore.forall { case (n, m) => after.get(n).contains(m) },
      "compaction touched a big file")
    // deferred-delete contract: the 4 compacted originals stay on disk
    // (a reader pinned on the pre-compact snapshot still needs them)
    // until vacuum reclaims them; the LIVE manifest already dropped them
    assert(after.size === 9, s"expected 4 big + 4 superseded + 1 merged, found ${after.size}")
    val (reclaimed, prunedManifests) = Lakehouse.vacuum(spark, dir)
    assert(reclaimed === 4, s"vacuum reclaimed $reclaimed files, expected the 4 compacted originals")
    assert(prunedManifests === 3, s"vacuum pruned $prunedManifests superseded manifests (create + 2 appends)")
    val afterVacuum = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.lastModified).toMap
    assert(afterVacuum.size === 5, s"expected 4 big + 1 merged after vacuum, found ${afterVacuum.size}")
    assert(bigBefore.forall { case (n, m) => afterVacuum.get(n).contains(m) },
      "vacuum touched a live file")
    val (kept, total) = Lakehouse.selectFiles(spark, dir, "k", 0, 1000)
    assert(total === 5 && kept.size === 5,
      s"manifest should hold 5 rows covering everything: $total/${kept.size}")
    // no-drift: pruned read over the compacted layout == the full union
    val expect = mk(0, 4400).filter(col("k") >= 10 && col("k") <= 19)
    val pruned = Lakehouse.prunedRead(spark, dir, "k", 10, 19)
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty,
      "compaction drifted the data")
    // idempotent: a second pass finds at most the one merged file -> no-op
    assert(Lakehouse.compact(spark, dir, Seq("k", "t"), 500, 1) === ((0, 0)))
  }

  test("lakehouse: pruned read == full filtered scan for a seeded sweep of ranges") {
    import graft.operators.Lakehouse
    // one clustered write, many predicates: fractional / integral /
    // inverted-empty / fully-out-of-range / all-covering bounds must ALL
    // reproduce the full scan exactly — file pruning is a superset filter
    // whatever the residual predicate's shape (incl. the ceil/floor
    // tightening of fractional bounds on this integral column)
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-sweep").toString
    val ev = graft.core.EventTime.withTsUs(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .select(col("user_id"), col("event_type"), col("ts_us"))
    Lakehouse.writeClustered(ev, dir, Seq("user_id", "ts_us"), files = 8)
    val full = spark.read.parquet(s"$dir/data")
    val rnd = new scala.util.Random(20260814)
    val ranges = Seq((0.0, 14.0), (14.0, 14.0), (7.0, 3.0), (100.0, 200.0),
        (-5.0, -1.0), (0.5, 6.5), (3.9999, 4.0001)) ++
      Seq.fill(12)((rnd.nextDouble() * 16 - 1, rnd.nextDouble() * 16 - 1))
    for ((lo, hi) <- ranges) {
      val pruned = Lakehouse.prunedRead(spark, dir, "user_id", lo, hi)
      val expect = full.filter(col("user_id") >= lo && col("user_id") <= hi)
      val (nP, nE) = (pruned.count(), expect.count())
      assert(nP === nE, s"range [$lo,$hi]: pruned $nP rows, full scan $nE")
      assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty,
        s"range [$lo,$hi]: pruned read drifted from full scan")
    }
    // 2-D conjunctions (the reason for z-order over a plain sort): exact
    // over both ranges, and the second dimension must ELIMINATE more
    // files than the user_id range alone
    val tsB = full.agg(min(col("ts_us")), max(col("ts_us"))).head()
    val (t0, t1) = (tsB.getLong(0).toDouble, tsB.getLong(1).toDouble)
    val tsMid = (t0 + (t1 - t0) * 0.3, t0 + (t1 - t0) * 0.5)
    for ((ulo, uhi) <- Seq((0.0, 14.0), (4.0, 7.0), (2.0, 11.0))) {
      val rangesTwoD = Seq(("user_id", ulo, uhi), ("ts_us", tsMid._1, tsMid._2))
      val pruned = Lakehouse.prunedReadMulti(spark, dir, rangesTwoD)
      val expect = full.filter(col("user_id") >= ulo && col("user_id") <= uhi &&
        col("ts_us") >= tsMid._1 && col("ts_us") <= tsMid._2)
      assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty,
        s"2D range user[$ulo,$uhi] x ts drifted from full scan")
      val oneD = Lakehouse.selectFiles(spark, dir, "user_id", ulo, uhi)._1.size
      val twoD = Lakehouse.selectFilesMulti(spark, dir, rangesTwoD)._1.size
      assert(twoD < oneD,
        s"adding the ts range pruned nothing extra ($twoD vs $oneD files) — " +
          "the layout is not multi-dimension clustered")
    }
  }

  test("lakehouse: pinned snapshot reads stay consistent through compact; vacuum honors retention") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-log").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      pmod(col("id"), lit(50)).as("k"), col("id").as("t"))
    Lakehouse.writeClustered(mk(0, 2000), dir, Seq("k", "t"), files = 2)
    Lakehouse.appendClustered(mk(2000, 2100), dir, Seq("k", "t"), files = 1)
    Lakehouse.appendClustered(mk(2100, 2200), dir, Seq("k", "t"), files = 1)
    assert(Lakehouse.latestVersion(spark, dir) === 2L)
    // pin the pre-compact snapshot the way a reader that resolved
    // "latest" a moment before the compact commit would
    val pinned = Lakehouse.manifestAt(spark, dir, 2)
      .select(col("file")).collect().map(_.getString(0)).toSeq
    val truth = mk(0, 2200).filter(col("k") >= 10 && col("k") <= 19)
    val (c, w) = Lakehouse.compact(spark, dir, Seq("k", "t"),
      minRows = 500, files = 1)
    assert(c === 2 && w === 1, s"compacted $c -> $w")
    assert(Lakehouse.latestVersion(spark, dir) === 3L)
    // the pinned reader sees EXACTLY the old snapshot — every file it
    // references still exists (compact defers deletes to vacuum), so the
    // read is complete and consistent, never a mix of old and new
    val oldRead = spark.read.parquet(pinned: _*)
      .filter(col("k") >= 10 && col("k") <= 19)
    assert(oldRead.exceptAll(truth).isEmpty && truth.exceptAll(oldRead).isEmpty,
      "pinned pre-compact snapshot drifted")
    // the live reader sees exactly the new snapshot
    val liveRead = Lakehouse.prunedRead(spark, dir, "k", 10, 19)
    assert(liveRead.exceptAll(truth).isEmpty && truth.exceptAll(liveRead).isEmpty,
      "post-compact live read drifted")
    // time travel: the version-pinned read API replays v2 exactly
    val tt = Lakehouse.prunedReadAt(spark, dir, 2, "k", 10, 19)
    assert(tt.exceptAll(truth).isEmpty && truth.exceptAll(tt).isEmpty,
      "prunedReadAt(v2) drifted from the pre-compact truth")
    // the history surface: create + 2 appends + compact, live counts
    val h = Lakehouse.history(spark, dir).orderBy(col("version")).collect()
    assert(h.map(_.getString(1)).toSeq ===
      Seq("create", "append", "append", "compact"))
    assert(h.last.getAs[Long]("n_files") === 3L &&
      h.last.getAs[Long]("n_rows") === 2200L,
      s"live version should report 3 files / 2200 rows, got ${h.last}")
    // a 2-version retention keeps the pinned snapshot's files alive
    val (r2, _) = Lakehouse.vacuum(spark, dir, retainVersions = 2)
    assert(r2 === 0, s"vacuum(retain=2) deleted $r2 files still referenced by v2")
    val oldRead2 = spark.read.parquet(pinned: _*)
      .filter(col("k") >= 10 && col("k") <= 19)
    assert(oldRead2.exceptAll(truth).isEmpty && truth.exceptAll(oldRead2).isEmpty,
      "retained snapshot became unreadable after vacuum(retain=2)")
    // moving the window past v2 reclaims exactly the compacted originals
    val (r1, _) = Lakehouse.vacuum(spark, dir, retainVersions = 1)
    assert(r1 === 2, s"vacuum(retain=1) reclaimed $r1 files, expected the 2 small appends")
    val liveRead2 = Lakehouse.prunedRead(spark, dir, "k", 10, 19)
    assert(liveRead2.exceptAll(truth).isEmpty && truth.exceptAll(liveRead2).isEmpty,
      "live read drifted after vacuum")
    // vacuumed versions keep their identity row AND their counts (the
    // counts live in the commit marker, which vacuum preserves) — only
    // their snapshots stop being readable
    val h2 = Lakehouse.history(spark, dir).orderBy(col("version")).collect()
    assert(h2.length === 4 && h2.forall(r =>
      !r.isNullAt(r.fieldIndex("n_files")) && !r.isNullAt(r.fieldIndex("n_rows"))),
      "vacuum must keep marker-recorded counts for superseded versions")
    assert(h2.last.getAs[Long]("n_files") === 3L &&
      h2.last.getAs[Long]("n_rows") === 2200L)
    intercept[Exception](
      Lakehouse.prunedReadAt(spark, dir, 2, "k", 10, 19).collect())
  }

  test("lakehouse: vacuum sweeps orphan data files and crashed-attempt versions") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-orphan").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      pmod(col("id"), lit(50)).as("k"), col("id").as("t"))
    Lakehouse.writeClustered(mk(0, 1000), dir, Seq("k", "t"), files = 2)
    // plant an orphan data file (what a crashed append leaves behind:
    // bytes on disk, no manifest row) and a marker-less version dir (a
    // crashed commit attempt)
    val dataDir = new java.io.File(s"$dir/data")
    val donor = dataDir.listFiles().filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(donor.toPath,
      dataDir.toPath.resolve("part-orphan-crashed-append.snappy.parquet"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_log/v0000000007"))
    // and the staging a crashed batch write and a crashed commit leave
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_stage-crashed/part-x"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_log/_tmp-crashed/manifest"))
    // reads go through the manifest's explicit file list, so no plant is
    // visible — and the marker-less dir is not "latest"
    assert(Lakehouse.latestVersion(spark, dir) === 0L)
    val truth = mk(0, 1000).filter(col("k") >= 10 && col("k") <= 19)
    val before = Lakehouse.prunedRead(spark, dir, "k", 10, 19)
    assert(before.exceptAll(truth).isEmpty && truth.exceptAll(before).isEmpty,
      "orphan file leaked into a manifest-pruned read")
    val (reclaimed, prunedManifests) = Lakehouse.vacuum(spark, dir)
    assert(reclaimed === 1, s"vacuum reclaimed $reclaimed files, expected the 1 orphan")
    assert(prunedManifests === 0)
    assert(!dataDir.listFiles().exists(_.getName.contains("orphan")),
      "orphan data file survived vacuum")
    assert(!new java.io.File(s"$dir/_log/v0000000007").exists(),
      "crashed-attempt version dir survived vacuum")
    assert(!new java.io.File(s"$dir/_stage-crashed").exists() &&
      !new java.io.File(s"$dir/_log/_tmp-crashed").exists(),
      "crashed staging survived vacuum")
    val after = Lakehouse.prunedRead(spark, dir, "k", 10, 19)
    assert(after.exceptAll(truth).isEmpty && truth.exceptAll(after).isEmpty,
      "vacuum changed a live read")
    // a crashed commit attempt at the NEXT version (dir present, no
    // marker) is reclaimed by the next writer itself — not a wedge
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_log/v0000000001/manifest"))
    Lakehouse.appendClustered(mk(1000, 1100), dir, Seq("k", "t"), files = 1)
    assert(Lakehouse.latestVersion(spark, dir) === 1L)
    val truth2 = mk(0, 1100).filter(col("k") >= 10 && col("k") <= 19)
    val after2 = Lakehouse.prunedRead(spark, dir, "k", 10, 19)
    assert(after2.exceptAll(truth2).isEmpty && truth2.exceptAll(after2).isEmpty,
      "append after commit-debris reclaim drifted")
  }

  test("lakehouse: deleteWhere rewrites only matching files; snapshots, vacuum, changes feed stay honest") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-delete").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      pmod(col("id"), lit(100)).as("k"), col("id").as("t"))
    Lakehouse.writeClustered(mk(0, 4000), dir, Seq("k", "t"), files = 4)
    Lakehouse.appendClustered(mk(4000, 4200), dir, Seq("k", "t"), files = 1)
    val vPre = Lakehouse.latestVersion(spark, dir)
    val preFiles = Lakehouse.manifestAt(spark, dir, vPre)
      .select(col("file")).collect().map(_.getString(0)).toSeq
    val (rw, nDel) = Lakehouse.deleteWhere(spark, dir, col("k") === 7, files = 1)
    assert(nDel === 42L, s"deleted $nDel rows")  // ids ≡ 7 (mod 100) in [0,4200)
    assert(rw >= 1 && rw < 5, s"rewrote $rw files — COW must touch only " +
      "the z-files whose range contains k=7")
    val truth = mk(0, 4200).filter(col("k") =!= 7)
    val live = Lakehouse.prunedRead(spark, dir, "k", 0, 99)
    assert(live.exceptAll(truth).isEmpty && truth.exceptAll(live).isEmpty,
      "post-delete live read drifted")
    assert(Lakehouse.history(spark, dir).collect()
      .map(_.getString(1)).contains("delete"))
    // a reader pinned pre-delete still sees the deleted rows (deletes
    // defer to vacuum like every other rewrite)
    assert(spark.read.parquet(preFiles: _*)
      .filter(col("k") === 7).count() === 42L)
    // the changes feed is an APPEND feed: the delete rewrite is excluded,
    // so the feed is the original ingests verbatim (no retraction)
    val feed = Lakehouse.changesSince(spark, dir, -1)
    val truthFeed = mk(0, 4200)
    assert(feed.exceptAll(truthFeed).isEmpty && truthFeed.exceptAll(feed).isEmpty,
      "delete rewrite leaked into the changes feed")
    // no-match delete: no-op, no commit
    val v = Lakehouse.latestVersion(spark, dir)
    assert(Lakehouse.deleteWhere(spark, dir, col("k") === 12345) === ((0, 0L)))
    assert(Lakehouse.latestVersion(spark, dir) === v)
    // vacuum reclaims exactly the rewritten originals; live unchanged
    val (freed, _) = Lakehouse.vacuum(spark, dir)
    assert(freed === rw, s"vacuum reclaimed $freed, expected $rw")
    val live2 = Lakehouse.prunedRead(spark, dir, "k", 0, 99)
    assert(live2.exceptAll(truth).isEmpty && truth.exceptAll(live2).isEmpty,
      "vacuum after delete drifted the live read")
    // wiping every row leaves a VALID empty table, not a broken log
    val (_, nAll) = Lakehouse.deleteWhere(spark, dir, lit(true))
    assert(nAll === truth.count())
    assert(Lakehouse.prunedRead(spark, dir, "k", 0, 99).isEmpty,
      "wipe-delete left rows behind")
  }

  test("lakehouse: upsertByKey replaces matched keys wholesale, inserts new ones, rewrites only matched files") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-upsert").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 7).as("t"),
      (col("id") * 2).cast("double").as("v"))
    Lakehouse.writeClustered(mk(0, 2000), dir, Seq("k", "t"), files = 4)
    Lakehouse.appendClustered(mk(2000, 2200), dir, Seq("k", "t"), files = 1)
    val preFiles = Lakehouse.readManifest(spark, dir)
      .select(col("file")).collect().map(_.getString(0)).toSeq
    // k=5 replaced WHOLESALE by two rows, k=2100 by one, k=9999 inserted
    val updates = Seq((5L, 0L, -1.0), (5L, 1L, -3.0), (2100L, 0L, -5.0),
      (9999L, 0L, -7.0)).toDF("k", "t", "v")
    val (rw, replaced, upserted) =
      Lakehouse.upsertByKey(spark, dir, updates, Seq("k"), files = 1)
    assert(replaced === 2L && upserted === 4L,
      s"replaced $replaced, upserted $upserted")
    assert(rw >= 1 && rw <= 2, s"rewrote $rw files — COW must touch only " +
      "the files whose z-range contains a matched key")
    val expected = mk(0, 2200).filter(!col("k").isin(5L, 2100L))
      .unionByName(updates)
    val live = Lakehouse.prunedRead(spark, dir, "k", 0, 1e7)
    assert(live.exceptAll(expected).isEmpty && expected.exceptAll(live).isEmpty,
      "post-upsert live read drifted")
    assert(live.filter(col("k") === 5L).count() === 2L,
      "wholesale replacement must carry BOTH update rows for the key")
    // pinned pre-upsert snapshot still holds the old row
    val pinned = spark.read.parquet(preFiles: _*).filter(col("k") === 5L)
    assert(pinned.count() === 1L &&
      pinned.head().getDouble(2) === 10.0, "pinned snapshot changed")
    // the append feed: the original ingests plus the upsert's PURE
    // INSERTS (k=9999) — survivor re-files and update-postimages
    // (k=5, k=2100) never feed
    assert(Lakehouse.history(spark, dir).collect()
      .map(_.getString(1)).contains("upsert"))
    val feed = Lakehouse.changesSince(spark, dir, -1)
    val truthFeed = mk(0, 2200).unionByName(updates.filter(col("k") === 9999L))
    assert(feed.exceptAll(truthFeed).isEmpty && truthFeed.exceptAll(feed).isEmpty,
      "feed must be ingests + pure inserts, nothing else")
    // schema drift and empty updates both stay safe
    intercept[IllegalArgumentException](Lakehouse.upsertByKey(spark, dir,
      updates.withColumn("extra", lit(1)), Seq("k")))
    val v = Lakehouse.latestVersion(spark, dir)
    assert(Lakehouse.upsertByKey(spark, dir,
      Seq.empty[(Long, Long, Double)].toDF("k", "t", "v"),
      Seq("k")) === ((0, 0L, 0L)))
    assert(Lakehouse.latestVersion(spark, dir) === v)
  }

  test("lakehouse: insert-all into an emptied table records the BATCH's schema") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-eschema").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 7).as("t"),
      (col("id") * 10).cast("double").as("v"))
    Lakehouse.writeClustered(mk(0, 100), dir, Seq("k", "t"), files = 1) // v0
    Lakehouse.deleteWhere(spark, dir,
      org.apache.spark.sql.functions.lit(true), files = 1)             // v1: empty
    // the insert-all path: the batch DEFINES the schema — a widened
    // batch's added column must survive into the marker and every read
    val ups = mk(0, 50).withColumn("w", col("k") * 2)
    Lakehouse.upsertByKey(spark, dir, ups, Seq("k"), files = 1)        // v2
    val sch = Lakehouse.dataSchema(spark, dir).get
    assert(sch.fieldNames.contains("w"),
      s"marker schema lost the batch's added column: ${sch.simpleString}")
    val live = Lakehouse.prunedRead(spark, dir, "k", 0, 1e9)
    assert(live.columns.contains("w"))
    assert(live.count() === 50 &&
      live.filter(col("w") === col("k") * 2).count() === 50,
      "the added column's values did not survive the read")
  }

  test("lakehouse: upsertByKey refuses an over-contract update batch at the boundary") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-cap").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 7).as("t"),
      (col("id") * 10).cast("double").as("v"))
    Lakehouse.writeClustered(mk(0, 200), dir, Seq("k", "t"), files = 2)
    val ups = mk(100, 300).withColumn("v", col("v") * -1) // 200 distinct keys
    // over the cap: fail loudly BEFORE any probe/collect, nothing commits
    val v0 = Lakehouse.latestVersion(spark, dir)
    val e = intercept[IllegalArgumentException](
      Lakehouse.upsertByKey(spark, dir, ups, Seq("k"), maxProbeKeys = 50))
    assert(e.getMessage.contains("maxProbeKeys"), e.getMessage)
    assert(Lakehouse.latestVersion(spark, dir) === v0,
      "a refused over-cap upsert must not commit")
    // at/under the cap: the same batch merges exactly
    val (rw, repl, ins) = Lakehouse.upsertByKey(spark, dir, ups, Seq("k"),
      maxProbeKeys = 200)
    assert(rw >= 1 && repl === 100L && ins === 200L,
      s"upsert under the cap drifted: ($rw, $repl, $ins)")
    val live = Lakehouse.prunedRead(spark, dir, "k", 0, 1e9)
    val truth = mk(0, 100).unionByName(ups)
    assert(live.exceptAll(truth).isEmpty && truth.exceptAll(live).isEmpty,
      "post-merge table drifted")
  }

  test("lakehouse: largeBatch upsert merges shuffle-side, identical to the broadcast path") {
    import graft.operators.Lakehouse
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 7).as("t"),
      (col("id") * 10).cast("double").as("v"))
    val ups = mk(100, 300).withColumn("v", col("v") * -1) // 200 distinct keys
    // the same merge on twin tables: broadcast path vs shuffle path —
    // identical results row for row, and the shuffle path ignores the
    // key cap (its whole point: no driver-size dependence to guard)
    val Seq(dirA, dirB) = Seq("a", "b").map { s =>
      val d = java.nio.file.Files.createTempDirectory(s"graft-lh-lb$s").toString
      Lakehouse.writeClustered(mk(0, 200), d, Seq("k", "t"), files = 2)
      d
    }
    val ra = Lakehouse.upsertByKey(spark, dirA, ups, Seq("k"))
    val rb = Lakehouse.upsertByKey(spark, dirB, ups, Seq("k"),
      maxProbeKeys = 1, largeBatch = true) // cap would refuse; path ignores it
    assert(ra === rb, s"paths disagree: broadcast $ra vs shuffle $rb")
    assert(rb._2 === 100L && rb._3 === 200L, s"merge drifted: $rb")
    val a = Lakehouse.prunedRead(spark, dirA, "k", 0, 1e9)
    val b = Lakehouse.prunedRead(spark, dirB, "k", 0, 1e9)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "shuffle-side merge produced a different table than the broadcast path")
    val truth = mk(0, 100).unionByName(ups)
    assert(b.exceptAll(truth).isEmpty && truth.exceptAll(b).isEmpty,
      "shuffle-side merge drifted from truth")
    // the changes feed sees exactly the PURE inserts, same as broadcast
    val feed = Lakehouse.changesSince(spark, dirB, 0)
    val wantIns = ups.filter(col("k") >= 200)
    assert(feed.exceptAll(wantIns).isEmpty && wantIns.exceptAll(feed).isEmpty,
      "largeBatch upsert fed the wrong rows downstream")
    // no-match batch: all-insert path, still shuffle-side
    val r0 = Lakehouse.upsertByKey(spark, dirB, mk(1000, 1050), Seq("k"),
      maxProbeKeys = 1, largeBatch = true)
    assert(r0 === ((0, 0L, 50L)), s"no-match largeBatch merge drifted: $r0")
  }

  test("lakehouse: deleteWhere with CDF opens the affected files once per pass (scan-count pin)") {
    import graft.operators.Lakehouse
    // run the whole table through the counting cntfs:// scheme (file://
    // semantics + an open() counter on tracked names), so the pin
    // measures SCANS OF THE AFFECTED FILES directly — immune to
    // compression ratios, block caching, and byte-stat accounting
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.cntfs.impl", classOf[CountingLocalFs].getName)
    conf.set("fs.AbstractFileSystem.cntfs.impl",
      classOf[CountingLocalAbstractFs].getName)
    val dir = "cntfs://" +
      java.nio.file.Files.createTempDirectory("graft-lh-1scan").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 10).as("t"),
      (col("id") * 0.5).as("v"))
    Lakehouse.writeClustered(mk(0, 20000), dir, Seq("k", "t"), files = 2)
    try {
      CountingLocalFs.tracked = Lakehouse.readManifest(spark, dir)
        .select(col("file")).collect().map(_.getString(0).split('/').last)
        .toSet
      assert(CountingLocalFs.tracked.size === 2)
      // the measurement UNIT: how many opens ONE full scan of the data
      // files costs under this reader (footer + data opens per file),
      // measured empirically so reader internals cancel out of the ratio
      CountingLocalFs.opens.set(0)
      spark.read.parquet(s"$dir/data")
        .agg(sum(col("k")), sum(col("t")), sum(col("v"))).collect()
      val unit = CountingLocalFs.opens.get()
      assert(unit >= 2, s"open accounting broke: one scan = $unit opens")
      // delete 90% with CDF on: every file is affected; the probe scans
      // once, the materializing read scans once, and the survivor +
      // sidecar writes must split from the cached blocks WITHOUT
      // reopening the files — 2 scans total, not one per output
      CountingLocalFs.opens.set(0)
      val (rw, del) = Lakehouse.deleteWhere(spark, dir,
        col("t") =!= 3L, files = 1, cdf = true)
      val spent = CountingLocalFs.opens.get()
      assert(rw === 2 && del === 18000L, s"delete drifted: ($rw, $del)")
      assert(spent >= unit, // sanity: the counter saw the mutation
        s"open accounting broke: spent $spent < unit $unit")
      assert(spent <= 2 * unit + 1,
        s"deleteWhere opened the affected files $spent times (one full " +
          s"scan = $unit) — they are being re-scanned per output " +
          "instead of materialized once")
      // and the feed still retracts exactly the deleted rows
      val feed = Lakehouse.changesDetailed(spark, dir,
        Lakehouse.latestVersion(spark, dir) - 1)
      assert(feed.filter(col("_change_type") === "delete").count() === 18000L)
      // UPSERT gets the same single-scan contract: fresh table, every
      // file affected; the probe scans once (key columns), the survivor
      // rewrite materializes once — postimage/insert batches split from
      // the checkpointed update frame without touching the files
      val dir2 = "cntfs://" +
        java.nio.file.Files.createTempDirectory("graft-lh-1scan-u").toString
      Lakehouse.writeClustered(mk(0, 20000), dir2, Seq("k", "t"), files = 2)
      CountingLocalFs.tracked = Lakehouse.readManifest(spark, dir2)
        .select(col("file")).collect().map(_.getString(0).split('/').last)
        .toSet
      CountingLocalFs.opens.set(0)
      spark.read.parquet(s"$dir2/data")
        .agg(sum(col("k")), sum(col("t")), sum(col("v"))).collect()
      val unit2 = CountingLocalFs.opens.get()
      CountingLocalFs.opens.set(0)
      val ups = mk(10000, 25000).withColumn("v", col("v") * -1)
      val (rw2, repl2, ins2) = Lakehouse.upsertByKey(spark, dir2, ups,
        Seq("k"), files = 1)
      val spent2 = CountingLocalFs.opens.get()
      assert(rw2 === 2 && repl2 === 10000L && ins2 === 15000L,
        s"upsert drifted: ($rw2, $repl2, $ins2)")
      assert(spent2 <= 2 * unit2 + 1,
        s"upsertByKey opened the affected files $spent2 times (one full " +
          s"scan = $unit2) — the rewrite re-scans per z-write pass " +
          "instead of materializing once")
      // COMPACT gets the TIGHTEST pin: its probe is manifest-only (no
      // data read decides the small-file set), so the whole compaction
      // must open the small files exactly once — the materializing read
      // before the z-write; the bounds/sampling/write passes all split
      // from the cached blocks
      val dir3 = "cntfs://" +
        java.nio.file.Files.createTempDirectory("graft-lh-1scan-c").toString
      Lakehouse.writeClustered(mk(0, 20000), dir3, Seq("k", "t"), files = 2)
      for (b <- 0 until 3)
        Lakehouse.appendClustered(
          mk(20000 + b * 100, 20000 + (b + 1) * 100), dir3,
          Seq("k", "t"), files = 1)
      val m3 = Lakehouse.readManifest(spark, dir3)
      val smallNames = m3.filter(col("n_rows") < 1000)
        .select(col("file")).collect()
        .map(_.getString(0).split('/').last).toSet
      assert(smallNames.size === 3)
      CountingLocalFs.tracked = smallNames
      CountingLocalFs.opens.set(0)
      val smallPaths = m3.filter(col("n_rows") < 1000)
        .select(col("file")).collect().map(_.getString(0))
      spark.read.parquet(smallPaths: _*)
        .agg(sum(col("k")), sum(col("t")), sum(col("v"))).collect()
      val unit3 = CountingLocalFs.opens.get()
      CountingLocalFs.opens.set(0)
      val (cIn, cOut) = Lakehouse.compact(spark, dir3, Seq("k", "t"),
        minRows = 1000, files = 1)
      val spent3 = CountingLocalFs.opens.get()
      assert(cIn === 3 && cOut === 1, s"compact drifted: ($cIn, $cOut)")
      assert(spent3 <= unit3 + 1,
        s"compact opened the small files $spent3 times (one full scan " +
          s"= $unit3) — the z-write re-scans them per pass instead of " +
          "materializing once")
    } finally {
      CountingLocalFs.tracked = Set.empty
      CountingLocalFs.opens.set(0)
    }
  }

  test("lakehouse: changesDetailed past the vacuum boundary fails loudly; a re-sync resumes the feed") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-mirror").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 7).as("t"),
      (col("id") * 10).cast("double").as("v"))
    Lakehouse.writeClustered(mk(0, 400), dir, Seq("k", "t"), files = 4) // v0
    val v0 = Lakehouse.latestVersion(spark, dir)
    // a consumer at v0 FALLS BEHIND: appends land and vacuum's retention
    // window moves past them — reading the feed from v0 must fail with
    // the retention contract, not feed a partial window
    Lakehouse.appendClustered(mk(400, 450), dir, Seq("k", "t"), files = 1) // v1
    Lakehouse.appendClustered(mk(450, 500), dir, Seq("k", "t"), files = 1) // v2
    Lakehouse.vacuum(spark, dir, retainVersions = 1)
    val eBehind = intercept[IllegalStateException](
      Lakehouse.changesDetailed(spark, dir, v0).collect())
    assert(eBehind.getMessage.contains("retention window"),
      eBehind.getMessage)
    // RECOVERY: re-sync from the latest snapshot, then resume the feed
    val resynced = Lakehouse.latestVersion(spark, dir)
    Lakehouse.appendClustered(mk(500, 550), dir, Seq("k", "t"), files = 1) // v3
    val feed = Lakehouse.changesDetailed(spark, dir, resynced)
      .drop("_change_type", "_version")
    val want = mk(500, 550)
    assert(feed.exceptAll(want).isEmpty && want.exceptAll(feed).isEmpty,
      "the resumed feed after a re-sync drifted")
  }

  test("lakehouse: history is a pure marker replay — zero Spark jobs") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-hist").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      pmod(col("id"), lit(50)).as("k"), col("id").as("t"))
    Lakehouse.writeClustered(mk(0, 500), dir, Seq("k", "t"), files = 2)
    Lakehouse.appendClustered(mk(500, 600), dir, Seq("k", "t"), files = 1)
    Lakehouse.compact(spark, dir, Seq("k", "t"), minRows = 1000, files = 1)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val h = Lakehouse.history(spark, dir).collect()
      assert(h.length === 3)
      // counts come from the commit markers, not manifest aggregations
      // (counts are SNAPSHOT totals: the append's manifest holds all 3
      // files / 600 rows, the compaction folds them into 1 file)
      assert(h.map(r => (r.getLong(0), r.getString(1), r.getAs[Long]("n_files"),
        r.getAs[Long]("n_rows"))).sortBy(_._1).toSeq ===
        Seq((0L, "create", 2L, 500L), (1L, "append", 3L, 600L),
          (2L, "compact", 1L, 600L)))
      // listener delivery is async — give the bus a moment, then demand
      // silence: DESCRIBE HISTORY must not have launched a single job
      Thread.sleep(1500)
      assert(jobs.get() === 0,
        s"history() launched ${jobs.get()} Spark jobs — it must be a " +
          "driver-side marker replay")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("lakehouse: append and upsert into an emptied table (post wipe-delete)") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-empty").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      pmod(col("id"), lit(50)).as("k"), col("id").as("t"))
    Lakehouse.writeClustered(mk(0, 500), dir, Seq("k", "t"), files = 2)
    val (_, wiped) = Lakehouse.deleteWhere(spark, dir, lit(true))
    assert(wiped === 500L)
    // history over the empty version must not throw (null-sum guard)
    assert(Lakehouse.history(spark, dir).collect().length === 2)
    // append into the empty table: no live file to schema-probe, the
    // batch defines the schema
    Lakehouse.appendClustered(mk(500, 600), dir, Seq("k", "t"), files = 1)
    val after = Lakehouse.prunedRead(spark, dir, "k", 0, 49)
    val truth = mk(500, 600)
    assert(after.exceptAll(truth).isEmpty && truth.exceptAll(after).isEmpty,
      "append into an emptied table drifted")
    // wipe again, then upsert = insert-all
    Lakehouse.deleteWhere(spark, dir, lit(true))
    val ups = mk(600, 650)
    val (rw, repl, ins) = Lakehouse.upsertByKey(spark, dir, ups, Seq("k", "t"))
    assert(rw === 0 && repl === 0L && ins === 50L,
      s"upsert into empty table: ($rw, $repl, $ins)")
    val live = Lakehouse.prunedRead(spark, dir, "k", 0, 49)
    assert(live.exceptAll(ups).isEmpty && ups.exceptAll(live).isEmpty,
      "insert-all upsert into an emptied table drifted")
  }

  test("lakehouse: non-deterministic updates upsert exactly-once; non-deterministic delete pred refused") {
    import graft.operators.Lakehouse
    import org.apache.spark.sql.{Row, types => T}
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-ndet").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 7).as("t"))
    Lakehouse.writeClustered(mk(0, 1000), dir, Seq("k", "t"), files = 4)
    // an updates frame that yields DIFFERENT rows on every evaluation
    // (the re-read-of-mutating-storage hazard): evaluation c inserts keys
    // [10000 + 100c, 10000 + 100c + 50). Without materialization the
    // probe, rewrite, and count would each see a different key band —
    // localCheckpoint at entry pins exactly one evaluation. The counter
    // lives in a top-level object: a Scala object resolves as the JVM
    // singleton on the (local-mode) executor, where a captured field
    // would deserialize as a per-task copy and never tick.
    NdetEvalCounter.n.set(0)
    val rdd = spark.sparkContext.parallelize(0 until 50, 1).mapPartitions { it =>
      val c = NdetEvalCounter.n.incrementAndGet() // shared JVM in local mode
      it.map(i => Row(10000L + 100L * c + i, (i % 7).toLong))
    }
    val schema = T.StructType(Seq(T.StructField("k", T.LongType, false),
      T.StructField("t", T.LongType, false)))
    val updates = spark.createDataFrame(rdd, schema)
    val (rw, repl, ins) = Lakehouse.upsertByKey(spark, dir, updates, Seq("k"))
    assert(repl === 0L && ins === 50L, s"($rw, $repl, $ins)")
    val live = Lakehouse.prunedRead(spark, dir, "k", 0, 1e9).cache()
    try {
      // exactly-once: every key appears once, and the 50 inserted keys
      // all come from ONE evaluation's band (a probe/rewrite divergence
      // would mix bands or duplicate keys)
      assert(live.groupBy(col("k")).count().filter(col("count") > 1).isEmpty,
        "a key appears more than once after the upsert")
      val bands = live.filter(col("k") >= 10000L)
        .select(((col("k") - 10000L) / 100L).cast("long").as("band"))
        .distinct().collect().map(_.getLong(0)).toSeq
      assert(bands.size === 1,
        s"inserted keys span evaluation bands $bands — the updates frame " +
          "was evaluated more than once")
      assert(live.count() === 1050L)
    } finally live.unpersist()
    // a non-deterministic DELETE predicate is refused up front
    val e = intercept[IllegalArgumentException](
      Lakehouse.deleteWhere(spark, dir, rand() < 0.5))
    assert(e.getMessage.contains("non-deterministic"))
  }

  test("lakehouse: pruneRanges shrinks the COW probe below the table's file count") {
    import graft.operators.Lakehouse
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      pmod(col("id"), lit(100)).as("k"), col("id").as("t"))
    val dirA = java.nio.file.Files.createTempDirectory("graft-lh-prA").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-lh-prB").toString
    Seq(dirA, dirB).foreach(d =>
      Lakehouse.writeClustered(mk(0, 8000), d, Seq("k", "t"), files = 8))
    // delete a clustered-column band: with pruneRanges the probe scans
    // only the manifest-surviving files, without it the whole table
    val predicate = col("k") >= 10 && col("k") <= 19
    val (rwA, delA) = Lakehouse.deleteWhere(spark, dirA, predicate,
      files = 1, pruneRanges = Seq(("k", 10, 19)))
    val probedA = Lakehouse.lastProbeScannedFiles
    val (rwB, delB) = Lakehouse.deleteWhere(spark, dirB, predicate, files = 1)
    val probedB = Lakehouse.lastProbeScannedFiles
    assert(probedB === 8, s"unpruned probe scanned $probedB of 8 files")
    assert(probedA < 8 && probedA >= rwA,
      s"pruned probe scanned $probedA of 8 files — manifest pruning did " +
        "not reach the COW probe")
    assert(delA === delB && rwA === rwB)
    val a = Lakehouse.prunedRead(spark, dirA, "k", 0, 99)
    val b = Lakehouse.prunedRead(spark, dirB, "k", 0, 99)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "pruned-probe delete drifted from the full-probe delete")
    // same for the upsert probe (keys bounded on the clustered column)
    val ups = mk(0, 8000).filter(col("k") === 42).limit(10)
      .withColumn("t", col("t") + 1000000L)
    val (rwU, replU, insU) = Lakehouse.upsertByKey(spark, dirA,
      ups.localCheckpoint(), Seq("k", "t"), files = 1,
      pruneRanges = Seq(("k", 42, 42)))
    assert(Lakehouse.lastProbeScannedFiles < 8,
      "upsert probe ignored pruneRanges")
    assert(insU === 10L && replU === 0L)
    // pruning reaches the SHUFFLE-side probe too: the largeBatch path
    // builds its candidate set from the same manifest selection, so
    // opting out of the broadcast contract must not forfeit file skipping
    val ups2 = mk(0, 8000).filter(col("k") === 43).limit(10)
      .withColumn("t", col("t") + 2000000L)
    val (_, replL, insL) = Lakehouse.upsertByKey(spark, dirB,
      ups2.localCheckpoint(), Seq("k", "t"), files = 1,
      pruneRanges = Seq(("k", 43, 43)), largeBatch = true)
    assert(Lakehouse.lastProbeScannedFiles < 8,
      "largeBatch upsert probe ignored pruneRanges")
    assert(insL === 10L && replL === 0L)
  }

  test("lakehouse: vacuum survives a retention window that re-widens past pruned manifests") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-vac").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      pmod(col("id"), lit(50)).as("k"), col("id").as("t"))
    Lakehouse.writeClustered(mk(0, 500), dir, Seq("k", "t"), files = 2)   // v0
    Lakehouse.appendClustered(mk(500, 600), dir, Seq("k", "t"), files = 1) // v1
    Lakehouse.appendClustered(mk(600, 700), dir, Seq("k", "t"), files = 1) // v2
    Lakehouse.vacuum(spark, dir, retainVersions = 1) // prunes v0, v1 manifests
    Lakehouse.appendClustered(mk(700, 800), dir, Seq("k", "t"), files = 1) // v3
    // retained window now covers v1..v3, but v1's manifest is gone — the
    // re-widened vacuum must skip it, not wedge until an unrelated commit
    val (_, pruned) = Lakehouse.vacuum(spark, dir, retainVersions = 3)
    assert(pruned === 0)
    val truth = mk(0, 800)
    val live = Lakehouse.prunedRead(spark, dir, "k", 0, 49)
    assert(live.exceptAll(truth).isEmpty && truth.exceptAll(live).isEmpty,
      "re-widened vacuum broke the live read")
  }

  test("lakehouse: replaceClustered swaps contents atomically; pinned snapshot survives until vacuum") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-repl").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      pmod(col("id"), lit(100)).as("k"), col("id").as("t"))
    Lakehouse.writeClustered(mk(0, 1000), dir, Seq("k", "t"), files = 4) // v0
    val v0 = Lakehouse.latestVersion(spark, dir)
    // the replace RE-CLUSTERS: new contents, t now the leading column
    val fresh = mk(5000, 5400)
    Lakehouse.replaceClustered(fresh, dir, Seq("t", "k"), files = 2)    // v1
    // live read prunes on the NEW clustering and sees only the new rows
    val live = Lakehouse.prunedRead(spark, dir, "t", 0, 1e9)
    assert(live.exceptAll(fresh).isEmpty && fresh.exceptAll(live).isEmpty,
      "replace did not swap the table contents")
    // a reader pinned on v0 still reads the complete OLD snapshot
    val pinned = Lakehouse.prunedReadAt(spark, dir, v0, "k", 0, 99)
    val old = mk(0, 1000)
    assert(pinned.exceptAll(old).isEmpty && old.exceptAll(pinned).isEmpty,
      "the pre-replace snapshot lost rows — replace must be copy-on-write")
    // audit row: op=replace with the new snapshot's totals
    val h = Lakehouse.history(spark, dir).orderBy(col("version")).collect()
    assert(h.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((0L, "create"), (1L, "replace")))
    assert(h.last.getAs[Long]("n_files") === 2L &&
      h.last.getAs[Long]("n_rows") === 400L)
    // the changes feed must NOT surface a whole-table swap as appends
    assert(Lakehouse.changesSince(spark, dir, v0).isEmpty,
      "replace leaked into the incremental changes feed")
    // vacuum reclaims the superseded files; the live read is unharmed
    val (reclaimed, _) = Lakehouse.vacuum(spark, dir, retainVersions = 1)
    assert(reclaimed === 4, s"vacuum reclaimed $reclaimed of 4 old files")
    val live2 = Lakehouse.prunedRead(spark, dir, "t", 0, 1e9)
    assert(live2.exceptAll(fresh).isEmpty && fresh.exceptAll(live2).isEmpty,
      "vacuum after replace broke the live read")
    // an empty replace is refused, fail-loud
    intercept[IllegalArgumentException](
      Lakehouse.replaceClustered(mk(0, 10).filter(lit(false)), dir,
        Seq("t", "k"), files = 1))
  }

  test("lakehouse: a rewrite that lost the race fails loudly with nothing visible") {
    import graft.operators.Lakehouse
    CommitRaceFs.register(spark.sparkContext.hadoopConfiguration)
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 7).as("t"))
    // each op resolves its base, then a second writer's append takes
    // base+1 just before the op's commit rename: the op throws, and the
    // table holds the winner's rows only, with no staging debris
    def lostRace(name: String)(op: String => Any): Unit = {
      val local = java.nio.file.Files.createTempDirectory(s"graft-lh-lost-$name").toString
      val dir = "racefs://" + local
      Lakehouse.writeClustered(mk(0, 400), dir, Seq("k", "t"), files = 2)   // v0
      Lakehouse.appendClustered(mk(400, 450), dir, Seq("k", "t"), files = 1) // v1
      Lakehouse.appendClustered(mk(450, 500), dir, Seq("k", "t"), files = 1) // v2
      CommitRaceFs.arm(CommitRaceFs.Race(() => Lakehouse.appendClustered(
        mk(5000, 5100), dir, Seq("k", "t"), files = 1)))                    // v3
      val e = try intercept[Lakehouse.CommitConflictException](op(dir))
        finally CommitRaceFs.disarm()
      assert(e.getMessage.contains("lost the race for version 3"), s"$name: ${e.getMessage}")
      val h = Lakehouse.history(spark, dir).orderBy(col("version")).collect()
      assert(Lakehouse.latestVersion(spark, dir) === 3L &&
        h.last.getString(1) === "append" && h.last.getAs[Long]("n_rows") === 600L,
        s"$name: the log must end at the other writer's commit")
      val logLs = new java.io.File(s"$local/_log").list().toSeq
      assert(!logLs.exists(_.startsWith("_tmp-")),
        s"$name: the lost commit left staging debris: $logLs")
      val truth = mk(0, 500).unionByName(mk(5000, 5100))
      val live = Lakehouse.prunedRead(spark, dir, "k", 0, 1e9)
      assert(live.exceptAll(truth).isEmpty && truth.exceptAll(live).isEmpty,
        s"$name: the lost commit became visible")
    }
    lostRace("append")(d =>
      Lakehouse.appendClustered(mk(500, 600), d, Seq("k", "t"), files = 1))
    lostRace("compact")(d =>
      Lakehouse.compact(spark, d, Seq("k", "t"), minRows = 100, files = 1))
    lostRace("delete")(d =>
      Lakehouse.deleteWhere(spark, d, col("k") < 100, files = 1))
    lostRace("upsert")(d => Lakehouse.upsertByKey(spark, d,
      mk(90, 110).withColumn("t", lit(-1L)), Seq("k"), files = 1))
    // a manifest committed against a stale base throws before its rename
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-conflict").toString
    Lakehouse.writeClustered(mk(0, 500), dir, Seq("k", "t"), files = 2)
    val staleBase = Lakehouse.latestVersion(spark, dir) // 0
    Lakehouse.appendClustered(mk(500, 600), dir, Seq("k", "t"), files = 1)
    val m = Lakehouse.manifestAt(spark, dir, staleBase)
    intercept[Lakehouse.CommitConflictException](
      Lakehouse.commitVersion(spark, dir, m, "compact", staleBase))
    assert(Lakehouse.latestVersion(spark, dir) === 1L)
    val logLs = new java.io.File(s"$dir/_log").list().toSeq
    assert(!logLs.exists(_.startsWith("_tmp-")),
      s"conflict left staging debris: $logLs")
    val truth = mk(0, 600)
    val live = Lakehouse.prunedRead(spark, dir, "k", 0, 1e9)
    assert(live.exceptAll(truth).isEmpty && truth.exceptAll(live).isEmpty)
  }

  test("lakehouse: an ambiguous commit rename that landed counts once; another writer's marker throws") {
    import graft.operators.Lakehouse
    CommitRaceFs.register(spark.sparkContext.hadoopConfiguration)
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 7).as("t"))
    val local = java.nio.file.Files.createTempDirectory("graft-lh-ambiguous").toString
    val dir = "racefs://" + local
    Lakehouse.writeClustered(mk(0, 400), dir, Seq("k", "t"), files = 2) // v0
    // the rename lands but the client is told the slot exists: the
    // slot's marker carries this commit's token, so the op returns
    // normally, once
    def landsOnce(name: String, want: org.apache.spark.sql.DataFrame)(op: => Any): Unit = {
      val before = Lakehouse.latestVersion(spark, dir)
      CommitRaceFs.arm(CommitRaceFs.Ambiguous(_ => ()))
      try op finally CommitRaceFs.disarm()
      assert(Lakehouse.latestVersion(spark, dir) === before + 1,
        s"$name: the landed commit must count as exactly one version")
      val files = Lakehouse.readManifest(spark, dir)
        .select(col("file")).collect().map(_.getString(0))
      assert(files.distinct.length === files.length,
        s"$name: a manifest row was duplicated")
      val live = Lakehouse.prunedRead(spark, dir, "k", 0, 1e9)
      assert(live.exceptAll(want).isEmpty && want.exceptAll(live).isEmpty,
        s"$name: rows drifted")
    }
    landsOnce("append", mk(0, 500))(
      Lakehouse.appendClustered(mk(400, 500), dir, Seq("k", "t"), files = 1)) // v1
    landsOnce("delete", mk(100, 500))(
      Lakehouse.deleteWhere(spark, dir, col("k") < 100, files = 1))          // v2
    // the same outcome with the landed marker naming another writer: the
    // slot is not this commit's, so it throws
    CommitRaceFs.arm(CommitRaceFs.Ambiguous { vd =>
      val marker = new java.io.File(s"${vd.toUri.getPath}/_commit")
      val props = new java.util.Properties()
      val in = new java.io.FileInputStream(marker)
      try props.load(in) finally in.close()
      props.setProperty("writerToken", "another-writer")
      val out = new java.io.FileOutputStream(marker)
      try props.store(out, null) finally out.close()
    })
    val e = try intercept[Lakehouse.CommitConflictException](
        Lakehouse.appendClustered(mk(500, 600), dir, Seq("k", "t"), files = 1))
      finally CommitRaceFs.disarm()
    assert(e.getMessage.contains("lost the race for version 3"), e.getMessage)
  }

  test("lakehouse: additive schema evolution — added column null-fills old files; drop and retype refused") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-evolve").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 7).as("t"))
    Lakehouse.writeClustered(mk(0, 500), dir, Seq("k", "t"), files = 2) // v0
    // the widened batch carries a NEW string column
    val widened = spark.range(500, 600).select(
      col("id").as("k"), (col("id") % 7).as("t"), lit("b2").as("src"))
    Lakehouse.appendClustered(widened, dir, Seq("k", "t"), files = 1)   // v1
    val live = Lakehouse.prunedRead(spark, dir, "k", 0, 1e9)
    assert(live.columns.toSeq === Seq("k", "t", "src"),
      "the recorded schema must be existing columns then added ones")
    assert(live.filter(col("src").isNull).count() === 500L,
      "pre-evolution rows must null-fill the added column")
    assert(live.filter(col("src") === "b2").count() === 100L)
    assert(live.count() === 600L)
    // the changes feed resolves against the widened schema too
    val feed = Lakehouse.changesSince(spark, dir, 0)
    assert(feed.columns.contains("src") && feed.count() === 100L)
    // TIME TRAVEL keeps each snapshot's OWN schema: v0 has no src
    val pinned = Lakehouse.prunedReadAt(spark, dir, 0, "k", 0, 1e9)
    assert(!pinned.columns.contains("src") && pinned.count() === 500L,
      "the pre-evolution snapshot must keep its recorded schema")
    // dropping an existing column is refused (additive-only)
    val eDrop = intercept[IllegalArgumentException](
      Lakehouse.appendClustered(mk(600, 610), dir, Seq("k", "t"), files = 1))
    assert(eDrop.getMessage.contains("missing existing column"))
    // retyping an existing column is refused
    val retyped = spark.range(600, 610).select(
      col("id").as("k"), (col("id") % 7).as("t"), lit(42).as("src"))
    val eType = intercept[IllegalArgumentException](
      Lakehouse.appendClustered(retyped, dir, Seq("k", "t"), files = 1))
    assert(eType.getMessage.contains("retype"))
    // COW delete across MIXED-schema files: survivors normalize
    val (_, nDel) = Lakehouse.deleteWhere(spark, dir, col("k") < 10)
    assert(nDel === 10L)
    // COW upsert must carry the widened schema and lands across the mix
    val ups = spark.range(595, 605).select(
      col("id").as("k"), lit(0L).as("t"), lit("up").as("src"))
    val (_, repl, insd) = Lakehouse.upsertByKey(spark, dir, ups, Seq("k"))
    assert(repl === 5L && insd === 10L)
    // compaction normalizes pre-evolution files to the current schema
    Lakehouse.compact(spark, dir, Seq("k", "t"), minRows = 1000000, files = 1)
    val after = Lakehouse.prunedRead(spark, dir, "k", 0, 1e9)
    // 490 pre-evolution survivors (null src) + 95 b2 + 10 up = 595
    assert(after.count() === 595L && after.filter(col("src") === "up").count() === 10L
      && after.filter(col("src").isNull).count() === 490L,
      "post-compaction read drifted after evolution")
    // every remaining file physically carries the full schema now
    val filesNow = Lakehouse.readManifest(spark, dir)
      .select(col("file")).collect().map(_.getString(0))
    filesNow.foreach { f =>
      assert(spark.read.parquet(f).columns.contains("src"),
        s"compaction left a pre-evolution file un-normalized: $f")
    }
  }

  test("lakehouse: upsert's pure inserts reach the changes feed; replaced rows do not") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-upsfeed").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 7).as("t"))
    Lakehouse.writeClustered(mk(0, 100), dir, Seq("k", "t"), files = 4)
    val v0 = Lakehouse.latestVersion(spark, dir)
    // keys 90..99 exist (update-postimages), 100..109 are brand new
    val ups = spark.range(90, 110).select(
      col("id").as("k"), (col("id") + 1000).as("t"))
    val (_, repl, insd) = Lakehouse.upsertByKey(spark, dir, ups, Seq("k"))
    assert(repl === 10L && insd === 20L)
    // the feed carries EXACTLY the pure inserts — no survivor re-files,
    // no update-postimages (they'd double-count keys the consumer saw)
    val changes = Lakehouse.changesSince(spark, dir, v0)
    val wantFeed = ups.filter(col("k") >= 100)
    assert(changes.exceptAll(wantFeed).isEmpty &&
      wantFeed.exceptAll(changes).isEmpty,
      "changes feed must carry exactly the upsert's pure inserts")
    // the table itself holds every key with latest-wins values
    val live = Lakehouse.prunedRead(spark, dir, "k", 0, 1e9)
    val want = mk(0, 90).unionByName(ups)
    assert(live.exceptAll(want).isEmpty && want.exceptAll(live).isEmpty,
      "split-batch upsert drifted from latest-wins semantics")
    // an all-matched upsert (no inserts) feeds nothing
    val v1 = Lakehouse.latestVersion(spark, dir)
    val ups2 = spark.range(0, 5).select(
      col("id").as("k"), (col("id") + 5000).as("t"))
    val (_, repl2, _) = Lakehouse.upsertByKey(spark, dir, ups2, Seq("k"))
    assert(repl2 === 5L)
    assert(Lakehouse.changesSince(spark, dir, v1).isEmpty,
      "an insert-free upsert must feed nothing downstream")
    // upsert into an EMPTY table is all-insert: the whole batch feeds
    val dir2 = java.nio.file.Files.createTempDirectory("graft-lh-upsf2").toString
    Lakehouse.writeClustered(mk(0, 50), dir2, Seq("k", "t"), files = 2)
    Lakehouse.deleteWhere(spark, dir2, lit(true))
    val v2 = Lakehouse.latestVersion(spark, dir2)
    val ups3 = mk(200, 230)
    Lakehouse.upsertByKey(spark, dir2, ups3, Seq("k"))
    val feed3 = Lakehouse.changesSince(spark, dir2, v2)
    assert(feed3.exceptAll(ups3).isEmpty && ups3.exceptAll(feed3).isEmpty,
      "insert-all upsert into an empty table must feed its whole batch")
  }

  test("lakehouse: changesDetailed feeds typed row changes; applying them mirrors the table") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-cdf").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") % 7).as("t"),
      (col("id") * 10).cast("double").as("v"))
    Lakehouse.writeClustered(mk(0, 400), dir, Seq("k", "t"), files = 4) // v0
    val v0 = Lakehouse.latestVersion(spark, dir)
    Lakehouse.appendClustered(mk(400, 500), dir, Seq("k", "t"), files = 2) // v1
    // keys 450..499 exist (postimages), 500..549 are new (inserts)
    val upsReal = spark.range(450, 550).select(
      col("id").as("k"), (col("id") % 7).as("t"),
      (col("id") * -1).cast("double").as("v"))
    Lakehouse.upsertByKey(spark, dir, upsReal, Seq("k"))               // v2
    Lakehouse.deleteWhere(spark, dir, col("k") % 10 === 3)             // v3
    Lakehouse.compact(spark, dir, Seq("k", "t"),
      minRows = 1000000, files = 2)                                    // v4
    val feed = Lakehouse.changesDetailed(spark, dir, v0).cache()
    try {
      val byType = feed.groupBy(col("_change_type")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // inserts: 100 appended + 50 upsert-inserted; postimages: 50;
      // deletes: keys 3,13,...,543 present at v2 = 55
      assert(byType === Map("insert" -> 150L, "update_postimage" -> 50L,
        "delete" -> 55L), s"typed counts: $byType")
      // compaction (v4) must contribute nothing
      assert(feed.select(col("_version")).distinct().collect()
        .map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
      // deleted rows carry the state they were deleted IN (post-upsert):
      // k=453 was upserted to -453 before the delete; k=3 kept 30
      val delVals = feed.filter(col("_change_type") === "delete" &&
          col("k").isin(3L, 453L, 503L))
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(delVals === Map(3L -> 30.0, 453L -> -453.0, 503L -> -503.0),
        s"delete rows drifted: $delVals")
      // THE MIRROR INVARIANT: applying the feed in version order to the
      // v0 snapshot reproduces the latest snapshot exactly
      var mirror = Lakehouse.prunedReadAt(spark, dir, v0, "k", 0, 1e9)
      val feedVersions = feed.select(col("_version")).distinct()
        .collect().map(_.getLong(0)).sorted
      for (v <- feedVersions) {
        val g = feed.filter(col("_version") === v)
        val dels = g.filter(col("_change_type") === "delete").select(col("k"))
        val upserts = g.filter(col("_change_type") =!= "delete")
          .drop("_change_type", "_version")
        mirror = mirror.join(dels, Seq("k"), "left_anti")
          .join(upserts.select(col("k")), Seq("k"), "left_anti")
          .unionByName(upserts)
      }
      val live = Lakehouse.prunedRead(spark, dir, "k", 0, 1e9)
      assert(mirror.exceptAll(live).isEmpty && live.exceptAll(mirror).isEmpty,
        "replaying the change feed onto the v0 snapshot did not " +
          "reproduce the latest snapshot")
    } finally feed.unpersist()
    // a whole-table REPLACE in range breaks the feed loudly…
    Lakehouse.replaceClustered(mk(0, 10), dir, Seq("k", "t"), files = 1)
    val e = intercept[IllegalStateException](
      Lakehouse.changesDetailed(spark, dir, v0).collect())
    assert(e.getMessage.contains("REPLACE"))
    // …but a window that starts AFTER the replace feeds normally
    val vR = Lakehouse.latestVersion(spark, dir)
    Lakehouse.appendClustered(mk(10, 20), dir, Seq("k", "t"), files = 1)
    val after = Lakehouse.changesDetailed(spark, dir, vR)
    val wantAfter = mk(10, 20)
    assert(after.filter(col("_change_type") === "insert")
      .drop("_change_type", "_version")
      .exceptAll(wantAfter).isEmpty && after.count() === 10L)
  }

  test("lakehouse: vacuum retires delete sidecars outside the retained window, keeps retained ones") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-cdfvac").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      pmod(col("id"), lit(50)).as("k"), col("id").as("t"))
    def cdfFiles(): Seq[String] = {
      val d = new java.io.File(s"$dir/_cdf")
      if (!d.exists()) Nil
      else d.listFiles().toSeq.flatMap(s =>
        if (s.isFile) Seq(s) else s.listFiles().toSeq)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(_.getPath)
    }
    Lakehouse.writeClustered(mk(0, 500), dir, Seq("k", "t"), files = 2) // v0
    Lakehouse.deleteWhere(spark, dir, col("t") < 100)                   // v1
    assert(cdfFiles().nonEmpty, "delete wrote no CDF sidecar")
    Lakehouse.appendClustered(mk(500, 600), dir, Seq("k", "t"), files = 1) // v2
    Lakehouse.appendClustered(mk(600, 700), dir, Seq("k", "t"), files = 1) // v3
    Lakehouse.vacuum(spark, dir, retainVersions = 2) // retains v2, v3
    assert(cdfFiles().isEmpty,
      "v1's delete sidecar outlived the retention window")
    // a delete INSIDE the next retained window keeps its sidecar and
    // still feeds
    Lakehouse.deleteWhere(spark, dir, col("t") >= 650)                  // v4
    Lakehouse.vacuum(spark, dir, retainVersions = 2) // retains v3, v4
    assert(cdfFiles().nonEmpty, "a retained delete's sidecar was swept")
    val feed = Lakehouse.changesDetailed(spark, dir, 3)
    val wantDel = mk(600, 700).filter(col("t") >= 650)
    val gotDel = feed.filter(col("_change_type") === "delete")
      .drop("_change_type", "_version")
    assert(gotDel.exceptAll(wantDel).isEmpty && wantDel.exceptAll(gotDel).isEmpty,
      "the retained delete's rows did not feed")
  }

  test("lakehouse: randomized op sequences track an in-memory model; full-feed replay mirrors it") {
    import graft.operators.Lakehouse
    // stateful model check: a random interleaving of append / upsert /
    // delete / compact / vacuum must keep the live table equal to a
    // trivial Map model after EVERY op, and replaying the whole
    // changesDetailed feed from before v0 onto an empty mirror must
    // reproduce the final state — interaction bugs between mutations
    // (stale manifests, double-fed files, sidecar mixups) surface here
    // that single-op specs cannot reach. Deterministic seed: a failure
    // replays exactly.
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 0 until 2) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-lh-model$trial").toString
      var nextKey = 0L
      val model = scala.collection.mutable.Map.empty[Long, Long]
      def freshRows(n: Int): Seq[(Long, Long)] = {
        val rows = (0 until n).map { _ =>
          val k = nextKey; nextKey += 1
          k -> rnd.nextLong(1000000L)
        }
        rows
      }
      def toDf(rows: Seq[(Long, Long)]) =
        spark.createDataFrame(rows).toDF("k", "t")
      val init = freshRows(80)
      Lakehouse.writeClustered(toDf(init), dir, Seq("k", "t"), files = 3)
      model ++= init
      def liveState(): Map[Long, Long] =
        Lakehouse.prunedRead(spark, dir, "k", 0, 1e18)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val opLog = new scala.collection.mutable.ArrayBuffer[String]
      for (step <- 0 until 12) {
        rnd.nextInt(5) match {
          case 0 => // append fresh keys
            val rows = freshRows(20 + rnd.nextInt(30))
            Lakehouse.appendClustered(toDf(rows), dir, Seq("k", "t"),
              files = 1 + rnd.nextInt(2))
            model ++= rows; opLog += s"append(${rows.size})"
          case 1 => // upsert: some existing keys re-valued + some new
            val existing = rnd.shuffle(model.keys.toSeq)
              .take(rnd.nextInt(15))
              .map(k => k -> rnd.nextLong(1000000L))
            val fresh = freshRows(rnd.nextInt(15))
            val batch = existing ++ fresh
            if (batch.nonEmpty) {
              // coin-flip the probe mode: broadcast CDC path vs the
              // shuffle-side largeBatch path — the model accepts no
              // difference between them under any op interleaving
              val lb = rnd.nextBoolean()
              Lakehouse.upsertByKey(spark, dir, toDf(batch), Seq("k"),
                files = 2, largeBatch = lb)
              model ++= batch
              opLog += s"upsert(${existing.size}u+${fresh.size}i" +
                (if (lb) ",lb)" else ")")
            }
          case 2 => // delete a key band
            val lo = rnd.nextLong(math.max(1L, nextKey))
            val hi = lo + rnd.nextInt(40)
            Lakehouse.deleteWhere(spark, dir,
              col("k") >= lo && col("k") <= hi)
            model --= model.keys.filter(k => k >= lo && k <= hi).toSeq
            opLog += s"delete[$lo,$hi]"
          case 3 =>
            Lakehouse.compact(spark, dir, Seq("k", "t"),
              minRows = 40, files = 2)
            opLog += "compact"
          case 4 =>
            // trial 0 retains everything (the full-feed mirror below must
            // actually RUN, not skip on retention); trial 1 exercises the
            // tight-window interplay
            val retain = if (trial == 0) 100 else 4
            Lakehouse.vacuum(spark, dir, retainVersions = retain)
            opLog += s"vacuum($retain)"
        }
        val got = liveState()
        assert(got == model.toMap,
          s"trial $trial diverged after ${opLog.mkString(" -> ")}: " +
            s"missing=${(model.toMap.toSet -- got.toSet).take(5)} " +
            s"extra=${(got.toSet -- model.toMap.toSet).take(5)}")
      }
      // full-feed mirror from an empty start (vacuum retained >= every
      // version's markers; retention window of 4 may have pruned old
      // sidecars/manifests, so only assert when the feed is replayable)
      try {
        val feed = Lakehouse.changesDetailed(spark, dir, -1L).cache()
        try {
          val mirror = scala.collection.mutable.Map.empty[Long, Long]
          feed.collect()
            .sortBy(r => (r.getLong(3), r.getString(2) == "delete"))
            .foreach { r =>
              // within a version, deletions and upserts touch disjoint
              // keys (delete commits carry only deletes), so ordering
              // inside a version only needs delete-last stability
              val (k, t, ct) = (r.getLong(0), r.getLong(1), r.getString(2))
              if (ct == "delete") mirror -= k else mirror(k) = t
            }
          assert(mirror.toMap == model.toMap,
            s"trial $trial: full-feed mirror diverged after " +
              opLog.mkString(" -> "))
        } finally feed.unpersist()
      } catch {
        case e: IllegalStateException
            if trial != 0 && e.getMessage != null &&
              e.getMessage.contains("retention window") =>
          // trial 1's tight vacuum may outrun the feed — the documented
          // contract (an IllegalStateException, whether a manifest or
          // a feed file was vacuumed); the per-op live==model
          // checks above already covered the run. Trial 0 retains
          // everything, so ITS mirror always runs.
          ()
      }
    }
  }

  test("lakehouse: changesSince feeds exactly the appended rows; compaction rewrites excluded") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-changes").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      pmod(col("id"), lit(50)).as("k"), col("id").as("t"))
    Lakehouse.writeClustered(mk(0, 1000), dir, Seq("k", "t"), files = 2)     // v0
    Lakehouse.appendClustered(mk(1000, 1100), dir, Seq("k", "t"), files = 1) // v1
    Lakehouse.appendClustered(mk(1100, 1200), dir, Seq("k", "t"), files = 1) // v2
    Lakehouse.compact(spark, dir, Seq("k", "t"), minRows = 500, files = 1)   // v3
    Lakehouse.appendClustered(mk(1200, 1250), dir, Seq("k", "t"), files = 1) // v4
    // the full feed is exactly every ingested row, once — the compaction
    // rewrite (v3) contributing would double rows 1000..1200
    val all = Lakehouse.changesSince(spark, dir, -1)
    val truthAll = mk(0, 1250)
    assert(all.exceptAll(truthAll).isEmpty && truthAll.exceptAll(all).isEmpty,
      "changesSince(-1) != all ingested rows — rewrite leaked or data lost")
    // a consumer checkpointed at v1 reads only the later appends
    val tail = Lakehouse.changesSince(spark, dir, 1)
    val truthTail = mk(1100, 1250)
    assert(tail.exceptAll(truthTail).isEmpty && truthTail.exceptAll(tail).isEmpty,
      "changesSince(1) drifted from the later appends")
    // caught up == empty; the per-version feed skips the compact commit
    assert(Lakehouse.changesSince(spark, dir,
      Lakehouse.latestVersion(spark, dir)).isEmpty)
    assert(Lakehouse.addedFilesSince(spark, dir, -1).map(_._1) ===
      Seq(0L, 1L, 2L, 4L))
    // consuming past the retention window fails loudly, never partially
    Lakehouse.vacuum(spark, dir)
    val e = intercept[IllegalStateException](
      Lakehouse.addedFilesSince(spark, dir, -1))
    assert(e.getMessage.contains("vacuum"))
  }

  test("z-order string proxy: z-keys are monotone in Spark's binary string order") {
    // pair the string with a CONSTANT second column (scales to 0), so the
    // z-key is a monotone function of the string proxy alone: sorted by
    // string, keys must be non-decreasing (ties allowed — strings sharing
    // a 7-byte prefix collapse to one cell by design)
    val rnd = new scala.util.Random(42)
    val strs = (Seq("", "a", "aa", "ab", "b", "zz", "zzzzzzzzzz", "é",
      "日本語") ++
      Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(12)).mkString)).distinct
    val df = strs.toDF("s").withColumn("c", lit(0L))
    val keyed = graft.operators.Zorder.withZKey(df, Seq("s", "c"), "z", bits = 16)
      .select(col("s"), col("z")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    keyed.sliding(2).foreach { case Array((s1, z1), (s2, z2)) =>
      assert(z1 <= z2, s"z-order proxy inverted '$s1' ($z1) vs '$s2' ($z2)")
    }
  }

  test("lakehouse: string and date clustered columns prune files and stay row-exact") {
    import graft.operators.Lakehouse
    val dir = java.nio.file.Files.createTempDirectory("graft-lh-typed").toString
    // the data-card shape whose first predicate is a date or a category,
    // not a number: cluster on (event_type, event_date)
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), col("event_type"), col("value"),
        col("ts").cast("date").as("event_date"))
    Lakehouse.writeClustered(ev, dir, Seq("event_type", "event_date"),
      files = 12)
    val full = spark.read.parquet(s"$dir/data")
    // category equality (lo == hi on the string column) skips files
    val eq = Seq(("event_type", "click", "click"))
    val (keptS, totalS) = Lakehouse.selectFilesTyped(spark, dir, eq)
    assert(totalS === 12 && keptS.nonEmpty && keptS.size < totalS,
      s"string pruning read ${keptS.size}/$totalS files — no skipping")
    val prunedS = Lakehouse.prunedReadTyped(spark, dir, eq)
    val expectS = full.filter(col("event_type") === "click")
    assert(prunedS.exceptAll(expectS).isEmpty && expectS.exceptAll(prunedS).isEmpty,
      "string-pruned read drifted from the full filtered scan")
    // category x calendar-date band: the second dimension prunes MORE
    val b = ev.agg(min(col("event_date")), max(col("event_date"))).head()
    val (d0, d1) = (b.getDate(0).toLocalDate, b.getDate(1).toLocalDate)
    val span = java.time.temporal.ChronoUnit.DAYS.between(d0, d1)
    val (lo, hi) = (d0.plusDays(span * 3 / 10), d0.plusDays(span * 5 / 10))
    val both = eq :+ (("event_date", lo.toString, hi.toString))
    assert(Lakehouse.selectFilesTyped(spark, dir, both)._1.size < keptS.size,
      "adding the date range pruned nothing extra")
    val pruned2 = Lakehouse.prunedReadTyped(spark, dir, both)
    val expect2 = expectS.filter(
      col("event_date") >= lit(lo.toString).cast("date") &&
        col("event_date") <= lit(hi.toString).cast("date"))
    assert(pruned2.exceptAll(expect2).isEmpty && expect2.exceptAll(pruned2).isEmpty,
      "typed 2-D pruned read drifted from the full filtered scan")
    // a string range over the lexicographic order also reproduces truth
    val strRange = Seq(("event_type", "error", "signup"))
    val pruned3 = Lakehouse.prunedReadTyped(spark, dir, strRange)
    val expect3 = full.filter(
      col("event_type") >= "error" && col("event_type") <= "signup")
    assert(pruned3.exceptAll(expect3).isEmpty && expect3.exceptAll(pruned3).isEmpty,
      "string-range pruned read drifted")
    // a bound the column's type can't hold fails loudly — a silent null
    // would prune every file and return an empty (wrong) result
    val bad = intercept[IllegalArgumentException](
      Lakehouse.selectFilesTyped(spark, dir,
        Seq(("event_date", "not-a-date", "2099-01-01"))))
    assert(bad.getMessage.contains("not-a-date"))
    // typed time travel: append a delta, then the v0-pinned typed read
    // still returns exactly the pre-append rows while live sees both
    val delta = ev.filter(col("user_id") === 0)
    Lakehouse.appendClustered(delta, dir, Seq("event_type", "event_date"),
      files = 2)
    val pinned = Lakehouse.prunedReadTypedAt(spark, dir, 0, eq)
    assert(pinned.exceptAll(expectS).isEmpty && expectS.exceptAll(pinned).isEmpty,
      "typed time-travel read drifted from the pre-append snapshot")
    val liveNow = Lakehouse.prunedReadTyped(spark, dir, eq)
    val expectNow = expectS.union(delta.filter(col("event_type") === "click"))
    assert(liveNow.exceptAll(expectNow).isEmpty && expectNow.exceptAll(liveNow).isEmpty,
      "typed live read missed the appended delta")
  }

  test("equiHeightHistogram: quartile boundaries, equal buckets, null drop") {
    import graft.operators.Profile
    val df = ((1 to 8).map(i => Some(i.toDouble)) :+ None).toDF("v")
    val out = Profile.equiHeightHistogram(df, "v", bins = 4)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), Option(r.get(2))))).toMap
    // quantile_cont boundaries of 1..8: 2.75 / 4.5 / 6.25
    assert(out(0) === ((2L, Some(2.75))))
    assert(out(1) === ((2L, Some(4.5))))
    assert(out(2) === ((2L, Some(6.25))))
    assert(out(3) === ((2L, None)), "last bucket open above")
    assert(out.values.map(_._1).sum === 8L, "null row must not be counted")
  }

  test("exactQuantiles == percentile aggregate, bit-exact, on random multisets") {
    import graft.operators.Profile
    // the distributed value-at-rank boundary pass must reproduce the
    // percentile aggregate's interpolation ULP-FOR-ULP (===, no
    // tolerance): duplicates, skewed masses, negative values, and sizes
    // that land ranks both on and between values
    val rnd = new scala.util.Random(31L)
    val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 1.0 / 3.0)
    for (n <- Seq(1, 2, 7, 1000)) {
      val vals = Seq.fill(n)(
        (rnd.nextInt(50) - 20) * (if (rnd.nextBoolean()) 0.37 else 1.0))
      val df = vals.toDF("v")
      val dist = Profile.exactQuantiles(df, "v", ps)
      val agg = df.agg(expr(s"percentile(v, array(${ps.mkString(", ")}))"))
        .head().getSeq[Double](0)
      assert(dist === agg, s"n=$n: $dist != $agg")
    }
  }

  test("equiHeightHistogram guards: empty input and colliding boundaries fail loudly") {
    import graft.operators.Profile
    // empty / all-null input: a clear message, not an NPE from getSeq
    val empty = Seq.empty[Option[Double]].toDF("v")
    val e1 = intercept[IllegalArgumentException](
      Profile.equiHeightHistogram(empty, "v", bins = 4))
    assert(e1.getMessage.contains("no non-null values"))
    // constant column: all quartile boundaries round to the same value —
    // silent missing buckets would corrupt a data card, so it throws
    val const = Seq.fill(10)(5.0).toDF("v")
    val e2 = intercept[IllegalArgumentException](
      Profile.equiHeightHistogram(const, "v", bins = 4))
    assert(e2.getMessage.contains("collide"))
  }

  test("equiHeightHistogramSampled: sample-derived boundaries bucket the FULL data") {
    import graft.operators.Profile
    // keepPerMille=1000 keeps every row -> identical to the exact form
    val df = ((1 to 8).map(i => (i.toLong, i.toDouble))).toDF("id", "v")
    val all = Profile.equiHeightHistogramSampled(df, "v", "id",
        bins = 4, keepPerMille = 1000)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), Option(r.get(2))))).toMap
    val exact = Profile.equiHeightHistogram(df, "v", bins = 4)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), Option(r.get(2))))).toMap
    assert(all === exact)
    // a true subsample: boundaries come from the sample, but counts cover
    // ALL 8 rows (the full-data bucket pass)
    val part = Profile.equiHeightHistogramSampled(df, "v", "id",
        bins = 2, keepPerMille = 500)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(part.values.sum === 8L, s"bucket counts must cover all rows: $part")
    // empty sample fails loudly with the remedy in the message
    val e = intercept[IllegalArgumentException](
      Profile.equiHeightHistogramSampled(df, "v", "id", bins = 2,
        keepPerMille = 1))
    assert(e.getMessage.contains("keepPerMille"))
  }

  test("zorder: all-null or empty scaling column fails with a named-column error") {
    import graft.operators.Zorder
    val empty = Seq.empty[(Option[Long], Option[Long])].toDF("a", "b")
    val e1 = intercept[IllegalArgumentException](
      Zorder.withZKey(empty, Seq("a", "b")))
    assert(e1.getMessage.contains("'a'"))
    val nullCol = Seq((Some(1L), Option.empty[Long]),
      (Some(2L), Option.empty[Long])).toDF("a", "b")
    val e2 = intercept[IllegalArgumentException](
      Zorder.withZKey(nullCol, Seq("a", "b")))
    assert(e2.getMessage.contains("'b'"))
  }

  test("histogram: bucket edges, underflow/overflow buckets, null drop") {
    import graft.operators.Profile
    val df = Seq(Some(-0.5), Some(0.0), Some(9.999), Some(10.0), Some(19.99),
      Some(20.0), Some(25.0), None).toDF("v")
    val out = Profile.histogram(df, "v", lo = 0.0, hi = 20.0, bins = 2)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // -0.5 underflows; 0.0 and 9.999 land in [0,10); 10.0 and 19.99 in
    // [10,20); 20.0 (the exact upper bound) and 25.0 overflow; null drops
    assert(out(-1) === ((1L, -10.0, 0.0)))
    assert(out(0) === ((2L, 0.0, 10.0)))
    assert(out(1) === ((2L, 10.0, 20.0)))
    assert(out(2) === ((2L, 20.0, 30.0)))
    assert(out.values.map(_._1).sum === 7L, "null row must not be counted")
    // fp top-edge clamp: with inexact w = 5.952.../5, the value one ulp
    // below hi has floor((v-lo)/w) == bins — it must stay in bucket
    // bins-1 (in-range), not silently merge into the overflow bucket
    val hi = 5.952419006512908
    val vUlp = java.lang.Math.nextDown(hi)
    assert(math.floor(vUlp / (hi / 5)).toInt == 5, "fixture must trip the edge")
    val clamp = Profile.histogram(Seq(vUlp).toDF("v"), "v", lo = 0.0,
        hi = hi, bins = 5)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(clamp === Map(4 -> 1L), s"ulp-below-hi value misbucketed: $clamp")
  }

  test("randomProjection: exact recipe, JL distance preservation, LSH sign coherence") {
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val proj = Similarity.randomProjection(e, Seq("vec_id"), "embedding",
      dim = 64, k = 8)
    val p = proj.collect().map(r => r.getLong(0) ->
      (1 to 8).map(i => r.getDouble(i)).toArray).toMap
    val orig = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // exact recipe on one vector: rp_p = dot(x, plane_p)/sqrt(8), round 4
    val x = orig(0L)
    (0 until 8).foreach { pl =>
      val manual = BigDecimal(
        x.indices.map(c => x(c) * Similarity.planeComponent(pl, c)).sum
          / math.sqrt(8.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(p(0L)(pl) - manual) <= 1e-9, s"plane $pl recipe drifted")
    }
    // JL: mean pairwise distance-squared ratio over a 30-vector sample
    // stays near 1 (k=8 -> ~35% per-pair distortion, averages out)
    val ids = orig.keys.toSeq.sorted.take(30)
    val ratios = for {
      i <- ids.indices; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      d2 = orig(a).zip(orig(b)).map { case (u, v) => (u - v) * (u - v) }.sum
      if d2 > 1e-9
      pd2 = p(a).zip(p(b)).map { case (u, v) => (u - v) * (u - v) }.sum
    } yield pd2 / d2
    val mean = ratios.sum / ratios.size
    assert(mean > 0.5 && mean < 2.0, s"JL mean distortion off: $mean")
    // coherence: sign(rp_p) is bit p of the LSH sign bucket (away from
    // the round-4 boundary, where rounding may flip a near-zero sign)
    val buckets = e.select(col("vec_id"),
        Similarity.signBucket(col("embedding"), dim = 64, planes = 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      (0 until 8).foreach { pl =>
        val rp = p(id)(pl)
        if (math.abs(rp) > 1e-3) {
          val bit = (buckets(id) >> pl) & 1L
          assert((rp > 0) === (bit == 1L),
            s"vec $id plane $pl: rp=$rp but bucket bit=$bit")
        }
      }
    }
  }

  test("containmentPairs catches a short doc quoted in a long one that Jaccard misses") {
    import graft.operators.Dedup
    val short = (1 to 12).map(i => s"w$i").mkString(" ")          // 10 shingles
    val long  = short + " " + (100 to 150).map(i => s"x$i").mkString(" ")
    val other = (200 to 240).map(i => s"y$i").mkString(" ")
    val df = Seq((1L, short, "s"), (2L, long, "s"), (3L, other, "s"))
      .toDF("doc_id", "text", "src")
    val cont = Dedup.containmentPairs(df, "doc_id", "text", "src", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every shingle of the short doc appears in the long one
    assert(cont.toSeq === Seq((1L, 2L, 1.0)))
    // Jaccard on the same pair is diluted by the host's size: 12/63
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", "src", 0.5)
    assert(jac.collect().isEmpty, "jaccard at 0.5 must miss the quoted pair")
  }

  test("encodingQuality counts each corruption signature; clean text passes") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "perfectly clean ascii text."),
      (2L, "lost char here: � and another �"),
      (3L, "double-decoded cafÃ© and Â nbsp"),
      (4L, "c1 control  inside"),
      (5L, "bel and esc but tab\t newline\n are fine"),
      (6L, ""))
      .toDF("id", "t")
    val out = TextAnalysis.encodingQuality(df, "id", "t")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(7)))).toMap
    assert(out(1L) === ((0L, 0L, 0L, 0L, false)))
    assert(out(2L) === ((2L, 0L, 0L, 0L, true)))
    // "Ã©" and "Â " are each one pair; neither second byte is in C1
    assert(out(3L) === ((0L, 0L, 2L, 0L, true)))
    assert(out(4L) === ((0L, 1L, 0L, 0L, true)))
    // BEL + ESC count; \t and \n are exempt
    assert(out(5L) === ((0L, 0L, 0L, 2L, true)))
    assert(out(6L) === ((0L, 0L, 0L, 0L, false)), "empty text must not flag")
  }

  test("sentenceStats: boundary runs, terminal rule, per-sentence token mean") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "One two. Three four! Five six?"),   // 3 sentences, 6 tokens
      (2L, "Ellipsis... counts once. Trailing"), // run collapses; no terminal
      (3L, "no punctuation at all"),
      (4L, "quoted end.\""),
      (5L, "newline after dot.\n"))
      .toDF("id", "t")
    val out = TextAnalysis.sentenceStats(df, "id", "t")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getDouble(4)))).toMap
    assert(out(1L) === ((3L, 6L, true, 2.0)))
    assert(out(2L) === ((2L, 4L, false, 2.0)))
    assert(out(3L) === ((0L, 4L, false, 4.0)), "zero boundaries -> whole doc is one sentence")
    // '.' before '"' is no boundary (needs \s or \z after the run), but
    // the C4 terminal rule allows one closing quote
    assert(out(4L) === ((0L, 2L, true, 2.0)))
    // rtrim does not eat the newline: \z must not match before it (the
    // Java $-before-final-newline rule this operator deliberately avoids)
    assert(out(5L)._3 === false)
    assert(out(5L)._1 === 1L, "dot before newline still closes a sentence via \\s")
  }

  test("asofJoin: latest at-or-before match, nulls before first right, equal-time inclusive") {
    import graft.operators.TemporalJoin
    val left = Seq((1L, "u", 100L), (2L, "u", 50L), (3L, "u", 10L), (4L, "v", 100L))
      .toDF("id", "k", "t")
    val right = Seq((101L, "u", 20L, "a"), (102L, "u", 100L, "b"), (103L, "w", 5L, "x"))
      .toDF("rid", "k", "rt", "payload")
    val out = TemporalJoin.asofJoin(left, right, keyCols = Seq("k"),
      leftTimeCol = "t", rightTimeCol = "rt",
      rightCols = Seq("rid", "payload"), tiebreakCols = Seq("rid"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.getString(4)))).toMap
    assert(out(1L) === (Some(102L), Some("b"))) // equal time matches (<=)
    assert(out(2L) === (Some(101L), Some("a"))) // latest at-or-before 50
    assert(out(3L) === (None, None)) // before the first right row
    assert(out(4L) === (None, None)) // key with no right rows at all
  }

  test("asofJoin: a null right time never matches (no phantom carry-forward)") {
    import graft.operators.TemporalJoin
    // regression: null _asof_t sorted NULLS FIRST in the window, so a
    // null-time right row's payload carried forward as everyone's match
    val left = Seq((1L, "u", 100L)).toDF("id", "k", "t")
    val right = Seq((9L, "u", Option.empty[Long], "phantom"),
      (8L, "u", Some(200L), "late"))
      .toDF("rid", "k", "rt", "payload")
    val out = TemporalJoin.asofJoin(left, right, Seq("k"), "t", "rt",
      rightCols = Seq("rid", "payload"), tiebreakCols = Seq("rid")).collect()
    assert(out.length === 1)
    assert(out.head.isNullAt(3), s"phantom match from a null-time right row: ${out.head}")
  }

  test("asofJoin: ties break by largest tiebreak; tolerance voids stale matches") {
    import graft.operators.TemporalJoin
    val left = Seq((1L, "u", 100L), (2L, "u", 500L)).toDF("id", "k", "t")
    val right = Seq((7L, "u", 100L, "low"), (9L, "u", 100L, "high"))
      .toDF("rid", "k", "rt", "payload")
    val out = TemporalJoin.asofJoin(left, right, keyCols = Seq("k"),
      leftTimeCol = "t", rightTimeCol = "rt",
      rightCols = Seq("rid", "payload"), tiebreakCols = Seq("rid"),
      tolerance = Some(50L))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(out(1L) === Some(9L)) // two rights at t=100: largest rid wins
    assert(out(2L) === None) // match is 400 units stale, tolerance is 50
  }

  test("intervalJoin: exact boundaries, bin-spanning intervals, keys, fan-out guard") {
    import graft.operators.TemporalJoin
    val intervals = Seq((1L, "u", 10L, 30L), (2L, "u", 25L, 26L), (3L, "v", 10L, 30L))
      .toDF("iid", "k", "s", "e")
    val points = Seq((100L, "u", 10L), (101L, "u", 30L), (102L, "u", 31L),
      (103L, "u", 9L), (104L, "u", 25L), (105L, "v", 26L))
      .toDF("pid", "k", "pt")
    // binWidth much smaller than spans: intervals replicate across bins,
    // yet each (interval, point) pair must appear EXACTLY once
    val out = TemporalJoin.intervalJoin(intervals, points, "s", "e", "pt",
      keyCols = Seq("k"), binWidth = 7L)
      .select("iid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 100L), (1L, 101L), (1L, 104L), // [10,30] inclusive
      (2L, 104L), // tight interval
      (3L, 105L))) // key v only matches key v
    // fan-out guard: a corrupt interval spanning > maxBins fails loudly —
    // in BOTH orientations (an inverted wide interval would otherwise
    // default-step DOWN through the same number of bins)
    for (bad <- Seq(Seq((9L, "u", 0L, 1000000L)), Seq((9L, "u", 1000000L, 0L)))) {
      val e = intercept[Exception] {
        TemporalJoin.intervalJoin(bad.toDF("iid", "k", "s", "e"), points,
          "s", "e", "pt", keyCols = Seq("k"), binWidth = 10L,
          maxBinsPerInterval = 100).count()
      }
      assert(SparkSuite.causeMessages(e).exists(_.contains("spans more than")))
    }
    // a small inverted interval matches nothing but doesn't crash
    val inv = Seq((9L, "u", 30L, 10L)).toDF("iid", "k", "s", "e")
    assert(TemporalJoin.intervalJoin(inv, points, "s", "e", "pt",
      keyCols = Seq("k"), binWidth = 7L).count() === 0)
  }

  test("asofJoin and intervalJoin accept timestamp columns (micros tolerance/bins)") {
    import graft.operators.TemporalJoin
    val left = Seq((1L, "u", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("id", "k", "t")
    val right = Seq(
      (50L, "u", java.sql.Timestamp.valueOf("2024-01-01 09:59:00"), 1.5),
      (51L, "u", java.sql.Timestamp.valueOf("2024-01-01 08:00:00"), 9.9))
      .toDF("rid", "k", "rt", "v")
    val m = TemporalJoin.asofJoin(left, right, Seq("k"), "t", "rt",
      rightCols = Seq("rid", "v"), tiebreakCols = Seq("rid"),
      tolerance = Some(120L * 1000000L)) // 2 minutes in micros
      .collect()
    assert(m.length === 1 && m.head.getLong(3) === 50L)
    val iv = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 09:58:00"),
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("iid", "s", "e")
    val pts = Seq((7L, java.sql.Timestamp.valueOf("2024-01-01 09:59:30")))
      .toDF("pid", "pt")
    val hit = TemporalJoin.intervalJoin(iv, pts, "s", "e", "pt",
      binWidth = 60L * 1000000L).count()
    assert(hit === 1)
  }

  test("gopher rules: codegen'd alpha-word count equals the naive per-token filter") {
    // adversarial shapes: letters mid-token, digit-only tokens, unicode
    // ellipsis, '#' runs, leading/trailing/multiple whitespace, all-symbol
    val crafted = docs(
      1L -> "abc 123 1a2 b3 ## … ... x",
      2L -> "   leading  spaces 42  z9 ",
      3L -> "999 --- #tag ...",
      4L -> base,
      5L -> "a1b2c3 ... … #### x-y-z 7")
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    for (df <- Seq(crafted, real)) {
      val toks = TextAnalysis.tokens(col("text"))
      val diff = df.select(
          graft.functions.match_count(
            concat(lit(" "), trim(col("text"))), "\\s\\S*[A-Za-z]").as("kernel"),
          size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("int").as("naive"))
        .filter(col("kernel") =!= col("naive"))
      assert(diff.count() === 0, s"alpha-word kernel drifts from naive form")
    }
  }

  test("gopher rules: each gate rejects its own violation") {
    val good = "the quick brown fox jumps over a lazy dog and that dog " +
      "sat down with care to have a very long rest " + base
    val df = docs(
      1L -> good,                        // passes every gate
      2L -> "the short one",             // < minWords
      3L -> (good + " ###### ## # # # #"), // symbol spam
      4L -> base)                        // no Gopher stopwords
    val out = TextAnalysis.gopherRules(df, "doc_id", "text",
        minWords = 10, maxWords = 100, minStopHits = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(out(1L) === true)
    assert(out(2L) === false)
    assert(out(3L) === false)
    assert(out(4L) === false)
  }

  test("bigram LM: closed-form NLL on a planted corpus, short docs excluded") {
    import graft.operators.LangModel
    val train = docs(100L -> "a b a c")
    // uni: a=2 b=1 c=1, V=3; bigrams: (a,b)=1 (b,a)=1 (a,c)=1; alpha=0.1
    val scoreDoc = docs(1L -> "a b a c x", 2L -> "solo")
    val out = LangModel.bigramScore(scoreDoc, train, "doc_id", "text", alpha = 0.1)
      .collect()
    assert(out.length === 1, "single-token doc must be excluded")
    val r = out.head
    val lp = math.log(1.1 / 2.3) + math.log(1.1 / 1.3) +
      math.log(1.1 / 2.3) + math.log(0.1 / 1.3) // (a,b)(b,a)(a,c)(c,x)
    val nll = BigDecimal(-lp / 4).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("n_bigrams") === 4L)
    assert(r.getAs[Double]("nll") === nll)
    assert(r.getAs[Double]("ppl") ===
      BigDecimal(math.exp(nll)).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("label centroids equal the posexplode reference; mixed dims fail loudly") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.labelCentroids(e, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val ref = e.select(col("label"), posexplode(col("embedding")).as(Seq("p", "x")))
      .groupBy(col("label"), col("p"))
      .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), (col("p") + 1).cast("long").as("pos"),
        round(col("s") / col("n"), 4).as("c"), col("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(got === ref)
    val mixed = Seq((1, Seq(1.0f, 2.0f)), (1, Seq(1.0f)))
      .toDF("label", "embedding")
    val ex = intercept[Exception] {
      Similarity.labelCentroids(mixed, "label", "embedding").collect()
    }
    assert(SparkSuite.causeMessages(ex).exists(_.contains("mixed vector dimensions")))
  }

  test("upsampling: integer copies exact, fractional copies deterministic, <1 downsamples") {
    val df = (0L until 400L).map(i => (i, if (i < 200) "hi" else "lo"))
      .toDF("doc_id", "source")
    def run() = graft.operators.Curate
      .upsampleBySource(df, "doc_id", "source", Map("hi" -> 2.5, "lo" -> 0.5))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val out = run()
    val byId = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    // hi docs: 2 or 3 copies, indexes 0..n-1; lo docs: 0 or 1 copies
    for (i <- 0L until 200L) {
      val c = byId.getOrElse(i, Seq.empty)
      assert(c.length == 2 || c.length == 3, s"hi doc $i: $c")
      assert(c === (0L until c.length.toLong))
    }
    for (i <- 200L until 400L) {
      val c = byId.getOrElse(i, Seq.empty)
      assert(c.isEmpty || c === Seq(0L), s"lo doc $i: $c")
    }
    // fractional rates land near their targets (md5 uniforms, 200 draws)
    val hi3 = (0L until 200L).count(i => byId(i).length == 3)
    val loKept = (200L until 400L).count(i => byId.contains(i))
    assert(hi3 > 60 && hi3 < 140, s"hi third-copy rate off: $hi3/200")
    assert(loKept > 60 && loKept < 140, s"lo keep rate off: $loKept/200")
    // deterministic: identical output on re-run
    assert(run().toSet === out.toSet)
  }

  test("heap-ranked operators reject non-integral id columns loudly") {
    // a string id would cast to null inside TopKAgg and rows would
    // silently vanish — the guard turns that into a plan-build error
    val df = Seq(("doc-1", "src", "text here", 1.0))
      .toDF("id", "source", "text", "w")
    for (thunk <- Seq[() => Any](
      () => graft.operators.Curate.sampleKPerStratum(df, "id", "source", 1),
      () => graft.operators.Curate.weightedSampleK(df, "id", "w", 1),
      () => graft.operators.Search.bm25TopK(df, "id", "text", Seq("x"), 1),
      () => Similarity.bruteForceTopK(df, df, "id", "text", 1))) {
      val ex = intercept[IllegalArgumentException](thunk())
      assert(ex.getMessage.contains("integral id"), ex.getMessage)
    }
  }

  test("vec_sum_agg: zero-dimension vectors keep their count across an exchange") {
    // rows holding empty arrays must aggregate to (n = rowCount, sums = [])
    // regardless of whether a partial/final serialize round-trip sits in
    // the plan — d=0 is a real state, distinct from "no vector seen"
    val df = Seq((1, Seq.empty[Float]), (1, Seq.empty[Float]), (1, Seq.empty[Float]))
      .toDF("label", "embedding").repartition(4)
    val r = df.groupBy(col("label"))
      .agg(graft.functions.VecSumAgg.vec_sum_agg(col("embedding")).as("s"))
      .head().getStruct(1)
    assert(r.getLong(0) === 3L)
    assert(r.getSeq[Double](1) === Seq.empty[Double])
  }

  test("hybrid RRF: fused score is exactly the reciprocal-rank arithmetic") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = graft.operators.Search.hybridRrf(d, e, "doc_id", "text",
      "vec_id", "embedding", terms = Seq("spark", "vector", "customer"),
      queryVecId = 7L, k = 20, poolK = 50).collect()
    assert(rows.length === 20)
    // rrf column must equal the arithmetic over its own rank columns
    rows.foreach { r =>
      val rb = Option(r.getAs[java.lang.Long]("r_bm25")).map(_.toLong)
      val rd = Option(r.getAs[java.lang.Long]("r_dense")).map(_.toLong)
      assert(rb.isDefined || rd.isDefined)
      val expect = BigDecimal(
        rb.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rd.map(x => 1.0 / (60 + x)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("rrf") === expect)
    }
    // best-first, ties by doc_id
    val scores = rows.map(r => (r.getAs[Double]("rrf"), r.getAs[Long]("doc_id")))
    assert(scores.sameElements(scores.sortBy(s => (-s._1, s._2))))
  }

  test("centroid outliers: planted geometry flags only the anti-correlated vector") {
    // label 1: sum = (1,0) -> the two +x vectors score 1.0, the -x one -1.0
    // label 2: sum = (4,6) -> cos((0,3)) = 18/(3*sqrt(52)), cos((4,3)) = 34/(5*sqrt(52))
    val e = Seq(
      (1L, 1, Seq(1.0f, 0.0f)), (2L, 1, Seq(1.0f, 0.0f)), (3L, 1, Seq(-1.0f, 0.0f)),
      (4L, 2, Seq(0.0f, 3.0f)), (5L, 2, Seq(4.0f, 3.0f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidOutliers(e, "vec_id", "label", "embedding", 0.0)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("n_label"), r.getAs[Double]("sim_centroid"),
          r.getAs[Boolean]("is_outlier"))).toMap
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) === ((3L, 1.0, false)) && got(2L) === ((3L, 1.0, false)))
    assert(got(3L) === ((3L, -1.0, true)))
    assert(got(4L) === ((2L, r4(18.0 / (3.0 * math.sqrt(52))), false)))
    assert(got(5L) === ((2L, r4(34.0 / (5.0 * math.sqrt(52))), false)))
  }

  test("source overlap: exact planted Jaccard, zero-overlap pairs omitted, 3-way sets expand") {
    // A/B/C all share "a b c"; D shares nothing -> exactly the 3 A-B-C
    // pairs, each 1 common over (2+2-1) distinct shingles
    val df = Seq(
      ("srcA", "a b c d"), ("srcB", "a b c e"), ("srcC", "a b c q"),
      ("srcD", "x y z"))
      .toDF("source", "text")
    val got = graft.operators.Curate.sourceOverlap(df, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).toMap
    assert(got.keySet === Set(("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcC")))
    val j = BigDecimal(1.0 / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.values.foreach(v => assert(v === ((2L, 2L, 1L, j))))
  }

  test("gopher repetition: kernel equals the naive gram accounting; gates fire exactly") {
    // naive reference: occurrences beyond a gram's first add its no-space
    // code-point count
    def naive(text: String, n: Int): Long = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.length < n) 0L
      else {
        val seen = scala.collection.mutable.Set.empty[String]
        toks.sliding(n).map(_.mkString(" ")).map { g =>
          if (seen.add(g)) 0L
          else { val ns = g.replace(" ", ""); ns.codePointCount(0, ns.length).toLong }
        }.sum
      }
    }
    val cases = Seq("a b a b a", "x", "", "  \t ", "foo\tfoo\nfoo",
      "一 二 一 二", "a a a a a a", "ab ab ba ab ba")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- 1 to 4) {
      val got = df.select(col("id"), graft.functions.dup_gram_chars(col("text"), n).as("d"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      cases.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) === naive(t, n), s"n=$n text='$t'")
      }
    }
    // gate behavior: an all-repeats doc rejected, an all-unique doc kept
    val gated = TextAnalysis.gopherRepetition(
      Seq((1L, "unique words only here today friend"),
        (2L, "spam spam spam spam spam spam")).toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(gated(1L) === true && gated(2L) === false)
  }

  test("source overlap: single source yields no pairs; duplicate docs never inflate counts") {
    val one = Seq(("srcA", "a b c d"), ("srcA", "a b c d"), ("srcA", "b c d e"))
      .toDF("source", "text")
    assert(graft.operators.Curate.sourceOverlap(one, "source", "text").count() === 0)
    // identical docs repeated within a source count each shingle once
    val dup = Seq(("srcA", "a b c d"), ("srcB", "a b c d"), ("srcB", "a b c d"))
      .toDF("source", "text")
    val r = graft.operators.Curate.sourceOverlap(dup, "source", "text").collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_a") === 2L && r.head.getAs[Long]("n_b") === 2L &&
      r.head.getAs[Long]("n_common") === 2L && r.head.getAs[Double]("jaccard") === 1.0)
  }

  test("naive Bayes: alpha generalizes — closed form re-derived at alpha = 0.5") {
    // train A = "x x" (c_A=2), B = "y" (c_B=1), V = {x,y} = 2, priors 1/2
    // doc "x": A = ln .5 + (ln .5 - ln 3) + ln((2+.5)/.5) = -0.8755
    //          B = ln .5 + (ln .5 - ln 2) + 0            = -2.0794
    val train = Seq(("A", "x x"), ("B", "y")).toDF("lang", "text")
    val test = Seq((1L, "x")).toDF("doc_id", "text")
    val r = graft.operators.Classify.naiveBayes(
        test, train, "doc_id", "text", "lang", alpha = 0.5)
      .collect().map(x => (x.getString(1), x.getDouble(2)))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r === Array(("A",
      r4(math.log(0.5) + (math.log(0.5) - math.log(3.0)) + math.log(5.0)))))
  }

  test("naive Bayes: closed-form scores on a planted corpus, unseen-word tie breaks by label") {
    // train: A = "x x y" (c_A=3), B = "z z y" (c_B=3), V = {x,y,z} = 3,
    // priors 1/2 each. score(d,l) = ln(nd_l/N) + n(ln a - ln(c_l+aV)) + S
    val train = Seq(("A", "x x y"), ("B", "z z y")).toDF("lang", "text")
    val test = Seq((1L, "x y"), (2L, "q q")).toDF("doc_id", "text")
    val got = graft.operators.Classify.naiveBayes(
        test, train, "doc_id", "text", "lang", alpha = 1.0)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val floor2 = math.log(0.5) - 2 * math.log(6.0) // prior + 2-token floor
    // "x y" under A sees x (c=2) and y (c=1); under B only y -> A wins
    assert(got(1L) === (("A", r4(floor2 + math.log(3.0) + math.log(2.0)))))
    // "q q" matches no training word: identical scores, tie -> min label A
    assert(got(2L) === (("A", r4(floor2))))
  }

  test("entity: fuzzy pairs found within a block, never across blocks") {
    // "smith"/"smyth" share prefix "sm" at dist 1; "bb"/"ab" are dist 1
    // but different blocks -> blocking (by design) never compares them
    val df = Seq("Smith", "smyth", "ab", "bb").toDF("name")
    val got = Entity.fuzzyNamePairs(df, "name", blockPrefix = 2, maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(("smith", "smyth", 1L)))
  }

  test("entity: normalization folds case/whitespace before matching") {
    // "  Smith " and "smith" are the SAME distinct name -> no self-pair
    val df = Seq("  Smith ", "smith", "smyth").toDF("name")
    val got = Entity.fuzzyNamePairs(df, "name", blockPrefix = 2, maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq === Seq(("smith", "smyth")))
  }

  test("entity: threshold boundary keeps dist == maxDist, drops maxDist + 1") {
    val df = Seq("aaaa", "aabb", "abbb").toDF("name") // dist(aaaa,aabb)=2, dist(aaaa,abbb)=3
    val got = Entity.fuzzyNamePairs(df, "name", blockPrefix = 1, maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("aaaa", "aabb", 2L), ("aabb", "abbb", 1L)))
  }

  test("entity: oversized blocks are excluded and visible via oversizedBlocks") {
    // block "aa" has 3 names, block "zz" has 2; maxBlock = 2 excludes "aa"
    val df = Seq("aa1", "aa2", "aa3", "zz1", "zz2").toDF("name")
    val got = Entity.fuzzyNamePairs(df, "name", blockPrefix = 2,
        maxDist = 1, maxBlock = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq === Seq(("zz1", "zz2")))
    val diag = Entity.oversizedBlocks(df, "name", blockPrefix = 2, maxBlock = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(diag.toSeq === Seq(("aa", 3L)))
    // raising the cap re-admits the block and empties the diagnostic
    assert(Entity.oversizedBlocks(df, "name", blockPrefix = 2, maxBlock = 3)
      .isEmpty)
  }

  test("entity: a checkpoint dir makes resolution checkpoint reliably, same results") {
    val df = Seq("smith", "smyth", "date", "data", "zz").toDF("name")
    def run() = (
      Entity.resolveEntities(df, "name")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet,
      Entity.fuzzyNamePairs(df, "name")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet)
    val local = withCheckpointDir(None)(run())
    assert(local._2 === Set(("smith", "smyth"), ("data", "date")))
    val dir = java.nio.file.Files.createTempDirectory("graft-entity-ckpt")
    assert(withCheckpointDir(Some(dir))(run()) === local)
    assert(checkpointFiles(dir).nonEmpty, s"no reliable checkpoint files under $dir")
  }

  test("entity: the excluded-block observation reaches a QueryExecutionListener filled in") {
    // block "aa" holds 4 names, over maxBlock = 3: one block, four names
    // excluded — reported on every call, not only when the listener
    // happens to read the metric after the rows were counted
    val df = Seq("aaa", "aab", "aac", "aad", "smith", "smyth").toDF("name")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (k, r) =>
          if (k.startsWith("graft.entity.")) got.add((r.getLong(0), r.getLong(1)))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      (0 until 3).foreach { _ =>
        assert(Entity.fuzzyNamePairs(df, "name", maxBlock = 3).collect().length === 1)
      }
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq === Seq.fill(3)((1L, 4L)))
  }

  test("entity: invalid knobs fail fast") {
    val df = Seq("a").toDF("name")
    intercept[IllegalArgumentException](
      Entity.fuzzyNamePairs(df, "name", maxBlock = 0L))
    intercept[IllegalArgumentException](
      Entity.fuzzyNamePairs(df, "name", blockPrefix = 0))
    intercept[IllegalArgumentException](
      Entity.fuzzyNamePairs(df, "name", maxDist = 0))
    intercept[IllegalArgumentException](
      Entity.oversizedBlocks(df, "name", maxBlock = 0L))
  }

  test("entity: resolution picks min canon transitively, singletons map to themselves") {
    // "data"/"date" pair up in block "d" (dist 1, canon = min = "data");
    // "gate" is dist 1 from "date" but sits in block "g" -> singleton;
    // "unrelated" has no neighbor at all -> maps to itself
    val df = Seq("date", "gate", "data", "unrelated").toDF("name")
    val got = Entity.resolveEntities(df, "name", blockPrefix = 1, maxDist = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("data" -> "data", "date" -> "data",
      "gate" -> "gate", "unrelated" -> "unrelated"))
  }

  test("entity: transitive closure spans pairs within one block") {
    // aab - abb - abc: d(aab,abb)=1, d(abb,abc)=1, d(aab,abc)=2 -> with
    // maxDist=1 the pair graph is a chain and closure still unifies all 3
    val df = Seq("aab", "abb", "abc", "axyz").toDF("name")
    val got = Entity.resolveEntities(df, "name", blockPrefix = 1, maxDist = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("aab" -> "aab", "abb" -> "aab", "abc" -> "aab",
      "axyz" -> "axyz"))
  }

  test("leakage-safe split: cluster members share a side, everyone is assigned once") {
    // planted chain 1~2, 2~4 (transitively one cluster {1,2,4}); 3 and 5
    // are singletons. Whatever side md5 picks, the cluster moves together.
    val nearDup = base.replace("delta", "DELTA")
    val unrelated = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val far = "red orange yellow green blue indigo violet cyan magenta teal " +
      "maroon olive navy coral amber jade ruby pearl onyx quartz"
    val df = docs(1L -> base, 2L -> nearDup, 3L -> unrelated, 4L -> base, 5L -> far)
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5)
    val split = graft.operators.Curate.leakageSafeSplit(df, "doc_id", pairs)
      .select("doc_id", "split_rep", "split").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // exactly one assignment per input document
    assert(split.keySet === Set(1L, 2L, 3L, 4L, 5L))
    // the {1,2,4} cluster shares the min-id representative AND the side
    assert(split(1L)._1 === 1L && split(2L)._1 === 1L && split(4L)._1 === 1L)
    assert(split(2L)._2 === split(1L)._2 && split(4L)._2 === split(1L)._2)
    // singletons represent themselves
    assert(split(3L)._1 === 3L && split(5L)._1 === 5L)
    // sides come from the declared per-mille bands
    assert(split.values.map(_._2).forall(Set("train", "val", "test")))
    // determinism: a second evaluation produces identical assignments
    val again = graft.operators.Curate.leakageSafeSplit(df, "doc_id",
        Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5))
      .select("doc_id", "split_rep", "split").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(again === split)
  }

  test("incremental dedup == one-shot pairs restricted to delta-touching pairs") {
    // corpus {1: base, 2: near-dup, 3: unrelated}; delta {10: exact copy of
    // base, 11: near-dup, 12: novel}. Expect cross pairs (1,10),(2,10)...,
    // delta-delta (10,11), and NO corpus-corpus pair (1,2) even though the
    // one-shot operator finds it.
    val nearDup = base.replace("delta", "DELTA")
    val unrelated = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val novel = "red orange yellow green blue indigo violet cyan magenta teal " +
      "maroon olive navy coral amber jade ruby pearl onyx quartz"
    val corpus = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val delta = docs(10L -> base, 11L -> nearDup, 12L -> novel)
    val thr = 0.5
    val index = Dedup.lshBandIndex(corpus, "doc_id", "text")
    val got = Dedup.incrementalNearDupPairs(delta, corpus, "doc_id", "text",
        index, threshold = thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashLshPairs(corpus.unionByName(delta), "doc_id", "text",
        threshold = thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val deltaIds = Set(10L, 11L, 12L)
    val expected = full.filter(p => deltaIds(p._1) || deltaIds(p._2))
    assert(got === expected)
    // the planted structure actually exercised all three pair classes
    assert(got.exists(p => p._1 == 1L && p._2 == 10L && p._3 == 1.0)) // cross exact
    assert(got.exists(p => p._1 == 10L && p._2 == 11L))               // delta-delta
    assert(!got.exists(p => !deltaIds(p._1) && !deltaIds(p._2)))      // no corpus-corpus
    assert(expected.nonEmpty && got.size < full.size)
  }

  test("incremental dedup: novel delta doc pairs with nothing; empty delta is empty") {
    val corpus = docs(1L -> base)
    val novel = "red orange yellow green blue indigo violet cyan magenta teal " +
      "maroon olive navy coral amber jade ruby pearl onyx quartz"
    val index = Dedup.lshBandIndex(corpus, "doc_id", "text")
    val got = Dedup.incrementalNearDupPairs(docs(10L -> novel), corpus,
      "doc_id", "text", index, threshold = 0.5).count()
    assert(got === 0L)
    val empty = Dedup.incrementalNearDupPairs(docs(), corpus,
      "doc_id", "text", index, threshold = 0.5).count()
    assert(empty === 0L)
  }

  test("leakage-safe split: fraction bounds validated; empty pair graph = plain split reps") {
    val df = docs(1L -> "a b c", 2L -> "d e f")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException] {
      graft.operators.Curate.leakageSafeSplit(df, "doc_id", noPairs,
        trainPerMille = 900, valPerMille = 200)
    }
    val got = graft.operators.Curate.leakageSafeSplit(df, "doc_id", noPairs)
      .select("doc_id", "split_rep").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L))
  }

  test("funnel: first-touch chaining, window bound, and stall propagation") {
    import graft.operators.Funnel
    val ev = Seq(
      // user 1 completes A->B->C in order
      (1L, 100L, "A"), (1L, 200L, "B"), (1L, 300L, "C"),
      // user 2: B precedes first A -> stalls at stage 1 (first-touch, not
      // any-order); a later B at 500 continues the chain, C outside window
      (2L, 50L, "B"), (2L, 400L, "A"), (2L, 500L, "B"), (2L, 9999L, "C"),
      // user 3 never enters (no A)
      (3L, 10L, "B"), (3L, 20L, "C"),
      // user 4: same-ts A and B — >= admits the tie
      (4L, 700L, "A"), (4L, 700L, "B"))
      .toDF("user_id", "ts", "event_type")
    val got = Funnel.funnel(ev, "user_id", "ts", "event_type",
        Seq("A", "B", "C"), windowMicros = 1000L)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getAs[Long]("stages_reached"))).toMap
    assert(got.keySet === Set(1L, 2L, 4L))
    assert(got(1L) === ((Some(100L), Some(200L), Some(300L), 3L)))
    // user 2: t1=400, earliest B >= 400 within [400,1400] is 500; C at
    // 9999 is outside the window -> null
    assert(got(2L) === ((Some(400L), Some(500L), None, 2L)))
    assert(got(4L) === ((Some(700L), Some(700L), None, 2L)))
  }

  test("cdc latestByKey keeps greatest (version, tiebreak) row per key") {
    import graft.operators.Cdc
    val log = Seq(
      ("k1", 1L, 10L, "a"), ("k1", 3L, 11L, "b"), ("k1", 3L, 12L, "c"),
      ("k2", 5L, 20L, "x"))
      .toDF("key", "ver", "seq", "payload")
    val got = Cdc.latestByKey(log, Seq("key"), "ver", Seq("seq"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("ver"), r.getAs[String]("payload"))).toMap
    // k1: ver tie at 3 broken by seq 12 > 11
    assert(got === Map("k1" -> ((3L, "c")), "k2" -> ((5L, "x"))))
    intercept[IllegalArgumentException] {
      Cdc.latestByKey(log, Seq("key"), "missing")
    }
  }

  test("cdc scd2 compresses unchanged runs into validity intervals") {
    import graft.operators.Cdc
    val log = Seq(
      (1L, 10L, "bronze"), (1L, 20L, "bronze"), (1L, 30L, "gold"),
      (1L, 40L, "gold"), (1L, 50L, "bronze"),
      (2L, 5L, "silver"))
      .toDF("user_id", "ts", "tier")
    val got = Cdc.scd2(log, Seq("user_id"), "ts", Seq("tier"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), Option(r.get(3)))).toSet
    assert(got === Set(
      (1L, "bronze", 10L, Some(30L)),
      (1L, "gold", 30L, Some(50L)),
      (1L, "bronze", 50L, None),       // value can RECUR in a later interval
      (2L, "silver", 5L, None)))
  }

  test("triangleStats: planted K4 plus a pendant edge, dirty input") {
    import graft.operators.Graph
    // K4 on {1,2,3,4} = 4 triangles, 6 edges; pendant 4-5 adds one node
    // and one edge; input arrives directed-both-ways with a self-loop
    // and duplicates to exercise canonicalization
    val raw = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 3L), (4L, 5L), (5L, 5L), (1L, 2L))
      .toDF("s", "d")
    val r = Graph.triangleStats(raw, "s", "d").collect()(0)
    assert(r.getAs[Long]("n_nodes") === 5L)
    assert(r.getAs[Long]("n_edges") === 7L)
    // degrees: 1,2->3; 3,4->3,4... deg(1)=3 deg(2)=3 deg(3)=3 deg(4)=4
    // deg(5)=1 -> wedges = 3+3+3+6+0 = 15
    assert(r.getAs[Long]("n_wedges") === 15L)
    assert(r.getAs[Long]("n_triangles") === 4L)
    assert(r.getAs[Double]("global_clustering") === 0.8)
  }

  test("covariance matches the closed form on a tiny planted set") {
    import graft.operators.Stats
    // vectors (1,2), (3,4), (5,12): means (3,6); var_x = 8/3... use exact
    // round-6 expectations computed by hand:
    // cov_xx = ((1-3)^2+(3-3)^2+(5-3)^2)/3 = 8/3 = 2.666667
    // cov_xy = ((-2)(-4)+0(-2)+2*6)/3 = 20/3 = 6.666667
    // cov_yy = (16+4+36)/3 = 56/3 = 18.666667
    val df = Seq(
      Tuple1(Array(1.0f, 2.0f)), Tuple1(Array(3.0f, 4.0f)),
      Tuple1(Array(5.0f, 12.0f)))
      .toDF("v")
    val got = Stats.covariance(df, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got === Map((1L, 1L) -> 2.666667, (1L, 2L) -> 6.666667,
      (2L, 2L) -> 18.666667))
  }

  test("topComponent recovers a planted dominant direction") {
    import graft.operators.Stats
    // points spread along (3,4)/5 with tiny orthogonal jitter -> the top
    // component must align with (0.6, 0.8) to high precision
    val pts = (-10 to 10).flatMap { k =>
      Seq(Array(0.6f * k + 0.01f * (k % 3), 0.8f * k - 0.0075f * (k % 3)))
    }
    val df = pts.map(Tuple1(_)).toDF("v")
    val v = Stats.topComponents(df, "v", k = 1, iterations = 32).head
    assert(math.abs(v(0) - 0.6) < 0.02 && math.abs(v(1) - 0.8) < 0.02,
      s"got ${v.toSeq}")
    // sign rule: largest-|entry| is positive
    assert(v.maxBy(math.abs) > 0)
    val proj = Stats.pcaProject(df, Seq.empty, "v", iterations = 32)
    assert(proj.columns.toSeq === Seq("pc1"))
    assert(proj.count() === pts.size.toLong)
  }

  test("topComponents: deflation recovers the orthogonal second direction") {
    import graft.operators.Stats
    // strong variance along (0.6, 0.8), weaker along (-0.8, 0.6): v1 must
    // align with the major axis, v2 (post-deflation) with the minor one
    val pts = (-10 to 10).flatMap { k =>
      val minor = (k % 5) * 0.1
      Seq(Array((0.6 * k - 0.8 * minor).toFloat, (0.8 * k + 0.6 * minor).toFloat))
    }
    val df = pts.map(Tuple1(_)).toDF("v")
    val Seq(v1, v2) = Stats.topComponents(df, "v", k = 2, iterations = 32)
    assert(math.abs(math.abs(v1(0) * 0.6 + v1(1) * 0.8) - 1.0) < 0.01, v1.toSeq)
    assert(math.abs(math.abs(v2(0) * -0.8 + v2(1) * 0.6) - 1.0) < 0.01, v2.toSeq)
    // components are orthonormal to rounding precision
    assert(math.abs(v1(0) * v2(0) + v1(1) * v2(1)) < 0.01)
    val proj = Stats.pcaProjectK(df, Seq.empty, "v", k = 2)
    assert(proj.columns.toSeq === Seq("pc1", "pc2"))
  }

  test("vec_outer_agg merges across partitions and skips null-element vectors") {
    import graft.functions.VecOuterAgg.vec_outer_agg
    val df = Seq(
      Tuple1(Array(1.0f, 0.0f)), Tuple1(Array(0.0f, 2.0f)),
      Tuple1(null.asInstanceOf[Array[Float]]))
      .toDF("v").repartition(3)
    val r = df.agg(vec_outer_agg(col("v")).as("o")).select("o.*").collect()(0)
    assert(r.getAs[Long]("n") === 2L)
    assert(r.getAs[Seq[Double]]("sums") === Seq(1.0, 2.0))
    assert(r.getAs[Seq[Double]]("outer") === Seq(1.0, 0.0, 0.0, 4.0))
  }

  test("profile emits one fact row per column with nulls and ranges") {
    import graft.operators.Profile
    val df = Seq(
      (Some(1L), Some("b")), (Some(5L), None), (None, Some("a")))
      .toDF("num", "s")
    val got = Profile.profile(df, Seq("num"), Seq("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val n = got("num")
    assert(n.getAs[Long]("n_rows") === 3L && n.getAs[Long]("n_nulls") === 1L)
    assert(n.getAs[Long]("n_distinct") === 2L)
    assert(n.getAs[Double]("min_num") === 1.0 && n.getAs[Double]("max_num") === 5.0)
    assert(n.isNullAt(n.fieldIndex("min_str")))
    val s = got("s")
    assert(s.getAs[Long]("n_nulls") === 1L && s.getAs[Long]("n_distinct") === 2L)
    assert(s.getAs[String]("min_str") === "a" && s.getAs[String]("max_str") === "b")
    assert(s.isNullAt(s.fieldIndex("min_num")))
    intercept[IllegalArgumentException] {
      Profile.profile(df, Seq("num"), Seq("num"))
    }
  }

  test("funnel matches a per-user reference implementation on random logs") {
    import graft.operators.Funnel
    val rnd = new scala.util.Random(42)
    val events = (1 to 2000).map { i =>
      (rnd.nextInt(40).toLong, rnd.nextInt(500).toLong,
        Seq("A", "B", "C", "D")(rnd.nextInt(4)))
    }
    val w = 120L
    val got = Funnel.funnel(events.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", Seq("A", "B", "C"), w)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    // independent reference: plain Scala, per user
    val expected = events.groupBy(_._1).flatMap { case (u, evs) =>
      val byType = evs.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
      byType.get("A").map(_.min).map { t1 =>
        val t2 = byType.getOrElse("B", Nil)
          .filter(t => t >= t1 && t <= t1 + w).sorted.headOption
        val t3 = t2.flatMap(b => byType.getOrElse("C", Nil)
          .filter(t => t >= b && t <= t1 + w).sorted.headOption)
        u -> ((Some(t1): Option[Any], t2.map(x => x: Any), t3.map(x => x: Any)))
      }
    }.toMap
    assert(got === expected)
  }

  test("scd2 matches a per-key reference implementation on random logs") {
    import graft.operators.Cdc
    val rnd = new scala.util.Random(7)
    // unique (key, ts) by construction; small value alphabet forces runs
    val log = (0 until 1500).map { i =>
      (rnd.nextInt(25).toLong, i.toLong, Seq("x", "y", "z")(rnd.nextInt(3)))
    }
    val got = Cdc.scd2(log.toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
    val expected = log.groupBy(_._1).flatMap { case (k, rows) =>
      val sorted = rows.sortBy(_._2)
      val changes = sorted.zip(None +: sorted.map(r => Some(r._3)))
        .collect { case (r, prev) if !prev.contains(r._3) => r }
      changes.zip(changes.drop(1).map(c => Some(c._2)) :+ None).map {
        case ((_, ts, v), to) => (k, v, ts, to)
      }
    }.toSet
    assert(got === expected)
  }

  test("IVF index survives a parquet round-trip: search equals direct ivfTopK") {
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 10)
    val corpus = e.filter(col("vec_id") >= 10)
    val direct = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (assigned, centroids) = Similarity.ivfIndexFrames(
      corpus, "vec_id", "embedding", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx")
    assigned.write.mode("overwrite").parquet(s"$dir/assigned")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    val viaStorage = Similarity.ivfSearchIndex(queries,
        spark.read.parquet(s"$dir/assigned"),
        spark.read.parquet(s"$dir/centroids"),
        "vec_id", "embedding", k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaStorage === direct)
  }

  test("applyChanges: incremental merge equals global recompute; tombstones shadow") {
    import graft.operators.Cdc
    val log = Seq(
      // k1: live -> tombstone -> nothing (must stay dead in output)
      ("k1", 1L, 1L, "a", false), ("k1", 2L, 2L, "-", true),
      // k2: live -> tombstone -> resurrected by a NEWER change
      ("k2", 1L, 3L, "x", false), ("k2", 2L, 4L, "-", true),
      ("k2", 5L, 5L, "y", false),
      // k3: appears only in the change batch
      ("k3", 9L, 6L, "z", false))
      .toDF("k", "ver", "seq", "payload", "is_delete")
    for (cut <- Seq(0L, 2L, 3L, 10L)) {
      val snapshot = Cdc.latestByKey(log.filter(col("ver") < cut),
        Seq("k"), "ver", Seq("seq"))
      val merged = Cdc.applyChanges(snapshot, log.filter(col("ver") >= cut),
          Seq("k"), "ver", Seq("seq"))
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("ver"), r.getAs[String]("payload"),
            r.getAs[Boolean]("is_delete"))).toMap
      val global = Cdc.latestByKey(log, Seq("k"), "ver", Seq("seq"))
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("ver"), r.getAs[String]("payload"),
            r.getAs[Boolean]("is_delete"))).toMap
      assert(merged === global, s"split at $cut diverged")
      // k1's winner is its tombstone; k2 resurrected; k3 inserted
      assert(merged("k1")._3 === true && merged("k2") === ((5L, "y", false)))
      assert(merged("k3") === ((9L, "z", false)))
    }
  }

  test("snapshotDiff classifies added/removed/changed; unchanged opt-in") {
    import graft.operators.Curate
    val oldDf = docs(1L -> "same", 2L -> "will change", 3L -> "will vanish")
    val newDf = docs(1L -> "same", 2L -> "changed!", 4L -> "brand new")
    val got = Curate.snapshotDiff(oldDf, newDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
    val all = Curate.snapshotDiff(oldDf, newDf, "doc_id", "text",
      includeUnchanged = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all(1L) === "unchanged" && all.size === 4)
  }
}

/** Evaluation counter for the non-deterministic-updates spec: top-level so
  * executor-side closures resolve the JVM singleton instead of a
  * deserialized copy (local mode shares the JVM). */
object NdetEvalCounter {
  val n = new java.util.concurrent.atomic.AtomicInteger(0)
}

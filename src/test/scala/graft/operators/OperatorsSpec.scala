package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.streaming.IncrementalSync
import graft.types.IdExtraction

/** Operator-level tests: dedup/similarity/text-analysis semantics, the
  * LSH hot-bucket cap, checksums, reconciliation, id extraction. */
class OperatorsSpec extends AnyFunSuite {

  private def spark = SparkTestSession.spark
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- Dedup ----------------------------------------------------------

  test("exactDedup keeps lowest id per key with group size") {
    val out = Dedup.exactDedup(
      docs(1L -> "aa", 2L -> "bb", 3L -> "aa", 4L -> "aa"), "doc_id", col("text"))
      .orderBy("dup_key").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("aa", 1L, 3L), ("bb", 2L, 1L)))
  }

  test("wordNgrams builds distinct n-grams; short texts yield none") {
    val s = spark
    val g = docs(1L -> "the quick brown fox the quick brown")
      .select(Dedup.wordNgrams(col("text"), 3).as("g")).head().getSeq[String](0)
    assert(g.toSet == Set("the quick brown", "quick brown fox", "brown fox the",
      "fox the quick"))
    val short = docs(1L -> "just two")
      .select(Dedup.wordNgrams(col("text"), 3).as("g")).head().getSeq[String](0)
    assert(short.isEmpty)
  }

  test("native minhash signatures are byte-identical to the declarative aggregate form") {
    // fresh lambdas (not `eq` the shipped vals) force the fallback path;
    // the shipped vals take the native single-traversal expressions
    val md5Decl: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => md5(c.cast("binary"))
    val xxDecl: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => xxhash64(c)
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "pack my box with five dozen liquor jugs for the long trip",
      3L -> "the quick brown fox jumps over the lazy dog again and again",
      4L -> "tiny", // fewer than 3 tokens → no grams → no signature rows
      5L -> "sphinx of black quartz judge my vow said the old sage",
      // boundary-empty word semantics: non-space whitespace at the edges
      // survives Spark's space-only trim and becomes an EMPTY first/last
      // token after the collapse — the text-direct walk must reproduce it
      6L -> "\tleading tab word salad here\n",
      7L -> "  spaces trim clean but   runs\t\ncollapse inside  ",
      8L -> "CASE Folding És Straße İstanbul MiXeD case GRAMS here",
      9L -> "dup dup dup dup dup dup") // heavy duplicate grams (distinct dropped)
    def rows(hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Dedup.bandedSignatures(corpus, "doc_id", col("text"), 3, 4, 3, hashFn)
        .orderBy("id", "band").collect().map(_.toSeq).toSeq
    assert(rows(Dedup.md5Hex) == rows(md5Decl))
    assert(rows(Dedup.xxhash) == rows(xxDecl))
    // the gram-less doc is absent under both paths
    assert(!rows(Dedup.md5Hex).exists(_.head == 4L))
  }

  test("corpusOverlap reports exact gram counts and Jaccard between corpora") {
    // side A grams: {a b c, b c d, x y z}; side B grams: {b c d, c d e, x y z}
    // intersection {b c d, x y z} = 2, union = 4 → jaccard 0.5
    val a = docs(1L -> "a b c d", 2L -> "x y z")
    val b = docs(3L -> "b c d e", 4L -> "x y z")
    val r = Dedup.corpusOverlap(a, b, col("text"), 3).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((3L, 3L, 2L, 0.5)))
  }

  test("corpusOverlapSketch tracks the exact Jaccard within KMV error") {
    val rnd = new scala.util.Random(7)
    // shared pool + per-side pools: overlap is planted, not incidental
    def doc(pool: String, i: Int) =
      (0 until 12).map(j => s"$pool${rnd.nextInt(300)}").mkString(" ")
    val shared = (1 to 150).map(i => (i.toLong, doc("s", i)))
    val a = docs((shared ++ (201 to 350).map(i => (i.toLong, doc("a", i)))): _*)
    val b = docs((shared ++ (401 to 550).map(i => (i.toLong, doc("b", i)))): _*)
    val exact = Dedup.corpusOverlap(a, b, col("text"), 3).head().getDouble(3)
    val k = 512
    val est = Dedup.corpusOverlapSketch(a, b, col("text"), 3, k)
    assert(exact > 0.2 && exact < 0.8, s"planted overlap degenerate: $exact")
    val tol = 3.0 / math.sqrt(k)
    assert(math.abs(est - exact) <= tol,
      s"KMV estimate $est vs exact $exact exceeds ±$tol")
  }

  test("minhashCandidates finds planted near-dups and skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = docs(
      1L -> base,
      2L -> (base + " extra"),          // near-dup of 1
      3L -> "completely different words with nothing shared at all here now today")
    val pairs = Dedup.minhashCandidates(corpus, "doc_id", col("text"),
      ngramN = 3, bands = 4, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhashEstimatorError: est/exact/err wiring against directly-computed signatures") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = docs(
      1L -> base,
      2L -> base,                        // identical: est = exact = 1, err = 0
      3L -> (base + " extra tail"),      // near-dup: est ≈ exact, both < 1
      4L -> "completely different words with nothing shared at all here now today")
    val cands = Dedup.minhashCandidates(corpus, "doc_id", col("text"),
      ngramN = 3, bands = 4, rowsPerBand = 3, hashFn = Dedup.md5Hex)
    val out = Dedup.minhashEstimatorError(corpus, "doc_id", col("text"), cands,
      ngramN = 3, k = 12, hashFn = Dedup.md5Hex)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (e12, x12, err12) = out((1L, 2L))
    assert(e12 == 1.0 && x12 == 1.0 && err12 == 0.0)
    // every pair's est must equal the matching-component fraction of the
    // independently-computed signatures (wiring, not statistics)
    val sigs = corpus.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.wordNgrams(col("text"), 3), 12, Dedup.md5Hex).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    out.foreach { case ((a, b), (est, _, _)) =>
      val matches = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
      assert(est == math.floor(matches.toDouble / 12 * 1e6 + 0.5) / 1e6 ||
        est == BigDecimal(matches.toDouble / 12).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("detectionReport: hand-computed recall and other-flag counts per stage") {
    val s = spark
    import s.implicits._
    val planted = Seq((1L, 101L), (2L, 102L)).toDF("id_a", "id_b")
    val cand = Seq((1L, 101L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val ver = Seq((1L, 101L), (2L, 102L)).toDF("id_a", "id_b")
    val out = Dedup.detectionReport(planted, Seq("candidates" -> cand, "verified" -> ver))
      .orderBy("stage").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      ("candidates", 2L, 3L, 1L, 0.5, 2L),
      ("verified", 2L, 2L, 2L, 1.0, 0L)))
    // a duplicated planted row is still one pair: recall stays 1.0
    val dup = Dedup.detectionReport(planted.unionAll(Seq((1L, 101L)).toDF("id_a", "id_b")),
      Seq("verified" -> ver)).head()
    assert(dup.getLong(1) == 2L && dup.getLong(3) == 2L && dup.getDouble(4) == 1.0,
      s"duplicate planted row skewed the report: $dup")
  }

  test("hot-bucket cap drops oversized LSH buckets (no quadratic blowup)") {
    // 50 identical docs share every band bucket → bucket size 50
    val many = docs((1L to 50L).map(i => i -> "same words repeated here often enough"): _*)
    val capped = Dedup.minhashCandidates(many, "doc_id", col("text"),
      ngramN = 3, bands = 4, rowsPerBand = 2, maxBucket = 10)
    assert(capped.count() == 0) // bucket of 50 > cap of 10 → dropped entirely
    val uncapped = Dedup.minhashCandidates(many, "doc_id", col("text"),
      ngramN = 3, bands = 4, rowsPerBand = 2, maxBucket = 10000)
    assert(uncapped.count() == 50L * 49 / 2) // the quadratic pair set
  }

  test("array-lambda and explode-aggregate minhash signatures agree") {
    // minhashSignature (array form, small-frame API) must equal the
    // aggregation form minhashCandidates uses internally
    val d = docs(1L -> "one two three four five six", 2L -> "alpha beta gamma delta")
    val viaArray = d.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.wordNgrams(col("text"), 2), 4, Dedup.md5Hex).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaAgg = d.select(col("doc_id"), explode(Dedup.wordNgrams(col("text"), 2)).as("g"))
      .groupBy("doc_id")
      .agg(array((0 until 4).map(seed =>
        min(Dedup.md5Hex(concat(lit(s"$seed:"), col("g"))))): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaArray == viaAgg)
  }

  test("simhash64: near-dup docs land within small Hamming distance") {
    val a = "spark catalyst optimizer rewrites logical plans into physical plans"
    val sigs = Dedup.simhash64(
      docs(1L -> a, 2L -> (a + " quickly"), 3L -> "entirely unrelated content about cooking pasta"),
      "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(sigs(1L), sigs(2L)) < hamming(sigs(1L), sigs(3L)))
    assert(hamming(sigs(1L), sigs(2L)) <= 8)
  }

  test("ngramJaccard computes the exact set similarity on candidates") {
    val s = spark
    import s.implicits._
    val corpus = docs(1L -> "a b c d e", 2L -> "a b c d f")
    val cands = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(corpus, "doc_id", col("text"), 2, cands).head().getDouble(2)
    // 2-grams: {ab,bc,cd,de} vs {ab,bc,cd,df}: |∩|=3, |∪|=5
    assert(j == 0.6)
  }

  test("hashed ngramJaccard equals the string-set reference pair-for-pair on corpus data") {
    val s = spark
    import s.implicits._
    // real corpus + real LSH candidates: every banded candidate pair of
    // the sf0.001 documents table must get the IDENTICAL rounded Jaccard
    // from the hashed production path and the string-set reference —
    // plus edge pairs the LSH step would never emit (empty vs empty,
    // fewer-than-n-token docs) via a synthetic block
    val docsDf = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val (cands, release) = Dedup.minhashCandidatesManaged(
      docsDf, "doc_id", col("text"), ngramN = 3, bands = 4, rowsPerBand = 3,
      hashFn = Dedup.md5Hex, maxBucket = 200)
    try {
      val hashed = Dedup.ngramJaccard(docsDf, "doc_id", col("text"), 3, cands)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val strings = Dedup.ngramJaccardStrings(docsDf, "doc_id", col("text"), 3, cands)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(hashed.nonEmpty && hashed == strings,
        s"${hashed.size} hashed vs ${strings.size} string pairs")
    } finally release()
    val edge = docs(
      1L -> "", 2L -> "", 3L -> "one two", 4L -> "one two",
      5L -> "x y z x y z", 6L -> "x y z w")
    val edgeCands = Seq((1L, 2L), (3L, 4L), (5L, 6L), (1L, 5L))
      .toDF("id_a", "id_b")
    val eh = Dedup.ngramJaccard(edge, "doc_id", col("text"), 3, edgeCands)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val es = Dedup.ngramJaccardStrings(edge, "doc_id", col("text"), 3, edgeCands)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(eh == es && eh((1L, 2L)) == 0.0 && eh((3L, 4L)) == 0.0)
  }

  test("character shingles cover the text; short texts yield one shingle") {
    val s = spark
    import s.implicits._
    val out = Seq("abcde", "ab").toDF("t")
      .select(col("t"), Dedup.shingles(col("t"), 3).as("sh"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(out("abcde") == Seq("abc", "bcd", "cde"))
    assert(out("ab") == Seq("ab"))
  }

  test("salted join equals the plain join and spreads hot keys") {
    val s = spark
    import s.implicits._
    // one pathologically hot key
    val big = ((1 to 500).map(_ => (1L, "hot")) ++ Seq((2L, "cold"))).toDF("k", "v")
    val small = Seq((1L, "dim1"), (2L, "dim2")).toDF("k", "name")
    val salted = Skew.saltedJoin(big, small, Seq("k"), saltFactor = 8)
    val plain = big.join(small, Seq("k"))
    assert(salted.count() == plain.count())
    assert(Checksum.tablesMatch(
      salted.select("k", "v", "name"), plain.select("k", "v", "name")))
    // the hot key's rows really do spread across salts
    val saltSpread = big.withColumn("__salt", Skew.rowSalt(big, 8))
      .filter(col("k") === 1).select("__salt").distinct().count()
    assert(saltSpread > 1)
  }

  test("saltFactorFromSkew sizes S from the diagnosis and closes the loop") {
    val s = spark
    import s.implicits._
    // hot key = 80% of 1000 rows: at 32 partitions the fair share is
    // 1/32, so S = ceil(0.8 * 32) = 26
    val big = ((1 to 800).map(_ => (1L, "hot")) ++
      (1 to 200).map(i => ((i % 50) + 2L, "cold"))).toDF("k", "v")
    val report = HeavyHitters.keySkew(big, "k", k = 20)
    assert(Skew.saltFactorFromSkew(report, partitions = 32) == 26)
    assert(Skew.saltFactorFromSkew(report, partitions = 32, maxSalt = 8) == 8)
    // uniform keys: heaviest share ≈ 1/50 under 32 partitions → S = 1 (off)
    val uniform = (1 to 1000).map(i => (i % 50L, "u")).toDF("k", "v")
    assert(Skew.saltFactorFromSkew(
      HeavyHitters.keySkew(uniform, "k", k = 20), partitions = 32) == 1)
    // empty input → empty report → S = 1
    assert(Skew.saltFactorFromSkew(
      HeavyHitters.keySkew(big.filter(col("k") < 0), "k"), partitions = 32) == 1)
    // the closed loop: join salted at the DERIVED factor equals the plain join
    val small = (1 to 60).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val derived = Skew.saltFactorFromSkew(report, partitions = 32)
    val salted = Skew.saltedJoin(big, small, Seq("k"), derived).select("k", "v", "name")
    assert(Checksum.tablesMatch(salted, big.join(small, Seq("k")).select("k", "v", "name")))
  }

  test("salted-join result is salt-independent: invariant under any repartitioning") {
    // the pinned guarantee (Skew.rowSalt scaladoc): repartitioning shifts
    // monotonically_increasing_id — and therefore every salt value — but
    // the JOIN RESULT cannot change, because each big-side row matches
    // the replicated small side under any salt in [0, S)
    val s = spark
    import s.implicits._
    val big = ((1 to 200).map(_ => (1L, "hot")) ++ (2 to 20).map(i => (i.toLong, s"v$i")))
      .toDF("k", "v")
    val small = (1 to 20).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).select("k", "v", "name")
    for (parts <- Seq(1, 3, 16)) {
      val salted = Skew.saltedJoin(big.repartition(parts), small, Seq("k"), saltFactor = 8)
        .select("k", "v", "name")
      assert(Checksum.tablesMatch(salted, plain), s"parts=$parts")
    }
  }

  test("two-phase salted aggregation equals direct aggregation") {
    val s = spark
    import s.implicits._
    val df = ((1 to 300).map(i => ("hot", i.toLong)) ++ Seq(("cold", 7L))).toDF("k", "x")
    val twoPhase = Skew.twoPhaseSum(df, Seq("k"), "x", saltFactor = 4)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val direct = df.groupBy("k").agg(sum("x").as("s"), count(lit(1)).as("n"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(twoPhase.toSeq == direct.toSeq)
  }

  // ---- Similarity -----------------------------------------------------

  private def vecs(rows: (Long, Seq[Float])*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("bruteForceTopK ranks by cosine with the query itself first") {
    val q = Array(1.0f, 0.0f, 0.0f)
    val out = Similarity.bruteForceTopK(
      vecs(1L -> Seq(1f, 0f, 0f), 2L -> Seq(0.9f, 0.1f, 0f), 3L -> Seq(0f, 1f, 0f)),
      "vec_id", "embedding", q, 2).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out.head.getDouble(1) == 1.0)
  }

  test("srpBucket is invariant under positive scaling (both plane kinds)") {
    for (portable <- Seq(false, true)) {
      val out = vecs(1L -> Seq(0.3f, -0.7f, 0.2f, 0.9f), 2L -> Seq(0.6f, -1.4f, 0.4f, 1.8f))
        .select(Similarity.srpBucket(col("embedding"), 4, portable).as("b"))
        .collect().map(_.getLong(0))
      assert(out(0) == out(1))
    }
  }

  test("pairwiseCosineCandidates finds scaled duplicates above threshold") {
    val out = Similarity.pairwiseCosineCandidates(
      vecs(1L -> Seq(0.3f, -0.7f, 0.2f), 2L -> Seq(0.6f, -1.4f, 0.4f),
        3L -> Seq(-0.5f, 0.5f, 0.8f)),
      "vec_id", "embedding", threshold = 0.99, hPlanes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("multi-probe LSH: radius grows the probe set; full radius == brute force") {
    assert(Similarity.probeBuckets(5L, 4, 0) == Seq(5L))
    assert(Similarity.probeBuckets(5L, 4, 1).toSet ==
      Set(5L, 4L, 7L, 1L, 13L)) // flip each of 4 bits
    assert(Similarity.probeBuckets(0L, 3, 3).toSet == (0L to 7L).toSet)
    val data = vecs((1L to 40L).map(i =>
      i -> Seq(math.sin(i * 1.7).toFloat, math.cos(i * 2.3).toFloat,
        math.sin(i * 0.9).toFloat, math.cos(i * 1.1).toFloat)): _*)
    val q = Array(0.5f, -0.2f, 0.8f, 0.1f)
    val brute = Similarity.bruteForceTopK(data, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val fullProbe = Similarity.lshBucketedTopK(data, "vec_id", "embedding", q, 10,
      hPlanes = 4, probeRadius = 4).collect().map(_.getLong(0)).toSet
    assert(fullProbe == brute) // probing every bucket = exact search
    val r0 = Similarity.lshBucketedTopK(data, "vec_id", "embedding", q, 10,
      hPlanes = 4, probeRadius = 0).collect().map(_.getLong(0)).toSet
    val r1 = Similarity.lshBucketedTopK(data, "vec_id", "embedding", q, 10,
      hPlanes = 4, probeRadius = 1).collect().map(_.getLong(0)).toSet
    // recall vs brute force is monotone in the probe radius
    assert((r0 & brute).size <= (r1 & brute).size)
    assert((r1 & brute).size <= (fullProbe & brute).size)
  }

  test("lshBucketedTopK reuses a persisted srp_bucket column") {
    val pre = Similarity.withSrpBucket(
      vecs(1L -> Seq(1f, 0f), 2L -> Seq(0.9f, 0.1f), 3L -> Seq(-1f, 0f)),
      "embedding", 3)
    assert(pre.columns.contains("srp_bucket"))
    val out = Similarity.lshBucketedTopK(pre, "vec_id", "embedding",
      Array(1.0f, 0.0f), 5, hPlanes = 3)
    // query bucket contains ids 1,2 (same signs) but not the negated vector
    assert(out.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("IVF: cells partition the data; full probe equals brute force") {
    val data = vecs((1L to 60L).map(i =>
      i -> Seq(math.sin(i * 0.7).toFloat, math.cos(i * 1.3).toFloat,
        math.sin(i * 2.1).toFloat)): _*)
    val cents = Similarity.kmeansCentroids(data, "embedding", k = 4, iters = 4)
    assert(cents.length == 4 && cents.forall(_.length == 3))
    val celled = Similarity.withIvfCell(data, "embedding", cents)
    val cellCounts = celled.groupBy("ivf_cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cellCounts.values.sum == 60)
    assert(cellCounts.keys.forall(c => c >= 0 && c < 4))
    val q = Array(0.3f, -0.5f, 0.7f)
    val brute = Similarity.bruteForceTopK(data, "vec_id", "embedding", q, 8)
      .collect().map(_.getLong(0)).toSeq
    val full = Similarity.ivfTopK(data, "vec_id", "embedding", q, 8, cents, nProbe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(full == brute) // probing every cell = exact search
    val one = Similarity.ivfTopK(celled, "vec_id", "embedding", q, 8, cents, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(one.subsetOf(brute.toSet ++ one)) // sane subset, reuses ivf_cell
    assert(one.nonEmpty)
  }

  test("ivfRecallAtK: full probe is recall 1.0 over all candidates; partial probe monotone") {
    val data = vecs((1L to 60L).map(i =>
      i -> Seq(math.sin(i * 0.7).toFloat, math.cos(i * 1.3).toFloat,
        math.sin(i * 2.1).toFloat)): _*)
    val cents = Similarity.kmeansCentroids(data, "embedding", k = 4, iters = 4)
    val queries = data.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def run(nProbe: Int) = Similarity.ivfRecallAtK(data, queries, "vec_id",
      "embedding", "qid", "qv", k = 10, cents, nProbe)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val full = run(4)
    assert(full.size == 3)
    assert(full.values.forall { case (n, rec) => n == 60L && rec == 1.0 },
      s"probing every cell must replay exact search: $full")
    val partial = run(1)
    assert(partial.values.forall { case (n, rec) => n < 60L && rec <= 1.0 })
    // recall is monotone in nProbe, per query
    val mid = run(2)
    assert(partial.forall { case (q, (_, r1)) =>
      r1 <= mid(q)._2 && mid(q)._2 <= full(q)._2 })
  }

  test("pqRecallAtK: lossless codebooks (every sub-vector a codeword) give recall 1.0") {
    val rows = (1L to 8L).map(i => i -> Seq(i.toFloat, (i % 3).toFloat,
      (9 - i).toFloat, (i * i % 5).toFloat))
    val data = vecs(rows: _*)
    // m=2 subspaces of 2 dims; codebooks hold every vector's exact
    // sub-vectors → encode is lossless → ADC ranking == true L2 ranking
    val books: Array[Array[Array[Double]]] = Array(
      rows.map(r => Array(r._2(0).toDouble, r._2(1).toDouble)).toArray,
      rows.map(r => Array(r._2(2).toDouble, r._2(3).toDouble)).toArray)
    val queries = data.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val out = Similarity.pqRecallAtK(data, queries, "vec_id", "embedding",
      "qid", "qv", k = 5, books)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.size == 2)
    assert(out.values.forall { case (n, rec) => n == 8L && rec == 1.0 },
      s"lossless PQ must reproduce the exact L2 top-k: $out")
  }

  test("recall harnesses: shared precomputed exact top-k == inline derivation") {
    // round-16 pin: the harnesses' exactTopK parameter (the shared
    // ground-truth memo the ANN recall family feeds through) must be a
    // pure compute-once of the inline exact side — row-identical output
    // on every harness, cosine and L2 metric alike
    val data = vecs((0L to 40L).map(i =>
      i -> Seq(math.sin(i * 0.7 + 0.2).toFloat, math.cos(i * 1.3).toFloat,
        math.sin(i * 2.1).toFloat, math.cos(i * 0.4).toFloat)): _*)
    val queries = data.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exactCos = Similarity.exactCosineTopK(data, queries, "vec_id",
      "embedding", "qid", "qv", k = 7).persist()
    val exactL2 = Similarity.exactL2TopK(data, queries, "vec_id",
      "embedding", "qid", "qv", k = 7).persist()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    try {
      assert(rows(Similarity.annRecallAtK(data, queries, "vec_id", "embedding",
        "qid", "qv", k = 7, hPlanes = 3, portable = true,
        exactTopK = Some(exactCos))) ==
        rows(Similarity.annRecallAtK(data, queries, "vec_id", "embedding",
          "qid", "qv", k = 7, hPlanes = 3, portable = true)))
      val cents = Similarity.kmeansCentroids(data, "embedding", k = 3, iters = 3)
      assert(rows(Similarity.ivfRecallAtK(data, queries, "vec_id", "embedding",
        "qid", "qv", k = 7, cents, nProbe = 2, exactTopK = Some(exactCos))) ==
        rows(Similarity.ivfRecallAtK(data, queries, "vec_id", "embedding",
          "qid", "qv", k = 7, cents, nProbe = 2)))
      assert(rows(Similarity.sq8RecallAtK(data, queries, "vec_id", "embedding",
        "qid", "qv", k = 7, exactTopK = Some(exactCos))) ==
        rows(Similarity.sq8RecallAtK(data, queries, "vec_id", "embedding",
          "qid", "qv", k = 7)))
      val books = Similarity.pqTrain(data, "embedding", m = 2, k = 4)
      assert(rows(Similarity.pqRecallAtK(data, queries, "vec_id", "embedding",
        "qid", "qv", k = 7, books, exactTopK = Some(exactL2))) ==
        rows(Similarity.pqRecallAtK(data, queries, "vec_id", "embedding",
          "qid", "qv", k = 7, books)))
      val ivfBooks = Similarity.ivfPqAnchorBooks(data, "vec_id", "embedding",
        cents, m = 2, nBooks = 4)
      assert(rows(Similarity.ivfPqRecallAtK(data, queries, "vec_id", "embedding",
        "qid", "qv", k = 7, cents, ivfBooks, nProbe = 2, refine = 10,
        exactTopK = Some(exactL2))) ==
        rows(Similarity.ivfPqRecallAtK(data, queries, "vec_id", "embedding",
          "qid", "qv", k = 7, cents, ivfBooks, nProbe = 2, refine = 10)))
    } finally { exactCos.unpersist(); exactL2.unpersist(); () }
  }

  // ---- TextAnalysis ---------------------------------------------------

  test("bpePairCounts: frequency-weighted adjacent pairs, deterministic top") {
    // "ababab" contributes ab×3 + ba×2 per occurrence; two docs carry it
    // twice and once → ab = 9, ba = 6; "xy" adds xy = 3 via one word ×3
    val out = TextAnalysis.bpePairCounts(
      docs(1L -> "ababab xy ababab", 2L -> "ababab xy xy"),
      "text", k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.head == (("a", "b", 9L)), s"top pair wrong: ${out.head}")
    assert(out.toSeq.contains(("b", "a", 6L)) && out.toSeq.contains(("x", "y", 3L)))
    // single-character words contribute no pairs
    assert(TextAnalysis.bpePairCounts(docs(1L -> "a b c"), "text", 10).count() == 0)
  }

  test("bpeTrain: Sennrich et al.'s corpus reproduces the canonical first five merges") {
    // vocab low:5 lower:2 newest:6 widest:3 — the worked example from the
    // paper (§3.2). Hand-computed: (e,s)=9 ties (s,t)/(t,</w>) and wins
    // lexicographically; then (es,t)=9, (est,</w>)=9, (l,o)=7 ties (o,w)
    // and wins, (lo,w)=7.
    val corpus = docs(
      1L -> (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" "),
      2L -> (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
    val out = TextAnalysis.bpeTrain(corpus, "text", nMerges = 5)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L)), s"got ${out.toSeq}")
    // merge exhaustion: a single repeated word runs out of pairs — the
    // loop stops early instead of emitting degenerate merges
    val tiny = TextAnalysis.bpeTrain(docs(1L -> "ab ab"), "text", nMerges = 10)
      .collect()
    assert(tiny.length == 2) // (a,b) then (ab,</w>), nothing after
  }

  test("bpeEncode: Sennrich merges segment the training words as the paper does") {
    // the five trained merges applied back to the corpus words:
    //   low    → l o w </w>   after (l,o),(lo,w)      → [low </w>]? no:
    //     chars l o w </w>; (e,s)/(es,t)/(est,</w>) no-op; (l,o) → lo;
    //     (lo,w) → low  ⇒  [low, </w>]
    //   lowest → l o w e s t </w> → (e,s) → es, (es,t) → est,
    //     (est,</w>) → est</w>, (l,o) → lo, (lo,w) → low ⇒ [low, est</w>]
    //   newest → n e w est</w> ⇒ [n, e, w, est</w>]
    val merges = Seq("e" -> "s", "es" -> "t", "est" -> "</w>",
      "l" -> "o", "lo" -> "w")
    val out = TextAnalysis.bpeEncode(
      docs(1L -> "low", 2L -> "lowest", 3L -> "newest", 4L -> "low lowest"),
      "doc_id", "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1), r.getLong(2)))
    assert(out(0)._2 == Seq("low", "</w>"))
    assert(out(1)._2 == Seq("low", "est</w>"))
    assert(out(2)._2 == Seq("n", "e", "w", "est</w>"))
    assert(out(3)._2 == Seq("low", "</w>", "low", "est</w>") && out(3)._3 == 4L)
  }

  test("bpeEncode fold is equivalent to the trainer's mergeSyms scan (exhaustive)") {
    val s = spark
    import s.implicits._
    // every symbol sequence over {a,b} up to length 5, against every
    // merge pair over {a,b} — covers the identical-symbol run and
    // chained-pair cases where a naive scan and the fold could diverge
    val seqs = (1 to 5).flatMap(n =>
      Seq.fill(n)(Seq("a", "b")).foldLeft(Seq(Seq.empty[String]))(
        (acc, cs) => acc.flatMap(p => cs.map(p :+ _))))
    for (l <- Seq("a", "b"); r <- Seq("a", "b")) {
      val words = seqs.map(_.mkString("")) // chars == symbols here
      val enc = TextAnalysis.bpeEncode(
        words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text"),
        "doc_id", "text", Seq(l -> r))
        .orderBy("doc_id").collect().map(_.getSeq[String](1))
      words.zipWithIndex.foreach { case (w, i) =>
        val expect = TextAnalysis.mergeSyms(
          w.map(_.toString).toArray :+ "</w>", l, r).toSeq
        assert(enc(i) == expect, s"word=$w merge=($l,$r): ${enc(i)} vs $expect")
      }
    }
  }

  test("graft_nfc_normalize: composes decomposed sequences, identity on NFC text") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "cafe\u0301"),   // cafe + combining acute → café (U+00E9)
      (2L, "caf\u00e9"),              // already composed — unchanged
      (3L, "plain ascii"),
      (4L, "A\u030a")       // A + combining ring → Å (U+00C5)
    ).toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        call_function("graft_nfc_normalize", col("text")).as("n"),
        length(call_function("graft_nfc_normalize", col("text"))).as("len"))
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "caf\u00e9" && out(0).getInt(2) == 4)
    assert(out(1).getString(1) == "caf\u00e9")
    assert(out(2).getString(1) == "plain ascii")
    assert(out(3).getString(1) == "\u00c5" && out(3).getInt(2) == 1)
  }

  test("compressionRatio: deflate lengths match independent CPython-zlib constants") {
    // expected compressed lengths computed by CPython zlib.compress(_, 6)
    // — an independent zlib implementation, the cross-engine pin the
    // DuckDB oracles provide elsewhere (SQL engines expose no deflate)
    val cases = Seq(
      ("a" * 24, 24L, 11L),
      ("The quick brown fox jumps over the lazy dog", 43L, 50L),
      ("abcabcabcabcabcabcabcabcabcabc", 30L, 13L),
      ("key agg row scan slow fast table value part hash", 48L, 52L))
    val out = TextAnalysis.compressionRatio(
      docs(cases.zipWithIndex.map { case ((t, _, _), i) => i.toLong -> t }: _*),
      "doc_id", "text").orderBy("doc_id").collect()
    cases.zipWithIndex.foreach { case ((_, raw, comp), i) =>
      assert(out(i).getLong(1) == raw && out(i).getLong(2) == comp,
        s"case $i: got (${out(i).getLong(1)}, ${out(i).getLong(2)}), want ($raw, $comp)")
      assert(out(i).getDouble(3) ==
        math.floor(raw.toDouble / comp * 1e6 + 0.5) / 1e6)
    }
    // the signal discriminates: repetitive text compresses far better
    assert(out(0).getDouble(3) > 2.0 && out(1).getDouble(3) < 1.0)
  }

  test("mergeSyms: left-to-right non-overlapping application") {
    assert(TextAnalysis.mergeSyms(Array("a", "a", "a"), "a", "a").toSeq ==
      Seq("aa", "a"))
    assert(TextAnalysis.mergeSyms(Array("a", "b", "a", "b"), "a", "b").toSeq ==
      Seq("ab", "ab"))
    assert(TextAnalysis.mergeSyms(Array("x"), "a", "b").toSeq == Seq("x"))
    assert(TextAnalysis.mergeSyms(Array.empty[String], "a", "b").isEmpty)
  }

  test("chunkTokens: coverage, overlap, and short-doc/short-tail invariants") {
    val text120 = (1 to 120).map(i => s"w$i").mkString(" ")
    val out = TextAnalysis.chunkTokens(
      docs(1L -> text120, 2L -> "only three tokens"),
      "doc_id", "text", window = 50, stride = 40)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // 120 tokens, w=50 s=40 → starts 0/40/80: ceil((120-50)/40)+1 = 3
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0, 0L, 50L), (1, 40L, 50L), (2, 80L, 40L)))
    // every token appears in some chunk; consecutive chunks overlap by 10
    assert(d1(0)._5.startsWith("w1 ") && d1(2)._5.endsWith(" w120"))
    assert(d1(0)._5.split(" ").toSet.intersect(d1(1)._5.split(" ").toSet).size == 10)
    // a doc shorter than the window is exactly one short chunk
    assert(out.filter(_._1 == 2L).toSeq ==
      Seq((2L, 0, 0L, 3L, "only three tokens")))
  }

  test("unigramSurprise: rare-token docs score high, repeated-token docs low") {
    // corpus: 8 tokens total. "a" ×4, "b" ×2, "c" ×1, "d" ×1.
    // micro-nat costs: a = round(1e6·ln(8/4)) = 693147, b = ln(8/2) →
    // 1386294, c = d = ln(8/1) → 2079442.
    val out = TextAnalysis.unigramSurprise(
      docs(1L -> "a a a a", 2L -> "b b", 3L -> "c d"),
      "doc_id", col("text"), nTokens = 8L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(out(1L) == ((4L, 4L * 693147L, 0.693147)))
    assert(out(2L) == ((2L, 2L * 1386294L, 1.386294)))
    assert(out(3L) == ((2L, 2L * 2079442L, 2.079442)))
    // the graded ordering the curation filter relies on: all-common <
    // mid < all-rare
    assert(out(1L)._3 < out(2L)._3 && out(2L)._3 < out(3L)._3)
  }

  test("repeatedNgramCoverage: full, zero, and partial span coverage") {
    val out = TextAnalysis.repeatedNgramCoverage(
      docs(1L -> "x x x x x", 2L -> "a b c d e", 3L -> "p q p q z z z w"),
      "doc_id", col("text"), Seq(2, 3))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    // all-same tokens: every position covered at both n
    assert(out(1L) == ((5L, 1.0, 1.0)))
    // all-distinct tokens: nothing repeats
    assert(out(2L) == ((5L, 0.0, 0.0)))
    // "p q"×2 covers 0-3, "z z"×2 covers 4-6, position 7 ("w") uncovered
    assert(out(3L) == ((8L, 0.875, 0.0)))
  }

  test("per-row ngram coverage equals the shuffled frame-scale reference on corpus data") {
    val s = spark
    // the zero-shuffle native path must reproduce the exploded
    // three-shuffle aggregation doc-for-doc on real data (plus the edge
    // docs the hand-computed spec above pins): same n_toks, same cov2,
    // same cov3 after the same rounding
    val docsDf = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val native = asMap(TextAnalysis.repeatedNgramCoverage(
      docsDf, "doc_id", col("text"), Seq(2, 3)))
    val shuffled = asMap(TextAnalysis.repeatedNgramCoverageShuffled(
      docsDf, "doc_id", col("text"), Seq(2, 3)))
    assert(native.size == shuffled.size && native.nonEmpty)
    assert(native == shuffled)
    val edge = docs(1L -> "", 2L -> "one", 3L -> "one two",
      4L -> "  Spaced   OUT  case  spaced out case ")
    assert(asMap(TextAnalysis.repeatedNgramCoverage(edge, "doc_id", col("text"))) ==
      asMap(TextAnalysis.repeatedNgramCoverageShuffled(edge, "doc_id", col("text"))))
  }

  test("charEntropy: uniform, degenerate, and empty texts") {
    val out = TextAnalysis.charEntropy(
      docs(1L -> "aaaa", 2L -> "abab", 3L -> ""), "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == ((4L, 0.0)))              // one symbol → zero entropy
    assert(out(2L) == ((4L, 0.693147)))         // two equiprobable → ln 2
    assert(out(3L) == ((0L, 0.0)))              // empty text restored as 0
  }

  test("chunkDedupApply keeps first (doc, idx) occurrence; rebuilt text is exact") {
    val c1 = (1 to 8).map(i => s"t$i").mkString(" ")
    val c2 = (1 to 8).map(i => s"u$i").mkString(" ")
    val cv = (1 to 8).map(i => s"v$i").mkString(" ")
    val out = TextAnalysis.chunkDedupApply(
      docs(1L -> s"$c1 $c2", 2L -> s"$c1 $cv", 3L -> s"$c1 $c2"),
      "doc_id", "text", window = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3))).toMap
    assert(out(1L) == ((2L, 2L, s"$c1 $c2")))   // first doc keeps everything
    assert(out(2L) == ((2L, 1L, cv)))           // loses the shared chunk, keeps its own
    assert(out(3L) == ((2L, 0L, "")))           // exact clone loses everything
    // corpus-wide: kept chunks == distinct chunk universe
    assert(out.values.map(_._2).sum == 3L)
  }

  test("chunkDedupApply: empty/whitespace docs make ONE empty-token chunk, never two phantoms") {
    // Dedup.tokens("") is [""] (size 1), so an empty doc legitimately
    // yields one md5-of-"" chunk; the size>0 guard pins the OTHER edge —
    // a size-0 array would make sequence(0, -1) step DOWNWARD ([0,-1])
    // and mint TWO phantom chunks (n_chunks would read 0 while two
    // md5-of-empty occurrences entered the keeper window).
    val c1 = (1 to 8).map(i => s"t$i").mkString(" ")
    val out = TextAnalysis.chunkDedupApply(
      docs(1L -> "", 2L -> "   ", 3L -> c1), "doc_id", "text", window = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3))).toMap
    assert(out(1L) == ((1L, 1L, "")))           // keeper of the shared "" chunk
    assert(out(2L) == ((1L, 0L, "")))           // duplicate "" chunk dropped
    assert(out(3L) == ((1L, 1L, c1)))           // real doc unaffected by empties
  }

  test("duplicateSpans: cross-doc, within-doc, overlap + adjacency merge, short docs") {
    // k=3 fixture. doc1 is the first occurrence of every passage it
    // shares, so it reports zeros; doc2 embeds doc1's "a b c d e f"
    // (4 chained dup grams → ONE merged run of 6 tokens); doc3 has a
    // dup prefix, a WITHIN-doc repeat ("m m m" at 3,4,5 — first stays,
    // 4 and 5 are seeds, overlapping runs merge), and a dup suffix
    // ADJACENT to the m-run (seed 8 starts exactly at prev_end+1 → one
    // span, not two); doc4 is shorter than k; doc5 shares nothing.
    val fix = docs(
      1L -> "a b c d e f",
      2L -> "x y z a b c d e f q r",
      3L -> "a b c m m m m m d e f w",
      4L -> "p q",
      5L -> "unique words only here today")
    val out = Dedup.duplicateSpans(fix, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((6L, 0L, 0L)))
    assert(out(2L) == ((11L, 6L, 1L)))
    assert(out(3L) == ((12L, 10L, 2L)))  // [0,2] and [4,10] (merged m-run + adjacent suffix)
    assert(out(4L) == ((2L, 0L, 0L)))
    assert(out(5L) == ((5L, 0L, 0L)))
  }

  test("duplicateSpanExcise cuts covered runs, keeps one corpus-wide copy, skips clean docs") {
    val fix = docs(
      1L -> "a b c d e f",
      2L -> "x y z a b c d e f q r",
      3L -> "a b c m m m m m d e f w",
      4L -> "p q",
      5L -> "unique words only here today")
    val out = Dedup.duplicateSpanExcise(fix, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out.keySet == Set(2L, 3L))   // affected docs only
    assert(out(2L) == ((11L, 6L, "x y z q r")))
    assert(out(3L) == ((12L, 10L, "m w")))
  }

  test("decontaminateSpans: benchmark always wins, members fully excised, clean docs intact") {
    val bench = docs(100L -> "a b c d e")
    val corpus = docs(
      100L -> "a b c d e",            // benchmark member leaked into the corpus
      2L -> "x a b c d y",            // shares "a b c d" → loses the middle
      3L -> "nothing shared here at all")
    val out = Dedup.decontaminateSpans(corpus, bench, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(100L) == ((5L, 5L, "")))
    assert(out(2L) == ((6L, 4L, "x y")))
    assert(out(3L) == ((5L, 0L, "nothing shared here at all")))
  }

  test("decontaminateSpans broadcast guard: oversized benchmark switches to the shuffled semi join, same result") {
    val bench = docs(100L -> "a b c d e")
    val corpus = docs(100L -> "a b c d e", 2L -> "x a b c d y",
      3L -> "nothing shared here at all")
    def run(maxBroadcast: Long) =
      Dedup.decontaminateSpans(corpus, bench, "doc_id", "text", k = 3,
        maxBroadcastGrams = maxBroadcast)
    def semiJoins(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("LeftSemi")).map(_.trim).toSeq
    val small = run(Long.MaxValue) // default regime: benchmark broadcasts
    assert(semiJoins(small).exists(_.contains("BroadcastHashJoin")))
    val big = run(1L) // "benchmark" over the cap: shuffled semi join
    val bigSemis = semiJoins(big)
    assert(bigSemis.nonEmpty && bigSemis.forall(!_.contains("BroadcastHashJoin")),
      s"over-threshold benchmark must not broadcast: $bigSemis")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(m(big) == m(small))
  }

  test("duplicateSpanExciseIncremental: store seniority, within-batch firsts, append accumulation") {
    val root = java.nio.file.Files.createTempDirectory("graft-spanstore-spec")
    val store = root.resolve("grams").toString
    try {
      Dedup.spanStoreAppend(docs(1L -> "a b c d e f"), "doc_id", "text",
        k = 3, store, nBuckets = 4)
      val batch1 = docs(
        11L -> "x a b c d y",          // store grams inside → excised even as batch-first
        12L -> "p q r s t",            // within-batch first occurrence → kept whole
        13L -> "p q r s t",            // within-batch duplicate → fully excised
        14L -> "fresh words only here")
      val out1 = Dedup.duplicateSpanExciseIncremental(batch1, "doc_id", "text",
          k = 3, store, nBuckets = 4)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(out1(11L) == ((6L, 4L, "x y")))
      assert(out1(12L) == ((5L, 0L, "p q r s t")))
      assert(out1(13L) == ((5L, 5L, "")))
      assert(out1(14L) == ((4L, 0L, "fresh words only here")))
      // batch 2 must see batch 1's grams in the store (append accumulated)
      val out2 = Dedup.duplicateSpanExciseIncremental(docs(21L -> "p q r s t"),
          "doc_id", "text", k = 3, store, nBuckets = 4)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(out2(21L) == ((5L, 5L, "")))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root.toFile)
    }
  }

  test("Html.extractText: script/style/comment removal, link-density filter, entity decode") {
    val s = spark
    import s.implicits._
    val html =
      "<html><head><style>p{x}</style><script>if(a<b){}</script></head><body>" +
        "<p><a href=\"/h\">Home</a> <a href=\"/a\">About</a></p>" +          // density 1 → drop
        "<!-- <p>commented out</p> -->" +
        "<p>Tom &amp; Jerry say &lt;hi&gt; &#39;loudly&#39;&nbsp;today</p>" + // entities
        "<P CLASS=\"x\">Read <a href=\"/m\">more</a> on the subject here</P>" + // mixed, keep
        "<p>   </p>" +                                                        // empty → drop
        "</body></html>"
    val out = Html.extractText(Seq((1L, html)).toDF("doc_id", "h"), "doc_id", col("h"))
      .head()
    assert(out.getLong(1) == 4L)  // n_blocks: commented <p> never parsed
    assert(out.getLong(2) == 2L)  // n_kept
    assert(out.getString(3) ==
      "Tom & Jerry say <hi> 'loudly' today Read more on the subject here")
  }

  test("Html native path == HOF path doc-for-doc on corpus-built markup (+ edges)") {
    val s = spark
    import s.implicits._
    // the q_html_extract construction over real corpus docs
    val w = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>p { color: red; }</style><script>var x = "),
      col("doc_id").cast("string"), lit(";</script></head><body>"),
      lit("<p><a href=\"/home\">Home</a> <a href=\"/c\">Contact "),
      (col("doc_id") % 7).cast("string"), lit("</a></p>"),
      lit("<!-- generated page --><p>"), array_join(slice(w, 1, 10), " "),
      lit(" Tom &amp; Jerry &lt;3</p>"),
      lit("<p>Read <a href=\"/more\">more</a> about "),
      array_join(slice(w, 11, 1 << 20), " "), lit("</p></body></html>"))
    val base = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), html.as("h"))
      // unmatched-open / empty / pathological edges ride along
      .unionByName(Seq(
        (100001L, "<p>open never closes"),
        (100002L, "<p>a</p><script>junk<p>ghost</p>"),   // unclosed script eats nothing
        (100003L, "<p> &nbsp;edge&nbsp; </p>"),           // decoded spaces survive trim
        (100004L, "no markup at all"),
        (100005L, "<p><a href=x>all</a></p><p>b<>c</p>")  // density 1; literal <>
      ).toDF("doc_id", "h"))
    val nat = Html.extractTextNative(base, "doc_id", col("h"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val hof = Html.extractText(base, "doc_id", col("h"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(nat.keySet == hof.keySet)
    for ((k, v) <- hof) assert(nat(k) == v, s"doc $k: native ${nat(k)} != hof $v")
    // spot-pin the edge semantics themselves (not just agreement)
    assert(nat(100001L) == ((0L, 0L, "")))
    // an UNCLOSED <script> can never match the non-greedy span, so it
    // removes nothing and the trailing <p> still parses
    assert(nat(100002L) == ((2L, 2L, "a ghost")))
    assert(nat(100003L) == ((1L, 1L, " edge ")))  // &nbsp; decodes AFTER trim
    assert(nat(100004L) == ((0L, 0L, "")))
    assert(nat(100005L) == ((2L, 1L, "b<>c")))
  }

  test("Html.decodeEntities decodes one level only (&amp;lt; stays &lt;)") {
    val s = spark
    import s.implicits._
    val out = Seq("a &amp;lt; b &amp;amp; c").toDF("t")
      .select(Html.decodeEntities(col("t"))).head().getString(0)
    assert(out == "a &lt; b &amp; c")
  }

  test("Urls.normalize: scheme/fragment/www/port/tracking-param/trailing-slash rules") {
    val s = spark
    import s.implicits._
    val in = Seq(
      "HTTPS://WWW.Site3.COM:443/Articles/Item15/?utm_source=feed&id=15&utm_campaign=x#frag",
      "http://tracker1.co.uk/path/P6?ref=tw&q=6",
      "https://news.journal4.org/story12/",
      "Blog3.Com/post?id=18&fbclid=ab18",       // scheme-less, mixed-case host
      "https://WWW.X.COM",                       // bare host, no path
      "http://a.com:8080/p",                     // NON-default port survives
      "https://a.com/p?utm_source=x",            // only tracking params → none kept
      "https://a.com/CaseKept/Path")             // path case preserved
    val out = in.toDF("u").select(Urls.normalize(col("u")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq(
      "site3.com/Articles/Item15?id=15",
      "tracker1.co.uk/path/P6?q=6",
      "news.journal4.org/story12",
      "blog3.com/post?id=18",
      "x.com",
      "a.com:8080/p",
      "a.com/p",
      "a.com/CaseKept/Path"))
  }

  test("Urls.registeredDomain: public-suffix tails, deep subdomains, single labels") {
    val s = spark
    import s.implicits._
    val out = Seq("a.b.co.uk", "x.com", "deep.sub.x.com", "localhost", "co.uk")
      .toDF("h").select(Urls.registeredDomain(col("h")).as("d"))
      .collect().map(_.getString(0)).toSeq
    // "co.uk" alone has no registrable label — the 2-label fallback
    // returns it as-is (n=2 but the 3-label branch needs n>=3)
    assert(out == Seq("b.co.uk", "x.com", "x.com", "localhost", "co.uk"))
  }

  test("Urls.registeredDomain: full PSL snapshot — ccTLD families, 3-label rules, wildcards, exceptions, private suffixes") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "shop.example.com.sg" -> "example.com.sg",  // com.sg (beyond the old 18-entry set)
      "a.b.gov.uk" -> "b.gov.uk",
      "user.github.io" -> "user.github.io",       // private-section suffix: each user a distinct operator
      "deep.user.github.io" -> "user.github.io",
      "myblog.blogspot.com" -> "myblog.blogspot.com",
      "app.herokuapp.com" -> "app.herokuapp.com",
      "x.tokyo.jp" -> "x.tokyo.jp",               // prefecture 2-label suffix
      "school.k12.ca.us" -> "school.k12.ca.us",   // 3-label rule → last 4
      "www.school.k12.ca.us" -> "school.k12.ca.us",
      "uni.act.edu.au" -> "uni.act.edu.au",
      "bucket.s3.amazonaws.com" -> "bucket.s3.amazonaws.com",
      "foo.anything.ck" -> "foo.anything.ck",     // *.ck wildcard → last 3
      "a.foo.anything.ck" -> "foo.anything.ck",
      "www.ck" -> "www.ck",                       // !www.ck exception: itself registrable
      "sub.www.ck" -> "www.ck",                   // subdomain of the exception host
      "plain.example.org" -> "example.org",       // default rule unchanged
      "k12.ca.us" -> "k12.ca.us",                 // host IS a 3-label suffix → pass-through
      // wildcards under a 2-label base (*.kobe.jp — upstream's own
      // test vectors for this family)
      "c.kobe.jp" -> "c.kobe.jp",                 // host IS a wildcard suffix
      "b.c.kobe.jp" -> "b.c.kobe.jp",
      "a.b.c.kobe.jp" -> "b.c.kobe.jp",
      // ... and their 3-label exceptions (!city.kobe.jp)
      "city.kobe.jp" -> "city.kobe.jp",
      "www.city.kobe.jp" -> "city.kobe.jp",
      "kobe.jp" -> "kobe.jp",                     // the base alone: default last-2
      // 4-label normal rules
      "s3.eu-central-1.amazonaws.com" -> "s3.eu-central-1.amazonaws.com",
      "bucket.s3.eu-central-1.amazonaws.com" -> "bucket.s3.eu-central-1.amazonaws.com",
      "x.bucket.s3.eu-central-1.amazonaws.com" -> "bucket.s3.eu-central-1.amazonaws.com",
      // wildcards under a 3-label base (*.compute.amazonaws.com)
      "us-east-1.compute.amazonaws.com" -> "us-east-1.compute.amazonaws.com",
      "vm.us-east-1.compute.amazonaws.com" -> "vm.us-east-1.compute.amazonaws.com",
      "x.vm.us-east-1.compute.amazonaws.com" -> "vm.us-east-1.compute.amazonaws.com")
    val out = cases.map(_._1).toDF("h")
      .select(col("h"), Urls.registeredDomain(col("h")).as("d"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (h, want) => assert(out(h) == want, s"host $h") }
    // loader sanity: every supported shape is populated from the snapshot
    assert(PublicSuffixes.suffixes2.size > 1000)
    assert(PublicSuffixes.suffixes3.size > 100)
    assert(PublicSuffixes.suffixes4.nonEmpty)
    assert(PublicSuffixes.wildcardTlds.nonEmpty)
    assert(PublicSuffixes.wildcardBases2.contains("kawasaki.jp"))
    assert(PublicSuffixes.wildcardBases3.contains("compute.amazonaws.com"))
    assert(PublicSuffixes.exceptions2.contains("www.ck"))
    assert(PublicSuffixes.exceptions3.contains("city.kawasaki.jp"))
    assert(PublicSuffixes.ignoredRules == 0) // the bundled snapshot is fully consumed
  }

  test("PublicSuffixes.parse: single-label TLD rules are by-design skips, not ignored; " +
      "only genuinely unsupported shapes count as ignored") {
    val rs = PublicSuffixes.parse(Iterator(
      "// a comment", "", "com", "uk", "co.uk", "k12.ca.us",
      "s3.eu-central-1.amazonaws.com", "*.ck", "*.kawasaki.jp",
      "*.compute.amazonaws.com", "!www.ck", "!city.kawasaki.jp",
      "a.b.c.d.e",          // 5-label normal — genuinely unsupported
      "*.a.b.c.d",          // wildcard under a 4-label base — unsupported
      "!a.b.c.d"))          // 4-label exception — unsupported
    assert(rs.defaultTldRules == 2)           // com, uk — skipped by design
    assert(rs.ignoredRules == 3)              // ONLY the three deep rules
    assert(rs.suffixes2 == Seq("co.uk"))
    assert(rs.suffixes3 == Seq("k12.ca.us"))
    assert(rs.suffixes4 == Seq("s3.eu-central-1.amazonaws.com"))
    assert(rs.wildcardTlds == Seq("ck"))
    assert(rs.wildcardBases2 == Seq("kawasaki.jp"))
    assert(rs.wildcardBases3 == Seq("compute.amazonaws.com"))
    assert(rs.exceptions2 == Seq("www.ck"))
    assert(rs.exceptions3 == Seq("city.kawasaki.jp"))
  }

  test("PublicSuffixes.parse: a verbatim upstream-format list drop (section markers, " +
      "punycode, exotic shapes) is provably safe — every skip enumerable") {
    // The refresh discipline (SCALE.md): the matcher consumes every
    // upstream rule shape, so the bundled snapshot is the only drift
    // surface. This fixture replays the verbatim upstream FILE FORMAT —
    // the MPL header, ICANN/PRIVATE section markers, per-TLD comment
    // banners, punycode (xn--) rules at every supported depth — and pins
    // that (a) the parser consumes the framing as comments, (b) every
    // rule lands in its shape bucket, and (c) `ignoredRules` counts
    // EXACTLY the genuinely unsupported deep rules, so a future verbatim
    // publicsuffix.org drop reports its coverage honestly: green here +
    // ignoredRules == 0 on the new bundle ⇒ the swap is safe.
    val rs = PublicSuffixes.parse(Iterator(
      "// This Source Code Form is subject to the terms of the Mozilla Public",
      "// License, v. 2.0. If a copy of the MPL was not distributed with this",
      "// file, You can obtain one at https://mozilla.org/MPL/2.0/.",
      "",
      "// ===BEGIN ICANN DOMAINS===",
      "",
      "// ac : https://en.wikipedia.org/wiki/.ac",
      "ac",
      "com.ac",
      "// jp : https://en.wikipedia.org/wiki/.jp",
      "jp",
      "kobe.jp",
      "*.kobe.jp",
      "!city.kobe.jp",
      "// xn--p1ai : https://en.wikipedia.org/wiki/.xn--p1ai (рф, Russia)",
      "xn--p1ai",
      "// us : https://en.wikipedia.org/wiki/.us",
      "k12.ca.us",
      "// ck : https://en.wikipedia.org/wiki/.ck",
      "*.ck",
      "!www.ck",
      "",
      "// ===END ICANN DOMAINS===",
      "// ===BEGIN PRIVATE DOMAINS===",
      "",
      "// Amazon : https://www.amazon.com",
      "s3.amazonaws.com",
      "s3.eu-central-1.amazonaws.com",
      "*.compute.amazonaws.com",
      "// punycode private entry",
      "xn--55qx5d.cn",
      "// a hypothetical 5-label rule the matcher cannot honor",
      "a.b.c.d.example",
      "",
      "// ===END PRIVATE DOMAINS==="))
    // section markers / banners / blanks consumed as comments: every
    // non-comment line is accounted for below, nothing leaks
    assert(rs.defaultTldRules == 3)                 // ac, jp, xn--p1ai
    assert(rs.suffixes2.toSet == Set("com.ac", "kobe.jp", "xn--55qx5d.cn"))
    assert(rs.suffixes3 == Seq("k12.ca.us", "s3.amazonaws.com"))
    assert(rs.suffixes4 == Seq("s3.eu-central-1.amazonaws.com"))
    assert(rs.wildcardTlds == Seq("ck"))
    assert(rs.wildcardBases2 == Seq("kobe.jp"))
    assert(rs.wildcardBases3 == Seq("compute.amazonaws.com"))
    assert(rs.exceptions2 == Seq("www.ck"))
    assert(rs.exceptions3 == Seq("city.kobe.jp"))
    assert(rs.ignoredRules == 1)                    // ONLY the 5-label rule
    // and the bundled snapshot itself stays fully consumed (the refresh
    // gate: a drop that regresses this is rejected, not silently narrowed)
    assert(PublicSuffixes.ignoredRules == 0)
  }

  test("urlCurate: blocklist and per-domain cap flag, deterministic rank by id") {
    val s = spark
    import s.implicits._
    val rows = (1L to 5L).map(i => (i, s"https://hot.com/p$i")) ++
      Seq((6L, "https://bad.com/x"), (7L, "https://cold.org/y"))
    val out = Urls.urlCurate(rows.toDF("doc_id", "u"), "doc_id", col("u"),
        blocked = Seq("bad.com"), maxPerDomain = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> true,   // within cap
      4L -> false, 5L -> false,                             // over cap
      6L -> false,                                          // blocked
      7L -> true))
  }

  test("urlCurateAuto derives the cap from the domain-size distribution (exact-rank value)") {
    val s = spark
    import s.implicits._
    // domain sizes 1,1,2,3,10 → rank ceil(0.8·5) = 4 → cap = 3: the
    // flood domain keeps its first 3 rows, every other domain is whole
    val rows =
      Seq((1L, "https://a.com/1"), (2L, "https://b.com/1"),
        (3L, "https://c.com/1"), (4L, "https://c.com/2"),
        (5L, "https://d.com/1"), (6L, "https://d.com/2"), (7L, "https://d.com/3")) ++
      (10L to 19L).map(i => (i, s"https://flood.com/p$i"))
    val out = Urls.urlCurateAuto(rows.toDF("doc_id", "u"), "doc_id", col("u"),
        blocked = Nil, pct = 0.8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert((1L to 7L).forall(out(_)))
    assert((10L to 12L).forall(out(_)))
    assert((13L to 19L).forall(!out(_)))
  }

  test("urlCurateHot: two-regime flags identical to urlCurate under a planted mega-domain") {
    val s = spark
    import s.implicits._
    val rows = (1L to 200L).map(i => (i, s"https://mega.com/p$i")) ++
      (300L to 320L).map(i => (i, s"https://cold${i % 7}.org/x$i"))
    val df = rows.toDF("doc_id", "u")
    def flags(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    val plain = flags(Urls.urlCurate(df, "doc_id", col("u"),
      blocked = Seq("cold1.org"), maxPerDomain = 5))
    // hhK = 8: mega.com (90 % share, over cap) is the only hot domain
    val hot = flags(Urls.urlCurateHot(df, "doc_id", col("u"),
      blocked = Seq("cold1.org"), maxPerDomain = 5, hhK = 8))
    assert(hot == plain)
    assert(plain.count { case (_, (d, k)) => d == "mega.com" && k } == 5)
    // uniform corpus → empty hot set → the plain-regime fallback
    val uni = (1L to 30L).map(i => (i, s"https://u${i % 10}.com/$i")).toDF("doc_id", "u")
    assert(flags(Urls.urlCurateHot(uni, "doc_id", col("u"), Nil, 2, hhK = 8)) ==
      flags(Urls.urlCurate(uni, "doc_id", col("u"), Nil, 2)))
  }

  test("bpeEncode native path: empty/whitespace/null text edges") {
    val s = spark
    import s.implicits._
    val merges = Seq(("a", "b"), ("ab", "</w>"))
    val df = Seq((1L, "ab ab"), (2L, ""), (3L, "   "), (4L, "x"))
      .toDF("doc_id", "text")
      .unionByName(Seq((5L, Option.empty[String])).toDF("doc_id", "text"))
    val out = TextAnalysis.bpeEncode(df, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[String](1).toList)).toMap
    assert(out(1L) == List("ab</w>", "ab</w>")) // both merges chain per word
    assert(out(2L) == Nil && out(3L) == Nil)    // no words -> empty token array
    assert(out(4L) == List("x", "</w>"))        // no merge applies
    assert(out(5L) == null)                      // null propagates
    // pack/unpack round-trip and its validation
    assert(graft.functions.BpeEncode.unpack(
      graft.functions.BpeEncode.pack(merges)).toSeq == Seq("a", "b", "ab", "</w>"))
    intercept[IllegalArgumentException] {
      graft.functions.BpeEncode.pack(Seq(("a b", "c")))
    }
  }

  test("logisticTrain recovers a planted separator at >=98% train accuracy; " +
      "logisticScore reproduces the keep decisions") {
    val s = spark
    import s.implicits._
    // Planted separator in 2 features: label = [2*x1 - x2 + 0.5 > 0].
    // Deterministic lattice points (no RNG — repeatable), margin-free
    // points excluded so GD has a clean target.
    val pts = for {
      i <- 0 until 40; j <- 0 until 40
      x1 = i / 10.0 - 2.0; x2 = j / 10.0 - 2.0
      z = 2.0 * x1 - x2 + 0.5
      if math.abs(z) > 0.05
    } yield (x1, x2, if (z > 0) 1 else 0)
    val df = pts.toDF("x1", "x2", "label").cache()
    val w = TextAnalysis.logisticTrain(df, Seq("x1", "x2"), "label",
      iters = 120, lr = 2.0)
    assert(w.length == 3)
    // train accuracy of the recovered separator
    val scored = TextAnalysis.logisticScore(
      df.withColumn("doc_id", monotonically_increasing_id()),
      "doc_id", Seq("x1" -> w(1), "x2" -> w(2)), bias = w(0))
    val acc = scored.join(
        df.withColumn("doc_id", monotonically_increasing_id()),
        Seq("doc_id", "x1", "x2"))
      .select(avg(when(col("keep") === (col("label") === 1), 1.0)
        .otherwise(0.0)).as("acc")).head().getDouble(0)
    assert(acc >= 0.98, s"train accuracy $acc below 0.98")
    // logisticScore's keep must be exactly the sign of its own logit
    val bad = scored.filter((col("logit") > 0) =!= col("keep")).count()
    assert(bad == 0, "keep must equal logit > 0 row-for-row")
    df.unpersist()
  }

  test("bpeEncode native path: non-BMP code points stay whole symbols") {
    val s = spark
    import s.implicits._
    // 😀 (U+1F600) and 𠀀 (U+20000, CJK ext-B) are surrogate PAIRS in
    // UTF-16 — a charAt-stepping seed loop tears them into unpaired
    // halves that UTF8String mangles to '?'. The symbol seed must index
    // by code point, matching both the split(w, "") fold this Expression
    // replaced and the DuckDB oracle's code-point w[i].
    val emoji = "😀"   // 😀
    val cjkB = "𠀀"   // 𠀀
    val merges = Seq((emoji, emoji), ("a", "b"))
    val df = Seq((1L, s"$emoji$emoji$cjkB ab$emoji")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(df, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    // word 1: [😀,😀,𠀀,</w>] -> merge(😀,😀) -> [😀😀,𠀀,</w>]
    // word 2: [a,b,😀,</w>] -> merge(a,b) -> [ab,😀,</w>]
    assert(out(1L) == List(emoji + emoji, cjkB, "</w>", "ab", emoji, "</w>"))
    assert(!out(1L).exists(_.contains("?")), "no mangled surrogate halves")
  }

  test("leakFreeSplit co-locates every cluster; the per-doc control provably leaks") {
    val s = spark
    import s.implicits._
    // 200 two-doc near-dup clusters: members (i, i+1000), rep = i
    val reps = (0L until 200L).flatMap(i => Seq((i, i), (i + 1000L, i)))
      .toDF("doc_id", "cluster_rep")
    val out = Sampling.leakFreeSplit(reps, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 400)
    // every cluster's members share ONE split — zero straddling pairs
    assert(out.groupBy(_._2).values.forall(_.map(_._3).distinct.length == 1))
    // both splits are populated (the label actually varies by rep)
    assert(out.map(_._3).distinct.sorted.toSeq == Seq("train", "val"))
    // the CONTROL: hashing each doc independently (q_hash_split's rule)
    // splits ~2·(12/16)·(4/16) ≈ 37 % of pairs across train/val — the
    // manufactured eval contamination this operator exists to prevent
    val perDoc = reps
      .select(col("cluster_rep"), Sampling.splitLabel(col("doc_id")).as("split"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val straddled =
      perDoc.groupBy(_._1).values.count(_.map(_._2).distinct.length > 1)
    assert(straddled > 40, s"per-doc control straddled only $straddled of 200")
  }

  test("boilerplateStrip drops >=minDocs chunks from EVERY doc; infrequent chunks kept") {
    val banner = (1 to 8).map(i => s"b$i").mkString(" ")
    val c = (1 to 8).map(i => s"c$i").mkString(" ")
    // banner in 3 docs (minDocs=3) → dropped from all three, INCLUDING
    // the first occurrence (the rule that separates boilerplate from
    // dedup); c shared by only 2 docs → kept in both
    val out = TextAnalysis.boilerplateStrip(
      docs(1L -> s"$banner $c", 2L -> s"$banner $c", 3L -> s"$banner x1 x2"),
      "doc_id", "text", window = 8, minDocs = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == ((2L, 1L, 1L, c)))
    assert(out(2L) == ((2L, 1L, 1L, c)))
    assert(out(3L) == ((2L, 1L, 1L, "x1 x2")))
  }

  test("boilerplateStrip frequency counts distinct DOCS, not occurrences") {
    val banner = (1 to 8).map(i => s"b$i").mkString(" ")
    // 3 occurrences across 2 docs — below a 3-DOC cut, kept everywhere
    // (an occurrence count would wrongly flag it)
    val out = TextAnalysis.boilerplateStrip(
      docs(1L -> s"$banner $banner", 2L -> s"$banner y1"),
      "doc_id", "text", window = 8, minDocs = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == ((0L, s"$banner $banner")))
    assert(out(2L) == ((0L, s"$banner y1")))
  }

  test("ccnetBuckets: per-group terciles, hand-computed; approx twin agrees") {
    val s = spark
    import s.implicits._
    // lang a (n=9): t_head = 3rd (ceil(2.97)) = 3, t_mid = 7th (ceil(6.03)) = 7
    // lang b (n=3): t_head = 1st = 10, t_mid = 3rd = 12 — per-group
    // independence: b's thresholds ignore a's values entirely
    val df = ((1 to 9).map(i => (i.toLong, "a", i.toDouble)) ++
      (10 to 12).map(i => (i.toLong, "b", i.toDouble))).toDF("id", "lang", "v")
    val out = TextAnalysis.ccnetBuckets(df, "id", "lang", col("v"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(Seq(1L, 2L, 3L).forall(out(_) == "head"))
    assert(Seq(4L, 5L, 6L, 7L).forall(out(_) == "middle"))
    assert(Seq(8L, 9L).forall(out(_) == "tail"))
    assert(out(10L) == "head" && out(11L) == "middle" && out(12L) == "middle")
    // production percentile_approx twin: agreement within the sketch's
    // boundary tolerance on a 100-value group (>= 98/100 — the same
    // derived-vs-exact pin style as q_quality_gate_auto's 498/500)
    val big = (1 to 100).map(i => (i.toLong, "a", i.toDouble)).toDF("id", "lang", "v")
    val exact = TextAnalysis.ccnetBuckets(big, "id", "lang", col("v"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val approx = TextAnalysis.ccnetBucketsApprox(big, "id", "lang", col("v"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(approx.count { case (k, v) => exact(k) == v } >= 98,
      s"approx/exact bucket agreement below 98/100")
    // buckets are contiguous by value in both regimes
    assert(exact.toSeq.sortBy(_._1).map(_._2).mkString
      .matches("(head)+(middle)+(tail)+"))
    assert(approx.toSeq.sortBy(_._1).map(_._2).mkString
      .matches("(head)+(middle)+(tail)+"))
  }

  test("rankQuantileBy: per-group rank selection never sees other groups") {
    val s = spark
    import s.implicits._
    val df = (Seq((1L, "a", 5.0), (2L, "a", 1.0), (3L, "a", 9.0)) ++
      Seq((4L, "b", 100.0), (5L, "b", 200.0))).toDF("id", "g", "v")
    val out = TextAnalysis.rankQuantileBy(df, "g", col("v"), 0.5, "t")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("a" -> 5.0, "b" -> 100.0)) // ceil(3*.5)=2nd; ceil(2*.5)=1st
  }

  test("rankQuantile: discrete rank percentile, hand-computed; sketch path agrees") {
    val s = spark
    import s.implicits._
    val df = (1 to 10).map(_.toDouble).toDF("v")
    def rq(d: org.apache.spark.sql.DataFrame, p: Double) =
      TextAnalysis.rankQuantile(d, col("v"), p, "t").head().getDouble(0)
    assert(rq(df, 0.5) == 5.0)    // ceil(5.0) = 5th smallest
    assert(rq(df, 1.0) == 10.0)   // max
    assert(rq(df, 0.05) == 1.0)   // ceil(0.5) = 1st
    // duplicate values cannot perturb the selected VALUE (observed datum)
    val dup = Seq(1.0, 2.0, 2.0, 2.0, 9.0).toDF("v")
    assert(rq(dup, 0.6) == 2.0)
    // the percentile_approx production path (sketch, no global sort)
    // agrees with the exact rank within its accuracy bound
    val big = (1 to 1000).map(_.toDouble).toDF("v")
    val exact = rq(big, 0.95)
    val approx = big.agg(percentile_approx(col("v"), lit(0.95), lit(10000)))
      .head().getDouble(0)
    assert(math.abs(exact - approx) <= 1.0, s"exact $exact vs approx $approx")
  }

  test("q_quality_gate_auto reproduces the constant-threshold twin up to boundary flips") {
    val dir = "/root/testdata/sf0.001"
    val auto = graft.SparkEntry.queries("q_quality_gate_auto")(spark, dir)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val const = graft.SparkEntry.queries("q_quality_gate_v2")(spark, dir)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auto.size == const.size && auto.nonEmpty)
    val agree = auto.count { case (d, k) => const(d) == k }
    // measured 490/500 at sf0.001 and 498/500 at sf0.01 — the flips are
    // docs inside the constant→derived threshold gap, nothing else
    assert(agree >= (auto.size * 0.95).floor.toInt,
      s"derived-threshold gate agrees on only $agree/${auto.size}")
    assert(auto.values.sum < auto.size, "gate must drop something")
  }

  test("bigramSurprise separates word salad from patterned text at equal unigrams") {
    // both docs are 4×a + 4×b — identical unigram distribution, so the
    // unigram proxy CANNOT separate them; the bigram mixture must.
    val d = docs(1L -> "a b a b a b a b", 2L -> "a a b b a a b b")
    val uni = TextAnalysis.unigramSurprise(d, "doc_id", col("text"), 16L)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(uni(1L) == uni(2L), "unigram proxy sees the two docs as identical")
    val out = TextAnalysis.bigramSurprise(d, "doc_id", col("text"), 16L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(out(1L)._1 == 8L && out(2L)._1 == 8L)
    assert(out(2L)._2 > out(1L)._2,
      s"salad must out-score pattern: ${out(2L)._2} vs ${out(1L)._2}")
    // exact micro-nat check on the degenerate corpus: "x x x" alone —
    // first token ln(3/3)=0; two bigrams at −ln(½·(2/3)+½·1) → 182322 each
    val tiny = TextAnalysis.bigramSurprise(
      docs(9L -> "x x x"), "doc_id", col("text"), 3L).head()
    assert(tiny.getLong(1) == 3L && tiny.getLong(2) == 364644L &&
      tiny.getDouble(3) == 0.121548)
  }

  test("bigramSurprise's large-corpus cost-table persist is reclaimed by SliverCache.clear()") {
    // > 4M tokens takes the persist+count path; the vocabulary is tiny
    val d = spark.range(40100).select(col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(0, 99), " +
        "i -> element_at(array('a', 'b', 'c', 'd', 'e'), cast((i * 7 + id) % 5 + 1 as int))))")
        .as("text"))
    val nTokens = TextAnalysis.corpusTokenCount(d, col("text"))
    assert(nTokens > 4000000L)
    graft.core.SliverCache.clear()
    spark.catalog.clearCache()
    val out = TextAnalysis.bigramSurprise(d, "doc_id", col("text"), nTokens)
    assert(out.filter(col("n_tokens") =!= 100L).count() == 0)
    graft.core.SliverCache.clear()
    assert(spark.sharedState.cacheManager.isEmpty,
      "bigramSurprise left a cached plan the sliver registry cannot reclaim")
  }

  test("ngramContainment: a strict excerpt scores containment 1.0 at fractional Jaccard") {
    val s = spark
    import s.implicits._
    val full = (1 to 12).map(i => s"w$i").mkString(" ")   // 10 3-grams
    val half = (1 to 7).map(i => s"w$i").mkString(" ")    // 5 3-grams, all shared
    val cands = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.ngramContainment(
      docs(1L -> full, 2L -> half), "doc_id", col("text"), 3, cands).head()
    assert(out.getDouble(2) == 0.5)   // contain_a: half of full's grams shared
    assert(out.getDouble(3) == 1.0)   // contain_b: the excerpt is fully contained
    assert(out.getDouble(4) == 0.5)   // jaccard misses the subset relationship
  }

  test("langId picks the marker-dominant language, und when silent") {
    val out = docs(
      1L -> "the cat and the dog of the house",
      2L -> "der Hund und die Katze ist das",
      3L -> "le chat et la maison les des",
      4L -> "xyzzy qwerty plugh")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "und"))
  }

  test("zh markers count CJK characters by substring occurrence") {
    val zhText = "这是一个测试的文本在这里" // contains 的/在/是
    val score = docs(1L -> zhText)
      .select(TextAnalysis.langScore(lower(col("text")), "zh").as("s"))
      .head().getInt(0)
    assert(score >= 3)
  }

  test("token counts: whitespace vs BPE-ish punctuation splitting") {
    val out = docs(1L -> "Hello, world! It's 42.")
      .select(
        TextAnalysis.tokenCountWs(col("text")).as("ws"),
        TextAnalysis.tokenCountBpe(col("text")).as("bpe"))
      .head()
    assert(out.getInt(0) == 4)
    // Hello , world ! It ' s 42 . → 9
    assert(out.getInt(1) == 9)
  }

  test("countMatches counts adjacent whole words correctly") {
    val n = docs(1L -> "the the theater the")
      .select(TextAnalysis.countMatches(col("text"), "the").as("n"))
      .head().getInt(0)
    assert(n == 3) // 'theater' must not match
  }

  test("hash split is content-stable: same labels under any partitioning, sane ratio") {
    val s = spark
    import s.implicits._
    val df = (1L to 2000L).map(i => (i, s"doc$i")).toDF("id", "t")
    def labels(parts: Int): Map[Long, String] =
      df.repartition(parts)
        .select(col("id"), Sampling.splitLabel(col("id")).as("sp"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val l1 = labels(1)
    assert(l1 == labels(7)) // identical assignment regardless of layout
    val trainFrac = l1.values.count(_ == "train").toDouble / l1.size
    assert(trainFrac > 0.70 && trainFrac < 0.80) // 12/16 = 0.75 ± noise
    // and 1/16-granularity knob holds roughly too
    val one = df.select(Sampling.splitLabel(col("id"), 1).as("sp"))
      .filter(col("sp") === "train").count().toDouble / 2000
    assert(one > 0.03 && one < 0.10)
  }

  test("stratifiedCap keeps at most k per stratum, deterministically") {
    val s = spark
    import s.implicits._
    val df = (1L to 300L).map(i => (i, if (i % 3 == 0) "a" else "b")).toDF("id", "g")
    val kept = Sampling.stratifiedCap(df, col("g"), col("id"), k = 10)
    val byG = kept.groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG == Map("a" -> 10L, "b" -> 10L))
    // deterministic: the same rows survive under a different partitioning
    val kept2 = Sampling.stratifiedCap(df.repartition(13), col("g"), col("id"), k = 10)
    assert(kept.collect().map(_.getLong(0)).toSet == kept2.collect().map(_.getLong(0)).toSet)
    // small strata pass through whole
    val tiny = Sampling.stratifiedCap(df.filter(col("id") <= 4), col("g"), col("id"), 10)
    assert(tiny.count() == 4)
  }

  test("rebalanceMix hits integer quotas, is deterministic, and fails loud on absent sources") {
    val s = spark
    import s.implicits._
    // 100 web, 40 books, 60 junk (unweighted → dropped)
    val df = ((1L to 100L).map(i => (i, "web")) ++ (101L to 140L).map(i => (i, "books")) ++
      (141L to 200L).map(i => (i, "junk"))).toDF("id", "src")
    val weights = Seq("web" -> 60L, "books" -> 40L)
    // N = min(100*100/60, 40*100/40) = min(166, 100) = 100 → quotas 60, 40
    val kept = Sampling.rebalanceMix(df, "src", col("id"), weights)
    val bySrc = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("web" -> 60L, "books" -> 40L)) // junk dropped entirely
    // deterministic under repartitioning
    val kept2 = Sampling.rebalanceMix(df.repartition(7), "src", col("id"), weights)
    assert(kept.collect().map(_.getAs[Long]("id")).toSet ==
      kept2.collect().map(_.getAs[Long]("id")).toSet)
    // a weighted source missing from the corpus is a hard error
    val e = intercept[IllegalArgumentException] {
      Sampling.rebalanceMix(df, "src", col("id"), Seq("web" -> 60L, "ghost" -> 40L))
    }
    assert(e.getMessage.contains("ghost"))
    // weights must sum to 100
    intercept[IllegalArgumentException] {
      Sampling.rebalanceMix(df, "src", col("id"), Seq("web" -> 50L, "books" -> 40L))
    }
  }

  test("winnowing: docs sharing a long substring share a fingerprint; disjoint docs don't") {
    val s = spark
    import s.implicits._
    // k=5, w=4 → guaranteed shared fingerprint for any verbatim match ≥ 8 chars
    val shared = "quantum entanglement experiment"
    val docs = Seq(
      (1L, s"alpha preamble $shared tail one"),
      (2L, s"totally different intro $shared closing remarks"),
      (3L, "zzz qqq xxx vvv kkk jjj www")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowingFingerprints(docs, "doc_id", col("text"), 5, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty)  // partial overlap detected
    assert((fps(1L) & fps(3L)).isEmpty)   // unrelated docs share nothing
    // every doc yields a non-empty, deduplicated fingerprint set
    assert(fps.values.forall(_.nonEmpty))
  }

  test("rolling shingle hash equals the per-window polynomial, and winnowing still matches") {
    val s = spark
    import s.implicits._
    // reference: each window hashed from scratch with the same polynomial
    def reference(text: String, k: Int): Seq[Long] = {
      val bytes = text.getBytes("UTF-8")
      val kk = math.max(k, 1)
      val wins =
        if (bytes.length <= kk) Seq(bytes.toSeq)
        else bytes.sliding(kk).map(_.toSeq).toSeq
      wins.map(_.foldLeft(0L)((h, b) =>
        h * graft.functions.RollingShingleHash.B + ((b & 0xff) + 1)))
    }
    val texts = Seq("", "ab", "abcdef", "the quick brown fox", "aaaaaaa",
      "ünïcödé bytes too")
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
      .select(col("id"), call_function("graft_rolling_shingle_hash", col("t"), lit(4)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == reference(t, 4), s"text '$t'")
    }
    // the rolling-path winnowing keeps the match guarantee
    val shared = "quantum entanglement experiment"
    val docs3 = Seq(
      (1L, s"alpha preamble $shared tail one"),
      (2L, s"totally different intro $shared closing remarks"),
      (3L, "zzz qqq xxx vvv kkk jjj www")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowingFingerprintsRolling(docs3, "doc_id", col("text"), 5, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    // and the expression stays inside whole-stage codegen (a parquet scan
    // — a local relation would collapse to LocalTableScan with no stage)
    val plan = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(call_function("graft_rolling_shingle_hash", col("text"), lit(5)))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen
    // stage — the project evaluating the expression must carry it
    assert(plan.linesIterator.next().trim.startsWith("*(") &&
      plan.contains("graft_rolling_shingle_hash"), plan)
  }

  test("fused graft_winnow_fps equals the composed rolling-hash winnow, order included") {
    val s = spark
    import s.implicits._
    // the composed pipeline the fused expression replaces — the
    // semantics reference, evaluated via the same Catalyst operators the
    // pre-round-10 production path used
    val texts = Seq(
      "",                                  // empty → one whole-string hash window
      "a", "abcd",                         // shorter than k
      "abcde",                             // exactly k → single hash
      "abcdefg",                           // m < w (3 hashes, w=4)
      "abcdefgh",                          // m == w
      "aaaaaaaaaaaaaaaa",                  // all ties → deque equality path
      "ünïcödé bytes not codepoints ügh",  // multibyte
      "the quick brown fox jumps over the lazy dog and keeps going",
      ("lorem ipsum dolor sit amet " * 20).trim)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val norm = regexp_replace(lower(trim(col("t"))), "\\s+", " ")
    val composed = df.select(col("id"),
        call_function("graft_rolling_shingle_hash", norm, lit(5)).as("__h"))
      .select(col("id"),
        array_distinct(transform(
          sequence(lit(0), greatest(size(col("__h")) - 4, lit(0))),
          i => array_min(slice(col("__h"), i + lit(1), lit(4))))).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fused = df.select(col("id"),
        call_function("graft_winnow_fps", norm, lit(5), lit(4)).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.indices.foreach { i =>
      assert(fused(i.toLong) == composed(i.toLong), s"text '${texts(i)}'")
    }
    // and the fused expression stays inside whole-stage codegen
    val plan = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(call_function("graft_winnow_fps", col("text"), lit(5), lit(4)))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().trim.startsWith("*(") &&
      plan.contains("graft_winnow_fps"), plan)
  }

  test("quality score stays in [0,1] and rewards clean text") {
    val out = docs(
      1L -> ("this is a perfectly normal sentence with the usual words in it " * 3),
      2L -> "!!!???@@@###")
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 1.0)
    assert(out(2L) <= 1.0 / 3 + 1e-9)
  }

  test("repetition ratio flags looping text and handles short docs") {
    val fixture = docs(
      1L -> "spam spam spam spam spam",  // every 2-gram identical
      2L -> "all words here are different ones",
      3L -> "one")                        // shorter than n
    // aggregation form (the frame-scale path)
    val agg = TextAnalysis.repetitionRatios(fixture, "doc_id", col("text"), 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(agg == Map(1L -> 1.0, 2L -> 0.2, 3L -> 0.0))
    // array-local form agrees
    val local = fixture
      .select(col("doc_id"), Dedup.tokens(col("text")).as("__t"))
      .select(col("doc_id"), TextAnalysis.allNgrams(col("__t"), 2).as("__g"))
      .select(col("doc_id"),
        TextAnalysis.repetitionRatioFromGrams(col("__g")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(local == agg)
  }

  test("lineFilterC4 keeps punctuated >=5-word lines without boilerplate markers") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Seq(
      "this line has plenty of words and ends well.",   // kept
      "short line.",                                    // < 5 words
      "this line has plenty of words but no terminal punctuation", // no punct
      "please enable javascript to view this content.", // marker
      "we use cookie banners to track everything here.",// marker (cookie)
      "is this a kept question with enough words?",     // kept (?)
      "a quoted ending also counts as terminal \"")),   // kept (")
      (2L, Seq.empty[String])).toDF("doc_id", "lines")
    val out = TextAnalysis.lineFilterC4(df, "doc_id", col("lines"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3))).toMap
    assert(out(1L)._1 == 7L && out(1L)._2 == 3L)
    assert(out(1L)._3 == Seq(
      "this line has plenty of words and ends well.",
      "is this a kept question with enough words?",
      "a quoted ending also counts as terminal \"").mkString("\n"))
    assert(out(2L) == ((0L, 0L, "")))
  }

  test("piiRedact masks emails, phones, and IPs with per-category counts") {
    val out = TextAnalysis.piiRedact(
      docs(
        1L -> "mail bob@example.com and a.b-c@sub.domain.co.uk today",
        2L -> "call 555-1234 or 555-9999 from 192.168.0.1",
        3L -> "clean text with no identifiers at all",
        4L -> "edge: not-an-ip 1234.5.6.7890 half-phone 55-1234"),
      "doc_id", col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == ((2L, 0L, 0L,
      "mail |||EMAIL||| and |||EMAIL||| today")))
    assert(out(2L) == ((0L, 2L, 1L,
      "call |||PHONE||| or |||PHONE||| from |||IP|||")))
    assert(out(3L) == ((0L, 0L, 0L, "clean text with no identifiers at all")))
    // \b guards: digit runs butting against more digits don't match
    assert(out(4L)._1 == 0L && out(4L)._2 == 0L && out(4L)._3 == 0L)
  }

  test("fingerprint is whitespace/case-insensitive") {
    val fps = docs(1L -> "Hello   World", 2L -> "hello world", 3L -> "hello worlds")
      .select(TextAnalysis.fingerprint(col("text")).as("f"))
      .collect().map(_.getLong(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  // ---- Checksum / Reconcile / IncrementalSync / IdExtraction ---------

  test("orderedChecksum is 'empty' on empty tables and order-stable") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Int, String)].toDF("a", "b")
    assert(Checksum.orderedChecksum(empty).head().getString(0) == "empty")
    val x = Seq((1, "a"), (2, "b")).toDF("a", "b")
    val y = Seq((2, "b"), (1, "a")).toDF("a", "b")
    assert(Checksum.orderedChecksum(x).head().getString(0) ==
      Checksum.orderedChecksum(y).head().getString(0))
  }

  test("tablesMatch detects equality and any single-value difference") {
    val s = spark
    import s.implicits._
    val a = Seq((1, "x"), (2, "y")).toDF("id", "v")
    assert(Checksum.tablesMatch(a, a.orderBy(desc("id"))))
    assert(!Checksum.tablesMatch(a, Seq((1, "x"), (2, "z")).toDF("id", "v")))
    assert(!Checksum.tablesMatch(a, Seq((1, "x")).toDF("id", "v")))
  }

  test("orphanedKeys text-casts PKs on both sides (reconciler.rs:469-475)") {
    val s = spark
    import s.implicits._
    val target = Seq(1L, 2L, 3L).toDF("id")
    val source = Seq("1", "3").toDF("id") // string-typed source PKs
    val orphans = Reconcile.orphanedKeys(source, target, Seq("id"))
      .collect().map(_.getString(0))
    assert(orphans.toSeq == Seq("2"))
  }

  test("latestByKey keeps the max-cursor row per key") {
    val s = spark
    import s.implicits._
    val changes = Seq(("u1", 1L, "a"), ("u1", 3L, "c"), ("u2", 2L, "b"))
      .toDF("user_id", "cursor", "payload")
    val out = IncrementalSync.latestByKey(changes, Seq("user_id"), "cursor")
      .orderBy("user_id").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq(("u1", 3L, "c"), ("u2", 2L, "b")))
  }

  test("splitChanges separates deletes from upserts") {
    val s = spark
    import s.implicits._
    val ch = Seq((1L, "insert"), (2L, "update"), (3L, "delete")).toDF("id", "op")
    val (up, del) = IncrementalSync.splitChanges(ch, "op")
    assert(up.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(del.collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("id extraction: heuristic column used only when verified unique") {
    val s = spark
    import s.implicits._
    val unique = Seq((1, "a"), (2, "b")).toDF("ID", "v")
    val (_, name) = IdExtraction.withId(unique, None)
    assert(name == "ID") // case-insensitive heuristic hit + uniqueness pass
    val dupes = Seq((1, "a"), (1, "b")).toDF("id", "v")
    val (framed, fallback) = IdExtraction.withId(dupes, None)
    assert(fallback == "<row_number>") // fails uniqueness → row numbers
    assert(framed.select("__id").collect().map(_.getString(0)).toSet == Set("1", "2"))
  }

  test("simhashCandidates matches brute force exactly within maxHamming (pigeonhole)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // random sigs (almost never close) + planted families at hamming 1..5
    val base = (0 until 40).map(i => (i.toLong, rnd.nextLong()))
    val planted = (0 until 6).flatMap { f =>
      val sig = rnd.nextLong()
      Seq((100L + f * 10, sig), (101L + f * 10, sig ^ ((1L << f) | 1L))) // hamming 1 or 2
    }
    val far = Seq((900L, 0L), (901L, (1L << 5) - 1)) // hamming 5: must be excluded
    val all = base ++ planted ++ far
    val out = Dedup.simhashCandidates(all.toDF("id", "simhash"), "id", "simhash",
        64, 4, 3, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)).toSet
    assert(out == expected)
    assert(expected.nonEmpty && !out.exists { case (a, b, _) => a == 900L && b == 901L })
  }

  test("simhashCandidates hot-bucket cap drops degenerate buckets") {
    val s = spark
    import s.implicits._
    val same = (0 until 50).map(i => (i.toLong, 42L)).toDF("id", "simhash")
    val capped = Dedup.simhashCandidates(same, "id", "simhash", 64, 4, 3, maxBucket = 10)
    assert(capped.count() == 0) // C(50,2) pairs suppressed, not materialized
  }

  test("funnel counts users progressing through stages in order only") {
    val s = spark
    import s.implicits._
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val events = Seq(
      // u1 completes in order
      ("u1", ts("2024-05-01 10:00:00"), "view"),
      ("u1", ts("2024-05-01 10:05:00"), "click"),
      ("u1", ts("2024-05-01 10:10:00"), "purchase"),
      // u2 clicked BEFORE viewing: click must not count, purchase neither
      ("u2", ts("2024-05-01 09:00:00"), "click"),
      ("u2", ts("2024-05-01 09:30:00"), "view"),
      ("u2", ts("2024-05-01 09:40:00"), "purchase"),
      // u3 only views
      ("u3", ts("2024-05-01 08:00:00"), "view"))
      .toDF("user_id", "ts", "event_type")
    val out = graft.operators.Funnel.counts(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(out == Map("view" -> 3L, "click" -> 1L, "purchase" -> 1L))
  }

  test("debounce keeps the first of each equal-ts run and drops close followers") {
    val s = spark
    import s.implicits._
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val events = Seq(
      (1L, "u1", ts("2024-05-01 10:00:00")), // kept (first)
      (2L, "u1", ts("2024-05-01 10:00:00")), // equal ts, higher tie → dropped
      (3L, "u1", ts("2024-05-01 10:20:00")), // 20m after previous → dropped (gap 30m)
      (4L, "u1", ts("2024-05-01 10:50:00")), // 30m after previous row exactly → kept
      (5L, "u2", ts("2024-05-01 10:01:00"))) // other key → kept
      .toDF("event_id", "user_id", "ts")
    val kept = graft.operators.Sampling.debounce(events, Seq("user_id"), "ts", "event_id", 1800L)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  test("cohortRetention counts distinct users per (cohort day, offset)") {
    val s = spark
    import s.implicits._
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val events = Seq(
      ("u1", ts("2024-05-01 10:00:00")), ("u1", ts("2024-05-01 18:00:00")), // same day twice → 1
      ("u1", ts("2024-05-03 09:00:00")),                                    // day 2
      ("u2", ts("2024-05-01 11:00:00")),                                    // cohort-mate of u1
      ("u3", ts("2024-05-02 12:00:00")))                                    // own cohort
      .toDF("user_id", "ts")
    val out = graft.operators.Funnel.cohortRetention(events, "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2))).toSet
    assert(out == Set(
      ("2024-05-01", 0, 2L), ("2024-05-01", 2, 1L), ("2024-05-02", 0, 1L)))
  }

  test("asofJoin attaches the newest prior right value, inclusive at equal ts") {
    val s = spark
    import s.implicits._
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val left = Seq(
      (1L, "u1", ts("2024-05-01 10:00:00")),  // after r@09:00 and r@10:00 → 20 (equal ts wins)
      (2L, "u1", ts("2024-05-01 09:30:00")),  // after r@09:00 only → 10
      (3L, "u1", ts("2024-05-01 08:00:00")),  // before all right rows → null
      (4L, "u2", ts("2024-05-01 12:00:00")))  // other key, no right rows → null
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      ("u1", ts("2024-05-01 09:00:00"), 10L),
      ("u1", ts("2024-05-01 10:00:00"), 20L))
      .toDF("user_id", "ts", "click_id")
    val out = TemporalJoin.asofJoin(left, right, Seq("user_id"), "ts", "click_id", "click_id")
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(out == Map(1L -> Some(20L), 2L -> Some(10L), 3L -> None, 4L -> None))
  }

  test("asofJoin refuses inputs that collide with its reserved scratch columns") {
    val s = spark
    import s.implicits._
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val left = Seq((1L, "u1", ts("2024-05-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(("u1", ts("2024-05-01 09:00:00"), 10L)).toDF("user_id", "ts", "click_id")
    // a caller column named like the union-scan scratch would be silently
    // replaced (withColumn semantics) — must fail loudly instead
    intercept[IllegalArgumentException] {
      TemporalJoin.asofJoin(left.withColumn("__side", lit(9)), right,
        Seq("user_id"), "ts", "click_id", "out")
    }
    intercept[IllegalArgumentException] {
      TemporalJoin.asofJoin(left, right.withColumn("__rv", lit(9)),
        Seq("user_id"), "ts", "click_id", "out")
    }
    // outCol colliding with an existing left column
    intercept[IllegalArgumentException] {
      TemporalJoin.asofJoin(left, right, Seq("user_id"), "ts", "click_id", "event_id")
    }
  }

  test("asofJoin matches driver-side brute force on random event sets") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // many collisions on purpose: 4 keys, timestamps on a coarse grid
    val leftRows = (1L to 120L).map(i =>
      (i, s"k${rnd.nextInt(4)}", new java.sql.Timestamp(1700000000000L + rnd.nextInt(50) * 60000L)))
    val rightRows = (1L to 80L).map(i =>
      (s"k${rnd.nextInt(4)}", new java.sql.Timestamp(1700000000000L + rnd.nextInt(50) * 60000L), i))
    // pre-dedupe right per (key, ts) — the operator's documented contract
    val rightDedup = rightRows.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val out = TemporalJoin.asofJoin(
        leftRows.toDF("event_id", "k", "ts"),
        rightDedup.toDF("k", "ts", "v"),
        Seq("k"), "ts", "v", "asof_v")
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    val expected = leftRows.map { case (id, k, ts) =>
      id -> rightDedup.filter(r => r._1 == k && !r._2.after(ts))
        .sortBy(r => (r._2.getTime, r._3)).lastOption.map(_._3)
    }.toMap
    assert(out == expected)
  }

  test("rangeJoin finds exactly the pairs inside the window, including bucket borders") {
    val s = spark
    import s.implicits._
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val left = Seq((1L, "u1", ts("2024-05-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      ("u1", ts("2024-05-01 09:00:01"), 10L), // inside (59m59s before)
      ("u1", ts("2024-05-01 09:00:00"), 11L), // exactly at the window edge → inside
      ("u1", ts("2024-05-01 08:59:59"), 12L), // 1s outside
      ("u1", ts("2024-05-01 10:00:00"), 13L), // equal ts → inside
      ("u1", ts("2024-05-01 10:00:01"), 14L), // future → outside
      ("u2", ts("2024-05-01 09:30:00"), 15L)) // other key
      .toDF("user_id", "ts", "click_id")
    val got = TemporalJoin.rangeJoin(left, right, Seq("user_id"), "ts", 3600L,
        "click_id", "click_id")
      .collect().map(_.getLong(3)).toSet
    assert(got == Set(10L, 11L, 13L))
  }

  test("knnClassify takes the majority label of the nearest neighbors") {
    val s = spark
    import s.implicits._
    // axis-aligned clusters: label 1 near (1,0), label 2 near (0,1)
    val corpus = Seq(
      (10L, Array(1.0, 0.1), 1), (11L, Array(1.0, 0.2), 1), (12L, Array(0.9, 0.0), 1),
      (20L, Array(0.1, 1.0), 2), (21L, Array(0.0, 0.9), 2), (22L, Array(0.2, 1.0), 2))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)))
      .toDF("query_id", "qv")
    val out = Similarity.knnClassify(corpus, queries, "vec_id", "embedding", "label",
        "query_id", "qv", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1, 3L), (2L, 2, 3L)))
  }

  test("tfIdfTopTerms surfaces discriminative terms over common ones") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat the cat zebra"),   // zebra unique; 'the'/'cat' shared
      (2L, "the cat the dog"),
      (3L, "the dog the dog")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, "doc_id", col("text"), 1, 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1: zebra (tf=1, df=1 → 3.0) beats cat (tf=2, df=2 → 3.0)... equal
    // score ties break lexicographically: cat == 3.0, zebra == 3.0 → "cat".
    // doc 3: dog tf=2 df=2 → 3.0, the tf=2 df=3 → 2.0 → "dog"
    assert(out(3L) == "dog")
    // rank-1 term always exists for every doc
    assert(out.keySet == Set(1L, 2L, 3L))
  }

  test("crossMinhashCandidates pairs only across corpora and finds planted contamination") {
    val s = spark
    import s.implicits._
    val training = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely different document about distributed query engines"),
      (3L, "the quick brown fox jumps over the lazy dog again and again")) // dup of 1 WITHIN A
      .toDF("doc_id", "text")
    val benchmark = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again extra"),
      (101L, "completely unrelated benchmark prompt with no overlap whatsoever at all"))
      .toDF("doc_id", "text")
    val out = Dedup.crossMinhashCandidates(training, benchmark, "doc_id", col("text"),
        ngramN = 3, bands = 4, rowsPerBand = 2, hashFn = Dedup.md5Hex, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // contaminated: 1 and 3 match benchmark 100; the A-internal dup (1,3)
    // must NOT appear — this operator only crosses corpora
    assert(out == Set((1L, 100L), (3L, 100L)))
  }

  test("connectedComponents resolves chains, islands, and long paths") {
    val s = spark
    import s.implicits._
    // chain 1-2-3, pair 10-11, long path 20..28 (diameter 8 — pointer
    // jumping must converge it well inside maxIter), cycle 30-31-32-30
    val edges = (Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L), (31L, 32L), (32L, 30L))
      ++ (20L until 28L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L).forall(comp(_) == 10L))
    assert((20L to 28L).forall(comp(_) == 20L))
    assert(Seq(30L, 31L, 32L).forall(comp(_) == 30L))
  }

  test("connectedComponents: driver union-find and distributed loop agree") {
    val s = spark
    import s.implicits._
    // seeded random graphs across shapes (sparse, dense-ish, self-loops,
    // duplicate + reversed edges) — the small-graph fast path must be
    // indistinguishable from the distributed pointer-jumping loop
    val rnd = new scala.util.Random(20260812L)
    (1 to 4).foreach { trial =>
      val n = 50 + rnd.nextInt(150)
      val m = n + rnd.nextInt(3 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .toDF("id_a", "id_b")
      val fast = Dedup.connectedComponents(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // threshold 0 disables the probe entirely → distributed loop
      val dist = Dedup.connectedComponents(edges, driverEdgeThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == dist, s"trial $trial (n=$n m=$m) diverged")
    }
    // above-threshold graphs fall back to the distributed loop (same contract)
    val big = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val viaDist = Dedup.connectedComponents(big, driverEdgeThreshold = 5L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 40L).forall(viaDist(_) == 0L))
    // non-integral ids can't take the fast path — distributed loop handles them
    val strEdges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val strComp = Dedup.connectedComponents(strEdges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq("a", "b", "c").forall(strComp(_) == "a") && strComp("y") == "x")
  }

  test("clusterRepresentatives keeps singletons as their own rep with size 1") {
    val s = spark
    import s.implicits._
    val corpus = Seq(1L, 2L, 3L, 99L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.clusterRepresentatives(corpus, "doc_id", edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (99L, 99L, 1L)))
    // dedup = keep id == rep: exactly one doc per cluster survives
    assert(out.count { case (id, rep, _) => id == rep } == 2)
  }

  test("rowNumberIds assigns stable 1-based global numbers without a global window") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(i => (100 - i, s"v$i")).toDF("k", "v").repartition(7)
    val out = IdExtraction.rowNumberIds(df, Seq(col("k")))
    val pairs = out.select("k", "__rid").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    assert(pairs.map(_._2).toSeq == (1L to 100L)) // rid follows k order exactly
  }

  // q_quantiles' registered query uses exact `percentile` for oracle
  // parity; the 100 TB path is approx_percentile (t-digest: one pass, no
  // sort, mergeable across partitions). Its contract is a RANK error of
  // at most 1/accuracy — pin that every approximate value lands between
  // the exact percentiles at p ± 1/accuracy.
  test("approx_percentile stays within its rank-error bound of exact percentile") {
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val acc = 100
    val ps = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    val a = d.agg(percentile_approx(col("n_chars"),
      array(ps.map(lit): _*), lit(acc)).as("a")).head().getSeq[Long](0)
    // the returned value is an actual data value, so the bound is on
    // ORDER STATISTICS at rank p ± 1/accuracy (not interpolated values)
    val vals = d.select("n_chars").collect().map(_.getLong(0)).sorted
    val n = vals.length
    ps.indices.foreach { i =>
      val lo = vals(math.max(0, math.floor((ps(i) - 1.0 / acc) * (n - 1)).toInt))
      val hi = vals(math.min(n - 1, math.ceil((ps(i) + 1.0 / acc) * (n - 1)).toInt))
      assert(lo <= a(i) && a(i) <= hi,
        s"p=${ps(i)}: approx ${a(i)} outside rank bound [$lo, $hi]")
    }
  }

  // ---- product quantization ------------------------------------------

  // Lossless regime: subvector vocabulary of exactly k values, all
  // present among the first k sample rows (the Lloyd seeds) → codewords
  // converge onto the exact points, ADC distance equals true distance,
  // and PQ top-k equals brute force.
  test("PQ with a k-coverable vocabulary is lossless: ADC top-k == exact") {
    val s = spark
    import s.implicits._
    // dim 4, m=2 subspaces of 2; subvector vocab {00,10,01,11} in both
    val vocab = Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0))
    val vecs = (0 until 8).map { i =>
      (i.toLong, (vocab(i % 4) ++ vocab((i / 2) % 4)).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(df, "embedding", m = 2, k = 4, iters = 5, sampleCap = 8)
    val enc = Similarity.pqEncode(df, "embedding", cb)
    val codes = enc.select("vec_id", "pq_code").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(c => c.length == 2 && c.forall(j => j >= 0 && j < 4)))
    val q = Array(0.9f, 0.1f, 0.1f, 0.9f) // nearest true vector: (1,0,0,1)
    val top = Similarity.pqTopK(enc, "vec_id", q, k = 3, cb).collect()
    // mirror pqTopK's round-to-6 (equidistant rows tie, id-broken) —
    // raw-double comparison would be sensitive to summation order
    val exact = vecs.sortBy { case (id, v) =>
      (math.round(v.zip(q.map(_.toDouble))
        .map { case (a, b) => (a - b) * (a - b) }.sum * 1e6), id)
    }.take(3).map(_._1)
    assert(top.map(_.getLong(0)).toSeq == exact.toSeq)
  }

  // ---- SQ8 scalar quantization ---------------------------------------

  // Hand-computed codes: floor(x / maxabs * 127 + 0.5).
  //   [3, -1.5, 0]  scale 3    → floor(127.5)=127, floor(-63.0)=-63, floor(0.5)=0
  //   [-2, 1]       scale 2    → floor(-126.5)=-127, floor(64.0)=64
  //   [0, 0]        scale 1e-30 → [0, 0] (all-zero vector stays zero)
  test("sq8Encode: hand-computed codes, max-abs always ±127, zero-vector safe") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Array(3.0f, -1.5f, 0.0f)),
      (2L, Array(-2.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val enc = Similarity.sq8Encode(df, "embedding").orderBy("vec_id")
      .select("vec_id", "sq8_scale", "sq8_code").collect()
    assert(enc(0).getDouble(1) == 3.0 && enc(0).getSeq[Int](2) == Seq(127, -63, 0))
    assert(enc(1).getDouble(1) == 2.0 && enc(1).getSeq[Int](2) == Seq(-127, 64, 0))
    assert(enc(2).getSeq[Int](2) == Seq(0, 0, 0))
  }

  test("sq8 recall harness: int8 rounding keeps recall ≈ 1 on separable data") {
    val s = spark
    import s.implicits._
    // vectors pointing in distinct directions: int8 rounding (≤0.4% of
    // max-abs per component) cannot reorder a top-2 ranking with gaps
    // this wide, so recall@2 must be exactly 1 for every query
    val vecs = (0 until 12).map { i =>
      val v = Array.fill(8)(0.05f); v(i % 8) = 1.0f
      (i.toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val qs = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val out = Similarity.sq8RecallAtK(df, qs, "vec_id", "embedding",
      "query_id", "qv", k = 2).collect()
    assert(out.length == 3)
    assert(out.forall(_.getDouble(2) == 1.0))
    assert(out.forall(_.getLong(1) == 12L)) // n_cand = whole corpus: SQ8 shrinks bytes, not rows
  }

  test("ivfPq: anchor books are exact residuals; encode round-trips them to code 0-distance") {
    val s = spark
    import s.implicits._
    // two clean clusters; centroids at their centers
    val c0 = (0 until 4).map(i => (i.toLong, Array(1.0f, 0.1f * i, 0f, 0f)))
    val c1 = (4 until 8).map(i => (i.toLong, Array(0f, 0f, 1.0f, 0.1f * (i - 4))))
    val df = (c0 ++ c1).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.15, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.15))
    val books = Similarity.ivfPqAnchorBooks(df, "vec_id", "embedding", cents,
      m = 2, nBooks = 4)
    // book codewords ARE the first 4 residuals: anchor j's residual in
    // subspace s equals v_j - centroid(cell(v_j)) sliced
    assert(books.length == 2 && books(0).length == 4)
    assert(books(0)(0).toSeq == Seq(0.0, 0.1 * 0 - 0.15))
    assert(books(1)(2).toSeq == Seq(0.0, 0.0))
    // encoding an anchor must find its own residual at distance 0 —
    // code == its own book index (ties impossible: residuals distinct)
    val enc = Similarity.ivfPqEncode(df, "embedding", cents, books)
      .orderBy("vec_id").select("vec_id", "ivf_cell", "pq_code").collect()
    assert(enc(0).getInt(1) == 0 && enc(5).getInt(1) == 1)
    (0 until 4).foreach { j =>
      assert(enc(j).getSeq[Int](2).head == j, s"anchor $j did not encode to itself")
    }
  }

  test("ivfPqRecallAtK: refine re-rank recovers exact order on clustered data") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 24).map { i =>
      val v = Array.fill(8)(0.02f * (i % 5)); v(i % 4) = 1.0f
      (i.toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val qs = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cents = Similarity.kmeansCentroids(df, "embedding", k = 4)
    val books = Similarity.ivfPqTrain(df, "embedding", cents, m = 2, k = 4)
    // probe ALL cells and refine the full corpus: the exact re-rank then
    // reproduces the exact top-k regardless of code distortion → recall 1
    val out = Similarity.ivfPqRecallAtK(df, qs, "vec_id", "embedding",
      "query_id", "qv", k = 3, cents, books, nProbe = 4, refine = 24).collect()
    assert(out.length == 3 && out.forall(_.getDouble(2) == 1.0))
    // and the unrefined ADC ranking at the same probe budget may err but
    // never exceeds the probed candidate count
    assert(out.forall(_.getLong(1) == 24L))
  }

  test("pairwiseCosineCandidatesAuto sizes planes from the corpus; exact dups never split") {
    val s = spark
    import s.implicits._
    // 600 vectors in 3 directions + planted 2x-scaled copies (cosine 1)
    val base = (0 until 600).map { i =>
      val v = Array.fill(8)(0.01f); v(i % 3) = 1.0f
      (i.toLong, v)
    }
    val planted = base.map { case (id, v) => (id + 10000, v.map(_ * 2.0f)) }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    // n = 1200, targetBucket 64 → h = ceil(log2(18.75)) = 5
    val auto = Similarity.pairwiseCosineCandidatesAuto(df, "vec_id", "embedding",
      threshold = 0.999999, targetBucket = 64, portable = true, maxBucket = 100000)
    val fixed = Similarity.pairwiseCosineCandidates(df, "vec_id", "embedding",
      threshold = 0.999999, hPlanes = 3, portable = true, maxBucket = 100000)
    def plantedPairs(out: Array[org.apache.spark.sql.Row]) =
      out.map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => b == a + 10000 }.toSet
    // every planted cosine-1 pair survives at BOTH plane counts: scaling
    // preserves every SRP sign bit, so more planes never split exact dups
    assert(plantedPairs(auto.collect()).size == 600)
    assert(plantedPairs(fixed.collect()).size == 600)
  }

  test("randomRotation: deterministic orthonormal; withRotated preserves L2") {
    val s = spark
    import s.implicits._
    val a = Similarity.randomRotation(16, seed = 7L)
    val b = Similarity.randomRotation(16, seed = 7L)
    assert(a.flatten.toSeq == b.flatten.toSeq, "same (dim, seed) must give same matrix")
    // R·Rᵀ = I: rows orthonormal
    for (i <- 0 until 16; j <- 0 until 16) {
      val d = (0 until 16).map(t => a(i)(t) * a(j)(t)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-12,
        s"R·Rᵀ[$i][$j] = $d")
    }
    // rotation preserves vector norms (hence all L2 distances)
    val df = Seq((1L, Array.fill(16)(0.25f)), (2L, (0 until 16).map(_.toFloat).toArray))
      .toDF("vec_id", "v")
    val out = Similarity.withRotated(df, "v", a, "rv")
      .select(col("vec_id"),
        aggregate(transform(col("v"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x).as("n0"),
        aggregate(transform(col("rv"), x => x * x), lit(0.0),
          (acc, x) => acc + x).as("n1"))
      .collect()
    out.foreach(r => assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9,
      s"norm changed under rotation: ${r.getDouble(1)} vs ${r.getDouble(2)}"))
  }

  test("graft_rotate_vec (native) is bit-identical to the withRotated HOF twin") {
    val s = spark
    import s.implicits._
    // bit-equality is the contract: the DuckDB oracle replays the HOF's
    // in-order fold, so the native path must produce the same doubles —
    // float and double inputs both
    val fdf = Seq((1L, (0 until 16).map(i => (i * 0.37f - 2.9f)).toArray),
      (2L, Array.fill(16)(1.25f))).toDF("vec_id", "v")
    val rot = Similarity.randomRotation(16, seed = 9L)
    val both = Similarity.withRotatedNative(
        Similarity.withRotated(fdf, "v", rot, "hof"), "v", 16, 9L, "nat")
      .select(col("vec_id"), col("hof"), col("nat")).collect()
    both.foreach { r =>
      val h = r.getSeq[Double](1); val n = r.getSeq[Double](2)
      assert(h == n, s"native != HOF for vec ${r.getLong(0)}")
    }
    val ddf = fdf.select(col("vec_id"),
      transform(col("v"), x => x.cast("double")).as("v"))
    val bothD = Similarity.withRotatedNative(
        Similarity.withRotated(ddf, "v", rot, "hof"), "v", 16, 9L, "nat")
      .select(col("hof"), col("nat")).collect()
    bothD.foreach(r => assert(r.getSeq[Double](0) == r.getSeq[Double](1)))
    // wrong-length vector fails loudly, not silently
    intercept[Exception] {
      Similarity.withRotatedNative(fdf, "v", 8, 9L, "nat").collect()
    }
  }

  test("graft_dot (native) is bit-identical to the HOF twin, all input widths") {
    val s = spark
    import s.implicits._
    // bit-equality is the contract: every cosine in the gated vector
    // family rounds this value to 6 dp for oracle parity, so the native
    // fold must produce the same doubles as the interpreted HOF (which
    // is what the DuckDB list_reduce replays). Corpus embeddings (float)
    // plus awkward synthetic values, in all four float/double pairings.
    val f = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("a"))
      .withColumn("b", reverse(col("a")))
      .unionAll(Seq(
        (9001L, Array(0.1f, -2.7e-3f, 3.4e8f, -1.1f),
          Array(7.7f, 0.0f, -1.0e-8f, 2.5f))).toDF("vec_id", "a", "b"))
    def both(df: org.apache.spark.sql.DataFrame) =
      df.select(Similarity.dot(col("a"), col("b")).as("nat"),
        Similarity.dotHof(col("a"), col("b")).as("hof")).collect()
    val asD = (c: String) => transform(col(c), x => x.cast("double")).as(c)
    Seq(
      f,                                           // float  × float
      f.select(col("vec_id"), asD("a"), col("b")), // double × float
      f.select(col("vec_id"), col("a"), asD("b")), // float  × double
      f.select(col("vec_id"), asD("a"), asD("b"))  // double × double
    ).foreach { df =>
      val rows = both(df)
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }
    }
    // length mismatch fails loudly, not silently
    intercept[Exception] {
      f.select(Similarity.dot(col("a"), slice(col("b"), 1, 3))).collect()
    }
  }

  test("graft_srp_bucket (native) is bit-identical to the literal-plane HOF twin") {
    val s = spark
    import s.implicits._
    // corpus embeddings (float) and their double casts: identical
    // bucket ids at several plane counts, including h where the planted
    // ×2-scale sign-preservation matters downstream
    val f = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("v"))
    val dim = f.select(size(col("v"))).head().getInt(0)
    Seq(4, 11, 20).foreach { h =>
      val rows = f.select(
        Similarity.srpBucket(col("v"), h, portable = true, Some(dim)).as("nat"),
        Similarity.srpBucketHof(col("v"), h, portable = true, Some(dim)).as("hof"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"h=$h"))
    }
    val d = f.select(transform(col("v"), x => x.cast("double")).as("v"))
    val rowsD = d.select(
      Similarity.srpBucket(col("v"), 11, portable = true, Some(dim)).as("nat"),
      Similarity.srpBucketHof(col("v"), 11, portable = true, Some(dim)).as("hof"))
      .collect()
    rowsD.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // wrong dim fails loudly, not silently
    intercept[Exception] {
      f.select(Similarity.srpBucket(col("v"), 4, portable = true,
        Some(dim + 1))).collect()
    }
  }

  test("ivfSq8TopK: probes prune rows, int8 ranking keeps the in-cell order") {
    val s = spark
    import s.implicits._
    // two well-separated clusters around (1,0..) and (0..,1)
    val c0 = (0 until 6).map(i => (i.toLong, Array(1.0f, 0.02f * i, 0f, 0f)))
    val c1 = (10 until 16).map(i => (i.toLong, Array(0f, 0.02f * i, 1.0f, 0f)))
    val df = (c0 ++ c1).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.05, 0.0, 0.0), Array(0.0, 0.25, 1.0, 0.0))
    val q = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val top = Similarity.ivfSq8TopK(df, "vec_id", "embedding", q, k = 10,
      cents, nProbe = 1).collect()
    // nProbe=1 probes only cluster-0's cell: no cluster-1 id may appear
    assert(top.nonEmpty && top.forall(_.getLong(0) < 10))
    // int8 ranking preserves the exact in-cell order on separable data
    assert(top.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    // nProbe=all degenerates to the full SQ8 scan (every id eligible)
    val all = Similarity.ivfSq8TopK(df, "vec_id", "embedding", q, k = 12,
      cents, nProbe = 2).collect()
    assert(all.length == 12)
  }

  test("ivfCellStats: hand-computed counts, shares, and mean distances") {
    val s = spark
    import s.implicits._
    // centroids (0,0) and (10,10); vectors at (0,0) d=0, (1,0) d=1,
    // (10,10) d=0 → cell0 {2 vecs, mean 0.5}, cell1 {1 vec, mean 0}
    val df = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), (2L, Array(10.0f, 10.0f)))
      .toDF("vec_id", "embedding")
    val cents = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val out = Similarity.ivfCellStats(df, "embedding", cents)
      .orderBy("ivf_cell").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0, 2L, 0.666667, 0.5), (1, 1L, 0.333333, 0.0)))
  }

  test("PQ on real embeddings: the query's own row attains the ADC minimum") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cb = Similarity.pqTrain(e, "embedding", m = 8, k = 16, iters = 3, sampleCap = 500)
    val enc = Similarity.pqEncode(e, "embedding", cb)
    val q = e.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray
    // encoding picks the per-subspace nearest codeword, so the query's own
    // code minimizes every ADC table row — row 0 must rank first
    val top = Similarity.pqTopK(enc, "vec_id", q, k = 5, cb)
    assert(top.head().getLong(0) == 0L)
    // and the scan stays a top-k merge, not a global sort
    assert(top.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  // q_distinct_stats' registered query uses exact countDistinct for
  // oracle parity; the 100 TB path is approx_count_distinct (HLL++:
  // fixed-size sketch per group, mergeable, no distinct-pair shuffle).
  // Pin the estimate within 5 standard deviations of its configured rsd.
  test("approx_count_distinct stays within its rsd bound of exact distinct") {
    val e = graft.Tables.events(spark, "/root/testdata/sf0.01")
    val rsd = 0.02
    val rows = e.groupBy("event_type").agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id"), rsd).as("approx")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1); val approx = r.getLong(2)
      assert(math.abs(approx - exact) <= math.max(1.0, 5 * rsd * exact),
        s"${r.getString(0)}: approx $approx vs exact $exact beyond 5*rsd")
    }
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from exact to
  * fuzzy:
  *
  *   - exact: hash-groupBy on content (or normalized content);
  *   - MinHash + LSH: shingle → k minhashes → band → bucket-join —
  *     candidate pairs only ever meet inside a bucket, so the shuffle is
  *     O(docs·bands), never O(docs²);
  *   - SimHash: 64-bit near-dup signature (Hamming-adjacent docs collide
  *     on rotated prefixes);
  *   - n-gram Jaccard: exact similarity for candidate verification.
  *
  * Design for 100 TB: every pipeline here is "explode → hash-aggregate →
  * self-join on a small key" — the quadratic pair space is always cut by
  * banding/bucketing BEFORE any join, and joins shuffle only (id, sig)
  * pairs, never document text.
  */
object Dedup {

  /** Default hash for the 100 TB path: Spark-native 64-bit xxhash64
    * (codegen'd). The oracle path passes [[md5Hex]] instead — slower, but
    * byte-reproducible in any engine, so DuckDB can replay the identical
    * pipeline. Both are `Column => Column`, interchangeable below because
    * minhash/banding only ever need hashing + ordering. */
  val xxhash: Column => Column = c => xxhash64(c)

  /** Engine-portable hash: lowercase hex md5 string. min() over these is
    * a lexicographic min — still a uniform minhash. */
  val md5Hex: Column => Column = c => md5(c.cast("binary"))

  /** Exact dedup: keep the lowest-id row per identical `key` value,
    * with the duplicate-group size. One hash aggregation, map-side
    * combinable — no shuffle of payloads, only (key, id, count). */
  def exactDedup(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Normalized word tokens. IMPORTANT: when building n-grams over a
    * frame, project THIS into its own column first and pass the
    * attribute to [[ngramsOfTokens]] — an expression referenced from
    * inside a lambda is re-evaluated per element, so inlining the
    * regex+split tree into the n-gram lambda costs O(tokens) regex runs
    * per row (measured 7 s → 0.3 s over 10 k docs). */
  def tokens(text: Column): Column =
    split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")

  /** Character k-shingles of a normalized text column. Texts shorter
    * than k yield their whole text as the single shingle. `norm` should
    * be a projected attribute (see [[tokens]] note). */
  def shingles(norm: Column, k: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(norm) - (k - 1), lit(1))),
        i => norm.substr(i, lit(k))))

  /** Distinct word n-grams from a token-array column (ideally an
    * attribute, not an inline expression — see [[tokens]]). */
  def ngramsOfTokens(toks: Column, n: Int): Column =
    array_distinct(
      filter(
        transform(toks, (_, i) =>
          when(i + n <= size(toks), array_join(slice(toks, i + 1, lit(n)), " "))),
        x => x.isNotNull))

  /** Word n-grams straight from text — convenient for small frames and
    * tests; frame-scale pipelines should project [[tokens]] first. */
  def wordNgrams(text: Column, n: Int): Column =
    ngramsOfTokens(tokens(text), n)

  /** One minhash value: min over shingles of a seeded hash. Seeding by
    * concatenating the seed keeps it expressible in plain SQL (the oracle
    * uses the same construction). */
  def minhash(ngrams: Column, seed: Int, hashFn: Column => Column = xxhash): Column =
    array_min(transform(ngrams, g => hashFn(concat(lit(s"$seed:"), g))))

  /** k minhash signature values as one array column. */
  def minhashSignature(ngrams: Column, k: Int,
                       hashFn: Column => Column = xxhash): Column =
    array((0 until k).map(minhash(ngrams, _, hashFn)): _*)

  /** MinHash-LSH candidate pairs: k minhashes split into `bands` bands of
    * `rowsPerBand`; docs sharing any band signature become a candidate
    * pair. Returns (id_a, id_b) with id_a < id_b, distinct.
    *
    * The band explode keeps each join key's payload to (band_idx,
    * band_hash) — the join never sees text, and same-band buckets are the
    * only place pairs materialize.
    *
    * `maxBucket` is the LSH-hygiene hot-bucket cap: a (band, hash) bucket
    * with more than `maxBucket` members (thousands of boilerplate or
    * empty docs colliding on one band) would go quadratic in the
    * self-join, so oversized buckets are dropped entirely — standard
    * practice, mandatory at 100 TB. Buckets of 1 are skipped too (they
    * can't form pairs — pure shuffle savings, same result). */
  def minhashCandidates(df: DataFrame, idCol: String, text: Column,
                        ngramN: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                        hashFn: Column => Column = xxhash,
                        maxBucket: Int = 200): DataFrame =
    minhashCandidatesManaged(df, idCol, text, ngramN, bands, rowsPerBand,
      hashFn, maxBucket)._1

  /** As [[minhashCandidates]], but the caller OWNS the persisted banded
    * scratch frame's lifecycle: call `release()` once every consumer of
    * the returned candidates has materialized. The plain overload leaves
    * the cache session-scoped (never released) — fine for one-shot jobs,
    * a storage leak in a long-lived session (round-2 verdict #3). */
  def minhashCandidatesManaged(df: DataFrame, idCol: String, text: Column,
                               ngramN: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                               hashFn: Column => Column = xxhash,
                               maxBucket: Int = 200): (DataFrame, () => Unit) = {
    // MATERIALIZE the banded signatures: the cap aggregation, the cap
    // join, and both self-join branches all consume this frame — without
    // a persist each branch re-derives the whole shingle→hash lineage
    // (4× the text scan, ~30× the hashing; measured 130 s → 8 s at
    // sf0.1). At 100 TB this is a written signature table, bucketed by
    // (band, bh) so the self-join is co-located; here MEMORY_AND_DISK of
    // (id, band, hash) — a sliver of the input — is the same decision.
    val banded = bandedSignatures(df, idCol, text, ngramN, bands, rowsPerBand, hashFn)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (candidatePairs(banded, maxBucket), () => { banded.unpersist(); () })
  }

  /** The banded minhash signature frame `(id, band, bh)` — pure (no
    * persist). Signature via explode + hash-aggregation rather than k
    * array-lambda passes: min() per seed is map-side combinable (the
    * shuffle carries k values per doc, never grams), and the expression
    * tree stays small — k nested `transform` lambdas generate
    * pathological codegen units (measured: seconds of janino compile). */
  def bandedSignatures(df: DataFrame, idCol: String, text: Column,
                       ngramN: Int, bands: Int, rowsPerBand: Int,
                       hashFn: Column => Column = xxhash): DataFrame = {
    val k = bands * rowsPerBand
    // Both shipped hash regimes have a native one-traversal signature
    // expression ([[graft.functions.MinHashSig]], byte-parity pinned in
    // OperatorsSpec): the whole signature stage becomes a narrow map —
    // no gram explode, no groupBy shuffle, no per-(gram,seed) concat.
    // Measured at sf0.1 (4 k docs, md5 regime): 8.6 s → 1.9 s. A custom
    // hashFn falls back to the declarative aggregate form (same result;
    // a doc with duplicate ids gets one signature per row here vs one
    // merged signature there — ids are unique in every shipped caller).
    // Round-15: the TEXT-DIRECT signature expressions fuse gram
    // construction into the digest walk (word spans over the bytes; a
    // gram joined by single spaces is byte-identical to the normalized
    // slice) — the declarative split + per-gram slice/array_join/
    // array_distinct chain they replace was measured at the 100× rung
    // as ~¾ of the warm banded stage, all allocation. Bit-parity with
    // the gram-array forms is spec-pinned (dropping array_distinct is
    // sound: duplicate grams cannot change a minimum).
    val sigNative: Option[Column] =
      if (hashFn eq md5Hex)
        Some(call_function("graft_md5_minhash_text", text, lit(ngramN), lit(k)))
      else if (hashFn eq xxhash)
        Some(call_function("graft_xxhash_minhash_text", text, lit(ngramN), lit(k)))
      else None
    val sig = sigNative match {
      case Some(sc) =>
        // gram-less docs carry a NULL sig (never a filter here: a
        // size-of-grams predicate gets pushed below these projections and
        // re-derives the tokenize tree per element); the band array below
        // is null for them, and posexplode of null emits nothing — the
        // same "doc never reaches the groupBy" semantics as the fallback
        df.select(col(idCol).as("id"), sc.as("sig"))
      case None =>
        df.select(col(idCol).as("id"), tokens(text).as("__t"))
          .select(col("id"), explode(ngramsOfTokens(col("__t"), ngramN)).as("__g"))
          .groupBy(col("id")).agg(
            array((0 until k).map(seed =>
              min(hashFn(concat(lit(s"$seed:"), col("__g"))))): _*).as("sig"))
    }
    sig.select(
      col("id"),
      posexplode(
        when(col("sig").isNotNull,
          array((0 until bands).map(b =>
            hashFn(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))): _*)))
        .as(Seq("band", "bh")))
  }

  /** Cross-corpus MinHash-LSH candidates — the DECONTAMINATION shape:
    * find documents of corpus `a` that near-duplicate documents of corpus
    * `b` (e.g. training data vs held-out benchmarks). Same banding as
    * [[minhashCandidates]], but the bucket join is A×B instead of a
    * self-join: a bucket yields pairs only when BOTH sides populate it,
    * and the hot-bucket cap applies to the combined population (an
    * uncapped boilerplate bucket would go quadratic in |A_bucket|·|B_bucket|).
    * Returns `(id_a, id_b)` — id_a from `a`, id_b from `b`, distinct.
    *
    * 100 TB shape: the benchmark side is typically tiny (thousands of
    * docs) — its banded frame broadcast-joins against A's, so the
    * contamination sweep costs one scan of A plus a broadcast, no
    * shuffle of A at all (Spark picks the broadcast automatically under
    * the 10 MB default; force with `broadcast()` when B is known-small). */
  def crossMinhashCandidates(a: DataFrame, b: DataFrame, idCol: String, text: Column,
                             ngramN: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                             hashFn: Column => Column = xxhash,
                             maxBucket: Int = 200): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ba = bandedSignatures(a, idCol, text, ngramN, bands, rowsPerBand, hashFn).persist(lvl)
    val bb = bandedSignatures(b, idCol, text, ngramN, bands, rowsPerBand, hashFn).persist(lvl)
    try {
      // materialize before the persists are released
      crossCandidatePairs(ba, bb, maxBucket).localCheckpoint(true)
    } finally { ba.unpersist(); bb.unpersist(); () }
  }

  /** EXACT n-gram decontamination (the GPT-3/PaLM discipline): flag every
    * corpus doc sharing at least one exact word n-gram with the benchmark
    * set, with the count of distinct shared grams — the strict complement
    * of the fuzzy [[crossMinhashCandidates]] sweep (no banding, no
    * probability: an n-gram either leaks or it doesn't; published
    * pipelines use n ≈ 8–13 so that only real verbatim overlap trips it).
    *
    * 100 TB shape: the benchmark gram set is the SMALL side by
    * construction (benchmarks are thousands of docs; corpora are
    * billions) — it broadcasts, the corpus never shuffles before the
    * per-doc hit count (plan-pinned), and the only aggregation key is the
    * flagged doc id. If the combined benchmark gram set ever outgrows a
    * broadcast, the same plan degrades to a shuffled semi join where
    * Spark's runtime bloom filter prunes the corpus explode (pinned in
    * PlanSpec's bloom test); gram STRINGS are joined — not hashes — so
    * the DuckDB oracle replays the sweep exactly. */
  def ngramContamination(corpus: DataFrame, idCol: String, text: Column,
                         bench: DataFrame, benchText: Column, n: Int): DataFrame = {
    // Round-15: the native distinct-gram expression replaces the
    // declarative split/slice/array_join/array_distinct chain on BOTH
    // sides (one byte walk, one allocation per distinct gram — the
    // chain was measured as the dominant cost of every exact-gram
    // query at the 100× rung). Join keys stay gram STRINGS, so the
    // oracle's gram-text join replays unchanged.
    val bg = bench
      .select(explode(call_function("graft_word_ngrams", benchText, lit(n))).as("g"))
      .distinct()
    corpus
      .select(col(idCol).as("id"),
        explode(call_function("graft_word_ngrams", text, lit(n))).as("g"))
      .join(broadcast(bg), Seq("g"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_hit_grams"))
  }

  /** The lazy A×B pair plan (exposed for plan-shape tests — the public
    * operator checkpoints it eagerly, which hides the plan). */
  private[graft] def crossCandidatePairs(ba: DataFrame, bb: DataFrame,
                                         maxBucket: Int): DataFrame = {
    val keep = ba.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("__na"))
      .join(bb.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("__nb")),
        Seq("band", "bh")) // inner: both sides must populate the bucket
      .filter(col("__na") + col("__nb") <= maxBucket)
      .select("band", "bh")
    ba.join(keep, Seq("band", "bh"))
      .join(bb.select(col("band"), col("bh"), col("id").as("__idb")), Seq("band", "bh"))
      .select(col("id").as("id_a"), col("__idb").as("id_b"))
      .distinct()
  }

  /** Candidate pairs from a banded frame (callers persist `banded` —
    * it is consumed four times here). */
  def candidatePairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    // bucket-frequency cap: count per (band, hash), keep 2..maxBucket
    val keep = banded.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") >= 2 && col("__bsz") <= maxBucket)
      .select("band", "bh")
    val capped = banded.join(keep, Seq("band", "bh"))
    val a = capped.as("a")
    val b = capped.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.bh") === col("b.bh") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Connected components over an undirected edge list `(id_a, id_b)` —
    * the final stage of fuzzy dedup: verified near-dup PAIRS become
    * duplicate CLUSTERS, so one representative per cluster can be kept.
    *
    * Algorithm: min-label propagation with pointer jumping (the
    * MapReduce-CC family of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14). Each round:
    *
    *   1. neighbor min: l(v) ← min(l(v), min over neighbors' labels) —
    *      one shuffle keyed by node id;
    *   2. pointer jump: l(v) ← l(l(v)) — path halving, one self-join.
    *
    * Pointer jumping makes convergence O(log diameter) rounds, not
    * O(diameter) — dup clusters are tiny (diameter ≤ 3 via shared LSH
    * buckets) so 2–3 rounds suffice, but a pathological chain of
    * borderline pairs cannot blow the round count. Every round
    * `localCheckpoint`s the label frame: iterative self-joins otherwise
    * grow the lineage (and the codegen'd plan) exponentially. At 100 TB
    * the same loop writes labels to a PK-bucketed table per round
    * (co-located joins, restartable), and the edge list — already cut to
    * verified pairs — is a sliver of the corpus.
    *
    * Returns `(id, comp)` where `comp` is the minimum id reachable in the
    * component. Nodes absent from `edges` are absent from the result
    * (callers coalesce to self — see [[clusterRepresentatives]]).
    *
    * SMALL-GRAPH FAST PATH: verified near-dup edge lists are usually a
    * sliver of the corpus (pairs survive banding + capping + Jaccard), so
    * when the distinct edge count is at most `driverEdgeThreshold` and the
    * ids are integral, the edges are collected and resolved with one
    * driver-side union-find instead of ~8 Spark jobs of fixed overhead
    * (propagation rounds + convergence checks). Above the threshold — or
    * for non-integral ids — the distributed loop runs unchanged; the two
    * paths are pinned equivalent by a property test. */
  def connectedComponents(edges: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20,
                          driverEdgeThreshold: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = edges.schema(idA).dataType
    val integral = Seq(ByteType, ShortType, IntegerType, LongType).contains(idType) &&
      idType == edges.schema(idB).dataType
    // the directed distinct is computed ONCE and reused by whichever path
    // runs: the fast-path probe reads it (limit bounds only the rows
    // collected, the shuffle is the one distinct pass), and the
    // distributed loop derives its symmetric edge set from it — the
    // probe's work is never thrown away on a large graph
    val distinctEdges = edges.select(col(idA).as("src"), col(idB).as("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (integral && driverEdgeThreshold > 0) {
      val cap = math.min(driverEdgeThreshold + 1, Int.MaxValue.toLong).toInt
      if (distinctEdges.limit(cap).count() <= driverEdgeThreshold)
        try return driverUnionFind(distinctEdges, idType)
        finally { distinctEdges.unpersist(); () }
    }
    // distinctEdges stays persisted until the loop ends: sym materializes
    // lazily, and unpersisting the parent earlier would just force sym's
    // first job to recompute the distinct from raw edges again
    val sym = distinctEdges
      .unionByName(distinctEdges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = sym.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id"))
        .localCheckpoint(true)
      var iter = 0
      var done = false
      while (!done && iter < maxIter) {
        // 1. neighbor min
        val nbrMin = sym
          .join(labels.select(col("id").as("dst"), col("comp").as("__dc")), Seq("dst"))
          .groupBy(col("src").as("id")).agg(min(col("__dc")).as("__nc"))
        val stepped = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), least(col("comp"), coalesce(col("__nc"), col("comp"))).as("comp"))
        // 2. pointer jump: follow the label one hop (comp's own label)
        val jumped = stepped.alias("l")
          .join(stepped.select(col("id").as("comp"), col("comp").as("__pc")), Seq("comp"), "left")
          .select(col("id"), coalesce(col("__pc"), col("comp")).as("comp"))
          .localCheckpoint(true)
        // round 1 always changes something when any non-self edge exists
        // (labels start distinct), so its convergence count is a wasted
        // job — skip it; the worst case (all self-loops) costs one extra
        // cheap round, not correctness
        val changed =
          if (iter == 0) 1L
          else jumped.alias("n")
            .join(labels.select(col("id"), col("comp").as("__old")), Seq("id"))
            .filter(col("comp") =!= col("__old")).limit(1).count()
        labels = jumped
        done = changed == 0
        iter += 1
      }
      labels
    } finally { sym.unpersist(); distinctEdges.unpersist(); () }
  }

  /** Driver-side union-find over a collected edge list — the small-graph
    * fast path of [[connectedComponents]]. Union-by-min-root (the smaller
    * root absorbs the larger) with full path compression on find, so the
    * final root of every tree is the minimum member id — exactly the
    * `comp` contract of the distributed loop. Near-linear for the ≤1 M
    * edges the threshold admits; one collect + one parallelize, zero
    * shuffles. */
  private def driverUnionFind(distinctEdges: DataFrame,
                              idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = distinctEdges.sparkSession
    val collected = distinctEdges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    collected.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val rows = parent.keys.toArray.sorted.map(id => org.apache.spark.sql.Row(id, find(id)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("comp", org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq,
          math.max(1, math.min(spark.sparkContext.defaultParallelism, rows.length / 10000 + 1))),
        schema)
      .select(col("id").cast(idType), col("comp").cast(idType))
  }

  /** Cluster-representative mapping for a corpus: every row of `df` gets
    * `cluster_rep` (the minimum id of its duplicate cluster — itself when
    * it has no verified duplicate) and `cluster_size`. Downstream dedup
    * keeps `id == cluster_rep` rows; the mapping itself is the audit
    * trail of what was dropped and why. */
  def clusterRepresentatives(df: DataFrame, idCol: String,
                             edges: DataFrame): DataFrame = {
    val comp = connectedComponents(edges)
    val withRep = df.select(col(idCol))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("cluster_rep"))
    val sizes = withRep.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
    withRep.join(sizes, Seq("cluster_rep"))
      .select(col(idCol), col("cluster_rep"), col("cluster_size"))
  }

  /** Generic SimHash over word tokens: bit i of the signature is the sign
    * of Σ_tokens (bitOf(hash(token), i) ? +1 : -1). Expressed as nBits
    * shifted bit-sums over exploded tokens — pure aggregates, shuffle
    * keyed by doc id only (the token explode is O(tokens) rows but each
    * row is (id, hash): narrow). */
  def simhashGeneric(df: DataFrame, idCol: String, text: Column, nBits: Int,
                     tokenHash: Column => Column,
                     bitOf: (Column, Int) => Column): DataFrame = {
    val toks = df.select(
      col(idCol).as("id"),
      explode(split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")).as("tok"))
    val h = toks.select(col("id"), tokenHash(col("tok")).as("h"))
    val bitSums = (0 until nBits).map { i =>
      sum(when(bitOf(col("h"), i) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val sums = h.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sigCol = (0 until nBits).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    sums.select(col("id"), sigCol.as("simhash"))
  }

  /** 64-bit SimHash, xxhash64 token hashing — the production/scale path. */
  def simhash64(df: DataFrame, idCol: String, text: Column): DataFrame =
    simhashGeneric(df, idCol, text, 64, xxhash,
      (h, i) => shiftright(h, i).bitwiseAND(1).cast("int"))

  /** 16-bit SimHash with md5-derived bits (bit i = parity of hex digit
    * i+1 of md5(token)) — engine-portable, so the SQL oracle can replay
    * it byte-for-byte. Same aggregation machinery as [[simhash64]]. */
  def simhashMd5_16(df: DataFrame, idCol: String, text: Column): DataFrame =
    simhashGeneric(df, idCol, text, 16, md5Hex,
      (h, i) => contains(lit("13579bdf"), substring(h, i + 1, 1)).cast("int"))

  /** SimHash near-dup pairs from a signature frame `(id, sig)`: split
    * each signature into `bands` contiguous bit blocks and bucket-join on
    * block equality. By pigeonhole, two signatures within Hamming
    * distance `< bands` agree on at least one whole block, so with
    * `maxHamming <= bands - 1` the bucketing is COMPLETE — every
    * qualifying pair is a candidate; the `bit_count(xor)` verify then
    * removes the false positives exactly. Returns
    * `(id_a, id_b, hamming)` with `id_a < id_b`.
    *
    * Same 100 TB shape as MinHash-LSH: block values (nBits/bands wide —
    * 16 bits for the 64/4 default, 65 k buckets) spread the self-join,
    * joins carry `(id, band, block)` only, and `maxBucket` caps
    * degenerate buckets (boilerplate corpora collapse to few signatures;
    * an uncapped bucket of identical sigs goes quadratic). The signature
    * frame is persisted for the duration of the call — it feeds the cap
    * aggregation, both join sides, and the verify. */
  def simhashCandidates(sigs: DataFrame, idCol: String, sigCol: String,
                        nBits: Int = 64, bands: Int = 4, maxHamming: Int = 3,
                        maxBucket: Int = 200): DataFrame = {
    require(nBits % bands == 0, s"bands ($bands) must divide nBits ($nBits)")
    require(maxHamming < bands,
      s"completeness needs maxHamming ($maxHamming) < bands ($bands) — pigeonhole")
    val width = nBits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val s = sigs.select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val banded = s.select(col("id"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("sig"), b * width).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "block")))
      val keep = banded.groupBy(col("band"), col("block"))
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") >= 2 && col("__bsz") <= maxBucket)
        .select("band", "block")
      val capped = banded.join(keep, Seq("band", "block"))
      val pairs = capped.as("a").join(capped.as("b"),
          col("a.band") === col("b.band") && col("a.block") === col("b.block") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      pairs
        .join(s.select(col("id").as("id_a"), col("sig").as("__sa")), Seq("id_a"))
        .join(s.select(col("id").as("id_b"), col("sig").as("__sb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("__sa").bitwiseXOR(col("__sb"))).as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .localCheckpoint(true) // materialize before the persist below is released
    } finally { s.unpersist(); () }
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs (or all
    * pairs of a small frame): |A∩B| / |A∪B| over word n-gram sets.
    * Used to verify LSH candidates — the expensive exact step runs only
    * on the candidate set, not the cross product. */
  def ngramJaccard(df: DataFrame, idCol: String, text: Column, n: Int,
                   candidates: DataFrame): DataFrame = {
    // Deliberately FUSED: grams are projected over the whole corpus and
    // filtered by the candidate joins. The "obvious" optimization —
    // semi-join the corpus down to candidate ids before the gram
    // projection — was MEASURED WORSE at sf0.1 (6.4 s → 11.5 s for the
    // candidate+verify pair): the prune forces the candidate frame to
    // materialize as a barrier and adds exchanges, while the fused gram
    // projection costs ~0.2 s per corpus pass. At corpus ≫ candidate
    // scale the balance flips — there, write the candidate pairs to a
    // table first and prune the corpus scan with a pushed-down id filter
    // (or co-bucket corpus and candidates by id), which removes the
    // barrier rather than adding one.
    //
    // Round-10: HASHES-NOT-TEXT through the two verify joins. The join
    // payload is the sorted distinct 64-bit gram-hash set (one fused
    // native call, `graft_word_ngram_hash_set`) instead of the gram
    // STRING array — ~3-4× fewer shuffle/sort bytes per doc — and the
    // per-pair set algebra is one linear merge count
    // (`graft_sorted_overlap`, |∪| = |A|+|B|−|∩|) instead of two
    // hash-set builds + output arrays (`array_intersect`+`array_union`).
    // Identical Jaccard values to [[ngramJaccardStrings]] absent a
    // 64-bit gram collision inside one pair's union (P ≈ u²/2⁶⁵ per
    // pair; deterministic either way — the hash family is fixed, so the
    // oracle gates would catch any divergence every run, not flake).
    // Equality is spec-pinned pair-for-pair on corpus data.
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    val grams = df.select(col(idCol).as("id"),
      call_function("graft_word_ngram_hash_set", norm, lit(n)).as("g"))
    candidates
      .join(grams.withColumnRenamed("id", "id_a").withColumnRenamed("g", "ga"), Seq("id_a"))
      .join(grams.withColumnRenamed("id", "id_b").withColumnRenamed("g", "gb"), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        round(
          call_function("graft_sorted_overlap", col("ga"), col("gb")).cast("double") /
            greatest(
              size(col("ga")) + size(col("gb")) -
                call_function("graft_sorted_overlap", col("ga"), col("gb")),
              lit(1)),
          6).as("jaccard"))
  }

  /** The portable string-set reference for [[ngramJaccard]] — the exact
    * per-pair `array_intersect`/`array_union` computation over gram
    * TEXT the hashed production path is spec-pinned against (and the
    * shape engine-portable oracles replay). Kept for verification and
    * small frames; at corpus scale prefer [[ngramJaccard]].
    *
    * tokens projected separately so the n-gram lambda reads an
    * attribute (NOT persisted: columnar-caching array<string> columns
    * costs ~50× the recompute — measured 9 s cache build vs 0.2 s
    * evaluation at 10 k docs) */
  def ngramJaccardStrings(df: DataFrame, idCol: String, text: Column, n: Int,
                          candidates: DataFrame): DataFrame = {
    val grams = df.select(col(idCol).as("id"), tokens(text).as("__t"))
      .select(col("id"), ngramsOfTokens(col("__t"), n).as("g"))
    candidates
      .join(grams.withColumnRenamed("id", "id_a").withColumnRenamed("g", "ga"), Seq("id_a"))
      .join(grams.withColumnRenamed("id", "id_b").withColumnRenamed("g", "gb"), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        round(
          size(array_intersect(col("ga"), col("gb"))).cast("double") /
            greatest(size(array_union(col("ga"), col("gb"))), lit(1)),
          6).as("jaccard"))
  }

  /** ASYMMETRIC n-gram containment for candidate pairs — the
    * quote/excerpt/subset detector symmetric Jaccard structurally
    * misses: a short doc fully contained in a long one has
    * |A∩B|/|A∪B| ≈ |A|/|B| (small) but containment |A∩B|/|A| ≈ 1.
    * Emits both directions plus the Jaccard so callers gate on
    * "contained but not near-identical" (high max-containment, low
    * Jaccard). Same fused shape and cost profile as [[ngramJaccard]] —
    * the exact step runs only on candidate pairs. */
  def ngramContainment(df: DataFrame, idCol: String, text: Column, n: Int,
                       candidates: DataFrame): DataFrame = {
    // Same round-10 hashed-set regime as [[ngramJaccard]]: sorted gram-hash
    // sets through the joins, one merge count per pair, every output
    // statistic derived from (|∩|, |A|, |B|). Equality with the string
    // path is covered by the ngramJaccard pin (identical gram sets and
    // overlap machinery; containment is arithmetic on the same counts).
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    val grams = df.select(col(idCol).as("id"),
      call_function("graft_word_ngram_hash_set", norm, lit(n)).as("g"))
    candidates
      .join(grams.withColumnRenamed("id", "id_a").withColumnRenamed("g", "ga"), Seq("id_a"))
      .join(grams.withColumnRenamed("id", "id_b").withColumnRenamed("g", "gb"), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        call_function("graft_sorted_overlap", col("ga"), col("gb")).as("__i"),
        size(col("ga")).as("__na"), size(col("gb")).as("__nb"))
      .select(col("id_a"), col("id_b"),
        round(col("__i").cast("double") / greatest(col("__na"), lit(1)), 6)
          .as("contain_a"),
        round(col("__i").cast("double") / greatest(col("__nb"), lit(1)), 6)
          .as("contain_b"),
        round(col("__i").cast("double") /
          greatest(col("__na") + col("__nb") - col("__i"), lit(1)), 6)
          .as("jaccard"))
  }

  /** MinHash ESTIMATOR-ERROR harness — the dedup family's accuracy twin
    * of the ANN recall harness (`Similarity.annRecallAtK` and siblings):
    * for each banded candidate pair, the k-component signature estimate
    * of Jaccard (matching components / k — Broder's estimator, unbiased
    * with sd √(J(1−J)/k)) side by side with exact n-gram Jaccard and the
    * absolute error. This is the number that justifies every
    * signature-width/band choice in the LSH family: k = 12 predicts
    * sd ≈ 0.14 at J = 0.5, and the harness measures what the corpus
    * actually gets.
    *
    * Cost shape: one signature pass + the exact-Jaccard pass, both only
    * joined against CANDIDATE pairs (∝ candidates, like [[ngramJaccard]]
    * — never all pairs). The signature re-derivation here is deliberate:
    * the banded frame keeps only (band, bh) digests, and widening it to
    * carry raw components would tax the hot dedup path to subsidize a
    * diagnostic. */
  def minhashEstimatorError(df: DataFrame, idCol: String, text: Column,
                            candidates: DataFrame, ngramN: Int = 3, k: Int = 12,
                            hashFn: Column => Column = xxhash): DataFrame = {
    // the shipped hash regimes take the text-direct native signature
    // (bit-parity with the declarative form is spec-pinned; the k-lambda
    // transform tree it replaces was the estimator's dominant cost —
    // k per-gram concat allocations on top of the gram-array build)
    val sigs =
      if (hashFn eq md5Hex)
        df.select(col(idCol).as("id"),
          call_function("graft_md5_minhash_text", text, lit(ngramN), lit(k)).as("sig"))
      else if (hashFn eq xxhash)
        df.select(col(idCol).as("id"),
          call_function("graft_xxhash_minhash_text", text, lit(ngramN), lit(k)).as("sig"))
      else {
        val grams = df.select(col(idCol).as("id"), tokens(text).as("__t"))
          .select(col("id"), ngramsOfTokens(col("__t"), ngramN).as("g"))
        grams.select(col("id"), minhashSignature(col("g"), k, hashFn).as("sig"))
      }
    val est = candidates
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sa")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(
          aggregate(
            zip_with(col("sa"), col("sb"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast("double") / k,
          6).as("est_jaccard"))
    val exact = ngramJaccard(df, idCol, text, ngramN, candidates)
      .withColumnRenamed("jaccard", "exact_jaccard")
    est.join(exact, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("exact_jaccard"),
        round(abs(col("est_jaccard") - col("exact_jaccard")), 6).as("abs_err"))
  }

  /** Detection-accuracy report against PLANTED ground truth — the
    * end-to-end honesty check for the whole LSH chain (the estimator
    * harness above scores the signature; this scores the pipeline):
    * for each named stage's flagged pair set, how many of the known
    * planted near-dup pairs it recovered (`planted_recall` — for
    * candidates this is exactly the banding's detection probability
    * 1−(1−J^r)^b realized on this corpus) and how many OTHER pairs it
    * flagged. Deliberately NOT named "precision": corpora contain
    * natural near-dups beyond the planted ones, so non-planted flags
    * are "other", not "false" — calling them errors would overstate
    * the planted-pair frame.
    *
    * Cost: each stage is two count aggregates (total + planted-join
    * hit count) over pair frames the chain already materialized;
    * `planted` rides broadcast — nothing here rescans the corpus. */
  def detectionReport(planted: DataFrame,
                      stages: Seq[(String, DataFrame)]): DataFrame = {
    // recall's denominator counts the same distinct pairs the hit count
    // joins against: a duplicated planted pair is still one pair
    val plantedPairs = planted.select(col("id_a"), col("id_b")).distinct()
    val nPlanted = plantedPairs.count()
    // one broadcast LEFT join + ONE aggregate per stage (round-16): the
    // previous two-aggregate form (count pairs; count pairs⋈planted)
    // evaluated each stage's `flagged` subtree TWICE in the same plan —
    // for q_dedup_recall's "verified" stage that was the whole
    // ngramJaccard lineage re-executed. The left join tags each flagged
    // pair with planted membership, so both counts fold in a single
    // pass: count(*) = n_flagged exactly (planted pairs are distinct'd,
    // so the join never multiplies rows), count(__p) = n_hit.
    val plantedTag = broadcast(plantedPairs.withColumn("__p", lit(1)))
    stages.map { case (name, flagged) =>
      flagged.select(col("id_a"), col("id_b"))
        .join(plantedTag, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_flagged"), count(col("__p")).as("n_hit"))
        .select(lit(name).as("stage"), lit(nPlanted).as("n_planted"),
          col("n_flagged"), col("n_hit"),
          round(col("n_hit").cast("double") /
            greatest(lit(nPlanted), lit(1L)), 6).as("planted_recall"),
          (col("n_flagged") - col("n_hit")).as("n_other"))
    }.reduce(_.unionByName(_))
  }

  // ---- corpus-level overlap -------------------------------------------

  /** Exact corpus-overlap report between two corpora: distinct word
    * n-gram counts per side, the shared count, and the set Jaccard — the
    * curation dashboard's "how much of corpus B is already in corpus A"
    * number (the set-level complement of pairwise decontamination).
    *
    * One shuffle, keyed by the n-gram with map-side combine: each side's
    * per-doc distinct grams union with presence flags, a single group-by
    * reduces every gram to its two flags, and a global aggregate folds
    * the flags into the four report numbers. The shuffled key space is
    * the distinct gram vocabulary — the honest exact cost; for sketched
    * overlap at a fraction of that traffic see [[corpusOverlapSketch]]. */
  def corpusOverlap(a: DataFrame, b: DataFrame, text: Column, n: Int): DataFrame = {
    def side(df: DataFrame, ia: Int, ib: Int) =
      df.select(explode(wordNgramHashes(text, n)).as("g"))
        .select(col("g"), lit(ia).as("__a"), lit(ib).as("__b"))
    overlapReport(side(a, 1, 0).unionByName(side(b, 0, 1)))
  }

  /** [[corpusOverlap]] for two slices of ONE table, where side membership
    * is a row predicate (`isB`): a single scan and a single gram
    * construction feed both sides — at 100 TB, slice comparisons (by
    * source, by crawl, by time window) are the common case and the
    * two-frame form would read the corpus twice for them. */
  def corpusOverlapBySide(df: DataFrame, isB: Column, text: Column, n: Int): DataFrame =
    overlapReport(
      df.select(isB.cast("int").as("__side"),
          explode(wordNgramHashes(text, n)).as("g"))
        .select(col("g"),
          (lit(1) - col("__side")).as("__a"), col("__side").as("__b")))

  /** 64-bit word-n-gram hashes straight off the normalized bytes — the
    * native [[graft.functions.WordNgramHash]] expression (requires
    * `GraftExtensions`). The report/sketch consumers never need the gram
    * text back, so no token array and no gram string is ever built; the
    * only per-doc allocations are the normalized string and the output
    * long array. Evolution measured at sf0.1 on `q_corpus_overlap`:
    * lambda-recompute 24.6 s → staged projections 11.3 s → hashed-gram
    * shuffle 9.9 s → native span hashing 2.7 s. */
  private def wordNgramHashes(text: Column, n: Int): Column =
    call_function("graft_word_ngram_hash",
      regexp_replace(lower(trim(text)), "\\s+", " "), lit(n))

  /** (g: long gram hash, __a, __b) presence rows → the one-row overlap
    * report. Counts over 64-bit gram hashes, not gram strings: a
    * collision would merge two grams (probability ~n²/2⁶⁵ — ~10⁻⁶ at a
    * 10M-gram vocabulary, count error ±1), the same trade every sketch
    * in this file already makes explicit — and shuffle records are
    * 8-byte longs instead of ~25-byte strings. */
  private def overlapReport(tagged: DataFrame): DataFrame =
    tagged
      .groupBy(col("g"))
      .agg(max(col("__a")).as("in_a"), max(col("__b")).as("in_b"))
      .agg(
        sum(col("in_a")).cast("long").as("n_a"),
        sum(col("in_b")).cast("long").as("n_b"),
        sum(col("in_a") * col("in_b")).cast("long").as("n_common"),
        round(sum(col("in_a") * col("in_b")).cast("double") / count(lit(1)), 6)
          .as("jaccard"))

  /** KMV (k-minimum-values) estimate of [[corpusOverlap]]'s Jaccard —
    * the 100 TB path: each side reduces to its k smallest distinct
    * 64-bit gram hashes (a distinct + per-partition top-k, k rows to the
    * driver — metadata, not data), the union sketch is the k smallest of
    * the merged sets (a KMV closure property), and the estimate is the
    * fraction of union-sketch members present in both sides. Standard
    * error ~1/√k: k = 1024 gives ±3 % — the right trade when the exact
    * vocabulary shuffle is petabyte-scale. Estimator pinned against the
    * exact operator in the spec. */
  def corpusOverlapSketch(a: DataFrame, b: DataFrame, text: Column,
                          n: Int, k: Int): Double = {
    require(k >= 16, s"k=$k too small for a meaningful KMV estimate")
    def kmv(df: DataFrame): Array[Long] =
      df.select(explode(wordNgramHashes(text, n)).as("h")).distinct()
        .orderBy(col("h")).limit(k)
        .collect().map(_.getLong(0))
    val ka = kmv(a)
    val kb = kmv(b)
    val union = (ka ++ kb).distinct.sorted.take(k)
    if (union.isEmpty) return 0.0
    val sa = ka.toSet
    val sb = kb.toSet
    union.count(h => sa(h) && sb(h)).toDouble / union.length
  }

  // ----- exact duplicate-SPAN detection / excision (substring dedup) -----
  //
  // Whole-doc and chunk dedup miss the common web-corpus failure mode:
  // a license header, navigation boilerplate, or quoted passage repeated
  // VERBATIM across otherwise-distinct documents (Lee et al. '22,
  // "Deduplicating Training Data Makes Language Models Better" — their
  // ExactSubstr regime, reference behavior in spirit only; the paper
  // builds a corpus-wide suffix array, which is a single-machine design).
  // The Spark-first equivalent: every word k-gram occurrence is a
  // (hash, doc, pos) row; a k-gram seen at more than one (doc, pos) marks
  // every NON-FIRST occurrence as a duplicate seed; per doc, seed
  // intervals [pos, pos+k-1] merge into maximal covered runs, which are
  // reported ([[duplicateSpans]]) or excised ([[duplicateSpanExcise]]).
  //
  // 100 TB shape: gram hashing is one codegen byte-pass per doc (the
  // native [[graft.functions.WordNgramHash]] span hasher); the
  // corpus-sized gram shuffle carries (8-byte hash, id, int pos) rows —
  // never text; first-vs-rest resolution is a window PARTITIONED BY
  // HASH (high cardinality, never global). The stats report joins pure
  // ints; only the excision's rebuild join moves token arrays, once,
  // and only for AFFECTED docs. Same complexity class as chunk dedup,
  // but positional: overlapping grams chain, so ANY shared run of ≥ k
  // words is caught at every alignment, where fixed chunking misses
  // shifted copies.

  /** Merged-duplicate-run fold over a sorted seed-position array:
    * struct(s = span count, e = last covered index, c = covered tokens).
    * A seed at `p` covers [p, p+k-1]; runs merge when contiguous or
    * overlapping (p <= prev_end + 1). Positions are sorted and k is
    * fixed, so the running end is always the last seed's p+k-1. */
  private def spanFold(ps: Column, k: Int): Column =
    aggregate(
      ps,
      struct(lit(0).as("s"), lit(-2).as("e"), lit(0).as("c")),
      (acc, p) => struct(
        when(p > acc("e") + 1, acc("s") + 1).otherwise(acc("s")).as("s"),
        (p + lit(k) - 1).as("e"),
        (acc("c") + p + lit(k) - 1 - greatest(acc("e"), p - 1)).as("c")))

  /** (id, __t normalized text, __w tokens). */
  private def dupSpanToks(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        regexp_replace(lower(trim(col(textCol))), "\\s+", " ").as("__t"))
      .select(col(idCol), col("__t"), split(col("__t"), " ").as("__w"))

  /** (id, __ps): the sorted non-first duplicate k-gram positions of
    * every affected doc. */
  private def dupSeedPositions(toks: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val grams = toks
      .filter(size(col("__w")) >= k)
      .select(col(idCol),
        posexplode(call_function("graft_word_ngram_hash", col("__t"), lit(k)))
          .as(Seq("__pos", "__h")))
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    grams
      .withColumn("__rk", row_number().over(
        byHash.orderBy(col(idCol), col("__pos"))))
      .withColumn("__c", count(lit(1)).over(byHash))
      .filter(col("__c") > 1 && col("__rk") > 1)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__ps"))
  }

  /** Per-doc duplicate-span report over every document: token count,
    * tokens covered by at least one non-first duplicate k-gram, and the
    * count of maximal covered runs. Docs shorter than k words (including
    * empty text, which tokenizes to one empty word) report zeros.
    * The report join carries only (id, count) ints against (id,
    * positions) — token arrays never enter an exchange here. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    val toks = dupSpanToks(df, idCol, textCol)
    toks.select(col(idCol), size(col("__w")).as("__n"))
      .join(dupSeedPositions(toks, idCol, k), Seq(idCol), "left")
      .withColumn("__f", spanFold(col("__ps"), k))
      .select(col(idCol),
        col("__n").cast("long").as("n_tokens"),
        coalesce(col("__f")("c"), lit(0)).cast("long").as("n_dup_tokens"),
        coalesce(col("__f")("s"), lit(0)).cast("long").as("n_spans"))
  }

  /** Duplicate-span EXCISION: affected docs only, with the covered runs
    * cut out and the survivors rejoined by single spaces. The first
    * occurrence of every duplicated gram (global (id, pos) order) is the
    * keeper, so exactly one copy of each shared passage survives the
    * corpus — the apply half of [[duplicateSpans]], as
    * [[graft.operators.TextAnalysis.chunkDedupApply]] is to chunk
    * detection. The rebuild join moves each AFFECTED doc's tokens once
    * (the inner join prunes clean docs before any token array is
    * shuffled) — the same one-text-move cost class as chunkDedupApply's
    * rebuild. */
  def duplicateSpanExcise(df: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame = {
    val toks = dupSpanToks(df, idCol, textCol)
    spanExcision(toks, idCol, k,
      dupSeedPositions(toks, idCol, k), "inner")
  }

  /** The excision rebuild over (toks ⋈ seed positions). */
  private def spanExcision(toks: DataFrame, idCol: String, k: Int,
                           perDoc: DataFrame, joinType: String): DataFrame = {
    val cov = array_distinct(flatten(
      transform(col("__ps"), p => sequence(p, p + lit(k) - 1))))
    toks.join(perDoc, Seq(idCol), joinType)
      .withColumn("__cov", coalesce(cov, array().cast("array<int>")))
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_tokens"),
        size(col("__cov")).cast("long").as("n_dup_tokens"),
        array_join(
          filter(col("__w"), (x, i) => !array_contains(col("__cov"), i)),
          " ").as("clean_text"))
  }

  /** SPAN-level benchmark decontamination: excise from every corpus doc
    * each run of ≥ k words that appears VERBATIM anywhere in the
    * benchmark — the exact-match complement of the minhash-based
    * [[crossMinhashCandidates]] decontamination (near-dup docs) and the
    * n-gram-overlap report (detection only): this one REWRITES the
    * corpus, and the benchmark always wins (no seniority — a
    * contaminated span is cut even at its corpus-first occurrence).
    *
    * 100 TB shape: the benchmark gram-hash set is benchmark-sized (test
    * sets are small by definition) and BROADCASTS to a left-semi join,
    * so corpus grams never enter an exchange at all — the only shuffle
    * is the contaminated-position rollup, ∝ contamination volume. Every
    * corpus doc comes back (zeros when clean).
    *
    * The broadcast is GUARDED (the hot-bucket-cap precedent): nothing
    * else stops a caller passing a corpus-sized "benchmark", and a
    * blind broadcast of that is a driver/executor OOM. The distinct
    * gram-hash count is measured first (one benchmark-sized pass —
    * cheap next to the corpus scan it protects) and above
    * `maxBroadcastGrams` the semi join switches to the shuffled regime:
    * correctness identical, the corpus gram stream pays one exchange —
    * the honest cost of a benchmark that big. The default of 8 M hashes
    * budgets the MATERIALIZED broadcast HashedRelation, not the 64 MB
    * of raw longs: a LongHashedRelation costs ~3-4× the payload in
    * table+object overhead and lives once per executor plus once on the
    * driver, so ~8 M ≈ 250 MB resident — safe under default 1 GiB
    * driver/executor memory headroom. Raise it only with the memory to
    * back it. */
  def decontaminateSpans(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, k: Int,
                         maxBroadcastGrams: Long = 8000000L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxBroadcastGrams > 0,
      s"maxBroadcastGrams must be positive, got $maxBroadcastGrams")
    val ctoks = dupSpanToks(corpus, idCol, textCol)
    val bgrams = spanGrams(dupSpanToks(bench, idCol, textCol), idCol, k)
      .select(col("__h")).distinct()
      .localCheckpoint(true) // counted AND joined — derive the grams once
    val bcast = bgrams.count() <= maxBroadcastGrams
    // over the cap, the hint PINS the shuffled-hash regime — without it
    // the size-based auto-broadcast would re-make the exact decision
    // this guard exists to overrule
    val seeds = spanGrams(ctoks, idCol, k)
      .join(if (bcast) broadcast(bgrams) else bgrams.hint("shuffle_hash"),
        Seq("__h"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__ps"))
    spanExcision(ctoks, idCol, k, seeds, "left")
  }

  // ----- incremental duplicate-span dedup (batch vs gram store) --------
  //
  // The continuous-ingestion regime of the span family, following
  // [[IncrementalDedup]]'s signature-store design: the accumulated
  // corpus is represented by its gram-hash occurrences on disk,
  // BUCKETED BY HASH so a batch probe reads only the bucket files its
  // own hashes land in (partition-pruned scan, I/O ∝ touched buckets —
  // never ∝ store size); an incoming batch excises every span already
  // seen in the store (the store always wins seniority) plus every
  // non-first occurrence within the batch itself, then appends its own
  // grams. Store rows are (bucket, h, doc_id, pos) — 8-byte hashes and
  // ints, never text, so the store grows ∝ corpus tokens but compresses
  // like the integers it is.
  //
  // The store itself is a [[graft.sinks.SpanGramStore]] — an LSM-lite
  // SEGMENT store with atomic manifest commits: each append writes one
  // immutable bucket-partitioned segment (I/O ∝ batch, nothing
  // re-read), probes prune to the touched buckets across live segments
  // from manifest metadata, and [[spanStoreCompact]] folds the accreted
  // segments back to ~one file per bucket, off the ingest path. Crash/
  // retry contract: the append is an atomic all-or-nothing commit, and
  // a RETRIED batch (its grams already committed by the crashed
  // attempt) excises identically, because store seniority EXCLUDES
  // occurrences from the batch's own doc ids — a doc's earlier
  // committed grams are its own first occurrence, not someone else's
  // seniority. The whole ingest step is therefore idempotent.

  /** Bucket of a 64-bit gram hash (non-negative for any Long). */
  private def gramBucket(h: Column, nBuckets: Int): Column =
    pmod(h, lit(nBuckets.toLong)).cast("int")

  /** (id, __pos, __h) gram occurrences of a batch. */
  private def spanGrams(toks: DataFrame, idCol: String, k: Int): DataFrame =
    toks.filter(size(col("__w")) >= k)
      .select(col(idCol),
        posexplode(call_function("graft_word_ngram_hash", col("__t"), lit(k)))
          .as(Seq("__pos", "__h")))

  /** Append a batch's gram occurrences to the store (created on first
    * use) as one atomically-committed [[graft.sinks.SpanGramStore]]
    * segment, bucketed by hash for probe-side partition pruning.
    *
    * AUTO-COMPACTION: when the append leaves more than `compactAbove`
    * live segments, the accreted store is folded back to one segment
    * inside this call — the growth rung's own operating rule ("compact
    * every ~10–15 batches") enforced by the ingest path instead of
    * remembered by the caller. The fold is a second ordinary manifest
    * commit (crash-safe; a crash between the two leaves a valid
    * uncompacted store the next trigger re-folds). `compactAbove <= 0`
    * disables the trigger for callers scheduling [[spanStoreCompact]]
    * themselves. Returns the stats of the LAST commit this call made.
    *
    * CONCURRENT WRITERS: the manifest protocol arbitrates every commit
    * (exactly one writer wins each version; a losing APPEND throws the
    * replay IOException as always). The auto-fold, though, is
    * maintenance riding on an ingest whose append already committed
    * durably — so a fold that loses its version slot to a concurrent
    * writer is swallowed (logged, append stats returned) rather than
    * failing the call: the store stays valid and the NEXT
    * threshold-crossing ingest re-folds. Durability note for external
    * holders of UNcheckpointed probe frames: GC retains the segments of
    * the two newest manifests, so a fold-triggering ingest (append +
    * fold = TWO manifest versions in one call) consumes the whole
    * documented one-later-commit probe-durability window at once —
    * checkpoint probe results before any later ingest, as
    * [[duplicateSpanExciseIncremental]] itself does. */
  def spanStoreAppend(df: DataFrame, idCol: String, textCol: String,
                      k: Int, storePath: String, nBuckets: Int,
                      compactAbove: Int = 16): graft.sinks.SpanGramStore.CommitStats = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val stats = graft.sinks.SpanGramStore.append(
      spanGrams(dupSpanToks(df, idCol, textCol), idCol, k)
        .select(gramBucket(col("__h"), nBuckets).as("bucket"),
          col("__h"), col(idCol).as("doc_id"), col("__pos")),
      storePath, nBuckets)
    if (compactAbove > 0 && stats.nSegments > compactAbove)
      try graft.sinks.SpanGramStore.compact(df.sparkSession, storePath)
      catch { case scala.util.control.NonFatal(e) =>
        // the append above IS committed — a fold that lost its version
        // slot to a concurrent writer must not fail the ingest; the next
        // threshold-crossing call re-folds
        System.err.println(s"[graft] span-store auto-fold skipped " +
          s"(concurrent commit won the version slot): ${e.getMessage}")
        stats
      }
    else stats
  }

  /** Fold the store's accreted segments into one (~one file per bucket)
    * — the maintenance half of the append/compact split; schedule off
    * the ingest path ([[graft.sinks.SpanGramStore.compact]]). */
  def spanStoreCompact(spark: org.apache.spark.sql.SparkSession,
                       storePath: String): graft.sinks.SpanGramStore.CommitStats =
    graft.sinks.SpanGramStore.compact(spark, storePath)

  /** Excise an incoming batch against the accumulated store: a batch
    * gram is a duplicate seed when its hash exists in the store from a
    * doc OUTSIDE the batch (any foreign store occurrence is senior to
    * the whole batch) OR it is a non-first occurrence within the batch.
    * Returns every batch doc (zeros when clean) and appends the batch's
    * grams to the store as one atomic segment commit. The store read is
    * pruned to the buckets the batch's own hashes occupy.
    *
    * IDEMPOTENT under replay: excluding the batch's own doc ids from
    * seniority means a retried batch whose grams were already committed
    * by a crashed earlier attempt excises exactly as the first attempt
    * did (its own history is its own first occurrence), and re-appending
    * is harmless duplicate metadata that [[spanStoreCompact]] does not
    * need to dedup (the probe is an existence test).
    *
    * `compactAbove` is [[spanStoreAppend]]'s auto-compaction threshold:
    * the ingest call itself folds the store when its live segment count
    * crosses it, so continuous ingestion never accretes an unbounded
    * small-file ramp (disable with `compactAbove <= 0` to schedule
    * [[spanStoreCompact]] externally). Safe here by construction — the
    * returned frame's seeds are checkpointed before the append, so a
    * same-call compaction cannot invalidate them. */
  def duplicateSpanExciseIncremental(df: DataFrame, idCol: String,
                                     textCol: String, k: Int,
                                     storePath: String, nBuckets: Int,
                                     compactAbove: Int = 16): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    import graft.sinks.SpanGramStore
    val spark = df.sparkSession
    val toks = dupSpanToks(df, idCol, textCol)
    val grams = spanGrams(toks, idCol, k)
    val batchBuckets = grams
      .select(gramBucket(col("__h"), nBuckets).as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSet // ≤ nBuckets ints — metadata
    val storeHashes =
      if (batchBuckets.isEmpty || !SpanGramStore.exists(spark, storePath)) null
      else SpanGramStore.probe(spark, storePath, batchBuckets)
        .select(col("__h"), col("doc_id"))
        .join(df.select(col(idCol).as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .select(col("__h"))
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    val ranked = grams
      .withColumn("__rk", row_number().over(
        byHash.orderBy(col(idCol), col("__pos"))))
    val seeds =
      (if (storeHashes == null) ranked.filter(col("__rk") > 1)
       else ranked.join(storeHashes.distinct().withColumn("__hit", lit(1)),
           Seq("__h"), "left")
         .filter(col("__rk") > 1 || col("__hit").isNotNull))
        .groupBy(col(idCol))
        .agg(sort_array(collect_list(col("__pos"))).as("__ps"))
        // MATERIALIZE before the append below (the probeCandidates
        // checkpoint-before-append rule). Segment immutability makes the
        // pruned probe re-readable across ONE later commit, but only one
        // — and a FOLD-TRIGGERING ingest is two commits in one call, so
        // that window can be consumed by a single later append
        // — the returned frame must stay valid however long the caller
        // holds it, through any number of later appends/compactions that
        // GC the segments this probe planned against.
        .localCheckpoint(true)
    val out = spanExcision(toks, idCol, k, seeds, "left")
    spanStoreAppend(df, idCol, textCol, k, storePath, nBuckets, compactAbove)
    out
  }
}

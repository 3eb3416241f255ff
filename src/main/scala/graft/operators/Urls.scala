package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL curation operators — the provenance-side filters every web-scale
  * training pipeline runs before a byte of text is scored (C4 §2.2 keeps
  * a blocklist; Dolma and RefinedWeb cap per-domain volume and dedup on
  * canonical URLs).
  *
  *   - [[normalize]]: canonical URL key for dedup/blocking — scheme and
  *     fragment dropped, host lowercased, `www.` and default ports
  *     stripped, tracking query parameters (utm_*, fbclid, gclid, ref)
  *     removed, trailing path slashes trimmed;
  *   - [[registeredDomain]]: the blocklist/cap grouping key — the
  *     pay-level domain under the bundled [[PublicSuffixes]] snapshot
  *     (every publicsuffix.org rule shape: 2-/3-/4-label suffixes,
  *     wildcards under a 1-/2-/3-label base, exceptions);
  *   - [[urlCurate]]: blocklist + per-domain cap → a keep flag per row.
  *
  * Everything is per-row string/regex work (codegen'd, zero shuffle)
  * except the per-domain cap, which is a rank window PARTITIONED BY
  * registered domain — never global. Regexes stay in the RE2-safe
  * subset (character classes, anchors, alternation — no lookaround), so
  * any engine replays them; the q_pii_redact precedent.
  *
  * 100 TB note: the cap window ranks every row of a hot domain even
  * though only the first `maxPerDomain` matter. When one domain is a
  * double-digit share of the corpus, pre-filter with an approximate
  * per-domain count (the [[HeavyHitters]] sketch) and exempt the cold
  * tail from the window — same two-regime trade as the skew-join loop.
  */
object Urls {

  /** Tracking-parameter pattern (anchored at the key): the utm_* family
    * plus the common click/referrer ids. */
  private val trackingParam = "^(utm_[a-zA-Z]+|fbclid|gclid|ref)="

  /** Canonical URL key. Scheme-insensitive (http/https/none identical),
    * fragment-free, host lowercased with `www.` and `:80`/`:443`
    * dropped, tracking params removed (other params kept IN ORDER),
    * trailing path slashes trimmed. Path case is preserved (paths are
    * case-sensitive per RFC 3986; only the authority is folded). */
  def normalize(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "#.*$", "")
    val noScheme = regexp_replace(noFrag, "^[Hh][Tt][Tt][Pp][Ss]?://", "")
    val rawHost = regexp_extract(noScheme, "^[^/?]+", 0)
    val host = regexp_replace(
      regexp_replace(lower(rawHost), "^www\\.", ""), ":(80|443)$", "")
    val rest = noScheme.substr(length(rawHost) + 1, lit(1 << 20))
    val path = regexp_replace(regexp_extract(rest, "^[^?]*", 0), "/+$", "")
    val query = regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    val kept = filter(split(query, "&"),
      p => length(p) > 0 && !p.rlike(trackingParam))
    concat(host, path,
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
        .otherwise(lit("")))
  }

  /** Registered ("pay-level") domain of a lowercased host, per the
    * bundled [[PublicSuffixes]] rule set, PSL match order: exception
    * hosts (`!www.ck`, `!city.kawasaki.jp`) are themselves registered
    * domains and beat every other rule; otherwise the LONGEST matching
    * suffix prevails — a listed k-label suffix, or a wildcard under a
    * (k−1)-label base (`*.ck`, `*.kawasaki.jp`,
    * `*.compute.amazonaws.com`), both make the public suffix k labels
    * and the registered domain k+1; everything else takes the default
    * last 2. A host that IS a public suffix, and single-label hosts
    * (localhost, bare names), pass through unchanged. */
  def registeredDomain(host: Column): Column = {
    val parts = split(host, "\\.")
    val n = size(parts)
    def lastK(k: Int): Column =
      concat_ws(".", (k to 1 by -1).map(i => element_at(parts, -i)): _*)
    // literal rule sets fold to hash-set membership; an EMPTY set must
    // fold to false (isin() over zero values is not a match-nothing)
    def in(c: Column, xs: Seq[String]): Column =
      if (xs.isEmpty) lit(false) else c.isin(xs: _*)
    val last2 = lastK(2)
    val last3 = lastK(3)
    when(n >= 2 && in(last2, PublicSuffixes.exceptions2), last2)
      .when(n >= 3 && in(last3, PublicSuffixes.exceptions3), last3)
      .when((n >= 4 && in(lastK(4), PublicSuffixes.suffixes4)) ||
          (n >= 4 && in(last3, PublicSuffixes.wildcardBases3)),
        when(n >= 5, lastK(5)).otherwise(host))
      .when((n >= 3 && in(last3, PublicSuffixes.suffixes3)) ||
          (n >= 3 && in(last2, PublicSuffixes.wildcardBases2)),
        when(n >= 4, lastK(4)).otherwise(host))
      .when(in(element_at(parts, -1), PublicSuffixes.wildcardTlds),
        when(n >= 3, lastK(3)).otherwise(host))
      .when(n >= 2 && in(last2, PublicSuffixes.suffixes2),
        when(n >= 3, lastK(3)).otherwise(host))
      .when(n >= 2, last2)
      .otherwise(host)
  }

  /** (id, url_norm, domain) — the shared first stage of both curation
    * regimes. */
  private def withDomain(df: DataFrame, idCol: String, urlCol: Column): DataFrame =
    df.select(col(idCol), normalize(urlCol).as("url_norm"))
      .withColumn("domain",
        registeredDomain(regexp_extract(col("url_norm"), "^[^/?]+", 0)))

  /** Blocklist + per-domain cap over a URL column: every row comes back
    * with its canonical URL, registered domain, and a keep flag — kept
    * iff the domain is not blocked AND the row ranks within the first
    * `maxPerDomain` of its domain (rank by `idCol`, deterministic).
    * Flagging instead of filtering keeps the decision auditable — the
    * drop reason is recoverable from (blocked-membership, rank). */
  def urlCurate(df: DataFrame, idCol: String, urlCol: Column,
                blocked: Seq[String], maxPerDomain: Int): DataFrame = {
    require(maxPerDomain > 0, s"maxPerDomain must be positive, got $maxPerDomain")
    curateFromDom(withDomain(df, idCol, urlCol), idCol, blocked, maxPerDomain)
  }

  /** The plain single-regime cap over an already-normalized
    * (id, url_norm, domain) frame — shared by [[urlCurate]] and
    * [[urlCurateHot]]'s no-hot-domain fallback (which feeds it the
    * checkpointed sliver instead of re-deriving the regex chain). */
  private def curateFromDom(dom: DataFrame, idCol: String,
                            blocked: Seq[String], maxPerDomain: Int): DataFrame = {
    val byDomain = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col(idCol))
    dom.withColumn("__rk", row_number().over(byDomain))
      .select(col(idCol), col("url_norm"), col("domain"),
        (!col("domain").isin(blocked: _*) && col("__rk") <= maxPerDomain)
          .as("keep"))
  }

  /** [[urlCurate]] with the SKEW-AWARE two-regime cap window the 100 TB
    * note above prescribes — the q_skew_join_auto diagnose→derive→apply
    * loop applied to the cap: a mega-domain holding a double-digit share
    * of the corpus would otherwise funnel its every row through ONE
    * rank-window partition (the straggler/OOM shape at scale).
    *
    * Diagnose: one Misra–Gries pass over the domain stream (the native
    * partial/merge aggregate — ≤ `hhK` counters per partial buffer, a
    * guaranteed superset of every domain with share > 1/(hhK+1)), then
    * an exact recount of the ≤ hhK candidates. HOT = above the MG
    * guarantee line AND over the cap (an under-cap domain needs no
    * ranking however popular). The hot set is ≤ hhK literal names —
    * driver metadata, baked into the plan as map-side filters.
    *
    * Apply: the COLD tail — every domain provably under N/(hhK+1) rows,
    * so its window partition is bounded — takes the plain
    * domain-partitioned rank, unchanged. HOT rows take a TWO-STAGE
    * rank: stage 1 partitions by (domain, slice) — the slice a
    * DETERMINISTIC hash of the row id, so both consumers of the sliced
    * frame agree on it by construction — and keeps each slice's first
    * `maxPerDomain` rows — lossless, because a row ranked past the cap
    * within its own slice already has ≥ cap smaller-id rows in its
    * domain — and stage 2 ranks only the ≤ cap × nSlices survivors per
    * domain exactly. No task ever sees more than a slice of a
    * mega-domain.
    *
    * Rows and flags are IDENTICAL to [[urlCurate]] — the slice id never
    * reaches the result; stage 2 re-ranks deterministically by `idCol`.
    * Only the shuffle topology changes. */
  def urlCurateHot(df: DataFrame, idCol: String, urlCol: Column,
                   blocked: Seq[String], maxPerDomain: Int,
                   hhK: Int = 256): DataFrame = {
    require(maxPerDomain > 0, s"maxPerDomain must be positive, got $maxPerDomain")
    require(hhK > 0, s"hhK must be positive, got $hhK")
    // the normalized sliver feeds FOUR consumers (MG diagnose, the
    // candidate recount, the cold branch, the hot branch): cache it so
    // the per-row regex chain runs ONE pass over the corpus (the
    // diagnose head() below materializes every block). persist, NOT
    // localCheckpoint: cached blocks keep their lineage, so an executor
    // loss (or memory-pressure eviction — MEMORY_AND_DISK spills rather
    // than pinning executor memory at the 100 TB operating point)
    // RECOMPUTES instead of failing the query. Correctness never rests
    // on the cache: the deterministic __salt below makes every branch
    // row-identical under recompute by construction. Registered in the
    // bounded [[graft.core.SliverCache]] FIFO — NOT unpersisted at
    // return: this sliver is the ROOT of the returned flag query's
    // lineage (and of every flagship stage composed on top of it), and
    // an exit-time unpersist made each downstream stage re-derive the
    // regex chain (measured 10x on q_web_pipeline_v2). The FIFO caps
    // session-wide accumulation instead.
    val dom = graft.core.SliverCache.persistBounded(
      withDomain(df, idCol, urlCol))
    val head = dom.agg(count(lit(1)).as("n"),
        call_function("graft_misra_gries", col("domain"), lit(hhK)).as("cands"))
      .head() // one row, ≤ hhK short strings — metadata
    val total = head.getLong(0)
    val cands = if (head.isNullAt(1)) Seq.empty[String] else head.getSeq[String](1)
    val hot: Seq[String] =
      if (cands.isEmpty) Nil
      else dom.filter(col("domain").isin(cands: _*))
        .groupBy(col("domain")).agg(count(lit(1)).as("c"))
        .filter(col("c") * lit(hhK + 1L) > lit(total) &&
          col("c") > lit(maxPerDomain.toLong))
        .collect().map(_.getString(0)).toSeq // ≤ hhK strings
    if (hot.isEmpty)
      return curateFromDom(dom, idCol, blocked, maxPerDomain)
    def keepFlag(rk: Column): Column =
      (!col("domain").isin(blocked: _*) && rk <= maxPerDomain).as("keep")
    val outCols = Seq(col(idCol), col("url_norm"), col("domain"))
    val byDomain = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col(idCol))
    val cold = dom.filter(!col("domain").isin(hot: _*))
      .withColumn("__rk", row_number().over(byDomain))
      .select(outCols :+ keepFlag(col("__rk")): _*)
    // deterministic slice id (a pure function of the row, NOT
    // spark_partition_id): the survivor/loser branches below must agree
    // on __r1 row-for-row whatever the physical plan does
    val nSlices =
      math.max(df.sparkSession.sessionState.conf.numShufflePartitions, 2)
    val sliced = dom.filter(col("domain").isin(hot: _*))
      .withColumn("__salt",
        pmod(xxhash64(col(idCol)), lit(nSlices.toLong)).cast("int"))
      .withColumn("__r1", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("domain"), col("__salt")).orderBy(col(idCol))))
    val hotRanked = sliced.filter(col("__r1") <= maxPerDomain)
      .withColumn("__rk", row_number().over(byDomain))
      .select(outCols :+ keepFlag(col("__rk")): _*)
    val hotDropped = sliced.filter(col("__r1") > maxPerDomain)
      .select(outCols :+ lit(false).as("keep"): _*)
    cold.unionByName(hotRanked).unionByName(hotDropped)
  }

  /** [[urlCurate]] with the cap DERIVED from the corpus's own
    * domain-size distribution instead of hand-picked: cap = the size of
    * the domain at rank ceil(pct·n_domains) — "trim every outsized
    * domain down to a typical large domain's volume" (the Dolma/C4 cap
    * rule, calibrated the way the skew-join loop derives its salt
    * factor from the diagnosed skew). Derivation runs the SKETCH path
    * (`percentile_approx` over the per-domain counts — a partial/merge
    * aggregate, no global sort; at accuracy ≥ n it selects exactly the
    * ceil(pct·n)-th datum, the pinned sketch-equals-exact-rank
    * property), then one scalar rides into the flag query. The counts
    * frame is domain-cardinality-sized — the one-row collect is
    * metadata, not data. */
  def urlCurateAuto(df: DataFrame, idCol: String, urlCol: Column,
                    blocked: Seq[String], pct: Double = 0.9): DataFrame = {
    require(pct > 0 && pct <= 1, s"pct must be in (0,1], got $pct")
    // two consumers of the normalized sliver (the cap derivation and
    // the flag query) — cache it, the same fault-tolerant compute-once
    // move as [[urlCurateHot]] (persist keeps lineage; the head() below
    // materializes), so the regex chain runs ONE corpus pass. Same
    // bounded-FIFO registration, same no-exit-unpersist rationale.
    val dom = graft.core.SliverCache.persistBounded(
      withDomain(df, idCol, urlCol))
    val row = dom
      .groupBy(col("domain")).agg(count(lit(1)).as("c"))
      .agg(percentile_approx(col("c"), lit(pct), lit(1000000)).as("cap"))
      .head()
    // an empty corpus aggregates to one NULL row — there is no
    // distribution to derive a cap from, so default to 1 (every
    // first-of-domain row keeps; there are none) instead of NPE-ing
    val cap = if (row.isNullAt(0)) 1L else row.getLong(0)
    curateFromDom(dom, idCol, blocked, math.max(cap, 1L).toInt)
  }
}

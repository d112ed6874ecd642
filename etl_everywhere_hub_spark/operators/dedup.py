"""Deduplication operators for LLM-corpus pipelines (SURVEY.md §2.B).

Scale posture: every operator here is a composition of explode /
groupBy / equi-join — all hash-shuffle linear in corpus size except
candidate verification, which is bounded by the LSH collision rate,
never by |corpus|². The only quadratic path (`ngram_jaccard_pairs`
without blocking) exists as the small-scale oracle for the LSH path.

Hashes are md5-derived (functions.hashing) so every signature is
bit-reproducible across engines and runs — no seed drift between
the production path and the correctness oracle.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_everywhere_hub_spark.functions.hashing import md5_long
from etl_everywhere_hub_spark.functions.text import shingles, tokens
from etl_everywhere_hub_spark.operators.lineage import truncate


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per distinct text, keeping the smallest id.

    Equivalent to hash-groupBy on sha2(text); we group on the text
    itself (same shuffle, no collision risk) — at 100 TB you'd group on
    sha2 to shrink shuffle keys, which `fingerprint_dedup` does.
    """
    return (
        df.groupBy(F.col(text_col))
        .agg(F.min(F.col(id_col)).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, text_col, "n_copies")
    )


def fingerprint_dedup(df: DataFrame, fingerprint_col, id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per fingerprint (hash-key shuffle, 16-byte keys)."""
    w = Window.partitionBy(fingerprint_col).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp", fingerprint_col)
        .withColumn("__rn", F.row_number().over(Window.partitionBy("__fp").orderBy(F.col(id_col).asc())))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def doc_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingle) rows, distinct per doc — the inverted-index input.

    Tokenization is materialized as its own projection FIRST: a lambda
    that closes over split(text) makes Catalyst re-evaluate the split
    per array element (O(words²) per doc — measured 9s vs <1s on the
    sf0.1 corpus).
    """
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    n = F.size(F.col("__toks"))
    sh = F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, k)),
        )
    )
    return toks.select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))


# Affine MinHash family over the Mersenne prime 2^31-1: seed s maps a
# base hash h to (A[s]·h + B[s]) mod P. One md5 per shingle (the base),
# then each extra hash function is two integer ops — 8× fewer md5
# evaluations than hashing (shingle|seed) per seed, all inside codegen,
# and portable: the same arithmetic runs verbatim in the oracle SQL.
MINHASH_P = 2_147_483_647
MINHASH_A = [1_103_515_245, 1_299_709, 15_485_863, 32_452_843,
             49_979_687, 67_867_967, 86_028_121, 104_395_301]
MINHASH_B = [12_345, 217_645_199, 413_158_511, 613_651_349,
             817_504_243, 1_025_610_421, 1_236_794_689, 1_451_730_233]


def minhash_signatures(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
) -> DataFrame:
    """Wide MinHash signature per doc: columns m0..m{n-1}, where
    m_s = min over shingles of (A[s]·(md5int(shingle) mod P) + B[s]) mod P.

    P(min collides) = Jaccard per hash function. All mins are agg
    columns of ONE groupBy(id) — no seed explode, map-side partial
    combine, and the shuffle carries one row per doc instead of
    num_hashes × shingles rows (measured ~2× on the sf0.1 corpus vs
    the long-form explode + (id, seed) groupBy it replaces)."""
    assert num_hashes <= len(MINHASH_A)
    base = sh.select(
        F.col(id_col), (md5_long(F.col("shingle")) % MINHASH_P).alias("h0")
    )
    return base.groupBy(id_col).agg(
        *[
            F.min((F.col("h0") * MINHASH_A[s] + MINHASH_B[s]) % MINHASH_P).alias(
                f"m{s}"
            )
            for s in range(num_hashes)
        ]
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
    oversized_star_pairs: bool = False,
) -> DataFrame:
    """Band the signature (rows = num_hashes/bands) and self-join on
    (band, band_key). Returns distinct candidate (a < b) pairs.

    The self-join is on a high-cardinality hash key: collisions only
    for near-identical docs, so output ~ O(#near-dup pairs).

    ``max_bucket_size`` is the skew guard for duplicate-heavy corpora:
    a real crawl has boilerplate clusters of 1e4-1e6 near-identical
    docs, which land in ONE (band, band_key) bucket and would shuffle
    m^2 candidate pairs into a single task. With the cap set, buckets
    larger than the cap are EXCLUDED from the self-join IN-PLAN: a
    window count over the same (band, band_key) partitioning the join
    shuffles on anyway (no extra exchange, nothing on the critical
    path — round 11; the previous eager accounting collect serialized
    a whole extra pipeline materialization, ~30% of q41's bench
    wall). The drop accounting is still NEVER silent: the exact
    bucket/row aggregate runs as a CONCURRENT background job and
    WARNs the moment it lands — ``await_cap_accounting()`` joins it
    (tests; production log ordering is best-effort by design). Exact
    duplicates should be pre-collapsed first (``minhash_near_dup``'s
    ``collapse_exact``), which is lossless; the cap then only fires
    on adversarial NEAR-identical clusters. Default None preserves
    exact oracle semantics.

    Recall under the cap (measured, round 11 — LSHCAP_r11.json): a
    cluster big enough to flood a bucket floods EVERY band's bucket
    (the docs are near-identical), so the "remaining bands" recover
    only stragglers whose doc-unique shingle won a band minimum —
    pair-level recall on the adversarial fixture is ~1e-3, NOT the
    comfortable fraction the round-8 docstring implied.
    ``oversized_star_pairs=True`` is the production fix: each
    oversized bucket's members are emitted as a STAR around the
    bucket's minimum id (O(m) pairs instead of the suppressed O(m^2)),
    so downstream exact-Jaccard verification + connected-components
    still merge the whole cluster — CONNECTIVITY recall returns to
    100% on the adversarial fixture (asserted in tests/test_lsh_cap.py)
    while emission stays linear. A false-positive bucket member only
    costs its own O(m) verification rows; a member whose star edge
    fails verification drops out exactly as a banding miss would.
    Default False preserves the oracle contract (q41 pins capped ==
    uncapped on organic fixtures).
    """
    rows_per_band = num_hashes // bands
    # Band key = md5 of the band's minhashes in SEED order, computed
    # directly from the wide signature columns (no collect_list, no
    # second shuffle) — identical bytes to the oracle's
    # string_agg(minhash, '|' ORDER BY seed).
    # (round 12: expr strings, not Column-by-Column construction — see
    # minhash_near_dup; same expressions, one py4j round trip each)
    band_structs = ", ".join(
        f"struct({b} AS band, md5(concat_ws('|', "
        + ", ".join(
            f"cast(m{s} AS string)"
            for s in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        + ")) AS band_key)"
        for b in range(bands)
    )
    band_keys = sigs.selectExpr(
        f"`{id_col}`", f"explode(array({band_structs})) AS bb"
    ).selectExpr(f"`{id_col}`", "bb.band AS band", "bb.band_key AS band_key")
    star = None
    if max_bucket_size is not None:
        # in-plan capping (round 11): the bucket size is a window
        # count over EXACTLY the keys the self-join shuffles on, so
        # capping and star construction ride the pipeline pass the
        # join needs anyway — no persist, no accounting job on the
        # CRITICAL PATH (the previous eager collect serialized a
        # whole extra pipeline materialization in front of every
        # capped query, ~30% of q41's bench wall). The drop
        # accounting is still never silent: the same aggregate runs
        # as a CONCURRENT background job (same CPU the old eager form
        # spent, now overlapped) and emits the WARNING the moment it
        # lands — ``await_cap_accounting()`` joins it (tests;
        # production ordering is best-effort by design, the numbers
        # are exact). An ``observe()`` node would be free-er still,
        # but Spark 4.1.2's Observation breaks when the observed
        # subtree feeds a self-join (toPyRow assertion on the
        # twice-collected metrics row) — probed round 11.
        win = "OVER (PARTITION BY band, band_key)"
        cols = ["*", f"count(1) {win} AS __bn"]
        if oversized_star_pairs:
            # both window exprs share one partitioning -> one Window
            # node (CollapseWindow), exactly as the withColumn form
            cols.append(f"min(`{id_col}`) {win} AS __c")
        bkw = band_keys.selectExpr(*cols)
        if oversized_star_pairs:
            # O(m) star per oversized bucket around its min id:
            # downstream verify + connected components re-merge the
            # whole cluster while emission stays linear
            star = bkw.filter(
                f"__bn > {max_bucket_size} AND `{id_col}` != __c"
            ).selectExpr(
                f"least(`{id_col}`, __c) AS a",
                f"greatest(`{id_col}`, __c) AS b",
            )
        _spawn_cap_accounting_logger(
            band_keys, max_bucket_size, oversized_star_pairs
        )
        kept = bkw.filter(f"__bn <= {max_bucket_size}")
        a = kept.selectExpr(f"`{id_col}` AS a", "band", "band_key")
        b = kept.selectExpr(f"`{id_col}` AS b", "band", "band_key")
    else:
        a = band_keys.selectExpr(f"`{id_col}` AS a", "band", "band_key")
        b = band_keys.selectExpr(f"`{id_col}` AS b", "band", "band_key")
    pairs = (
        a.join(b, on=["band", "band_key"])
        .filter("a < b")
        .select("a", "b")
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


_CAP_LOG_THREADS: list = []


def _spawn_cap_accounting_logger(
    band_keys: DataFrame, cap: int, star_mode: bool
) -> None:
    """Run the drop-accounting aggregate as a CONCURRENT Spark job
    (same CPU the old serialized-eager form spent, now overlapped
    with the caller's main action) and WARN with exact bucket/row
    counts if anything was dropped. Daemon thread; concurrent jobs in
    one session are a supported Spark pattern (FIFO scheduler)."""
    import threading

    def _log() -> None:
        try:
            dropped = (
                band_keys.groupBy("band", "band_key")
                .agg(F.count(F.lit(1)).alias("__bn"))
                .filter(F.col("__bn") > cap)
                .agg(
                    F.count(F.lit(1)).alias("nb"),
                    F.sum("__bn").alias("nrows"),
                    F.max("__bn").alias("mx"),
                )
                .collect()[0]
            )
        except Exception as exc:  # noqa: BLE001 — e.g. session torn down
            # Never swallow silently: the whole point of this job is
            # that a cap drop is never unaccounted. If the accounting
            # itself fails, say so.
            logging.getLogger(__name__).warning(
                "lsh_candidate_pairs: cap drop-accounting job failed "
                "(%s: %s); over-cap buckets this call were still %s, "
                "but exact drop counts are unavailable",
                type(exc).__name__, exc,
                "star-repaired" if star_mode else "truncated",
            )
            return
        if dropped["nb"]:
            logging.getLogger(__name__).warning(
                "lsh_candidate_pairs: dropping %d band bucket(s) over "
                "cap=%d (%d member rows, largest bucket=%d); %s",
                dropped["nb"], cap, dropped["nrows"], dropped["mx"],
                "emitting star pairs for their members"
                if star_mode
                else "near-dup recall for those clusters falls to the "
                "remaining bands (straggler-level — see docstring)",
            )

    # prune finished threads so a long-lived session never accumulates
    # dead Thread objects
    _CAP_LOG_THREADS[:] = [t for t in _CAP_LOG_THREADS if t.is_alive()]
    t = threading.Thread(target=_log, daemon=True, name="lsh-cap-accounting")
    t.start()
    _CAP_LOG_THREADS.append(t)


def await_cap_accounting(timeout: float = 30.0) -> None:
    """Join pending cap-accounting logger threads (tests call this
    inside their caplog context; production ordering is best-effort)."""
    for t in list(_CAP_LOG_THREADS):
        t.join(timeout)
        if not t.is_alive():
            _CAP_LOG_THREADS.remove(t)


def exact_jaccard(
    sh: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact shingle-set Jaccard per candidate pair via inverted index.

    With ``pairs`` given (LSH candidates) this verifies only those;
    without, it computes all pairs sharing ≥1 shingle (the oracle path
    — use only with a blocking filter at scale).
    """
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    if pairs is not None:
        # Candidate-first: restrict each side to docs that appear in a
        # candidate pair BEFORE the shingle self-join, so intersection
        # cost is bounded by LSH collisions, not corpus pair density.
        a = a.join(pairs.select("a").distinct(), on="a", how="left_semi")
        b = b.join(pairs.select("b").distinct(), on="b", how="left_semi")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if pairs is not None:
        inter = inter.join(pairs, on=["a", "b"], how="left_semi")
    sa = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
    )


def minhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
    collapse_exact: bool = False,
    max_bucket_size: int | None = None,
    oversized_star_pairs: bool = False,
) -> DataFrame:
    """Full MinHash→LSH→verify near-dup pipeline.

    Returns (a, b, jaccard) pairs with exact jaccard ≥ threshold among
    LSH candidates. Recall is the LSH S-curve at (bands, rows); the
    verification step makes precision exact.

    ``collapse_exact=True`` is the LOSSLESS skew guard for
    duplicate-heavy corpora: docs with identical TEXT collapse to one
    representative BEFORE tokenization (a crawl's 10^4-copy
    boilerplate cluster becomes ONE row through shingling, signing and
    banding), and pairs expand back afterwards — cross-group pairs
    inherit the representatives' exact jaccard (jaccard is a function
    of the text alone), within-group pairs are jaccard 1.0 by
    definition. Output is identical to the uncollapsed form. The
    collapse is ONE groupBy on md5(text) whose map-side partial
    aggregation collapses each partition's copies before the exchange
    — the shuffle shrinks exactly when duplication is heavy, and all
    per-doc CPU (shingles, signatures) runs once per DISTINCT text.
    The membership list per group lives in one array row (fine to
    ~10^6-copy clusters; beyond that, keep the representative pairs
    and the membership map separate instead of expanding).
    ``max_bucket_size`` guards the residual NEAR-identical clusters
    (see ``lsh_candidate_pairs``) — unlike the collapse it bounds
    recall, so it logs what it drops.

    The pipeline builds ONE per-document frame — id, member list (with
    the collapse), distinct shingle array, base hashes, shingle count
    — and materializes it once through ``lineage.truncate``, the
    reliable checkpoint when a checkpoint directory is set. Everything
    downstream reads that frame: the signatures (map-side
    array_min(transform(...)), no explode and no groupBy), the band
    keys and the cap accounting, both verification joins (map-side
    size(array_intersect) over the arrays attached to each candidate
    pair), the member expansion and the within-group pairs. Reading a
    truncated frame instead of a lazily persisted one also keeps the
    parallel branches from racing to fill the same cache (which
    re-ran the upstream DAG), and the downstream plans no longer
    embed the per-document subtree.
    """
    # All the heavy per-doc work (shingling, md5, minhash transforms)
    # is map-side, so its parallelism is the partition count of the
    # rows it reads.
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    keep = [f"`{id_col}`"]
    if collapse_exact:
        # ONE groupBy on the 16-byte text fingerprint, BEFORE any
        # tokenization: partial aggregation collapses each partition's
        # copies map-side, the min-id row becomes the representative,
        # and the member list rides along for the expansion at the end.
        # Round 12: the pipeline's projections are built as SINGLE
        # SQL-expression strings instead of Column-by-Column API calls.
        # Semantics are identical (same analyzed expressions — the
        # whole q41 output is pinned bit-identical under the oracle);
        # what changes is DRIVER cost: every Column call is a py4j
        # round trip, and this operator built several hundred of them
        # per invocation. On a host with non-trivial py4j latency the
        # construction dominated the bench's timed region (measured:
        # q41 build 0.71 s of a 1.24 s min; expr-string form cut the
        # full query 2.06 -> 1.52 s min, same-session alternating A/B).
        df = (
            df.groupBy(F.expr(f"md5(`{text_col}`) AS __gk"))
            .agg(
                F.expr(f"min(struct(`{id_col}`, `{text_col}`)) AS __rt"),
                F.expr(f"sort_array(collect_list(`{id_col}`)) AS __members"),
            )
            .selectExpr(
                f"__rt.`{id_col}` AS `{id_col}`",
                f"__rt.`{text_col}` AS `{text_col}`",
                "__members",
            )
        )
        keep.append("__members")
        # AQE sizes the collapse's output partitions for its cheap rows
        # (advisory-size coalescing): below ~advisory x cores bytes of
        # distinct text the shingling would run on a handful of tasks,
        # on ONE at fixture scale. Re-spread on the id to the session's
        # shuffle partitioning (at least one partition per core), which
        # AQE leaves as it is.
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        df = df.repartition(max(cores, parts), id_col)
    else:
        # The rows come straight from the scan. A small corpus arrives
        # as one parquet split — spread it across the cluster first. At
        # scale the scan already has >= cores partitions and this is a
        # no-op (no shuffle inserted). Split count is the driver-side
        # estimate (catalog.estimated_scan_splits); non-file-scan
        # inputs count as at-scale and skip the spread.
        from etl_everywhere_hub_spark.catalog import estimated_scan_splits

        if estimated_scan_splits(df) < cores:
            df = df.repartition(cores, id_col)
    docs = truncate(
        # split on the single-space separator — the expr twin of
        # functions.text.tokens (pinned equivalent in tests)
        df.selectExpr(*keep, f"split(`{text_col}`, ' ') AS __toks")
        # a doc has a shingle iff it has >= k tokens; docs without one
        # never pair, and with the collapse this also drops their
        # groups from the member expansion below. Filtering on the
        # token count (not on the shingle array's size) keeps the
        # pushed-down predicate cheap: Catalyst pushes it below the
        # spread exchange, where a shingle-size predicate would build
        # every shingle array twice.
        .filter(f"size(__toks) >= {k}")
        .selectExpr(
            *keep,
            f"array_distinct(transform(sequence(1, size(__toks) - {k - 1}), "
            f"i -> concat_ws(' ', slice(__toks, i, {k})))) AS sh",
        )
        .selectExpr(
            *keep,
            "sh",
            # expr twin of functions.hashing.md5_long(s) % MINHASH_P
            f"transform(sh, s -> cast(conv(substring(md5(cast(s AS binary)),"
            f" 1, 15), 16, 10) AS bigint) % {MINHASH_P}L) AS h0s",
            "size(sh) AS n_sh",
        )
    )
    sigs = docs.selectExpr(
        f"`{id_col}`",
        *[
            f"array_min(transform(h0s, h -> (h * {MINHASH_A[s]}L"
            f" + {MINHASH_B[s]}L) % {MINHASH_P}L)) AS m{s}"
            for s in range(num_hashes)
        ],
    )
    cands = lsh_candidate_pairs(
        sigs, id_col, num_hashes, bands, max_bucket_size=max_bucket_size,
        oversized_star_pairs=oversized_star_pairs,
    )
    # Verification is MAP-SIDE set intersection (round-9, VERDICT r8
    # item #4): docs already holds each doc's DISTINCT shingle array,
    # so attaching both sides' arrays to the candidate pairs (two equi
    # joins on the truncated docs; AQE broadcasts the pair side — it
    # is O(true near-dup pairs), not corpus-sized) and taking
    # size(array_intersect) computes the exact Jaccard with ZERO
    # additional shuffles. This replaces the inverted-index explode →
    # shingle self-join → pair groupBy → sizes re-aggregation cascade
    # (6 exchanges + a second persist) the oracle comparison flagged
    # at 3.0× paired. The inverted-index path survives in
    # ``exact_jaccard`` for callers that start from exploded shingles
    # (q40's all-pairs oracle); for LSH-bounded candidate sets the
    # array join shuffles at most the candidate docs' arrays — the
    # same bytes the explode path shuffled as individual rows.
    da = docs.selectExpr(f"`{id_col}` AS a", "sh AS __sha", "n_sh AS __na")
    db = docs.selectExpr(f"`{id_col}` AS b", "sh AS __shb", "n_sh AS __nb")
    verified = (
        cands.join(da, "a")
        .join(db, "b")
        .selectExpr(
            "a",
            "b",
            "size(array_intersect(__sha, __shb)) / "
            "(__na + __nb - size(array_intersect(__sha, __shb))) AS jaccard",
        )
        .filter(f"jaccard >= cast({threshold!r} AS double)")
    )
    if not collapse_exact:
        return verified
    # Expand representative pairs back to member pairs. The joins are
    # equi joins on the representative id (verified is pair-sized —
    # tiny — so they broadcast); within-group pairs explode straight
    # out of the member arrays. The fan-out is exactly the true answer
    # size (near-dup output over a duplicate cluster IS quadratic in
    # the cluster — callers wanting cluster-sized output should stop
    # at the representative pairs + the membership map in ``docs``).
    mem = docs.selectExpr(f"`{id_col}` AS __rep", "explode(__members) AS __mid")
    cross = (
        verified.join(mem.selectExpr("__rep AS a", "__mid AS ma"), "a")
        .join(mem.selectExpr("__rep AS b", "__mid AS mb"), "b")
        .selectExpr("least(ma, mb) AS a", "greatest(ma, mb) AS b", "jaccard")
    )
    within = (
        docs.filter("size(__members) >= 2")
        .selectExpr("explode(__members) AS a", "__members")
        .selectExpr("a", "explode(__members) AS b")
        .filter("a < b")
        .selectExpr("a", "b", "cast(1.0 AS double) AS jaccard")
    )
    if threshold > 1.0:
        within = within.filter(F.lit(False))
    return cross.unionByName(within)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """Per-doc SimHash over tokens: bit j of md5-int(token) votes ±1;
    sign of the vote sum becomes bit j of the signature.

    One explode (tokens) and ONE groupBy(id): each bit's vote sum is
    its own agg column (bit index is a literal, so every shift/mask is
    codegen'd), and the signature is assembled from the 'bits' wide
    columns in a final select. The shuffle carries one row per doc —
    not tokens × bits rows like the explode(bit) form it replaces.
    32 bits keeps the signature in a BIGINT portably.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    tok = tok.withColumn("h", md5_long(F.col("tok")))
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(
                f"v{j}"
            )
            for j in range(bits)
        ]
    )
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else sig + term
    return votes.select(F.col(id_col), sig.alias("simhash"))


def prefix_filter_jaccard_pairs(
    items: DataFrame,
    id_col: str = "doc",
    item_col: str = "tok",
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT set-Jaccard >= threshold pairs via prefix filtering
    (the PPJoin family) — the scale-true exact alternative to MinHash:
    no false negatives, no signature approximation. ``items`` is a
    distinct (id, item) inverted-index relation (tokens, shingles —
    caller's choice; use shingles on low-vocabulary corpora, where
    token sets are too coarse to discriminate).

    Prefix-filter lemma: order every doc's distinct items by a global
    total order (rarest first: ascending corpus df, item as
    tiebreak). If J(A,B) >= t then A and B must share an item within
    each other's first |X| - ceil(t*|X|) + 1 items, so candidate
    generation joins only on PREFIX items — rare by construction —
    instead of all items. Work is sum over prefix items of
    (docs-per-item choose 2); the frequent items that would explode
    a naive inverted-index join never enter a prefix. Verification
    computes the exact intersection over candidates only.

    Integer-only comparison: J >= t checked as 100*inter >= t_pct*union
    (threshold in hundredths) — no float division in the filter.
    """
    t_pct = int(round(threshold * 100))
    toks = items.select(
        F.col(id_col).alias("doc"), F.col(item_col).alias("tok")
    ).distinct()
    # corpus df per item — vocabulary-sized aggregate
    tok_df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(tok_df, "tok")
    w_doc = Window.partitionBy("doc").orderBy(F.col("df").asc(), F.col("tok").asc())
    sized = ranked.withColumn("rn", F.row_number().over(w_doc)).withColumn(
        "sz", F.count(F.lit(1)).over(Window.partitionBy("doc"))
    )
    # prefix length = sz - ceil(t*sz) + 1, integer-exact:
    # ceil(t_pct*sz/100) = (t_pct*sz + 99) div 100
    prefix = sized.filter(
        F.col("rn") <= F.col("sz") - F.expr(f"({t_pct} * sz + 99) div 100") + 1
    ).select("doc", "tok", "sz")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    ta = toks.select(F.col("doc").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc").alias("doc_b"), "tok")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn("un", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .filter(100 * F.col("inter") >= t_pct * F.col("un"))
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("un").cast("bigint").alias("un"),
            (F.col("inter") * 1.0 / F.col("un")).alias("jaccard"),
        )
    )


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-level exact-substring duplicate spans — the ExactSubstr
    posture of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (arXiv:2107.06499) — re-expressed as hash equi-joins
    instead of a suffix array. Every length-``window`` token run that
    occurs >= ``min_count`` times ANYWHERE in the corpus (across docs
    or repeated within one) marks its token interval as duplicated;
    overlapping/adjacent marks merge per doc into maximal spans.

    Scale shape (the reason this beats a distributed suffix array at
    100 TB): window hashing is pure map-side — one ``transform`` over
    the token array and one explode, NO join; the occurrence count is
    a single groupBy on the window hash (map-side partial counts
    apply); the span merge is one window function partitioned by doc.
    For duplicated runs of length L >= window the reformulation is
    lossless: a fully duplicated run contains only duplicated
    W-windows, and merging their overlapping [s, s+W-1] marks
    reconstructs [runstart, runend] exactly. Runs shorter than
    ``window`` are below the match threshold by definition (the paper
    uses 50 BPE tokens; the W here plays that role).

    Returns one row per maximal duplicated span:
    (id_col, span_start, span_end) — 0-based inclusive token indexes.
    """
    w = window
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
    wins = (
        toks.filter(F.size("toks") >= w)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - w),
                    lambda i: F.struct(
                        i.cast("long").alias("s"),
                        F.md5(
                            F.concat_ws(" ", F.slice("toks", i + 1, w))
                        ).alias("h"),
                    ),
                )
            ).alias("win"),
        )
        .select(id_col, F.col("win.s").alias("s"), F.col("win.h").alias("h"))
    )
    dup_h = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("h")
    )
    marked = wins.join(dup_h, "h").select(
        id_col, "s", (F.col("s") + (w - 1)).alias("e")
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_isl = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        marked.withColumn("prev_e", F.max("e").over(w_run))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_e").isNull() | (F.col("s") > F.col("prev_e") + 1), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(w_isl))
        .groupBy(id_col, "island")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            F.max("e").cast("long").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def strip_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply ``exact_substring_spans`` output: drop every token inside
    a duplicated span and reassemble the surviving text order-exactly
    (the q135 md5-proof pattern). Map-side after ONE shuffle join of
    the per-doc span lists back onto the docs; the per-token span
    membership test is an array ``exists`` over the doc's own spans —
    no token-level shuffle.

    Returns (id_col, n_tokens, n_spans, dup_tokens, clean_md5) where
    clean_md5 = md5 of the space-rejoined surviving tokens (md5('') if
    the whole doc was duplicated).
    """
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
    sp = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            )
        ).alias("spans")
    )
    joined = toks.join(sp, id_col, "left").withColumn(
        "spans",
        F.coalesce(
            F.col("spans"),
            F.array().cast("array<struct<s:bigint,e:bigint>>"),
        ),
    )
    kept = F.filter(
        F.transform(
            F.col("toks"),
            lambda x, i: F.struct(i.cast("long").alias("i"), x.alias("x")),
        ),
        lambda p: ~F.exists(
            F.col("spans"),
            lambda s: (p["i"] >= s["s"]) & (p["i"] <= s["e"]),
        ),
    )
    return joined.select(
        id_col,
        F.size("toks").cast("long").alias("n_tokens"),
        F.size("spans").cast("long").alias("n_spans"),
        F.aggregate(
            "spans",
            F.lit(0).cast("long"),
            lambda acc, s: acc + (s["e"] - s["s"] + F.lit(1)),
        ).alias("dup_tokens"),
        F.md5(F.concat_ws(" ", F.transform(kept, lambda p: p["x"]))).alias(
            "clean_md5"
        ),
    )

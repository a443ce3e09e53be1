"""Near-duplicate detection: shingling, MinHash + LSH banding, SimHash,
n-gram Jaccard.

Design for 100 TB:
- Never all-pairs. LSH banding reduces candidate generation to a
  self-equi-join on ``(band_idx, band_key)`` — a hash shuffle on a
  well-distributed key, linear in corpus size; only candidates pay the
  exact-verification cost.
- Signatures are narrow projections (codegen'd md5/xxhash min-reduces);
  no Python in the loop.
- The md5-string MinHash construction (min over hex digests of
  seed-salted shingles) is deliberately *portable*: the DuckDB oracle
  can compute bit-identical signatures, so even the LSH pipeline is
  hash-checkable, not just "rows look plausible".

SimHash uses Spark's ``xxhash64`` (64-bit) — cheap and good, but
engine-specific, so its oracle is a weaker rows-only check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from event_streaming_toy_example_spark.caching import track
from event_streaming_toy_example_spark.functions.text import normalize_text, tokens


def token_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles (word n-grams) of the normalized text.
    A document shorter than k tokens contributes its full token-join as
    the single shingle (so it still participates)."""
    toks = tokens(normalize_text(text))
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, k), " ")
    )
    return F.array_distinct(grams)


def shingle_array(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles as a per-row array — fully row-local
    (no window, no repartition, no distinct exchange), so an
    ``explode`` of this column keeps the corpus scan shuffle-free.
    Prefer this form when downstream does NOT need an id-partitioned
    shingle table (e.g. a broadcast membership join); ``shingle_rows``
    keeps the windowed form whose id-shuffle is deliberately reused by
    the per-id signature aggregations (measured trade-off in its
    docstring).

    Construction (round-12 optimization, guide §4.1): overlapping
    k-grams are extracted straight off the NORMALIZED text with one
    ``regexp_extract_all`` lookahead — ``(?:^|\\s)(?=(\\S+ ... \\S+))``
    matches at each token start and the lookahead group captures the
    k tokens without consuming them.  The previous arrays_zip-of-
    shifted-slices + ``transform`` lambda build evaluated interpreted
    (higher-order lambdas sit outside whole-stage codegen) and
    measured 2x slower end-to-end (2.99 s vs 1.48 s exploding the
    sf0.1 corpus); the regex form is pure codegen.  Array contents AND
    element order are bit-identical (first-occurrence order from
    ``array_distinct`` either way; normalized text is single-spaced so
    token starts are exactly ``^|\\s`` boundaries).

    Shingle set is identical to ``token_shingles``/``shingle_rows``:
    positions 0..max(n-k, 0); docs shorter than k tokens (no k-gram
    match — the empty-grams arm) contribute their full token join,
    which on normalized text IS the text itself; a token-less doc
    contributes one empty shingle, matching the SQL twin exactly."""
    norm = normalize_text(text)
    pat = r"(?:^|\s)(?=(" + r" ".join([r"\S+"] * k) + r"))"
    grams = F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), 1))
    return F.when(F.size(grams) == 0, F.array(norm)).otherwise(grams)


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """Portable MinHash: element ``i`` of the signature is
    ``min(md5(i || ':' || shingle))`` over the shingle set — min over
    hex strings is a valid uniform min-hash (md5 is uniform on the hex
    lexicographic order) and computes identically in any engine with
    ``md5``. Returns an array<string> of length ``num_hashes``."""
    # NB: single-arg lambdas only — PySpark treats a 2-arg lambda in
    # ``transform`` as (element, index), which would shadow the seed.
    def hash_i(i: int):
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))

    return F.array(
        *[F.array_min(F.transform(shingles, hash_i(i))) for i in range(num_hashes)]
    )


def shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    extra_cols: list[str] | None = None,
    distinct: bool = True,
) -> DataFrame:
    """One row per (id, k-token shingle) — the fastest measured form
    *in full-query context* (interleaved medians of the whole
    MinHash-LSH query at sf0.1):
    - single ``lead()`` window (this version): 1.46 s
    - two windows (extra ``count`` window for the length filter): 1.65 s
    - shuffle-free ``arrays_zip`` of shifted ``slice``s: 2.99 s — wins
      standalone (0.4 s vs 0.7 s) but loses end-to-end, because the
      window's hash-shuffle on ``id`` is *reused* by every downstream
      per-id aggregation/join (exchange reuse beats shuffle avoidance
      when the consumer needs that partitioning anyway);
    - higher-order ``transform``/``slice`` array build: ~10 s
      (interpreted, not codegen'd).

    Shingle set is identical to ``token_shingles``: positions
    0..max(n-k, 0); short docs contribute their full token join as a
    single shingle (``concat_ws`` skips null leads; the ``pos == 0``
    arm of the filter keeps exactly that one row)."""
    from pyspark.sql import Window

    extra = extra_cols or []
    # Spread the explode fan-out across cores: the input is narrow (a
    # single parquet row-group locally; a few dense files at scale).
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.repartition(par).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra],
        F.posexplode(F.split(normalize_text(F.col(text_col)), " ")).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.lead("tok", i).over(w).alias(f"l{i}") for i in range(1, k)]
    # a full shingle has all k tokens (last lead non-null); pos 0
    # survives always so a short doc yields its full-text shingle
    keep = (
        (F.col("pos") == 0) | F.col(f"l{k - 1}").isNotNull()
        if k > 1
        else F.lit(True)
    )
    out = (
        base.select("id", *extra, "pos", "tok", *leads)
        .where(keep)
        .select(
            "id",
            *extra,
            F.concat_ws(
                " ", "tok", *[f"l{i}" for i in range(1, k)]
            ).alias("shingle"),
        )
    )
    return out.distinct() if distinct else out


def minhash_signatures_agg(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures via explode + hash-aggregate: one md5 per
    (shingle, hash-fn), one partial-aggregatable ``min`` per signature
    slot. This is the scale path — the array-expression variant
    (``minhash_signature``) inlines the shingle computation into every
    slot (Catalyst collapses projections), multiplying regex/parse work
    by ``num_hashes``; the explode form computes each shingle exactly
    once and reduces map-side. (``min`` is duplicate-insensitive, so no
    distinct pass is needed.) Returns ``id, sig_0..sig_{H-1}``.

    ``shingles`` lets a caller that also needs the shingle table (e.g.
    for exact-Jaccard verification) compute it once, persist it, and
    share it — otherwise it is derived here."""
    exploded = (
        shingles
        if shingles is not None
        else shingle_rows(df, id_col, text_col, k, distinct=False)
    )
    hashed = exploded.select(
        "id",
        *[
            F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    return hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"sig_{i}") for i in range(num_hashes)]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH candidate pairs: shingle -> signature (explode+agg)
    -> band -> self-join on band key -> distinct (a, b) with a < b.

    Explode + hash-agg + one self-equi-join (hash shuffle on band_key).
    No cross join anywhere.
    """
    rows_per_band = num_hashes // num_bands
    sig_df = minhash_signatures_agg(df, id_col, text_col, k, num_hashes, shingles)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.concat_ws(
                "|",
                *[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)],
            ).alias("band_key"),
        )
        for b in range(num_bands)
    ]
    banded = sig_df.select(
        "id", F.explode(F.array(*band_structs)).alias("b")
    ).select("id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"))
    # Both sides of the self-join share this lineage; without a persist
    # the whole shingle->md5->aggregate pipeline executes twice (2x the
    # query's cost at any scale). MEMORY_AND_DISK spills gracefully when
    # the signature table outgrows executor memory.
    banded = track(banded.persist())
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return pairs


def jaccard_similarity(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays (portable:
    list_intersect/list_distinct exist in DuckDB)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within blocking groups.

    Implementation is the inverted-index form, not a quadratic block
    scan: explode distinct shingles, self-equi-join on
    ``(block, shingle)`` to count intersections (only co-occurring
    pairs materialize — a pair with zero shared shingles costs
    nothing and cannot pass any threshold > 0), then join per-doc
    set sizes for |A ∪ B| = |A| + |B| − |A ∩ B|. Work is proportional
    to Σ-per-shingle-pairs, bounded by block sizes; ``block_cols``
    (e.g. ``["lang"]``) double as the skew bound. For unblocked scale
    use ``minhash_lsh_candidates`` first and verify only candidates.

    Requires ``threshold > 0`` (zero-overlap pairs are never emitted).
    """
    block_cols = block_cols or []
    sh = track(shingle_rows(df, id_col, text_col, k, extra_cols=block_cols).cache())
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    l, r = sh.alias("l"), sh.alias("r")
    cond = (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.id") < F.col("r.id"))
    for c in block_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    inter = (
        l.join(r, cond)
        .groupBy(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            *[F.col(f"l.{c}").alias(c) for c in block_cols],
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            *block_cols,
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """UNBLOCKED exact Jaccard pairs via prefix filtering (the
    PPJoin/AllPairs family) — the scale path when no blocking column
    exists and LSH's approximation is unwanted.

    The filter: sort every document's shingle set by one GLOBAL order
    (ascending corpus frequency — rarest first, the order that makes
    prefixes selective) and index only the first
    ``|d| - ceil(t*|d|) + 1`` shingles.  Any pair with Jaccard >= t
    must overlap in at least ``ceil(t*max(|a|,|b|))`` shingles, and two
    sorted sets with that much overlap must share an indexed prefix
    element — so the candidate join touches prefixes only, and rare
    shingles dominate them.  Candidates are then verified EXACTLY with
    a row-local ``array_intersect`` over the pair's full shingle
    arrays (never a second corpus-wide join).

    Cost anatomy at 100 TB: one frequency aggregate on the shingle key
    (partial-combine bounded by vocabulary), one id-partitioned window
    to rank (its exchange is reused by the set-size count on the same
    key), a prefix-key equi-join whose fan-out the frequency order
    minimizes, and per-candidate array verification.  The frequent-
    shingle skew the inverted-index form suffers is exactly what the
    prefix cut removes: a stopword shingle ranks last and never enters
    an index prefix at any realistic threshold.

    Epsilon inside the ceil guards float fuzz in ``t*|d|`` — rounding
    UP would shorten the prefix and could silently drop a true pair
    (shorter prefix = fewer candidates = false negatives; the epsilon
    errs toward a longer prefix, which costs candidates, not recall).
    """
    from pyspark.sql import Window

    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = track(shingle_rows(df, id_col, text_col, k).cache())
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_freq"))
    ranked = (
        sh.join(freq, "shingle")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy("df_freq", "shingle")
            ),
        )
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    prefix_len = (
        F.col("sz")
        - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)).cast("int")
        + 1
    )
    pref = ranked.where(F.col("rn") <= prefix_len).select("id", "shingle")
    cand = (
        pref.alias("l")
        .join(
            pref.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    arrs = sh.groupBy("id").agg(
        F.collect_list("shingle").alias("sh_arr"),
        F.count(F.lit(1)).alias("sz"),
    )
    a = arrs.select(
        F.col("id").alias("id_a"),
        F.col("sh_arr").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    b = arrs.select(
        F.col("id").alias("id_b"),
        F.col("sh_arr").alias("sh_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = F.round(inter / (F.col("sz_a") + F.col("sz_b") - inter), 6)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash64(text: Column, k: int = 3) -> Column:
    """64-bit SimHash over token shingles using ``xxhash64`` (fast
    path; engine-specific so oracle-checked rows-only).

    bit_j(simhash) = sign of sum over shingles of (+1 if bit_j(hash)
    else -1) — computed as 64 aggregate terms over the shingle array,
    still a narrow projection."""
    sh = token_shingles(text, k)
    h = F.transform(sh, lambda s: F.xxhash64(s))

    def vote_j(j: int):
        mask = F.shiftleft(F.lit(1).cast("long"), j)
        return lambda acc, x: acc + F.when(x.bitwiseAND(mask) != 0, 1).otherwise(-1)

    bits = []
    for j in range(64):
        votes = F.aggregate(h, F.lit(0).cast("long"), vote_j(j))
        bits.append(F.when(votes > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (popcount of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    bits: int = 48,
) -> DataFrame:
    """Portable SimHash signatures (md5-derived bits, so the DuckDB
    oracle computes identical values): per-shingle hash = first
    ``bits/4`` hex chars of md5 as an integer; bit_j(sig) = 1 iff the
    sum over shingles of (+1 if bit_j(h) else -1) is positive.

    Scale shape: explode + ONE hash aggregation with ``bits`` sum
    columns — partial-aggregatable map-side, unlike the column-
    expression ``simhash64`` (64 interpreted array-aggregates per row).
    Returns ``id, sig``."""
    import functools
    import operator

    sh = shingle_rows(df, id_col, text_col, k, distinct=True)
    h = F.conv(F.substring(F.md5(F.col("shingle")), 1, bits // 4), 16, 10).cast(
        "long"
    )
    # Vote via branch-free per-bit POPCOUNT sums plus one shared count:
    # sum over shingles of (+1 if bit else -1) > 0  ⟺  2·popcount_j > n,
    # so the 48 conditional (+1/-1) sums become 48 plain sums of
    # (h >> j) & 1 — no per-row branch in any aggregate lane (measured
    # 1.25 s -> 0.84 s for the signature stage at sf0.1, bit-identical
    # signatures; round 12, guide §1.2 "per-task work").
    votes = sh.select("id", h.alias("h")).groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1))
            ).alias(f"v{j}")
            for j in range(bits)
        ],
    )
    # disjoint powers of two -> plain sum assembles the signature
    sig = functools.reduce(
        operator.add,
        [
            F.when(
                2 * F.col(f"v{j}") > F.col("n"),
                F.lit(1 << j).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for j in range(bits)
        ],
    )
    return votes.select("id", sig.alias("sig"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    num_blocks: int = 4,
    bits: int = 48,
) -> DataFrame:
    """SimHash near-dup candidates via the classic block-permutation
    trick: split the signature into ``num_blocks`` blocks; any pair
    within Hamming distance < num_blocks shares at least one exact
    block (pigeonhole) -> self-equi-join per block, then exact Hamming
    verification. No cross join. Uses the portable md5 signatures so
    results are oracle-checkable."""
    width = bits // num_blocks
    sig = simhash_signatures(df, id_col, text_col, bits=bits).select("id", "sig")
    blocks = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftrightunsigned(F.col("sig"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block_val"),
                    )
                    for i in range(num_blocks)
                ]
            )
        ).alias("b"),
    ).select("id", "sig", "b.block_idx", "b.block_val")
    # both self-join sides share this lineage — persist or the whole
    # signature pipeline runs twice
    blocks = track(blocks.persist())
    l, r = blocks.alias("l"), blocks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.block_idx") == F.col("r.block_idx"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming64(F.col("l.sig"), F.col("r.sig")).alias("hamming"),
        )
        # filter BEFORE the dedup shuffle: a pair matching in m blocks
        # appears m times, so the distinct's exchange should only carry
        # pairs that already passed the Hamming gate
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )

"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup — each built
from shuffles that scale: shingle explosion is reduced by map-side
combine before any exchange, candidate generation is an equi-join on
band/bucket keys (never an all-pairs cross join), and verification
runs only on candidate pairs.

Hash functions are md5-derived (portable across engines for oracle
checking) rather than Spark's xxhash64 (engine-specific).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skysafe_datalake_spark.functions.text import words


def spread_to_cores(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition ahead of row-multiplying work (explode + hash).

    A small input (one parquet split) would otherwise pin the whole
    explode/hash pipeline to a single task — the per-doc work is
    CPU-bound, so parallelism should follow cores, not input bytes.
    Cost is one shuffle of the *compact* pre-explosion rows, which is
    negligible next to the exploded stream it unlocks. On a real
    cluster with many input splits this is a near-no-op
    rebalancing."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        # File count from the scan's listing — no .rdd conversion
        # (which builds a whole Python-deserializer plan just to read
        # a partition count). Non-file-backed plans report [] and
        # take the repartition, which is the safe default for them.
        n_inputs = len(df.inputFiles())
    except Exception:
        n_inputs = 0
    if n_inputs >= target:
        return df
    return df.repartition(target, F.col(id_col))


def explode_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, shingle) rows via explode(sequence) + substring — stays
    in WholeStageCodegen. ~12x faster than building a per-doc shingle
    array with higher-order functions (interpreted, allocation-heavy)
    and exploding it."""
    return (
        spread_to_cores(df.select(F.col(id_col), F.lower(F.col(text_col)).alias("_lt")), id_col)
        .filter(F.length("_lt") >= k)
        .select(
            F.col(id_col),
            F.col("_lt"),
            F.explode(F.sequence(F.lit(1), F.length("_lt") - (k - 1))).alias("_i"),
        )
        .select(F.col(id_col), F.expr(f"substring(_lt, _i, {k})").alias("sh"))
    )


def exact_dedup(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Exact dedup via hash-groupBy: one canonical (min-id) row per
    key, with the duplicate count. Deterministic — unlike
    dropDuplicates, which keeps an arbitrary row."""
    return (
        df.select(key.alias("_key"), F.col(id_col))
        .groupBy("_key")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .drop("_key")
    )


def _hash16(col: Column) -> Column:
    """First 16 bits of md5 as a bigint (portable: DuckDB twin is
    CAST('0x' || substr(md5(x),1,4) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("bigint")


def _hash_bits(col: Column, n_bits: int) -> Column:
    """First ``n_bits`` of md5 as a bigint, 4 bits per hex char
    (n_bits must be a multiple of 4, at most 60 so the value fits a
    signed bigint). DuckDB twin: CAST('0x' || substr(md5(x),1,k) AS
    BIGINT) with k = n_bits/4."""
    if n_bits % 4 != 0 or not 4 <= n_bits <= 60:
        raise ValueError(f"n_bits must be a multiple of 4 in [4,60], got {n_bits}")
    return F.conv(F.substring(F.md5(col), 1, n_bits // 4), 16, 10).cast("bigint")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash signatures over character shingles.

    Hash family: two md5 digests per shingle (md5('a|'+s), md5('b|'+s))
    concatenated to 64 hex chars and cut into ``n_hashes`` disjoint
    8-hex (32-bit) slices, each parsed to a bigint; sig_i = min over
    shingles of slice i. Disjoint md5 bytes are independent uniform
    hashes, so this is a proper minhash family at a quarter of the
    digest cost of md5(i||s) per permutation. Numeric min over the
    parsed 32-bit values == lexicographic min over the fixed-width
    hex — and bigint agg buffers keep the aggregation in
    HashAggregate (min over *string* slices falls back to
    SortAggregate, which sorts the entire exploded shingle stream
    per task before combining).

    Exploding shingles multiplies rows by ~|text|, but the groupBy's
    map-side partial aggregation collapses them back to one
    n_hashes-wide row per document before the shuffle, so exchange
    volume is O(|docs| · n_hashes), independent of text length.
    """
    if n_hashes > 8:
        raise ValueError("n_hashes > 8 requires a third digest (64 hex / 8)")
    # No shingle dedup: min over a multiset == min over its set, so
    # skipping dropDuplicates removes an entire 1-row-per-shingle
    # shuffle — the groupBy partial-aggregates the exploded rows
    # map-side straight down to n_hashes values per doc.
    exploded = explode_shingles(df, id_col, text_col, shingle_k)
    digest = F.concat(
        F.md5(F.concat(F.lit("a|"), F.col("sh"))),
        F.md5(F.concat(F.lit("b|"), F.col("sh"))),
    )
    with_digest = exploded.select(F.col(id_col), digest.alias("h"))
    aggs = [
        F.min(
            F.conv(F.substring(F.col("h"), 1 + 8 * i, 8), 16, 10).cast("bigint")
        ).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return with_digest.groupBy(id_col).agg(*aggs)


def _parse_size_bytes(s: str) -> int:
    """Parse a Spark size conf value ("10485760", "10485760b",
    "10MB", "1tb", "-1") to bytes — the full b/k/m/g/t/p suffix set
    Spark's own byte-conf parser accepts."""
    s = s.strip().lower()
    units = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
             "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
             "t": 1 << 40, "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50}
    for suffix in sorted(units, key=len, reverse=True):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * units[suffix])
    return int(float(s))


# Auto-salting constants: the group count that measured the straggler
# win in the 8x smoke (39-56 s -> 22-26 s with broadcast disabled),
# and the estimated exchanged bytes per (band_key string, id) row
# (UnsafeRow: 8B null bits + 8B id + 16B string field+offset ~ 48B
# with the ~23-char band key payload).
_AUTO_SALT_GROUPS = 8
_BANDED_ROW_BYTES = 48

# Pair-emission runaway warning: the pairs path is output-bound on
# duplicate-heavy corpora (the 64x smoke emitted 1.147B pairs in
# ~19 min — by design there, silently elsewhere). Past this many
# emitted candidate pairs a stderr warning names the linear-output
# alternatives. 100M pairs ~ 1.6 GB of (a_id, b_id) rows — already
# deep in "did you mean the drop formulation?" territory while far
# above any legitimate small-corpus pair count.
_PAIR_WARN_THRESHOLD = 100_000_000


def _pair_runaway_message(n_pairs: int, threshold: int) -> str | None:
    """Warning text when the candidate-pair count crosses the
    threshold, else None. Pure function so the fire/stay-silent
    decision is unit-testable without running a join."""
    if n_pairs <= threshold:
        return None
    return (
        f"minhash_lsh_pairs emitted {n_pairs:,} candidate pairs "
        f"(> {threshold:,}): pair output is O(|bucket|^2) per band "
        "bucket and grows quadratically with duplicate density. For "
        "keep-smallest-id dedup the linear-output paths are "
        "minhash_drop_nonminimal (batch) and minhash_incremental_drop "
        "(batch x corpus) — output-identical, measured 5x faster at "
        "64x scale."
    )


def _watch_pair_emission(observation, threshold: int):
    """Daemon thread that waits on the pair-count Observation and
    warns to stderr past the threshold.

    ``Observation.get`` blocks until the first action executes the
    observed plan, which happens in the CALLER's action — a callback
    thread is the only way to surface the count without forcing an
    extra job of our own. Daemon: if the returned frame is never
    executed the thread parks forever and dies with the process.
    Returns the thread so tests (and callers) can join it after
    their action."""
    import sys
    import threading

    def run() -> None:
        try:
            n_pairs = observation.get["n_pairs"]
        except Exception:
            return  # query failed/cancelled: nothing to report
        msg = _pair_runaway_message(n_pairs, threshold)
        if msg is not None:
            print(f"WARNING: {msg}", file=sys.stderr)

    t = threading.Thread(
        target=run, daemon=True, name="minhash-pair-emission-watch"
    )
    t.start()
    return t


def minhash_lsh_pairs(
    signatures: DataFrame,
    id_col: str,
    *,
    n_hashes: int = 8,
    band_size: int = 2,
    min_matching: int = 4,
    salt_groups: int | str | None = "auto",
    pair_warn_threshold: int | None = _PAIR_WARN_THRESHOLD,
) -> DataFrame:
    """LSH candidate pairs from MinHash signatures.

    Bands of ``band_size`` signature values are concatenated into
    bucket keys; documents sharing any band key become candidates
    (equi-join on the band key — the standard banding scheme, never
    an all-pairs comparison). Candidates are then scored by the
    number of matching signature components and kept when
    ``n_matching >= min_matching`` (estimated Jaccard ≥
    min_matching / n_hashes).

    ``salt_groups``: hot-bucket skew split for the band self-join.
    On dup-heavy corpora a few band keys collect thousands of docs
    (the 8x scale smoke measures a 6.7k-doc bucket on 40k docs —
    boilerplate-dominated minima), and pair generation inside one
    bucket is |bucket|². While the banded table fits the broadcast
    threshold that work parallelizes for free across probe-side
    partitions, but at corpus sizes where the join must shuffle, one
    band key = one task = one straggler owning the whole |bucket|².
    With ``salt_groups=G`` the probe side is split into G groups by
    id hash and the build side replicated G times, so the join key
    becomes (band_key, group) and each hot bucket spreads over G
    tasks. Output is row-identical (every a<b pair appears in
    exactly one group — a's); cost is G× build-side exchange volume,
    which is why broadcastable sizes should NOT salt.

    ``salt_groups="auto"`` (the default) makes that call for you:
    estimate the banded table's exchanged bytes (row count × bands ×
    ~48 B/row) against the session's autoBroadcastJoinThreshold — the
    same comparison AQE makes at runtime when it picks broadcast vs
    shuffled join (the checkpointed plan has no Catalyst stats, so
    the physical strategy is decided adaptively from materialized
    sizes). Under the threshold the join broadcasts and hot buckets
    parallelize across probe partitions for free — no salt; over it
    (or with broadcast disabled) the join shuffles and gets
    ``salt_groups=8``, the measured straggler win. The row count
    comes from a count() on the lazily-checkpointed signature table,
    so the expensive shingle+md5 derivation is materialized once and
    reused by the joins — the decision costs one cheap job, not a
    recompute. With ``spark.sql.adaptive.enabled=false`` there is no
    runtime re-plan at all — the stats-free checkpointed plan always
    sort-merge-joins regardless of the threshold — so auto salts
    unconditionally (and skips the count() job). Pass an int to
    force, ``None`` to never salt.

    ``pair_warn_threshold``: the pairs path is OUTPUT-bound on
    duplicate-heavy corpora — pair volume grows with the square of
    duplicate density, not with corpus size (the 64x scale smoke
    emitted 1.147B pairs in ~19 min). The deduped candidate-pair
    count rides the caller's own action via an ``Observation`` (zero
    extra jobs); past the threshold a stderr warning names the
    linear-output alternatives (:func:`minhash_drop_nonminimal`,
    :func:`minhash_incremental_drop`), which are output-identical
    for keep-smallest-id dedup and measured 5x faster at 64x. Pass
    ``None`` to disable the observation entirely.
    """
    # The signature table feeds the self-join AND the scoring joins;
    # materialize once via localCheckpoint (blocks are freed by the
    # ContextCleaner when the result frame is dropped — cache()
    # entries would leak in the CacheManager across batch runs).
    # NOTE: under AQE, eager=False still runs the upstream shuffle
    # stages AT THIS CALL (query-build time) — accepted here because
    # the table is corpus-sized, so a session-lifetime cache entry
    # is the worse trade (see plans/materialize.py).
    signatures = signatures.localCheckpoint(eager=False)
    n_bands = n_hashes // band_size
    if isinstance(salt_groups, str) and salt_groups != "auto":
        raise ValueError(
            f"salt_groups={salt_groups!r}: pass an int, None, or 'auto'"
        )
    if salt_groups == "auto":
        # The runtime broadcast-vs-shuffle call on this stats-free
        # checkpointed plan is AQE's, which honors its own
        # spark.sql.adaptive.autoBroadcastJoinThreshold when set and
        # falls back to the static conf otherwise — mirror exactly
        # that lookup order. With AQE DISABLED there is no runtime
        # re-plan at all: the checkpointed LogicalRDD carries the
        # default (effectively infinite) size estimate, so the static
        # planner sort-merge-joins regardless of the threshold —
        # treat that like threshold<=0 and salt.
        conf = signatures.sparkSession.conf
        aqe = (conf.get("spark.sql.adaptive.enabled", "true") or "true").lower()
        raw = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
        if raw in (None, "", "<undefined>"):
            raw = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        threshold = _parse_size_bytes(raw)
        if aqe != "true" or threshold <= 0:
            salt_groups = _AUTO_SALT_GROUPS  # join shuffles: salt
        else:
            est = signatures.count() * n_bands * _BANDED_ROW_BYTES
            salt_groups = _AUTO_SALT_GROUPS if est > threshold else None
            # Auto-salting only engages above broadcastable corpus
            # sizes, which sf0.1 never reaches; the stderr note makes
            # the decision visible where it fires.
            if salt_groups is not None:
                import sys

                print(
                    f"# minhash_lsh_pairs: banded table ~{est:,} B > "
                    f"broadcast threshold {threshold:,} B — salting "
                    f"hot buckets over {salt_groups} groups",
                    file=sys.stderr,
                )
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh{b * band_size + j}") for j in range(band_size)],
            )
            for b in range(n_bands)
        ]
    )
    # Slim band join: only (band_key, id) flows through the self-join
    # and the pair dedup; the n_hashes signature columns are joined
    # back onto the ~|pairs| survivors afterwards. Carrying the
    # signatures through the join would multiply the exchanged bytes
    # by n_hashes for rows that mostly dedup away.
    banded = signatures.select(F.col(id_col), F.explode(bands).alias("band_key"))
    probe = banded.select(F.col("band_key"), F.col(id_col).alias("a_id"))
    build = banded.select(F.col("band_key"), F.col(id_col).alias("b_id"))
    join_keys = ["band_key"]
    if salt_groups and salt_groups > 1:
        g = F.lit(salt_groups)
        probe = probe.withColumn("_g", F.pmod(F.hash("a_id"), g).cast("int"))
        groups = signatures.sparkSession.range(salt_groups).select(
            F.col("id").cast("int").alias("_g")
        )
        build = build.crossJoin(F.broadcast(groups))
        join_keys = ["band_key", "_g"]
    pairs = (
        probe.join(build, join_keys)
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    monitor = None
    if pair_warn_threshold is not None:
        from pyspark.sql import Observation

        obs = Observation()
        pairs = pairs.observe(obs, F.count(F.lit(1)).alias("n_pairs"))
        monitor = _watch_pair_emission(obs, pair_warn_threshold)
    a_sigs = signatures.select(
        F.col(id_col).alias("a_id"),
        *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(n_hashes)],
    )
    b_sigs = signatures.select(
        F.col(id_col).alias("b_id"),
        *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(n_hashes)],
    )
    matching = sum(
        F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    out = (
        pairs.join(a_sigs, ["a_id"])
        .join(b_sigs, ["b_id"])
        .select("a_id", "b_id", matching.alias("n_matching"))
        .filter(F.col("n_matching") >= min_matching)
    )
    # Test handle: join this after an action to observe the warning
    # deterministically (the thread parks until the plan executes).
    out._pair_emission_monitor = monitor
    return out


def _family_keys(
    n_hashes: int,
    band_size: int,
    min_matching: int,
    *,
    pair_api: str = "minhash_lsh_pairs",
) -> Column:
    """Array of component-FAMILY keys for the linear drop decision.

    "Shares band p AND matches >= m of n components" holds iff the
    agreeing-component set contains band p's ``band_size`` components
    plus some (m - band_size)-subset of the rest — so enumerate every
    such component family (n_bands * C(n_hashes - band_size,
    m - band_size); 60 for the 8/2/4 default) and key each by the
    concatenation of its component values. Two rows match on some
    family key iff they share a band and >= min_matching components.
    """
    from itertools import combinations

    if min_matching < band_size:
        raise ValueError(
            f"min_matching={min_matching} < band_size={band_size}: every "
            "shared band already implies band_size matches"
        )
    if min_matching > n_hashes:
        # No pair can match more components than exist; the families
        # list would be empty and the F.array() below zero-width. The
        # empty drop set IS the right answer, but reaching it through
        # explode-of-empty-array is incidental — reject the degenerate
        # configuration instead.
        raise ValueError(
            f"min_matching={min_matching} > n_hashes={n_hashes}: "
            "unsatisfiable — no pair can ever match"
        )
    n_bands = n_hashes // band_size
    extra = min_matching - band_size
    families = []
    for p in range(n_bands):
        band_comps = list(range(p * band_size, (p + 1) * band_size))
        rest = [i for i in range(n_hashes) if i not in band_comps]
        for combo in combinations(rest, extra):
            families.append((p, band_comps + list(combo)))
    if len(families) > 512:
        # pair_api names the caller's OWN pair-formulation fallback
        # (minhash_lsh_pairs for the batch drop, minhash_incremental_pairs
        # for the batch-x-corpus drop) so the message points at the
        # API the user can actually switch to.
        raise ValueError(
            f"{len(families)} component families (n_hashes={n_hashes}, "
            f"band_size={band_size}, min_matching={min_matching}); use "
            f"the pair formulation ({pair_api}) for configurations "
            "this wide"
        )
    return F.array(
        *[
            F.concat_ws(
                "|", F.lit(str(fid)), *[F.col(f"mh{i}") for i in comps]
            )
            for fid, (_, comps) in enumerate(families)
        ]
    )


def minhash_drop_nonminimal(
    signatures: DataFrame,
    id_col: str,
    *,
    n_hashes: int = 8,
    band_size: int = 2,
    min_matching: int = 4,
) -> DataFrame:
    """Ids to DROP under keep-smallest-id LSH dedup — WITHOUT the
    pair join, in work linear in the corpus.

    Semantics (provably identical to filtering on
    :func:`minhash_lsh_pairs` and dropping every ``b_id``): id b is
    dropped iff some a < b (1) shares at least one band with b and
    (2) matches b on >= ``min_matching`` of the ``n_hashes``
    signature components.

    The pair formulation is quadratic inside each band bucket, and
    template-heavy corpora have buckets that GROW with the corpus
    (a handful of globally-common shingles dominate the minima), so
    at 8x data the candidate count grew 41x in the scale smoke. But
    the drop DECISION only needs existence, and the predicate
    decomposes exactly: "shares band p AND matches >= m" holds iff
    the agreeing-component set contains band p's ``band_size``
    components plus some (m - band_size)-subset of the rest. So for
    each of the ``n_bands * C(n_hashes - band_size, m - band_size)``
    component FAMILIES (60 for the 8/2/4 default), build the
    concatenated key of the family's component values; b is dropped
    iff some family bucket containing b has a smaller min id. Two
    hash aggregations over ``n_families * n`` slim rows — no join,
    no quadratic term, monster buckets cost the same as tiny ones.
    """
    keys = _family_keys(n_hashes, band_size, min_matching)
    # The family table feeds BOTH the bucket-min aggregation and the
    # join-back; materialize the (cheap, slim) signature table once so
    # shingle+md5 signature derivation doesn't run twice.
    signatures = signatures.localCheckpoint(eager=False)
    fam = signatures.select(F.col(id_col), F.explode(keys).alias("fam_key"))
    mins = fam.groupBy("fam_key").agg(F.min(id_col).alias("fam_min"))
    return (
        fam.join(mins, ["fam_key"])
        .filter(F.col("fam_min") < F.col(id_col))
        .select(id_col)
        .distinct()
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, *, n_bits: int = 16
) -> DataFrame:
    """SimHash fingerprint over word tokens (frequency-weighted).

    bit b of the fingerprint = 1 iff Σ_tokens (±1 per token, sign of
    bit b of md5(token)) > 0. Near-duplicate docs differ in few bits
    (compare with a Hamming-distance self-join on rotated keys).
    Two-level aggregation, both with partial combine.
    """
    tokens = spread_to_cores(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("tok")
    ).withColumn("h", _hash_bits(F.col("tok"), n_bits))
    contrib = tokens.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("bit"),
        F.col("h"),
    ).withColumn(
        "c",
        F.when(F.expr("(h >> CAST(bit AS INT)) & 1") == 1, 1).otherwise(-1),
    )
    bit_sums = contrib.groupBy(id_col, "bit").agg(F.sum("c").alias("s"))
    return bit_sums.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
            .otherwise(F.lit(0).cast("bigint"))
        ).alias("simhash")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs.

    |A∩B| via a self-equi-join on distinct shingles (shuffle keyed on
    shingle — skew-prone on stop-shingles; AQE skew-join splits hot
    keys), then Jaccard = |A∩B| / (|A|+|B|-|A∩B|). For 100 TB corpora
    run :func:`minhash_lsh_pairs` first and verify only candidates.
    """
    # The exploded-shingle table feeds both self-join sides and the
    # sizes aggregate, so the explode subtree appears 3x in the plan.
    # Deliberately NOT checkpoint-materialized: an A/B at sf0.1
    # (round 9) measured recompute ~25% FASTER than storing the
    # exploded table — codegen explode+md5 is cheaper per row than
    # writing and re-reading |docs|·|shingles| materialized rows.
    sh = explode_shingles(df, id_col, text_col, shingle_k).dropDuplicates(
        [id_col, "sh"]
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.select(F.col(id_col).alias("a_id"), "sh")
        .join(sh.select(F.col(id_col).alias("b_id"), "sh"), ["sh"])
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("a_id"), F.col("n_sh").alias("a_n")), ["a_id"])
        .join(sizes.select(F.col(id_col).alias("b_id"), F.col("n_sh").alias("b_n")), ["b_id"])
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("a_n") + F.col("b_n") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def simhash_neardup_pairs(
    signatures: DataFrame,
    id_col: str,
    *,
    n_bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints via banded blocking.

    Split the fingerprint into ``n_bands`` disjoint bit-bands; by
    pigeonhole, two fingerprints within Hamming distance < n_bands
    must agree exactly on at least one band — so candidates come from
    an equi-join on band values (never all-pairs), then the exact
    ``bit_count(xor)`` check keeps pairs with distance <=
    ``max_hamming``. Same candidate-then-verify shape as MinHash-LSH,
    shuffles keyed on band values.
    """
    if max_hamming >= n_bands:
        # Pigeonhole only guarantees a shared band for distance <
        # n_bands; beyond that the blocking silently loses recall.
        raise ValueError(
            f"max_hamming={max_hamming} requires n_bands > max_hamming "
            f"(got n_bands={n_bands}): banded blocking only has full "
            f"recall for Hamming distance < n_bands"
        )
    band_width = n_bits // n_bands
    mask = (1 << band_width) - 1
    # localCheckpoint, not cache(): the three downstream uses (band
    # explode + both verify sides) share one materialization, and the
    # blocks are released by the ContextCleaner when the result frame
    # is dropped — cache() entries would pin the CacheManager forever
    # (corpus-sized table; under AQE the upstream stages run at this
    # call — the accepted trade, see plans/materialize.py).
    sigs = signatures.localCheckpoint(eager=False)
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                F.shiftright(F.col("simhash"), b * band_width)
                .bitwiseAND(F.lit(mask))
                .cast("string"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sigs.select(F.col(id_col), F.explode(bands).alias("band_key"))
    pairs = (
        banded.select("band_key", F.col(id_col).alias("a_id"))
        .join(banded.select("band_key", F.col(id_col).alias("b_id")), ["band_key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    a = sigs.select(F.col(id_col).alias("a_id"), F.col("simhash").alias("a_sig"))
    b = sigs.select(F.col(id_col).alias("b_id"), F.col("simhash").alias("b_sig"))
    return (
        pairs.join(a, ["a_id"])
        .join(b, ["b_id"])
        .select(
            "a_id",
            "b_id",
            F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_incremental_pairs(
    corpus_sigs: DataFrame,
    batch_sigs: DataFrame,
    id_col: str,
    *,
    n_hashes: int = 8,
    band_size: int = 2,
    min_matching: int = 4,
) -> DataFrame:
    """Incremental LSH maintenance: near-dup candidates between an
    incoming BATCH and the existing CORPUS only — never corpus ×
    corpus (those pairs were found when their rows arrived). This is
    the text twin of the embedding side's batch-broadcast GEMM
    (similarity.cross_corpus_neardup): per micro-batch work is
    O(batch × collisions), independent of corpus size, which is what
    makes continuous-ingest dedup feasible — re-running the full
    self-join LSH per batch would re-pay the whole corpus every
    minute.

    Scale shape: the corpus's banded table IS the persistent index —
    written bucketed by band_key, the probe equi-join is
    exchange-free on the corpus side; the batch side broadcasts.
    Output: (batch_id, corpus_id, n_matching ≥ min_matching).
    """
    n_bands = n_hashes // band_size

    def banded(sigs: DataFrame, out_id: str) -> DataFrame:
        bands = F.array(
            *[
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[
                        F.col(f"mh{b * band_size + j}")
                        for j in range(band_size)
                    ],
                )
                for b in range(n_bands)
            ]
        )
        return sigs.select(
            F.col(id_col).alias(out_id), F.explode(bands).alias("band_key")
        )
    pairs = (
        banded(corpus_sigs, "corpus_id")
        .join(F.broadcast(banded(batch_sigs, "batch_id")), ["band_key"])
        .select("batch_id", "corpus_id")
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    b_sigs = batch_sigs.select(
        F.col(id_col).alias("batch_id"),
        *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(n_hashes)],
    )
    c_sigs = corpus_sigs.select(
        F.col(id_col).alias("corpus_id"),
        *[F.col(f"mh{i}").alias(f"c_mh{i}") for i in range(n_hashes)],
    )
    matching = sum(
        F.when(F.col(f"b_mh{i}") == F.col(f"c_mh{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    return (
        pairs.join(F.broadcast(b_sigs), ["batch_id"])
        .join(c_sigs, ["corpus_id"])
        .select(
            "batch_id", "corpus_id", matching.cast("int").alias("n_matching")
        )
        .filter(F.col("n_matching") >= min_matching)
    )


def minhash_incremental_drop(
    corpus_sigs: DataFrame,
    batch_sigs: DataFrame,
    id_col: str,
    *,
    n_hashes: int = 8,
    band_size: int = 2,
    min_matching: int = 4,
) -> DataFrame:
    """Batch ids to DROP against a standing corpus — WITHOUT the pair
    join, in work linear in batch + corpus.

    Semantics (identical to keeping every ``batch_id`` that appears in
    :func:`minhash_incremental_pairs`): batch doc b is dropped iff
    some corpus doc shares >= 1 band with b and matches >=
    ``min_matching`` of the ``n_hashes`` signature components.

    Why this exists: the pair formulation's output IS the pairs, and
    on dup-dense corpora that output grows super-linearly by contract
    (64x scale spot-check: data 64x, true candidate work
    sum|c_bucket|x|b_bucket| 170.6k -> 416.5M = 2441x, OUTPUT pairs
    54.4k -> 93.5M = 1718x — wall grew only 151x, so per-candidate
    time improved ~16x, but no enumeration beats its own output
    size). Continuous-ingest dedup usually needs only the keep/drop
    verdict per batch doc, and that decision decomposes into the same
    component families as :func:`minhash_drop_nonminimal`: b is
    dropped iff one of b's ~60 family keys exists in the corpus's
    family-key set. One distinct + one LEFT SEMI equi-join on the
    family key — output <= |batch|, work linear, hot buckets cost the
    same as cold ones. At 100 TB the corpus's distinct family-key
    table is the persistent index: bucketed by fam_key it makes the
    per-batch probe exchange-free, and appending a batch's own keys
    maintains it incrementally.
    """
    keys = _family_keys(
        n_hashes, band_size, min_matching,
        pair_api="minhash_incremental_pairs",
    )
    corpus_keys = corpus_sigs.select(
        F.explode(keys).alias("fam_key")
    ).distinct()
    batch_fams = batch_sigs.select(
        F.col(id_col), F.explode(keys).alias("fam_key")
    )
    return (
        batch_fams.join(corpus_keys, ["fam_key"], "left_semi")
        .select(id_col)
        .distinct()
    )

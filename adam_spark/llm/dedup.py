"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard — all
expressed with built-in Catalyst expressions (no Python UDFs in the hot
path) so they vectorize and scale.

Portability note: every hash here is ``md5`` over strings, which yields
identical lowercase hex in Spark and in the DuckDB correctness oracle —
minhashes are the lexicographic MIN of per-seed md5 hex strings, a
standard trick that keeps the whole pipeline engine-agnostic and
deterministic (no RNG, no JVM-specific hashing).

Scale design:
- tokenize/shingle once, explode, hash per (token, seed) — the seed
  dimension is a generated column, so the shuffle key space is
  (token-space × seeds), uniformly distributed;
- LSH banding turns all-pairs similarity into an equi-join on
  (band_index, band_hash) — Catalyst shuffle-hash join, AQE-skew-safe;
- candidate pairs are verified with exact Jaccard BEFORE emission, so
  recall loss is the only approximation (tunable via bands × rows).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped (portable to DuckDB)."""
    return F.filter(F.split(text, " "), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    """``size(tokens(text))`` without building the array.

    The non-empty fields of a split on a single space are exactly the
    maximal runs of non-space characters, so the count is
    ``regexp_count(text, '[^ ]+')`` — a codegen'd scalar instead of a
    split allocation plus an interpreted higher-order ``filter``
    (CodegenFallback). '' → 0 on both forms; NULL routes through
    ``size(NULL)`` so the session's sizeOfNull semantics are preserved
    exactly (-1 legacy / NULL ANSI — ``regexp_count`` alone would pin
    NULL in both modes). Pinned exactly equal (edge cases +
    whole-corpus sweep) in tests/test_optimizations_r13.py. Count-only
    call sites (quota sampling, packing, profile counters, Gopher word
    counts) use this; anything that consumes the tokens themselves
    keeps :func:`tokens`.
    """
    return F.when(
        text.isNull(), F.size(F.lit(None).cast("array<string>"))
    ).otherwise(F.regexp_count(text, F.lit("[^ ]+")))


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def has_min_tokens(text: Column, n: int) -> Column:
    """Cheap text-level ``size(tokens(text)) >= n``: NULL text fails
    (rlike/regexp propagate NULL, falsy in a filter), and a token is
    exactly a maximal run of non-space characters. n == 1 uses an
    early-exit ``rlike`` (stops at the first non-space char — O(1) for
    ordinary text, where ``regexp_count`` would scan the whole string
    counting every token); n > 1 needs the count. Used as the
    emptiness guard below the dedup exchanges, where an array-level
    ``size(shingles) > 0`` would re-tokenize on the pre-exchange
    layout (pushed-down predicate)."""
    if n <= 1:
        return text.rlike("[^ ]")
    return token_count(text) >= F.lit(n)


def word_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-gram shingles, space-joined. Documents with
    fewer than ``n`` tokens yield an empty array (guard needed because
    ``sequence(1, 0)`` would count DOWN, not produce empty)."""
    toks = tokens(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def exact_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bounded_cache: bool = False,
) -> DataFrame:
    """Exact-content dedup on a canonical fingerprint.

    Fingerprint = md5 of the lower-cased raw text. Output: one row per
    input with (id, fingerprint, canonical_id, is_duplicate) where
    canonical_id is the group's min id — the classic keep-first policy.
    ``bounded_cache=True`` eagerly materializes the result and releases
    the internal fingerprint persist
    (:func:`adam_spark.llm.cache.eager_release`).
    """
    from pyspark.storagelevel import StorageLevel

    # null/absent text → md5 returns null; coalesce to a sentinel so those
    # rows still participate in the group/join (the earlier window version
    # grouped nulls together — the sentinel preserves that row coverage
    # instead of silently dropping them at the null-rejecting join key)
    fp = F.coalesce(F.md5(F.lower(F.col(text_col))), F.lit("__NULL_TEXT__"))
    # groupBy + join rather than a window: min() partial-aggregates
    # map-side, so a mega-cluster of identical documents (the common
    # pathology of crawled corpora) shrinks BEFORE the shuffle instead
    # of landing one window task; the re-join skew is AQE-split.
    # Persist the slim 2-column table: `canon` derives from `keyed`, and
    # Spark does NOT reuse the scan across the two differently-shaped
    # subtrees of the self-join — unpersisted, the md5 scan runs twice
    # (measured 4.4× at sf0.1).
    keyed = df.select(F.col(id_col).alias("id"), fp.alias("fingerprint")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # materialize EAGERLY: the join's two subtrees are scheduled
    # concurrently, and a lazily-populated cache lets both sides miss it
    # and recompute the scan in parallel (measured ~2x on first run)
    keyed.count()
    canon = keyed.groupBy("fingerprint").agg(F.min("id").alias("canonical_id"))
    out = (
        keyed.join(canon, "fingerprint")
        .withColumn("is_duplicate", F.col("id") != F.col("canonical_id"))
        .select("id", "fingerprint", "canonical_id", "is_duplicate")
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, keyed)
    return out


#: Mersenne prime for the universal-hash family
_MH_P = 2_147_483_647


def _mh_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a·x + b) mod P."""
    import random

    rng = random.Random(42)
    return [(rng.randrange(1, _MH_P), rng.randrange(0, _MH_P)) for _ in range(num_hashes)]


def _sig_udf(num_hashes: int):
    """Arrow-batched pandas UDF: array<long> base hashes → minhash sig.

    The whole batch is computed with ``num_hashes`` vectorized numpy
    passes over the concatenated token-hash array plus one
    ``minimum.reduceat`` per pass — no per-row Python work. Values stay
    below 2^59 (a,b < 2^31, base hash < 2^28) so int64 never overflows
    and the arithmetic matches the DuckDB oracle exactly.
    """
    from pyspark.sql.types import ArrayType, LongType

    consts = _mh_constants(num_hashes)
    a = [c[0] for c in consts]
    b = [c[1] for c in consts]

    @F.pandas_udf(ArrayType(LongType()))
    def sig(h0s: pd.Series) -> pd.Series:
        if len(h0s) == 0:
            return pd.Series([], dtype=object)
        lens = h0s.map(len).to_numpy(dtype=np.int64)
        total = int(lens.sum())
        flat = (
            np.concatenate([np.asarray(v, dtype=np.int64) for v in h0s])
            if total
            else np.empty(0, dtype=np.int64)
        )
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        nonempty = lens > 0
        ne_starts = starts[nonempty]
        mins = np.full((len(lens), num_hashes), _MH_P, dtype=np.int64)
        if total:
            for i in range(num_hashes):
                v = (a[i] * flat + b[i]) % _MH_P
                mins[nonempty, i] = np.minimum.reduceat(v, ne_starts)
        return pd.Series(list(mins))

    return sig


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    num_hashes: int = 128,
    with_size: bool = False,
    repartition: bool = True,
    prefiltered: bool = False,
) -> DataFrame:
    """(id[, n], signature array<long>) via a universal hash family.

    ``with_size=True`` adds the document's shingle count ``n`` — free
    here (the array is in hand), and it lets downstream verify stages
    and broadcast-size estimates skip a re-tokenize pass.

    One base hash per shingle (md5 → 28-bit int, a Catalyst-side
    vectorized map), then the i-th hash is ``(a_i·h + b_i) mod P`` and
    the signature is the per-hash MIN over the document's shingles,
    computed in an Arrow-batched pandas UDF (:func:`_sig_udf`). Earlier
    versions expressed the fold as one 128-wide ``aggregate``/
    ``zip_with`` Catalyst expression; the data plane was fine but
    Catalyst analysis + Janino codegen of that expression cost up to
    80 s cold and varied 10× with JIT warmth, so the fold moved to
    numpy. Signature computation remains a pure narrow map: no explode,
    no groupBy, zero shuffle; at corpus scale it is embarrassingly
    parallel and the only shuffle in the LSH pipeline is the band
    equi-join. The initial repartition spreads documents across cores
    when the source is a single file split — and it sits BELOW the
    shingle projection (repartition df, THEN tokenize): projected
    first, the interpreted split/array_distinct ran on the source's
    task layout (ONE task for a single-row-group file) and the
    exchange shipped token arrays; this way the exchange ships the
    pruned raw columns and the tokenize runs on every core (r14).
    Row-identical either way — the hash partitioning is on the same id
    column with the same partition count. Empty-shingle documents
    produce no signature row (what the DuckDB oracle mirrors).
    ``repartition=False`` is for callers whose ``df`` is ALREADY
    id-partitioned below the shingle projection (minhash_lsh_pairs and
    the between-variant pre-partition the raw frame so their broadcast
    attach stages share the parallel tokenize) — a second exchange here
    would ship the token arrays for nothing. ``prefiltered=True``
    declares that ``df`` carries no empty-shingle rows, skipping the
    ``size(shingles) > 0`` guard: left in place, predicate pushdown
    moves that guard BELOW the exchange where it re-evaluates the whole
    shingle expression on the pre-exchange (possibly single-task)
    layout — callers substitute a cheap text-level equivalent
    (``token_count(text) >= n``) instead.
    """
    src = df
    if repartition:
        src = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
    keyed = src.select(F.col(id_col).alias("id"), shingles.alias("__sh"))
    h0s = F.transform(
        F.col("__sh"), lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("long")
    )
    sig = _sig_udf(num_hashes)(h0s)
    out = keyed if prefiltered else keyed.where(F.size("__sh") > 0)
    if with_size:
        return out.select(
            "id", F.size("__sh").alias("n"), sig.alias("signature")
        )
    return out.select("id", sig.alias("signature"))


def lsh_bands(signatures: DataFrame, bands: int) -> DataFrame:
    """(id, band, band_hash): hash each signature band for bucketing."""
    sig_len_expr = F.size("signature")
    rows_per_band = (sig_len_expr / F.lit(bands)).cast("int")
    return signatures.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        F.col("signature"),
    ).select(
        "id",
        "band",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        F.col("signature"),
                        F.col("band") * rows_per_band + 1,
                        rows_per_band,
                    ),
                    lambda v: v.cast("string"),
                ),
            )
        ).alias("band_hash"),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def _first_shared_band(bh_a: Column, bh_b: Column, bands: int) -> Column:
    """0-based index of the first band where the two hash arrays agree
    (-1 when none — callers only evaluate it on band-join candidates,
    which share at least one band).

    Unrolled as a ``bands``-arm CASE over element_at comparisons rather
    than ``filter(sequence(...), lambda ...)``: higher-order array
    functions fall out of whole-stage codegen into interpreted
    evaluation, measured ~0.4 s over the 3.35M-row sf0.1 candidate
    stream; the CASE chain codegens.
    """
    fs: Column = F.lit(-1)
    for j in range(bands, 0, -1):
        fs = F.when(
            F.element_at(bh_a, j) == F.element_at(bh_b, j), F.lit(j - 1)
        ).otherwise(fs)
    return fs


def _jaccard_length_ok(n_a: Column, n_b: Column, threshold: float) -> Column:
    """Exact PPJoin-style length prefilter: J(A,B) ≥ t needs
    |A∩B| ≥ t·(|A|+|B|)/(1+t) and |A∩B| ≤ min(|A|,|B|), so
    min·(1+t) ≥ t·(|A|+|B|) is NECESSARY for any qualifying pair —
    two comparisons evaluated before the O(|A|·|B|) array_intersect
    prune the candidate stream without touching results (measured: cuts
    most of the 1.67M sf0.1 intersect evaluations in the self-join
    verify). +0.5 slack keeps boundary pairs (e.g. min=9, total=19,
    t=0.9 → 17.1 vs 17.1) that double rounding could otherwise drop;
    the final exact-Jaccard filter still decides them."""
    return F.least(n_a, n_b) * F.lit(1.0 + threshold) + F.lit(0.5) >= F.lit(
        threshold
    ) * (n_a + n_b)


#: max estimated shingle-table bytes we will pin as a broadcast for the
#: verify join (~16M tokens). Past this the table is shuffled instead —
#: broadcasting the full tokenized corpus to every executor is the one
#: thing in this pipeline that would NOT survive a 100 TB corpus.
VERIFY_BROADCAST_CAP_BYTES = 256 * 1024 * 1024


def _estimate_shingle_bytes(base: DataFrame) -> int:
    """Cheap size estimate of the (id, shingles) verify table: one
    aggregate scan, ~16 bytes per token + per-row overhead."""
    stats = base.select(
        F.count(F.lit(1)).alias("docs"), F.sum(F.size("sh")).alias("toks")
    ).first()
    return int(stats["toks"] or 0) * 16 + int(stats["docs"] or 0) * 48


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_ngram: int = 1,
    num_hashes: int = 128,
    bands: int = 64,
    threshold: float = 0.8,
    broadcast_verify: bool | None = None,
    bounded_cache: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, verified with exact Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    With bands=64 × rows=2, P(miss | J≥0.8) ≈ (1−0.8²)^64 ≈ 4e−29 —
    recall is effectively exact at the default threshold.
    ``bounded_cache=True`` eagerly materializes the pair table and
    releases the internal band-table persist
    (:func:`adam_spark.llm.cache.eager_release`).
    """
    sh = word_ngrams(F.col(text_col), shingle_ngram) if shingle_ngram > 1 else distinct_tokens(
        F.col(text_col)
    )
    from pyspark.storagelevel import StorageLevel

    # base (full token arrays) intentionally NOT persisted: it feeds the
    # signature pipeline and the two verify broadcasts, but re-running a
    # narrow tokenize scan is cheaper at corpus scale than materializing
    # the tokenized corpus (measured: persisting buys ~0.2 s warm at
    # sf0.1 and nothing cold). The raw frame is id-partitioned BELOW
    # the shingle projection (r14): projected first, the interpreted
    # tokenize ran on the source's task layout — one task for a
    # single-row-group file — in the signature pass AND in each verify
    # broadcast build; this way every consumer of `base` re-executes a
    # cheap pruned-text exchange and tokenizes on all cores. The
    # empty-shingle guard is a TEXT-level predicate (token_count ≥ n ⟺
    # the distinct shingle array is non-empty, incl. NULL text): the
    # array-level `size(sh) > 0` pushes below the exchange and
    # re-tokenizes every row on the pre-exchange layout.
    nonempty = has_min_tokens(F.col(text_col), max(1, shingle_ngram))
    base = df.where(nonempty).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    ).select(F.col(id_col).alias("id"), sh.alias("sh"))
    sigs = minhash_signatures(
        base, "id", F.col("sh"), num_hashes,
        with_size=True, repartition=False, prefiltered=True,
    )
    # per-doc band-hash ARRAY first (identical hash construction to
    # lsh_bands), then posexplode for the equi-join: the banded table
    # feeds BOTH sides of the self-join, and Spark does NOT reuse the
    # exchange across the differently-aliased sides (the signature UDF
    # would run twice) — persist the slim (id, bh) table: one row per
    # doc, bands hashes each
    rpb = num_hashes // bands
    bh_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("signature"), j * F.lit(rpb) + 1, F.lit(rpb)),
                    lambda v: v.cast("string"),
                ),
            )
        ),
    )
    banded = sigs.select("id", "n", bh_arr.alias("bh")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # one aggregate doubles as the eager materializer (both self-join
    # sides would race a lazy cache) AND the broadcast-size probe —
    # previously a count() job plus a separate stats job
    _bst = banded.select(
        F.count(F.lit(1)).alias("docs"), F.sum("n").alias("toks")
    ).first()
    bandsdf = banded.select("id", F.posexplode("bh").alias("band", "band_hash"))
    a = bandsdf.select(F.col("id").alias("id_a"), "band", "band_hash")
    b = bandsdf.select(F.col("id").alias("id_b"), "band", "band_hash")
    raw = (
        a.join(b, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "band")
    )
    # verification: |A∩B| once, |A∪B| by arithmetic (no union allocation).
    # The shingle side is one row per document; broadcasting it pins a
    # broadcast join so the big candidate stream never shuffles. The default
    # (None) decides from a measured size estimate rather than a flag the
    # caller must know to flip: small corpora broadcast, anything past
    # VERIFY_BROADCAST_CAP_BYTES shuffles — a default that still works at
    # the 100 TB design point.
    if broadcast_verify is None:
        # sized from the persisted banded stats rather than re-tokenizing
        # the corpus (_estimate_shingle_bytes was a full extra pass per
        # call). Sole difference: empty-shingle docs (absent from
        # banded) no longer add their 48-byte row overhead — a strategy
        # heuristic only, both strategies are exact.
        est = int(_bst["toks"] or 0) * 16 + int(_bst["docs"] or 0) * 48
        broadcast_verify = est <= VERIFY_BROADCAST_CAP_BYTES
    if broadcast_verify:
        # verify is a pure map (both shingle sides broadcast). A pair
        # that matched in k bands would be verified k times and need a
        # final dedup shuffle — instead each side's broadcast also
        # carries the per-doc band-hash array (tiny next to the shingle
        # arrays already shipped) and the map keeps a pair only at its
        # FIRST shared band: exactly one verify per pair, zero dedup
        # exchange. Same stateless first-bin trick as the region join.
        # Persisted: the table feeds BOTH broadcast builds, which run
        # concurrently and do NOT share the exchange (aliased copies) —
        # unpersisted, the tokenize+join lineage executed twice. The
        # persist is bounded by construction: this branch only runs
        # when the estimate fits VERIFY_BROADCAST_CAP_BYTES.
        # TWO-PHASE attach (guide §2.3 "move keys and metadata, not
        # payloads", applied to broadcast-join materialization): the
        # old single join attached both documents' FULL token arrays to
        # every raw candidate row before any filter ran — ~2-4 KB of
        # array copy × 3.35M raw rows at sf0.1, the stage's dominant
        # cost (42.7 core-s measured). Phase 1 joins only the slim
        # (n, bh) columns (~100 B/doc) and applies the length +
        # first-shared-band filters; phase 2 attaches the token arrays
        # to the surviving unique pairs only, then runs the exact
        # intersect.
        slim = banded  # id, n, bh — already persisted and eager
        slim_a = slim.select(
            F.col("id").alias("id_a"), F.col("n").alias("n_a"), F.col("bh").alias("bh_a")
        )
        slim_b = slim.select(
            F.col("id").alias("id_b"), F.col("n").alias("n_b"), F.col("bh").alias("bh_b")
        )
        first_shared = _first_shared_band(F.col("bh_a"), F.col("bh_b"), bands)
        filtered = (
            raw.join(F.broadcast(slim_a), "id_a")
            .join(F.broadcast(slim_b), "id_b")
            .where(_jaccard_length_ok(F.col("n_a"), F.col("n_b"), threshold)
                   & (F.col("band") == first_shared))
            .select("id_a", "id_b", "n_a", "n_b")
        )
        # (an Arrow UDF doing Python-set intersection against a
        # broadcast {id: frozenset} dict was measured here and REVERTED:
        # the per-call driver collect + dict pickle/broadcast cost more
        # than the executor-side win — 3.75 s vs 2.53 s at sf0.1)
        sh_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        sh_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        out = (
            filtered.join(F.broadcast(sh_a), "id_a")
            .join(F.broadcast(sh_b), "id_b")
            .withColumn("jaccard", inter / (F.col("n_a") + F.col("n_b") - inter))
            .where(F.col("jaccard") >= F.lit(threshold))
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
    else:
        # shuffle verify: every candidate row costs a join shuffle, so
        # dedup first; one exchange serves both dedup and the verify-stage
        # rebalance (hash-partitioning on id_a satisfies the (id_a, id_b)
        # clustering the dropDuplicates aggregate needs). The band-hash
        # arrays are NOT carried here — at large `bands` they would
        # inflate the shuffled verify rows, and the dedup exchange
        # already collapses multiplicity.
        cand = raw.repartition(
            df.sparkSession.sparkContext.defaultParallelism, "id_a"
        ).dropDuplicates(["id_a", "id_b"])
        sized = base.withColumn("n", F.size("sh"))
        sh_a = sized.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n").alias("n_a"))
        sh_b = sized.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n").alias("n_b"))
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        out = (
            cand.join(sh_a, "id_a")
            .join(sh_b, "id_b")
            .where(_jaccard_length_ok(F.col("n_a"), F.col("n_b"), threshold))
            .withColumn("jaccard", inter / (F.col("n_a") + F.col("n_b") - inter))
            .where(F.col("jaccard") >= F.lit(threshold))
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, banded)
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    ngram: int = 1,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (the brute-force oracle path).

    O(n²) on document count — correct at any scale factor but meant for
    validation and small corpora; the scale path is
    :func:`minhash_lsh_pairs`. Implemented as an inverted-index join on
    shared shingles (not a cartesian product), so cost is bounded by
    co-occurrence, mirroring a posting-list self-join.
    """
    sh = word_ngrams(F.col(text_col), ngram) if ngram > 1 else distinct_tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), sh.alias("sh"))
    posts = base.select("id", F.explode("sh").alias("tok"), F.size("sh").alias("n"))
    pa = posts.select(F.col("id").alias("id_a"), "tok", F.col("n").alias("n_a"))
    pb = posts.select(F.col("id").alias("id_b"), "tok", F.col("n").alias("n_b"))
    inter = (
        pa.join(pb, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """SimHash fingerprints from token md5s (engine-portable).

    For bit j: take the j-th bit of each token's md5 (hex-nibble
    arithmetic), sum ±1 over the document's distinct tokens, bit is 1
    when the sum is positive. Returns (id, simhash long).
    """
    # One array fold per document (same zero-shuffle design as
    # minhash_signatures): the accumulator carries the ``bits`` running
    # ±1 sums; the final fingerprint assembles sign bits. The
    # repartition spreads documents across cores when the source is a
    # single file split, and sits BELOW the tokenize projection (r14,
    # the minhash_signatures treatment): projected first, the
    # interpreted split/array_distinct ran on the source's task layout
    # and the exchange shipped token arrays; this way the exchange
    # ships pruned raw columns and the tokenize parallelizes. The
    # empty-token guard is the TEXT-level `token_count > 0` (⟺
    # size(distinct_tokens) > 0, incl. NULL text): an array-level
    # filter pushes below the exchange and re-tokenizes every row on
    # the pre-exchange layout.
    keyed = df.where(has_min_tokens(F.col(text_col), 1)).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    ).select(F.col(id_col).alias("id"), distinct_tokens(F.col(text_col)).alias("__t"))

    sums = F.aggregate(
        F.transform(F.col("__t"), lambda t: F.md5(t)),
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda s, j: s
            + F.floor(
                F.conv(F.substring(h, (j / 4).cast("int") + 1, 1), 16, 10).cast("long")
                / F.pow(F.lit(2.0), (j % 4).cast("double")).cast("long")
            )
            % 2
            * 2
            - 1,
        ),
    )
    fp = F.aggregate(
        F.zip_with(
            sums,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda s, j: F.when(
                s > 0, F.pow(F.lit(2.0), j.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return keyed.select("id", fp.alias("simhash"))


def simhash_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 16,
    bounded_cache: bool = False,
) -> DataFrame:
    """Documents sharing a simhash fingerprint (candidate near-dups).
    ``bounded_cache=True`` eagerly materializes the result and releases
    the internal fingerprint persist."""
    from pyspark.storagelevel import StorageLevel

    # same skew-safe shape as exact_duplicates: partial-aggregated
    # groupBy + AQE-split join instead of a hot-key window. Persisting the
    # slim (id, simhash) table stops the 16-wide Catalyst fold from running
    # once per self-join side (measured 6.2× at sf0.1 unpersisted).
    fps = simhash(df, id_col, text_col, bits).persist(StorageLevel.MEMORY_AND_DISK)
    fps.count()  # eager: both self-join sides would race a lazy cache
    canon = fps.groupBy("simhash").agg(F.min("id").alias("canonical_id"))
    out = (
        fps.join(canon, "simhash")
        .withColumn("is_duplicate", F.col("id") != F.col("canonical_id"))
        .select("id", "simhash", "canonical_id", "is_duplicate")
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, fps)
    return out


def duplicate_clusters(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over the duplicate-pair graph.

    Turns pair output (:func:`minhash_lsh_pairs`,
    :func:`embedding_near_duplicates`, …) into per-document cluster
    labels — the step a corpus-pruning pipeline actually needs (keep
    one document per component, not per pair). Returns
    (id, cluster_id, is_duplicate) where cluster_id is the component's
    min id; with ``all_ids`` (a 1-column frame of every document id)
    singletons appear with cluster_id = their own id.

    Min-label propagation: each round joins labels across edges and
    takes the per-node min, converging in O(component diameter) rounds.
    LSH near-dup components are near-cliques (diameter ≈ 2), so 2-3
    rounds close real corpora; ``max_iters`` bounds adversarial chains.
    Scale shape: every round is one shuffle join on the (slim) edge
    table plus a partial-aggregated groupBy; an eager localCheckpoint
    per round cuts the lineage so plans stay O(1) deep instead of
    O(iterations), and the PREVIOUS round's checkpoint blocks are
    explicitly released once the new round is materialized, so executor
    storage stays O(1) labels-tables over the whole run (only the final
    round's checkpoint — the one the returned DataFrame reads — stays
    alive). The driver holds only the one-row convergence count.
    """
    from pyspark.storagelevel import StorageLevel

    sc = pairs.sparkSession.sparkContext

    def _ckpt(df: DataFrame) -> tuple[DataFrame, set[int]]:
        """Eager localCheckpoint + the ids of the RDD blocks it pinned
        (delta of the context's persistent-RDD registry)."""
        before = {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}
        out = df.localCheckpoint(eager=True)
        after = {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}
        return out, after - before

    def _release(ids: set[int]) -> None:
        """Drop a finished round's checkpoint blocks. Safe ONLY after the
        next round is eagerly materialized — a localCheckpointed RDD has
        no lineage to recompute from once unpersisted."""
        reg = sc._jsc.getPersistentRDDs()
        for i in ids:
            rdd = reg.get(i)
            if rdd is not None:
                rdd.unpersist(False)

    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels, held = _ckpt(
        edges.select(F.col("a").alias("n"))
        .distinct()
        .select("n", F.col("n").alias("l"))
    )
    for _ in range(max_iters):
        prop = edges.join(
            labels.select(F.col("n").alias("b"), "l"), "b"
        ).select(F.col("a").alias("n"), "l")
        new, new_held = _ckpt(
            labels.union(prop).groupBy("n").agg(F.min("l").alias("l"))
        )
        changed = (
            new.alias("x")
            .join(labels.alias("y"), "n")
            .where(F.col("x.l") != F.col("y.l"))
            .limit(1)
            .count()
        )
        _release(held)
        labels, held = new, new_held
        if changed == 0:
            break
    edges.unpersist()
    out = labels.select(F.col("n").alias("id"), F.col("l").alias("cluster_id"))
    if all_ids is not None:
        ids = all_ids.select(F.col(all_ids.columns[0]).alias("id"))
        out = ids.join(out, "id", "left").withColumn(
            "cluster_id", F.coalesce("cluster_id", "id")
        )
    return out.withColumn("is_duplicate", F.col("id") != F.col("cluster_id"))


#: max estimated hot-span table bytes pinned as a broadcast for the
#: removal join; past this the exploded span stream shuffles instead
HOT_SPAN_BROADCAST_CAP_BYTES = 64 * 1024 * 1024


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
    min_docs: int | None = None,
    min_frac: float | None = None,
    broadcast_hot: bool | None = None,
    bounded_cache: bool = False,
) -> DataFrame:
    """C4-style cross-corpus boilerplate removal.

    Splits every document into spans on ``delimiter`` (lines by
    default), finds spans whose trimmed text occurs in at least
    ``min_docs`` DISTINCT documents (or ``ceil(min_frac * corpus
    size)`` when a fraction is given), and removes every occurrence of
    those spans from every document. Returns one row per input document:
    (id, text_clean, n_removed) — documents keep their row even when
    everything was removed (text_clean = '').

    This is the cross-document complement of the per-document Gopher
    repetition signals in :mod:`adam_spark.llm.text`: the C4 pipeline's
    "discard any line that appeared in more than one page" rule
    generalized to a span granularity and an occurrence threshold.

    Scale shape: the explode is a narrow map; span counting groups on
    ``md5(trim(span))`` — a fixed 32-byte shuffle key regardless of
    span length, with map-side partial aggregation (the distinct-doc
    count is a two-stage groupBy, never a count-distinct expand) — and
    the hot set (boilerplate spans) is small by nature, so the removal
    join back onto the exploded stream broadcasts it (measured-size
    decision with a shuffle fallback, same policy as the LSH verify
    join). Reassembly is one groupBy(id). Two unavoidable shuffles
    total at any corpus size. Collision caveat: two different spans
    sharing an md5 would be counted together — at 2^64 spans-scale
    probability, the same trade every content-hash dedup here makes.
    """
    if (min_docs is None) == (min_frac is None):
        raise ValueError("exactly one of min_docs / min_frac is required")
    import re as _re

    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    if min_docs is None:
        total = df.where(F.col(text_col).isNotNull()).count()
        min_docs = int(math.ceil(min_frac * total))
    spans = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), _re.escape(delimiter))).alias(
            "pos", "span"
        ),
    ).withColumn("lkey", F.md5(F.trim("span")))
    # two-stage distinct-doc count: (lkey, id) dedupe partially combines
    # map-side, then the per-key count is a plain partial-aggregated sum
    hot = (
        spans.where(F.trim("span") != "")
        .select("lkey", "id")
        .distinct()
        .groupBy("lkey")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= F.lit(int(min_docs)))
        .select("lkey")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_hot = hot.count()  # eager persist + size for the broadcast decision
    if broadcast_hot is None:
        broadcast_hot = n_hot * 64 <= HOT_SPAN_BROADCAST_CAP_BYTES
    maybe_bc = F.broadcast if broadcast_hot else (lambda x: x)
    flagged = spans.join(
        maybe_bc(hot.withColumn("__hot", F.lit(True))), "lkey", "left"
    )
    per_doc = flagged.groupBy("id").agg(
        F.sum(F.when(F.col("__hot"), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__hot").isNull(), F.struct("pos", "span"))
                    )
                ),
                lambda s: s["span"],
            ),
            delimiter,
        ).alias("text_clean"),
    )
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, hot)
    return out


def minhash_lsh_pairs_between(
    df_new: DataFrame,
    df_ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_ngram: int = 1,
    num_hashes: int = 128,
    bands: int = 64,
    threshold: float = 0.8,
    broadcast_candidates: bool | None = None,
    bounded_cache: bool = False,
) -> DataFrame:
    """Cross-corpus near-dup pairs: an incoming batch vs a reference
    corpus (incremental dedup — "is this new document already in the
    training set?").

    Same MinHash family, banding, and exact-Jaccard verification as
    :func:`minhash_lsh_pairs`, but the two sides are different frames
    and every (id_new, id_ref) pair is reported (no ordering
    constraint; ids may even coincide across corpora). Returns
    (id_new, id_ref, jaccard ≥ threshold).

    Scale shape: each side's signatures/bands are a narrow map over its
    own corpus; the band equi-join is the only corpus-sized shuffle.
    For the verify stage the plan is picked from measured sizes, the
    same policy as the self-join variant: when BOTH token tables fit
    the broadcast cap they broadcast and the candidate stream verifies
    as a pure map (no extra materialization at all — the common case
    for any corpus small enough to enumerate pairs over); otherwise
    the candidate list is deduped, persisted, counted, and — when slim
    enough — broadcast against the STREAMED reference token table, so
    the corpus-sized side is never shuffled or broadcast (the expected
    asymmetry: new batch ≪ reference corpus); past both caps
    (``broadcast_candidates=False``) the verify joins shuffle.
    """
    from pyspark.storagelevel import StorageLevel

    mk = word_ngrams(F.col(text_col), shingle_ngram) if shingle_ngram > 1 else (
        distinct_tokens(F.col(text_col))
    )
    # id-partition below the shingle projection + text-level emptiness
    # guard: see minhash_lsh_pairs
    _p = df_new.sparkSession.sparkContext.defaultParallelism
    _nonempty = has_min_tokens(F.col(text_col), max(1, shingle_ngram))
    base_n = df_new.where(_nonempty).repartition(_p, F.col(id_col)).select(
        F.col(id_col).alias("id"), mk.alias("sh")
    )
    base_r = df_ref.where(_nonempty).repartition(_p, F.col(id_col)).select(
        F.col(id_col).alias("id"), mk.alias("sh")
    )
    sh_n = base_n.select(
        F.col("id").alias("id_new"), F.col("sh").alias("sh_n"), F.size("sh").alias("n_n")
    )
    sh_r = base_r.select(
        F.col("id").alias("id_ref"), F.col("sh").alias("sh_r"), F.size("sh").alias("n_r")
    )
    inter = F.size(F.array_intersect(F.col("sh_n"), F.col("sh_r")))
    # Both strategies start from the slim per-side banded tables
    # (id, n, band-hash array — one row per doc, built by one signature
    # pass each, persisted): the broadcast-cap estimates read them
    # (replacing what used to be two extra full tokenize passes via
    # _estimate_shingle_bytes), the band equi-join explodes them, and
    # the broadcast-verify filters join them back.
    rpb = num_hashes // bands
    bh_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("signature"), j * F.lit(rpb) + 1, F.lit(rpb)),
                    lambda v: v.cast("string"),
                ),
            )
        ),
    )

    def _banded(base):
        b = (
            minhash_signatures(
                base, "id", F.col("sh"), num_hashes,
                with_size=True, repartition=False, prefiltered=True,
            )
            .select("id", "n", bh_arr.alias("bh"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # the _est aggregate below doubles as the eager materializer
        # (broadcast-branch consumers would race a lazy cache); the
        # shuffle branch consumes each side once, so lazy is safe there
        return b

    def _est(banded) -> int:
        st = banded.select(
            F.count(F.lit(1)).alias("docs"), F.sum("n").alias("toks")
        ).first()
        return int(st["toks"] or 0) * 16 + int(st["docs"] or 0) * 48

    banded_n = _banded(base_n)
    banded_r = _banded(base_r)
    est_n = _est(banded_n) if broadcast_candidates is None else None
    if broadcast_candidates is None and (
        est_n + _est(banded_r) <= VERIFY_BROADCAST_CAP_BYTES
    ):
        # both token tables broadcast: verify is a pure map over the raw
        # candidate stream, a pair kept only at its FIRST shared band —
        # one exact-Jaccard per pair, no dedup exchange (same trick as
        # the self-join variant).
        raw = (
            banded_n.select(F.col("id").alias("id_new"), F.posexplode("bh").alias("band", "band_hash"))
            .join(
                banded_r.select(F.col("id").alias("id_ref"), F.posexplode("bh").alias("band", "band_hash")),
                ["band", "band_hash"],
            )
            .select("id_new", "id_ref", "band")
        )
        # two-phase attach (see minhash_lsh_pairs: filter on slim
        # (n, bh) metadata first; token arrays attach to survivors only)
        slim_n = banded_n.select(
            F.col("id").alias("id_new"), F.col("n").alias("n_n"), F.col("bh").alias("bh_n")
        )
        slim_r = banded_r.select(
            F.col("id").alias("id_ref"), F.col("n").alias("n_r"), F.col("bh").alias("bh_r")
        )
        first_shared = _first_shared_band(F.col("bh_n"), F.col("bh_r"), bands)
        filtered = (
            raw.join(F.broadcast(slim_n), "id_new")
            .join(F.broadcast(slim_r), "id_ref")
            .where(_jaccard_length_ok(F.col("n_n"), F.col("n_r"), threshold)
                   & (F.col("band") == first_shared))
            .select("id_new", "id_ref", "n_n", "n_r")
        )
        out = (
            filtered.join(F.broadcast(sh_n.drop("n_n")), "id_new")
            .join(F.broadcast(sh_r.drop("n_r")), "id_ref")
            .withColumn("jaccard", inter / (F.col("n_n") + F.col("n_r") - inter))
            .where(F.col("jaccard") >= F.lit(threshold))
            .select("id_new", "id_ref", F.round("jaccard", 6).alias("jaccard"))
        )
        if bounded_cache:
            from adam_spark.llm.cache import eager_release

            return eager_release(out, banded_n, banded_r)
        return out
    # shuffle/fallback path: the band join reads the SAME persisted
    # banded tables (the signature UDF never runs twice per side)
    raw = (
        banded_n.select(F.col("id").alias("id_new"), F.posexplode("bh").alias("band", "band_hash"))
        .join(
            banded_r.select(F.col("id").alias("id_ref"), F.posexplode("bh").alias("band", "band_hash")),
            ["band", "band_hash"],
        )
        .select("id_new", "id_ref")
    )
    cand = raw.dropDuplicates(["id_new", "id_ref"]).persist(StorageLevel.MEMORY_AND_DISK)
    n_cand = cand.count()
    if broadcast_candidates is None:
        broadcast_candidates = n_cand * 32 <= VERIFY_BROADCAST_CAP_BYTES
    maybe_bc = F.broadcast if broadcast_candidates else (lambda x: x)
    # the new-side token table gets its own measured size decision —
    # an incremental batch is usually tiny, but nothing forces it to be
    if est_n is None:
        est_n = _est(banded_n)
    bc_new = broadcast_candidates and est_n <= VERIFY_BROADCAST_CAP_BYTES
    maybe_bc_new = F.broadcast if bc_new else (lambda x: x)
    out = (
        sh_r.join(maybe_bc(cand), "id_ref")
        .join(maybe_bc_new(sh_n), "id_new")
        .where(_jaccard_length_ok(F.col("n_n"), F.col("n_r"), threshold))
        .withColumn("jaccard", inter / (F.col("n_n") + F.col("n_r") - inter))
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_new", "id_ref", F.round("jaccard", 6).alias("jaccard"))
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, cand, banded_n, banded_r)
    return out


def remove_duplicate_substrings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
    stride: int = 1,
    min_docs: int = 2,
    broadcast_hot: bool | None = None,
    bounded_cache: bool = False,
) -> DataFrame:
    """Exact duplicate-substring removal (the character-level
    complement of :func:`remove_repeated_spans`, after Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").

    Every ``k``-char window starting at a ``stride``-aligned position is
    an anchor; anchors whose text occurs in at least ``min_docs``
    DISTINCT documents are duplicate evidence. Overlapping/adjacent hot
    anchors merge into spans (gaps-and-islands over a running max-end
    window), and the spans are cut from the text. Returns one row per
    input document: (id, text_clean, removed_chars).

    100 TB shape: the anchor explode is the dominant cost — O(chars /
    stride) rows, shuffled twice ((hash, doc) distinct then a map-side
    combined count; raise ``stride`` to trade recall for cost). The hot
    set is joined back via broadcast under HOT_SPAN_BROADCAST_CAP_BYTES
    with a shuffle-join fallback; the span merge reuses the per-doc
    partitioning from the join, and the text rebuild is one narrow
    ``aggregate`` over the collected span list — no driver collects, no
    UDFs, no suffix array (the full Lee et al. construction is
    replaced by stride-anchored hashing, which is exact for
    duplicated regions >= k + stride - 1 chars).
    """
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    npos = F.greatest(F.length("text") - F.lit(k - 1), F.lit(0))
    anchors = base.select(
        "id",
        "text",
        F.explode(
            F.when(
                npos >= 1, F.sequence(F.lit(1), npos, F.lit(stride))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("p"),
    ).select("id", "p", F.xxhash64(F.col("text").substr(F.col("p"), F.lit(k))).alias("h"))

    per_doc = anchors.select("h", "id").distinct()
    hot = (
        per_doc.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    if broadcast_hot is None:
        # persist before the sizing count: the anchors→distinct→groupBy
        # pipeline (two full shuffles) otherwise runs twice — once for
        # count() and again in the join (the remove_repeated_spans
        # treatment, dedup.py:648)
        from pyspark.storagelevel import StorageLevel

        hot = hot.persist(StorageLevel.MEMORY_AND_DISK)
        n_hot = hot.count()
        broadcast_hot = n_hot * 16 <= HOT_SPAN_BROADCAST_CAP_BYTES
    maybe_bc = F.broadcast if broadcast_hot else (lambda x: x)
    marks = anchors.join(maybe_bc(hot), "h").select("id", "p")

    w = Window.partitionBy("id").orderBy("p")
    prev_max_end = F.max(F.col("p") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = marks.withColumn(
        "brk", (F.col("p") > F.coalesce(prev_max_end, F.lit(-1))).cast("int")
    ).withColumn("g", F.sum("brk").over(w))
    spans = islands.groupBy("id", "g").agg(
        F.min("p").alias("s"), (F.max("p") + k).alias("e")
    )
    span_lists = spans.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans")
    )

    joined = base.join(span_lists, "id", "left")
    # fold the sorted spans left-to-right: acc carries the kept text so
    # far and the 1-based copy cursor
    acc0 = F.struct(F.lit("").alias("t"), F.lit(1).alias("pos"))
    folded = F.aggregate(
        F.col("spans"),
        acc0,
        lambda acc, sp: F.struct(
            F.concat(
                acc["t"], F.col("text").substr(acc["pos"], sp["s"] - acc["pos"])
            ).alias("t"),
            sp["e"].alias("pos"),
        ),
    )
    clean = F.when(
        F.col("spans").isNull(), F.col("text")
    ).otherwise(
        F.concat(
            folded["t"],
            F.col("text").substr(folded["pos"], F.length("text") - folded["pos"] + 1),
        )
    )
    out = joined.select(
        F.col("id").alias(id_col),
        clean.alias("text_clean"),
        (F.length("text") - F.length(clean)).cast("long").alias("removed_chars"),
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, hot)
    return out

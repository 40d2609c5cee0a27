"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Hashing is md5-derived (engine-portable, seed-free, deterministic): a
shingle's base hash is the first 15 hex digits of its md5 (60 bits, fits a
signed int64 in any engine), and the MinHash family is the classic
universal-hash construction h_i(x) = (a_i*x + b_i) mod p over that base.

Scale design (100 TB):
- shingling + hashing is a narrow map (codegen'd column ops);
- MinHash signatures reduce each doc to NUM_HASHES ints (groupBy doc);
- LSH banding turns all-pairs into an equi-join on (band, band_hash) —
  the only shuffle is by band key, and candidate verification touches
  only bucket-mates. Never do the naive all-pairs shingle join at scale;
  it is provided (ngram_jaccard_pairs) as the exact small-scale oracle
  and for verification of candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tables import memo_column

# Mersenne prime 2^31-1: (p-1)^2 + b < 2^63, so the universal-hash product
# never overflows int64 (Spark runs ANSI mode; overflow would throw).
MERSENNE_P = (1 << 31) - 1
NUM_HASHES = 64
BANDS = 16
ROWS_PER_BAND = NUM_HASHES // BANDS

# Deterministic universal-hash coefficients (seed-free: digits of pi/e-style
# constants are overkill; a fixed LCG keeps them reproducible everywhere).
def _coeffs(n: int, seed: int) -> list[int]:
    out, x = [], seed
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        out.append(x % (MERSENNE_P - 1) + 1)
    return out


HASH_A = _coeffs(NUM_HASHES, 7)
HASH_B = _coeffs(NUM_HASHES, 13)

# Scoped persist: pipelines persist the shared shingle scan so signatures /
# candidate join / sizes reuse it, but DataFrame persist() is never GC'd by
# Spark's ContextCleaner — in a long session each run would leak one cache
# entry. Each pipeline releases the previous run's entries on entry, keeping
# the outstanding cache count bounded at one pipeline's worth; callers can
# also call release_persisted() explicitly after materializing results.
_PERSISTED: list[DataFrame] = []


def _persist_scoped(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_persisted() -> None:
    """Unpersist every cache entry from prior dedup pipeline runs."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:
            pass  # session already stopped


def base_hash(col):
    """md5-prefix 60-bit integer hash of a string column (engine-portable:
    DuckDB `CAST('0x'||substr(md5(s),1,15) AS BIGINT)`)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _tokens(text_col):
    return F.filter(F.split(text_col, r"\s+"), lambda x: x != "")


def _shingles_from_tokens(toks, n: int):
    """Shingles from a token array column.

    The n-grams are the ``n`` shifted slices ``toks[k:k+count]`` zipped
    element-wise and joined with a space, so no lambda body references
    ``toks``. That matters because Catalyst does not CSE across lambda
    boundaries, and projecting the tokens first ("pass a projected
    column") does not keep them projected: when the text comes out of a
    Python UDF (``normalize_text``'s NFC step) and another Python UDF
    reads the shingles (the minhash signature), the optimizer inlines the
    split into the shingle expression, and a per-shingle
    ``slice(toks, i, n)`` lambda then re-tokenized the whole document
    once per shingle — O(tokens^2) per doc, measured 2.5-3.0 s against
    0.6-0.7 s for this form on a 1,549-doc corpus. The price is ``n``
    full-length slices and one ``n``-field struct per gram: at n = 3 this
    form is faster than the per-shingle slice on projected tokens, at
    n = 13 (decontamination) 6-10 % slower.

    Docs with fewer than n tokens yield an EMPTY array, guarded by
    ``count < 1`` because a slice length must stay positive (real corpora
    always contain short/empty documents). Known defect, kept so that
    the output stays bit-identical: a null token array yields ``[null]``
    (the ``coalesce``), not an empty array, so every null text carries
    the same one shingle and null texts match each other (recorded as a
    FOUND entry in CHANGES.md). A fix drops the ``coalesce`` and changes
    the pinned value in ``test_hashed_shingles_pinned_values``."""
    count = F.size(toks) - (n - 1)
    length = F.greatest(count, F.lit(1))
    # arrays_zip names the fields of unnamed inputs "0", "1", ...
    grams = F.transform(
        F.arrays_zip(*[F.slice(toks, k + 1, length) for k in range(n)]),
        lambda g: F.concat_ws(" ", *[g[str(k)] for k in range(n)]),
    )
    return F.when(count < 1, F.array().cast("array<string>")).otherwise(
        F.coalesce(
            F.array_distinct(grams), F.array(F.lit(None).cast("string"))
        )
    )


def word_shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles of a text column (array). For hot
    paths prefer ``hashed_shingles``, which carries 8-byte hashes instead
    of the shingle strings."""
    return _shingles_from_tokens(_tokens(text_col), n)


def empty_shingle_docs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Ids of docs with fewer than ``n`` tokens (empty shingle set). These
    are EXCLUDED from the LSH pipelines — an empty set can never reach
    Jaccard >= t for any t > 0, and keeping them is a scale hazard: every
    such doc shares the identical sentinel signature, so all of them land
    in the same bucket of every band and the banded self-join goes
    quadratic on that one hot key (millions of near-empty docs on a real
    crawl corpus). Use this helper to count/report the dropped docs."""
    return df.select(F.col(id_col), _tokens(F.col(text_col)).alias("__t")).filter(
        F.size("__t") < n
    ).select(id_col)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: canonical (min id) doc per md5(text).
    The md5 groupBy shuffles only (hash, id) pairs, never the text."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def hashed_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, array<long>) of distinct shingle hashes — ONE scan does
    tokenize + shingle + hash; every downstream consumer (signatures,
    join table, set sizes) reuses this instead of re-parsing the text.

    Shingles are carried as xxhash64 ints, not strings: joins shuffle
    8-byte keys and the hash is JVM-native (~free vs md5, measured ~35%
    of the shingle-pass cost). The hash never surfaces in results — the
    Jaccard oracle recomputes from raw strings — so engine portability
    doesn't apply; equality holds up to 64-bit collision probability."""
    # Both expression trees are memoized per SparkContext (r14, guide §5
    # driver overhead): they are pure functions of (column name, n) and
    # cost ~100 py4j round-trips to assemble per build otherwise.
    toks = memo_column(
        ("dedup.tokens", text_col), lambda: _tokens(F.col(text_col))
    )
    tokd = df.select(F.col(id_col), toks.alias("__toks"))
    sh = memo_column(
        ("dedup.hashed_shingles", n),
        lambda: F.transform(
            _shingles_from_tokens(F.col("__toks"), n), lambda s: F.xxhash64(s)
        ),
    )
    return tokd.select(F.col(id_col), sh.alias("shingles"))


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    return hashed_shingles(df, text_col, id_col, n).select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )


# Auto-dispatch threshold for distinct_content (r10, verdict #4): the
# measured sf0.1 crossover (SCALE.md) — at ~2x duplication id-level and
# distinct-content run within noise; above it the distinct pipeline wins
# and grows quadratically better with group size. Mirrors the unigram
# e_step='auto' pattern (llm/unigram.py): measure, then dispatch.
_DISTINCT_CONTENT_AUTO_THRESHOLD = 2.0


def _resolve_distinct_content(df: DataFrame, text_col: str, flag) -> bool:
    """Resolve a distinct_content flag of True/False/'auto'. 'auto' runs
    ONE cheap probe — count vs approx_count_distinct of xxhash64(text),
    a single scan with a partial-aggregated sketch, no shuffle of the
    texts — and turns the mode on when the duplication ratio reaches the
    measured crossover. The ~5% sketch error is immaterial against a 2x
    threshold, and the OUTPUT is flag-independent (bit-identical either
    way, pinned in tests): the probe only picks the cheaper plan."""
    if flag == "auto":
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(F.xxhash64(F.col(text_col))).alias("m"),
        ).collect()[0]
        return row["n"] >= _DISTINCT_CONTENT_AUTO_THRESHOLD * max(row["m"], 1)
    if isinstance(flag, str):
        # a typo like 'atuo' must not silently become True (the modes are
        # output-identical, so a mis-dispatch would hide forever)
        raise ValueError(
            f"distinct_content={flag!r}: expected True, False or 'auto'"
        )
    return bool(flag)


def _distinct_content_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    core,
    value_col: str,
    same_value,
    emit_same: bool = True,
    prebuilt_t: "DataFrame | None" = None,
):
    """Shared distinct_content scaffolding for the fuzzy-dedup family
    (r9): run a pair ``core`` over one representative per DISTINCT text,
    emit equal-text id pairs from an equi self-join, expand verified
    representative pairs back to id pairs.

    Every wide join here keys on ``md5(text)`` — the repo's established
    content identity (exact_dedup) — so shuffles carry 32-byte digests,
    not document bodies; at 100 TB re-keying the same-text and
    expansion joins off the raw text is the difference between
    shuffling hashes and shuffling the corpus twice.

    ``core(rep_df)`` receives (id_col, text_col) with one row per
    distinct text and returns ``(pairs, valid_ids)``: id-keyed pairs
    carrying ``value_col``, and the representative ids whose text is
    PAIRABLE (nonempty shingles / has tokens) — equal-text pairs are
    restricted to those, matching each id-level pipeline's
    degenerate-doc exclusion. ``emit_same=False`` suppresses the
    equal-text branch for pathological parameters under which the
    id-level run emits nothing.

    ``prebuilt_t``: the already-persisted (id, __t, __h) content table,
    when the caller materialized it for the 'auto' dispatch probe
    (optimization r14) — same definition, built once instead of
    twice."""
    t = prebuilt_t if prebuilt_t is not None else _persist_scoped(
        df.select(F.col(id_col), F.col(text_col).alias("__t"))
        .withColumn("__h", F.md5("__t"))
    )
    rep = _persist_scoped(
        t.groupBy("__h").agg(
            F.min(id_col).alias("__rid"), F.min("__t").alias("__t")
        )
    )
    pairs, valid_ids = core(
        rep.select(F.col("__rid").alias(id_col), F.col("__t").alias(text_col))
    )
    vh = rep.join(
        valid_ids.select(F.col(id_col).alias("__rid")), "__rid"
    ).select("__h")
    tv = t.join(vh, "__h")
    same = (
        tv.select(F.col(id_col).alias("id_a"), "__h")
        .join(tv.select(F.col(id_col).alias("id_b"), "__h"), "__h")
        .filter((F.col("id_a") < F.col("id_b")) & F.lit(bool(emit_same)))
        .select("id_a", "id_b", same_value.alias(value_col))
    )
    ra = rep.select(F.col("__rid").alias("id_a"), F.col("__h").alias("__ha"))
    rb = rep.select(F.col("__rid").alias("id_b"), F.col("__h").alias("__hb"))
    ia = t.select(F.col(id_col).alias("__xa"), F.col("__h").alias("__ha"))
    ib = t.select(F.col(id_col).alias("__xb"), F.col("__h").alias("__hb"))
    expanded = (
        pairs.join(ra, "id_a").join(rb, "id_b")
        .join(ia, "__ha").join(ib, "__hb")
        .select(
            F.least("__xa", "__xb").alias("id_a"),
            F.greatest("__xa", "__xb").alias("id_b"),
            value_col,
        )
    )
    return same.unionByName(expanded)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    distinct_content: "bool | str" = False,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard >= t) via
    prefix + length filtering (PPJoin-style; Chaudhuri et al. SSJoin /
    Vernica et al. MapReduce set-similarity — both public literature):

    - sort each doc's shingle-hash set under the global int order;
    - J(A,B) >= t implies |A∩B| >= t*max(|A|,|B|), so any qualifying pair
      must collide within the first `|X| - ceil(t*|X|) + 1` elements of
      each side (prefix-filter lemma) — the candidate join explodes ~20%
      of shingles at t=0.8 instead of all of them;
    - length filter t*|A| <= |B| <= |A|/t prunes size-incompatible pairs
      in the join condition;
    - exact verification via array_intersect on the full sorted arrays.

    LOSSLESS for threshold queries — output equals the naive all-pairs
    join (checked in tests). Still quadratic in the worst case; at 100 TB
    use minhash_lsh_candidates first and verify candidates only.

    ``distinct_content=True``: run the prefix filter once per DISTINCT
    text and expand back to id pairs, with equal-text pairs (jaccard
    1.0, restricted to nonempty-shingle texts) from one string
    equi-join — the same duplicate-group g^2 fix as minhash/edit
    distance, bit-identical output (every stage is a pure function of
    the text; pinned in tests). ``'auto'`` probes the corpus duplication
    ratio once and picks the mode; since r14 the probe aggregate rides
    the same job that materializes the content-table cache, so dispatch
    costs no standalone corpus pass (see inline comment).
    """
    if threshold <= 0:
        # Validate at the PPJoin entry with the right story (r13 advice):
        # the prefix-filter lemma needs t > 0 — at t <= 0 the prefix length
        # |X| - ceil(t*|X|) + 1 exceeds the set size, the "filter" is an
        # all-pairs join, and the old inline verify's t=0 output was
        # already lossy under it. Rejecting is the only honest answer.
        raise ValueError(
            "ngram_jaccard_pairs requires threshold > 0: the prefix-filter "
            "candidate join is only defined (and only lossless) for a "
            "positive threshold — at 0 every pair qualifies, which is an "
            "all-pairs enumeration, not a similarity query"
        )
    release_persisted()
    prebuilt_t = None
    if distinct_content == "auto":
        # Fused dispatch probe (optimization r14, r13 verdict #2 — guide
        # §1.2 fewer passes, §5 driver/jobs): the old 'auto' path ran a
        # STANDALONE probe job over the corpus (count vs
        # approx_count_distinct of a text hash) and then, having picked
        # distinct mode, scanned the corpus AGAIN to build the content
        # table — two corpus passes before any real work, plus a repeat
        # of any in-plan broadcast subqueries feeding the corpus (e.g.
        # the skew query's MAX(doc_id) offset scalar). Here the probe
        # aggregates over the persisted content table the distinct
        # branch needs anyway, so ONE job materializes the cache AND
        # returns the dispatch aggregate; the id-level branch reads the
        # same cache instead of re-deriving the corpus. The decision is
        # unchanged in kind (dup ratio = rows / approx distinct content
        # hashes; md5 here, xxhash64 before — both are content
        # cardinality, and the OUTPUT is flag-independent, so the probe
        # only ever picks between bit-identical plans).
        prebuilt_t = _persist_scoped(
            df.select(F.col(id_col), F.col(text_col).alias("__t"))
            .withColumn("__h", F.md5("__t"))
        )
        row = prebuilt_t.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("__h").alias("m"),
        ).collect()[0]
        distinct_content = (
            row["n"] >= _DISTINCT_CONTENT_AUTO_THRESHOLD * max(row["m"], 1)
        )
    else:
        distinct_content = _resolve_distinct_content(
            df, text_col, distinct_content
        )
    if distinct_content:

        def core(rep_df):
            pairs = _ngram_jaccard_pairs_core(
                rep_df, text_col, id_col, n, threshold
            )
            valid = (
                hashed_shingles(rep_df, text_col, id_col, n)
                .filter(F.size("shingles") > 0)
                .select(id_col)
            )
            return pairs, valid

        return _distinct_content_pairs(
            df, text_col, id_col, core,
            value_col="jaccard", same_value=F.lit(1.0),
            emit_same=float(threshold) <= 1.0,
            prebuilt_t=prebuilt_t,
        )
    src = df if prebuilt_t is None else prebuilt_t.select(
        F.col(id_col), F.col("__t").alias(text_col)
    )
    return _ngram_jaccard_pairs_core(src, text_col, id_col, n, threshold)


def _ngram_jaccard_pairs_core(
    df: DataFrame, text_col: str, id_col: str, n: int, threshold: float
) -> DataFrame:
    """The prefix-filtered pair join itself (no persist release — the
    public wrapper owns scope so distinct_content's tables survive)."""
    h = hashed_shingles(df, text_col, id_col, n)
    s = _persist_scoped(
        h.select(
            F.col(id_col),
            F.array_sort("shingles").alias("sh"),
            F.size("shingles").alias("n_sh"),
        )
    )
    plen = (F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1).cast("int")
    pref = s.select(F.col(id_col), F.col("n_sh"), F.explode(F.slice("sh", 1, plen)).alias("p"))
    a = pref.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"), "p")
    b = pref.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"), "p")
    cands = (
        a.join(b, "p")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_b").cast("double") >= threshold * F.col("n_a"))
            & (F.col("n_a").cast("double") >= threshold * F.col("n_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # shared verification tail; engine='arrow' here because the prefix
    # filter admits candidate volumes where the numpy intersect wins
    # (see _verify_jaccard_pairs — sorted arrays are still distinct,
    # which is all the numpy intersect relies on)
    sh_tbl = s.select(F.col(id_col), F.col("sh").alias("shingles"))
    return _verify_jaccard_pairs(
        cands, sh_tbl, sh_tbl, id_col, threshold, engine="arrow"
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature: sig[i] = min over shingles of
    (a_i*h + b_i) mod p. Computed entirely as array algebra on the shingle
    array — one narrow projection per doc, no explode, no shuffle."""
    return minhash_signatures_from_hashed(
        hashed_shingles(df, text_col, id_col, n), id_col
    )


def minhash_signature_col(shingles_col, engine: str = "arrow"):
    """The MinHash signature as a COLUMN over an array<long> shingle
    column (optimization r13): lets a pipeline persist ONE
    (id, shingles, signature) table — one cache build, one pass — where
    attaching signatures via ``minhash_signatures_from_hashed`` + join
    took a second persist and an extra join job. Empty arrays yield the
    sentinel signature (every entry MERSENNE_P), same as before."""
    if engine == "arrow":
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        p_u = np.uint64(MERSENNE_P)
        p_i = np.int64(MERSENNE_P)
        a_vec = np.asarray(HASH_A, dtype=np.uint64)
        b_vec = np.asarray(HASH_B, dtype=np.uint64)
        sentinel = [int(MERSENNE_P)] * NUM_HASHES

        def np_sig(shingles: pd.Series) -> pd.Series:
            def one(arr):
                if arr is None or len(arr) == 0:
                    return sentinel
                x = np.asarray(arr, dtype=np.int64) % p_i  # pmod: xxhash64 is signed
                x = np.where(x < 0, x + p_i, x).astype(np.uint64)
                m = (x[:, None] * a_vec[None, :] + b_vec[None, :]) % p_u
                return m.min(axis=0).astype(np.int64).tolist()

            return shingles.map(one)

        np_sig.__annotations__ = {"shingles": pd.Series, "return": pd.Series}
        sig_udf = pandas_udf("array<long>")(np_sig)
        return sig_udf(shingles_col)

    ab = F.array(
        *[
            F.struct(
                F.lit(HASH_A[i]).cast("long").alias("a"),
                F.lit(HASH_B[i]).cast("long").alias("b"),
            )
            for i in range(NUM_HASHES)
        ]
    )
    return F.aggregate(
        shingles_col,
        F.array_repeat(F.lit(MERSENNE_P).cast("long"), NUM_HASHES),
        lambda acc, x: F.zip_with(
            acc,
            ab,
            # pmod: xxhash64 values are signed; % would keep the sign
            lambda m, c: F.least(m, (F.pmod(x, MERSENNE_P) * c["a"] + c["b"]) % MERSENNE_P),
        ),
    )


def minhash_signatures_from_hashed(
    h: DataFrame, id_col: str = "doc_id", engine: str = "arrow"
) -> DataFrame:
    """Signatures from a precomputed (id, array<long> shingles) frame.

    engine='arrow' (default): vectorized numpy inside an Arrow pandas UDF
    — the (n_shingles x NUM_HASHES) min-hash matrix is one uint64
    broadcast multiply (all operands are 31-bit, so products stay under
    2^62 — native machine arithmetic, no bignum). Measured 2.3x the
    Catalyst fold at sf0.1; bit-identical output (pinned in tests).

    engine='sql': the pure-JVM single fold over the shingle array
    updating all NUM_HASHES minima per step. Kept for UDF-free
    deployments. (The third option — NUM_HASHES separate
    array_min(transform(...)) columns — re-evaluates the shingle
    pipeline per hash function: 64x the work; rejected by measurement.)
    """
    return h.select(
        F.col(id_col),
        minhash_signature_col(F.col("shingles"), engine).alias("signature"),
    )


def _banded_buckets(sigs: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bucket) — one row per LSH band per signature, the
    banded-join side shared by the self-join pipeline
    (minhash_lsh_candidates) and the bipartite corpus-vs-eval form
    (llm/decontaminate.fuzzy_contamination_pairs). The join key is
    (band, raw slice array): Spark hash-partitions array keys natively,
    so hashing the slice to a scalar first is pure overhead (measured
    2x slower). Callers filter sentinel signatures FIRST."""
    # BANDS structs = ~250 py4j calls to assemble; memoized per
    # SparkContext (r14, guide §5) — pure function of the band constants
    bands = memo_column(
        ("dedup.banded_buckets", BANDS, ROWS_PER_BAND),
        lambda: F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice(
                            "signature", b * ROWS_PER_BAND + 1, ROWS_PER_BAND
                        ).alias("bucket"),
                    )
                    for b in range(BANDS)
                ]
            )
        ),
    )
    return sigs.select(F.col(id_col), bands.alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_candidates(
    sigs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """LSH banding: docs sharing any band's signature slice become
    candidate pairs. The join key is (band, raw slice array) — Spark
    hash-partitions array keys natively, so hashing the slice to a scalar
    first (md5/xxhash) is pure overhead (measured 2x slower); the shuffle
    carries ~docs*BANDS rows of 4 longs either way.

    Docs whose shingle set was EMPTY carry the untouched sentinel
    signature (every entry == MERSENNE_P — real minima are always < p, so
    the first entry identifies them exactly). They are filtered out here:
    they can never verify at any positive threshold, and at corpus scale
    the shared sentinel is a quadratic hot bucket in every band (K
    short/empty docs -> K^2 candidate pairs through one task)."""
    sigs = sigs.filter(F.col("signature")[0] != MERSENNE_P)
    buckets = _banded_buckets(sigs, id_col)
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    distinct_content: "bool | str" = False,
) -> DataFrame:
    """MinHash+LSH near-dup pipeline: signatures -> banded candidates ->
    exact Jaccard verification of candidates only. The hashed-shingle
    array is computed once and shared by signatures, verification join
    and set sizes.

    Docs with an empty shingle set (< n tokens) are dropped up front —
    they cannot appear in any qualifying pair (Jaccard against an empty
    set is 0) and their shared sentinel signature would otherwise be a
    quadratic hot bucket in the banded self-join (see
    minhash_lsh_candidates / empty_shingle_docs, which reports them).

    ``distinct_content=True`` (r9, the edit-distance lesson applied to
    LSH): identical texts have identical signatures, so every group of g
    byte-equal documents collides in EVERY band and pays g^2 candidate
    rows + g^2 verifications at the id level. This mode runs the whole
    shingle->signature->band->verify pipeline over one representative
    per DISTINCT text, emits equal-text id pairs (jaccard 1.0) from one
    string equi self-join, and expands verified representative pairs
    back to id pairs — output BIT-IDENTICAL to the id-level run (the
    signature is a pure function of the text; pinned in tests), cost
    keyed on content cardinality. Default off: on low-duplicate corpora
    the extra distinct + expansion joins are pure overhead; turn it on
    for raw crawl snapshots and anything downstream of a mirror-heavy
    source — or pass ``'auto'`` (r10) to probe the corpus duplication
    ratio once and dispatch at the measured crossover (see
    _resolve_distinct_content)."""
    release_persisted()
    distinct_content = _resolve_distinct_content(df, text_col, distinct_content)
    if distinct_content:
        # one representative per distinct text: the pipeline's output
        # over representatives is the id-level output restricted to them
        # because every stage is a pure function of the text; equal-text
        # pairs (jaccard exactly 1.0) are restricted to texts with a
        # nonempty shingle set, matching the id-level empty-shingle drop

        def core(rep_df):
            h_rep = _persist_scoped(
                hashed_shingles(rep_df, text_col, id_col, n).withColumn(
                    "signature", minhash_signature_col(F.col("shingles"))
                )
            )
            pairs = _minhash_pairs_from_hashed(h_rep, id_col, threshold)
            valid = h_rep.filter(F.size("shingles") > 0).select(id_col)
            return pairs, valid

        return _distinct_content_pairs(
            df, text_col, id_col, core,
            value_col="jaccard", same_value=F.lit(1.0),
            # pathological threshold > 1: the id-level run emits
            # nothing, so neither may the equal-text branch
            emit_same=float(threshold) <= 1.0,
        )
    # Filter AFTER the persist: a filter on size(shingles) upstream of the
    # materialization makes Catalyst evaluate the (expensive) shingle
    # expression twice — predicate pushdown + projection collapse inline
    # the array expression into both the filter and the output, and there
    # is no CSE across them (measured 2x the whole query at sf0.1). On the
    # persisted table the size check is a cheap scan of materialized
    # arrays. The signature rides the SAME cache (r13 single-cache
    # shape): one build job materializes shingles + signatures together
    # instead of a second signature persist reading the first cache.
    h_all = _persist_scoped(
        hashed_shingles(df, text_col, id_col, n).withColumn(
            "signature", minhash_signature_col(F.col("shingles"))
        )
    )
    return _minhash_pairs_from_hashed(h_all, id_col, threshold)


def _verify_jaccard_pairs(
    cands: DataFrame, ha: DataFrame, hb: DataFrame, id_col: str,
    threshold: float, engine: str = "sql",
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    two (id, shingles) frames: fetch both DISTINCT shingle arrays by id
    and intersect per row (the ngram_jaccard_pairs form).

    This replaced the round-3 explode-join verification
    (cands ⋈ explode(shingles) on id_a, then on (id_b, shingle), then a
    count groupBy): that shape shuffled the ENTIRE exploded shingle table
    on (id_b, shingle) — every shingle of every doc as its own row —
    regardless of how few candidates banding produced. Here the corpus
    crosses the wire as one array row per doc, only twice-joined by id
    (AQE broadcasts the candidate side when it is small). Requires
    threshold > 0: candidate pairs with zero common shingles now appear
    with jaccard 0.0 before the filter, where the explode form dropped
    them in the count groupBy.

    ``engine='arrow'`` (optimization r13, the r4 Arrow-kernel pattern):
    the per-pair intersection SIZE is computed by numpy
    (``np.intersect1d(assume_unique=True)`` — shingle arrays are
    array_distinct by construction; uniqueness holds for the shingle
    STRINGS pre-hash, so a 64-bit xxhash64 collision *within one doc*
    would double-count where array_intersect's set semantics would not —
    covered by the repo's existing xxhash64-collision disclaimer in
    hashed_shingles, same probability class) over Arrow batches. Measured 1.52 ->
    0.94 s on the sf0.1 PPJoin verify stage (81,635 candidates): the
    JVM's codegen ``array_intersect`` allocates a per-row hash set and
    materializes the intersection ARRAY only to take its size, where the
    numpy path does one C sort-merge per pair and returns the count.
    Work stays per-candidate and partition-parallel; only
    (id_a, id_b, counts) leave the Python worker, and the jaccard is the
    same double division of the same exact integers afterwards, so the
    output is bit-identical (pinned in tests).

    The DEFAULT stays ``'sql'`` because the win is candidate-volume
    dependent (interleaved full-query ABAB, r13): the PPJoin prefix
    filter admits tens of thousands of candidates per corpus and gains
    ~25% end-to-end from 'arrow', while MinHash BANDING emits few
    candidates and the fixed Arrow-stage cost (worker round-trip +
    shipping both shingle arrays) made the LSH queries ~8-10% SLOWER —
    so the prefix-filter caller opts in explicitly and the LSH tails
    keep the codegen form."""
    if threshold <= 0:
        raise ValueError(
            "minhash verification requires threshold > 0: at 0 every banding "
            "candidate passes (including zero-overlap pairs), which is an "
            "enumeration of LSH collisions, not a similarity result — use "
            "minhash_lsh_candidates directly for that"
        )
    if engine not in ("arrow", "sql"):
        raise ValueError(f"engine={engine!r}: expected 'arrow' or 'sql'")
    sa = ha.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("__sa"))
    sb = hb.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("__sb"))
    joined = cands.join(sa, "id_a").join(sb, "id_b")
    if engine == "arrow":
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import LongType, StructField, StructType

        def isect(it):
            for pdf in it:
                m = len(pdf)
                common = np.empty(m, dtype=np.int64)
                na = np.empty(m, dtype=np.int64)
                nb = np.empty(m, dtype=np.int64)
                for i, (x, y) in enumerate(zip(pdf["__sa"], pdf["__sb"])):
                    common[i] = np.intersect1d(x, y, assume_unique=True).size
                    na[i] = len(x)
                    nb[i] = len(y)
                yield pd.DataFrame(
                    {"id_a": pdf["id_a"], "id_b": pdf["id_b"],
                     "__c": common, "__na": na, "__nb": nb}
                )

        schema = StructType(
            [
                StructField("id_a", joined.schema["id_a"].dataType),
                StructField("id_b", joined.schema["id_b"].dataType),
                StructField("__c", LongType()),
                StructField("__na", LongType()),
                StructField("__nb", LongType()),
            ]
        )
        raw = joined.select("id_a", "id_b", "__sa", "__sb").mapInPandas(
            isect, schema
        )
        jac = F.col("__c").cast("double") / (
            F.col("__na") + F.col("__nb") - F.col("__c")
        ).cast("double")
        return raw.select("id_a", "id_b", jac.alias("jaccard")).filter(
            F.col("jaccard") >= threshold
        )
    common = F.size(F.array_intersect("__sa", "__sb"))
    jac = common.cast("double") / (
        F.size("__sa") + F.size("__sb") - common
    ).cast("double")
    return joined.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _minhash_pairs_from_hashed(
    h_all: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Shared LSH tail: (id, shingles array) -> verified near-dup pairs.

    If ``h_all`` already carries a ``signature`` column (the r13
    single-cache shape: the caller persisted ONE (id, shingles,
    signature) table), banding reads it straight from that cache —
    no second persist, no extra cache-build job. Otherwise (e.g. the
    bucketed shingle index, which stores shingles only) the signatures
    are computed and pinned separately as before: without a persist both
    sides of the banded self-join re-run the signature fold (measured
    ~1.4 s/side at sf0.1). Empty-shingle docs carry the sentinel
    signature either way and are dropped by minhash_lsh_candidates'
    existing sentinel filter."""
    h = h_all.filter(F.size("shingles") > 0)
    if "signature" in h_all.columns:
        sigs = h_all.select(id_col, "signature")
    else:
        sigs = _persist_scoped(minhash_signatures_from_hashed(h, id_col))
    cands = minhash_lsh_candidates(sigs, id_col)
    return _verify_jaccard_pairs(cands, h, h, id_col, threshold)


def write_shingle_index(
    df: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Materialize the per-doc hashed-shingle index as a BUCKETED managed
    table keyed on the id — write once, dedup many. Every later dedup
    round over the same corpus (different threshold, band config, or an
    incremental batch joined against the corpus) reads this table instead
    of re-running tokenize+shingle+xxhash over the raw text, and joins
    keyed on the id (Jaccard verify, size lookup, incremental
    corpus-vs-batch checks) start from bucket-aligned partitioning — the
    corpus side needs no Exchange (proved in tests/test_plans.py)."""
    (
        hashed_shingles(df, text_col, id_col, n)
        .write.mode(mode)
        .bucketBy(buckets, id_col)
        .sortBy(id_col)
        .saveAsTable(table)
    )


def minhash_dedup_pairs_from_index(
    spark, table: str, id_col: str = "doc_id", threshold: float = 0.8
) -> DataFrame:
    """MinHash+LSH near-dup pairs reading a bucketed shingle index written
    by ``write_shingle_index`` — identical output to
    ``minhash_dedup_pairs`` (pinned in tests) with zero text re-scans:
    the plan contains no tokenize/xxhash at all."""
    release_persisted()
    return _minhash_pairs_from_hashed(spark.table(table), id_col, threshold)


def minhash_batch_vs_corpus_pairs(
    batch: DataFrame,
    corpus_hashed: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """INCREMENTAL dedup: near-dup pairs between a NEW batch and an
    existing corpus (batch id = id_a, corpus id = id_b) — the daily-crawl
    shape at 100 TB. The corpus side is a precomputed (id, shingles)
    frame (pass ``spark.table(index)`` from write_shingle_index to skip
    the corpus text entirely); only the BATCH is tokenized. Banding joins
    batch signatures against corpus signatures (never corpus x corpus),
    so work scales with |batch| x collision rate, not corpus^2; the
    Jaccard verify touches only candidate corpus rows."""
    release_persisted()
    hb_all = _persist_scoped(hashed_shingles(batch, text_col, id_col, n))
    hb = hb_all.filter(F.size("shingles") > 0)
    hc = corpus_hashed.filter(F.size("shingles") > 0)
    sig_b = _persist_scoped(minhash_signatures_from_hashed(hb, id_col))
    sig_c = minhash_signatures_from_hashed(hc, id_col)

    def banded(sigs: DataFrame, out_id: str) -> DataFrame:
        sigs = sigs.filter(F.col("signature")[0] != MERSENNE_P)
        bands = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice(
                            "signature", b * ROWS_PER_BAND + 1, ROWS_PER_BAND
                        ).alias("bucket"),
                    )
                    for b in range(BANDS)
                ]
            )
        )
        return sigs.select(F.col(id_col).alias(out_id), bands.alias("bb")).select(
            out_id, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )

    cands = (
        banded(sig_b, "id_a")
        .join(banded(sig_c, "id_b"), ["band", "bucket"])
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_jaccard_pairs(cands, hb, hc, id_col, threshold)


SIMHASH_BITS = 48  # of the 60-bit base hash; stays clear of int64 sign


def simhash(text_col, engine: str = "arrow") -> "F.Column":
    """SimHash over whitespace tokens: per-bit majority vote of token
    hashes, packed into SIMHASH_BITS. A doc with NO tokens gets simhash 0
    (no votes) — per-doc value semantics keep every row, but the pair
    search (simhash_near_pairs) excludes token-less docs so they don't
    all collide on the zero signature.

    engine='arrow' (default): hashlib.md5 (identical to SQL md5) with a
    per-batch distinct-token memo + one numpy bit matrix per doc —
    measured 2.6x the interpreted Catalyst fold at sf0.1, bit-identical
    (pinned in tests). engine='sql': pure-JVM array algebra."""
    if engine == "arrow":
        return _simhash_arrow(_tokens(text_col))
    return _simhash_from_tokens(_tokens(text_col))


def _simhash_arrow(toks_col) -> "F.Column":
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bits = np.arange(SIMHASH_BITS, dtype=np.uint64)

    def sh(toks: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}

        def hval(t: str) -> int:
            v = memo.get(t)
            if v is None:
                # == conv(substring(md5(t),1,15),16,10): first 15 hex chars
                v = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                memo[t] = v
            return v

        def one(arr):
            if arr is None or len(arr) == 0:
                return 0
            hs = np.fromiter((hval(t) for t in arr), dtype=np.uint64, count=len(arr))
            b = ((hs[:, None] >> bits[None, :]) & np.uint64(1)).astype(np.int64)
            votes = b.sum(axis=0) * 2 - len(arr)
            return int(((votes > 0).astype(np.uint64) << bits).sum())

        return toks.map(one)

    sh.__annotations__ = {"toks": pd.Series, "return": pd.Series}
    return pandas_udf("long")(sh)(toks_col)


def _simhash_from_tokens(toks) -> "F.Column":
    """SimHash from an already-materialized token array column (projected
    once by callers that also need the token count — Catalyst does not CSE
    the split across lambda boundaries)."""
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    # Single fold updating all SIMHASH_BITS vote counters per token hash —
    # one md5 per token (vs. SIMHASH_BITS re-evaluations if each bit were
    # its own F.aggregate over the inlined token pipeline). Bit tests use
    # literal masks (h & (1<<b)) since shift amounts must be literals.
    masks = F.array(
        *[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS)]
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda v, m: v + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(F.col(id_col), simhash(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    distinct_content: "bool | str" = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded: split the
    signature into max_hamming+1 chunks — any pair within distance k shares
    at least one exact chunk (pigeonhole), so candidates come from an
    equi-join on (chunk_idx, chunk_value), never all-pairs.

    Docs with zero tokens are excluded BEFORE banding: they all share
    simhash 0 (no votes), which at corpus scale is a quadratic hot bucket
    in every chunk — and a pair of empty docs is exact-dedup territory
    (md5), not a near-dup signal. Matches the SQL oracle, where token-less
    docs vanish at the unnest. empty_shingle_docs(df, n=1) reports them.

    ``distinct_content=True``: identical texts share every chunk, so a
    group of g byte-equal docs is a g^2 bucket in all max_hamming+1
    bands. Band once per DISTINCT text, emit equal-text id pairs
    (hamming 0) from one string equi-join (zero-token texts excluded,
    matching the id-level filter), expand verified pairs back to ids —
    bit-identical output (the simhash is a pure function of the text;
    pinned in tests). Same fix as minhash/jaccard/edit distance.
    ``'auto'`` probes the corpus duplication ratio once and dispatches
    at the measured crossover (see _resolve_distinct_content)."""
    release_persisted()
    distinct_content = _resolve_distinct_content(df, text_col, distinct_content)
    if distinct_content:

        def core(rep_df):
            pairs = _simhash_near_pairs_core(
                rep_df, text_col, id_col, max_hamming
            )
            # pairable = has at least one token (the rlike filter the
            # id-level path applies before banding)
            valid = rep_df.filter(F.col(text_col).rlike(r"\S")).select(id_col)
            return pairs, valid

        return _distinct_content_pairs(
            df, text_col, id_col, core,
            value_col="hamming",
            same_value=F.lit(0).cast("integer"),
            emit_same=int(max_hamming) >= 0,
        )
    return _simhash_near_pairs_core(df, text_col, id_col, max_hamming)


def _simhash_near_pairs_core(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int
) -> DataFrame:
    """The banded Hamming join itself (no persist release — the public
    wrapper owns scope so distinct_content's tables survive)."""
    chunks = max_hamming + 1
    width = SIMHASH_BITS // chunks
    # The zero-token filter is `text RLIKE '\S'` — EXACTLY equivalent to
    # size(tokens) > 0 for the `\s+` tokenizer (trim() would miss tabs/
    # newlines: it strips spaces only), and it keeps the token/simhash
    # expression out of the predicate: filtering on size(__toks) would
    # make Catalyst inline the tokenization into both the filter and the
    # simhash projection (no CSE across them; measured +14% on this query
    # at sf0.1).
    # Persist the simhash table: both sides of the banded self-join read
    # it, and without the persist each side re-runs tokenize+simhash over
    # the corpus (measured ~1.1 s/side at sf0.1 — same shape as the
    # persisted MinHash signature table).
    sh = _persist_scoped(
        simhash_table(df.filter(F.col(text_col).rlike(r"\S")), text_col, id_col)
    )
    pieces = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("chunk"),
                    F.shiftright(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("val"),
                )
                for i in range(chunks)
            ]
        )
    )
    banded = sh.select(id_col, "simhash", pieces.alias("p")).select(
        id_col, "simhash", F.col("p.chunk").alias("chunk"), F.col("p.val").alias("val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        # hamming filter BEFORE the distinct: the filter is per-row and
        # drops most candidates, so the dedup shuffle carries only
        # qualifying pairs (a pair can match in several chunks)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def paragraph_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep_regex: str = r"\n{2,}",
) -> DataFrame:
    """(id, para_idx, para): documents split into paragraphs, order
    preserved. Pure per-row array algebra — no shuffle."""
    paras = F.filter(
        F.transform(F.split(F.col(text_col), sep_regex), lambda p: F.trim(p)),
        lambda p: p != "",
    )
    return df.select(F.col(id_col), F.posexplode(paras).alias("para_idx", "para"))


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep_regex: str = r"\n{2,}",
    keep_col: str = "keep",
    engine: str = "full",
) -> DataFrame:
    """CCNet/Dolma-style paragraph-level exact dedup: a paragraph survives
    only at its FIRST corpus occurrence (ordered by (id, para_idx));
    later repeats — boilerplate headers, license blocks, navigation — are
    marked keep=false. Returns (id, para_idx, para, keep).

    Scale shape: the only data-scale shuffle clusters by md5(paragraph),
    so the window state per key is the tiny duplicate set of ONE
    paragraph — hash-distributed, no global ordering anywhere.

    engine='full' (default): the paragraph TEXT rides the md5 shuffle
    once — fewest stages, right when paragraphs are small relative to
    row overhead. engine='slim' (round 6): only (id, para_idx, md5)
    rides the md5-window shuffle; text is re-joined from the paragraph
    table over an id-repartition — the join clusters by id, which
    ``paragraph_dedup_rebuild``'s groupBy(id) then REUSES, so at corpus
    scale text crosses the wire ONCE (the id repartition) instead of
    twice (md5 window + rebuild groupBy). Choose 'slim' when paragraph
    text volume dominates the shuffle (SCALE.md has measured
    shuffle-bytes at 1x/2x/4x). Output pinned identical across engines."""
    from pyspark.sql import Window

    paras = paragraph_table(df, text_col, id_col, sep_regex)
    if engine == "slim":
        slim = paras.select(
            F.col(id_col), "para_idx", F.md5("para").alias("__pmd5")
        )
        w = Window.partitionBy("__pmd5").orderBy(id_col, "para_idx")
        marked = slim.withColumn(
            keep_col, F.row_number().over(w) == 1
        ).select(id_col, "para_idx", keep_col)
        # id-clustered join: hashpartitioning(id) satisfies the join's
        # (id, para_idx) clustering, so no further exchange here or in a
        # downstream groupBy(id) — text crosses the wire exactly once
        p = paras.repartition(F.col(id_col))
        m = marked.repartition(F.col(id_col))
        return p.join(m, [id_col, "para_idx"]).select(
            id_col, "para_idx", "para", keep_col
        )
    w = Window.partitionBy(F.md5("para")).orderBy(id_col, "para_idx")
    return paras.withColumn(
        keep_col, F.row_number().over(w) == 1
    )


def _rebuild_text_agg(text_col: str, joiner: str):
    """The document-reconstruction aggregate shared by batch
    ``paragraph_dedup_rebuild`` and the streaming paragraph store
    (streaming/llm.py) — ONE definition so their pinned equality cannot
    drift: kept (para_idx, para) structs sorted by index, paragraphs
    joined with ``joiner``."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("para_idx", "para"))),
            lambda s: s["para"],
        ),
        joiner,
    ).alias(text_col)


def paragraph_dedup_rebuild(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep_regex: str = r"\n{2,}",
    joiner: str = "\n\n",
    engine: str = "full",
) -> DataFrame:
    """Rewrite each document keeping only first-occurrence paragraphs.
    Documents whose every paragraph was seen before are ABSENT from the
    output (they have nothing left — the usual pipeline wants them
    dropped anyway). Order within a doc is preserved. With
    engine='slim' the groupBy(id) below reuses the dedup join's id
    partitioning — text shuffles once end to end."""
    marked = paragraph_dedup(df, text_col, id_col, sep_regex, engine=engine)
    kept = marked.filter(F.col("keep"))
    return kept.groupBy(id_col).agg(_rebuild_text_agg(text_col, joiner))


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
    min_count: int = 2,
    engine: str = "arrow",
) -> DataFrame:
    """Substring-level duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — public paper): every
    position where an n-token window's text occurs >= min_count times in
    the corpus. Returns (id, start_idx, gram_hash, n_dups) for flagged
    spans; callers mask/cut those spans or drop documents dominated by
    them.

    Spark-first topology instead of the paper's suffix array: hashed
    sliding windows (per-row array algebra, no shuffle) and ONE shuffle
    clustering by gram hash, with the count as a window function over
    that same partitioning — no join, no second exchange. Linear in
    corpus tokens and hash-distributed, so it scales to 100 TB where a
    global suffix array cannot."""
    from pyspark.sql import Window

    if engine == "arrow":
        # hashlib.md5 == SQL md5, so the window build + hash moves into an
        # Arrow batch (round-4 lesson: interpreted Catalyst lambdas lose
        # to vectorized Python for genuine per-element string work;
        # measured ~3x here at sf0.1). Bit-identical to engine='sql'
        # (pinned in tests).
        import hashlib
        import re as _re

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        ws = _re.compile(r"\s+")

        def win_hashes(texts):
            def one(t):
                if t is None:
                    return []
                toks = [x for x in ws.split(t.strip()) if x]
                if len(toks) < n:
                    return []
                return [
                    hashlib.md5(" ".join(toks[i : i + n]).encode()).hexdigest()
                    for i in range(len(toks) - n + 1)
                ]

            return texts.map(one)

        win_hashes.__annotations__ = {"texts": pd.Series, "return": pd.Series}
        grams = pandas_udf("array<string>")(win_hashes)(F.col(text_col))
    else:
        toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != "")
        grams = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.md5(F.array_join(F.slice(toks, i + 1, n), " ")),
            ),
        ).otherwise(F.array().cast("array<string>"))
    hashed = df.select(
        F.col(id_col), F.posexplode(grams).alias("start_idx", "gram_hash")
    )
    w = Window.partitionBy("gram_hash")
    return (
        hashed.withColumn("n_dups", F.count(F.lit(1)).over(w))
        .filter(F.col("n_dups") >= int(min_count))
        .select(id_col, F.col("start_idx").cast("int"), "gram_hash",
                F.col("n_dups").cast("bigint"))
    )


def duplicate_span_intervals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
    min_count: int = 2,
    engine: str = "arrow",
) -> DataFrame:
    """MAXIMAL duplicated spans (round 6): merge the flagged n-token
    windows of ``duplicate_ngram_spans`` into per-document maximal
    intervals — the removal unit of Lee et al. 2022 (a duplicated
    passage longer than n tokens flags n' - n + 1 overlapping windows;
    the merged interval recovers the passage). Window [s, s+n) merges
    with the next start s' iff s' - s <= n (overlap or adjacency), the
    classic gaps-and-islands fold. Returns (id, span_start, span_end,
    span_len) with span_end exclusive.

    Scale shape: one additional exchange beyond the gram clustering —
    the lag window, the island cumsum, and the island groupBy all ride
    the same hashpartitioning(id) (prefix rule; the fold itself is the
    shared merge_start_intervals)."""
    spans = duplicate_ngram_spans(
        df, text_col, id_col, n, min_count, engine
    ).select(id_col, "start_idx")
    return merge_start_intervals(spans, id_col, n)


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
    min_count: int = 2,
    engine: str = "arrow",
) -> DataFrame:
    """Rewrite each document DROPPING the tokens inside its maximal
    duplicated spans (the Lee et al. substring-removal stage;
    complements document-level MinHash and paragraph dedup). Documents
    whose every token sits in a duplicated span are ABSENT from the
    output (nothing left), matching paragraph_dedup_rebuild's contract;
    span-free documents pass through with whitespace normalized (single
    spaces — the same tokenization the span detector used). All non-text
    columns are preserved (pipeline stages downstream keep their
    metadata; recompute token counts after removal if they must reflect
    the rewritten text).

    The interval table is span-rows-sized (far below corpus scale); it
    re-joins the corpus on id and the token filter is per-row array
    algebra — one corpus-scale shuffle for the join beyond the interval
    build."""
    iv = duplicate_span_intervals(df, text_col, id_col, n, min_count, engine)
    return remove_interval_tokens(df, iv, text_col, id_col)


def remove_interval_tokens(
    df: DataFrame, iv: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Rewrite each document of ``df`` dropping the tokens inside its
    ``iv`` intervals ((id, span_start, span_end), token-indexed,
    end-exclusive) — the shared removal stage behind
    remove_duplicate_spans and decontaminate.decontaminate_spans (r10).
    Documents whose every token is covered are ABSENT from the output;
    interval-free documents pass through whitespace-normalized (single
    spaces — the tokenization the span detectors use). Non-text columns
    are preserved. Zero-token documents (empty / whitespace-only text)
    are also absent — the size(kept) > 0 filter doesn't distinguish
    "nothing survived" from "nothing to begin with", and the driver
    oracles agree by construction (string_agg over zero kept rows emits
    no group); pinned by the r12 spans-policy Hypothesis reference."""
    ivs = iv.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__ivs")
    )
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != "")
    empty_iv = F.array().cast("array<struct<span_start:int,span_end:int>>")
    staged = (
        df.join(ivs, id_col, "left")
        .withColumn("__ivs", F.coalesce(F.col("__ivs"), empty_iv))
        .withColumn("__toks", toks)
    )
    idxed = F.zip_with(
        F.col("__toks"),
        F.sequence(F.lit(0), F.greatest(F.size("__toks") - 1, F.lit(0))),
        lambda t, i: F.struct(t.alias("t"), i.alias("i")),
    )
    kept = F.when(
        F.size("__toks") == 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.filter(
                idxed,
                lambda s: ~F.exists(
                    F.col("__ivs"),
                    lambda v: (s["i"] >= v["span_start"]) & (s["i"] < v["span_end"]),
                ),
            ),
            lambda s: s["t"],
        )
    )
    keep_cols = [c for c in df.columns if c != text_col]
    return (
        staged.withColumn("__kept", kept)
        .filter(F.size("__kept") > 0)
        .select(*keep_cols, F.array_join("__kept", " ").alias(text_col))
    )


def merge_start_intervals(
    spans: DataFrame, id_col: str, n: int
) -> DataFrame:
    """Gaps-and-islands fold shared by duplicate_span_intervals and
    decontaminate.contaminated_span_intervals (r10): merge flagged
    n-token window starts (id, start_idx) into maximal per-document
    intervals — start s' joins the current island iff s' - s <= n
    (overlap or adjacency). Returns (id, span_start, span_end,
    span_len), span_end exclusive. One exchange: the lag window, the
    island cumsum and the island groupBy all ride hashpartitioning(id)
    (prefix rule)."""
    from pyspark.sql import Window

    byid = Window.partitionBy(id_col).orderBy("start_idx")
    brk = F.when(
        F.col("start_idx") - F.lag("start_idx").over(byid) > int(n), 1
    ).otherwise(0)
    isl = spans.withColumn(
        "__isl",
        F.sum(brk).over(byid.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        isl.groupBy(id_col, "__isl")
        .agg(
            F.min("start_idx").cast("int").alias("span_start"),
            (F.max("start_idx") + int(n)).cast("int").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).cast("int").alias("span_len"),
        )
    )


def keep_cluster_representatives(
    corpus: DataFrame,
    pairs: "DataFrame | None" = None,
    components: "DataFrame | None" = None,
    id_col: str = "doc_id",
    score_col: "str | None" = None,
    src: str = "id_a",
    dst: str = "id_b",
    comp_id_col: str = "id",
    comp_col: str = "component",
) -> DataFrame:
    """Corpus with every near-duplicate CLUSTER collapsed to its single
    best representative — the production completion of the pair-producing
    dedup family (r11): pairs (MinHash/Jaccard/SimHash/edit-distance) ->
    connected components -> keep ONE doc per component, ranked by
    ``score_col`` (highest wins; ties and score_col=None fall back to the
    lowest id — the same canonical-min convention as exact_dedup,
    dedup.py:121). Docs that appear in no pair pass through untouched.
    This is the "keep best, not first" policy public pipelines apply
    after fuzzy clustering (quality-ranked representative selection).

    Pass EITHER ``pairs`` (built into components via min-label
    propagation, operators/iterative.py:66) or a prebuilt ``components``
    table ((comp_id_col, comp_col), e.g. connected_components output —
    how a pipeline reuses one clustering across policies). NULL scores
    rank below every real score; a doc in ``components`` but absent
    from ``corpus`` can't win (it has no score row) and can't lose
    anything (it has no corpus row to drop).

    Scale shape: the components table is MEMBERSHIP-sized (only docs
    that appear in some pair — far below corpus scale at real dup
    rates). Attaching scores is one membership-sized join; the winner
    per cluster is one partial-aggregable max_by; losers = membership
    minus winners (strictly smaller than membership) anti-join the
    corpus — the corpus shuffles at most once (the anti join; AQE
    broadcasts the loser side when it fits), and never on cluster keys."""
    if components is None:
        if pairs is None:
            raise ValueError(
                "keep_cluster_representatives needs pairs= or components="
            )
        from ..operators.iterative import connected_components

        components = connected_components(pairs, src, dst)
        comp_id_col, comp_col = "id", "component"
    comp = components.select(
        F.col(comp_id_col).alias("__m_id"), F.col(comp_col).alias("__comp")
    )
    # NEGATED score + min_by: smallest (-score, id) = highest score, ties
    # to the lowest id — and the id needs no negation, so the tie-break
    # works for string ids too. NULL scores negate to +inf and lose.
    neg_score = (
        -F.coalesce(F.col(score_col).cast("double"), F.lit(float("-inf")))
        if score_col
        else F.lit(0.0)
    )
    members = comp.join(
        corpus.select(
            F.col(id_col).alias("__m_id"), neg_score.alias("__ns")
        ),
        "__m_id",
    )
    winners = members.groupBy("__comp").agg(
        F.min_by(
            "__m_id", F.struct(F.col("__ns"), F.col("__m_id"))
        ).alias("__win")
    )
    losers = (
        comp.join(winners, "__comp")
        .filter(F.col("__m_id") != F.col("__win"))
        .select(F.col("__m_id").alias(id_col))
    )
    return corpus.join(losers, id_col, "left_anti")


def merge_intervals(iv: DataFrame, id_col: str) -> DataFrame:
    """Merge overlapping or abutting (id, span_start, span_end) intervals
    per id — the VARIABLE-LENGTH generalization of merge_start_intervals
    (r11: normalized span decontamination flags windows whose raw-token
    coverage varies, because one raw token can normalize to several words,
    so the fixed-n islands fold doesn't apply). Same contract: returns
    (id, span_start, span_end, span_len), end exclusive; [a,b) and [b,c)
    merge to [a,c) exactly as adjacent fixed-n windows do. Same scale
    shape: the running-max window, the island cumsum and the island
    groupBy all ride one hashpartitioning(id) exchange."""
    from pyspark.sql import Window

    byid = Window.partitionBy(id_col).orderBy("span_start", "span_end")
    prev_max_end = F.max("span_end").over(
        byid.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_max_end.isNull() | (F.col("span_start") > prev_max_end), 1
    ).otherwise(0)
    isl = iv.withColumn("__brk", brk).withColumn(
        "__isl",
        F.sum("__brk").over(
            byid.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        isl.groupBy(id_col, "__isl")
        .agg(
            F.min("span_start").cast("int").alias("span_start"),
            F.max("span_end").cast("int").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).cast("int").alias("span_len"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 1,
    q: int = 2,
    method: str = "prefix",
) -> DataFrame:
    """Near-duplicate pairs under EDIT DISTANCE (id_a < id_b,
    dist <= max_dist) — the fuzzy-matching family for SHORT strings
    (titles, names, product ids) where token-set similarity is too
    coarse. Exact verification is one codegen levenshtein() per
    candidate; candidates come from one of two LOSSLESS filters over
    positional q-gram bags (both from public literature):

    ``method='prefix'`` (default — Ed-Join, Xiao et al. 2008): order
    every (gram, occurrence) by GLOBAL RARITY (corpus frequency asc,
    then gram, then occurrence index); each string only indexes its
    d*q + 1 rarest occurrences (its "prefix"). d edits change at most
    d*q bag occurrences, so two strings within distance d must share an
    occurrence — and by the standard two-sided prefix-filter lemma over
    the (gram, occ) universe, one shared occurrence lands in BOTH
    prefixes. The candidate join therefore keys on prefix occurrences
    only: a hot q-gram is by definition frequent, ranks LAST in the
    global order, and almost never enters any prefix — no hot-key
    quadratic bucket, which is exactly the skew hazard the r7 count
    filter documented on free text (pinned by the skew driver query).

    ``method='count'`` (Gravano et al. 2001): ed(A,B) <= d implies the
    q-gram BAGS share at least max(|A|,|B|) - q + 1 - d*q grams; the
    join explodes ALL (gram, occurrence) pairs and keeps pairs meeting
    the count bound. Simpler, but every occurrence of a hot gram joins.

    LOSSLESS except both-short pairs: when BOTH strings have at most
    d*q q-grams either bound is vacuous, so strings of length
    < q + d*q form a SHORT bucket joined all-pairs among themselves
    (bounded: short strings over a finite alphabet are few distinct;
    the join is further banded by |len(a) - len(b)| <= d). At corpus
    scale the shuffle carries prefix-bounded (gram, occ, string) rows
    and candidate verification is candidate-proportional, the same shape
    as the MinHash verify stage. The prefix path adds one gram-frequency
    groupBy (map-side partial agg) and one 1:N frequency join (AQE
    skew-split applies on the hot-gram build rows; the hot gram itself
    still never *pairs*).

    The ENTIRE filter pipeline runs over DISTINCT STRINGS, not rows
    (r9, profiled in SCALE.md): on duplicate-heavy corpora an id-level
    candidate join is quadratic in group size for every repeated string
    — 5k rows with shared titles produced 533k id-level candidates where
    the distinct-string join produces ~4k. Equal-string id pairs
    (distance 0) come from ONE equi self-join on the string, and
    verified string pairs expand back to id pairs through two joins —
    both output-proportional, nothing quadratic off the output size."""
    if method not in ("prefix", "count"):
        raise ValueError(f"method={method!r}: expected 'prefix' or 'count'")
    release_persisted()
    s = _persist_scoped(
        df.select(F.col(id_col), F.col(text_col).alias("__s"))
        .withColumn("__len", F.length("__s"))
    )
    # the filter pipeline's working set: one row per DISTINCT string
    sd = _persist_scoped(s.select("__s", "__len").distinct())
    d = int(max_dist)
    short_max = q + d * q - 1  # below this, the count bound is vacuous

    def gram_occ_pairs(col):
        # Row-local positional q-gram BAG (optimization r14, r13 verdict
        # #3 / guide §2.1 remove the shuffle outright): each element is
        # (gram, occ) where occ is the 1-based occurrence index of that
        # gram within the string, in position order. The r13 shape
        # computed occ as row_number() over a window partitioned by
        # (__s, gram) AFTER exploding — a full hashpartitioning(__s,
        # gram) exchange+sort of every gram row of the corpus, carrying
        # the string itself as the partition key. occ is a pure function
        # of the string, so it is computed here BEFORE the explode with
        # string-local algebra instead: occ(i) = #{j <= i : gram(j) =
        # gram(i)}, O(len^2) substr comparisons per DISTINCT string.
        # Lambdas reference only the scalar string column (substr is
        # cheap), not a shared array expression — the Catalyst no-CSE
        # trap of re-evaluating an expensive array per lambda element
        # does not apply. Strings in this family are short (titles,
        # names, ids) and the pipeline runs over distinct strings only,
        # so the quadratic term is bounded; at corpus scale this trades
        # bounded map-side CPU for an entire corpus-wide exchange.
        # Bag equivalence with the window form is pinned by the
        # duplicate-gram unit test and the all-pairs property test.
        n = F.greatest(F.length(col) - (q - 1), F.lit(0))
        return F.when(
            n <= 0, F.array().cast("array<struct<gram:string,occ:int>>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
                lambda i: F.struct(
                    col.substr(i, F.lit(q)).alias("gram"),
                    F.size(
                        F.filter(
                            F.sequence(F.lit(1), i),
                            lambda j: col.substr(j, F.lit(q))
                            == col.substr(i, F.lit(q)),
                        )
                    ).alias("occ"),
                ),
            )
        )

    long_side = sd.filter(F.col("__len") > short_max)
    bag = long_side.select(
        "__s", F.col("__len"),
        F.explode(gram_occ_pairs(F.col("__s"))).alias("__go"),
    ).select(
        "__s", "__len",
        F.col("__go.gram").alias("gram"), F.col("__go.occ").alias("__occ"),
    )
    if method == "prefix":
        from pyspark.sql import Window
        # Ed-Join: global rarity order over (gram, occ) occurrences.
        # Frequency = total occurrence count (any total order is valid
        # for the lemma; occurrence count needs no distinct).
        gfreq = bag.groupBy("gram").agg(F.count(F.lit(1)).alias("__gf"))
        ranked = bag.join(gfreq, "gram").withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("__s").orderBy("__gf", "gram", "__occ")
            ),
        )
        prefix = ranked.filter(F.col("__r") <= d * q + 1).select(
            "__s", "__len", "gram", "__occ"
        )
        a = prefix.select(
            F.col("__s").alias("__ta"), F.col("__len").alias("la"), "gram", "__occ"
        )
        b = prefix.select(
            F.col("__s").alias("__tb"), F.col("__len").alias("lb"), "gram", "__occ"
        )
        cand_long = (
            a.join(b, ["gram", "__occ"])
            .filter(
                (F.col("__ta") < F.col("__tb"))
                & (F.abs(F.col("la") - F.col("lb")) <= d)  # length filter
            )
            .select("__ta", "__tb")
            .distinct()
        )
    else:
        a = bag.select(
            F.col("__s").alias("__ta"), F.col("__len").alias("la"), "gram", "__occ"
        )
        b = bag.select(
            F.col("__s").alias("__tb"), F.col("__len").alias("lb"), "gram", "__occ"
        )
        cand_long = (
            a.join(b, ["gram", "__occ"])
            .filter(
                (F.col("__ta") < F.col("__tb"))
                & (F.abs(F.col("la") - F.col("lb")) <= d)  # length filter
            )
            .groupBy("__ta", "__tb")
            .agg(F.count(F.lit(1)).alias("__common"), F.max("la").alias("la"),
                 F.max("lb").alias("lb"))
            .filter(
                F.col("__common")
                >= F.greatest(F.col("la"), F.col("lb")) - (q - 1) - d * q
            )
            .select("__ta", "__tb")
        )
    # The vacuous-bound buckets pair the same distinct-string table.
    sdist = sd.filter(F.col("__len") <= short_max)
    da = sdist.select(F.col("__s").alias("__ta"), F.col("__len").alias("la"))
    db = sdist.select(F.col("__s").alias("__tb"), F.col("__len").alias("lb"))
    # distinct-string candidate pairs (short-short); same-string pairs
    # are handled globally by the distance-0 equi-join below
    sp_short = (
        da.join(db, (F.col("__ta") < F.col("__tb"))
                & (F.abs(F.col("la") - F.col("lb")) <= d))
        .select("__ta", "__tb")
    )
    # short-vs-long: within distance d the long side is at most
    # short_max + d chars — band the DISTINCT long strings directly
    ldist = sd.filter(
        (F.col("__len") > short_max) & (F.col("__len") <= short_max + d)
    )
    sp_cross = (
        da.join(
            ldist.select(F.col("__s").alias("__tb"), F.col("__len").alias("lb")),
            F.abs(F.col("la") - F.col("lb")) <= d,
        ).select("__ta", "__tb")
    )
    # verify DISTINCT STRING pairs: one codegen levenshtein per pair.
    # The three sources are disjoint by length class (long-long,
    # short-short, short-long), so no cross-source duplicates exist.
    verified_str = (
        cand_long.unionByName(sp_short).unionByName(sp_cross)
        .withColumn("dist", F.levenshtein("__ta", "__tb"))
        .filter(F.col("dist") <= d)
    )
    # expansion back to id pairs — output-proportional equi-joins:
    # (1) distance 0 = ids sharing the exact string
    same = (
        s.select(F.col(id_col).alias("id_a"), "__s")
        .join(s.select(F.col(id_col).alias("id_b"), "__s"), "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("dist"))
    )
    # (2) verified distinct pairs x all ids of each side; the string
    # pair is ordered (__ta < __tb), which says nothing about id order —
    # canonicalize with least/greatest, never filter (ids are distinct:
    # different strings cannot share an id)
    ia = s.select(F.col(id_col).alias("id_a"), F.col("__s").alias("__ta"))
    ib = s.select(F.col(id_col).alias("id_b"), F.col("__s").alias("__tb"))
    expanded = (
        verified_str.join(ia, "__ta")
        .join(ib, "__tb")
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )
    return same.unionByName(expanded)

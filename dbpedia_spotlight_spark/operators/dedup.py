"""Document deduplication for large-scale training-data pipelines.

Beyond the reference's operator set (driver mandate): exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard — each expressed so the
hot path is JVM-side column math.

Design for 100 TB:
  * exact dedup = one groupBy on a 64-hex digest (shuffle on digest, no
    skew — digests are uniform).
  * MinHash signatures are computed per-row with array expressions (no
    shuffle); the only shuffle is the band-bucket groupBy, and bucket
    keys are uniform by construction.
  * All hash functions are content-derived (md5 with a seed prefix), so
    the same SQL is expressible in DuckDB for the correctness oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per input, + (content_hash, dup_group, is_duplicate).

    The group representative (is_duplicate = false) is the minimum id —
    deterministic under re-runs.
    """
    hashed = df.withColumn("content_hash", F.md5(F.col(text_col)))
    w = Window.partitionBy("content_hash")
    return (
        hashed.withColumn("dup_group", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("dup_group"))
    )


# ---------------------------------------------------------------------------
# shingling + MinHash + LSH
# ---------------------------------------------------------------------------

def word_shingles_udf(n: int):
    """Distinct word n-grams as an array column, Arrow-batched — ~20x the
    throughput of the equivalent interpreted higher-order-function tree,
    still narrow (no shuffle)."""
    import re

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    split = re.compile(r"[^a-z0-9]+")

    @pandas_udf(ArrayType(StringType()))
    def shingles(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = [w for w in split.split(t.lower()) if w] if t else []
            if len(toks) >= n:
                seen = dict.fromkeys(
                    " ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1)
                )
                out.append(list(seen))
            else:
                out.append([" ".join(toks)])
        return pd.Series(out)

    return shingles


def word_shingle_hashes_udf(n: int):
    """64-bit hashes of distinct word n-grams, ArrayType(LongType()).

    The scale twin of word_shingles_udf: instead of materializing n-gram
    STRINGS in Python (len(toks) `' '.join`s per doc) and shipping
    ~30-byte strings through Arrow for the JVM to hash again, hash each
    token once (pandas' cython SipHash over the token array) and combine
    n consecutive token hashes with a vectorized polynomial fold — the
    Arrow batch then carries 8-byte LONGs. Same dedup semantics
    (distinct n-grams; short docs fold all tokens into one shingle;
    empty docs get one constant shingle). Deterministic: pd.util.
    hash_array uses a fixed key, and uint64 wraparound is well-defined.
    """
    import re

    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    split = re.compile(r"[^a-z0-9]+")
    _P = np.uint64(1000003)
    _EMPTY = int(
        pd.util.hash_array(np.array([""], dtype=object),
                           categorize=False)[0]
    )

    @pandas_udf(ArrayType(LongType()))
    def shingle_hashes(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = [w for w in split.split(t.lower()) if w] if t else []
            if not toks:
                out.append([np.int64(np.uint64(_EMPTY))])
                continue
            th = pd.util.hash_array(
                np.array(toks, dtype=object), categorize=False
            )
            k = n if len(toks) >= n else len(toks)
            with np.errstate(over="ignore"):
                g = th[: len(th) - k + 1].copy()
                for j in range(1, k):
                    g = g * _P + th[j: len(th) - k + 1 + j]
            out.append(np.unique(g).view(np.int64).tolist())
        return pd.Series(out)

    return shingle_hashes


def minhash_signature_hashes_udf(n: int, num_hashes: int):
    """Full MinHash signature per document in ONE Arrow kernel,
    ArrayType(LongType()) of length num_hashes.

    The narrowest possible signature plan: where the md5/xxhash64
    families explode shingles to rows (one UnsafeRow allocation per
    shingle) and aggregate per-seed minima through a groupBy exchange,
    this computes the signature inside the Arrow batch — shingle hashes
    exactly as word_shingle_hashes_udf (pandas' cython SipHash per
    DISTINCT token + a vectorized polynomial fold), then `num_hashes`
    universal-hash permutations h_i(g) = A_i*g + B_i on uint64 (odd A_i,
    fixed seed — the standard minwise estimator family) and a min along
    the shingle axis. No explode, no aggregation exchange, zero JVM
    allocations per shingle; the only remaining shuffle in the LSH plan
    is the band-bucket join itself. Same per-band collision law
    (P ≈ J^rows_per_band) as the other families — a different
    permutation sample, so candidate sets differ per-pair while recall
    at the design point is equal (pinned in tests).

    Measured (scripts/microbench_minhash.py, sf0.1 corpus replicated
    120x, quiet host): 13% faster at local[2] and 10% at local[8] than
    the exploded xxhash64 path, with candidate-pair counts within 0.4%.
    """
    import re

    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    split = re.compile(r"[^a-z0-9]+")
    _P = np.uint64(1000003)
    _EMPTY = int(
        pd.util.hash_array(np.array([""], dtype=object),
                           categorize=False)[0]
    )
    rng = np.random.RandomState(0xC0FFEE)
    _A = (rng.randint(1, 2 ** 63, size=num_hashes).astype(np.uint64)
          << np.uint64(1)) | np.uint64(1)
    _B = rng.randint(0, 2 ** 63, size=num_hashes).astype(np.uint64)

    @pandas_udf(ArrayType(LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for t in texts:
                toks = [w for w in split.split(t.lower()) if w] if t else []
                if not toks:
                    g = np.array([_EMPTY], dtype=np.uint64)
                else:
                    th = pd.util.hash_array(
                        np.array(toks, dtype=object), categorize=False
                    )
                    k = n if len(toks) >= n else len(toks)
                    g = th[: len(th) - k + 1].copy()
                    for j in range(1, k):
                        g = g * _P + th[j: len(th) - k + 1 + j]
                    g = np.unique(g)
                sig = (_A[:, None] * g[None, :] + _B[:, None]).min(axis=1)
                out.append(sig.view(np.int64).tolist())
        return pd.Series(out)

    return sig_udf


# per-worker shingle -> md5-digest-tuple memo for the md5 signature
# kernel (see minhash_signature_md5_udf); bounded like the simhash cache
_MINHASH_DIGEST_CACHE: dict = {}
_MINHASH_CACHE_MAX = 1 << 18


def minhash_signature_md5_udf(n: int, num_hashes: int):
    """Full md5-family MinHash signature per document in ONE Arrow
    kernel, ArrayType(StringType()) of length num_hashes — bit-identical
    to the explode + groupBy(min(md5(seed|shingle))) plan it replaces
    (same shingles as word_shingles_udf, same seed-prefixed md5 over the
    same UTF-8 bytes, and min over DIGEST bytes == min over lowercase
    hex because byte→hex is order-preserving).

    Why: the exploded md5 plan shipped every shingle STRING through
    Arrow (~30 bytes each), allocated a JVM row per shingle, ran 8
    concat+md5+hex expressions per row, and paid a groupBy exchange to
    re-assemble signatures. This kernel ships text in / 8 hex strings
    per doc out, hashes with CPython's C md5, and leaves the band-bucket
    join as the plan's only shuffle — the same shape the perm64 family
    already has. Equivalence is pinned by tests and the sf0.01 DuckDB
    gate (which hash-verifies the md5 family end to end)."""
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    split = re.compile(r"[^a-z0-9]+")
    prefixes = [f"{i}|".encode() for i in range(num_hashes)]

    @pandas_udf(ArrayType(StringType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        # per-worker shingle -> digest-tuple memo (same discipline as
        # _SIMHASH_TOKEN_CACHE): corpora repeat shingles heavily across
        # documents, so the 8 digests run once per distinct shingle seen
        # by this worker (measured 2x on the sf1.0 corpus); bounded and
        # cleared on overflow
        cache = _MINHASH_DIGEST_CACHE
        out = []
        for t in texts:
            toks = [w for w in split.split(t.lower()) if w] if t else []
            if len(toks) >= n:
                shingles = dict.fromkeys(
                    " ".join(toks[i: i + n])
                    for i in range(len(toks) - n + 1)
                )
            else:
                shingles = (" ".join(toks),)
            if len(cache) + len(shingles) > _MINHASH_CACHE_MAX:
                cache.clear()
            digs = []
            for s in shingles:
                d = cache.get(s)
                if d is None:
                    b = s.encode()
                    d = tuple(md5(p + b).digest() for p in prefixes)
                    cache[s] = d
                digs.append(d)
            out.append([min(col).hex() for col in zip(*digs)])
        return pd.Series(out)

    return sig_udf


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    shingle → minhash → band → bucket-join (SURVEY driver mandate).
    Output: (id_a, id_b, band) — one row per (pair, matching band).

    hash_fn picks the min-hash family:
      * "md5" (default) — hex-string digests, bit-reproducible in DuckDB
        (the sf0.01 correctness gate's oracle twin).
      * "xxhash64" — Spark's seeded 64-bit xxHash, LONG-typed end to end.
        The hot loop (num_hashes hashes per exploded shingle row) then
        allocates nothing: md5 builds a concat buffer + digest + hex
        string per call, and at 8+ executor threads in one JVM that
        allocation rate makes GC the shared bottleneck (measured: the
        minhash phase scaled at ~0.73 from 2→8 cores while the
        allocation-light spot phase scaled at ~0.87). Shingles come from
        word_shingle_hashes_udf — 8-byte LONGs through Arrow instead of
        n-gram strings. Same LSH family
        guarantees (per-band collision ≈ J^r), different permutation
        sample, so candidate sets differ per-pair but recall at the
        design point is equal — pinned in tests.
      * "perm64" — the whole signature inside ONE Arrow kernel
        (minhash_signature_hashes_udf): no shingle explode, no groupBy
        exchange, zero JVM allocations per shingle; the band-bucket
        join is the plan's only shuffle. Same collision law, another
        permutation sample. Measured 10-13% faster end-to-end than
        "xxhash64" at local[2]/local[8] on the sf0.1 corpus replicated
        120x, candidate counts within 0.4%. Use this at scale.
    """
    if hash_fn not in ("md5", "xxhash64", "perm64"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    rows_per_band = num_hashes // bands
    if hash_fn == "perm64":
        # narrowest plan: the whole signature in one Arrow kernel (see
        # minhash_signature_hashes_udf) — no shingle explode, no groupBy
        # exchange; the band-bucket join is the plan's ONLY shuffle
        sig = df.select(
            F.col(id_col).alias("_id"),
            minhash_signature_hashes_udf(shingle_n, num_hashes)(
                F.col(text_col)
            ).alias("sig"),
        )
        return _band_join(sig, bands, rows_per_band, _bucket_xxhash64)
    if hash_fn == "md5":
        # same narrow single-kernel shape for the md5 oracle-twin family
        # (see minhash_signature_md5_udf — signatures bit-identical to an
        # exploded groupBy(_id) min(md5) plan, pinned in tests). That
        # groupBy MERGES rows sharing an id (min over the union of their
        # shingles); the per-seed elementwise min below reproduces it
        # exactly (min is associative), map-side combined to one tiny
        # row per doc.
        sig = df.select(
            F.col(id_col).alias("_id"),
            minhash_signature_md5_udf(shingle_n, num_hashes)(
                F.col(text_col)
            ).alias("sig"),
        )
        sig = sig.groupBy("_id").agg(
            F.array(
                *[F.min(F.col("sig")[i]) for i in range(num_hashes)]
            ).alias("sig")
        )
        return _band_join(
            sig, bands, rows_per_band, _bucket_md5, id_unique=True
        )
    # Signatures via explode + aggregating mins rather than the inline
    # array expression: Catalyst does no common-subexpression elimination
    # through lambda functions, so inlining re-evaluates the shingle +
    # hash tree once per band reference (~32x). The groupBy computes each
    # hash exactly once and map-side combine reduces the shuffle to one
    # signature row per document — also the right shape at 10^12 rows.
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingle_hashes_udf(shingle_n)(F.col(text_col)))
        .alias("g"),
    )
    # seed folded in as a leading literal column (xxhash64 chains its
    # inputs, so (i, g) is a keyed hash of g); min over LONGs
    seeded = [
        F.min(F.xxhash64(F.lit(i), F.col("g"))) for i in range(num_hashes)
    ]
    sig = exploded.groupBy("_id").agg(F.array(*seeded).alias("sig"))
    return _band_join(
        sig, bands, rows_per_band, _bucket_xxhash64, id_unique=True
    )


def _bucket_xxhash64(b: int, rows_per_band: int):
    """Band bucket = one xxhash64 over the band's LONG slice — no strings."""
    return F.xxhash64(
        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
    )


def _bucket_md5(b: int, rows_per_band: int):
    return F.md5(
        F.array_join(
            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
            "|",
        )
    )


def _band_join(sig: DataFrame, bands: int, rows_per_band: int,
               bucket_of, id_unique: bool = False) -> DataFrame:
    """Explode a (_id, sig) frame into band buckets and self-join.

    Bucket keys are uniform by construction (hashes of signature
    slices), so the join shuffles without skew at any scale.

    id_unique: promise that `sig` holds exactly one row per _id (the
    groupBy-merged md5/xxhash64 families). Each id then has ONE bucket
    per band, a pair meets at most once per band, and the trailing
    distinct is a provable no-op — skipped to save its shuffle.

    The signature frame is cached (guide §5: reused AND expensive):
    both sides of the self-join reference it, and AQE does NOT reuse
    the upstream stage across the join's probe and broadcast-build
    sides — an accumulator probe measured the signature kernel running
    2x per query (200k kernel rows for a 100k-doc corpus). One row of
    ~num_hashes hashes per document, so the cache is a small fraction
    of corpus size at any scale; CacheManager dedupes repeated
    identical plans, so re-invocations share one entry.
    """
    sig = sig.cache()
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        bucket_of(b, rows_per_band).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")

    a = banded.select(
        F.col("_id").alias("id_a"), "band", "bucket"
    )
    b = banded.select(
        F.col("_id").alias("id_b"), "band", "bucket"
    )
    out = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "band")
    )
    return out if id_unique else out.distinct()


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage).

    |A ∩ B| via explode + equi-join + count; |A ∪ B| = |A| + |B| − |∩|.
    """
    sh = df.select(
        F.col(id_col).alias("_id"),
        word_shingles_udf(shingle_n)(F.col(text_col)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    ex = sh.select("_id", F.explode("sh").alias("g"))
    ea = ex.select(F.col("_id").alias("id_a"), F.col("g"))
    eb = ex.select(F.col("_id").alias("id_b"), F.col("g"))
    inter = (
        pairs.select("id_a", "id_b")
        .join(ea, "id_a")
        .join(eb, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sh.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sh.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.select("id_a", "id_b").distinct()
        .join(inter, ["id_a", "id_b"], "left")
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a", "id_b",
            (
                F.coalesce(F.col("n_inter"), F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0)))
            ).alias("jaccard"),
        )
    )


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "md5",
    key_pad: int = 8,
) -> DataFrame:
    """End-to-end near-duplicate deduplication, one call.

    The composition a training-data pipeline actually runs: banded
    MinHash LSH candidates → exact n-gram Jaccard verification →
    connected components over the verified pairs → min-id group
    representative. Output: one row per input doc with
    (id_col, dup_group, is_near_duplicate) — dup_group is the
    zero-padded id of the group representative (a doc in no verified
    pair is its own group), is_near_duplicate marks non-representative
    members.

    Every stage keeps its scale shape: LSH bucket join (no all-pairs),
    Jaccard only on candidates, large-star/small-star CC above the
    driver cutoff. hash_fn="xxhash64" switches the candidate stage to
    the allocation-free LONG kernel for production runs; "md5" keeps
    the DuckDB-twin family the sf0.01 gate verifies.
    """
    cand = minhash_lsh_candidates(
        df, text_col=text_col, id_col=id_col, shingle_n=shingle_n,
        num_hashes=num_hashes, bands=bands, hash_fn=hash_fn,
    ).select("id_a", "id_b").distinct()
    ver = ngram_jaccard(
        df, cand, text_col=text_col, id_col=id_col, shingle_n=shingle_n
    ).filter(F.col("jaccard") >= jaccard_threshold)

    def key(c):
        return F.lpad(F.col(c).cast("string"), key_pad, "0")

    from .cc import connected_components

    edges = ver.select(key("id_a").alias("src"), key("id_b").alias("dst"))
    cc = connected_components(edges)
    keyed = df.select(F.col(id_col), key(id_col).alias("_k"))
    grp = F.coalesce(F.col("cluster_id"), F.col("_k"))
    return (
        keyed.join(cc, keyed["_k"] == cc["mention_key"], "left")
        .select(
            id_col,
            grp.alias("dup_group"),
            (grp != F.col("_k")).alias("is_near_duplicate"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (64-bit, Arrow-batched kernel)
# ---------------------------------------------------------------------------

# per-worker token -> md5-prefix hash memo: corpora are Zipf-distributed,
# so the distinct-token set is far smaller than the token stream; md5
# (the kernel pinned by the simhash SQL oracle) runs once per distinct
# token instead of once per occurrence (~10x on the hot path)
_SIMHASH_TOKEN_CACHE: dict[str, int] = {}
_SIMHASH_CACHE_MAX = 1 << 20
_SIMHASH_SPLIT_RE = None  # compiled lazily on the worker


@pandas_udf(LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens (md5-prefix token hashes, per-bit
    majority vote over token OCCURRENCES — duplicates count).

    Vectorized per Arrow batch: tokens of all docs flatten into one
    array; per-bit votes are segment sums (np.add.reduceat), never a
    per-doc Python loop; memory stays O(tokens), not O(tokens x 64).
    """
    import hashlib
    import re

    import numpy as np

    global _SIMHASH_SPLIT_RE
    if _SIMHASH_SPLIT_RE is None:
        _SIMHASH_SPLIT_RE = re.compile(r"[^a-z0-9]+")
    cache = _SIMHASH_TOKEN_CACHE

    tok_lists: list = []
    flat: list[str] = []
    starts: list[int] = []
    for text in texts:
        if text is None:
            tok_lists.append(None)
            continue
        toks = [t for t in _SIMHASH_SPLIT_RE.split(text.lower()) if t]
        tok_lists.append(len(toks))
        if toks:
            starts.append(len(flat))
            flat.extend(toks)

    vals = np.empty(len(starts), dtype=np.uint64)
    if flat:
        if len(cache) + len(flat) > _SIMHASH_CACHE_MAX:
            cache.clear()
        for t in flat:
            if t not in cache:
                cache[t] = int.from_bytes(
                    hashlib.md5(t.encode()).digest()[:8], "big"
                )
        hashes = np.fromiter(
            (cache[t] for t in flat), dtype=np.uint64, count=len(flat)
        )
        starts_arr = np.array(starts, dtype=np.int64)
        bounds = np.append(starts_arr[1:], len(flat))
        seg_len = bounds - starts_arr
        vals.fill(0)
        # benchmarked alternative (r6): one unpackbits + 2-D reduceat +
        # packbits round is 4.5x SLOWER than these 64 contiguous 1-D
        # passes (reduceat's axis=0 path; measured 0.42s vs 0.09s per
        # 544k-token batch) — kept as-is deliberately
        for j in range(64):
            bit_j = ((hashes >> np.uint64(j)) & np.uint64(1)).astype(
                np.int64
            )
            ones = np.add.reduceat(bit_j, starts_arr)
            # votes_j = ones - (len - ones) > 0  <=>  2*ones > len
            vals |= ((2 * ones > seg_len).astype(np.uint64)
                     << np.uint64(j))

    signed = vals.view(np.int64)
    out = []
    k = 0
    for n_toks in tok_lists:
        if n_toks is None:
            out.append(None)
        elif n_toks == 0:
            out.append(0)
        else:
            out.append(int(signed[k]))
            k += 1
    return pd.Series(out, dtype="Int64")


# 16-bit population-count table for the vectorized hamming kernel
_POP16 = None


def _pop16():
    global _POP16
    if _POP16 is None:
        import numpy as np

        t = np.arange(65536, dtype=np.uint16)
        c = np.zeros(65536, dtype=np.uint8)
        while t.any():
            c += (t & 1).astype(np.uint8)
            t >>= 1
        _POP16 = c
    return _POP16


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hamming_threshold: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on bit-bands (a pair within the
    hamming threshold shares at least one of n_blocks 16-bit bands by
    pigeonhole), verify hamming distance within each band bucket.

    The per-bucket verification runs in a numpy kernel instead of a
    bucket self-join: correlated corpora concentrate near-identical
    simhashes into a few buckets (measured sf1.0 dup corpus: 77M joined
    pair rows, one 5.8k-row bucket alone contributing 17M — a single
    join key AQE's skew split cannot break). Rows are hash-repartitioned
    by (band, bucket) and each task segments its partition by bucket in
    one lexsort, then XOR+popcounts a chunk×bucket block at a time and
    emits only pairs within the hamming threshold — the downstream
    distinct sees survivors, not candidates. (mapInPandas over
    repartitioned data, not groupBy().applyInPandas: most buckets hold
    1-2 rows, and ~260k per-group Python calls cost more than the old
    join — measured 9.9s vs 6.3s — while segment bounds inside one
    partition frame are nearly free.) bit_count semantics, the
    id_a < id_b orientation, and the distinct-then-threshold contract
    (hamming is a function of the pair, so filter and distinct commute)
    are unchanged — the gate hash-verifies this path against the same
    oracle."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    h = df.select(
        F.col(id_col).alias("_id"), simhash64_udf(F.col(text_col)).alias("h")
    )
    width = 64 // n_blocks
    # null hashes never matched the equi-join (null keys drop); filter
    # them before grouping so they do not form a spurious null bucket
    banded = h.filter(F.col("h").isNotNull()).select(
        "_id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("h"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bucket"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bb"),
    ).select("_id", "h", "bb.band", "bb.bucket")

    id_type = banded.schema["_id"].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("hamming", IntegerType()),
        ]
    )
    chunk = 1024
    thr = hamming_threshold

    def partition_pairs(batches):
        pop = _pop16()
        pdf = pd.concat(list(batches), ignore_index=True)
        if not len(pdf):
            return

        def ham_block(h16a, h16b, fields):
            if not fields:  # degenerate n_blocks=1: bucket == hash
                return np.zeros(
                    (h16a.shape[0], h16b.shape[0]), dtype=np.uint8
                )
            # uint8 sums cannot overflow (<= 64); only survivors are
            # promoted to the gate's int32 hamming
            out = pop[h16a[:, None, fields[0]] ^ h16b[None, :, fields[0]]]
            for f in fields[1:]:
                out += pop[h16a[:, None, f] ^ h16b[None, :, f]]
            return out

        band = pdf["band"].to_numpy()
        bucket = pdf["bucket"].to_numpy()
        all_ids = pdf["_id"].to_numpy()
        # (n, 4) little-endian 16-bit fields of each hash: hamming sums
        # per field through the popcount table, with no 64-bit xor
        # materialization, and the band's own field(s) — identically
        # zero inside a bucket — skipped outright
        all_h16 = (
            np.ascontiguousarray(np.asarray(pdf["h"], dtype=np.int64))
            .view(np.uint16)
            .reshape(-1, 4)
        )
        # segment the partition by (band, bucket); ids ascending within
        # each segment so the id-value orientation below emits each
        # cross-id pair exactly once (ids can repeat — the join's
        # id_a < id_b kept duplicate-id row pairs out but scored each
        # row separately)
        order = np.lexsort((all_ids, bucket, band))
        band, bucket = band[order], bucket[order]
        all_ids, all_h16 = all_ids[order], all_h16[order]
        seg = np.flatnonzero(
            np.r_[True, (band[1:] != band[:-1]) | (bucket[1:] != bucket[:-1])]
        )
        seg = np.append(seg, len(band))
        sizes = np.diff(seg)
        starts = seg[:-1]
        frames = []
        # Small segments (the common case on weakly-correlated corpora:
        # most (band, bucket) groups hold 1-2 rows) are batched BY SIZE
        # and scored in one vectorized pass per distinct size — the old
        # per-segment Python loop paid ~15 numpy calls per group
        # (measured ~1.4 s of the kernel stage at 260k groups/100k
        # docs). Inside a bucket the band's own field XORs to zero, so
        # summing the popcount over ALL four 16-bit fields equals the
        # 3-field sum the big-segment path computes by skipping it.
        SMALL = 64
        tri_cache: dict[int, tuple] = {}
        for k in np.unique(sizes):
            k = int(k)
            if k < 2 or k > SMALL:
                continue
            tri = tri_cache.get(k)
            if tri is None:
                iu = np.triu_indices(k, 1)
                tri_cache[k] = tri = (iu[0], iu[1])
            s_all = starts[sizes == k]
            n_pairs_per = k * (k - 1) // 2
            # bound transient pair arrays to ~2M rows per shot
            step = max(1, (1 << 21) // n_pairs_per)
            for off in range(0, len(s_all), step):
                s_k = s_all[off: off + step]
                # (n_seg, n_pairs) absolute row indices of every
                # in-segment pair; rows are id-ascending within a
                # segment (lexsort), so the ib > ia mask below keeps
                # each cross-id pair once
                a_idx = (s_k[:, None] + tri[0][None, :]).ravel()
                b_idx = (s_k[:, None] + tri[1][None, :]).ravel()
                x = all_h16[a_idx] ^ all_h16[b_idx]
                ham = (pop[x[:, 0]] + pop[x[:, 1]]
                       + pop[x[:, 2]] + pop[x[:, 3]])
                ia, ib = all_ids[a_idx], all_ids[b_idx]
                keep = (ham <= thr) & (ib > ia)
                if keep.any():
                    frames.append(
                        pd.DataFrame(
                            {
                                "id_a": ia[keep],
                                "id_b": ib[keep],
                                "hamming": ham[keep].astype(np.int32),
                            }
                        )
                    )
        for s, e in zip(starts[sizes > SMALL], seg[1:][sizes > SMALL]):
            n = e - s
            ids, h16 = all_ids[s:e], all_h16[s:e]
            if width % 16 == 0:
                f0 = int(band[s]) * width // 16
                fields = [
                    f for f in range(4)
                    if not f0 <= f < f0 + width // 16
                ]
            else:
                fields = [0, 1, 2, 3]
            for lo in range(0, n, chunk):
                hi = min(lo + chunk, n)
                ham = ham_block(h16[lo:hi], h16, fields)
                # candidate list first, id-orientation on the survivors
                # only — cheaper than building a second full (chunk, n)
                # comparison matrix
                rows, cols = np.nonzero(ham <= thr)
                ia, ib = ids[rows + lo], ids[cols]
                keep = ib > ia
                if keep.any():
                    frames.append(
                        pd.DataFrame(
                            {
                                "id_a": ia[keep],
                                "id_b": ib[keep],
                                "hamming": ham[rows, cols][keep]
                                .astype(np.int32),
                            }
                        )
                    )
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return (
        banded.repartition("band", "bucket")
        .mapInPandas(partition_pairs, out_schema)
        .distinct()
    )

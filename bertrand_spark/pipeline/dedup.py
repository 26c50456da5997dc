"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

North-star extensions (BASELINE.json); algorithms follow the published
MinHash/LSH construction (Broder 1997; banding per Mining of Massive
Datasets ch.3) and SimHash (Charikar 2002).

Scale design notes (the whole point of these ops):

* Exact dedup: hash-groupBy on a 64-bit fingerprint — one shuffle on a
  uniformly-distributed key; no skew by construction.
* MinHash: ONE fused Arrow kernel pass per document
  (:func:`minhash_banded_vectorized`, numpy) emits the document's LSH band
  buckets and its 64-bit shingle-hash set; the prep table is cached so the
  kernel runs once per call.  Banding then shuffles only (id, band,
  bucket) tuples — ``num_bands × n_rows`` small rows, not the documents.
* Candidate pairs come from an equi-join on (band, bucket) plus a
  band-consensus count, and exact Jaccard over the hash sets verifies only
  the candidates — the classic LSH cost profile.  The three MinHash entry
  points share this core and return MATERIALIZED pairs: the verified pairs
  are ``localCheckpoint``ed, every cache the call made is released, and
  the result's plan is a scan with no Python node left to re-run.
* SimHash: explode-tokens → 64 per-bit partial sums → map-side combinable
  groupBy; near-dup = Hamming distance via ``bit_count(xor)``, native.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.reader import spread as _spread
from .text import fingerprint, tokenize, word_ngrams

__all__ = [
    "exact_dedup", "exact_dedup_incremental", "exact_dup_groups",
    "write_fingerprint_store", "exact_dedup_incremental_store",
    "compact_fingerprint_store",
    "min_band_matches", "near_dup_pairs_minhash", "free_checkpoint",
    "simhash64", "simhash64_vectorized", "near_dup_pairs_simhash",
    "ngram_jaccard_pairs", "word_gram_hashes_vectorized", "cosine_near_dup_pairs",
    "fuzzy_join_minhash", "fuzzy_join_band_store", "near_dup",
    "near_dup_plan", "semantic_dedup",
    "write_band_table", "candidate_pairs_from_band_table", "dedup_report",
]

# deterministic (a, b) coefficients for the k minhash permutations
_MERSENNE = (1 << 61) - 1
_FNV = 0x100000001B3


def _np_shingle_hashes(t: str, shingle_n: int):
    """Distinct 64-bit shingle hashes of one document, fully vectorized.

    Mirrors ``text.char_ngrams`` normalization (lower + whitespace
    collapse), then hashes every char n-gram with a polynomial rolling
    hash over code points + splitmix64 finalizer — sliding-window numpy,
    no per-gram Python loop (the old crc32-per-gram path was ~20M
    interpreter iterations per 5k docs).  The hash IS the shingle
    identity: Jaccard over these sets equals Jaccard over the string
    sets up to 64-bit collisions (~|A||B|/2^64 per pair).
    """
    import re

    import numpy as np

    # ASCII-pinned whitespace: Java's \s (expression path) and RE2's \s
    # (DuckDB oracles) are ASCII-only; Python's \s also matches NBSP,
    # U+0085, ... and would silently diverge on non-ASCII-whitespace text.
    s = re.sub(r"[ \t\n\x0b\f\r]+", " ", t.lower())
    cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    if len(cp) < shingle_n:  # short doc → the whole string is the one gram
        win = cp[None, :]
    else:
        win = np.lib.stride_tricks.sliding_window_view(cp, shingle_n)
    h = np.zeros(win.shape[0], dtype=np.uint64)
    for i in range(win.shape[1]):  # loop over ≤shingle_n columns, not grams
        h = h * np.uint64(_FNV) + win[:, i]
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    h = h ^ (h >> np.uint64(31))
    return np.unique(h)


def _np_minhash_sig(hashes, A, B):
    """Exact Broder signature over 32-bit-reduced hashes: a<2^31,
    h<2^32 ⇒ a*h+b < 2^63+2^61 stays in uint64.

    The ``% (2^61−1)`` is the Mersenne fold — ``(x >> 61) + (x & M)``
    with one conditional subtract (x < 2^64 ⇒ the fold lands in
    [0, M+7], so a single subtract completes the reduction; y == M
    folds to 0 == x mod M).  Bit-identical to ``%`` and ~25% faster
    than numpy's per-element division; shingle columns are processed
    in L2-sized chunks with preallocated buffers so the (k × chunk)
    temporaries never spill to main memory (r14, guide §1.2 per-task
    work: measured 6.1 → 4.6 ms/doc at k=770, n=1200)."""
    import numpy as np

    h32 = hashes >> np.uint64(32)
    k = A.shape[0]
    n = h32.shape[0]
    M = np.uint64(_MERSENNE)
    s61 = np.uint64(61)
    chunk = 128
    acc = np.full(k, _MERSENNE, dtype=np.uint64)
    x = np.empty((k, min(chunk, max(n, 1))), dtype=np.uint64)
    y = np.empty_like(x)
    for i in range(0, n, chunk):
        hh = h32[None, i:i + chunk]
        m = hh.shape[1]
        xv, yv = x[:, :m], y[:, :m]
        np.multiply(A, hh, out=xv)
        np.add(xv, B, out=xv)
        np.right_shift(xv, s61, out=yv)
        np.bitwise_and(xv, M, out=xv)
        np.add(xv, yv, out=xv)
        np.subtract(xv, M, out=xv, where=xv >= M)
        np.minimum(acc, xv.min(axis=1), out=acc)
    return acc


def _np_band_keys(sig, num_bands, rows_per_band):
    """64-bit key per band: FNV-fold the band's rows, splitmix-finalize —
    vectorized across bands."""
    import numpy as np

    view = sig.reshape(num_bands, rows_per_band)
    bk = np.zeros(num_bands, dtype=np.uint64)
    for j in range(rows_per_band):
        bk = (bk ^ view[:, j]) * np.uint64(_FNV)
    bk = (bk ^ (bk >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    bk = bk ^ (bk >> np.uint64(31))
    return bk


def min_band_matches(
    threshold: float, rows_per_band: int, num_bands: int, tol: float = 1e-4
) -> int:
    """Largest required band-match count ``s`` such that a pair at exactly
    ``jaccard = threshold`` is missed with probability ≤ ``tol``:
    P[Binomial(b, threshold^r) ≤ s−1] ≤ tol.

    Requiring m ≥ s (instead of m ≥ 1) is the band-consensus prefilter:
    on template-heavy corpora most candidates are low-similarity pairs
    that collide in 1-2 bands by chance; they fail the consensus floor
    and skip exact verification entirely.  Pairs above threshold sit far
    up the binomial curve, so the recall loss is bounded by ``tol`` at
    the threshold and decays exponentially above it.
    """
    from math import comb

    p = threshold ** rows_per_band
    s, cdf = 1, 0.0
    for i in range(num_bands + 1):
        cdf += comb(num_bands, i) * (p ** i) * ((1.0 - p) ** (num_bands - i))
        if cdf > tol:
            break
        s = i + 1
    return max(s, 1)


def _perm_coeffs(k: int, seed: int = 42) -> list[tuple[int, int]]:
    # xorshift-style deterministic sequence — stable across runs/machines
    out, x = [], seed | 1
    for _ in range(k):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        # a < 2^31 and hash values reduced mod 2^31 keep a*h + b < 2^63
        # (Spark runs ANSI arithmetic — silent wraparound would throw)
        a = (x % ((1 << 31) - 1)) + 1
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        b = x % ((1 << 61) - 1)
        out.append((a, b))
    return out


# --- exact -----------------------------------------------------------------
def exact_dedup(df: DataFrame, text_col: str = "text", keep_by: str | None = None) -> DataFrame:
    """Keep one row per normalized-text fingerprint (hash groupBy).

    ``keep_by``: column whose minimum decides the survivor (deterministic);
    default keeps the row with the smallest ``keep_by``/first key.
    """
    fp = fingerprint(F.col(text_col)).alias("__fp")
    with_fp = df.withColumn("__fp", fingerprint(F.col(text_col)))
    if keep_by is None:
        keep_by = df.columns[0]
    survivors = with_fp.groupBy("__fp").agg(F.min(keep_by).alias(keep_by))
    return (
        with_fp.join(survivors, ["__fp", keep_by], "inner")
        .drop("__fp")
    )


def exact_dedup_incremental(
    new_df: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    keep_by: str | None = None,
    seen_fp_col: str | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus/fingerprint store —
    the continuously-crawled-corpus pattern: never re-shuffle the whole
    historical corpus, only the batch and the (16-byte) fingerprint keys.

    ``seen``: previously-ingested docs (fingerprinted here via
    ``text_col``) or, preferably at scale, a persisted fingerprint store
    (pass ``seen_fp_col``).  Keeps rows of ``new_df`` that are (a) the
    minimum-``keep_by`` member of their fingerprint group *within the
    batch* and (b) absent from ``seen`` — one groupBy + one left-anti
    join, both shuffling on the fingerprint key only.
    """
    if seen_fp_col is None:
        store = seen.select(fingerprint(F.col(text_col)).alias("__fp")).distinct()
    else:
        store = seen.select(F.col(seen_fp_col).alias("__fp")).distinct()
    batch = exact_dedup(new_df, text_col, keep_by).withColumn(
        "__fp", fingerprint(F.col(text_col))
    )
    return batch.join(store, "__fp", "left_anti").drop("__fp")


def write_fingerprint_store(
    df: DataFrame,
    table: str,
    text_col: str = "text",
    fp_col: str | None = None,
    num_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist a corpus's distinct fingerprints as a table BUCKETED (and
    sorted) on the fingerprint — the production-scale history side of
    :func:`exact_dedup_incremental_store`.

    The SCALE.md contract this realizes: the history store is re-read by
    every future ingest batch, so its shuffle must be paid ONCE at write
    time, not per batch.  A bucketed layout gives every subsequent
    anti join a zero-exchange (and zero-sort) history side — the batch
    alone shuffles, into the store's fixed bucket count.

    ``mode="append"`` ingests a new batch's fingerprints (dedup'd within
    the batch only; cross-append duplicate keys are harmless to an anti
    join and are collapsed on the next compaction rewrite).
    """
    from ..sources.reader import write_bucketed

    if fp_col is None:
        fps = df.select(fingerprint(F.col(text_col)).alias("fp"))
    else:
        fps = df.select(F.col(fp_col).alias("fp"))
    write_bucketed(fps.distinct(), table, ["fp"], num_buckets=num_buckets, mode=mode)


def compact_fingerprint_store(
    spark,
    table: str,
    num_buckets: int | None = None,
) -> None:
    """Rewrite a fingerprint store distinct — the periodic maintenance
    pass for ``write_fingerprint_store(mode="append")`` ingest: appended
    batches may repeat fingerprints already in the store (harmless to
    the anti join, but each duplicate is a wasted row in every future
    history scan).  One distinct + one bucketed write; run it on
    whatever cadence the duplicate fraction warrants (the anti join's
    CORRECTNESS never depends on it).  ``num_buckets`` defaults to the
    table's current bucket count so the zero-Exchange join property is
    preserved across compactions.
    """
    from ..sources.reader import write_bucketed

    if num_buckets is None:
        # DESCRIBE exposes the bucket spec; parse "Num Buckets"
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        spec = {r["col_name"]: r["data_type"] for r in rows}
        try:
            num_buckets = int(spec["Num Buckets"])
        except (KeyError, ValueError):
            raise ValueError(
                f"cannot read bucket count of {table!r} from DESCRIBE; "
                "pass num_buckets explicitly"
            )
    # write-to-temp-then-swap: overwriting a table read by its own plan
    # is refused by the analyzer (and caching it is eviction-fragile),
    # so the compacted copy lands under a temp name and is swapped in.
    # The swap is rename-rename-drop, NOT drop-rename: the store name
    # must resolve at every intermediate step, so a crash between the
    # two renames leaves the old data under the __compact_bak name
    # (recoverable by renaming it back) instead of leaving the store
    # missing entirely.
    tmp = f"{table}__compact_tmp"
    bak = f"{table}__compact_bak"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    spark.sql(f"DROP TABLE IF EXISTS {bak}")
    write_bucketed(
        spark.table(table).distinct(), tmp, ["fp"], num_buckets=num_buckets
    )
    spark.sql(f"ALTER TABLE {table} RENAME TO {bak}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    spark.sql(f"DROP TABLE {bak}")


def exact_dedup_incremental_store(
    new_df: DataFrame,
    store_table: str,
    text_col: str = "text",
    keep_by: str | None = None,
) -> DataFrame:
    """Store-backed :func:`exact_dedup_incremental`: dedup a new batch
    against a PERSISTED bucketed fingerprint store
    (:func:`write_fingerprint_store`) instead of an inline DataFrame.

    Identical results to the inline path (oracle-equivalence is
    unit-gated); the difference is the physical plan — the history side
    is scanned straight out of its buckets with NO Exchange and no
    sort (the store is written sorted), so per-batch cost is
    O(batch) + a metadata-cheap history scan, never a history shuffle.
    This is the 100 TB continuous-ingest shape: the fingerprint store
    outgrows any single batch by orders of magnitude, and re-shuffling
    it per batch would dominate the whole pipeline.
    """
    spark = new_df.sparkSession
    # alias-aware output partitioning carries the bucket distribution
    # through the rename, so the join still sees the store pre-hashed
    store = spark.table(store_table).select(F.col("fp").alias("__fp"))
    batch = exact_dedup(new_df, text_col, keep_by).withColumn(
        "__fp", fingerprint(F.col(text_col))
    )
    return batch.join(store, "__fp", "left_anti").drop("__fp")


def exact_dup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fingerprint → group size for groups with >1 member (dup report)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


# --- MinHash + LSH ---------------------------------------------------------
def minhash_banded_vectorized(
    k: int = 192,
    num_bands: int = 64,
    shingle_n: int = 5,
    seed: int = 42,
) -> Column:
    """The fused MinHash Arrow kernel: ONE numpy pass over each text
    emitting its LSH band buckets and its shingle-hash set,
    struct{bk: array<bigint>, hs: array<bigint>}.

    ``bk[i]`` hashes the i-th row-group of the k-permutation Broder
    signature (hashing the band slices inside the kernel keeps the JVM
    side down to a posexplode); ``hs`` is the distinct 64-bit shingle
    hash set, the exact-Jaccard verification identity.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    coeffs = _perm_coeffs(k, seed)
    rows_per_band = k // num_bands

    @pandas_udf("bk: array<bigint>, hs: array<bigint>")
    def kernel(texts: pd.Series) -> pd.DataFrame:
        A = np.array([a for a, _ in coeffs], dtype=np.uint64)[:, None]
        B = np.array([b for _, b in coeffs], dtype=np.uint64)[:, None]
        bks, hsets = [], []
        for t in texts:
            if t is None:
                bks.append(None)
                hsets.append(None)
                continue
            hs = _np_shingle_hashes(t, shingle_n)
            sig = _np_minhash_sig(hs, A, B)
            bks.append(_np_band_keys(sig, num_bands, rows_per_band).view(np.int64))
            hsets.append(hs.view(np.int64))
        return pd.DataFrame({"bk": bks, "hs": hsets})

    # non-deterministic: stops the optimizer duplicating the kernel below
    # a repartition to evaluate a pushed-down null filter (guide §4.4 —
    # r14 caught the twin ArrowEvalPython running the whole kernel
    # single-task on the exchange's map side; the kernel is pure, only
    # the optimizer's licence to copy/reorder it changes)
    return kernel.asNondeterministic()


# A prep table whose hash-set payload measures below this broadcasts
# whole for verification (one pipelined job); above it, the semi-join
# path trims it to the candidate ids first.
_DIRECT_BROADCAST_BYTES = 100 << 20


def _minhash_prep(
    df: DataFrame, id_col: str, text_col: str, kernel, out_id: str,
    persist: bool,
):
    """Fused signature+shingle-set pass → (out_id, __bk, __g)
    [+ (count, hash-set payload bytes) when persisted]."""
    p = _spread(df).select(
        F.col(id_col).alias(out_id), kernel(F.col(text_col)).alias("__p")
    ).select(
        out_id, F.col("__p.bk").alias("__bk"), F.col("__p.hs").alias("__g")
    )
    n = g_bytes = None
    if persist:
        # materialize BEFORE fanning out: concurrent jobs racing an
        # unpopulated cache each recompute the kernel.  The same job
        # MEASURES the hash-set payload (rows + 16 B/hash incl. array
        # overhead) — the evidence the verify step's broadcast-vs-
        # semi-join decision needs.
        p = p.persist()
        row = p.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.size("__g")), F.lit(0)).alias("h"),
            # the id column rides along in the broadcast: measure it too
            # (wide string ids — URLs — can dwarf short docs' hash sets)
            F.coalesce(
                F.sum(F.length(F.col(out_id).cast("string"))), F.lit(0)
            ).alias("idb"),
        ).first()
        # 16 B per hash (value + array overhead); ids at measured string
        # length + 24 B per-row object/offset overhead
        n = row["n"]
        g_bytes = row["h"] * 16 + row["idb"] + 24 * n
    return p, n, g_bytes


def _bands(prep: DataFrame, out_id: str) -> DataFrame:
    """(out_id, band, bucket) rows of a prep table (id column first)."""
    return prep.select(
        F.col(prep.columns[0]).alias(out_id),
        F.posexplode("__bk").alias("band", "bucket"),
    )


def _lsh_candidates(
    a: DataFrame,
    b: DataFrame | None,
    a_id: str,
    b_id: str,
    threshold: float,
    rows_per_band: int,
    num_bands: int,
    miss_tolerance: float,
    max_bucket: int | None = None,
    b_docs: int | None = None,
) -> DataFrame:
    """THE candidate builder every MinHash entry point shares: band
    tables ``(id, band, bucket)`` → optional ``max_bucket`` cap → equi-
    join on (band, bucket) → band-consensus count → pinned-width
    repartition.  Returns ``(a_id, b_id)``.

    ``b=None`` self-joins ``a`` and keeps each pair once (a_id < b_id).
    The cap drops (band, bucket) groups of more than ``max_bucket`` b-side
    rows; a group absent from one side joins nothing, so capping b caps
    the join.  ``b_docs``: the MEASURED b-side doc count, when known —
    the b band table (``b_docs × num_bands`` 24-byte tuples) then gets
    the broadcast hint while it is broadcast-sized, which skips AQE's
    materialize-both-sides shuffle stage; at corpus scale the hint is
    withheld and the join shuffles on (band, bucket) as usual.
    """
    self_join = b is None
    if self_join:
        b = a.withColumnRenamed(a_id, b_id)
    if max_bucket is not None:
        small = (
            b.groupBy("band", "bucket")
            .agg(F.count("*").alias("__bsz"))
            .filter(F.col("__bsz") <= max_bucket)
            .select("band", "bucket")
        )
        b = b.join(small, ["band", "bucket"])
    if b_docs is not None and b_docs * num_bands * 24 < 100 << 20:
        b = F.broadcast(b)
    joined = a.join(b, ["band", "bucket"], "inner")
    if self_join:
        joined = joined.filter(F.col(a_id) < F.col(b_id))
    consensus = min_band_matches(
        threshold, rows_per_band, num_bands, miss_tolerance
    )
    return (
        joined.groupBy(a_id, b_id)  # same shuffle as distinct(), plus the m count
        .agg(F.count("*").alias("__m"))
        .filter(F.col("__m") >= consensus)
        .select(a_id, b_id)
        # stage break: without it Catalyst fuses agg + consensus filter +
        # both verification joins + the jaccard math into ONE generated
        # method that exceeds the JIT/hugeMethodLimit and the whole
        # pipeline runs interpreted (~100 µs/row over the full agg input).
        # The exchange carries only the post-consensus pairs (16 B each).
        # The partition count is pinned: the pair stream is BYTE-small but
        # CPU-heavy downstream (~85 µs/intersect), and with a bare
        # repartition AQE coalesces the 3 MB exchange to ONE partition,
        # serializing verification (15 s single-task vs 2 s at 32-way).
        .repartition(a.sparkSession.sparkContext.defaultParallelism, a_id)
    )


def _verify_candidates(
    cand: DataFrame,
    prep_a: DataFrame,
    prep_b: DataFrame,
    a_id: str,
    b_id: str,
    threshold: float,
    direct: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair list.

    ``cand``: (a_id, b_id) pairs, already consensus-filtered and
    repartitioned; ``prep_x``: (x_id, ..., __g) hash-set tables.

    ``direct=True`` (caller MEASURED the prep payload below the
    broadcast budget): broadcast the whole hash-set tables — the verify
    collapses into one pipelined job with the candidate generation, no
    materialization barrier.  ``direct=False`` (corpus scale): the
    hash-set tables are SEMI-JOINED to the candidate ids before the
    broadcast — candidates are small by construction, the per-doc table
    is not, and broadcasting the full table is the one unscalable step
    at corpus size (the id lists themselves broadcast trivially);
    ``cand`` then feeds three consumers, so callers pass it persisted.

    (r14 note: for the self-join callers ``prep_a``/``prep_b`` are the
    same cached table renamed, and with AQE off ReuseExchange dedupes
    the two broadcasts into one — but under AQE, which the bench and
    production configs run, the two broadcast query stages are built
    independently (verified empirically on 4.1: canonical-equal
    broadcast stages still materialize twice), so a shared-projection
    rewrite buys nothing; the two builds overlap on the exchange
    thread pool.)
    """
    if direct:
        ga = F.broadcast(prep_a.select(a_id, F.col("__g").alias("__ga")))
        gb = F.broadcast(prep_b.select(b_id, F.col("__g").alias("__gb")))
    else:
        ga = F.broadcast(
            prep_a.select(a_id, F.col("__g").alias("__ga")).join(
                F.broadcast(cand.select(a_id).distinct()), a_id, "left_semi"
            )
        )
        gb = F.broadcast(
            prep_b.select(b_id, F.col("__g").alias("__gb")).join(
                F.broadcast(cand.select(b_id).distinct()), b_id, "left_semi"
            )
        )
    joined = cand.join(ga, a_id).join(gb, b_id)
    ca, cb = F.col("__ga"), F.col("__gb")
    # Size-ratio prefilter: j ≥ t ⟹ min(|A|,|B|) ≥ t·max(|A|,|B|) — an
    # int compare that skips the intersect when sizes rule the pair out.
    sa, sb = F.size(ca), F.size(cb)
    size_ok = F.least(sa, sb).cast("double") >= F.lit(threshold) * F.greatest(
        sa, sb
    ).cast("double")
    inter = F.size(F.array_intersect(ca, cb)).cast("double")
    uni = (sa + sb).cast("double") - inter
    return (
        joined.filter(size_ok)
        .withColumn("jaccard", F.when(uni > 0, inter / uni).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select(a_id, b_id, "jaccard")
    )


def _verify_and_release(
    cand: DataFrame,
    prep_a: DataFrame,
    prep_b,
    a_id: str,
    b_id: str,
    threshold: float,
    direct: bool,
    caches: list[DataFrame],
) -> DataFrame:
    """Verify ``cand`` exactly, materialize the verified pairs with
    ``localCheckpoint`` while the caches are live, then unpersist every
    cache the entry point made — ``caches`` and ``cand`` — whatever
    happens.  The result owns no cache and no Python-eval node, so any
    number of later consumers read the stored pairs instead of re-running
    the kernel; :func:`free_checkpoint` releases them.

    ``direct=False``: ``cand`` feeds three consumers (two semi-join
    broadcast builds and the verify join, submitted concurrently on the
    broadcast thread pool), so it is persisted and materialized BEFORE
    the fan-out — otherwise each build races the unpopulated cache and
    recomputes the band join.  ``prep_b`` may be a function of the
    candidates, for a prep semi-joined to the candidate ids.
    """
    try:
        if not direct:
            cand = cand.persist()
            cand.count()
        if callable(prep_b):
            prep_b = prep_b(cand)
        return _verify_candidates(
            cand, prep_a, prep_b, a_id, b_id, threshold, direct=direct
        ).localCheckpoint()
    finally:
        for c in (cand, *caches):
            c.unpersist()


def free_checkpoint(df: DataFrame) -> None:
    """Unpersist exactly the RDD a ``localCheckpoint``ed frame scans —
    its analyzed plan is a ``LogicalRDD`` over the materialized blocks.

    The owner of a checkpoint frees it by identity, so a cache some
    other caller persisted in the same SparkContext is never touched.
    A frame that is not a checkpoint scan is left alone.
    """
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def near_dup_pairs_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 32,
    num_bands: int = 8,
    shingle_n: int = 5,
    persist: bool = True,
    miss_tolerance: float = 1e-4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidates → band-consensus prefilter → exact-Jaccard ≥ threshold.

    The join back to texts is two hash joins on the id; at scale the texts
    side is the big table and candidates are rare, so Spark broadcasts the
    candidate list (AQE decides from runtime size).

    ``miss_tolerance``: template-heavy corpora produce millions of 1-band
    chance collisions between low-similarity pairs (at sf0.1, 25% of ALL
    doc pairs collide in ≥1 band, but the similarity distribution is
    bimodal: background at j≈0.2, true dups at j≥0.9).  Instead of
    verifying every collision, require at least the :func:`min_band_matches`
    floor of matching bands for (threshold, r, b, miss_tolerance) — the
    binomial consensus floor that misses an exactly-at-threshold pair with
    probability ≤ ``miss_tolerance`` and cuts ~96% of verification.  The
    floor never drops below one band, so the banding geometry itself
    bounds recall: an at-threshold pair shares no band with probability
    (1 − t^r)^b.  At the defaults (k=32 in 8 bands of r=4, t=0.7) that is
    ≈ 0.11, far above the 1e-4 tolerance; a ``UserWarning`` says so
    whenever the geometry cannot meet ``miss_tolerance`` (x02's k=770 in
    154 bands at t=0.6 misses with ≈ 4e-6 and does not warn).

    ``persist``: kept for compatibility; it no longer changes what runs.
    Every call caches the per-doc prep table (the fused MinHash kernel
    runs once per document), materializes the verified pairs with
    ``localCheckpoint``, and releases the prep (and the candidate cache,
    when one was needed) before returning.  The result's plan is a scan
    of the materialized pairs, so any number of later consumers never
    re-run the kernel; its blocks are freed by :func:`free_checkpoint`,
    or when the frame is garbage collected.

    ``max_bucket``: skip (band, bucket) groups with more than this many
    members before the self-join.  A bucket of d docs emits d²/2 pair
    rows, so a corpus with many IDENTICAL copies (which collide in EVERY
    band) degrades quadratically — run ``exact_dedup`` first (identical
    copies are exact dups; near-dup LSH is the wrong tool for them), and
    use this cap as the belt-and-suspenders guard.  With the cap a
    same-bucket pair can be missed; ``None`` (default) keeps recall
    exact.
    """
    rows_per_band = k // num_bands
    miss_rate = (1.0 - threshold ** rows_per_band) ** num_bands
    if miss_rate > miss_tolerance:
        import warnings

        warnings.warn(
            f"k={k} in {num_bands} bands misses a pair at jaccard="
            f"{threshold} with probability {miss_rate:.2g} > "
            f"miss_tolerance={miss_tolerance}: add bands to meet it",
            stacklevel=2,
        )
    # ONE fused Arrow pass per document produces both the signature (for
    # banding) and the 64-bit shingle-hash set (for verification); the
    # result is persisted so banding, both self-join sides, and both
    # verification joins all read the same materialized rows.  Collision
    # odds per candidate pair ~|A||B|/2^64 ≈ 5e-15, so Jaccard over the
    # hash sets equals Jaccard over the string shingle sets.
    kernel = minhash_banded_vectorized(k, num_bands, shingle_n)
    prep, n_docs, g_bytes = _minhash_prep(
        df, id_col, text_col, kernel, id_col, persist=True
    )
    cand = _lsh_candidates(
        _bands(prep, "id_a"), None, "id_a", "id_b", threshold,
        rows_per_band, num_bands, miss_tolerance, max_bucket, b_docs=n_docs,
    )
    # measured-direct regime: the whole hash-set table fits the broadcast
    # budget → verification fuses with candidate generation into ONE
    # pipelined job (cand has a single consumer — no materialization
    # barrier)
    return _verify_and_release(
        cand,
        prep.withColumnRenamed(id_col, "id_a"),
        prep.withColumnRenamed(id_col, "id_b"),
        "id_a", "id_b", threshold,
        direct=2 * g_bytes < _DIRECT_BROADCAST_BYTES,
        caches=[prep],
    )


def fuzzy_join_minhash(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    left_text: str = "text",
    right_text: str = "text",
    threshold: float = 0.7,
    k: int = 770,
    num_bands: int = 154,
    shingle_n: int = 5,
    miss_tolerance: float = 1e-4,
) -> DataFrame:
    """Fuzzy JOIN between two corpora: pairs (left, right) with exact
    shingle-set Jaccard ≥ ``threshold``, candidates from shared LSH
    bands.

    The two-table sibling of :func:`near_dup_pairs_minhash` (decontam-
    style matching where BOTH sides are too big to broadcast as text):
    each side gets the same fused signature+shingle-set kernel, the band
    tables equi-join on (band, bucket) — 24-byte tuples, shuffled on the
    bucket key — and the binomial band-consensus floor plus exact
    verification make the result identical to the O(|L|·|R|) oracle.
    Returns ``(id_l, id_r, jaccard)`` materialized: both preps and the
    candidate cache are released before returning, and the result's plan
    is a scan of the ``localCheckpoint``ed pairs (:func:`free_checkpoint`).

    At 100 TB: same profile as the self-join path — only (id, band,
    bucket) shuffles for candidate generation; verification broadcasts
    the candidate ids' hash sets (small by construction).  If one side is
    a compact benchmark/probe set, pass it as ``right`` — its band table
    gets the broadcast hint when it is provably broadcast-sized.
    """
    kernel = minhash_banded_vectorized(k, num_bands, shingle_n)
    # the two prep materializations are independent jobs — submit them
    # concurrently so the second side's kernel back-fills the slots the
    # first side's stage tail leaves idle (guide §2.6: overlap
    # independent jobs; r14 measured the sequential preps at ~1.3 s
    # where one combined window runs in ~0.7 s)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_l = pool.submit(
            _minhash_prep, left, left_id, left_text, kernel, "id_l", True
        )
        fut_r = pool.submit(
            _minhash_prep, right, right_id, right_text, kernel, "id_r", True
        )
        prep_l, _, gb_l = fut_l.result()
        prep_r, n_r, gb_r = fut_r.result()

    cand = _lsh_candidates(
        _bands(prep_l, "id_l"), _bands(prep_r, "id_r"), "id_l", "id_r",
        threshold, k // num_bands, num_bands, miss_tolerance, b_docs=n_r,
    )
    return _verify_and_release(
        cand, prep_l, prep_r, "id_l", "id_r", threshold,
        direct=2 * (gb_l + gb_r) < _DIRECT_BROADCAST_BYTES,
        caches=[prep_l, prep_r],
    )


def fuzzy_join_band_store(
    batch: DataFrame,
    band_table: str,
    store_corpus: DataFrame,
    batch_id_col: str = "doc_id",
    batch_text_col: str = "text",
    store_id_col: str = "doc_id",
    store_text_col: str = "text",
    threshold: float = 0.7,
    *,
    max_bucket: int | None = None,
    miss_tolerance: float = 1e-4,
) -> DataFrame:
    """:func:`fuzzy_join_minhash` with the RIGHT side read from a
    persisted bucketed band table (:func:`write_band_table`) instead of
    being re-banded per call — the recurring-ingest shape: the store's
    signature/banding pass and its candidate-join shuffle are both paid
    ONCE at table-write time, and each batch pays only its own prep
    plus an exchange into the store's fixed bucket count (the store
    side of the candidate join is a bucketed scan, no Exchange).

    The banding geometry (k, num_bands, shingle_n) is ALWAYS read from
    the ``__params`` companion table so the batch-side kernel provably
    matches the store's banding — a geometry drift between the two
    sides silently collapses recall, so it is not overridable here.

    ``store_corpus`` is probed ONLY for candidate ids (semi join before
    the text re-hash), so verification cost is O(candidates), never
    O(store).  Returns ``(id_l, id_r, jaccard)`` materialized like the
    inline path: the batch prep and the candidate cache are released, and
    the plan is a scan of the ``localCheckpoint``ed pairs.
    """
    spark = batch.sparkSession
    prow = spark.table(f"{band_table}__params").first()
    k, num_bands, shingle_n = prow["k"], prow["num_bands"], prow["shingle_n"]
    kernel = minhash_banded_vectorized(k, num_bands, shingle_n)
    bands_r = spark.table(band_table).withColumnRenamed(store_id_col, "id_r")

    prep_l, _, _ = _minhash_prep(
        batch, batch_id_col, batch_text_col, kernel, "id_l", True
    )
    cand = _lsh_candidates(
        _bands(prep_l, "id_l"), bands_r, "id_l", "id_r", threshold,
        k // num_bands, num_bands, miss_tolerance, max_bucket,
    )

    def store_prep(cand: DataFrame) -> DataFrame:
        # hash sets for ONLY the candidate store rows: candidate ids are
        # small by construction (consensus-filtered), the store is not
        store_sub = store_corpus.withColumnRenamed(store_id_col, "id_r").join(
            F.broadcast(cand.select("id_r").distinct()), "id_r", "left_semi"
        )
        return _minhash_prep(
            store_sub, "id_r", store_text_col, kernel, "id_r", False
        )[0]

    return _verify_and_release(
        cand, prep_l, store_prep, "id_l", "id_r", threshold,
        direct=False, caches=[prep_l],
    )

# --- SimHash ---------------------------------------------------------------
def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document (Charikar 2002), fully native.

    explode(tokens) → per-bit ±1 partial sums → groupBy(id).  The 64 sums
    are map-side combinable, so the shuffle carries 64 longs per document
    regardless of document length.
    """
    toks = _spread(df).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    h = F.xxhash64(F.col("tok"))
    sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*sums)
    sim = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim.bitwiseOR(term)
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash64_vectorized(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document via one Arrow kernel — NO shuffle.

    The native version shuffles 64 longs per document; this one is a pure
    narrow projection (the per-bit vote runs inside numpy per document),
    which is the better plan at any scale — the whole sketch phase is one
    map pass over the corpus.

    Token hash = first 16 hex chars of md5 (portable: DuckDB's
    ``CAST('0x'||substr(md5(t),1,16) AS UBIGINT)`` reproduces it exactly,
    so SimHash results are oracle-checkable).  Tokenization mirrors
    ``text.tokenize``: lower, trim, split on whitespace.  Documents with
    no tokens yield NULL (the oracle's token-less docs vanish in its
    explode, so both sides exclude them from the pair universe).
    """
    import hashlib
    import re

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def kernel(texts: pd.Series) -> pd.Series:
        bits = np.arange(64, dtype=np.uint64)
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            # ASCII-pinned: match the expression path (Java \s) and the
            # DuckDB oracle (RE2 \s), both ASCII-only — not Python's \s.
            toks = [
                w
                for w in re.split(
                    r"[ \t\n\x0b\f\r]+", t.lower().strip(" \t\n\x0b\f\r")
                )
                if w
            ]
            if not toks:
                out.append(None)
                continue
            h = np.fromiter(
                (
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:16], 16)
                    for w in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            votes = (
                ((h[:, None] >> bits[None, :]) & np.uint64(1)).astype(np.int64)
                * 2
                - 1
            ).sum(axis=0)
            sim = int(
                np.bitwise_or.reduce(
                    np.where(votes > 0, np.uint64(1) << bits, np.uint64(0))
                )
            )
            out.append(sim - (1 << 64) if sim >= (1 << 63) else sim)
        return pd.Series(out, dtype="Int64")

    # non-deterministic: the isNotNull below otherwise gets pushed past
    # the spread exchange WITH a duplicated kernel evaluation (guide
    # §4.4 — r14 measured the twin ArrowEvalPython hashing every doc
    # single-task on the map side and again 32-way above)
    kernel = kernel.asNondeterministic()
    return (
        _spread(df)
        .select(F.col(id_col), kernel(F.col(text_col)).alias("simhash"))
        .filter(F.col("simhash").isNotNull())
    )


def near_dup_pairs_simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    num_blocks: int = 4,
    vectorized: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: split 64 bits into ``num_blocks`` blocks; any pair
    within distance < num_blocks shares ≥1 exact block → equi-join per block
    (no O(n²) scan), then verify with ``bit_count(xor)``.

    Recall is EXACT only while ``max_hamming < num_blocks`` (a pair can
    differ in at most ``max_hamming`` blocks, so some block matches
    exactly); beyond that blocking is a heuristic.
    """
    if max_hamming >= num_blocks:
        import warnings

        warnings.warn(
            f"max_hamming={max_hamming} >= num_blocks={num_blocks}: "
            "pigeonhole recall is no longer exact",
            stacklevel=2,
        )
    sh = (
        simhash64_vectorized(df, id_col, text_col)
        if vectorized
        else simhash64(df, id_col, text_col)
    )
    width = 64 // num_blocks
    blocks = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for i in range(num_blocks)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    a = blocks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "blk", "key"
    )
    bn = blocks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "blk", "key"
    )
    return (
        a.join(bn, ["blk", "key"], "inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- n-gram Jaccard (word-level) -------------------------------------------
def word_gram_hashes_vectorized(n: int = 3):
    """Arrow kernel: distinct 64-bit word-n-gram hashes per document.

    The expression path (``word_ngrams``: transform/slice/concat_ws
    HOFs) is CodegenFallback — interpreted per element; this kernel
    tokenizes and hashes each batch in Python with a fixed 64-bit
    blake2b gram identity (stable across processes, unlike ``hash()``).
    Token/gram semantics mirror ``text.tokenize``/``word_ngrams``
    exactly: lowercase, trim, split on whitespace, drop empties; texts
    with fewer than n tokens contribute their whole token string as the
    single gram.  "Whitespace" is pinned to the ASCII class
    ``[ \\t\\n\\x0b\\f\\r]`` — Java's ``\\s`` (the expression path) and
    RE2's ``\\s`` (the DuckDB oracles) are ASCII-only, while Python's
    ``\\s``/``str.strip()`` also match NBSP, U+0085, etc.; without the
    pin, Unicode-whitespace text silently diverges from both the oracle
    and ``decontaminate``'s own short-text containment path.
    """
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    ascii_ws = " \t\n\x0b\f\r"

    @pandas_udf("array<bigint>")
    def kernel(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = [w for w in ws.split(t.strip(ascii_ws).lower()) if w]
            if not toks:
                out.append([])
                continue
            if len(toks) < n:
                grams = {" ".join(toks)}
            else:
                grams = {
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                }
            out.append(
                [
                    int.from_bytes(
                        hashlib.blake2b(g.encode(), digest_size=8).digest(),
                        "big",
                        signed=True,
                    )
                    for g in grams
                ]
            )
        return pd.Series(out)

    # non-deterministic: stops the optimizer duplicating the kernel below
    # a repartition to evaluate a pushed-down null filter (guide §4.4 —
    # r14 caught the twin ArrowEvalPython running the whole kernel
    # single-task on the exchange's map side; the kernel is pure, only
    # the optimizer's licence to copy/reorder it changes)
    return kernel.asNondeterministic()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    vectorized: bool = True,
) -> DataFrame:
    """Word n-gram Jaccard near-dup via inverted-index join.

    explode(ngrams) → join on the gram → per-pair intersection counts →
    Jaccard with |A|+|B|−|A∩B|.  Shuffles (gram → id) postings, the same
    cost profile as building an inverted index.

    ``max_df``: stop-gram cap — drop grams whose document frequency
    exceeds it BEFORE the self-join.  A gram shared by d documents emits
    d·(d−1)/2 pair rows, so boilerplate grams ("terms and conditions")
    quadratically dominate the join at corpus scale while contributing
    almost nothing to any pair's Jaccard.  ``None`` (default) keeps the
    computation exact — |A|/|B| still count ALL grams either way, so with
    a cap the reported jaccard is a LOWER bound: pairs can only be
    missed, never invented.  At 100 TB set e.g. ``max_df=10_000``; the
    df table costs one extra groupBy over the (already materialized)
    posting list.
    """
    # 64-bit gram identity: the join/shuffle key drops from a ~25 B
    # 3-word string to 8 B and the hash-join compares longs — ~2× on the
    # posting self-join, the dominant stage.  Collision odds per pair
    # ~|A||B|/2^64 (same argument as the MinHash verification sets), so
    # intersection counts — and the reported Jaccard — are unchanged.
    if vectorized:
        gram_kernel = word_gram_hashes_vectorized(n)
        base = _spread(df).select(
            F.col(id_col), gram_kernel(F.col(text_col)).alias("__ga")
        )
        hash_after_explode = False
    else:
        # keep the GRAM STRINGS in the array and hash AFTER the explode:
        # xxhash64 over exploded rows runs in whole-stage codegen,
        # whereas hashing inside an F.transform lambda is interpreted
        # per element (the measured ~24x HOF tax this repo's perf notes
        # document)
        base = _spread(df).select(
            F.col(id_col),
            F.array_distinct(word_ngrams(F.col(text_col), n)).alias("__ga"),
        )
        hash_after_explode = True
    # materialize at the ARRAY level, once: the gram pipeline is the
    # expensive part and feeds three consumers — |A| sizes (narrow:
    # F.size over the array, NO groupBy shuffle over the posting list),
    # and both self-join sides (narrow explode each)
    base = base.filter(F.col("__ga").isNotNull()).persist()
    base.count()
    sizes = base.select(F.col(id_col), F.size("__ga").alias("sz"))
    grams = base.select(F.col(id_col), F.explode("__ga").alias("gram"))
    if hash_after_explode:
        grams = grams.select(id_col, F.xxhash64("gram").alias("gram"))
    joinable = grams
    if max_df is not None:
        rare = (
            grams.groupBy("gram")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("gram")
        )
        joinable = grams.join(rare, "gram")
    a = joinable.withColumnRenamed(id_col, "id_a")
    b = joinable.withColumnRenamed(id_col, "id_b")
    inter = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- embedding cosine near-dup ---------------------------------------------
def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    num_tables: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH + exact cosine verify.

    Signature = sign bits of dot products with ``num_planes`` seeded
    random hyperplanes per table (SimHash for angles, Charikar 2002);
    candidates share a full signature in ANY of ``num_tables``
    independent tables (OR-amplification — P(candidate) =
    1-(1-p^k)^t with p = 1-θ/π).  High thresholds (≈0.95) work with one
    table of many planes; mid thresholds need several short tables.
    Exact cosine runs only within buckets.
    """
    from .similarity import cosine_sim, hyperplane_signatures_vectorized

    # one Arrow pass computes every table's signature (a single
    # batch × planes matrix multiply); one row per (vector, table) after
    # posexplode — shuffles t 16-byte rows per vector, never pairs
    sig_kernel = hyperplane_signatures_vectorized(num_planes, num_tables, seed)
    tagged = _spread(df).select(
        F.col(id_col),
        F.posexplode(sig_kernel(F.col(vec_col))).alias("tbl", "s"),
    )
    # candidate generation joins IDS ONLY: carrying the vectors through
    # the bucket self-join replicates every embedding once per colliding
    # pair per table (at 2k vectors × 12 tables that is ~GBs of array
    # copies and GC thrash; at corpus scale it is fatal).  The (tbl, s)
    # join shuffles 16-byte rows; verification then broadcasts only the
    # vectors OF CANDIDATE IDS (semi-join first — candidates are small
    # by construction, the full embedding table is not), the same
    # verify-small profile as the MinHash path.  ``cand`` feeds the
    # semi-join and the verify join, so it is persisted once instead of
    # re-running the LSH self-join per consumer.
    a = tagged.select(F.col(id_col).alias("id_a"), "tbl", "s")
    b = tagged.select(F.col(id_col).alias("id_b"), "tbl", "s")
    cand = (
        a.join(b, ["tbl", "s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "id_a")
        .persist()
    )
    vecs = df.select(F.col(id_col), F.col(vec_col))
    hit_a = cand.select(F.col("id_a").alias(id_col))
    hit_b = cand.select(F.col("id_b").alias(id_col))
    va = F.broadcast(
        vecs.join(hit_a, id_col, "left_semi").select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
        )
    )
    vb = F.broadcast(
        vecs.join(hit_b, id_col, "left_semi").select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
        )
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_sim(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# --- auto-regime selection --------------------------------------------------
def near_dup_plan(metric: str, threshold: float) -> tuple[str, dict]:
    """Pick the near-duplicate algorithm + parameters for an operating
    point — the measured regime rules, as a dispatchable function instead
    of documentation prose.

    jaccard (text):
      * t ≥ 0.45 → MinHash LSH banding; rows-per-band chosen so the
        S-curve midpoint (1/b)^(1/r) sits near the threshold: longer
        bands at high t collapse the background collision rate (j^r),
        shorter bands at moderate t protect recall.  k stays ~768 — extra
        permutations are nearly free inside the fused Arrow kernel.
      * t < 0.45 → exact inverted-index n-gram join
        (``ngram_jaccard_pairs``): below the S-curve's useful range LSH
        admits most pairs anyway, so candidate generation costs more
        than scoring; the posting join with a ``max_df`` stop-gram cap
        is the scalable exact plan.
    cosine (embeddings):
      * t ≥ 0.9 → hyperplane LSH (``cosine_near_dup_pairs``): per-band
        agreement for unrelated pairs is 0.5^planes vs (1−θ/π)^planes
        at the threshold — a real gap only at high thresholds.
      * t < 0.9 → blocked-GEMM exact scoring
        (``similarity.cosine_all_pairs_blocked``): at moderate
        thresholds a guaranteed-recall LSH admits ~everything (measured:
        ~96% of all pairs at t=0.45) and loses to BLAS tiles.
    hamming (text → 64-bit SimHash):
      * ``threshold`` is the max Hamming distance; pigeonhole blocking
        needs ``num_blocks > max_hamming`` for exact recall.
    """
    m = metric.lower()
    if m == "jaccard":
        if threshold >= 0.85:
            return "minhash", dict(k=768, num_bands=96, shingle_n=5)   # r=8
        if threshold >= 0.7:
            return "minhash", dict(k=768, num_bands=128, shingle_n=5)  # r=6
        if threshold >= 0.45:
            return "minhash", dict(k=770, num_bands=154, shingle_n=5)  # r=5
        return "ngram_jaccard", dict(n=3)
    if m == "cosine":
        if threshold >= 0.9:
            return "hyperplane_lsh", dict(num_planes=12, num_tables=4)
        return "blocked_gemm", dict(num_blocks=8)
    if m == "hamming":
        max_h = int(threshold)
        return "simhash", dict(max_hamming=max_h, num_blocks=max_h + 1)
    raise ValueError(
        f"unknown near-dup metric {metric!r}; expected jaccard|cosine|hamming"
    )


def near_dup(
    df: DataFrame,
    id_col: str,
    value_col: str,
    metric: str = "jaccard",
    threshold: float = 0.8,
    **overrides,
) -> DataFrame:
    """Near-duplicate pairs with the algorithm chosen by
    :func:`near_dup_plan` for (metric, threshold); ``overrides`` replace
    individual tuned parameters.  Returns ``(id_a, id_b, score)`` where
    score is ``jaccard``, ``cosine``, or ``hamming`` per the metric.
    """
    # cosine over a STRING column: embed it first (feature-hashing BoW,
    # deterministic) so `near_dup(df, 'doc_id', 'text', metric='cosine')`
    # works on raw text — the same (id, embedding) shape a learned
    # encoder would produce.  `embed_dim`/`embed_ngram` override the
    # defaults; they are consumed HERE unconditionally so an
    # already-embedded input doesn't leak them into the algorithm kwargs.
    metric = metric.lower()
    embed_dim = int(overrides.pop("embed_dim", 256))
    embed_ngram = int(overrides.pop("embed_ngram", 1))
    if metric == "cosine":
        from pyspark.sql.types import StringType

        if isinstance(df.schema[value_col].dataType, StringType):
            from .text import embed_documents

            df = embed_documents(
                df, id_col, value_col, dim=embed_dim, ngram=embed_ngram
            )
            value_col = "embedding"
    algo, params = near_dup_plan(metric, threshold)
    params.update(overrides)
    if algo == "minhash":
        return near_dup_pairs_minhash(
            df, id_col, value_col, threshold=threshold, **params
        )
    if algo == "ngram_jaccard":
        return ngram_jaccard_pairs(
            df, id_col, value_col, threshold=threshold, **params
        )
    if algo == "hyperplane_lsh":
        return cosine_near_dup_pairs(
            df, id_col, value_col, threshold=threshold, **params
        )
    if algo == "blocked_gemm":
        from .similarity import cosine_all_pairs_blocked

        return cosine_all_pairs_blocked(
            df, id_col, value_col, threshold=threshold, **params
        )
    return near_dup_pairs_simhash(df, id_col, value_col, **params)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    value_col: str = "text",
    metric: str = "jaccard",
    threshold: float = 0.8,
    **overrides,
) -> DataFrame:
    """End-user near-duplicate REMOVAL in one call: pairs from the
    auto-selected algorithm (:func:`near_dup`), transitive clusters from
    large-star/small-star (:mod:`.graph`), minimum-id survivor per
    cluster — returns the deduplicated rows of ``df``.

    The composition every pretraining pipeline hand-writes: run
    ``exact_dedup`` first (identical copies are the LSH pathology), then
    this for the near-dup tail.  Every stage is shuffle-on-key; the
    corpus itself only ever joins on its own id column.
    """
    from .graph import dedup_keep_canonical

    pairs = near_dup(df, id_col, value_col, metric, threshold, **overrides)
    return dedup_keep_canonical(df, pairs, id_col)


# --- bucketed band-table path (the shuffle-free LSH self-join) --------------
def write_band_table(
    df: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 770,
    num_bands: int = 154,
    shingle_n: int = 5,
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Materialize the LSH band table `(id, band, bucket)` BUCKETED on its
    self-join key — the SCALE.md path that makes the candidate-generation
    join shuffle-free at corpus scale.

    The band self-join is the one shuffle MinHash pays per run; a corpus
    deduplicated repeatedly (every ingest batch, every re-crawl) pays it
    every time.  Bucketing the band table once on (band, bucket) makes
    every subsequent self- or cross-join against it a ZERO-exchange local
    sort-merge (Spark aligns the bucket files), so re-runs cost only the
    new batch's prep.  Banding math and downstream verification are
    unchanged — :func:`candidate_pairs_from_band_table` feeds the same
    consensus filter + exact verify as the in-memory path.

    ``mode="append"`` adds a new batch's bands to an existing table —
    the continuous-ingest loop (dedup a batch against the store with
    :func:`fuzzy_join_band_store`, then append the KEPT rows' bands so
    the next batch dedups against them too).  The append is refused
    with a ValueError unless the batch's banding geometry matches the
    table's ``__params`` companion exactly: mixed-geometry bands in one
    table silently collapse recall (bucket keys from different
    permutation sets never collide where they should).
    """
    from ..sources.reader import write_bucketed

    spark = df.sparkSession
    if mode == "append":
        try:
            prow = spark.table(f"{table}__params").first()
        except Exception:
            prow = None
        if prow is None:
            raise ValueError(
                f"append to {table!r} without a readable "
                f"'{table}__params' companion — cannot prove banding "
                "geometry matches; write the table with "
                "mode='overwrite' first"
            )
        have = (prow["k"], prow["num_bands"], prow["shingle_n"])
        want = (int(k), int(num_bands), int(shingle_n))
        if have != want:
            raise ValueError(
                f"banding geometry mismatch appending to {table!r}: "
                f"table has (k, num_bands, shingle_n)={have}, caller "
                f"passed {want} — mixed geometries in one band table "
                "silently collapse recall"
            )
    kernel = minhash_banded_vectorized(k, num_bands, shingle_n)
    prep, _, _ = _minhash_prep(df, id_col, text_col, kernel, id_col, False)
    write_bucketed(
        _bands(prep, id_col), table, ["band", "bucket"],
        num_buckets=num_buckets, mode=mode,
    )
    if mode == "append":
        return
    # the banding geometry IS the table's semantics: persist it alongside
    # so readers derive the consensus floor from the TRUE parameters
    # instead of trusting call-site defaults (a k/num_bands mismatch
    # silently collapses recall otherwise)
    spark.createDataFrame(
        [(int(k), int(num_bands), int(shingle_n))],
        "k int, num_bands int, shingle_n int",
    ).write.mode("overwrite").saveAsTable(f"{table}__params")


def candidate_pairs_from_band_table(
    spark,
    table: str,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    *,
    max_bucket: int | None = None,
    miss_tolerance: float = 1e-4,
    num_bands: int | None = None,
    rows_per_band: int | None = None,
) -> DataFrame:
    """Consensus-filtered candidate pairs from a bucketed band table:
    the same banding/consensus semantics as ``near_dup_pairs_minhash``'s
    inline path, but the self-join reads two aligned bucketed scans —
    no exchange on either side.  Feed the result to exact verification
    (``_verify_candidates`` via the prep table, or re-hash the candidate
    texts) exactly like the inline path.

    The banding geometry (k, num_bands) is read from the ``__params``
    companion table :func:`write_band_table` wrote — the consensus floor
    always matches the table's true parameters.  For a band table
    written WITHOUT a companion (older layout), pass keyword-only
    ``num_bands`` + ``rows_per_band`` explicitly; geometry is never
    silently defaulted.  ``max_bucket`` is the same hot-bucket quadratic
    guard as the inline path (a bucket of d docs emits d²/2 pair rows;
    run ``exact_dedup`` first, cap as belt-and-suspenders).  All tuning
    arguments are keyword-only so a call written against an older
    signature fails loudly instead of reinterpreting positions."""
    if num_bands is None or rows_per_band is None:
        try:
            prow = spark.table(f"{table}__params").first()
        except Exception:
            prow = None
        if prow is None:
            raise ValueError(
                f"no '{table}__params' companion table and no explicit "
                "num_bands/rows_per_band — cannot derive the consensus "
                "floor for this band table"
            )
        # Honor an explicitly provided half of the geometry (e.g. a
        # caller correcting a stale params table) and fill only the
        # missing half — never silently discard a passed value.
        if num_bands is None and rows_per_band is None:
            num_bands = prow["num_bands"]
            rows_per_band = prow["k"] // num_bands
        elif rows_per_band is None:
            rows_per_band = prow["k"] // num_bands
        else:
            num_bands = prow["k"] // rows_per_band
    return _lsh_candidates(
        spark.table(table).withColumnRenamed(id_col, "id_a"), None,
        "id_a", "id_b", threshold, rows_per_band, num_bands,
        miss_tolerance, max_bucket,
    )


def dedup_report(
    df: DataFrame,
    text_col: str = "text",
    by: str | None = None,
) -> DataFrame:
    """Duplication summary: rows, distinct fingerprints, duplicate rows
    and duplication rate — overall, or per ``by`` group (the per-source
    table a dedup run publishes next to its corpus stats).

    One groupBy over 16-byte fingerprints (+ the group key) then a
    count-distinct aggregate — map-side combinable, no text shuffles
    (only fingerprints and the group key move).
    """
    fp = fingerprint(F.col(text_col)).alias("__fp")
    keys = [by] if by else []
    out = (
        df.select(*keys, fp)
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("__fp").alias("n_unique"),
        )
        .select(
            *keys,
            "n_rows",
            "n_unique",
            (F.col("n_rows") - F.col("n_unique")).alias("n_dup_rows"),
            (
                (F.col("n_rows") - F.col("n_unique")) / F.col("n_rows")
            ).cast("double").alias("dup_rate"),
        )
    )
    return out.orderBy(by) if by else out

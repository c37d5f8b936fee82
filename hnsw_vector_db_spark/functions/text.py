"""Text primitives as Column expressions: tokenization, shingling, and
engine-portable deterministic hashing.

Design constraint: every hash here must be *reproducible in ANSI SQL* so the
DuckDB oracle can verify dedup/fingerprint operators value-for-value. Spark's
builtin murmur3/xxhash64 are not portable, so we use a polynomial rolling
hash over unicode codepoints with all arithmetic kept under 2^62 (DuckDB
BIGINT overflow errors; Spark would wrap silently — staying small keeps both
exact). All builders are pure Column expressions — JVM-side, codegen-able,
no Python in the hot path.

Constants: BASE=131 (classic polyhash base), MOD=2^31-1 (Mersenne prime) so
`a*x + b` with a,b < MOD stays < 2^62 in minhash.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_BASE = 131
HASH_MOD = (1 << 31) - 1  # 2147483647, Mersenne prime


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def char_codes(s: Column | str) -> Column:
    """Unicode codepoints of a string (Spark ascii() == DuckDB unicode())."""
    return F.transform(F.split(_c(s), ""), lambda ch: F.ascii(ch))


def poly_hash(s: Column | str, base: int = HASH_BASE, mod: int = HASH_MOD) -> Column:
    """Polynomial rolling hash over codepoints: fold acc*base+cp (mod m).

    Empty string hashes to 0. Matches DuckDB's
    ``list_reduce(codes, (a,c) -> (a*base+c) % mod)`` because the first
    fold step from init 0 yields the first codepoint unchanged.
    """
    return F.aggregate(
        char_codes(s),
        F.lit(0).cast("long"),
        lambda acc, cp: (acc * base + cp) % mod,
    )


def tokens(s: Column | str) -> Column:
    """Whitespace tokens, empties dropped (portable: DuckDB
    ``list_filter(string_split_regex(s,'\\s+'), t -> t <> '')``)."""
    return F.filter(F.split(_c(s), r"\s+"), lambda t: t != "")


def bpe_ish_tokens(s: Column | str) -> Column:
    """BPE-ish subword segmentation: runs of letters, runs of digits, or a
    single other non-space char — the classic GPT-2-style pre-tokenizer
    shape, as one portable regex."""
    return F.regexp_extract_all(_c(s), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))


def word_ngrams(toks: Column, n: int, sep: str = " ") -> Column:
    """Sliding word n-grams joined by ``sep``; empty when len(toks) < n.

    Built as shift-and-zip: zip the token array with its own 1..n-1 shifted
    copies, concatenating as we go, then cut the n-1 partial tail grams.
    The naive form — transform(sequence(...), i -> concat_ws(slice(toks,
    i, n))) — re-evaluates the whole ``toks`` expression tree PER ELEMENT
    (lambda bodies get no common-subexpression elimination), which turned a
    linear scan into ~L re-tokenizations per document. Here ``toks``
    appears a constant ~n+2 times per row.

    DuckDB twin: list_transform(range(1, len-n+2), i ->
    array_to_string(toks[i:i+n-1], sep)) — same gram strings.
    """
    size = F.size(toks)
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(size - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(sep, a, b))
    return F.when(size < n, F.array().cast("array<string>")).otherwise(
        F.slice(grams, 1, size - F.lit(n) + F.lit(1))
    )


def shingles(s: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column — the unit set for
    Jaccard/MinHash dedup."""
    return F.array_distinct(word_ngrams(tokens(s), n))


def minhash_perm(x: Column, a: int, b: int, mod: int = HASH_MOD) -> Column:
    """One universal-hash permutation h(x) = (a*x + b) mod p. With
    a,b,x < 2^31 the product stays < 2^62 — exact in both engines."""
    return (x * F.lit(a) + F.lit(b)) % F.lit(mod)


def minhash_params(k: int, seed: int = 42, mod: int = HASH_MOD) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for k permutations — a seeded LCG,
    not numpy, so the exact ints are trivially re-derivable anywhere."""
    out: list[tuple[int, int]] = []
    state = seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (mod - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % mod
        out.append((a, b))
    return out


def _poly_hash_np(vals: list, base: int, mod: int):
    """Vectorized polynomial hash over a batch of strings: the exact
    integer fold of :func:`poly_hash` computed column-major in NumPy
    (one Horner step per character position over every still-active
    string — rows sorted by length descending so each step indexes a
    contiguous prefix, no boolean masks). Codepoints come from UTF-32
    encoding, which matches Spark's split('')+ascii() and DuckDB's
    unicode() per character. Returns (int64 array, null mask)."""
    import numpy as np

    n = len(vals)
    out = np.zeros(n, np.int64)
    nulls = np.fromiter((v is None for v in vals), bool, count=n)
    enc = [(v or "").encode("utf-32-le") for v in vals]
    lens = np.fromiter((len(b) >> 2 for b in enc), np.int64, count=n)
    if n == 0 or not lens.any():
        return out, nulls
    order = np.argsort(-lens, kind="stable")
    lens_s = lens[order]
    offs = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    starts_s = offs[:-1][order]
    flat = np.frombuffer(b"".join(enc), np.uint32).astype(np.int64)
    acc = np.zeros(n, np.int64)
    neg = -lens_s
    for i in range(int(lens_s[0])):
        k = int(np.searchsorted(neg, -i, side="left"))
        acc[:k] = (acc[:k] * base + flat[starts_s[:k] + i]) % mod
    out[order] = acc
    return out, nulls


_POLY_BULK_CACHE: dict = {}


def poly_hash_bulk(
    s: Column | str, base: int = HASH_BASE, mod: int = HASH_MOD
) -> Column:
    """Arrow-vectorized twin of :func:`poly_hash` for TOP-LEVEL column
    positions over long strings (document-scale fingerprints).

    Value-identical to :func:`poly_hash` — same fold, same empty-string
    0, same NULL propagation (pinned by tests/test_text.py) — but the
    per-character fold runs as one NumPy Horner sweep per Arrow batch
    instead of an interpreted higher-order-function closure per
    character (guide §4.2: HOF lambdas are CodegenFallback; measured
    ~5x on sf0.1 document texts, break-even on short tokens — so use
    THIS for whole-document hashes and keep :func:`poly_hash` for
    token/shingle-level hashing and for lambda positions, where a
    pandas UDF cannot appear)."""
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    sess = SparkSession.getActiveSession()
    if sess is not None:
        from hnsw_vector_db_spark.session import (
            ensure_package_shipped,
            install_zip_guard,
        )

        ensure_package_shipped(sess)
    key = (base, mod)
    if key not in _POLY_BULK_CACHE:

        def _f(col: pd.Series) -> pd.Series:
            install_zip_guard()
            out, nulls = _poly_hash_np(col.tolist(), base, mod)
            res = pd.Series(out)
            if nulls.any():
                res = res.astype(object)
                res[nulls] = None
            return res

        _POLY_BULK_CACHE[key] = pandas_udf(_f, "long")
    return _POLY_BULK_CACHE[key](_c(s))


_POLY_IDS_CACHE: dict = {}


def poly_fold_ids_bulk(
    ids: Column | str,
    base: int = HASH_BASE,
    mod: int = HASH_MOD,
    offset: int = 1,
) -> Column:
    """Arrow-vectorized fold ``acc = (acc*base + x + offset) % mod``
    over an ``array<long>`` column — the token-stream hash every
    shard/sequence entry pins (``__spark_entry__._id_hash_col``), which
    as a higher-order ``aggregate`` runs interpreted per element.
    Value-identical: empty array -> 0, NULL array -> NULL, any NULL
    element -> NULL (the HOF's null propagation), exact integer math
    (elements < 2^55 by the same bound the HOF relies on)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    sess = SparkSession.getActiveSession()
    if sess is not None:
        from hnsw_vector_db_spark.session import (
            ensure_package_shipped,
            install_zip_guard,
        )

        ensure_package_shipped(sess)
    key = (base, mod, offset)
    if key not in _POLY_IDS_CACHE:

        def _fold_rows(vals: list):
            n = len(vals)
            out = np.zeros(n, np.int64)
            nulls = np.zeros(n, bool)
            arrs = []
            for i, a in enumerate(vals):
                if a is None:
                    nulls[i] = True
                    arrs.append(np.empty(0, np.int64))
                    continue
                arr = np.asarray(a)
                if arr.dtype == object or (
                    arr.dtype.kind == "f" and np.isnan(arr).any()
                ):
                    # NULL element: the HOF fold yields NULL
                    nulls[i] = True
                    arrs.append(np.empty(0, np.int64))
                else:
                    arrs.append(arr.astype(np.int64, copy=False))
            lens = np.fromiter((a.size for a in arrs), np.int64, count=n)
            if n and lens.any():
                order = np.argsort(-lens, kind="stable")
                lens_s = lens[order]
                offs = np.zeros(n + 1, np.int64)
                np.cumsum(lens, out=offs[1:])
                starts_s = offs[:-1][order]
                flat = (
                    np.concatenate(arrs)
                    if len(arrs)
                    else np.empty(0, np.int64)
                )
                acc = np.zeros(n, np.int64)
                neg = -lens_s
                for i in range(int(lens_s[0])):
                    k = int(np.searchsorted(neg, -i, side="left"))
                    acc[:k] = (
                        acc[:k] * base + flat[starts_s[:k] + i] + offset
                    ) % mod
                out[order] = acc
            return out, nulls

        def _f(col: pd.Series) -> pd.Series:
            install_zip_guard()
            out, nulls = _fold_rows(col.tolist())
            res = pd.Series(out)
            if nulls.any():
                res = res.astype(object)
                res[nulls] = None
            return res

        _POLY_IDS_CACHE[key] = pandas_udf(_f, "long")
    return _POLY_IDS_CACHE[key](_c(ids))


_MINHASH_MINS_CACHE: dict = {}


def minhash_mins_bulk(
    shingles: Column | str,
    k: int,
    seed: int = 42,
    base: int = HASH_BASE,
    mod: int = HASH_MOD,
) -> Column:
    """All ``k`` MinHash permutation minima of a shingle-set column in
    ONE Arrow pass: ``array<string>`` -> ``array<long>`` of length k,
    element i = ``min over shingles of (a_i * poly_hash(s) + b_i) % mod``
    with the :func:`minhash_params` coefficients.

    Value-identical to the per-row expression form
    ``array_min(transform(hs, h -> (h*a_i + b_i) % mod))`` over
    ``hs = transform(shingle_arr, poly_hash)`` — the shape
    ``minhash_signature_wide`` used through r11 — including the
    empty-set edge (array_min([]) is NULL -> every minimum NULL) and
    NULL-array propagation. The HOF form pays an interpreted closure
    per (shingle, char) for the hash plus per (shingle, perm) for the
    minima; here the batch's shingles hash in one NumPy Horner sweep
    and each permutation is one vectorized multiply-add +
    ``minimum.reduceat`` (guide §4.2). Equivalence pinned in
    tests/test_text.py."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    sess = SparkSession.getActiveSession()
    if sess is not None:
        from hnsw_vector_db_spark.session import (
            ensure_package_shipped,
            install_zip_guard,
        )

        ensure_package_shipped(sess)
    key = (k, seed, base, mod)
    if key not in _MINHASH_MINS_CACHE:
        params = minhash_params(k, seed, mod)
        a_co = np.array([p[0] for p in params], np.int64)
        b_co = np.array([p[1] for p in params], np.int64)

        def _f(col: pd.Series) -> pd.Series:
            install_zip_guard()
            from itertools import chain

            rows = col.tolist()
            n = len(rows)
            lens = np.fromiter(
                (0 if r is None else len(r) for r in rows),
                np.int64,
                count=n,
            )
            out: list = [None] * n
            total = int(lens.sum())
            if total:
                flat = list(
                    chain.from_iterable(r for r in rows if r is not None)
                )
                h, _ = _poly_hash_np(flat, base, mod)
                offs = np.zeros(n + 1, np.int64)
                np.cumsum(lens, out=offs[1:])
                nonempty = np.flatnonzero(lens > 0)
                starts = offs[:-1][nonempty]
                mins = np.empty((len(params), len(starts)), np.int64)
                for i in range(len(params)):
                    v = (h * a_co[i] + b_co[i]) % mod
                    mins[i] = np.minimum.reduceat(v, starts)
                cols = mins.T.tolist()
                for j, ri in enumerate(nonempty):
                    out[ri] = cols[j]
            none_row = [None] * len(params)
            for i in range(n):
                if out[i] is None and rows[i] is not None:
                    out[i] = none_row
            return pd.Series(out)

        _MINHASH_MINS_CACHE[key] = pandas_udf(_f, "array<long>")
    return _MINHASH_MINS_CACHE[key](_c(shingles))


"""Reference fingerprint folds: the Column-expression and plain-numpy forms
of the token hash, SimHash, MinHash signatures and winnowing, kept as the
oracle for the vectorized mapInArrow kernels the operators run
(``dedup._token_hashes_offsets``, ``dedup._simhash_arrow``,
``dedup._minhash_bands_arrow``, ``text._winnow_arrow``).

Every fold here is an exact integer or string replica of its kernel: a
test compares the two row for row, bit for bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from valor_spark.operators.dedup import MOD, minhash_coeffs
from valor_spark.operators.text import tokens


def token_hash(tok: Column) -> Column:
    """Deterministic polynomial rolling hash over character codes:
    fold (acc*31 + ascii(char)) % MOD.  Chosen over xxhash64 so an
    engine-independent oracle (DuckDB list_reduce) can reproduce it."""
    chars = F.split(tok, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % MOD,
    )


def token_hashes_np(tokens_list):
    """:func:`token_hash` over a flat Python list of tokens, in numpy int64
    (products stay < 2^35, far from overflow).

    Character semantics match Spark exactly: ``F.split(tok, '')`` splits
    into CODEPOINTS and ``F.ascii`` returns the codepoint's numeric value
    (``ascii('🚀')`` = 128640, not a surrogate), so UTF-8 BYTES are folded
    only when the batch is pure ASCII (bytes == codepoints there) and
    anything else folds ``ord(ch)`` per character."""
    n = len(tokens_list)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    joined = "".join(tokens_list)
    if not joined.isascii():
        out = np.zeros(n, dtype=np.int64)
        for i, t in enumerate(tokens_list):
            acc = 0
            for ch in t:
                acc = (acc * 31 + ord(ch)) % MOD
            out[i] = acc
        return out
    data = np.frombuffer(joined.encode("ascii"), dtype=np.uint8).astype(np.int64)
    lens = np.fromiter((len(t) for t in tokens_list), dtype=np.int64, count=n)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    acc = np.zeros(n, dtype=np.int64)
    for j in range(int(lens.max())):
        m = lens > j
        acc[m] = (acc[m] * 31 + data[starts[m] + j]) % MOD
    return acc


def list_column_tokens(col):
    """(flat token list, per-row token counts, per-row offsets) from an
    Arrow list<string> column; NULL rows count 0 tokens."""
    lens = np.asarray(
        col.value_lengths().fill_null(0) if col.null_count else col.value_lengths()
    ).astype(np.int64)
    starts = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    return col.flatten().to_pylist(), lens, starts


def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash fingerprint: for each bit position, majority vote of the
    distinct tokens' hash bits (``0 >= 0`` sets every bit of an empty token
    set); the sign vector packs into a long."""
    hs = F.transform(F.array_distinct(tokens(text)), token_hash)
    # pyspark's shiftright only takes an int shift amount, so a bit is
    # extracted by dividing by a literal power of two (h < 2^30: exact)
    divs = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    ones = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(acc, divs, lambda c, dv: c + (h / dv).cast("long") % 2),
    )
    n = F.size(hs)
    return F.aggregate(
        F.zip_with(
            ones, divs, lambda c, w: F.when(c * 2 >= n, w).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def minhash_signature_from_tokens(toks: Column, k: int = 16) -> Column:
    """k minhashes over a distinct-token array:
    h_i(t) = (a_i * H(t) + b_i) % MOD minimized over tokens."""
    hs = F.transform(toks, token_hash)
    # each lambda runs while its Column is built, inside its own iteration
    return F.array(
        *[
            F.array_min(F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % MOD))
            for a, b in minhash_coeffs(k)
        ]
    )


def minhash_signature(text: Column, k: int = 16) -> Column:
    return minhash_signature_from_tokens(F.array_distinct(tokens(text)), k)


def kgram_hashes_t(toks: Column, k: int = 4) -> Column:
    """Rolling k-token-gram hash stream over a token array: 16-hex md5
    prefixes, one per gram position, order-preserving.  Fewer than k tokens
    yields an empty array."""
    cnt = F.coalesce(F.size(toks), F.lit(0))
    idx = F.sequence(F.lit(1), F.greatest(cnt - (k - 1), F.lit(0)))
    return F.when(cnt < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            idx,
            lambda i: F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, k))), 1, 16),
        )
    )


def winnow_t(khashes: Column, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03
    §4): the min hash of every w-window over the k-gram hash stream, dedup
    + sort.  Fewer hashes than a window select the whole-stream min; an
    empty stream selects nothing.  ``khashes`` should be a plain column
    reference: it is referenced once per window element."""
    m = F.coalesce(F.size(khashes), F.lit(0))
    idx = F.sequence(F.lit(1), F.greatest(m - (w - 1), F.lit(1)))
    wins = F.when(m == 0, F.array().cast("array<string>")).otherwise(
        # slice() clamps at the array end, so the single m<w window spans
        # the whole stream — same clamp as DuckDB's kh[j:j+w-1]
        F.transform(idx, lambda j: F.array_min(F.slice(khashes, j, w)))
    )
    return F.array_sort(F.array_distinct(wins))

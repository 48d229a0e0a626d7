"""Deduplication operators for training-data pipelines.

* exact dedup            — md5-hash groupBy (one shuffle of (hash, id))
* n-gram Jaccard near-dup — token-inverted-index pair generation with a
  frequency cap (stops quadratic blowup on stopword-ish tokens), then
  set-overlap Jaccard; all DataFrame ops
* MinHash + LSH          — deterministic polynomial token hashes ->
  k minhashes -> banded LSH buckets -> candidate pairs verified by true
  Jaccard; the hashes, signatures and buckets are one vectorized
  mapInArrow integer pass over JVM-tokenized rows
* SimHash                — sign-sum fingerprint over token hashes (the
  same mapInArrow integer pass), near-dup = Hamming distance <= k

The Column-expression folds these kernels replicate bit for bit live in
``tests/reference_fingerprints.py`` as their oracle.

Scale notes: every operator shuffles on a *hash/bucket key*, never on raw
text; candidate generation is bounded (frequency cap / LSH bands) so the
pair-join is near-linear; the final pair verification touches only
candidates.  At 100 TB, exact dedup is one hash-agg; MinHash-LSH is the
scale path for near-dup (tunable bands/rows trade recall vs cost).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from valor_spark.operators.text import tokens
from valor_spark.utils import spread_width

MOD = 1_000_000_007


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) texts: (fingerprint, n, keep_id).

    ``keep_id`` = min id is the canonical representative."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    # byte-derived spread: the regexp+md5 pass otherwise runs at scan
    # parallelism (a single parquet file = 1-2 tasks); a constant-width
    # spread measured slower at gate size, the adaptive width does not
    return (
        df.repartition(spread_width(df))
        .select(F.md5(norm).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n") > 1)
    )


def _distinct_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return (
        df.select(F.col(id_col).alias("doc"), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_token_freq: int = 50,
) -> DataFrame:
    """Near-duplicate pairs by token-set Jaccard >= threshold.

    Inverted-index join: explode distinct tokens, drop tokens appearing in
    more than ``max_token_freq`` docs (stopword guard — bounds the pair
    blowup), self-join on token with doc1 < doc2, count shared tokens, then
    Jaccard = inter / (n1 + n2 - inter).  Returns (doc1, doc2, jaccard)."""
    toks = _distinct_tokens(df, text_col, id_col)
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # No broadcast hints on freq/sizes: both are O(distinct tokens) /
    # O(documents) — broadcasting them OOMs the driver at corpus scale.
    # The joins are already keyed; AQE picks broadcast when a side is
    # genuinely small (same treatment as the salted uniqueness agg).
    rare = toks.join(
        freq.filter(F.col("df") <= max_token_freq).select("tok"),
        on="tok",
        how="inner",
    )
    # Jaccard over the *filtered* token universe (sizes and intersections
    # use the same set, so identical docs always score 1.0)
    sizes = rare.groupBy("doc").agg(F.count(F.lit(1)).alias("n_tok"))
    pairs = (
        rare.alias("a")
        .join(rare.alias("b"), on="tok")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("doc", "doc1").withColumnRenamed("n_tok", "n1"), on="doc1")
        .join(sizes.withColumnRenamed("doc", "doc2").withColumnRenamed("n_tok", "n2"), on="doc2")
        .withColumn("jaccard", F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", F.round("jaccard", 4).alias("jaccard"))
    )
    return out


def _token_hashes_offsets(col):
    """``(per-token int64 hashes, per-row token counts, per-row offsets)``
    for an Arrow ``list<string>`` column — the polynomial token hash
    ``(acc*31 + codepoint) % MOD`` folded straight off the Arrow byte
    buffers (the ``token_hash`` Column fold of
    ``tests/reference_fingerprints.py``, which an engine-independent oracle
    such as DuckDB's ``list_reduce`` can also reproduce).

    The list's flattened string values are ONE contiguous UTF-8 buffer plus
    an offsets array, so the ASCII fast path never materializes a Python
    string: token bytes scatter into a ``(n_tokens, max_len)`` matrix and
    the polynomial fold runs as ``max_len`` vectorized ``np.where`` steps
    (same exact integer sequence as the per-token fold; measured 7.8 s ->
    ~0.5 s single-core on a 2.7M-token corpus vs the masked-gather loop).
    Tokens that actually contain non-ASCII bytes are re-folded per
    CODEPOINT (Spark's split('')/ascii semantics — a non-BMP char is ONE
    codepoint, e.g. ascii('🚀') = 128640, NOT a surrogate pair), so mixed
    corpora keep full speed for their ASCII majority and astral-plane
    text hashes exactly like the Column fold."""
    import numpy as np

    row_lens = np.asarray(
        col.value_lengths().fill_null(0)
        if col.null_count
        else col.value_lengths()
    ).astype(np.int64)
    row_starts = np.zeros(len(row_lens) + 1, dtype=np.int64)
    np.cumsum(row_lens, out=row_starts[1:])

    sa = col.flatten()
    if sa.type == __import__("pyarrow").large_string():
        odt = np.int64
    else:
        odt = np.int32
    bufs = sa.buffers()
    off = np.frombuffer(bufs[1], dtype=odt)[sa.offset:sa.offset + len(sa) + 1]
    n = len(sa)
    if n == 0:
        return np.zeros(0, dtype=np.int64), row_lens, row_starts
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    used = data[off[0]:off[-1]]
    tok_lens = np.diff(off).astype(np.int64)
    lmax = int(tok_lens.max()) if n else 0
    # scatter token bytes into a padded (n, lmax) matrix, then fold one
    # character column at a time guarded by np.where — identical integer
    # sequence to (acc*31 + byte) % MOD per token, no gathers in the loop
    M = np.zeros((n, lmax), dtype=np.int64)
    rows = np.repeat(np.arange(n, dtype=np.int64), tok_lens)
    cols = np.arange(off[-1] - off[0], dtype=np.int64) - np.repeat(
        (off[:-1] - off[0]).astype(np.int64), tok_lens
    )
    M[rows, cols] = used
    acc = np.zeros(n, dtype=np.int64)
    for j in range(lmax):
        acc = np.where(tok_lens > j, (acc * 31 + M[:, j]) % MOD, acc)
    if used.size and int(used.max()) >= 128:
        # token-level fallback: the byte fold above is only wrong for the
        # tokens that actually contain non-ASCII bytes — re-fold just
        # those per codepoint (Spark's split/ascii semantics)
        import pyarrow as pa

        # clip guards a (theoretical) trailing zero-length token, same as
        # the simhash segment clip; a zero-length token's fold is 0 either way
        tok_max = np.maximum.reduceat(
            used, np.minimum((off[:-1] - off[0]).astype(np.int64), used.size - 1)
        )
        bad = np.nonzero(tok_max >= 128)[0]
        bad_toks = sa.take(pa.array(bad)).to_pylist()
        # per-codepoint ord() fold over JUST the non-ASCII tokens.  A
        # UTF-32 padded-matrix vectorization of this fallback was measured
        # SLOWER than the plain loop at realistic non-ASCII token lengths
        # (0.36x at 4 chars, 0.66x at 40; crossover only past ~120-char
        # tokens — matrix construction + per-token encodes exceed the
        # short ord() loops), so the loop stays.
        for i, tok in zip(bad, bad_toks):
            a = 0
            for ch in tok:
                a = (a * 31 + ord(ch)) % MOD
            acc[i] = a
    return acc, row_lens, row_starts


def _simhash_arrow(bits: int, id_name: str):
    """mapInArrow kernel over ``(id, __toks)`` -> ``(id, simhash)``; exact
    integer replica of the ``simhash`` Column fold in
    ``tests/reference_fingerprints.py`` (bit one-counts + majority vote —
    both order-free over the distinct-token set)."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        shifts = np.arange(bits, dtype=np.int64)
        for batch in batches:
            toks_col = batch.column("__toks")
            hs, lens, starts = _token_hashes_offsets(toks_col)
            n_rows = batch.num_rows
            if len(hs):
                # a trailing 0 makes a start == len(hs) (trailing empty
                # rows) a valid index without cutting the last token off
                # the row before them; reduceat returns one element for
                # any empty segment, which the zeroing below discards.
                # One 1D reduceat per bit: the 2D (tokens x bits) matrix
                # variant materializes 32x the token count and measured 16x
                # slower (4.2 s vs 0.26 s single-core at 2.7M tokens)
                padded = np.append(hs, 0)
                seg = starts[:-1]
                ones = np.empty((n_rows, bits), dtype=np.int64)
                for b in range(bits):
                    ones[:, b] = np.add.reduceat((padded >> b) & 1, seg)
                ones[lens == 0] = 0
            else:
                ones = np.zeros((n_rows, bits), dtype=np.int64)
            # majority vote incl. the 0 >= 0 empty-set case (all bits set),
            # matching the Column fold exactly; NULL token arrays stay NULL
            maj = (ones * 2) >= lens[:, None]
            sh = (maj.astype(np.int64) << shifts[None, :]).sum(axis=1)
            if toks_col.null_count:
                mask = np.asarray(toks_col.is_null())
                out = pa.array(sh, type=pa.int64(), mask=mask)
            else:
                out = pa.array(sh, type=pa.int64())
            yield pa.record_batch(
                [batch.column(id_name), out], names=[id_name, "sh"]
            )

    return fn


def _minhash_bands_arrow(k: int, bands: int, id_name: str):
    """mapInArrow kernel over ``(id, toks)`` -> exploded ``(id, band,
    bucket)``; exact integer replica of the
    ``minhash_signature_from_tokens`` Column fold in
    ``tests/reference_fingerprints.py`` + the per-band polynomial combine
    in :func:`minhash_lsh_pairs`.  Rows
    with empty token sets emit nothing (callers filter them anyway)."""
    coeffs = minhash_coeffs(k)
    rows_per_band = k // bands

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        a = np.array([c[0] for c in coeffs], dtype=np.int64)
        b = np.array([c[1] for c in coeffs], dtype=np.int64)
        for batch in batches:
            hs, lens, starts = _token_hashes_offsets(batch.column("toks"))
            nonempty = lens > 0
            n_docs = int(nonempty.sum())
            ids = batch.column(id_name).take(
                pa.array(np.nonzero(nonempty)[0], type=pa.int64())
            )
            if len(hs) == 0 or n_docs == 0:
                yield pa.record_batch(
                    [
                        batch.column(id_name).slice(0, 0),
                        pa.array([], type=pa.int32()),
                        pa.array([], type=pa.int64()),
                    ],
                    names=[id_name, "band", "bucket"],
                )
                continue
            vals = (hs[:, None] * a[None, :] + b[None, :]) % MOD
            seg_starts = starts[:-1][nonempty]
            sig = np.minimum.reduceat(vals, seg_starts, axis=0)
            # reduceat merges segments when consecutive starts are equal
            # (impossible here: every kept segment is non-empty and starts
            # strictly increase)
            buckets = np.zeros((n_docs, bands), dtype=np.int64)
            for bi in range(bands):
                acc = np.zeros(n_docs, dtype=np.int64)
                for j in range(rows_per_band):
                    acc = (acc * 1000003 + sig[:, bi * rows_per_band + j]) % MOD
                buckets[:, bi] = acc
            yield pa.record_batch(
                [
                    pa.concat_arrays([ids] * bands) if bands > 1 else ids,
                    pa.array(
                        np.repeat(np.arange(bands, dtype=np.int32), n_docs)
                    ),
                    pa.array(buckets.T.reshape(-1)),
                ],
                names=[id_name, "band", "bucket"],
            )

    return fn


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic affine-family coefficients.  The multipliers are LARGE
    (Knuth multiplicative-hash constants mod MOD) so ``a*h + b`` wraps the
    modulus — with small multipliers the map is order-preserving over the
    (small) token-hash range and every hash function would pick the same
    min token, degenerating the whole signature."""
    return [
        ((2654435761 * (i + 1)) % MOD, (2246822519 * (i + 7) + 3) % MOD)
        for i in range(k)
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-dup pairs.

    Sign -> band buckets (band id + hash of the band's rows) -> docs sharing
    any bucket are candidates -> verified with true token-set Jaccard.
    Returns (doc1, doc2, jaccard >= threshold)."""
    if k % bands:
        raise ValueError(
            f"minhash_lsh_pairs: bands ({bands}) must divide k ({k}) — "
            "otherwise the trailing signature rows are computed but never "
            "hashed into any band, silently lowering recall"
        )
    # tokenize ONCE per row in a lower Project (JVM); the k-hash signature
    # and band buckets run as ONE vectorized mapInArrow integer pass —
    # exact replica of the Column folds (round 6: the interpreted per-char
    # token_hash + 16 affine transforms dominated wall time), emitting the
    # exploded (doc, band, bucket) rows directly.  The round-robin spread
    # first matters because the corpus is typically a couple of scan
    # partitions.
    base = df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(tokens(F.col(text_col))).alias("toks"),
    ).filter(F.size("toks") > 0)
    idt = df.schema[id_col].dataType.simpleString()
    npart = spread_width(df)
    # The banded rows and candidate self-join carry (doc, band, bucket)
    # ONLY — shipping the token arrays through the xbands-duplicated rows
    # and the shuffle multiplies the exchanged bytes by the band count.  The
    # token sets are joined back from the compact doc->toks table just for
    # the candidate pairs that survive dedup.  Measured at a 10x-gate corpus
    # (10k docs, 11.4M verified pairs): 5.91 GB -> 0.14 GB shuffled (42x),
    # wall 235 -> 64 s; the toks-through-shuffle shape OOMs a default-heap
    # driver where this one completes (BENCH/BASELINE.md ledger).
    banded = base.repartition(npart).mapInArrow(
        _minhash_bands_arrow(k, bands, "doc"),
        f"doc {idt}, band int, bucket long",
    )
    # explicit-width repartition on the pair key feeds the dedup aggregate
    # (same partitioning, no extra exchange) and pins the width through the
    # verification joins below: AQE sizes the post-join exchange by BYTES,
    # and a gate-sized candidate frame (258k pairs ~ 2 MB at sf1.0)
    # coalesces to 1-2 partitions — serializing the interpreted
    # array_intersect/array_union verification that is the whole tail cost.
    # The blowup happens inside the join, so only an explicit width exposes
    # it to the cluster (the knn_graph lesson).
    vwidth = df.sparkSession.sparkContext.defaultParallelism
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "bucket"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
        .repartition(vwidth, "doc1", "doc2")
        .dropDuplicates(["doc1", "doc2"])
    )
    doc_toks = base.select("doc", "toks")
    verified = cand.join(
        doc_toks.select(F.col("doc").alias("doc1"), F.col("toks").alias("t1")),
        on="doc1",
    ).join(
        doc_toks.select(F.col("doc").alias("doc2"), F.col("toks").alias("t2")),
        on="doc2",
    )
    inter = F.size(F.array_intersect("t1", "t2"))
    union = F.size(F.array_union("t1", "t2"))
    return (
        verified.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", F.round("jaccard", 4).alias("jaccard"))
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 6,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed.

    Candidates = pairs sharing a random-hyperplane bucket in ANY of
    ``n_tables`` plane families (deterministic shader-noise planes —
    engine-neutral, oracle-replicable); verified with exact cosine.
    Returns (id1, id2, cosine) with id1 < id2 and cosine >= threshold.

    Scale notes: the self-join is on (table, bucket) — near-linear for
    spread-out embeddings; each bucket is scored once by the shared
    Gram-matrix kernel (see similarity._bucket_cosine_pairs)."""
    from valor_spark.operators.similarity import _bucket_cosine_pairs

    return (
        _bucket_cosine_pairs(
            embeddings, id_col, vec_col, n_planes, n_tables, threshold=threshold
        )
        .filter((F.col("src_id") < F.col("nbr_id")) & (F.col("score") >= threshold))
        .select(
            F.col("src_id").alias("id1"),
            F.col("nbr_id").alias("id2"),
            F.col("score").alias("cosine"),
        )
    )


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """``(id, simhash)`` for every row — the SimHash fingerprint
    computed as ONE vectorized mapInArrow integer pass (exact replica of
    the ``simhash`` Column fold in ``tests/reference_fingerprints.py``;
    round 6 measured the interpreted HOF chain at ~134 core-seconds for
    50k docs vs ~2 for this kernel).  Tokenization stays
    a JVM expression; only the integer hashing crosses to numpy.  The
    round-robin spread first matters because the corpus is typically a
    couple of scan partitions."""
    idt = df.schema[id_col].dataType.simpleString()
    base = df.select(
        F.col(id_col),
        F.array_distinct(tokens(F.col(text_col))).alias("__toks"),
    )
    npart = spread_width(df)
    out = base.repartition(npart).mapInArrow(
        _simhash_arrow(bits, id_col), f"{id_col} {idt}, sh long"
    )
    return out.select(F.col(id_col), F.col("sh").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Candidate generation: split the fingerprint into ``bands`` bit-blocks;
    by pigeonhole any pair within distance < bands shares a block."""
    block = bits // bands
    sh = simhash_table(df, text_col=text_col, id_col=id_col, bits=bits).select(
        F.col(id_col).alias("doc"), F.col("simhash").alias("sh")
    )
    banded = sh.select(
        "doc",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sh", b * block).bitwiseAND(F.lit((1 << block) - 1)).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "sh", "bb.band", "bb.bucket")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "bucket"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc1"),
            F.col("b.doc").alias("doc2"),
            F.col("a.sh").alias("h1"),
            F.col("b.sh").alias("h2"),
        )
        .dropDuplicates(["doc1", "doc2"])
    )
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc1", "doc2", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc1",
    dst: str = "doc2",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair list by hash-min label
    propagation: returns ``(node, component)`` where ``component`` is the
    minimum node id in the component — the canonical representative every
    near-dup pipeline needs to turn pair lists into keep/drop decisions.

    Each round computes ``label'(v) = min(label(v), min over neighbours'
    labels)`` as one shuffle join on node id plus one min-aggregate, and
    stops when no label changed (one cheap ``limit(1).count()`` probe per
    round).  Rounds needed = O(component diameter): LSH near-dup components
    are band-bounded near-cliques (diameter ~2), so 2-3 rounds in practice.
    The driver-side loop iterates O(log n) *times*, never over rows; each
    round's labels are eagerly ``localCheckpoint``-ed, which both
    materializes them and TRUNCATES the logical lineage — without that the
    plan tree doubles per round and the driver OOMs serializing it by round
    ~7 (caching alone does not cut the logical plan).  On a multi-executor
    cluster a reliable ``spark.sparkContext.setCheckpointDir`` +
    ``.checkpoint()`` is the executor-loss-safe variant of the same move.
    For adversarially deep graphs (long chains), alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014) makes the round count O(log n);
    not needed for dedup workloads.

    Raises ``RuntimeError`` if labels have not converged after ``max_iter``
    rounds (propagation advances the min at least one hop per round, so this
    only trips on graphs with diameter > max_iter).
    """
    # Materialize edges via an eager localCheckpoint rather than cache():
    # AQE cannot re-partition a cached plan
    # (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false), so
    # cache() pins the distinct's full shuffle width — 64 near-empty cached
    # partitions at the gate size, and every round's scan plus the seed
    # aggregate pays ~cluster-width task overhead per pass (measured 3.1 s
    # -> 0.3 s for the seed at local[32]).  The checkpoint materializes the
    # AQE-coalesced result (advisory-sized partitions: ~1 at gate size,
    # 100 MB-ish at scale) and truncates lineage, so the upstream pair
    # generation also runs exactly once.
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Seed = identity init FUSED with the first propagation round: with
    # label(v)=v, round 1's min over {self} u {neighbor labels} is just the
    # min over {v} u {neighbors}, so one aggregate replaces the init
    # checkpoint plus a whole round (2 driver jobs) with an identical label
    # trajectory from round 1 on.
    labels = (
        edges.select(F.col("a").alias("node"), F.col("b").alias("label"))
        .unionByName(
            edges.select(
                F.col("a").alias("node"), F.col("a").alias("label")
            )
        )
        .groupBy("node")
        .agg(F.min("label").alias("label"))
        .localCheckpoint(eager=True)
    )
    label_t = labels.schema["label"].dataType
    for _ in range(max_iter):
        # per-node changed flag computed INSIDE the same aggregate (the
        # labels-side rows carry their old label, neighbor rows carry
        # NULL; min ignores nulls) so the convergence probe is a filter
        # over the freshly checkpointed frame instead of a join of two
        # label tables — one cheap checkpointed scan per round.
        cur = labels.select(
            "node", "label", F.col("label").alias("__old")
        )
        nbr = (
            edges.join(labels.withColumnRenamed("node", "b"), on="b")
            .select(F.col("a").alias("node"), "label")
            .withColumn("__old", F.lit(None).cast(label_t))
        )
        new_labels = (
            cur.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("__old").alias("__old"))
            .withColumn("__chg", F.col("label") != F.col("__old"))
            .drop("__old")
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("__chg")).limit(1).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc1",
    dst: str = "doc2",
) -> DataFrame:
    """Annotate ``df`` with the canonical representative of each near-dup
    cluster: adds ``canonical_id`` (the min id in the node's component, the
    id itself for docs in no pair) and ``is_canonical``.  Downstream, a
    training-data pipeline keeps ``is_canonical`` rows and drops the rest.

    The components table is tiny relative to the corpus (only docs that
    appear in a pair), so the join back is broadcast-able; Spark's AQE picks
    the strategy from the actual size.
    """
    comp = connected_components(pairs, src=src, dst=dst).withColumnRenamed(
        "node", id_col
    )
    return (
        df.join(comp, on=id_col, how="left")
        .withColumn("canonical_id", F.coalesce(F.col("component"), F.col(id_col)))
        .withColumn("is_canonical", F.col("canonical_id") == F.col(id_col))
        .drop("component")
    )


def connected_components_alternating(
    pairs: DataFrame,
    src: str = "doc1",
    dst: str = "doc2",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components by ALTERNATING large-star / small-star edge
    rewriting (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014): converges in O(log n) rounds regardless of
    component diameter, where hash-min (:func:`connected_components`)
    needs diameter rounds — use this variant for graphs with long chains;
    for near-dup dedup graphs (diameter 2-3) hash-min's cheaper rounds win.

    * large-star: every node points its LARGER neighbors at the minimum of
      its neighborhood (incl. itself);
    * small-star: every node points its smaller-or-equal neighbors (and
      itself) at that minimum.

    Each half-round is one groupBy-min + broadcast-free join back on the
    node id, with the same eager ``localCheckpoint`` lineage truncation as
    hash-min; convergence is detected by an order-insensitive edge-set
    checksum (count + bit_xor of pair hashes), one tiny aggregate per
    round.  Returns ``(node, component)``, component = min node id.
    """
    e = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def checksum(edges: DataFrame):
        lo = F.least("a", "b")
        hi = F.greatest("a", "b")
        row = edges.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(lo, hi)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def with_min(edges: DataFrame) -> DataFrame:
        # per-node minimum over (neighbors + self), joined back on the node
        m = edges.groupBy("u").agg(F.min("v").alias("nbr_min"))
        return edges.join(m, on="u").withColumn(
            "m", F.least(F.col("u"), F.col("nbr_min"))
        )

    prev = checksum(e)
    for _ in range(max_iter):
        # large-star: bidirected adjacency; larger neighbors -> m
        bidir = e.select("a", "b").union(e.select(F.col("b"), F.col("a"))).select(
            F.col("a").alias("u"), F.col("b").alias("v")
        )
        ls = with_min(bidir)
        e1 = (
            ls.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: orient to the larger endpoint; smaller nbrs + self -> m
        oriented = e1.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        ss = with_min(oriented)
        out = ss.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
        own = ss.select(F.col("u").alias("a"), F.col("m").alias("b"))
        e = (
            out.union(own)
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = checksum(e)
        if cur == prev:
            # stable: e is a star forest (node -> component min)
            stars = e.select(
                F.greatest("a", "b").alias("node"), F.least("a", "b").alias("component")
            )
            roots = stars.select(F.col("component").alias("node")).distinct().withColumn(
                "component", F.col("node")
            )
            return stars.unionByName(roots).distinct()
        prev = cur
    raise RuntimeError(
        f"connected_components_alternating did not converge in {max_iter} rounds"
    )

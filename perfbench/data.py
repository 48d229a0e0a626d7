"""Input tables of the benchmark workloads.

* clips: the synthetic clips table and its reference table from
  ``valor_spark.sources.synthetic`` (2048-sample s16le payloads, planted
  violations including a hot key on 1% of rows), written once per size as
  bucketed parquet tables (one file per bucket, sorted on ``clip_id``) so
  the clips<->ref join runs without an exchange.  The seed assigns rows to
  the 64 shards, so the table files are shared by every seed and only the
  shard column differs between seeds.
* corpus: ``documents`` and ``embeddings`` parquet files in the schema of
  the driver test data (TESTDATA.md), generated from the seed: Zipf-weighted
  token texts with planted near-copies, and clustered 64-d float vectors.

Every file lives under the benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SHARDS = 64
N_BUCKETS = 8
MISSING_SHARDS = 8

CLIPS_DDL = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
    "transcript string, shard int, id bigint"
)
REF_DDL = "clip_id string, pcm_ref binary, transcript_ref string, shard int, id bigint"


def _write_done(path: str, meta: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# clips
# ---------------------------------------------------------------------------


def clips_dir(work: str, n: int, samples: int) -> str:
    return os.path.join(work, "clips", f"n{n}_s{samples}_b{N_BUCKETS}")


def ensure_clips_tables(spark, work: str, n: int, samples: int) -> dict:
    """Write the bucketed clips/ref tables once per size; return their
    metadata: row count, and per table its file bytes and on-disk bytes
    per column."""
    from valor_spark.sources import synthetic as S

    base = clips_dir(work, n, samples)
    done = os.path.join(base, "_DONE.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    for name, df in (
        ("clips", S.clips(spark, n=n, n_shards=N_SHARDS, max_samples=samples)),
        ("ref", S.clips_ref(spark, n=n, n_shards=N_SHARDS, max_samples=samples)),
    ):
        (
            df.repartition(N_BUCKETS, "clip_id")
            .write.bucketBy(N_BUCKETS, "clip_id")
            .sortBy("clip_id")
            .option("path", os.path.join(base, name))
            .mode("overwrite")
            .saveAsTable(f"perfbench_{name}_gen")
        )
        spark.sql(f"DROP TABLE perfbench_{name}_gen")  # external: files stay
    meta = {"rows": n, "tables": {}}
    for name in ("clips", "ref"):
        meta["tables"][f"perfbench_{name}"] = _parquet_bytes(os.path.join(base, name))
    _write_done(done, meta)
    return meta


def _parquet_bytes(table_dir: str) -> dict:
    """File bytes and compressed bytes per column of a parquet directory."""
    files, columns = 0, {}
    for name in os.listdir(table_dir):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(table_dir, name)
        files += os.path.getsize(path)
        md = pq.ParquetFile(path).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                key = col.path_in_schema
                columns[key] = columns.get(key, 0) + col.total_compressed_size
    return {"file_bytes": files, "columns": columns}


def register_clips(spark, work: str, n: int, samples: int, seed: int):
    """Declare the bucketed tables in this session's catalog and return
    ``(clips, clips_ref)`` with the seed's shard assignment."""
    from pyspark.sql import functions as F

    base = clips_dir(work, n, samples)
    for name, ddl in (("clips", CLIPS_DDL), ("ref", REF_DDL)):
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS perfbench_{name} ({ddl}) USING parquet "
            f"CLUSTERED BY (clip_id) SORTED BY (clip_id) INTO {N_BUCKETS} BUCKETS "
            f"LOCATION '{os.path.join(base, name)}'"
        )
    shard = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(N_SHARDS)).cast("int")
    clips = spark.table("perfbench_clips").withColumn("shard", shard)
    return clips, spark.table("perfbench_ref")


def missing_shards(seed: int) -> list[int]:
    """The shards a primed checkpoint of ``clips_resume`` lacks."""
    return sorted(random.Random(seed).sample(range(N_SHARDS), MISSING_SHARDS))


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def _vocab(size: int) -> list[str]:
    rng = random.Random(7)
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 3))))
    return sorted(words)


VOCAB = _vocab(160)
LANGS = ["en", "de", "fr", "zh"]
EMB_DIM = 64
N_CLUSTERS = 10


def corpus_dir(work: str, seed: int, n_docs: int, n_vecs: int) -> str:
    return os.path.join(work, "corpus", f"d{n_docs}_v{n_vecs}_seed{seed}")


def ensure_corpus(work: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """Write ``documents.parquet`` and ``embeddings.parquet`` for the seed."""
    base = corpus_dir(work, seed, n_docs, n_vecs)
    done = os.path.join(base, "_DONE.json")
    if os.path.exists(done):
        return base
    os.makedirs(base, exist_ok=True)
    rng = np.random.default_rng(seed)

    p = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.1
    p /= p.sum()
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.03:
            # planted near-copy of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            length = int(rng.integers(8, 61))
            words = [VOCAB[k] for k in rng.choice(len(VOCAB), size=length, p=p)]
        texts.append(" ".join(words))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 5, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(docs, os.path.join(base, "documents.parquet"))

    centroids = rng.normal(size=(N_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, N_CLUSTERS, n_vecs)
    vecs = (0.1 * (centroids[labels] * 0.6 + rng.normal(size=(n_vecs, EMB_DIM)) * 0.4)).astype(
        np.float32
    )
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    pq.write_table(emb, os.path.join(base, "embeddings.parquet"))
    _write_done(done, {"seed": seed, "docs": n_docs, "vecs": n_vecs})
    return base

"""Seeded input tables for the benchmark workloads.

Everything the program reads is generated here from the workload seed and
written under the run's own temp dir; the program only ever sees the
resulting tables. The shapes follow the repo's testdata layout (see
TESTDATA.md): ``documents`` (doc_id, text, lang, source, n_chars),
``embeddings`` (vec_id, embedding array<float>, label) and ``lineitem``
(TPC-H columns the relational queries read).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word list of the text corpus: short words (dropped by the text
# normalizer's 3-char minimum) mixed with the query-engine jargon the
# testdata uses.
TEXT_WORDS = [
    "a", "the", "join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table",
    "data", "agg", "value", "key", "stream", "window", "spark", "part",
    "group", "big", "sort", "query", "fast", "of",
]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
N_SOURCES = 20
EMB_DIM = 64
EMB_CLUSTERS = 10


def write_documents(out_dir: str, n: int, seed: int, start: int = 0) -> str:
    """``documents.parquet`` with doc ids start..start+n-1; returns out_dir."""
    rng = np.random.default_rng([seed, start, 1])
    n_tok = rng.integers(10, 100, size=n)
    words = np.asarray(TEXT_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in n_tok]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(start, start + n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype=np.int64)),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, f"{out_dir}/documents.parquet")
    return out_dir


def write_embeddings(out_dir: str, n: int, seed: int) -> None:
    """Unit vectors around EMB_CLUSTERS random centres, labelled by centre."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, size=n).astype(np.int32)
    vec = centres[label] + 0.8 * rng.normal(size=(n, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )
    pq.write_table(table, f"{out_dir}/embeddings.parquet")


def write_lineitem(out_dir: str, n: int, seed: int) -> None:
    rng = np.random.default_rng([seed, 3])
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 3000.0, size=n), 2)
    day0 = dt.datetime(1995, 1, 1)
    days = rng.integers(0, 2500, size=n)
    table = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(1, max(n // 4, 2), size=n)),
            "l_partkey": pa.array(rng.integers(1, 2001, size=n)),
            "l_suppkey": pa.array(rng.integers(1, 101, size=n)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], size=n)),
            "l_shipdate": pa.array(
                [day0 + dt.timedelta(days=int(d)) for d in days], type=pa.timestamp("us")
            ),
        }
    )
    pq.write_table(table, f"{out_dir}/lineitem.parquet")


def ref_pool(n: int, seed: int) -> list[str]:
    """n distinct media refs drawn from the generator's word list and skew
    set, as ``datagen`` draws them."""
    from ocr_suite_spark.datagen import MEDIA_WORDS
    from ocr_suite_spark.kernels.render import SKEW_SET, make_media_ref

    rng = np.random.default_rng([seed, 4])
    pool: dict[str, None] = {}
    while len(pool) < n:
        words = [MEDIA_WORDS[i] for i in rng.integers(0, len(MEDIA_WORDS), size=rng.integers(2, 5))]
        skew = int(SKEW_SET[rng.integers(0, len(SKEW_SET))])
        pool[make_media_ref(words, skew, int(rng.integers(0, 100000)))] = None
    return list(pool)


def with_pooled_refs(corpus, pool: list[str], seed: int):
    """Replace every media span's ref by a pool entry hashed on
    (seed, doc_id, offset), so each distinct image recurs across documents
    about len(media spans) / len(pool) times."""
    from pyspark.sql import functions as F

    arr = F.array(*[F.lit(r) for r in pool])
    pick = lambda s: F.element_at(  # noqa: E731
        arr,
        (F.pmod(F.xxhash64(F.lit(seed), F.col("doc_id"), s["offset"]), F.lit(len(pool))) + 1).cast("int"),
    )
    spans = F.transform(
        "spans",
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            F.when(s["kind"] == "media", pick(s)).alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    return corpus.select("doc_id", spans.alias("spans"))

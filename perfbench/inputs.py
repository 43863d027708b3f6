"""Seeded benchmark inputs.

The transcript workloads use the repo's own generator
(``v2_ocr_spark.fixtures.generate``) with its ``SEED`` set from the
benchmark seed, so every seed gives a different table together with the
expected extraction of every turn. The program only ever sees the
parquet files written here.

The corpus-curation layer probes read one fixed documents table and
one fixed embeddings table, built here from a constant seed in the
shape of the repo's ``documents`` / ``embeddings`` fixtures. The
benchmark seed only permutes their row order and splits them over a
seed-chosen number of files.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from v2_ocr_spark.fixtures import generate

# transcripts are written in 4096-row row groups, as the repo's own
# fixture tables are: the row groups are the scan's split points
ROW_GROUP = 4096


def transcripts(seed: int, n_convs: int) -> tuple[pa.Table, pa.Table]:
    """-> (transcripts, expected) for ``n_convs`` conversations plus the
    generator's 10k-turn skew conversation, generated under ``seed``."""
    saved = generate.SEED
    generate.SEED = seed
    try:
        table, expected, _ = generate.build_scale(n_convs)
    finally:
        generate.SEED = saved
    return table, expected


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file; return its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=ROW_GROUP)
    return os.path.getsize(path)


def conv_ids_in(table: pa.Table) -> list[str]:
    return sorted(set(table.column("conv_id").to_pylist()))


def take_convs(table: pa.Table, conv_ids: list[str]) -> pa.Table:
    return table.filter(pc.is_in(table.column("conv_id"),
                                 value_set=pa.array(conv_ids)))


# ---------------------------------------------------------------------
# curation corpus: fixed content, seed-permuted layout
# ---------------------------------------------------------------------

CORPUS_SEED = 20260417
N_DOCS = 1000
N_VECS = 600
DIM = 64
N_CENTERS = 16

_WORDS = (
    "batch part spark line column order small sort value filter customer "
    "fast string table query join scan index shuffle stage task worker "
    "driver memory disk page block record field key hash merge split "
    "window frame group count sum average minimum maximum range bucket "
    "partition commit snapshot schema type null array struct map cast"
).split()
_BOILER = [
    "all rights reserved",
    "click here to subscribe to our newsletter for more updates",
    "terms of service and privacy policy apply to this page",
]
_LANGS = ["en"] * 7 + ["de", "fr", "es", "zh"]


def _documents() -> pa.Table:
    rng = random.Random(CORPUS_SEED)
    ids, texts, langs, sources = [], [], [], []
    for i in range(N_DOCS):
        if i >= 10 and i % 9 == 0:
            # a near-duplicate of an earlier document: a few words
            # replaced, so minhash and n-gram dedup have pairs to find
            words = texts[rng.randrange(i)].split(" ")
            for _ in range(rng.randint(0, 3)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
            text = " ".join(words)
        else:
            lines = [
                " ".join(rng.choice(_WORDS) for _ in range(rng.randint(6, 14)))
                for _ in range(rng.randint(2, 6))
            ]
            if rng.random() < 0.3:
                lines.append(rng.choice(_BOILER))
            text = "\n".join(lines)
        ids.append(i)
        texts.append(text)
        langs.append(rng.choice(_LANGS))
        sources.append(f"src{i % 20}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings() -> pa.Table:
    rng = np.random.default_rng(CORPUS_SEED)
    centers = rng.normal(size=(N_CENTERS, DIM))
    labels = rng.integers(0, N_CENTERS, size=N_VECS)
    vecs = centers[labels] + rng.normal(scale=1.2, size=(N_VECS, DIM))
    # every tenth vector is a small perturbation of the one before it:
    # planted semantic near-duplicates
    for i in range(10, N_VECS, 10):
        vecs[i] = vecs[i - 1] + rng.normal(scale=0.05, size=DIM)
        labels[i] = labels[i - 1]
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_corpus(out_dir: str, seed: int | None) -> int:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``out_dir``: each a directory of parquet files. ``seed=None`` is the
    canonical layout (original order, one file); otherwise the seed
    permutes the rows and picks 2-5 files. Returns the documents
    table's bytes on disk."""
    shutil.rmtree(out_dir, ignore_errors=True)
    doc_bytes = 0
    for name, table in (("documents", _documents()),
                        ("embeddings", _embeddings())):
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        if seed is None:
            parts = [table]
        else:
            rng = random.Random(f"{seed}:{name}")
            order = list(range(table.num_rows))
            rng.shuffle(order)
            table = table.take(pa.array(order))
            n_files = rng.randint(2, 5)
            cuts = sorted(rng.sample(range(1, table.num_rows), n_files - 1))
            bounds = [0, *cuts, table.num_rows]
            parts = [table.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
        for j, part in enumerate(parts):
            size = write_table(part, os.path.join(d, f"part-{j:03d}.parquet"))
            if name == "documents":
                doc_bytes += size
    return doc_bytes

"""Seeded benchmark inputs.

Everything here runs before the program under test starts. The
program only ever sees the parquet files these functions write, never
the generators.

The extraction corpus is drawn from the repository's own recipe
(``ocr_spark.sources.corpus.doc_spans``). The work size is fixed; the
seed picks which documents fill it. A fixed size means a fixed number
of documents in each cost class: light documents are stratified by
their media-span count, heavy documents by bands of media-span count.
This keeps the work per run steady while every seed runs a different
mix. No document is chosen or skipped by its extraction outcome.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])

# A document with at least this many media spans is media-heavy. The
# recipe's heavy documents carry 50-200, its light ones at most 8.
HEAVY_MIN_MEDIA = 32
# Light-document strata come from the first this-many recipe documents.
_STRATA_SAMPLE = 2000
# The candidate pool holds this many light documents per drawn one, and
# this many heavy documents per band.
POOL_FACTOR, POOL_PER_BAND = 3, 4
# Stop scanning when a pool cannot be filled from this many ids.
_MAX_IDS = 200_000


def n_media(spans: list[dict]) -> int:
    return sum(1 for s in spans if s["kind"] == "media")


def candidate_pool(n_light: int, heavy_bands: list[tuple[int, int]]) -> tuple[dict, dict]:
    """The fixed pool a run's documents are drawn from: recipe
    documents ``doc-00000000`` onwards, light ones grouped by media-span
    count with quotas in the recipe's own proportions (largest-remainder
    rounding to exactly ``n_light``), heavy ones grouped by band.

    Returns ({media count: (quota, [(doc_id, spans)])}, {band: [...]}).
    The pool is the same for every seed; a small pool lets reference
    results be reused across runs (see ``checks.ReferenceSequences``)."""
    from ocr_spark.sources.corpus import doc_spans

    docs = []
    counts: Counter = Counter()
    for i in range(_STRATA_SAMPLE):
        doc_id = f"doc-{i:08d}"
        spans = doc_spans(doc_id)
        docs.append((doc_id, spans))
        if n_media(spans) < HEAVY_MIN_MEDIA:
            counts[n_media(spans)] += 1
    total = sum(counts.values())
    exact = {m: n_light * c / total for m, c in counts.items()}
    quotas = {m: int(v) for m, v in exact.items()}
    for m in sorted(exact, key=lambda m: (quotas[m] - exact[m], m))[: n_light - sum(quotas.values())]:
        quotas[m] += 1
    light = {m: (q, []) for m, q in quotas.items() if q}
    heavy: dict[tuple, list] = {b: [] for b in heavy_bands}
    for i in range(_MAX_IDS):
        if i >= len(docs):
            doc_id = f"doc-{i:08d}"
            docs.append((doc_id, doc_spans(doc_id)))
        doc = docs[i]
        m = n_media(doc[1])
        if m >= HEAVY_MIN_MEDIA:
            band = next((b for b in heavy_bands if b[0] <= m <= b[1]), None)
            if band is not None and len(heavy[band]) < POOL_PER_BAND:
                heavy[band].append(doc)
        elif m in light and len(light[m][1]) < POOL_FACTOR * light[m][0]:
            light[m][1].append(doc)
        full = all(len(v) == POOL_FACTOR * q for q, v in light.values())
        if full and all(len(v) == POOL_PER_BAND for v in heavy.values()):
            return light, heavy
    raise RuntimeError(f"candidate pool not filled from {_MAX_IDS} recipe documents")


def draw_corpus(seed: int, n_light: int, heavy_bands: list[tuple[int, int]]) -> list[tuple[str, list[dict]]]:
    """Recipe documents for one run: ``n_light`` light documents in the
    recipe's media-count proportions plus one heavy document per
    (lo, hi) media-count band, picked from the candidate pool by
    ``seed``, in seeded order."""
    light, heavy = candidate_pool(n_light, heavy_bands)
    rng = np.random.default_rng([seed, 1])
    docs = [
        light[m][1][i]
        for m in sorted(light)
        for i in rng.choice(len(light[m][1]), size=light[m][0], replace=False)
    ]
    docs += [heavy[b][int(rng.integers(0, len(heavy[b])))] for b in heavy_bands]
    return [docs[i] for i in rng.permutation(len(docs))]


def _file_of(key: str, n_files: int) -> int:
    return zlib.crc32(key.encode()) % n_files


def write_corpus(docs: list[tuple[str, list[dict]]], out_dir: str, n_files: int) -> None:
    """Stage documents as ``n_files`` parquet files bucketed by a hash
    of doc_id (the layout of a production table bucketed on doc_id)."""
    os.makedirs(out_dir, exist_ok=True)
    buckets: list[list] = [[] for _ in range(n_files)]
    for doc_id, spans in docs:
        buckets[_file_of(doc_id, n_files)].append((doc_id, spans))
    for b, rows in enumerate(buckets):
        if not rows:
            continue
        table = pa.table(
            {"doc_id": [d for d, _ in rows], "spans": [s for _, s in rows]},
            schema=DOCS_SCHEMA,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{b:03d}.parquet"))


def digest(rows) -> str:
    """sha256 over the canonical JSON of the staged rows."""
    h = hashlib.sha256()
    for row in rows:
        h.update(json.dumps(row, sort_keys=True, ensure_ascii=False).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# -- curation tables ---------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en"] * 4 + ["zh", "es", "fr", "de"]
_CONTENT_SEED = 20261017


def curation_tables(n_docs: int, n_vecs: int) -> tuple[pa.Table, pa.Table]:
    """``documents`` and ``embeddings`` shaped like the repository's
    sf testdata: bag-of-words documents over a 31-word vocabulary with
    5% near-duplicate copies, and unit-norm 64-d embeddings around ten
    class centres. The content is fixed; only its order and file split
    depend on the run's seed."""
    rng = np.random.default_rng(_CONTENT_SEED)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = [str(w) for w in rng.choice(_WORDS, size=int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [str(rng.choice(_LANGS)) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, size=n_vecs)
    vecs = centres[labels] * 0.35 + rng.normal(size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return docs, emb


def write_shuffled(table: pa.Table, out_dir: str, seed: int, n_files: int) -> None:
    """Write ``table`` in a seeded row order, split at seeded points
    into ``n_files`` parquet files."""
    rng = np.random.default_rng([seed, 3])
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    cuts = np.sort(rng.choice(np.arange(1, table.num_rows), size=n_files - 1, replace=False))
    os.makedirs(out_dir, exist_ok=True)
    for k, (lo, hi) in enumerate(zip([0, *cuts], [*cuts, table.num_rows])):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{k:03d}.parquet"))

"""Seeded input corpus for the benchmark.

The program under test only ever sees the parquet written here: a
`documents` table (doc_id, text, lang, source, n_chars) and an `embeddings`
table (vec_id, embedding, label), the same schema as the repository's test data.

What the operators' cost depends on is kept, at a size that fits one run:
- page ids run 0..n-1 and the host group is doc_id % 50
  (sql/dialect.py HOSTS), so pages per group grow with the corpus — that
  is what drives the per-group merge-order fold;
- each distinct text is replicated `replicas` times (replica r of text d
  is doc d + r * n_distinct, the layout bench.py's amplification uses),
  and a share of texts are near-duplicates (an earlier text + " dup");
- embeddings are unit-norm clustered vectors, each replicated
  `emb_replicas` times, so the exact-duplicate collapse does real work.

The delta snapshot for the resume workload is a new directory: the layout
marker is keyed on the input path, so a snapshot rewritten in place would
be served the stale layout (a known gap of
sources/bucketed.ensure_bucketed_pages, recorded, not worked around).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOSTS = 50
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
SOURCES = 20
NEAR_DUP_SHARE = 0.05
DIM = 64
CLUSTERS = 10
NOISE = 0.35


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    out = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # near duplicates: a later text repeats an earlier one plus a marker
    # word, the shape of the test corpus' " dup" rows
    n_dup = int(n * NEAR_DUP_SHARE)
    for i in rng.choice(np.arange(1, n), n_dup, replace=False):
        out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def _documents(rng: np.random.Generator, n_distinct: int,
               replicas: int) -> pa.Table:
    texts = _texts(rng, n_distinct)
    lang = rng.choice(len(LANGS), n_distinct, p=LANG_P)
    src = rng.integers(0, SOURCES, n_distinct)
    idx = np.tile(np.arange(n_distinct), replicas)
    doc_text = [texts[i] for i in idx]
    return pa.table({
        "doc_id": pa.array(np.arange(n_distinct * replicas), pa.int64()),
        "text": pa.array(doc_text, pa.string()),
        "lang": pa.array([LANGS[lang[i]] for i in idx], pa.string()),
        "source": pa.array([f"src{src[i]}" for i in idx], pa.string()),
        "n_chars": pa.array([len(t) for t in doc_text], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n_distinct: int,
                replicas: int) -> pa.Table:
    cents = rng.standard_normal((CLUSTERS, DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    label = rng.integers(0, CLUSTERS, n_distinct)
    vecs = cents[label] + NOISE * rng.standard_normal((n_distinct, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = np.tile(vecs.astype(np.float32), (replicas, 1))
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(flat) + 1, DIM), pa.int32()), flat),
        "label": pa.array(np.tile(label, replicas), pa.int32()),
    })


def _write(table: pa.Table, path: Path) -> None:
    tmp = path.with_name(path.name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _stats(docs: pa.Table, emb: pa.Table) -> dict:
    n = docs.num_rows
    texts = docs.column("text").to_pylist()
    vecs = (emb.column("embedding").combine_chunks().flatten()
            .to_numpy().reshape(-1, DIM))
    return {
        "pages": n,
        "pages_per_group": n / HOSTS,
        "distinct_text_share": len(set(texts)) / n,
        "vectors": emb.num_rows,
        "distinct_vector_share":
            len({v.tobytes() for v in vecs}) / emb.num_rows,
    }


def make_corpus(out: Path, seed: int, n_distinct: int, replicas: int,
                n_vec: int, emb_replicas: int) -> dict:
    """Write documents + embeddings under `out` (idempotent per seed and
    shape) and return the corpus statistics."""
    shape = {"seed": seed, "n_distinct": n_distinct, "replicas": replicas,
             "n_vec": n_vec, "emb_replicas": emb_replicas}
    meta = out / "_CORPUS.json"
    if meta.exists():
        rec = json.loads(meta.read_text())
        if rec.get("shape") == shape:
            return rec["stats"]
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs = _documents(rng, n_distinct, replicas)
    emb = _embeddings(rng, n_vec, emb_replicas)
    _write(docs, out / "documents.parquet")
    _write(emb, out / "embeddings.parquet")
    stats = _stats(docs, emb)
    meta.write_text(json.dumps({"shape": shape, "stats": stats}))
    return stats


def make_delta(base: Path, out: Path, seed: int, changed_share: float
               ) -> dict:
    """A new snapshot of `base` in which a seeded `changed_share` of the
    host groups changed: every page of a changed group gets a new text
    (so its n_chars, flags, footprint and fingerprint move). Returns the
    changed groups and counts."""
    docs = pq.read_table(base / "documents.parquet")
    rng = np.random.default_rng([seed, 1])
    n_changed = max(1, round(HOSTS * changed_share))
    groups = sorted(int(g) for g in rng.choice(HOSTS, n_changed,
                                               replace=False))
    doc_id = docs.column("doc_id").to_numpy()
    hit = np.isin(doc_id % HOSTS, groups)
    text = docs.column("text").to_pylist()
    for i in np.flatnonzero(hit):
        text[i] = text[i] + " " + VOCAB[int(rng.integers(0, len(VOCAB)))]
    docs = (docs.set_column(docs.schema.get_field_index("text"), "text",
                            pa.array(text, pa.string()))
                .set_column(docs.schema.get_field_index("n_chars"),
                            "n_chars",
                            pa.array([len(t) for t in text], pa.int64())))
    out.mkdir(parents=True, exist_ok=True)
    _write(docs, out / "documents.parquet")
    _write(pq.read_table(base / "embeddings.parquet"),
           out / "embeddings.parquet")
    return {"changed_groups": [f"host{g}" for g in groups],
            "changed_pages": int(hit.sum())}

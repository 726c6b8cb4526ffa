"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same tables and the same digest. The program under test only ever sees
the generated files, never the seed.

- `proxy_tables`: the operator-registry proxy (documents, embeddings and
  the customer/supplier/nation/region entity graph), written as parquet.
  A base table set is copied `copies` times with seeded per-copy
  perturbations, so the copies are planted near-duplicates.
- `org_surfaces`: link-heavy organisation names (2-4 words drawn from the
  words of the corpus generator's organisation names), enough distinct
  surfaces to push entity linking past its exact tier.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# key stride between copies: far above any base key, as in the sf proxy
STRIDE = 1 << 33
DIM = 64
LABELS = 10


def _vocab(size: int) -> list[str]:
    """Deterministic pseudo-words (seed-independent): syllable products."""
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "sa",
           "do", "fu", "gi", "ha", "jo", "ku", "le", "mo", "ni", "po"]
    words = []
    for a in syl:
        for b in syl:
            for c in syl:
                words.append(a + b + c)
    return words[:size]


def proxy_tables(
    seed: int,
    docs: int = 2500,
    vecs: int = 1000,
    customers: int = 7500,
    suppliers: int = 500,
    copies: int = 4,
) -> dict[str, pa.Table]:
    """Base tables x `copies`. Copy 0 is the base; copy i > 0 appends one
    seeded token to every document (planted near-duplicate) and adds
    seeded noise of norm ~1e-2 to every vector (planted near neighbour).
    Keys are offset by i * STRIDE so copy i joins copy i."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(4000))
    # Zipf-like token popularity so shingles repeat across documents
    pop = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    pop /= pop.sum()
    lens = rng.integers(40, 90, size=docs)
    base_text = [" ".join(rng.choice(vocab, size=n, p=pop)) for n in lens]

    centers = rng.normal(size=(LABELS, DIM))
    labels = rng.integers(0, LABELS, size=vecs).astype(np.int32)
    base_vec = centers[labels] + 0.35 * rng.normal(size=(vecs, DIM))

    cust_nation = rng.integers(0, 25, size=customers).astype(np.int32)
    supp_nation = rng.integers(0, 25, size=suppliers).astype(np.int32)

    doc_id, text, vec_id, emb, lab = [], [], [], [], []
    ckey, cnat, skey, snat = [], [], [], []
    for i in range(copies):
        off = i * STRIDE
        doc_id.append(np.arange(docs, dtype=np.int64) + off)
        if i == 0:
            text.extend(base_text)
        else:
            extra = rng.choice(vocab, size=docs)
            text.extend(f"{t} {w}v{i}" for t, w in zip(base_text, extra))
        vec_id.append(np.arange(vecs, dtype=np.int64) + off)
        noise = 0.0 if i == 0 else 1e-2 / np.sqrt(DIM) * rng.normal(size=(vecs, DIM))
        emb.append((base_vec + noise).astype(np.float32))
        lab.append(labels)
        ckey.append(np.arange(1, customers + 1, dtype=np.int64) + off)
        cnat.append(cust_nation)
        skey.append(np.arange(1, suppliers + 1, dtype=np.int64) + off)
        snat.append(supp_nation)

    emb_all = np.concatenate(emb)
    text_arr = pa.array(text, pa.string())
    return {
        "documents": pa.table({
            "doc_id": pa.array(np.concatenate(doc_id)),
            "text": text_arr,
            "n_chars": pc.utf8_length(text_arr).cast(pa.int64()),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(np.concatenate(vec_id)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb_all.reshape(-1)), DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(np.concatenate(lab)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.concatenate(ckey)),
            "c_nationkey": pa.array(np.concatenate(cnat)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.concatenate(skey)),
            "s_nationkey": pa.array(np.concatenate(snat)),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32))}),
    }


def planted_doc_pairs(tables: dict[str, pa.Table], copies: int) -> list[tuple[int, int]]:
    """(a, b) doc-id pairs that are copies of one base document."""
    n = tables["documents"].num_rows // copies
    return [
        (d + i * STRIDE, d + j * STRIDE)
        for d in range(n)
        for i in range(copies)
        for j in range(i + 1, copies)
    ]


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def org_surfaces(seed: int, n: int, words: list[str]) -> list[str]:
    """`n` distinct organisation names, each a seeded 2-4 word sequence
    over `words`, in generation order."""
    rng = np.random.default_rng(seed)
    words = sorted(set(words))
    seen: dict[str, None] = {}
    space = sum(len(words) ** k for k in (2, 3, 4))
    if n > space:
        raise ValueError(f"only {space} distinct names exist over {len(words)} words")
    while len(seen) < n:
        k = int(rng.integers(2, 5))
        seen.setdefault(" ".join(rng.choice(words, size=k)), None)
    return list(seen)


def digest_tables(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for col in tables[name].columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


def digest_rows(rows) -> str:
    """Order-independent digest of an iterable of tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()

"""Seeded input generator for the benchmark.

Writes ``documents`` / ``embeddings`` parquet files with the engine's
input schema (FIXTURES.md, sources.TABLES):

  documents(doc_id int64, text string, lang string, source string,
            n_chars int64)
  embeddings(vec_id int64, embedding list<float>, label int32)

Everything is a pure function of ``(seed, DocSpec)``: the same seed
writes byte-identical files.  The properties the engine's behaviour
depends on are explicit knobs:

- ``n_docs``                       input size (pixels / documents)
- ``n_sources``                    distinct url hosts; each host maps to
                                   one grid cell, and the 30-degree grid
                                   has 72 cells, so this sets the cell
                                   count (up to 72)
- ``zipf``                         0 = even source sizes; > 0 = Zipf
                                   exponent (hot-cell skew)
- ``words``                        (min, max) words per text
- ``dup_share`` / ``exact_share``  planted near- and exact duplicates
- ``vocab``                        vocabulary size (large: unrelated
                                   texts rarely share an LSH band)
- ``n_vecs``                       embedding count (0: no file)
"""

from __future__ import annotations

import dataclasses
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GRID_X = 12          # 360 / CELL_DEG
GRID_CELLS = 72      # (360 / 30) * (180 / 30)
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.7, 0.1, 0.08, 0.07, 0.05)
EMB_DIM = 64
EMB_LABELS = 16

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


@dataclasses.dataclass(frozen=True)
class DocSpec:
    n_docs: int
    n_sources: int = GRID_CELLS
    zipf: float = 0.0
    words: tuple[int, int] = (20, 60)
    dup_share: float = 0.0
    exact_share: float = 0.0
    vocab: int = 20_000
    n_vecs: int = 0
    id_base: int = 0


def cell_of_source(source: str) -> int:
    """Grid cell of ``https://<source>.example/...`` — the same md5
    slices derive.geo_exprs uses (lat from hex 1-8, lon from 9-16)."""
    h = hashlib.md5(f"{source}.example".encode()).hexdigest()
    lat = (int(h[0:8], 16) % 180000) / 1000.0 - 90.0
    lon = (int(h[8:16], 16) % 360000) / 1000.0 - 180.0
    return int((lat + 90.0) // 30.0) * GRID_X + int((lon + 180.0) // 30.0)


def pick_sources(seed: int, n_sources: int) -> list[str]:
    """Host names spread evenly over the grid: every cell gets
    floor/ceil(n_sources / 72) hosts, so n_sources >= 72 covers all
    cells and n_sources < 72 gives n_sources distinct cells."""
    quota = -(-n_sources // GRID_CELLS)
    per_cell = [0] * GRID_CELLS
    out: list[str] = []
    j = 0
    while len(out) < n_sources:
        name = f"b{seed}s{j}"
        j += 1
        cell = cell_of_source(name)
        # fill every cell to level k before any cell gets level k+1
        level = len(out) // GRID_CELLS
        if per_cell[cell] <= level and per_cell[cell] < quota:
            per_cell[cell] += 1
            out.append(name)
    return out


def source_sizes(n_docs: int, n_sources: int, zipf: float) -> np.ndarray:
    """Docs per source (sums to n_docs): even, or Zipf(rank^-zipf)."""
    w = (np.ones(n_sources) if zipf <= 0
         else 1.0 / np.arange(1, n_sources + 1) ** zipf)
    raw = w / w.sum() * n_docs
    sizes = np.floor(raw).astype(np.int64)
    rest = n_docs - int(sizes.sum())
    sizes[np.argsort(-(raw - sizes), kind="stable")[:rest]] += 1
    return sizes


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    lens = rng.integers(3, 10, size=n)
    chars = rng.choice(letters, size=(n, 9))
    words = {b"".join(chars[i, :lens[i]]).decode() for i in range(n)}
    # set -> sorted for determinism; pad with stopwords the quality
    # score counts
    return np.array(["the", "a", "of"] + sorted(words))


def make_documents(seed: int, spec: DocSpec) -> pa.Table:
    rng = np.random.default_rng([seed, spec.n_docs, spec.id_base, 1])
    vocab = _vocab(rng, spec.vocab)
    sources = pick_sources(seed, spec.n_sources)
    sizes = source_sizes(spec.n_docs, spec.n_sources, spec.zipf)
    src = np.repeat(np.arange(spec.n_sources), sizes)
    rng.shuffle(src)
    lo, hi = spec.words
    texts: list[str] = []
    kinds = rng.random(spec.n_docs)
    for i in range(spec.n_docs):
        if i > 0 and kinds[i] < spec.exact_share:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 0 and kinds[i] < spec.exact_share + spec.dup_share:
            # near duplicate: an earlier text with one word replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(
                vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(words))
            continue
        n = int(rng.integers(lo, hi + 1))
        # ~1 in 8 words is a stopword, the rest uniform over the vocab
        idx = rng.integers(3, len(vocab), size=n)
        stop = rng.random(n) < 0.125
        idx[stop] = rng.integers(0, 3, size=int(stop.sum()))
        texts.append(" ".join(vocab[idx]))
    lang = rng.choice(np.array(LANGS), size=spec.n_docs, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(spec.n_docs, dtype=np.int64)
                           + spec.id_base),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([sources[s] for s in src], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOC_SCHEMA)


def make_embeddings(seed: int, n_vecs: int) -> pa.Table:
    """Unit vectors around EMB_LABELS random centres (label = centre),
    so nearest neighbours are meaningful."""
    rng = np.random.default_rng([seed, n_vecs, 2])
    centres = rng.normal(size=(EMB_LABELS, EMB_DIM))
    label = rng.integers(0, EMB_LABELS, size=n_vecs).astype(np.int32)
    v = centres[label] + 0.6 * rng.normal(size=(n_vecs, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(v.ravel(), EMB_DIM) \
        .cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
                     "embedding": emb,
                     "label": pa.array(label, pa.int32())},
                    schema=EMB_SCHEMA)


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy",
                   write_statistics=True, store_schema=False)


def write_input(out_dir: str, seed: int, spec: DocSpec) -> str:
    """Write ``documents.parquet`` (and ``embeddings.parquet`` when
    ``spec.n_vecs``) under ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    write_table(make_documents(seed, spec),
                os.path.join(out_dir, "documents.parquet"))
    if spec.n_vecs:
        write_table(make_embeddings(seed, spec.n_vecs),
                    os.path.join(out_dir, "embeddings.parquet"))
    return out_dir

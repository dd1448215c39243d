"""The input generator is seeded, deterministic and matches the
engine's input schema."""

import collections
import hashlib

import pyarrow as pa
import pyarrow.parquet as pq

import gen


def _sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


SPEC = gen.DocSpec(n_docs=1500, zipf=1.0, dup_share=0.1, exact_share=0.05,
                   n_vecs=300)


def test_same_seed_byte_identical(tmp_path):
    a = gen.write_input(str(tmp_path / "a"), 7, SPEC)
    b = gen.write_input(str(tmp_path / "b"), 7, SPEC)
    for t in ("documents", "embeddings"):
        assert _sha(f"{a}/{t}.parquet") == _sha(f"{b}/{t}.parquet")


def test_other_seed_differs(tmp_path):
    a = gen.write_input(str(tmp_path / "a"), 7, SPEC)
    b = gen.write_input(str(tmp_path / "b"), 8, SPEC)
    for t in ("documents", "embeddings"):
        assert _sha(f"{a}/{t}.parquet") != _sha(f"{b}/{t}.parquet")


def test_input_schema(tmp_path):
    d = gen.write_input(str(tmp_path), 1, SPEC)
    docs = pq.read_table(f"{d}/documents.parquet")
    assert docs.schema.equals(pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))
    emb = pq.read_table(f"{d}/embeddings.parquet")
    assert emb.schema.equals(pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())]))
    assert docs.num_rows == SPEC.n_docs and emb.num_rows == SPEC.n_vecs
    assert docs.column("n_chars").to_pylist() == [
        len(t) for t in docs.column("text").to_pylist()]
    assert all(len(v) == gen.EMB_DIM
               for v in emb.column("embedding").to_pylist())


def test_even_sources_cover_every_cell():
    srcs = gen.pick_sources(3, 72)
    assert sorted(gen.cell_of_source(s) for s in srcs) == list(range(72))
    sizes = gen.source_sizes(7200, 72, 0.0)
    assert set(sizes) == {100}


def test_zipf_hot_cell_share():
    docs = gen.make_documents(5, gen.DocSpec(n_docs=20000, zipf=1.0))
    cells = collections.Counter(
        gen.cell_of_source(s) for s in docs.column("source").to_pylist())
    hot = max(cells.values()) / 20000
    assert 0.15 < hot < 0.25
    assert len(cells) == 72


def test_planted_duplicates():
    spec = gen.DocSpec(n_docs=4000, dup_share=0.1, exact_share=0.05)
    texts = gen.make_documents(2, spec).column("text").to_pylist()
    exact = len(texts) - len(set(texts))
    assert 0.03 * 4000 < exact < 0.07 * 4000
    none = gen.make_documents(
        2, gen.DocSpec(n_docs=4000)).column("text").to_pylist()
    assert len(set(none)) == 4000


def test_id_base_makes_batches_distinct():
    a = gen.make_documents(1, gen.DocSpec(n_docs=100))
    b = gen.make_documents(1, gen.DocSpec(n_docs=100, id_base=100))
    assert set(a.column("doc_id").to_pylist()).isdisjoint(
        b.column("doc_id").to_pylist())

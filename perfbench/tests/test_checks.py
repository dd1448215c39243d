"""Every output check rejects a corrupted output: a dropped row and a
flipped class (or flag) each fail."""

import hashlib

import numpy as np
import pandas as pd
import pytest

import checks
import gen


@pytest.fixture(scope="module")
def docs():
    return gen.make_documents(4, gen.DocSpec(n_docs=300)).to_pandas()


@pytest.fixture()
def mask(docs):
    rng = np.random.default_rng(0)
    return pd.DataFrame({
        "url": checks.input_urls(docs),
        "fmask_class": rng.integers(0, 6, len(docs)).astype("int32"),
        "cloud_id": rng.integers(0, 4, len(docs)),
        "text_sha256": [hashlib.sha256(t.encode()).hexdigest()
                        for t in docs["text"]],
    })


def test_classify_check_passes_clean_output(mask, docs):
    assert checks.check_classify(mask, docs) == []


def test_classify_check_rejects_dropped_row(mask, docs):
    assert checks.check_classify(mask.drop(index=5), docs)


def test_classify_check_rejects_duplicated_row(mask, docs):
    assert checks.check_classify(pd.concat([mask, mask.iloc[:1]]), docs)


def test_classify_check_rejects_class_out_of_range(mask, docs):
    mask.loc[3, "fmask_class"] = 6
    assert checks.check_classify(mask, docs)


def test_classify_check_rejects_wrong_digest(mask, docs):
    mask.loc[3, "text_sha256"] = "0" * 64
    assert checks.check_classify(mask, docs)


def test_class_digest_rejects_flipped_class(mask):
    before = checks.class_digest(mask)
    assert checks.class_digest(mask.sample(frac=1, random_state=1)) == before
    mask.loc[7, "fmask_class"] = (mask.loc[7, "fmask_class"] + 1) % 6
    assert checks.class_digest(mask) != before


def test_same_rows_rejects_dropped_and_flipped(mask):
    assert checks.check_same_rows(mask, mask.iloc[::-1], "x") == []
    assert checks.check_same_rows(mask, mask.drop(index=0), "x")
    flipped = mask.copy()
    flipped.loc[0, "fmask_class"] = (flipped.loc[0, "fmask_class"] + 1) % 6
    assert checks.check_same_rows(mask, flipped, "x")


@pytest.fixture()
def curated(docs):
    rng = np.random.default_rng(1)
    out = pd.DataFrame({"url": checks.input_urls(docs)})
    for f in checks.CURATE_FLAGS[:-1]:
        out[f] = rng.integers(0, 2, len(docs))
    out["keep"] = out[list(checks.CURATE_FLAGS[:-1])].min(axis=1)
    return out


def test_curate_check(curated, docs):
    assert checks.check_curate(curated, docs) == []
    assert checks.check_curate(curated.drop(index=2), docs)
    flipped = curated.copy()
    flipped.loc[2, "keep"] = 1 - flipped.loc[2, "keep"]
    assert checks.check_curate(flipped, docs)


@pytest.fixture()
def topk():
    return pd.DataFrame([(q, q + r + 1, r, 1000 - r)
                         for q in range(20) for r in range(1, 6)],
                        columns=["query_id", "cand_id", "rank",
                                 "cosine_micro"])


def test_topk_check(topk):
    assert checks.check_topk(topk, 20, 5, "t") == []
    assert checks.check_topk(topk.drop(index=0), 20, 5, "t")
    selfhit = topk.copy()
    selfhit.loc[0, "cand_id"] = selfhit.loc[0, "query_id"]
    assert checks.check_topk(selfhit, 20, 5, "t")


def test_recall(topk):
    assert checks.recall(topk, topk) == 1.0
    half = topk.copy()
    half.loc[half["rank"] <= 2, "cand_id"] += 100
    assert checks.recall(half, topk) == pytest.approx(0.6)


def test_same_digest_rejects_a_different_second_digest():
    seen = {}
    assert checks.same_digest(seen, "batch_000", "aa") == []
    assert checks.same_digest(seen, "batch_000", "aa") == []
    assert checks.same_digest(seen, "batch_001", "bb") == []
    assert checks.same_digest(seen, "batch_000", "cc", "classify repeated")
    assert seen == {"batch_000": "aa", "batch_001": "bb"}

"""Output checks.  Each returns a list of problems (empty = pass) and
runs outside the timed windows.  Inputs are pandas frames."""

from __future__ import annotations

import hashlib

import pandas as pd

CLASS_RANGE = range(0, 6)
CURATE_FLAGS = ("exact_ok", "neardup_ok", "quality_ok", "lang_ok", "keep")


def input_urls(docs: pd.DataFrame) -> pd.Series:
    """url of each generated document (derive.documents_wide_exprs)."""
    return ("https://" + docs["source"] + ".example/p/"
            + docs["doc_id"].astype(str))


def digest(df: pd.DataFrame, cols: tuple[str, ...]) -> str:
    """Order-independent digest of ``cols`` (nulls spelled ``None``)."""
    lines = sorted("\t".join("None" if pd.isna(v) else str(v) for v in row)
                   for row in df[list(cols)].itertuples(index=False))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def class_digest(out: pd.DataFrame) -> str:
    return digest(out, ("url", "fmask_class", "cloud_id"))


def same_digest(seen: dict[str, str], key: str, d: str,
                what: str = "output") -> list[str]:
    """Record digest ``d`` of ``key``'s output; a problem when ``key``
    was seen before with another digest."""
    first = seen.setdefault(key, d)
    return [] if first == d else [f"{key}: {what} digest {d} != {first}"]


def _urls_once(out: pd.DataFrame, urls: pd.Series) -> list[str]:
    problems = []
    dup = int(out["url"].duplicated().sum())
    if dup:
        problems.append(f"{dup} urls appear more than once")
    want, got = set(urls), set(out["url"])
    if want - got:
        problems.append(f"{len(want - got)} input urls missing")
    if got - want:
        problems.append(f"{len(got - want)} urls not in the input")
    return problems


def check_classify(out: pd.DataFrame, docs: pd.DataFrame) -> list[str]:
    """Every input url exactly once, text_sha256 == sha256(text), and
    every class in 0-5."""
    urls = input_urls(docs)
    problems = _urls_once(out, urls)
    sha = dict(zip(urls, (hashlib.sha256(t.encode()).hexdigest()
                          for t in docs["text"])))
    bad = sum(sha.get(u) != s
              for u, s in zip(out["url"], out["text_sha256"]))
    if bad:
        problems.append(f"{bad} rows with text_sha256 != sha256(text)")
    cls = out["fmask_class"]
    if cls.isna().any() or not cls.dropna().astype(int).isin(
            CLASS_RANGE).all():
        problems.append("fmask_class outside 0-5")
    return problems


def check_same_rows(a: pd.DataFrame, b: pd.DataFrame,
                    what: str) -> list[str]:
    """``a`` and ``b`` hold the same multiset of rows (compared over
    a's columns, in a's column order)."""
    cols = list(a.columns)
    if set(cols) != set(b.columns):
        return [f"{what}: columns {sorted(a.columns)} != "
                f"{sorted(b.columns)}"]
    if len(a) != len(b):
        return [f"{what}: {len(a)} rows != {len(b)} rows"]
    if digest(a, tuple(cols)) != digest(b, tuple(cols)):
        return [f"{what}: row contents differ"]
    return []


def check_curate(out: pd.DataFrame, docs: pd.DataFrame) -> list[str]:
    """One row per input url, 0/1 flags, keep == AND of the four."""
    problems = _urls_once(out, input_urls(docs))
    for f in CURATE_FLAGS:
        if not out[f].isin((0, 1)).all():
            problems.append(f"{f} not 0/1")
    both = out[list(CURATE_FLAGS[:-1])].min(axis=1)
    if (both != out["keep"]).any():
        problems.append("keep != AND of the stage flags")
    return problems


def check_topk(out: pd.DataFrame, n_queries: int, k: int,
               what: str) -> list[str]:
    """ANN result shape: ranks 1..k for each of the first n queries,
    never the query itself."""
    problems = []
    want = {(q, r) for q in range(n_queries) for r in range(1, k + 1)}
    got = set(zip(out["query_id"].astype(int), out["rank"].astype(int)))
    if got != want or len(out) != len(want):
        problems.append(f"{what}: (query, rank) set is not "
                        f"{n_queries} x 1..{k}")
    if (out["query_id"] == out["cand_id"]).any():
        problems.append(f"{what}: a query returned itself")
    return problems


def recall(approx: pd.DataFrame, exact: pd.DataFrame) -> float:
    """Mean over queries of |approx top-k & exact top-k| / k."""
    ex = exact.groupby("query_id")["cand_id"].apply(set)
    ap = approx.groupby("query_id")["cand_id"].apply(set)
    return float(sum(len(ap.get(q, set()) & s) / len(s)
                     for q, s in ex.items()) / max(len(ex), 1))

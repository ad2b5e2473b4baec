"""Output checks.  Every failed check fails the operation it follows.

- fingerprints: order-independent (row count, sum of 64-bit row hashes)
  of a table or a collected result; the same seed must give the same
  fingerprint in every operation of a run and in every run and workload
  of this program version (``FingerprintStore``);
- extracted text byte-identical to ``make_page(i)["_payload"]``;
- triple precision/recall against ``tests/golden/expected_triples.json``;
- two report kinds recomputed in pandas from the collected triples.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import pandas as pd
import pyspark.sql.functions as F

from convei_abstract_relational_knowledge_explorer_spark.sources.synthetic import (
    make_page,
)

GOLDEN_JSON = (
    Path(__file__).resolve().parent.parent / "tests" / "golden" / "expected_triples.json"
)


class CheckFailed(AssertionError):
    pass


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def table_fingerprint(df) -> list:
    """[rows, sum of xxhash64 over all columns] — independent of row order,
    partitioning and file layout."""
    cols = sorted(df.columns)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return [int(row["n"]), str(row["h"] or 0)]


def _canon(value):
    if isinstance(value, float):
        return round(value, 4)  # last-bit noise of distributed float sums
    if isinstance(value, (list, tuple)):
        return [_canon(v) for v in value]
    if hasattr(value, "asDict"):
        return _canon(list(value))
    return value


def rows_fingerprint(rows) -> list:
    """[rows, sum of per-row sha256 prefixes mod 2^64] of collected rows."""
    h = 0
    for r in rows:
        digest = hashlib.sha256(repr(_canon(list(r))).encode()).digest()
        h = (h + int.from_bytes(digest[:8], "big")) % 2**64
    return [len(rows), str(h)]


class FingerprintStore:
    """Fingerprints keyed by program version, seed and output name.

    Kept in a file inside the checkout so that runs of other workloads
    and later runs with the same seed are checked against each other.
    """

    def __init__(self, path: Path, version: str):
        self.path = path
        self.version = version
        self.data = json.loads(path.read_text()) if path.exists() else {}

    def check(self, seed: int, name: str, fp: list) -> None:
        key = f"{self.version}:{seed}:{name}"
        known = self.data.get(key)
        if known is None:
            self.data[key] = fp
            self.path.parent.mkdir(parents=True, exist_ok=True)
            tmp = self.path.with_suffix(f".{os.getpid()}.tmp")
            tmp.write_text(json.dumps(self.data, indent=1, sort_keys=True))
            tmp.replace(self.path)
            return
        require(known == fp, f"fingerprint of {name} changed: {known} -> {fp}")


def program_version(package_dir: Path) -> str:
    """Hash of the package's Python sources."""
    h = hashlib.sha256()
    for p in sorted(package_dir.rglob("*.py")):
        h.update(str(p.relative_to(package_dir)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def extracted_text(documents, indices: list[int]) -> None:
    expect = {}
    for i in indices:
        page = make_page(i)
        expect[page["url"]] = page["_payload"]
    got = {
        r["url"]: r["text"]
        for r in documents.filter(F.col("url").isin(list(expect)))
        .select("url", "text")
        .collect()
    }
    require(got.keys() == expect.keys(), "sampled urls missing from documents")
    bad = [u for u in expect if got[u].encode() != expect[u].encode()]
    require(not bad, f"extracted text differs for {len(bad)} sampled urls")


def golden_triples(triples) -> float:
    """Triple P/R over the golden corpus's urls in ``triples``.

    Returns min(P, R); raises when it is below 0.95.
    """
    from convei_abstract_relational_knowledge_explorer_spark.operators.triples import (
        parity_triples,
    )

    golden = json.loads(GOLDEN_JSON.read_text())
    expected = {tuple(t) for t in golden["triples"]}
    urls = [make_page(i)["url"] for i in range(golden["n_corpus"])]
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in parity_triples(triples.filter(F.col("subj").isin(urls))).collect()
    }
    tp = len(got & expected)
    score = min(tp / max(len(got), 1), tp / max(len(expected), 1))
    require(score >= 0.95, f"golden triple P/R {score:.4f} < 0.95")
    return score


def same_rows(what: str, got: list, want: list, tol: float = 1e-6) -> None:
    """Row multisets equal, floats within ``tol`` (Spark rounds to 6 dp)."""
    key = lambda r: repr(_canon(r))  # noqa: E731
    got, want = sorted(got, key=key), sorted(want, key=key)
    require(len(got) == len(want), f"{what}: {len(got)} rows, pandas {len(want)}")
    for a, b in zip(got, want):
        same = len(a) == len(b) and all(
            abs(x - y) <= tol if isinstance(y, float) else x == y
            for x, y in zip(a, b)
        )
        require(same, f"{what}: row {a} differs from pandas {b}")


def pandas_reports(triples: pd.DataFrame, pred: str) -> dict[str, list]:
    """mentions_per_year and entities_per_doc_stats recomputed in pandas,
    as row lists comparable with ``rows_fingerprint``."""
    t = triples[triples["pred"] == pred]
    per_year = (
        t.groupby(["obj", "year"])["doc_id"].nunique().rename("n_docs").reset_index()
    )
    span = t.groupby("obj")["year"].agg(first_year="min", last_year="max").reset_index()
    mpy = per_year.merge(span, on="obj")[
        ["obj", "year", "n_docs", "first_year", "last_year"]
    ]
    per_doc = t.groupby(["doc_id", "year"])["obj"].nunique().rename("n").reset_index()
    epd = per_doc.groupby("year")["n"].agg(
        mean_entities="mean", median_entities="median", n_docs="count"
    ).reset_index()
    return {
        "mentions_per_year": [
            [r.obj, int(r.year), int(r.n_docs), int(r.first_year), int(r.last_year)]
            for r in mpy.itertuples()
        ],
        "entities_per_doc_stats": [
            [int(r.year), float(r.mean_entities), float(r.median_entities),
             int(r.n_docs)]
            for r in epd.itertuples()
        ],
    }

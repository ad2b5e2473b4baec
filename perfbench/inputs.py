"""Seeded benchmark inputs, written to parquet before anything is timed.

``sources.synthetic.make_page(i)`` is a pure function of the page index
with a fixed internal seed, and ``web_pages(spark, n)`` always yields
indices ``[0, n)``.  The workload seed therefore picks an index WINDOW:
the same seed gives the same pages, another seed gives pages the program
has never seen.  Every base corpus starts with the pages ``[0, GOLDEN_N)``
of ``tests/golden/expected_triples.json``, so triple precision/recall is
checked on the graph the workload builds; the seeded window follows them.

A crawl drop is what a monthly crawl delivers: every base url fetched
again plus ``n_new`` pages that are new to the graph.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from convei_abstract_relational_knowledge_explorer_spark.sources.synthetic import (
    make_page,
)

GOLDEN_N = 150
FILES_PER_DIR = 8  # fixed, so the scan split count depends on the seed only

_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        # naive datetimes stored as UTC instants: Spark reads them back as
        # TIMESTAMP in its UTC session zone, exactly like web_pages()
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass(frozen=True)
class Corpus:
    """Index layout of one seed: base pages, then one window per drop."""

    seed: int
    n_docs: int
    n_new: int

    @property
    def offset(self) -> int:
        return GOLDEN_N + random.Random(self.seed).randrange(10**9)

    def base(self) -> list[int]:
        window = self.n_docs - GOLDEN_N
        return list(range(GOLDEN_N)) + list(range(self.offset, self.offset + window))

    def new(self, drop: int) -> list[int]:
        start = self.offset + self.n_docs - GOLDEN_N + drop * self.n_new
        return list(range(start, start + self.n_new))

    def sample(self, indices: list[int], k: int, salt: str) -> list[int]:
        """Seeded sample of page indices for the extracted-text check."""
        return sorted(random.Random(f"{self.seed}:{salt}").sample(indices, k))


def write_pages(indices, out_dir: Path) -> Path:
    """Write ``make_page(i)`` rows for ``indices`` as FILES_PER_DIR files."""
    out_dir.mkdir(parents=True, exist_ok=True)
    idx = list(indices)
    per_file = -(-len(idx) // FILES_PER_DIR)
    for f in range(FILES_PER_DIR):
        rows = [make_page(i) for i in idx[f * per_file:(f + 1) * per_file]]
        if not rows:
            continue
        table = pa.Table.from_pydict(
            {name: [r[name] for r in rows] for name in _SCHEMA.names},
            schema=_SCHEMA,
        )
        pq.write_table(table, out_dir / f"part-{f:05d}.parquet")
    return out_dir

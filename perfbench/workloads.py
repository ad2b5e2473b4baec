"""The three workloads.  Each is a closed loop with one client.

A workload prepares its inputs in ``setup`` (timed as set-up), then the
runner calls ``prepare`` (untimed), ``op`` (timed) and ``check``
(untimed) once per operation.  ``check`` raises ``checks.CheckFailed``
when an output is wrong and returns the operation's counters.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import pyspark.sql.functions as F

import checks
import inputs
import proctree
from convei_abstract_relational_knowledge_explorer_spark.plans import (
    pipeline,
    reports,
)

TEXT_SAMPLE = 24  # urls per extracted-text check


@dataclass
class Context:
    spark: object
    work: Path
    corpus: inputs.Corpus
    fingerprints: checks.FingerprintStore


def graph_mb(path: Path) -> float:
    """Apparent size of every file under ``path``, hard links once."""
    seen, total = set(), 0
    for p in path.rglob("*"):
        st = p.lstat()
        if p.is_file() and st.st_ino not in seen:
            seen.add(st.st_ino)
            total += st.st_size
    return total / 1e6


def data_files(path: Path) -> set[str]:
    return {
        str(p.relative_to(path))
        for p in path.rglob("*")
        if p.is_file() and not p.name.startswith(("_", "."))
    }


def _link_or_copy(src: str, dst: str) -> None:
    """Restore a snapshot file: data files are only ever added or removed
    whole, so they are hard-linked; the JSON ledgers are rewritten in
    place, so they are copied."""
    if src.endswith(".json"):
        shutil.copy2(src, dst)
    else:
        os.link(src, dst)


def merge_frac(nodes) -> float:
    row = nodes.select(
        F.count(F.lit(1)).alias("n"), F.countDistinct("canonical_id").alias("c")
    ).first()
    return 1.0 - row["c"] / row["n"]


class _GraphWorkload:
    """Shared set-up and checks of a graph written by the pipeline."""

    docs_in = 0  # documents ingested per operation
    tracer = None  # set by the runner around traced operations

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.corpus = ctx.corpus
        self.base_dir = inputs.write_pages(ctx.corpus.base(), ctx.work / "in" / "base")

    def pages(self, *dirs: Path):
        return self.spark.read.parquet(*(str(d) for d in dirs))

    def build_base(self, out: Path) -> dict:
        """The set-up build of the base graph, timed for the summary."""
        cpu0, t0 = proctree.cpu_seconds(), time.monotonic()
        tables = pipeline.build_graph(
            self.spark, self.pages(self.base_dir), str(out), with_topics=True
        )
        self.base_build = {
            "s": time.monotonic() - t0, "cpu_s": proctree.cpu_seconds() - cpu0
        }
        return tables

    def prepare(self) -> None:
        """Untimed work before each operation."""

    def check_graph(self, tables, key: str, n_docs: int,
                    text_indices: list[int]) -> dict:
        docs = tables["documents"]
        n = docs.count()
        checks.require(n == n_docs, f"{key}: documents has {n} rows, want {n_docs}")
        checks.extracted_text(docs, text_indices)
        for name in ("triples", "nodes", "edges"):
            fp = checks.table_fingerprint(tables[name])
            self.ctx.fingerprints.check(self.corpus.seed, f"{key}.{name}", fp)
        return {"merge_frac": merge_frac(tables["nodes"])}


class KgBuild(_GraphWorkload):
    """build_graph(with_topics=True) over the seeded corpus, fresh each op."""

    name = "kg_build"

    def setup(self) -> None:
        from convei_abstract_relational_knowledge_explorer_spark.operators.extract import (
            extract_documents,
        )
        from convei_abstract_relational_knowledge_explorer_spark.operators.triples import (
            emit_triples,
        )

        # the golden check doubles as warm-up: the first Python UDF pass
        # of a session starts the workers and loads the dictionaries
        golden = inputs.write_pages(range(inputs.GOLDEN_N), self.ctx.work / "in" / "golden")
        self.golden_pr = checks.golden_triples(
            emit_triples(self.spark, extract_documents(self.pages(golden)))
        )
        self.docs_in = self.corpus.n_docs
        self.text_sample = self.corpus.sample(self.corpus.base(), TEXT_SAMPLE, "base")
        self._k = 0

    def prepare(self) -> None:
        self._k += 1
        self.out = self.ctx.work / f"graph{self._k}"

    def op(self):
        return pipeline.build_graph(
            self.spark, self.pages(self.base_dir), str(self.out), with_topics=True
        )

    def check(self, tables) -> dict:
        stats = {
            "graph_mb": graph_mb(self.out),
            "files_written": len(data_files(self.out)),
        }
        stats.update(
            self.check_graph(tables, "build", self.corpus.n_docs, self.text_sample)
        )
        shutil.rmtree(self.out)
        return stats


class KgIncrement(_GraphWorkload):
    """Steady-state monthly fold into a built graph, from one snapshot."""

    name = "kg_increment"

    def setup(self) -> None:
        c, work = self.corpus, self.ctx.work
        self.docs_in = c.n_new
        self.new_dirs = [
            inputs.write_pages(c.new(d), work / "in" / f"new{d}") for d in (0, 1)
        ]
        self.graph = work / "graph"
        self.golden_pr = checks.golden_triples(self.build_base(self.graph)["triples"])
        # warm-up fold: runs the one-time backfills (term_df,
        # entity_surfaces, surface_bands, entity_stats) outside the loop
        warm = self._fold(self.new_dirs[0])
        n = warm["documents"].count()
        checks.require(n == c.n_docs + c.n_new, f"warm-up fold has {n} documents")
        self.snapshot = work / "snapshot"
        shutil.copytree(self.graph, self.snapshot)
        self.text_sample = c.sample(c.new(1), TEXT_SAMPLE, "new1")

    def _fold(self, new_dir: Path):
        return pipeline.incremental_update(
            self.spark,
            str(self.graph),
            self.pages(self.base_dir, new_dir),
            with_topics=True,
            topics_mode="frozen_idf",
            edge_counts="sketch",
        )

    def prepare(self) -> None:
        shutil.rmtree(self.graph)
        shutil.copytree(self.snapshot, self.graph, copy_function=_link_or_copy)
        self._before = data_files(self.graph)

    def op(self):
        return self._fold(self.new_dirs[1])

    def check(self, tables) -> dict:
        c = self.corpus
        stats = {
            "graph_mb": graph_mb(self.graph),
            "files_written": len(data_files(self.graph) - self._before),
        }
        stats.update(
            self.check_graph(tables, "increment", c.n_docs + 2 * c.n_new,
                             self.text_sample)
        )
        return stats


def _counts(t):
    return reports.mentions_per_year(t["triples"], "AUTHOR_LOCATED_IN").select(
        "entity", "year", F.col("n_docs").alias("n")
    )


REPORTS = {
    "satellite_pair_matrix": lambda t: reports.satellite_pair_matrix(t["triples"]),
    "mentions_per_year": lambda t: reports.mentions_per_year(
        t["triples"], "STUDY_LOCATION"
    ),
    "entities_per_doc_stats": lambda t: reports.entities_per_doc_stats(
        t["triples"], "STUDY_LOCATION"
    ),
    "top_entities_per_year": lambda t: reports.top_entities_per_year(
        t["triples"], "MENTIONS_SATELLITE"
    ),
    "topics_jsonl": lambda t: reports.topics_jsonl(t["triples"], t["nodes"]),
    "explorer_feed": lambda t: reports.explorer_feed(
        t["triples"], t["nodes"], t["documents"]
    ),
    "annual_stacked_cumulative": lambda t: reports.annual_stacked_cumulative(
        _counts(t)
    ),
    "totals_with_share": lambda t: reports.totals_with_share(_counts(t)),
}


class KgReports(_GraphWorkload):
    """Read-only report calls over a built graph, each ending in collect().

    One operation is a round: every report kind once, each issued as its
    own call (the page of reports a user opens).  ``calls`` keeps every
    measured call's (kind, seconds, traced) for the per-call figures.
    """

    name = "kg_reports"

    def setup(self) -> None:
        self.graph = self.ctx.work / "graph"
        tables = self.build_base(self.graph)
        self.golden_pr = checks.golden_triples(tables["triples"])
        self.graph_stats = {"graph_mb": graph_mb(self.graph), "files_written": 0}
        self.graph_stats.update(
            self.check_graph(
                tables, "build", self.corpus.n_docs,
                self.corpus.sample(self.corpus.base(), TEXT_SAMPLE, "base"),
            )
        )
        triples = (
            tables["triples"]
            .filter(F.col("pred") == "STUDY_LOCATION")
            .select("doc_id", "pred", "obj", "year")
            .toPandas()
        )
        self.expected = checks.pandas_reports(triples, "STUDY_LOCATION")
        self.calls: list[tuple[str, float, bool]] = []
        # warm-up round: a serving process has every report's plan compiled
        self.check(self.op())
        self.calls.clear()

    def tables(self) -> dict:
        read = lambda stage: self.spark.read.parquet(str(self.graph / stage))  # noqa: E731
        return {
            "triples": read("triples").unionByName(read("topics")),
            "nodes": read("nodes"),
            "documents": read("documents"),
        }

    def op(self) -> dict:
        results = {}
        for kind, report in REPORTS.items():
            t0 = time.monotonic()
            if self.tracer is None:
                results[kind] = report(self.tables()).collect()
            else:
                with self.tracer.span("reports", kind):
                    results[kind] = report(self.tables()).collect()
            self.calls.append((kind, time.monotonic() - t0, self.tracer is not None))
        return results

    def check(self, results: dict) -> dict:
        for kind, rows in results.items():
            checks.require(len(rows) > 0, f"{kind} returned no rows")
            self.ctx.fingerprints.check(
                self.corpus.seed, f"report.{kind}", checks.rows_fingerprint(rows)
            )
            want = self.expected.get(kind)
            if want is not None:
                checks.same_rows(kind, [list(r) for r in rows], want)
        return dict(self.graph_stats)


WORKLOADS = {w.name: w for w in (KgBuild, KgIncrement, KgReports)}

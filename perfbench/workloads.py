"""The benchmark's workloads: what one iteration runs and how its result is
checked against the oracle.

Each iteration takes a span function ``sp(layer, group)`` (a no-op in the
untraced run), opens the root ``bench`` span around its timed region, and
returns ``(wall_s, rows_out, ops)``, where ``ops`` lists
the iteration's timed operations as ``(name, seconds, ok)``. The oracle
checks run after the timed region.
"""

from __future__ import annotations

import os
import time

import pandas as pd

from inputs import read_oracle
from tracing import dir_stats

SINK_SCHEMA = (
    "subj string, pred string, obj string, content_sha256 string, "
    "support bigint, repo_hash int, salt int"
)
TRIPLE_COLS = ["subj", "pred", "obj", "content_sha256", "support"]
STAGE_LAYER = {
    "mentions": "operators.mentions",
    "canonical": "operators.canonicalize",
    "triples": "operators.triples",
}
# at least one query per analytics layer; each builds with eager Spark
# jobs in a driver loop (CC rounds, BPE merges, walk steps, PageRank and
# label-propagation rounds)
ANALYTICS_QUERIES = [
    "bpe_merges", "doc_dup_clusters", "kg_weighted_walks", "kg_pagerank", "kg_label_prop",
]
ANALYTICS_LAYERS = ["graph", "kg_query", "bpe", "dedup", "code", "canonicalize"]


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive exact comparison, as the contract check does."""
    from check_contract import normalize

    a, b = normalize(got), normalize(want)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


class _TimedStageWrite:
    """Stands in for a stage's DataFrame inside ``StageStore.write``: the
    stage-output parquet write runs inside ``on_write()``; everything
    else delegates to the DataFrame."""

    def __init__(self, df, on_write):
        self._df = df
        self._on_write = on_write

    def __getattr__(self, name):
        return getattr(self._df, name)

    @property
    def write(self):
        return _TimedWriter(self._df.write, self._on_write)


class _TimedWriter:
    def __init__(self, writer, on_write):
        self._writer = writer
        self._on_write = on_write

    def mode(self, mode):
        self._writer = self._writer.mode(mode)
        return self

    def parquet(self, path):
        with self._on_write():
            self._writer.parquet(path)


def traced_store(tracer):
    """StageStore whose stages run under job groups named after the stage
    (``mentions``, ``canonical``, ``triples``): ``<stage>`` while the
    stage's DataFrame is built, ``<stage>.write`` while its output parquet
    is written, and ``<stage>.checkpoint`` for the store's own metrics and
    manifest work."""
    from palladian_spark.sources.checkpoint import StageStore

    class TracedStageStore(StageStore):
        def run(self, stage, build, lineage_col=None):
            layer = STAGE_LAYER[stage]

            def traced_build():
                with tracer.span(layer, stage):
                    df = build()
                return _TimedStageWrite(df, lambda: tracer.span(layer, f"{stage}.write"))

            with tracer.span("sources.checkpoint", f"{stage}.checkpoint"):
                return super().run(stage, traced_build, lineage_col)

    return TracedStageStore


class KgBuild:
    """``tools/run_pipeline.py --no-canonicalize``'s production shape:
    extract_triples with a StageStore, write_triples to the sink, read
    back, verify_lineage. Canonicalization is off because its LSH-blocked
    components differ from the all-pairs oracle on these corpora (see
    perfbench/README.md); the expected KG is the ``kg_triples`` oracle
    without its ``synonym-of`` rows, the only rows canonicalization adds."""

    name = "kg_build"
    n_docs = 1200
    oracles = ["kg_triples"]

    def iteration(self, spark, inp, run_dir, sp, tracer=None):
        import __spark_entry__ as entry
        from palladian_spark.operators.triples import write_triples
        from palladian_spark.pipeline import documents_as_source, extract_triples, verify_lineage
        from palladian_spark.sources.checkpoint import StageStore

        ckpt, sink = os.path.join(run_dir, "ckpt"), os.path.join(run_dir, "sink")
        t0 = time.perf_counter()
        with sp("bench", "bench"):
            docs = spark.read.parquet(os.path.join(inp["dir"], "documents.parquet"))
            source = documents_as_source(entry._capitalized_corpus(docs))
            store_cls = traced_store(tracer) if tracer else StageStore
            store = store_cls(spark, ckpt, config={"model_dir": None, "canonicalize": False,
                                                   "code_entities": False})
            with sp("pipeline", "extract"):
                triples = extract_triples(source, canonicalize=False, store=store)
            with sp("operators.triples", "sink"):
                write_triples(triples, sink)
            written = spark.read.schema(SINK_SCHEMA).parquet(sink)
            n = written.count()
            with sp("pipeline", "verify_lineage"):
                violations = verify_lineage(source, written)
        wall = time.perf_counter() - t0

        got = written.select(*TRIPLE_COLS).toPandas()
        want = read_oracle(inp["dir"], "kg_triples")
        want = want[want["pred"] != "synonym-of"]
        ok = violations == 0 and n == len(got) and frames_equal(got, want)
        self.last = {
            "violations": violations,
            "mentions_rows": store.manifest("mentions")["rows"],
            "triples_rows": n,
            "sink": dir_stats(sink),
            "ckpt": dir_stats(ckpt),
        }
        return wall, n, [("pipeline_run", wall, ok)]

    def layer_counts(self, spark, run_dir):
        return self.last

    def report(self) -> list[str]:
        return []


class KgAnalytics:
    """Driver-loop graph queries from ``__spark_entry__.queries()``, each
    built (with its eager build-time jobs) and then executed to pandas."""

    name = "kg_analytics"
    n_docs = 400
    oracles = ANALYTICS_QUERIES

    def __init__(self):
        self.phase_log: list[list[tuple]] = []

    def report(self) -> list[str]:
        """Per query: build and execute seconds of the first pass."""
        return [f"{q}: build {b:.4g} s, execute {e:.4g} s"
                for q, b, e in self.phase_log[0]] if self.phase_log else []

    def iteration(self, spark, inp, run_dir, sp, tracer=None):
        import __spark_entry__ as entry

        queries = entry.queries()
        rows, ops, results = 0, [], []
        phases = []
        self.phase_log.append(phases)
        start = time.perf_counter()
        with sp("bench", "bench"):
            for q in ANALYTICS_QUERIES:
                t0 = time.perf_counter()
                with sp("entry", f"{q}.build"), _layer_spans(tracer, f"{q}.build") as top:
                    df = queries[q](spark, inp["dir"])
                t1 = time.perf_counter()
                owner = top[-1] if top else "entry"
                with sp(owner, f"{q}.execute:{owner}"):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
                results.append((q, pdf))
                phases.append((q, t1 - t0, t2 - t1))
                rows += len(pdf)
                ops.append([q, t2 - t0, None])
        wall = time.perf_counter() - start
        for op, (q, pdf) in zip(ops, results):
            op[2] = frames_equal(pdf, read_oracle(inp["dir"], q))
        return wall, rows, [tuple(o) for o in ops]

    def layer_counts(self, spark, run_dir):
        return {}


class _layer_spans:
    """While a query builds, wrap the public functions of the analytics
    layers so that each call into them is a span whose job group is
    ``<tag>:operators.<layer>``. Yields the list of layers whose calls
    returned at the top level, in order (the last one produced the
    query's result). A no-op without a tracer."""

    def __init__(self, tracer, tag):
        self.tracer, self.tag = tracer, tag
        self.top: list[str] = []
        self.saved: list[tuple] = []

    def __enter__(self):
        if self.tracer is None:
            return self.top
        import importlib

        depth = self.tracer.depth
        for short in ANALYTICS_LAYERS:
            mod = importlib.import_module(f"palladian_spark.operators.{short}")
            layer = f"operators.{short}"
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not callable(fn):
                    continue
                if getattr(fn, "__module__", None) != mod.__name__ or isinstance(fn, type):
                    continue
                self.saved.append((mod, name, fn))
                setattr(mod, name, self._wrap(fn, layer, depth))
        return self.top

    def _wrap(self, fn, layer, depth):
        tracer, tag, top = self.tracer, self.tag, self.top

        def traced(*args, **kwargs):
            outer = tracer.depth == depth
            with tracer.span(layer, f"{tag}:{layer}"):
                out = fn(*args, **kwargs)
            if outer:
                top.append(layer)
            return out

        return traced

    def __exit__(self, *exc):
        for mod, name, fn in self.saved:
            setattr(mod, name, fn)


WORKLOADS = {w.name: w for w in (KgBuild(), KgAnalytics())}

"""Per-layer metrics of a traced run's cold iteration.

Times come from the benchmark's spans: ``<layer>.wall_s`` and the
analytics ``build_s`` are layer self times (span time minus the time of
spans nested in it); ``execute_s`` is the time a query's result takes to
reach pandas, charged to the layer whose call returned that result.
Task metrics come from the Spark event log, folded per job group and then
per layer (``<layer>.group.*``). A layer that the workload does not call
reports 0.
"""

from __future__ import annotations

from collections import defaultdict

from tracing import GROUP_FIELDS

# layers that launch Spark jobs in some workload
GROUP_LAYERS = [
    "operators.mentions", "operators.canonicalize", "operators.triples",
    "sources.checkpoint", "pipeline", "operators.graph", "operators.kg_query",
    "operators.bpe", "operators.code",
]
QUERY_LAYERS = ["graph", "kg_query", "bpe", "dedup", "code"]


def _merge(into: dict, rec: dict) -> None:
    for k in GROUP_FIELDS:
        if k == "peak_exec_mem_bytes":
            into[k] = max(into.get(k, 0), rec[k])
        else:
            into[k] = into.get(k, 0) + rec[k]
    into["task_skew"] = max(into.get("task_skew", 1.0), rec["task_skew"])


def per_layer(run, tracer, kept, groups, extra, cold, warm_traced, warm_untraced) -> dict:
    n = len(kept)
    spans = [s for k in kept for s in k["spans"]]
    self_s: dict[str, float] = defaultdict(float)
    group_dur: dict[str, float] = defaultdict(float)
    group_self: dict[str, float] = defaultdict(float)
    for s in spans:
        self_s[s["layer"]] += s["dur_s"] - s["child_s"]
        group_dur[s["group"]] += s["dur_s"]
        group_self[s["group"]] += s["dur_s"] - s["child_s"]

    by_group: dict[str, dict] = {}
    for gid, rec in groups.items():
        for k in kept:
            if gid.startswith(k["prefix"]):
                _merge(by_group.setdefault(gid[len(k["prefix"]):], {}), rec)
    by_layer: dict[str, dict] = defaultdict(dict)
    for g, rec in by_group.items():
        _merge(by_layer[tracer.group_layer.get(g, "(none)")], rec)

    def lay(layer, field):
        v = by_layer.get(layer, {}).get(field, 0)
        return v if field in ("peak_exec_mem_bytes", "task_skew") else v / n

    def jobs(layer, phase):
        return sum(r["jobs"] for g, r in by_group.items()
                   if tracer.group_layer.get(g) == layer and phase in g) / n

    m: dict[str, float] = {}
    mention = "operators.mentions"
    m.update({
        f"{mention}.wall_s": self_s[mention] / n,
        f"{mention}.rows_out": extra.get("mentions_rows", 0),
        f"{mention}.python_run_s": lay(mention, "python_run_s"),
        f"{mention}.python_init_s": lay(mention, "python_init_s"),
        f"{mention}.arrow_bytes_to_python": lay(mention, "arrow_bytes_to_python"),
        f"{mention}.arrow_bytes_from_python": lay(mention, "arrow_bytes_from_python"),
        f"{mention}.jvm_cpu_s": lay(mention, "executor_cpu_s"),
        f"{mention}.task_skew": lay(mention, "task_skew"),
    })
    canon = "operators.canonicalize"
    m.update({
        f"{canon}.wall_s": self_s[canon] / n,
        # jobs launched while canonicalization builds (size gate, collect,
        # CC rounds), not those that execute its finished plan
        f"{canon}.build_jobs": sum(
            r["jobs"] for g, r in by_group.items()
            if tracer.group_layer.get(g) == canon
            and not g.endswith((".write", ".checkpoint")) and ".execute" not in g
        ) / n,
        f"{canon}.python_run_s": lay(canon, "python_run_s"),
        f"{canon}.shuffle_write_bytes": lay(canon, "shuffle_write_bytes"),
        f"{canon}.task_skew": lay(canon, "task_skew"),
    })
    for short in QUERY_LAYERS:
        layer = f"operators.{short}"
        m[f"{layer}.build_s"] = sum(
            v for g, v in group_self.items() if g.endswith(f".build:{layer}")
        ) / n
        m[f"{layer}.execute_s"] = sum(
            v for g, v in group_dur.items() if g.endswith(f".execute:{layer}")
        ) / n
        m[f"{layer}.build_jobs"] = jobs(layer, ".build:")
        m[f"{layer}.execute_jobs"] = jobs(layer, ".execute:")
    tri = "operators.triples"
    sink_files, sink_bytes = extra.get("sink", (0, 0))
    m.update({
        f"{tri}.dedup_s": (group_self["triples"] + group_self["triples.write"]) / n,
        f"{tri}.rows_out": extra.get("triples_rows", 0),
        f"{tri}.sink_write_s": group_dur["sink"] / n,
        f"{tri}.sink_files": sink_files,
        f"{tri}.sink_bytes": sink_bytes,
        f"{tri}.shuffle_write_bytes": lay(tri, "shuffle_write_bytes"),
    })
    ck_files, ck_bytes = extra.get("ckpt", (0, 0))
    m.update({
        "sources.checkpoint.write_s": self_s["sources.checkpoint"] / n,
        "sources.checkpoint.bytes_written": ck_bytes,
        "sources.checkpoint.files_written": ck_files,
        "pipeline.extract_s": group_dur["extract"] / n,
        "pipeline.verify_lineage_s": group_dur["verify_lineage"] / n,
        "pipeline.lineage_violations": extra.get("violations", 0),
        "sources.session.start_s": run.session_s,
        "entry.self_s": self_s["entry"] / n,
    })
    # the spans and groups describe the cold iteration; the overhead
    # compares a warm traced iteration with a warm untraced one
    m.update({
        "trace.traced_wall_s": cold,
        "trace.warm_traced_s": warm_traced,
        "trace.warm_untraced_s": warm_untraced,
        "trace.overhead_s": warm_traced - warm_untraced,
        "trace.layers_self_s": sum(v for k, v in self_s.items() if k != "bench") / n,
        "trace.bench_self_s": self_s["bench"] / n,
    })
    m.update({f"self_s.{layer}": v / n for layer, v in self_s.items()})
    for layer in GROUP_LAYERS:
        for field in ("jobs", "executor_run_s", "executor_cpu_s", "gc_s",
                      "shuffle_read_bytes", "spill_bytes", "peak_exec_mem_bytes"):
            m[f"{layer}.group.{field}"] = lay(layer, field)
    return m

"""End-to-end and per-layer metrics of one run.

End-to-end metrics come from every timed op (all of them in an untraced
run). Per-layer metrics come from the traced ops of a traced run: each
is the median over those ops of the per-op value, except
``session.build_s`` (set-up) and ``session.cached_bytes_after_op`` (the
largest over all ops).
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

# Span names timed as per-layer metrics: metric -> span name.
LAYER_TIMES = {
    "session.release_s": "session.release",
    "sources.paged.read_s": "sources.paged.read",
    "sources.htmlparse.parse_s": "sources.htmlparse.parse",
    "sources.writers.publish_s": "sources.writers.publish",
    "sources.formats.land_s": "sources.formats.land",
    "operators.merge.build_s": "operators.merge.build",
    "labelstore.store.build_s": "labelstore.store.build",
    "labelstore.layout.write_s": "labelstore.layout.write",
    "functions.text.c4_clean_s": "functions.text.c4_clean",
    "functions.text.quality_s": "functions.text.quality",
    "functions.dedup.exact_s": "functions.dedup.exact",
    "functions.dedup.minhash_s": "functions.dedup.minhash",
    "functions.contamination.decontaminate_s": "functions.contamination.decontaminate",
    "functions.sampling.token_budget_s": "functions.sampling.token_budget",
    "functions.packing.manifest_s": "functions.packing.manifest",
}
LAYERS = ("session", "sources", "operators", "labelstore", "functions")
SPARK = ("jobs", "build_jobs", "stages", "tasks", "idle_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
         "executor_run_s", "executor_cpu_s", "gc_s")


@dataclass
class RunFacts:
    workload: str
    ops: list
    setup_s: float
    session_s: float
    retained_mb: float


def drift(times: list) -> float:
    """Median of the last quarter of ops over the median of the first."""
    q = max(1, len(times) // 4)
    return statistics.median(times[-q:]) / statistics.median(times[:q])


def wall(ops: list) -> dict:
    """Op latency and throughput in wall time. Reported without a bound:
    on a VM whose host steals CPU they moved up to 30% between runs."""
    times = [r["seconds"] for r in ops]
    return {
        "op_p50_s": {"value": statistics.median(times), "unit": "s"},
        "rows_per_s": {"value": sum(r["records"] for r in ops) / sum(times), "unit": "rows/s"},
    }


def end_to_end(run: RunFacts) -> dict:
    return {
        "setup_s": {"value": run.setup_s, "unit": "s"},
        "op_cpu_s": {"value": statistics.median(r["cpu_s"] for r in run.ops), "unit": "s"},
        "write_bytes_per_input_byte": {
            "value": sum(r["written"] for r in run.ops)
            / max(1, sum(r["input_bytes"] for r in run.ops)),
            "unit": "ratio"},
        "retained_mb": {"value": run.retained_mb, "unit": "MB"},
    }


def _per_op(run: RunFacts, tracer) -> list[dict]:
    """One dict of per-layer values for every traced op."""
    by_op: dict[int, list] = {}
    for s in tracer.spans:
        if s.op >= 0:
            by_op.setdefault(s.op, []).append(s)
    out = []
    for rec in run.ops:
        spans = by_op.get(rec.get("i", -2), [])
        if not rec["traced"] or not spans:
            continue
        v: dict[str, float] = {}

        def total(name: str) -> float:
            return sum(s.end - s.start for s in spans if s.name == name)

        def counts(name: str) -> list[dict]:
            return [tracer.totals(s) for s in spans if s.name == name]

        for metric, name in LAYER_TIMES.items():
            v[metric] = total(name)
        root = next(s for s in spans if s.name == "op")
        for k, x in tracer.totals(root).items():
            if k in SPARK:
                v[f"spark.{k}"] = x
        for layer in LAYERS:
            v[f"{layer}.self_s"] = sum(
                tracer.self_time(s) for s in spans if s.name.split(".")[0] == layer)
        v["flowbench.self_s"] = tracer.self_time(root)
        looks = counts("labelstore.layout.lookup")
        n = max(1, len(looks))
        v["labelstore.layout.lookup_s"] = total("labelstore.layout.lookup") / n
        v["labelstore.layout.lookup_jobs"] = sum(c["jobs"] for c in looks) / n
        v["labelstore.layout.lookup_bytes_read"] = sum(c["input_bytes"] for c in looks) / n
        v["labelstore.layout.lookup_files_read"] = (
            sum(rec.get("files_read", [0])) / max(1, len(rec.get("files_read", []))))
        writes = counts("labelstore.layout.write")
        v["labelstore.layout.write_bytes"] = rec.get("store_bytes", 0) if writes else 0
        v["labelstore.layout.files_written"] = rec.get("store_files", 0) if writes else 0
        v["labelstore.store_bytes"] = rec.get("store_bytes", 0)
        v["labelstore.rewrite_ratio"] = (
            sum(c["output_records"] for c in writes) / rec["touched"] if "touched" in rec else 0)
        parse = counts("sources.htmlparse.parse")
        v["sources.htmlparse.rows"] = sum(c["output_records"] for c in parse)
        v["sources.paged.pages"] = rec.get("pages", 0)
        v["sources.writers.bytes_written"] = rec.get("published_bytes", 0)
        v["functions.keep_ratio"] = (
            rec["docs_out"] / rec["records"] if "docs_out" in rec else 0)
        v["session.cached_bytes_after_op"] = 0  # filled from every op below
        v["_counts"] = (root.op, v["spark.jobs"], v["spark.stages"], v["spark.tasks"])
        out.append(v)
    return out


UNITS = {"rows_per_s": "rows/s", "_s": "s", "_bytes": "bytes", "bytes_read": "bytes", "bytes_written": "bytes",
         "_ratio": "ratio", "_byte": "ratio", "_jobs": "count", "_read": "count"}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(run: RunFacts, tracer) -> dict:
    rows = _per_op(run, tracer)
    out: dict[str, dict] = {}
    for k in rows[0] if rows else []:
        if not k.startswith("_"):
            out[k] = {"value": statistics.median(r[k] for r in rows), "unit": _unit(k)}
    out["session.build_s"] = {"value": run.session_s, "unit": "s"}
    out["session.cached_bytes_after_op"] = {
        "value": max(r["cached_bytes"] for r in run.ops), "unit": "bytes"}
    traced = [r["seconds"] for r in run.ops if r["traced"]]
    untraced = [r["seconds"] for r in run.ops if not r["traced"]] or traced
    out["trace.overhead_s"] = {
        "value": statistics.median(traced) - statistics.median(untraced), "unit": "s"}
    for k, v in wall([r for r in run.ops if not r["traced"]] or run.ops).items():
        out[f"flow.{k}"] = v
    return out


def op_counts(run: RunFacts, tracer) -> list:
    """(op, jobs, stages, tasks) of every traced op."""
    return [r["_counts"] for r in _per_op(run, tracer)]

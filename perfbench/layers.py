"""Per-layer metrics of a traced run, named by the program's modules.

Every workload prints every metric; a layer the workload does not run
reads 0. Per-call figures are means over the calls of the timed loop;
``build.*`` come from the workload's set-up build.
"""

from __future__ import annotations

import os
import statistics

from . import units
from .trace import JobStats, Span, self_times
from .workloads import Outcome, parquet_bytes

#: names and units of every per-layer metric come from BENCHMARK.json
PER_LAYER = list(units("per_layer"))
_BUILD = [n.split(".", 1)[1] for n in PER_LAYER if n.startswith("build.")]
#: layer spans recorded inside the timed loop (self time reported each)
LOOP_SPANS = [n.split(".", 1)[1] for n in PER_LAYER
              if n.startswith("self_s.")]


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _stage_s(m: dict, stage: str) -> float:
    return float(m["stages"].get(stage, {}).get("wall_s", 0.0))


def _build_metrics(spans: list[Span], js: dict[int, JobStats]
                   ) -> dict[str, float]:
    def per(span: Span) -> dict[str, float]:
        m = span.attrs.get("manifest") or {"stages": {}}
        st = js[span.id]
        d = span.attrs["index_dir"]
        buckets = (m["stages"].get("postings", {}).get("counters", {})
                   .get("per_bucket", {}))
        return {
            "docs_s": _stage_s(m, "docs"), "postings_s": _stage_s(m, "postings"),
            "term_stats_s": _stage_s(m, "term_stats"),
            "jobs": st.jobs, "stages": st.stages, "tasks": st.tasks,
            "executor_run_s": st.executor_run_s,
            "executor_cpu_s": st.executor_cpu_s, "jvm_gc_s": st.jvm_gc_s,
            "driver_s": span.wall - st.job_s, "input_bytes": st.input_bytes,
            "shuffle_write_bytes": st.shuffle_write_bytes,
            "shuffle_read_bytes": st.shuffle_read_bytes,
            "spill_bytes": st.spill_bytes,
            "docs_bytes": parquet_bytes(os.path.join(d, "docs")),
            "postings_bytes": parquet_bytes(os.path.join(d, "postings")),
            "term_stats_bytes": parquet_bytes(os.path.join(d, "term_stats")),
            "blocks": sum(b["blocks"] for b in buckets.values()),
            "vocab": (m["stages"].get("term_stats", {}).get("counters", {})
                      .get("vocab", 0)),
        }

    rows = [per(s) for s in spans]
    return {f"build.{n}": _mean(r[n] for r in rows) for n in _BUILD}


def layer_metrics(spans: list[Span], js: dict[int, JobStats],
                  outcome: Outcome) -> tuple[dict[str, float], dict]:
    """(per-layer metrics, details for the report line)."""
    out = {name: 0.0 for name in PER_LAYER}
    by_id = {s.id: s for s in spans}
    requests = [s for s in spans if s.name == "bench.request"]
    req_ids = {s.id for s in requests}

    def in_loop(s: Span) -> bool:
        while s.parent is not None:
            s = by_id[s.parent]
        return s.id in req_ids

    loop = [s for s in spans if in_loop(s)]
    named = {}
    for s in loop:
        named.setdefault(s.name, []).append(s)

    builds = [s for s in spans if s.name == "build.build_index"]
    if builds:
        out.update(_build_metrics(builds, js))

    rate = [s.attrs["turns_per_s"] for s in spans
            if s.name == "analyzer.analyze_batch"]
    out["analyzer.turns_per_s"] = _mean(rate)

    plans, execs = named.get("query.search", []), named.get("query.collect", [])
    if plans:
        both = plans + execs
        n = len(plans)
        out.update({
            "query.plan_s": _mean(s.wall for s in plans),
            "query.plan_jobs": _mean(js[s.id].jobs for s in plans),
            "query.exec_s": _mean(s.wall for s in execs),
            "query.exec_jobs": _mean(js[s.id].jobs for s in execs),
            "query.exec_stages": _mean(js[s.id].stages for s in execs),
            "query.exec_tasks": _mean(js[s.id].tasks for s in execs),
            "query.executor_run_s": _mean(js[s.id].executor_run_s for s in execs),
            "query.input_bytes": sum(js[s.id].input_bytes for s in both) / n,
            "query.input_rows": sum(js[s.id].input_rows for s in both) / n,
            "query.shuffle_bytes":
                sum(js[s.id].shuffle_write_bytes for s in both) / n,
        })

    # block-max pruning: payload rows read against the query terms' blocks,
    # over the requests that read postings payload at all
    read = total = pruned = queries = 0
    by_shape: dict[str, list[int]] = {}
    for r in requests:
        kids = [s for s in loop if s.parent == r.id]
        qs = [s for s in kids if "blocks" in s.attrs]
        if not qs:
            continue
        queries += 1
        rows = sum(js[s.id].block_rows_read for s in kids)
        hit = any(js[s.id].postings_meta_scans for s in kids)
        pruned += hit
        by_shape.setdefault(r.attrs.get("kind", "?"), []).append(hit)
        if rows:
            read += rows
            total += sum(s.attrs["blocks"] for s in qs)
    out["wand.block_read_ratio"] = read / total if total else 0.0
    out["wand.pruned_query_share"] = pruned / queries if queries else 0.0
    details = {"pruned_query_share_by_shape":
               {k: _mean(v) for k, v in sorted(by_shape.items())}}

    out["engine.warm_s"] = _mean(s.wall for s in spans
                                 if s.name == "engine.warm")
    out["query.parse_s"] = _mean(s.wall for s in named.get(
        "query.parse_query", []))
    out["correction.find_s"] = _mean(s.wall for s in named.get(
        "correction.find_best_correction", []))
    es = named.get("engine.search", [])
    if es:
        st = [js[s.id] for s in es]
        out.update({
            "engine.jobs_per_query": _mean(x.jobs for x in st),
            "engine.tasks_per_query": _mean(x.tasks for x in st),
            "engine.executor_run_s": _mean(x.executor_run_s for x in st),
            "engine.driver_s": _mean(s.wall - js[s.id].job_s for s in es),
            "engine.input_bytes": _mean(x.input_bytes for x in st),
            "engine.zero_scan_share": _mean(x.scan_files == 0 for x in st),
            "engine.zero_job_share": _mean(x.jobs == 0 for x in st),
        })
    persisted = [r.attrs["persisted"] for r in requests
                 if "persisted" in r.attrs]
    if persisted:
        out["cache.persisted_frames"] = max(p[0] for p in persisted)
        out["cache.persisted_bytes"] = max(p[1] for p in persisted)

    appends = named.get("streaming.append_segment", [])
    if appends:
        ms = [s.attrs.get("manifest") or {"stages": {}} for s in appends]
        out["streaming.append_docs_s"] = _mean(_stage_s(m, "docs") for m in ms)
        out["streaming.append_postings_s"] = _mean(
            _stage_s(m, "postings") for m in ms)
        out["streaming.append_jobs"] = _mean(js[s.id].jobs for s in appends)
    deletes = named.get("streaming.delete_docs", [])
    if deletes:
        out["streaming.delete_jobs"] = _mean(js[s.id].jobs for s in deletes)
        out["streaming.delete_bytes_written"] = _mean(
            js[s.id].output_bytes for s in deletes)
    merges = named.get("streaming.merge_segments", [])
    if merges:
        out["streaming.merge_bytes_read"] = _mean(
            js[s.id].input_bytes for s in merges)
        out["streaming.merge_bytes_written"] = _mean(
            js[s.id].output_bytes for s in merges)
    out["streaming.segments"] = outcome.report.get("segments_before_merge", 0)
    out["streaming.tombstones"] = outcome.report.get("tombstones", 0)
    out["streaming.first_search_s"] = _mean(
        s.wall for s in es if s.attrs.get("first_after_mutation"))

    own = self_times(spans)
    for name in LOOP_SPANS:
        out[f"self_s.{name}"] = sum(own[s.id] for s in named.get(name, []))
    wall = sum(r.wall for r in requests)
    layers = sum(own[s.id] for s in loop if s.name != "bench.request")
    out["trace.coverage"] = layers / wall if wall else 0.0
    out["trace.op_p50_s"] = statistics.median(outcome.op_s)
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise ValueError(f"per-layer metrics missing from BENCHMARK.json: "
                         f"{sorted(unknown)}")
    return {k: float(v) for k, v in out.items()}, details

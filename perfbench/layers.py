"""The per-layer table of a traced run.

Every value is the median over the run's timed rounds of that round's
figure.  A layer's figure sums the spans named in `LAYER_SPANS` (outermost
only), so a layer the workload does not exercise reads 0.  Scheduling
figures (`<span>.jobs`, ...) come from the Spark event log through the
spans' job groups; see README.md for which end-to-end metric each one
should move.
"""

from __future__ import annotations

import statistics

from spans import SpanStats, read_event_log

# layer -> span names whose (outermost) spans make up the layer
LAYER_SPANS = {
    "signatures": {"compute_signatures", "write_table:signatures",
                   "write_table:incoming_signatures"},
    "priors_bands": {"band_keys", "with_band_bucket", "band_sorted",
                     "write_table:priors_bands", "append_table:priors_bands"},
    "kernel": {"candidate_pairs_from_bands", "write_table:band_stats",
               "write_table:candidate_pairs", "minhash_lsh_pairs",
               "simhash:collect"},
    "verify": {"verify_pairs", "write_table:verified_pairs"},
    "components": {"connected_components", "write_table:assignments"},
    "topk": {"lsh_topk", "topk:collect"},
    "registry": {"build_cluster_members", "write_table:cluster_members",
                 "append_table:cluster_members", "write_table:clusters"},
    "link": {"link"},
    "link_scan_plan": {"scan_plan"},
    "merge": {"merge"},
    "initial": {"initial"},
    "increment": {"increment"},
    "minhash_dedup": {"minhash_dedup"},
    "simhash": {"simhash"},
}

# operation spans (and the two increment halves) that get scheduling figures
SCHED_SPANS = ["initial", "increment", "link", "merge", "minhash_dedup",
               "simhash", "topk"]
SCHED = ("jobs", "stages", "tasks", "failed_tasks", "driver_s")
OP_SPANS = ["initial", "increment", "minhash_dedup", "simhash", "topk"]

PER_LAYER = {  # name -> unit; every traced run reports all of them
    "session.start_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.round_s": "s",
    "trace.round_cpu_s": "s",
    "signatures.wall_s": "s",
    "signatures.task_s": "s",
    "priors_bands.wall_s": "s",
    "priors_bands.files": "count",
    "priors_bands.row_groups": "count",
    "priors_bands.bytes": "B",
    "kernel.wall_s": "s",
    "kernel.shuffle_write_bytes": "B",
    "kernel.spill_bytes": "B",
    "kernel.task_skew": "ratio",
    "kernel.pairs_out": "count",
    "kernel.degraded_bands": "count",
    "verify.wall_s": "s",
    "verify.match_ratio": "ratio",
    "components.wall_s": "s",
    "components.jobs": "count",
    "components.edges": "count",
    "topk.wall_s": "s",
    "topk.task_s": "s",
    "topk.shuffle_write_bytes": "B",
    "catalog.commits": "count",
    "catalog.commit_local_s": "s",
    "catalog.files_written": "count",
    "catalog.write_amp": "ratio",
    "registry.wall_s": "s",
    "link.wall_s": "s",
    "link.scan_plan_s": "s",
    "link.registry_bytes_read": "B",
    "link.registry_read_ratio": "ratio",
    "link.rg_read_ratio": "ratio",
    "link.candidates": "count",
    "link.review_held": "count",
    "merge.wall_s": "s",
    "initial.wall_s": "s",
    "increment.wall_s": "s",
    "minhash_dedup.wall_s": "s",
    "simhash.wall_s": "s",
    **{f"{s}.{k}": ("s" if k == "driver_s" else "count")
       for s in SCHED_SPANS for k in SCHED},
    **{f"{s}.span_coverage": "ratio" for s in OP_SPANS},
    **{f"{s}.self_s": "s" for s in OP_SPANS},
}


def _outermost(spans: list[dict], names: set[str]) -> list[dict]:
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] not in names:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] not in names:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tracer, log_dir: str, rounds: list, session_s: float,
              peak_rss_mb: float) -> dict:
    stats = SpanStats(tracer.spans, read_event_log(log_dir))
    per_round: list[dict] = []
    for r, ops in enumerate(rounds):
        spans = [s for s in tracer.spans if s["round"] == r]
        v: dict[str, float] = {}
        for layer, names in LAYER_SPANS.items():
            figs = [stats.of(s["id"]) for s in _outermost(spans, names)]
            v[f"{layer}.wall_s"] = sum(f["wall_s"] for f in figs)
            for k in ("task_s", "shuffle_write_bytes", "spill_bytes", "jobs"):
                v[f"{layer}.{k}"] = sum(f[k] for f in figs)
            v[f"{layer}.task_skew"] = max([f["task_skew"] for f in figs], default=0.0)
        for name in SCHED_SPANS:
            figs = [stats.of(s["id"]) for s in spans if s["name"] == name]
            for k in SCHED:
                v[f"{name}.{k}"] = sum(f[k] for f in figs)
        for name in OP_SPANS:
            ops_ = [(s["t1"] - s["t0"], stats.covered_s(s["id"]))
                    for s in spans if s["name"] == name]
            v[f"{name}.span_coverage"] = min(
                (c / w for w, c in ops_ if w > 0), default=0.0)
            v[f"{name}.self_s"] = sum(w - c for w, c in ops_)
        commits = [s for s in spans if s.get("kind") == "commit"]
        v["catalog.commits"] = len(commits)
        v["catalog.commit_local_s"] = sum(
            s["t1"] - s["t0"] for s in commits if s["local"])
        v["catalog.files_written"] = sum(s.get("files", 0) for s in commits)
        in_bytes = sum(op.extra.get("input_bytes", 0) for op in ops)
        v["catalog.write_amp"] = _ratio(
            sum(s.get("bytes", 0) for s in commits), in_bytes)

        extra = {k: val for op in ops for k, val in op.extra.items()}
        layout = extra.get("priors_bands") or {}
        for k in ("files", "row_groups", "bytes"):
            v[f"priors_bands.{k}"] = layout.get(k, 0)
        pairs = sum(op.extra.get("pairs", 0) for op in ops)
        v["kernel.pairs_out"] = extra.get("candidates", pairs)
        v["kernel.degraded_bands"] = extra.get("degraded_bands", 0)
        v["verify.match_ratio"] = _ratio(extra.get("matches", 0),
                                         extra.get("candidates", 0))
        mh = [op.extra.get("pairs", 0) for op in ops if op.name == "minhash_dedup"]
        v["components.edges"] = extra.get("matches", sum(mh))
        v["link.scan_plan_s"] = v["link_scan_plan.wall_s"]
        scan = extra.get("scan") or {}
        v["link.registry_bytes_read"] = scan.get("bytes_read", 0)
        v["link.registry_read_ratio"] = _ratio(scan.get("bytes_read", 0),
                                               scan.get("bytes_total", 0))
        v["link.rg_read_ratio"] = _ratio(scan.get("rgs_read", 0),
                                         scan.get("rgs_total", 0))
        v["link.candidates"] = extra.get("link_candidates", 0)
        v["link.review_held"] = extra.get("review_held", 0)
        v["trace.round_s"] = sum(op.seconds for op in ops)
        v["trace.round_cpu_s"] = sum(op.cpu_s for op in ops)
        per_round.append(v)

    run_wide = {"session.start_s": session_s, "process.peak_rss_mb": peak_rss_mb}
    return {
        name: {"value": run_wide[name] if name in run_wide
               else statistics.median(v[name] for v in per_round), "unit": unit}
        for name, unit in PER_LAYER.items()
    }

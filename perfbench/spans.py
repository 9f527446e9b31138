"""Span tracing for the traced (`--trace 1`) run.

Spans are recorded from the benchmark's own files only: `Tracer.install`
wraps the package's public entry points and the catalog's commit methods
at their module attributes (and at every alias another module imported).
Each span sets its own Spark job group, so the jobs, stages and tasks of
the Spark event log can be attributed to the innermost span that was open
when they were submitted.  Spans stay in memory until the run ends.

The untraced run uses `NullTracer`, which patches nothing and sets no job
group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import time

# package entry points wrapped in a traced run: (module, attribute, span)
ENTRY_POINTS = [
    ("customer_er_spark.plans.pipeline", "run_initial", "run_initial"),
    ("customer_er_spark.plans.incremental", "run_link", "link"),
    ("customer_er_spark.plans.incremental", "run_incremental_match", "merge"),
    ("customer_er_spark.operators.components", "connected_components",
     "connected_components"),
    ("customer_er_spark.operators.dedup", "minhash_lsh_pairs", "minhash_lsh_pairs"),
    ("customer_er_spark.operators.dedup", "dedup_clusters", "dedup_clusters"),
    ("customer_er_spark.operators.dedup", "simhash_pairs", "simhash_pairs"),
    ("customer_er_spark.operators.similarity", "lsh_topk", "lsh_topk"),
    # plan builders called between commits: driver-side planning and the
    # small eager jobs some of them run
    ("customer_er_spark.operators.signatures", "compute_signatures",
     "compute_signatures"),
    ("customer_er_spark.operators.candidates", "band_keys", "band_keys"),
    ("customer_er_spark.operators.candidates", "with_band_bucket", "with_band_bucket"),
    ("customer_er_spark.operators.candidates", "band_sorted", "band_sorted"),
    ("customer_er_spark.operators.candidates", "candidate_pairs_from_bands",
     "candidate_pairs_from_bands"),
    ("customer_er_spark.operators.candidates", "candidate_pairs", "candidate_pairs"),
    ("customer_er_spark.operators.verify", "verify_pairs", "verify_pairs"),
    ("customer_er_spark.plans.pipeline", "build_cluster_members",
     "build_cluster_members"),
    ("customer_er_spark.plans.incremental", "link_pairs", "link_pairs"),
    # the link's registry-scan planner (private: skipped if renamed)
    ("customer_er_spark.plans.incremental", "_incoming_band_keys", "scan_plan"),
    ("customer_er_spark.plans.incremental", "_pruned_priors_bands", "scan_plan"),
    ("customer_er_spark.plans.incremental", "_link_summary", "link_summary"),
]
COMMIT_METHODS = ("write_table", "append_table", "write_table_local")

# spans that only forward to other traced spans: left out of coverage
ENTRY_SPANS = {"run_initial", "link", "merge"}


class NullTracer:
    """Untraced runs: no patching, no job groups."""

    enabled = False
    round = -1

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def install(self) -> None:
        pass

    def wrap_method(self, obj, attr: str, span_name: str) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.round = -1  # set by the workload loop; -1 = set-up
        self.missing: list[str] = []  # entry points this version lacks

    def _set_group(self) -> None:
        gid = f"pb{self.stack[-1]}" if self.stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self.stack[-1] if self.stack else None,
            "name": name,
            "round": self.round,
            "t0": time.time(),
            "t1": None,
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self._set_group()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.stack.pop()
            self._set_group()

    # -- patching ----------------------------------------------------------
    def _spanned(self, orig, span_name: str):
        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.span(span_name):
                return orig(*a, **k)
        return wrapper

    def _commit_spanned(self, orig, meth: str):
        @functools.wraps(orig)
        def commit(cat, data, name, *a, **k):
            before = cat.table_meta(name) or {}
            with self.span(f"{meth}:{name}", kind="commit",
                           local=meth == "write_table_local") as rec:
                manifest = orig(cat, data, name, *a, **k)
            files = manifest.get("data_files") or []
            if meth == "append_table":
                files = files[len(before.get("data_files") or []):]
            rec["files"] = len(files)
            rec["bytes"] = sum(int(f.get("bytes", 0)) for f in files)
            return manifest
        return commit

    def wrap_method(self, obj, attr: str, span_name: str) -> None:
        """Span one benchmark-owned object's method (e.g. the input
        DataFrame's count(), which run_initial calls first)."""
        setattr(obj, attr, self._spanned(getattr(obj, attr), span_name))

    @staticmethod
    def _rebind(orig, wrapper) -> None:
        """Point the defining module's attribute, and every alias another
        package module imported by name, at `wrapper`."""
        for mod in list(sys.modules.values()):
            if not (getattr(mod, "__name__", None) or "").startswith(
                    "customer_er_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        import importlib

        from customer_er_spark.catalog import SparkCatalog

        for mod_name, attr, span_name in ENTRY_POINTS:
            orig = getattr(importlib.import_module(mod_name), attr, None)
            if orig is None:
                self.missing.append(f"{mod_name}.{attr}")
                continue
            self._rebind(orig, self._spanned(orig, span_name))
        for meth in COMMIT_METHODS:
            setattr(SparkCatalog, meth,
                    self._commit_spanned(getattr(SparkCatalog, meth), meth))
        read = SparkCatalog.read_table

        @functools.wraps(read)
        def read_table(cat, name, *a, **k):
            with self.span(f"read_table:{name}"):
                return read(cat, name, *a, **k)

        SparkCatalog.read_table = read_table


# -- Spark event log -------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs, stage ownership and finished tasks from a Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list] = {}
    ran_stages: set[int] = set()
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "t0": ev["Submission Time"] / 1000.0,
                        "t1": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    ran_stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    tasks.setdefault(ev["Stage ID"], []).append((
                        m.get("Executor Run Time", 0) / 1000.0,
                        (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        m.get("Disk Bytes Spilled", 0),
                        bool(info.get("Failed")),
                    ))
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks,
            "ran_stages": ran_stages}


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SpanStats:
    """Per-span scheduling and task figures, inclusive of child spans."""

    def __init__(self, spans: list[dict], log: dict):
        self.spans = spans
        self.children: dict[int, list[int]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs_of: dict[int, list[int]] = {}
        for jid, j in log["jobs"].items():
            g = j["group"] or ""
            if g.startswith("pb"):
                self.jobs_of.setdefault(int(g[2:]), []).append(jid)
        self.stages_of_job: dict[int, list[int]] = {}
        for sid, jid in log["stage_job"].items():
            if sid in log["ran_stages"]:
                self.stages_of_job.setdefault(jid, []).append(sid)
        self.log = log

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s, []))
        return out

    def of(self, sid: int) -> dict:
        span = self.spans[sid]
        wall = span["t1"] - span["t0"]
        jobs = [j for s in self.subtree(sid) for j in self.jobs_of.get(s, [])]
        stages = [st for j in jobs for st in self.stages_of_job.get(j, [])]
        tasks = [t for st in stages for t in self.log["tasks"].get(st, [])]
        ivs = []
        for j in jobs:
            job = self.log["jobs"][j]
            a = max(job["t0"], span["t0"])
            b = min(job["t1"] or span["t1"], span["t1"])
            if b > a:
                ivs.append((a, b))
        skew = 1.0
        if stages:
            heavy = max(stages, key=lambda st: sum(
                t[0] for t in self.log["tasks"].get(st, [])))
            times = [t[0] for t in self.log["tasks"].get(heavy, [])]
            med = statistics.median(times) if times else 0.0
            skew = max(times) / med if med > 0 else 1.0
        return {
            "wall_s": wall,
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "failed_tasks": sum(t[3] for t in tasks),
            "task_s": sum(t[0] for t in tasks),
            "shuffle_write_bytes": sum(t[1] for t in tasks),
            "spill_bytes": sum(t[2] for t in tasks),
            "task_skew": skew,
            "driver_s": max(0.0, wall - _union_len(ivs)),
        }

    def covered_s(self, sid: int) -> float:
        """Seconds of a span's wall time covered by the traced layer spans
        beneath it (entry-point forwarders excluded); the rest is its self
        time."""
        return _union_len([
            (self.spans[s]["t0"], self.spans[s]["t1"])
            for s in self.subtree(sid)
            if s != sid and self.spans[s]["name"] not in ENTRY_SPANS
        ])

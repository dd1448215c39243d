"""Metric names and units, and the per-layer metrics of a traced run.

``END_TO_END`` and ``PER_LAYER`` are the names the benchmark prints; they
must match BENCHMARK.json (tests/test_names.py checks it).

A layer's time is the self time of its spans (spans.py); its task
metrics come from the event-log groups of those spans (eventlog.py).
Per-job values are folded over the traced steady jobs by median.
"""

from __future__ import annotations

import statistics

from eventlog import GroupStats

MB = 1e6

END_TO_END = (
    ("setup_s", "s"),
    ("docs_per_s", "docs/s"),
    ("job_s_p50", "s"),
)

# stages classify_distributed materializes through a StageRunner
LINEAGE_STAGES = ("pass1", "dist_p3", "dist_flags", "dist_px",
                  "dist_windows", "dist_bands")

PER_LAYER = (
    ("session.start_s", "s"),
    ("sources.register_s", "s"),
    ("sources.gc_s", "s"),
    ("pipeline.pass1_s", "s"),
    ("pipeline.pass1_task_cpu_s", "s"),
    ("pipeline.thresholds_s", "s"),
    ("pipeline.classify_build_s", "s"),
    ("pipeline.classify_plan_s", "s"),
    ("pipeline.classify_exec_s", "s"),
    ("pipeline.classify_jobs", "count"),
    ("pipeline.classify_shuffle_mb", "MB"),
    ("pipeline.classify_spill_mb", "MB"),
    ("pipeline.gc_s", "s"),
    ("scene.python_s", "s"),
    ("scene.arrow_in_mb", "MB"),
    ("scene.arrow_out_mb", "MB"),
    ("scene.task_max_s", "s"),
    ("scene.task_p50_s", "s"),
    ("scene.cell_rows_max", "count"),
    ("scene.cell_rows_p50", "count"),
    ("scene.gc_s", "s"),
    ("sinks.write_s", "s"),
    ("sinks.bytes_mb", "MB"),
    ("sinks.gc_s", "s"),
    *((f"lineage.stage_s.{s}", "s") for s in LINEAGE_STAGES),
    ("lineage.bytes_mb", "MB"),
    ("lineage.partition_rows_max", "count"),
    ("lineage.gc_s", "s"),
    ("scene_dist.exec_s", "s"),
    ("scene_dist.jobs", "count"),
    ("scene_dist.shuffle_mb", "MB"),
    ("scene_dist.task_max_s", "s"),
    ("scene_dist.gc_s", "s"),
    ("dedup.clusters_s", "s"),
    ("dedup.pairs", "count"),
    ("dedup.bucket_max", "count"),
    ("dedup.gc_s", "s"),
    ("curation.curate_s", "s"),
    ("curation.gc_s", "s"),
    ("similarity.bruteforce_s", "s"),
    ("similarity.ivf_s", "s"),
    ("similarity.ivf_recall", "ratio"),
    ("similarity.gc_s", "s"),
    ("memory.peak_rss_mb", "MB"),
    ("trace.first_job_s", "s"),
    ("trace.job_s_p50", "s"),
    ("trace.overhead_ratio", "ratio"),
    ("trace.coverage", "ratio"),
)


def _fold(tr, groups, ids):
    """(self time by span name, merged GroupStats by span name)."""
    self_t: dict[str, float] = {}
    stats: dict[str, GroupStats] = {}
    for sid in ids:
        name = tr.spans[sid]["name"]
        self_t[name] = self_t.get(name, 0.0) + tr.self_time(sid)
        g = groups.get(tr.group(sid))
        if g is not None:
            stats.setdefault(name, GroupStats()).add(g)
    return self_t, stats


def _merged(stats, prefix: str) -> GroupStats:
    out = GroupStats()
    for name, g in stats.items():
        if name.startswith(prefix + "."):
            out.add(g)
    return out


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def job_metrics(tr, groups, root: int) -> dict[str, float]:
    """Per-layer metrics of one traced job (span ``root``)."""
    self_t, stats = _fold(tr, groups, [root, *tr.descendants(root)])
    ex = stats.get("pipeline.classify_exec", GroupStats())
    pipe = _merged(stats, "pipeline")
    sink = stats.get("sinks.write", GroupStats())
    m = {
        "pipeline.pass1_s": self_t.get("pipeline.pass1", 0.0),
        "pipeline.pass1_task_cpu_s":
            stats.get("pipeline.pass1", GroupStats()).cpu_ns / 1e9,
        "pipeline.thresholds_s": self_t.get("pipeline.thresholds", 0.0),
        "pipeline.classify_build_s":
            self_t.get("pipeline.classify_build", 0.0),
        "pipeline.classify_plan_s": self_t.get("pipeline.classify_plan", 0.0),
        "pipeline.classify_exec_s": self_t.get("pipeline.classify_exec", 0.0),
        "pipeline.classify_jobs": pipe.jobs,
        "pipeline.classify_shuffle_mb": ex.shuffle_write_b / MB,
        "pipeline.classify_spill_mb": pipe.spill_disk_b / MB,
        "pipeline.gc_s": pipe.gc_ms / 1e3,
        "scene.python_s": ex.py_run_ms / 1e3,
        "scene.arrow_in_mb": ex.py_sent_b / MB,
        "scene.arrow_out_mb": ex.py_returned_b / MB,
        "scene.task_max_s": max(ex.py_task_ms, default=0) / 1e3,
        "scene.task_p50_s": _p50(ex.py_task_ms) / 1e3,
        "scene.gc_s": ex.py_gc_ms / 1e3,
        "sinks.write_s": self_t.get("sinks.write", 0.0),
        "sinks.bytes_mb": sink.output_b / MB,
        "sinks.gc_s": sink.gc_ms / 1e3,
        "dedup.clusters_s": self_t.get("dedup.clusters", 0.0),
        "curation.curate_s": self_t.get("curation.curate", 0.0),
        "similarity.bruteforce_s": self_t.get("similarity.bruteforce", 0.0),
        "similarity.ivf_s": self_t.get("similarity.ivf", 0.0),
        "trace.coverage": 1.0 - self_t.get("job", 0.0) / tr.wall(root),
    }
    for layer in ("dedup", "curation", "similarity"):
        m[f"{layer}.gc_s"] = _merged(stats, layer).gc_ms / 1e3
    return m


def setup_metrics(tr, groups) -> dict[str, float]:
    """session / sources layer times from the set-up spans."""
    m = {}
    for sid, s in enumerate(tr.spans):
        if s["parent"] is not None:
            continue
        if s["name"] == "session.start":
            m.setdefault("session.start_s", tr.wall(sid))
        elif s["name"] == "sources.register" \
                and "sources.register_s" not in m:
            m["sources.register_s"] = tr.wall(sid)
            g = groups.get(tr.group(sid), GroupStats())
            m["sources.gc_s"] = g.gc_ms / 1e3
    return m


def distributed_metrics(tr, groups, root: int, lineage, lineage_bytes
                        ) -> dict[str, float]:
    """scene_dist / lineage metrics of the traced distributed job."""
    ids = [root, *tr.descendants(root)]
    _self_t, stats = _fold(tr, groups, ids)
    allg = GroupStats()
    for g in stats.values():
        allg.add(g)
    m = {
        "scene_dist.exec_s": tr.wall(root),
        "scene_dist.jobs": allg.jobs,
        "scene_dist.shuffle_mb": allg.shuffle_write_b / MB,
        "scene_dist.task_max_s": max(allg.task_ms, default=0) / 1e3,
        "scene_dist.gc_s": allg.gc_ms / 1e3,
        "lineage.bytes_mb": lineage_bytes / MB,
        "lineage.partition_rows_max":
            int(lineage["max_partition_rows"].max()),
        "lineage.gc_s": _merged(stats, "lineage").gc_ms / 1e3,
    }
    walls = lineage.groupby("stage")["wall_ms"].sum()
    for s in LINEAGE_STAGES:
        m[f"lineage.stage_s.{s}"] = float(walls.get(s, 0)) / 1e3
    return m


def assemble(parts: list[dict[str, float]], job_parts: list[dict]
             ) -> dict[str, float]:
    """Median over traced jobs of each per-job metric, overlaid with the
    run-level ``parts``; every PER_LAYER name is present (0 when the
    workload does not reach that layer)."""
    out = {name: 0.0 for name, _unit in PER_LAYER}
    for key in (job_parts[0] if job_parts else {}):
        out[key] = _p50([j[key] for j in job_parts])
    for p in parts:
        out.update(p)
    return out

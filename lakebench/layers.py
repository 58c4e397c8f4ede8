"""Per-layer metrics of the traced run, shared by all workloads.

:func:`install` wraps the engine's public entry points of each layer so
their calls become spans; :func:`common` turns spans, the Spark event log
and the table commit logs into the layer metrics every workload reports.
Workload modules add the metrics only they can measure.
"""

from __future__ import annotations

import json
import os
import statistics
from pathlib import Path

from spans import jobs_in


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0


def install(run) -> None:
    """Wrap each layer's public calls, from this process, for the run."""
    from dataengineeringworkshop_spark import sqldml
    from dataengineeringworkshop_spark.pipeline import dlt_sql
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline
    from dataengineeringworkshop_spark.sources import batch
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    t = run.tracer

    def count_files(span, _out, args, kwargs):
        # files a predicated read scans vs the snapshot's full file list
        vt, version = args[0], kwargs.get("version", args[1] if len(args) > 1 else None)
        where = kwargs.get("where", args[2] if len(args) > 2 else None)
        if where:
            span["files_scanned"] = len(vt.scan_files(version, where))
            span["files_total"] = len(vt.scan_files(version))

    t.wrap(sqldml, "execute", "sqldml.execute")
    t.wrap(dlt_sql, "pipeline_from_sql", "pipeline.parse")
    t.wrap(Pipeline, "run", "pipeline.run")
    t.wrap(batch, "read_csv", "sources.read")
    t.wrap(batch, "read_json", "sources.read")
    t.wrap(VersionedTable, "read", "tables.read", after=count_files)
    for method in ("write", "merge", "delete", "optimize"):
        t.wrap(VersionedTable, method, f"tables.{method}")


def in_unit(spans: list[dict], unit: dict) -> list[dict]:
    return [s for s in spans if unit["start"] <= s["start"] <= unit["end"]]


def _commits(run_dir: Path) -> list[tuple[Path, dict]]:
    out = []
    for log in run_dir.rglob("_dew_log"):
        for f in sorted(log.glob("*.json")):
            out.append((log.parent, json.loads(f.read_text())))
    return out


def _live_and_stored(run) -> tuple[int, int]:
    """Bytes in the latest snapshot of every versioned table the run
    created, and bytes of data files under those tables' directories."""
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    live = stored = 0
    for table_dir in {d for d, _ in _commits(run.dir)}:
        vt = VersionedTable(None, str(table_dir))
        live += sum(os.path.getsize(p) for p in vt.scan_files())
        stored += sum(
            p.stat().st_size for p in table_dir.rglob("*")
            if p.is_file() and "_dew_log" not in p.parts
        )
    return live, stored


def common(run, jobs: list[dict]) -> dict:
    t = run.tracer
    units = [u for u in run.units if u["traced"]]
    m: dict[str, float] = {}

    def per_unit(fn):
        return _median(fn(u) for u in units)

    def first(name):
        spans = t.named(name)
        return spans[0]["dur"] if spans else 0

    m["session.get_spark_s"] = first("session.get_spark")
    m["plans.registry_load_s"] = first("plans.registry_load")

    unit_jobs = lambda u: [j for j in jobs if u["start"] - 0.001 <= j["submit"] <= u["end"]]  # noqa: E731
    m["plans.build_s"] = per_unit(lambda u: sum(s["dur"] for s in in_unit(t.named("plans.build"), u)))
    m["plans.build_jobs"] = per_unit(lambda u: len(jobs_in(jobs, in_unit(t.named("plans.build"), u))))
    m["spark.action_s"] = per_unit(lambda u: sum(s["dur"] for s in in_unit(t.named("spark.action"), u)))
    m["spark.jobs"] = per_unit(lambda u: len(unit_jobs(u)))
    m["spark.tasks"] = per_unit(lambda u: sum(j["tasks"] for j in unit_jobs(u)))
    m["spark.scan_bytes"] = per_unit(lambda u: sum(j["scan_bytes"] for j in unit_jobs(u)))
    m["spark.shuffle_bytes"] = per_unit(lambda u: sum(j["shuffle_bytes"] for j in unit_jobs(u)))

    # spans exist only for traced calls; keep those of the warm units
    runs = [s for u in run.units for s in in_unit(t.named("pipeline.run"), u)]
    m["pipeline.parse_s"] = sum(s["dur"] for s in t.named("pipeline.parse"))
    m["pipeline.run_s"] = _median(s["dur"] for s in runs)
    m["pipeline.jobs"] = _median(len(jobs_in(jobs, [s])) for s in runs)
    # batch dimension reads of the cold unit (a workload's refresh)
    m["sources.read_s"] = sum(
        s["dur"] for s in t.named("sources.read")
        if not any(u["start"] <= s["start"] <= u["end"] for u in run.units))
    m["sqldml.self_s"] = _median(t.self_time(s, "tables.") for s in t.named("sqldml.execute"))

    merges = t.top_level("tables.merge", "tables.")
    m["tables.merge_s"] = _median(s["dur"] for s in merges)
    m["tables.merge_jobs"] = _median(len(jobs_in(jobs, [s])) for s in merges)
    for op in ("write", "optimize", "read"):
        m[f"tables.{op}_s"] = _median(s["dur"] for s in t.top_level(f"tables.{op}", "tables."))
    reads = [s for s in t.top_level("tables.read", "tables.") if "files_total" in s]
    scanned = sum(s["files_scanned"] for s in reads)
    total = sum(s["files_total"] for s in reads)
    m["tables.files_scanned"] = scanned
    m["tables.files_skipped"] = total - scanned
    m["tables.skip_ratio"] = (total - scanned) / total if total else 0

    # commit-log accounting over the warm units (traced or not), per unit
    warm = run.units
    warm_commits = [
        c for _, c in _commits(run.dir)
        if any(u["start"] <= c["timestamp_ms"] / 1000 <= u["end"] + 0.001 for u in warm)
    ]
    for key in ("files_rewritten", "files_carried", "bytes_rewritten", "bytes_added"):
        m[f"tables.{key}"] = sum(c["metrics"].get(key, 0) for c in warm_commits) / len(warm)
    m["tables.commits"] = len(warm_commits) / len(warm)
    landed = sum(u.get("landed_bytes", 0) for u in warm)
    m["tables.write_amp"] = (
        sum(c["metrics"].get("bytes_added", 0) for c in warm_commits) / landed if landed else 0
    )
    live, stored = _live_and_stored(run)
    m["tables.live_bytes"] = live
    m["tables.stored_bytes"] = stored
    m["tables.space_amp"] = stored / live if live else 0

    ops = lambda u: in_unit([s for s in t.spans if s["name"].startswith("op.")], u)  # noqa: E731
    m["run.unaccounted_s"] = per_unit(lambda u: (u["end"] - u["start"]) - sum(s["dur"] for s in ops(u)))
    return m

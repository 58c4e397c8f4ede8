#!/usr/bin/env python3
"""The repo benchmark: single-client, closed-loop lakehouse workloads.

    python3 lakebench/run.py --workload gold_queries --seed 1 --seconds 5 --trace 0

Run from the repository root.  One generator process drives the engine
through its public API only; Spark runs at ``local[<cpus>]``.  Each run is
a fresh process, so every in-process engine cache starts cold.

- ``gold_queries``: the 23 headline registry queries, one cold pass then
  warm passes (see ``gold_queries.py``).
- ``dlt_medallion``: a DLT SQL medallion pipeline over landed workshop
  files, one full refresh then one trigger per newly landed month, with
  MERGE / DELETE change batches, point lookups and time travel on the
  users dimension (see ``dlt_medallion.py``).

Prints each metric by name with its unit, then, as the last stdout line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end list of ``BENCHMARK.json``;
with ``--trace 1`` the per-layer list, from a traced run (spans around
the engine's public calls, Spark event log on).  Metrics a workload does
not exercise are reported as 0.

End-to-end metrics:

============  =================================  ============================
metric        gold_queries                       dlt_medallion
============  =================================  ============================
setup_s       process start → ``get_spark``, registry and ``Lakehouse`` ready
peak_rss_mb   peak RSS of this Python process plus its JVM
cold_s        first pass over the 23 queries     dimension load + full refresh
warm_s        one warm pass (median)             one trigger (median)
op_p50_s      one query call: ``fn()`` + action  one client call: MERGE,
op_tail_s                                        DELETE, pipeline run, gold
                                                 read, point lookup, OPTIMIZE
============  =================================  ============================

``op_tail_s`` is the highest percentile with at least ten samples above
it (the maximum when there are ten or fewer); the sample count is printed
next to it.  Inputs come from ``--seed`` (see ``datagen.py``) and every
output is checked against a model outside the timed region; a wrong
result counts as a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from importlib import import_module
from pathlib import Path

import layers
from spans import Tracer, read_event_log

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("gold_queries", "dlt_medallion")
# driver JVM heap, fixed at start (-Xms = -Xmx): a heap that grows on
# demand makes peak RSS depend on when the JVM happened to expand it
DRIVER_MEM = "2g"


def _proc_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class Stopwatch:
    """Wall time with the CPU time the host withheld taken out.

    On a shared host this machine's vCPUs lose time to steal, and a
    stalled vCPU stretches whatever runs on it.  Over an interval the
    busy CPUs got busy / (busy + steal) of the time they asked for, so the
    interval would have taken ``wall * busy / (busy + steal)`` on an
    unshared machine.  :meth:`read` returns that and the raw wall time."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.busy0, self.steal0 = _cpu_ticks()

    def read(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t0
        busy, steal = _cpu_ticks()
        busy, steal = busy - self.busy0, steal - self.steal0
        return (wall * busy / (busy + steal) if busy + steal else wall), wall


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024


def tail(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it, or the maximum when n <= 10."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 10 if n > 10 else n
    return xs[k - 1], round(100 * k / n), n


class Run:
    """State of one benchmark run; workloads record into it."""

    def __init__(self, args, run_dir: Path):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.scale = args.scale
        self.dir = run_dir
        self.tracer = Tracer()
        self.ops: list[dict] = []  # every operation attempted
        self.units: list[dict] = []  # warm units: {"s", "start", "end", "traced", "landed_bytes"}
        self.failures: dict[int, str] = {}  # op index -> reason
        self.cold_s: float | None = None
        self.walls: dict[str, float] = {}  # raw wall time of setup and cold unit
        self.event_log = run_dir / "eventlog"

    # ------------------------------------------------------------ setup

    def setup(self, proc_start: float, main_start: float, sw: Stopwatch) -> None:
        with self.tracer.span("session.get_spark") as s0:
            from dataengineeringworkshop_spark.session import get_spark

            self.spark = get_spark(app_name="lakebench")
        if self.trace:
            self.tracer.sc = self.spark.sparkContext
        with self.tracer.span("plans.registry_load"):
            from dataengineeringworkshop_spark.plans.registry import load_all

            self.registry = load_all()
        from dataengineeringworkshop_spark.engine import Lakehouse

        self.lh = Lakehouse(str(self.dir / "lake"), spark=self.spark)
        adjusted, wall = sw.read()
        # interpreter start until main() ran, then the steal-adjusted rest
        self.setup_s = main_start - proc_start + adjusted
        self.walls["setup_s"] = main_start - proc_start + wall
        if self.trace:
            layers.install(self)
        if s0 is not None:
            # the span opened after the interpreter had started and pyspark
            # was not yet imported: count import time into get_spark too
            s0["dur"] += s0["start"] - proc_start
            s0["start"] = proc_start

    # --------------------------------------------------------- recording

    @contextmanager
    def op(self, name: str, warm: bool = True):
        """Time one client call; an exception marks it failed (and is
        re-raised, so the workload can stop the unit it was part of)."""
        rec = {"name": name, "warm": warm, "traced": self.tracer.enabled, "id": len(self.ops)}
        self.ops.append(rec)
        sw = Stopwatch()
        try:
            with self.tracer.span(f"op.{name}"):
                yield rec
        except Exception as ex:  # noqa: BLE001 - recorded as a failed operation
            self.fail(rec["id"], f"{name}: {type(ex).__name__}: {ex}")
            raise
        finally:
            rec["s"], rec["wall"] = sw.read()

    @contextmanager
    def cold(self):
        """Time the workload's cold unit (into ``cold_s``)."""
        sw = Stopwatch()
        yield
        self.cold_s, self.walls["cold_s"] = sw.read()

    def fail(self, op_id: int, reason: str) -> None:
        self.failures.setdefault(op_id, reason[:500])

    def warm_loop(self, unit, prepare=None, trace_calls: bool = False) -> None:
        """Time ``unit(prepare(i))`` — ``unit(i)`` without ``prepare`` —
        until ``seconds`` have passed; ``prepare`` makes the unit's
        inputs outside the timed region, ``unit`` returns the bytes the
        client landed.  In a traced run the units alternate untraced,
        traced, untraced, …; each traced unit against the untraced ones
        on either side gives the tracing overhead.  With ``trace_calls``
        the workload switches tracing per call instead, over at least
        two units."""
        need = (2 if trace_calls else 3) if self.trace else 1
        deadline = time.perf_counter() + self.seconds
        i = 0
        while i < need or time.perf_counter() < deadline:
            arg = prepare(i) if prepare else i
            traced = self.trace and not trace_calls and i % 2 == 1
            self.tracer.enabled = traced
            rec = {"traced": traced, "start": time.time()}
            sw = Stopwatch()
            try:
                rec["landed_bytes"] = unit(arg) or 0
            except Exception:  # noqa: BLE001 - the failing op is already recorded
                pass
            rec["s"], rec["wall"] = sw.read()
            rec["end"] = rec["start"] + rec["wall"]
            self.units.append(rec)
            i += 1
        self.tracer.enabled = self.trace

    # ------------------------------------------------------------ result

    def end_to_end(self, peak_rss_mb: float) -> tuple[dict, list[str]]:
        warm_ops = [o["s"] for o in self.ops if o["warm"] and not o["traced"]]
        units = [u["s"] for u in self.units if not u["traced"]]
        t, pct, n = tail(warm_ops)
        values = {
            "setup_s": self.setup_s,
            "peak_rss_mb": peak_rss_mb,
            "cold_s": self.cold_s,
            "warm_s": statistics.median(units),
            "op_p50_s": statistics.median(warm_ops),
            "op_tail_s": t,
        }
        walls = dict(self.walls, warm_s=statistics.median(
            u["wall"] for u in self.units if not u["traced"]))
        notes = [
            f"op_tail_s is p{pct} of {n} operation samples; warm_s is the median of {len(units)} units",
            "raw wall (steal not taken out): " + ", ".join(f"{k} {v:.3f} s" for k, v in walls.items()),
        ]
        return values, notes


def _pin_environment(run_dir: Path, trace: bool) -> int:
    """Run-scoped environment: cores, memory, and every scratch path
    (TMPDIR, Spark local dirs, JVM temp, warehouse via the cwd) under
    ``run_dir``, which is removed when the run ends."""
    import tempfile

    cpus = len(os.sched_getaffinity(0))
    tmp, local = run_dir / "tmp", run_dir / "local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    tempfile.tempdir = None
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"]
    if trace:
        (run_dir / "eventlog").mkdir()
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false",
                   "--conf", f"spark.eventLog.dir=file://{run_dir}/eventlog"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    os.chdir(run_dir)
    return cpus


def _stop_spark() -> None:
    """Stop the session and the JVM it runs in; wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - JVM did not exit on stdin close
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    proc_start, main_start, sw = _proc_start_epoch(), time.time(), Stopwatch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input size relative to the default; the self-check runs at 0.1
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "dataengineeringworkshop_spark" / "__init__.py").is_file() or not spec_path.is_file():
        print(f"lakebench: no engine package or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    run_dir = ROOT / ".lakebench" / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    cpus = _pin_environment(run_dir, bool(args.trace))
    run = Run(args, run_dir)
    steal0, wall0 = _cpu_ticks()[1], time.time()
    try:
        try:
            run.tracer.enabled = run.trace
            run.setup(proc_start, main_start, sw)
            workload = import_module(args.workload)
            workload.run(run)
            from pyspark import SparkContext

            peak_rss = _hwm_mb("self") + _hwm_mb(SparkContext._gateway.proc.pid)
        finally:
            run.tracer.enabled = False
            run.tracer.unwrap_all()
            _stop_spark()
        steal = (_cpu_ticks()[1] - steal0) / os.sysconf("SC_CLK_TCK") / (time.time() - wall0)
        if args.trace:
            values = workload.layer_metrics(run, read_event_log(str(run.event_log)))
            values.update({"run.cpus": cpus, "run.steal_cores": steal})
            if "trace.overhead_ratio" not in values:  # workloads tracing whole units
                values["trace.overhead_ratio"] = _overhead(run)
            notes = []
        else:
            values, notes = run.end_to_end(peak_rss)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass  # another run's directory is still there

    metrics = {}
    print(f"lakebench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cpus={cpus} steal_cores={steal:.3f}")
    for m in listed:
        v = values.get(m["name"], 0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"  {m['name']:<34} {v:>14.6g} {m['unit']}")
    for line in notes:
        print(f"  ({line})")
    for op_id, reason in sorted(run.failures.items()):
        print(f"  FAILED op {op_id}: {reason}")
    print(json.dumps({
        "correct": not run.failures,
        "attempted": len(run.ops),
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


def _overhead(run: Run) -> float:
    """Median over traced units of (traced - untraced) / untraced, the
    untraced time being the mean of the untraced units on either side
    (so units still speeding up or slowing down bias neither way)."""
    u = [x["s"] for x in run.units]
    ratios = [
        u[i] / ((u[i - 1] + u[i + 1]) / 2) - 1
        for i in range(1, len(u) - 1) if run.units[i]["traced"]
    ]
    return statistics.median(ratios)


if __name__ == "__main__":
    sys.exit(main())

"""gold_queries: the 23 headline (``bench=True``) registry queries.

One cold pass in the fresh process (artifact builds, JIT), then warm
passes until the run's time is up.  Each operation is one query call:
``fn(spark, sf)`` — the plan build, which includes any eager work the
query does — followed by ``toPandas()``.  Read-only and bound by driver
overhead: ``plans``, ``operators``, ``llmops`` and per-job scheduling do
most of the work; ``tables`` commits almost nothing.

Checks, after the timed passes: the 21 oracle-paired results of every
pass against their DuckDB oracle with ``tests/oracle_compare.compare``,
and the two ANN queries' recall against an exact numpy top-10 (floor
0.5, as in the engine's own tests).
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow.parquet as pq

import datagen
import layers
from spans import jobs_in

ANN = {"ann_lsh_topk": "llmops.recall_ann_lsh", "ann_ivf_topk": "llmops.recall_ann_ivf"}
RECALL_FLOOR = 0.5


class _Collected:
    """A query result already collected in the timed region, handed to
    ``oracle_compare.compare`` in place of the DataFrame."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class _OracleResult:
    """DuckDB oracle output computed once and served to every compare."""

    def __init__(self, df):
        self.df = df

    def execute(self, _sql):
        return self

    def fetchdf(self):
        return self.df


def _artifacts(tmp: str) -> set[str]:
    return {d for d in os.listdir(tmp) if d.startswith("dew_mat_")}


def run(run) -> None:
    sf = datagen.write_tpch(str(run.dir / "sf"), run.seed, run.scale)
    specs = sorted((n, s) for n, s in run.registry.items() if s.bench)
    tmp = os.environ["TMPDIR"]
    run.results = []  # (op id, query, pass, collected frame)
    run.passes = []  # {"pass", "artifacts_built"}

    def one_pass(p: int, warm: bool) -> None:
        before = _artifacts(tmp)
        for k, (name, spec) in enumerate(specs):
            if run.trace and warm:
                # a traced run traces every other call, the other half in
                # the next pass: one traced and one untraced warm call per
                # query in two passes, each pass half traced
                run.tracer.enabled = (k + p) % 2 == 1
            run.tracer.set_request(f"{name}#{p}")
            try:
                with run.op(name, warm=warm) as rec:
                    with run.tracer.span("plans.build"):
                        df = spec.fn(run.spark, sf)
                    with run.tracer.span("spark.action"):
                        pdf = df.toPandas()
                run.results.append((rec["id"], name, p, pdf))
            except Exception:  # noqa: BLE001 - recorded by run.op; next query
                pass
        run.passes.append({"pass": p, "artifacts_built": len(_artifacts(tmp) - before)})

    with run.cold():
        one_pass(0, warm=False)
    run.warm_loop(lambda i: one_pass(i + 1, warm=True), trace_calls=True)
    _check(run, sf, dict(specs))


def _exact_topk(emb_path: str, query_ids, k: int = 10) -> set[tuple[int, int]]:
    t = pq.read_table(emb_path)
    ids = t.column("vec_id").to_numpy()
    x = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    row = {int(v): i for i, v in enumerate(ids)}
    out = set()
    for q in query_ids:
        sims = np.round(x @ x[row[q]], 6)
        sims[row[q]] = -np.inf
        for i in np.lexsort((ids, -sims))[:k]:
            out.add((int(q), int(ids[i])))
    return out


def _check(run, sf: str, specs: dict) -> None:
    import oracle_compare

    con = oracle_compare.duck_connection(sf)
    oracles = {n: _OracleResult(con.execute(s.oracle).fetchdf()) for n, s in specs.items() if s.oracle}

    def verdict(name: str, pdf) -> tuple[str, float | None]:
        """(problem, recall): problem is empty when the result is right."""
        if name in ANN:
            queries = sorted(set(pdf["query_id"].tolist()))
            exact = _exact_topk(f"{sf}/embeddings.parquet", queries)
            got = set(zip(pdf["query_id"].tolist(), pdf["neighbor_id"].tolist()))
            recall = len(exact & got) / len(exact) if exact else 0.0
            ok = recall >= RECALL_FLOOR and len(queries) == 32
            return ("" if ok else f"{name}: recall {recall:.3f} over {len(queries)} queries"), recall
        if name in oracles:
            return "; ".join(
                oracle_compare.compare(_Collected(pdf), oracles[name], specs[name].oracle, name)), None
        return f"{name}: no oracle and no recall check", None

    run.recall = {}
    last: dict[str, tuple] = {}  # query -> (frame, verdict) of its latest distinct result
    for op_id, name, _p, pdf in run.results:
        if name in last and pdf.equals(last[name][0]):
            problem, recall = last[name][1]  # same frame as an earlier pass
        else:
            problem, recall = verdict(name, pdf)
            last[name] = (pdf, (problem, recall))
        if recall is not None:
            run.recall.setdefault(name, []).append(recall)
        if problem:
            run.fail(op_id, problem)


def layer_metrics(run, jobs: list[dict]) -> dict:
    """Per-layer metrics of one warm pass, assembled from each query's
    traced warm call (the traced run traces half of each pass)."""
    m = layers.common(run, jobs)
    t = run.tracer
    calls = [s for s in t.spans if s["name"].startswith("op.") and not s["request"].endswith("#0")]
    by_query: dict[str, list[dict]] = {}
    for c in calls:
        by_query.setdefault(c["name"][3:], []).append(c)

    def inside(name: str, c: dict) -> float:
        return sum(s["dur"] for s in t.named(name, within=c))

    def group_jobs(c: dict) -> list[dict]:
        return [j for j in jobs if j["group"] == c["request"]]

    for name, cs in by_query.items():
        m[f"plans.build_s.{name}"] = statistics.median(inside("plans.build", c) for c in cs)
        m[f"spark.action_s.{name}"] = statistics.median(inside("spark.action", c) for c in cs)
        m[f"spark.jobs.{name}"] = statistics.median(len(group_jobs(c)) for c in cs)
    one = [cs[0] for cs in by_query.values()]  # one traced call per query: a pass
    m["plans.build_s"] = sum(inside("plans.build", c) for c in one)
    m["plans.build_jobs"] = sum(
        len(jobs_in(jobs, t.named("plans.build", within=c))) for c in one)
    m["spark.action_s"] = sum(inside("spark.action", c) for c in one)
    pass_jobs = [j for c in one for j in group_jobs(c)]
    m["spark.jobs"] = len(pass_jobs)
    m["spark.tasks"] = sum(j["tasks"] for j in pass_jobs)
    m["spark.scan_bytes"] = sum(j["scan_bytes"] for j in pass_jobs)
    m["spark.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in pass_jobs)
    # a query call is plan build + action + driver time neither accounts for
    m["run.unaccounted_s"] = sum(
        c["dur"] - inside("plans.build", c) - inside("spark.action", c) for c in one)
    m["plans.cold_build_s"] = sum(s["dur"] for s in t.named("plans.build") if s["request"].endswith("#0"))
    m["operators.artifacts_built"] = statistics.median(p["artifacts_built"] for p in run.passes[1:])
    tmp = os.environ["TMPDIR"]
    m["operators.artifact_bytes"] = sum(
        os.path.getsize(os.path.join(dp, f))
        for d in _artifacts(tmp) for dp, _, fs in os.walk(os.path.join(tmp, d)) for f in fs)
    for q, key in ANN.items():
        m[key] = statistics.median(run.recall.get(q, [0.0]))
    # traced vs untraced warm call of each query
    warm = [o for o in run.ops if o["warm"]]
    ratios = []
    for name in by_query:
        traced = [o["s"] for o in warm if o["name"] == name and o["traced"]]
        plain = [o["s"] for o in warm if o["name"] == name and not o["traced"]]
        if traced and plain:
            ratios.append(statistics.median(traced) / statistics.median(plain) - 1)
    m["trace.overhead_ratio"] = statistics.median(ratios)
    return m

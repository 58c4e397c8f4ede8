"""dlt_medallion: a DLT SQL medallion pipeline over landed workshop files.

The client lands stores/users CSV and products JSON (read through the
batch sources into versioned dimension tables, users Z-ordered by id)
and the first months of sales JSON, applies a first users change batch
and runs the notebook below once: the cold unit.  Each warm unit is one
trigger:

1. the users dimension takes a change batch through ``Lakehouse.sql``:
   ``MERGE INTO … USING`` (renames and new users) and ``DELETE``
   (removed users), all among the most recent tenth of user ids;
2. the next month's sales file has been landed; the pipeline runs and
   both gold tables are read back;
3. point lookups ``read(where="user_id = …")`` on the users table's
   latest version and on the version before the batch (time travel);
4. every ``OPTIMIZE_EVERY`` triggers, ``OPTIMIZE dim_users ZORDER BY``.

This is the data-bound write path: ``cloud_files`` ingest with
``_rescued_data``, drop + quarantine expectations, dedup-latest,
``from_json``/``posexplode`` shredding, versioned-table commits, a gold
aggregate plus top-3 customers per store, and file-pruned copy-on-write
DML beside lookups that depend on its pruning stats.  ``plans`` and
``llmops`` sit idle.

Checks, after the timed units: each pipeline run's ingested, dropped and
quarantined rows against what its landed files planted, every gold read
and every lookup against a model computed from the generated inputs,
the deduplicated snapshot size, the rescued-row count, and the users
table's versions and final state.
"""

from __future__ import annotations

import json
import os
import statistics
from pathlib import Path

import datagen
import layers

REFRESH_MONTHS = 3
OPTIMIZE_EVERY = 3

NOTEBOOK = """
-- COMMAND ----------
CREATE INCREMENTAL LIVE TABLE bronze_sales
COMMENT "raw monthly sales, Auto-Loader ingest"
AS SELECT * FROM cloud_files('${landing}', "json")

-- COMMAND ----------
CREATE INCREMENTAL LIVE TABLE silver_sales (
  CONSTRAINT `valid store id` EXPECT (length(Location) = 5) ON VIOLATION DROP ROW,
  CONSTRAINT `customer present` EXPECT (CustomerID IS NOT NULL) ON VIOLATION QUARANTINE
)
COMMENT "typed sales; ts repaired from the rescued payload"
AS SELECT SaleID,
          coalesce(ts, unix_timestamp(get_json_object(_rescued_data, '$.ts'))) AS ts,
          exported_ts, CustomerID, Location, STATE, SaleItems, file_path
   FROM STREAM(live.bronze_sales)

-- COMMAND ----------
CREATE LIVE TABLE silver_sales_latest
COMMENT "latest export of every sale"
AS SELECT SaleID, ts, CustomerID, Location, STATE, SaleItems FROM (
     SELECT *, row_number() OVER (
       PARTITION BY SaleID ORDER BY exported_ts DESC, file_path DESC) AS rn
     FROM live.silver_sales)
   WHERE rn = 1

-- COMMAND ----------
CREATE TEMPORARY LIVE TABLE silver_sale_items
COMMENT "one row per line item of a completed sale"
AS SELECT s.SaleID, s.Location AS store_id, s.CustomerID AS customer_id, s.ts,
          pos, line.id AS product_id, line.qty AS qty, line.cost_cents AS cost_cents
   FROM live.silver_sales_latest s
   LATERAL VIEW posexplode(
     from_json(s.SaleItems, 'array<struct<id:string,qty:int,cost_cents:bigint>>')) item AS pos, line
   WHERE s.STATE = 'COMPLETED'

-- COMMAND ----------
CREATE LIVE TABLE gold_country_month
AS SELECT d.country_code, date_format(from_unixtime(i.ts), 'yyyy-MM') AS sales_month,
          count(DISTINCT i.SaleID) AS n_sales,
          CAST(sum(i.qty * p.price_cents) AS BIGINT) AS revenue_cents
   FROM live.silver_sale_items i
   JOIN dim_stores d ON i.store_id = d.id
   JOIN dim_products p ON i.product_id = p.product_id
   GROUP BY d.country_code, date_format(from_unixtime(i.ts), 'yyyy-MM')

-- COMMAND ----------
CREATE LIVE TABLE gold_top_customers
AS SELECT store_id, customer_id, name, spend_cents, customer_rank FROM (
     SELECT i.store_id, i.customer_id, u.name,
            CAST(sum(i.qty * i.cost_cents) AS BIGINT) AS spend_cents,
            row_number() OVER (PARTITION BY i.store_id
                               ORDER BY sum(i.qty * i.cost_cents) DESC, i.customer_id) AS customer_rank
     FROM live.silver_sale_items i JOIN dim_users u ON i.customer_id = u.user_id
     GROUP BY i.store_id, i.customer_id, u.name)
   WHERE customer_rank <= 3
"""

HINTS = {"bronze_sales": "ts long, exported_ts long, SaleID string, CustomerID long"}
NODES = ("bronze_sales", "silver_sales", "silver_sales_latest", "silver_sale_items",
         "gold_country_month", "gold_top_customers")
MERGE_USERS = (
    "MERGE INTO dim_users t USING user_changes s ON t.user_id = s.user_id "
    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
)
ZORDER_USERS = "OPTIMIZE dim_users ZORDER BY (user_id)"


def run(run) -> None:
    med = datagen.Medallion(str(run.dir / "raw"), run.seed, run.scale)
    dims = med.write_dimensions()
    for _ in range(REFRESH_MONTHS):
        med.land_month()
    lh, spark = run.lh, run.spark
    run.pipeline_runs = []  # (op id, months processed, run results)
    run.gold_reads = []  # (op id, months processed, users version, country frame, top frame)
    run.lookups = []  # (op id, users version read, user id, frame)

    def trigger(op_name: str, warm: bool, users_version: int):
        months = len(med.months)
        with run.op(op_name, warm=warm) as rec:
            results = pipe.run(spark)
        run.pipeline_runs.append((rec["id"], months, results))
        with run.op("read_gold", warm=warm) as rec:
            with run.tracer.span("spark.action"):
                country = pipe.read_dataset(spark, "gold_country_month").toPandas()
                top = pipe.read_dataset(spark, "gold_top_customers").toPandas()
        run.gold_reads.append((rec["id"], months, users_version, country, top))

    def change_users(changes: str, deleted: list[int], warm: bool) -> None:
        lh.read_csv(changes).createOrReplaceTempView("user_changes")
        with run.op("merge_users", warm=warm):
            lh.sql(MERGE_USERS)
        with run.op("delete_users", warm=warm):
            lh.sql(f"DELETE FROM dim_users WHERE user_id IN ({', '.join(map(str, deleted))})")

    # model versions of dim_users: v0 load, v1 ZORDER, v2/v3 first batch
    med.add_version()
    first_batch = med.user_changes()
    with run.cold():
        with run.op("load_dimensions", warm=False):
            for name, path in dims.items():
                df = lh.read_json(path) if path.endswith(".json") else lh.read_csv(path)
                lh.create_table(f"dim_{name}", df)
            lh.sql(ZORDER_USERS)
        change_users(*first_batch, warm=False)
        pipe = lh.pipeline_from_sql(
            "medallion", NOTEBOOK, params={"landing": med.landing}, schema_hints=HINTS)
        trigger("refresh", warm=False, users_version=len(med.user_versions) - 1)

    def prepare(i: int):
        changes, deleted = med.user_changes()
        return i, changes, deleted, med.land_month()

    def unit(arg) -> int:
        i, changes, deleted, month = arg
        run.tracer.set_request(f"trigger#{i}")
        version = len(med.user_versions) - 1  # after this batch's MERGE and DELETE
        change_users(changes, deleted, warm=True)
        trigger("trigger", warm=True, users_version=version)
        with open(changes) as f:
            upserted = [int(line.split(",")[0]) for line in f.readlines()[1:]]
        # a renamed, a new and a deleted user, on the latest version and
        # as of the version before this batch's MERGE
        for v in (None, version - 2):
            for key in (upserted[0], upserted[-1], deleted[0]):
                with run.op("lookup") as rec:
                    df = lh.table("dim_users").read(version=v, where=f"user_id = {key}")
                    with run.tracer.span("spark.action"):
                        pdf = df.toPandas()
                run.lookups.append((rec["id"], version if v is None else v, key, pdf))
        if (i + 1) % OPTIMIZE_EVERY == 0:
            with run.op("optimize"):
                lh.sql(ZORDER_USERS)
            med.add_version()
        return sum(os.path.getsize(p) for p in (changes, month))

    run.warm_loop(unit, prepare=prepare)
    _check(run, med, pipe)


def _check(run, med, pipe) -> None:
    from pyspark.sql import functions as F

    done = 0
    for op_id, months, res in run.pipeline_runs:
        planted = med.truth[done:months]
        done = months
        silver = {e["name"]: e for e in res["silver_sales"]["expectations"]}
        got = (res["bronze_sales"]["rows_appended"],
               silver["valid store id"]["dropped_records"],
               silver["customer present"]["quarantined_records"])
        want = tuple(sum(t[k] for t in planted) for k in ("records", "dropped", "quarantined"))
        if got != want:
            run.fail(op_id, f"pipeline run (ingested, dropped, quarantined) = {got}, planted {want}")
    for op_id, months, version, country, top in run.gold_reads:
        by_month, top3, _ = med.model(months, med.user_versions[version])
        got_c = {(r.country_code, r.sales_month): (r.n_sales, r.revenue_cents)
                 for r in country.itertuples()}
        got_t: dict[str, list] = {}
        for r in top.sort_values(["store_id", "customer_rank"]).itertuples():
            got_t.setdefault(r.store_id, []).append((r.customer_id, r.name, r.spend_cents))
        if got_c != by_month:
            run.fail(op_id, f"gold_country_month differs from the model after {months} months")
        if got_t != top3:
            run.fail(op_id, f"gold_top_customers differs from the model after {months} months")
    for op_id, version, key, pdf in run.lookups:
        users = med.user_versions[version]
        want = [(key, users[key])] if key in users else []
        got = [(int(r.user_id), r.name) for r in pdf.itertuples()]
        if got != want:
            run.fail(op_id, f"dim_users user_id={key} at version {version}: {got}, model {want}")

    spark, lh = run.spark, run.lh
    last_op, months, _ = run.pipeline_runs[-1]
    latest = pipe.read_dataset(spark, "silver_sales_latest").count()
    n_latest = med.model(months, med.users)[2]
    if latest != n_latest:
        run.fail(last_op, f"silver_sales_latest has {latest} sales, model {n_latest}")
    bronze = pipe.read_dataset(spark, "bronze_sales")
    row = bronze.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("file_path").alias("files"),
        F.count("_rescued_data").alias("rescued"),
    ).first()
    landed = sum(t["records"] for t in med.truth[:months])
    rescued = sum(t["rescued"] for t in med.truth[:months])
    if row.rescued != rescued:
        run.fail(last_op, f"{row.rescued} rescued bronze rows, planted {rescued}")
    run.streaming = {
        "streaming.files_ingested": row.files,
        "streaming.rows_ingested": row.rows,
        "streaming.rows_rescued": row.rescued,
        "streaming.exactly_once_ratio": row.rows / landed,
    }
    users = lh.table("dim_users")
    dml_op = max(o["id"] for o in run.ops if o["name"] in ("merge_users", "delete_users", "optimize"))
    if users.history().count() != len(med.user_versions):
        run.fail(dml_op, f"dim_users has {users.history().count()} versions, model {len(med.user_versions)}")
    final = {int(r.user_id): r.name for r in users.read().collect()}
    if final != med.users:
        run.fail(dml_op, "dim_users latest snapshot differs from the model")
    run.node_events = _node_seconds(pipe.event_log_path, run.units)


def _node_seconds(event_dir: str, units: list[dict]) -> dict[str, list[float]]:
    """Per node, its duration in each traced trigger, from the pipeline's
    own event log (flow_definition → flow_progress timestamps)."""
    out: dict[str, list[float]] = {}
    for path in sorted(Path(event_dir).glob("run-*.jsonl")):
        events = [json.loads(line) for line in path.read_text().splitlines()]
        t_run = events[0]["timestamp_ms"] / 1000 if events else 0
        if not any(u["traced"] and u["start"] <= t_run <= u["end"] for u in units):
            continue
        started: dict[str, int] = {}
        for ev in events:
            if ev["event_type"] == "flow_definition":
                started[ev["flow_name"]] = ev["timestamp_ms"]
            elif ev["event_type"] == "flow_progress":
                out.setdefault(ev["flow_name"], []).append(
                    (ev["timestamp_ms"] - started[ev["flow_name"]]) / 1000)
    return out


def layer_metrics(run, jobs: list[dict]) -> dict:
    m = layers.common(run, jobs)
    for node in NODES:
        m[f"pipeline.node_s.{node}"] = statistics.median(run.node_events.get(node, [0]))
    rows = dropped = quarantined = 0
    for _, _, res in run.pipeline_runs:
        for node in res.values():
            rows += node.get("rows", node.get("rows_appended", 0))
            for e in node.get("expectations", []):
                dropped += e["dropped_records"]
                quarantined += e["quarantined_records"]
    m.update({"pipeline.rows_written": rows, "pipeline.rows_dropped": dropped,
              "pipeline.rows_quarantined": quarantined, **run.streaming})
    return m

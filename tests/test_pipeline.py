"""Pipeline-runner integration test: replay the reference's DLT pipeline
(`4  Delta Live Tables (SQL).sql` DAG) on workshop-shaped fixtures
(FIXTURES.md A): landing JSON → bronze (incremental + expectations) →
silver sales/items (incremental, dedup/shred) → gold aggregates
(complete), with event-log metrics — then a second run that must process
only new files."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

STORES = [
    ("SYD01", "Sydney CBD", "AUS"),
    ("MEL01", "Melbourne CBD", "AUS"),
    ("AKL01", "Auckland CBD", "NZL"),
]


def _sale(i, month="2021-10", state="COMPLETED", custom_no_ingredients=False):
    items = [
        {"id": f"p{i % 5}", "size": "L", "notes": "", "cost": 5.0 + (i % 3), "ingredients": ["apple"]},
        {"id": "Custom", "size": "S", "notes": "x", "cost": 2.0,
         "ingredients": [] if custom_no_ingredients else ["kiwi"]},
    ]
    base_ts = 1633046400 if month == "2021-10" else 1635724800
    return {
        "SaleID": f"{month}-sale-{i:04d}",
        "ts": base_ts + i * 60,
        "exported_ts": base_ts + i * 60 + 30,
        "CustomerID": (i % 4) or None,
        "Location": ["SYD01", "MEL01", "AKL01"][i % 3],
        "OrderSource": "ONLINE",
        "PaymentMethod": "CARD",
        "STATE": state,
        "SaleItems": json.dumps(items),
    }


def _write_json(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def pipeline(spark, tmp_path):
    from dataengineeringworkshop_spark.operators.expectations import Expectation
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    landing = tmp_path / "landing"
    landing.mkdir()
    _write_json(landing / "sales_202110.json", [_sale(i) for i in range(30)])
    # one invalid custom item (no ingredients) -> dropped by silver_sale_items
    _write_json(
        landing / "sales_202110b.json",
        [_sale(100 + i, custom_no_ingredients=(i == 0)) for i in range(3)],
    )

    stores_csv = tmp_path / "stores.csv"
    with open(stores_csv, "w") as f:
        f.write("id,name,country_code\n")
        for sid, name, cc in STORES:
            f.write(f"{sid},{name},{cc}\n")

    p = Pipeline("apj", str(tmp_path / "pl"))
    # bronze (N4:28-34): incremental from cloud_files + expectations (N4:102-105)
    p.table(
        "bronze_sales",
        f"SELECT * FROM cloud_files('{landing}', 'json')",
        incremental=True,
        schema_hints="ts long, exported_ts long, SaleID string",
        expectations=[
            Expectation("valid_store", "length(Location) = 5"),
            Expectation("valid_state", "STATE IN ('COMPLETED','CANCELED')"),
        ],
        comment="raw sales feed",
    )
    # dim stores as a complete table from CSV (N4:39-54 shape)
    p.table(
        "dim_stores",
        fn=lambda spark_, _resolve: spark_.read.option("header", "true").csv(str(stores_csv)),
        comment="store dimension",
    )
    # silver sales (N4:102-117): incremental projection/rename from bronze
    p.table(
        "silver_sales",
        """
        SELECT SaleID AS sale_id, from_unixtime(ts) AS ts, Location AS store_id,
               OrderSource AS order_source, STATE AS state, CustomerID AS customer_id,
               SaleItems AS sale_items
        FROM STREAM(live.bronze_sales)
        """,
        incremental=True,
        expectations=[Expectation("valid_sale_id", "sale_id IS NOT NULL", mode="drop")],
    )
    # silver sale items (N4:121-160): incremental JSON shred
    p.table(
        "silver_sale_items",
        """
        SELECT sale_id, store_id, pos AS item_pos,
               item.id AS product_id, item.size AS product_size,
               item.cost AS product_cost, item.ingredients AS product_ingredients
        FROM (
            SELECT SaleID AS sale_id, Location AS store_id,
                   posexplode(from_json(SaleItems,
                     'array<struct<id:string,size:string,notes:string,cost:double,ingredients:array<string>>>'))
                     AS (pos, item)
            FROM STREAM(live.bronze_sales)
        )
        """,
        incremental=True,
        expectations=[
            Expectation(
                "valid_custom_items",
                "NOT (product_id = 'Custom' AND size(product_ingredients) = 0)",
                mode="drop",
            )
        ],
    )
    # gold (N4:177-201): complete tables, fully recomputed
    p.table(
        "gold_country_sales",
        """
        SELECT l.country_code, date_format(s.ts, 'yyyy-MM') AS sales_month,
               count(distinct i.sale_id) AS number_of_sales,
               sum(i.product_cost) AS total_sales
        FROM live.silver_sale_items i
        JOIN live.dim_stores l ON i.store_id = l.id
        JOIN live.silver_sales s ON i.sale_id = s.sale_id
        GROUP BY l.country_code, sales_month
        """,
    )
    p.table(
        "gold_top_stores",
        """
        SELECT store_id, total_spend, store_rank FROM (
            SELECT store_id, sum(product_cost) AS total_spend,
                   rank() OVER (ORDER BY sum(product_cost) DESC) AS store_rank
            FROM live.silver_sale_items GROUP BY store_id
        ) WHERE store_rank <= 3
        """,
    )
    return p, landing


def test_full_dag_run_and_incremental_rerun(spark, pipeline):
    p, landing = pipeline
    r1 = p.run(spark)

    assert r1["bronze_sales"]["rows_appended"] == 33
    # warn-mode expectations keep all rows but record metrics
    vs = {m["name"]: m for m in r1["bronze_sales"]["expectations"]}
    assert vs["valid_store"]["failed_records"] == 0
    assert vs["valid_state"]["passed_records"] == 33

    # silver shred: 2 items per sale, minus 1 dropped invalid Custom item
    assert r1["silver_sale_items"]["rows_appended"] == 33 * 2 - 1
    dq = {m["name"]: m for m in r1["silver_sale_items"]["expectations"]}
    assert dq["valid_custom_items"]["dropped_records"] == 1

    gold = p.read_dataset(spark, "gold_country_sales")
    got = {(r.country_code, r.sales_month): r.number_of_sales for r in gold.collect()}
    # 33 sales over AUS (SYD01+MEL01 = i%3 in {0,1}) and NZL (AKL01 = i%3==2)
    assert sum(n for (cc, _m), n in got.items() if cc == "AUS") == 22
    assert sum(n for (cc, _m), n in got.items() if cc == "NZL") == 11

    # --- run 2: drop a new month's file; only new rows enter incrementals
    _write_json(landing / "sales_202111.json", [_sale(i, month="2021-11") for i in range(12)])
    r2 = p.run(spark)
    assert r2["bronze_sales"]["rows_appended"] == 12
    assert p.read_dataset(spark, "bronze_sales").count() == 45
    assert p.read_dataset(spark, "silver_sales").count() == 45
    # gold fully recomputed over both months
    gold2 = p.read_dataset(spark, "gold_country_sales")
    assert gold2.filter(F.col("sales_month") == "2021-11").count() > 0

    # complete-table history: two pipeline runs = two versions (time
    # travel) — read through the backend seam, like the runner writes
    from dataengineeringworkshop_spark.tables.backend import open_table

    vt = open_table(spark, p._table_dir("gold_country_sales"))
    assert vt.history().count() == 2

    # event log (N3:130-168): flow_progress rows with expectation metrics
    ev = p.event_log(spark)
    prog = ev.filter(F.col("event_type") == "flow_progress")
    assert prog.filter(F.col("flow_name") == "bronze_sales").count() == 2
    row = (
        prog.filter(F.col("flow_name") == "silver_sale_items")
        .orderBy("timestamp_ms")
        .select(F.explode("details.data_quality.expectations").alias("e"))
        .select("e.name", "e.dropped_records")
        .first()
    )
    assert row["name"] == "valid_custom_items" and row["dropped_records"] == 1


def test_fail_mode_aborts(spark, tmp_path):
    from dataengineeringworkshop_spark.operators.expectations import (
        Expectation,
        ExpectationFailed,
    )
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    p = Pipeline("failing", str(tmp_path / "pl"))
    p.table(
        "bad",
        fn=lambda s, _r: s.range(10).withColumnRenamed("id", "v"),
        expectations=[Expectation("v_small", "v < 5", mode="fail")],
    )
    with pytest.raises(ExpectationFailed):
        p.run(spark)


def test_quarantine_split_partitions_exactly(spark):
    """kept ∪ quarantined == input, disjoint; violated names in
    definition order."""
    from dataengineeringworkshop_spark.operators.expectations import (
        Expectation,
        quarantine_split,
    )

    df = spark.createDataFrame(
        [(1, 5, "en"), (2, 50, "xx"), (3, 1, "xx"), (4, 50, "en")],
        "id INT, n INT, lang STRING",
    )
    kept, quar = quarantine_split(
        df,
        [
            Expectation("big_enough", "n >= 10", mode="drop"),
            Expectation("lang_ok", "lang = 'en'", mode="drop"),
        ],
    )
    assert {r["id"] for r in kept.collect()} == {4}
    got = {r["id"]: r["violated"] for r in quar.collect()}
    assert got == {1: "big_enough", 2: "lang_ok", 3: "big_enough,lang_ok"}


def test_temp_table_materializes_without_history(spark, tmp_path):
    """temp_table nodes materialize as plain parquet (readable by
    downstream nodes and read_dataset) with NO commit log — and a rerun
    fully recomputes them."""
    import os

    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    p = Pipeline("tmp", str(tmp_path / "pl"))
    p.table("base", fn=lambda s, _r: s.range(10).withColumnRenamed("id", "v"),
            temporary=True)
    p.table("doubled", "SELECT v * 2 AS v2 FROM live.base", temporary=True)
    p.table("gold", "SELECT CAST(SUM(v2) AS BIGINT) AS total FROM live.doubled")
    r = p.run(spark)
    assert r["base"]["rows"] == 10 and r["doubled"]["rows"] == 10
    assert p.read_dataset(spark, "doubled").count() == 10
    assert p.read_dataset(spark, "gold").first().total == 90
    # plain parquet, no _dew_log, no staging leftovers
    tdir = p._temp_dir("doubled")
    assert os.path.isdir(tdir)
    assert not os.path.isdir(os.path.join(tdir, "_dew_log"))
    assert not os.path.isdir(tdir + "__staging")
    # the versioned gold table has history; temp tables have none
    from dataengineeringworkshop_spark.tables.backend import open_table

    assert open_table(spark, p._table_dir("gold")).history().count() == 1
    p.run(spark)
    assert open_table(spark, p._table_dir("gold")).history().count() == 2


def test_substitution_after_run_reregisters_view(spark, tmp_path):
    """The per-run upstream-view memo ends with the run: a live.<name>
    substitution after a completed run re-registers the view, so it
    reads the dataset's CURRENT snapshot, not the one the run saw."""
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline
    from dataengineeringworkshop_spark.tables.backend import open_table

    p = Pipeline("memo", str(tmp_path / "pl"))
    p.table("base", fn=lambda s, _r: s.range(10).withColumnRenamed("id", "v"))
    p.table("gold", "SELECT CAST(SUM(v) AS BIGINT) AS total FROM live.base")
    p.run(spark)
    assert p._run_view_memo is None
    open_table(spark, p._table_dir("base")).write(
        spark.range(3).withColumnRenamed("id", "v"), mode="overwrite"
    )
    q = p._substitute(spark, "SELECT COUNT(*) AS n FROM live.base", streaming=False)
    assert spark.sql(q).first().n == 3


def test_fail_mode_publishes_nothing(spark, tmp_path):
    """Transactional FAIL UPDATE: when the row-level guard aborts the
    write action, neither the versioned table nor a temp table may
    expose any data — no committed version, no staged files."""
    import os

    from dataengineeringworkshop_spark.operators.expectations import (
        Expectation,
        ExpectationFailed,
    )
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline
    from dataengineeringworkshop_spark.tables.backend import open_table

    for temporary in (False, True):
        p = Pipeline(f"failpub{int(temporary)}", str(tmp_path / f"pl{int(temporary)}"))
        p.table(
            "bad",
            fn=lambda s, _r: s.range(1000).withColumnRenamed("id", "v"),
            temporary=temporary,
            expectations=[Expectation("v_small", "v < 999", mode="fail")],
        )
        with pytest.raises(ExpectationFailed, match="v_small"):
            p.run(spark)
        if temporary:
            assert not os.path.isdir(p._temp_dir("bad"))
            assert not os.path.isdir(p._temp_dir("bad") + "__staging")
        else:
            assert not open_table(spark, p._table_dir("bad")).exists()
            # the aborted version's staged data dir was removed
            troot = p._table_dir("bad")
            staged = (
                [d for d in os.listdir(troot) if d.startswith("v")]
                if os.path.isdir(troot)
                else []
            )
            assert staged == []


def test_fail_mode_abort_survives_slow_stragglers(spark, tmp_path):
    """Regression for the abort-cleanup race: Spark kills a failed
    job's tasks ASYNCHRONOUSLY, so a straggler task can re-create the
    staged dir (FileOutputCommitter _temporary tree) after the driver's
    cleanup ran.  Inject the race deliberately — one partition violates
    the fail guard on its first row (no sleep) while seven others pace
    themselves through valid rows with an open parquet writer — and
    assert the abort still leaves no v* dir behind."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from dataengineeringworkshop_spark.operators.expectations import (
        Expectation,
        ExpectationFailed,
    )
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    def build(s, _r):
        @F.udf("long")
        def paced(v):
            if v >= 100:  # valid rows trickle out; the violating
                _time.sleep(0.012)  # partition (0..99) races ahead
            return v

        return s.range(800, numPartitions=8).select(paced("id").alias("v"))

    p = Pipeline("failslow", str(tmp_path / "pl"))
    p.table(
        "bad",
        fn=build,
        expectations=[Expectation("v_big", "v >= 100", mode="fail")],
    )
    with pytest.raises(ExpectationFailed, match="v_big"):
        p.run(spark)
    from dataengineeringworkshop_spark.tables.backend import open_table

    assert not open_table(spark, p._table_dir("bad")).exists()
    troot = p._table_dir("bad")
    staged = (
        [d for d in os.listdir(troot) if d.startswith("v")]
        if os.path.isdir(troot)
        else []
    )
    assert staged == []


def test_fail_mode_passes_when_clean(spark, tmp_path):
    """A fail-mode expectation with zero violations must not disturb the
    write, and its metrics are recorded like any other mode."""
    from dataengineeringworkshop_spark.operators.expectations import Expectation
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    p = Pipeline("failok", str(tmp_path / "pl"))
    p.table(
        "good",
        fn=lambda s, _r: s.range(50).withColumnRenamed("id", "v"),
        expectations=[Expectation("v_ok", "v < 100", mode="fail")],
    )
    r = p.run(spark)
    assert r["good"]["rows"] == 50
    m = {x["name"]: x for x in r["good"]["expectations"]}
    assert m["v_ok"]["passed_records"] == 50 and m["v_ok"]["failed_records"] == 0
    assert p.read_dataset(spark, "good").count() == 50


def test_fail_mode_streaming_aborts_without_partial_batch(spark, tmp_path):
    """Fail-mode on an INCREMENTAL table: the violating batch is staged,
    the guard aborts it, nothing lands in the target dir, and run()
    raises the API-level ExpectationFailed (not a raw
    StreamingQueryException)."""
    import json
    import os

    from dataengineeringworkshop_spark.operators.expectations import (
        Expectation,
        ExpectationFailed,
    )
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "a.json", "w") as f:
        for i in range(20):
            f.write(json.dumps({"k": i, "v": i}) + "\n")

    p = Pipeline("stfail", str(tmp_path / "pl"))
    p.table(
        "incr",
        f"SELECT * FROM cloud_files('{landing}', 'json')",
        incremental=True,
        expectations=[Expectation("v_small", "v < 10", mode="fail")],
    )
    with pytest.raises(ExpectationFailed, match="v_small"):
        p.run(spark)
    target = p._incr_dir("incr")
    files = (
        [x for x in os.listdir(target) if x.endswith(".parquet")]
        if os.path.isdir(target)
        else []
    )
    assert files == []
    assert not os.path.isdir(target + "__batch_staging")


def test_quarantine_mode_routes_rows(spark, tmp_path):
    """ON VIOLATION QUARANTINE (N4:98 roadmap): violating rows leave the
    dataset like drop, but land in a side table tagged with the violated
    constraint names; metrics record quarantined_records."""
    from dataengineeringworkshop_spark.operators.expectations import Expectation
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    p = Pipeline("quar", str(tmp_path / "pl"))
    p.table(
        "gated",
        fn=lambda s, _r: s.range(20).withColumnRenamed("id", "v"),
        expectations=[
            Expectation("v_small", "v < 15", mode="quarantine"),
            Expectation("v_even", "v % 2 = 0", mode="quarantine"),
        ],
    )
    r = p.run(spark)
    kept = p.read_dataset(spark, "gated")
    assert {x.v for x in kept.collect()} == {0, 2, 4, 6, 8, 10, 12, 14}
    q = p.read_quarantine(spark, "gated")
    got = {x.v: x.violated for x in q.collect()}
    assert got[16] == "v_small"        # >= 15, even
    assert got[1] == "v_even"          # < 15, odd
    assert got[15] == "v_small,v_even"
    assert r["gated"]["rows"] == 8
    m = {x["name"]: x for x in r["gated"]["expectations"]}
    assert m["v_small"]["quarantined_records"] == 5
    assert m["v_even"]["quarantined_records"] == 10


def test_quarantine_via_dlt_sql_text(spark, tmp_path):
    from dataengineeringworkshop_spark.pipeline.dlt_sql import pipeline_from_sql

    (tmp_path / "d.json").write_text(
        "\n".join(f'{{"v": {i}}}' for i in range(10)) + "\n"
    )
    script = f"""
CREATE LIVE TABLE gated (
  CONSTRAINT `v in range` EXPECT (v < 7) ON VIOLATION QUARANTINE
)
AS SELECT * FROM json.`{tmp_path / "d.json"}`
"""
    p = pipeline_from_sql("q2", str(tmp_path / "pl"), script)
    p.run(spark)
    assert p.read_dataset(spark, "gated").count() == 7
    assert p.read_quarantine(spark, "gated").count() == 3

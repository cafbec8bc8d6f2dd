"""End-to-end parity test of the parcel warehouse build + KPI report on
a FIXTURES.md §A fixture: complete lifecycles, missing legs, duplicate
shipping_ids, null client/shipping keys, malformed JSON, embedded
newlines/quotes (multiline CSV semantics exercised via the same JSON
payloads the reference reads)."""

from __future__ import annotations

import csv
import json
import os

import pytest
from pyspark.sql import functions as F

from parcel_analytics_etl_notebook_spark.plans.parcel import (
    build_warehouse,
    dq_checkpoint,
    kpi_report,
    parse_events,
)


def _event(
    code,
    sub,
    event_date,
    shipping_id,
    brand="BR",
    sign="SG",
    coll=(1, "FR"),
    deliv=(2, "FR"),
    state=("ST", "2024-01-01", "N", "S1"),
):
    return json.dumps(
        {
            "event_code": code,
            "event_date": event_date,
            "entry_date": event_date,
            "event_nature": "nature",
            "event_sub_code": sub,
            "shipping": {
                "sign_code": sign,
                "brand_code_alpha": brand,
                "collection": {
                    "prestation_code": "P1",
                    "round": {"codeAgence": coll[0], "pays": coll[1]},
                },
                "paid": "Y",
                "sav_folder": False,
                "is_replaced": False,
                "state": {
                    "code": state[0],
                    "date": state[1],
                    "nature": state[2],
                    "sousCode": state[3],
                },
                "canceled_state": None,
                "shipping_id": shipping_id,
                "delivery": {
                    "prestation_code": "P2",
                    "round": {"codeAgence": deliv[0], "pays": deliv[1]},
                },
                "parcel_number": 1,
                "shipping_number": 10,
                "options": None,
                "parcel_sequence": 1,
            },
        }
    )


@pytest.fixture(scope="module")
def warehouse(spark):
    rows = [
        # S1: complete lifecycle PEC/REL -> TRN/APM -> LIV (3 days, 1 day)
        (_event("PEC", "REL", "2024-01-01 08:00:00", "S1"),),
        (_event("TRN", "APM", "2024-01-03 08:00:00", "S1"),),
        (_event("LIV", None, "2024-01-04 08:00:00", "S1"),),
        # S2: missing delivery leg (only SENT + PICKED_UP, 2 days)
        (_event("PEC", "APM", "2024-01-02 10:00:00", "S2"),),
        (_event("LIV", None, "2024-01-04 10:00:00", "S2"),),
        # S3: only sent — every duration null
        (_event("PEC", "REL", "2024-01-05 09:00:00", "S3"),),
        # S1 duplicate event with "text\nnewline \" quote" embedded
        (
            _event("TRN", "XX", "2024-01-03 09:00:00", "S1", brand='B"R\nX'),
        ),
        # null client keys → rejected from DimClient
        (_event("PEC", "REL", "2024-01-06 09:00:00", "S4", brand=None, sign=None),),
        # null shipping_id → rejected from DimShipping
        (_event("PEC", "REL", "2024-01-06 10:00:00", None),),
        # malformed JSON → null struct
        ("{not valid json",),
    ]
    raw = spark.createDataFrame(rows, "event string")
    flat = parse_events(raw)
    return build_warehouse(flat), flat


def test_flatten_shape(warehouse):
    _, flat = warehouse
    assert set(flat.columns) == {
        "event_code", "event_date", "entry_date", "event_nature",
        "event_sub_code", "sign_code", "brand_code_alpha",
        "collection_codeAgence", "collection_pays", "sav_folder",
        "is_replaced", "state_code", "state_date", "state_nature",
        "state_subcode", "shipping_id", "delivery_codeAgence",
        "delivery_pays", "parcel_number", "shipping_number",
        "parcel_sequence",
    }
    # malformed JSON row survives with all-null fields (PERMISSIVE)
    assert flat.count() == 10
    assert flat.filter(F.col("event_code").isNull()).count() == 1


def test_dim_grains_and_keys(warehouse):
    tables, _ = warehouse
    dim_client = tables["DimClient"].collect()
    # null brand/sign rejected; "BR_SG" and the quoted-brand variant remain
    keys = {r["client_key"] for r in dim_client}
    assert "BR_SG" in keys and len(keys) == len(dim_client)
    # deterministic surrogate keys: rebuild yields identical ids
    again = {r["client_key"]: r["client_id"] for r in tables["DimClient"].collect()}
    assert all(again[r["client_key"]] == r["client_id"] for r in dim_client)

    dim_location = tables["DimLocation"]
    assert dim_location.count() == dim_location.dropDuplicates(
        ["codeAgence", "pays", "location_type"]
    ).count()
    roles = {r["location_type"] for r in dim_location.select("location_type").collect()}
    assert roles == {"collection", "delivery"}

    # DimShipping: distinct non-null shipping_id
    ship = tables["DimShipping"]
    ids = [r["shipping_id"] for r in ship.select("shipping_id").collect()]
    assert sorted(ids) == ["S1", "S2", "S3", "S4"]


def test_fact_referential_integrity(warehouse):
    tables, _ = warehouse
    fact = tables["FactShippingEvent"]
    dim_date = tables["DimDate"]
    # every non-null fact date_id resolves in DimDate — the property the
    # reference's uuid() warehouse violated (SURVEY §4.3)
    unresolved = (
        fact.join(dim_date, on="date_id", how="left_anti")
        .filter(F.col("date_id").isNotNull())
        .count()
    )
    assert unresolved == 0
    # 9 parseable events + 1 malformed row
    assert fact.count() == 10


def test_kpi_report(warehouse):
    tables, _ = warehouse
    kpi = kpi_report(tables["FactShippingEvent"]).collect()[0]
    # S1: delivery 2d, lifecycle 3d, pickup 1d; S2: lifecycle 2d only.
    # Null-skipping avg semantics: shipments missing a leg drop out of
    # that average only (reference report.ipynb cell 8).
    assert kpi["avg_delivery_days"] == 2.0
    assert kpi["avg_lifecycle_days"] == 2.5  # (3 + 2) / 2
    assert kpi["avg_pickup_days"] == 1.0
    # S1, S2, S3, S4 have labeled events; the null-shipping_id row is
    # excluded by countDistinct's null-skipping
    assert kpi["total_packages"] == 4


def test_dq_checkpoint(warehouse, spark):
    _, flat = warehouse
    report = dq_checkpoint(flat, "After Parsing", ["event_code", "shipping_id"])
    rows = {r["check_name"]: r for r in report}
    assert rows["Non-empty dataframe"]["status"] == "PASS"
    assert rows["No nulls in column 'event_code'"]["status"] == "FAIL"
    assert {r["check_point"] for r in report} == {"After Parsing"}


def test_dq_observation_matches_summary(warehouse, spark, tmp_path):
    """observe()-based DQ (zero extra passes, metrics ride the write
    action) must report exactly what the one-pass aggregate reports."""
    from parcel_analytics_etl_notebook_spark.operators.aggregates import (
        dq_observation,
        dq_summary,
    )
    from parcel_analytics_etl_notebook_spark.plans.parcel import (
        dq_checkpoint_observed,
    )

    _, flat = warehouse
    cols = ["event_code", "shipping_id"]
    observed, obs = dq_observation(flat, cols)
    observed.write.mode("overwrite").parquet(str(tmp_path / "sink"))
    expected = dq_summary(flat, cols).collect()[0].asDict()
    assert dict(obs.get) == expected
    report = {
        r["check_name"]: r["status"]
        for r in dq_checkpoint_observed(obs, "cp")
    }
    assert report["Non-empty dataframe"] == "PASS"
    assert report["No nulls in column 'event_code'"] == "FAIL"


def test_run_parcel_etl_end_to_end(spark, tmp_path):
    """The complete reference program (E1 build + E2 KPIs) through the
    executable runner: fixture CSV -> warehouse parquet -> DQ audit ->
    KPI dict, then read the published warehouse back and re-verify
    referential integrity on disk (the property the reference's uuid()
    warehouse lost between write actions)."""
    from parcel_analytics_etl_notebook_spark.plans.parcel_fixtures import (
        write_fixture_csv,
    )
    from parcel_analytics_etl_notebook_spark.plans.parcel_run import run_parcel_etl

    csv_path = str(tmp_path / "raw.csv")
    write_fixture_csv(csv_path, n_shipments=50)
    kpi = run_parcel_etl(spark, csv_path, str(tmp_path / "wh"))
    assert kpi["total_packages"] >= 50
    assert kpi["avg_delivery_days"] is not None

    fact = spark.read.parquet(str(tmp_path / "wh" / "FactShippingEvent"))
    dim_date = spark.read.parquet(str(tmp_path / "wh" / "DimDate"))
    unresolved = (
        fact.join(dim_date, on="date_id", how="left_anti")
        .filter(F.col("date_id").isNotNull())
        .count()
    )
    assert unresolved == 0  # on-disk fact->dim integrity holds across writes
    audit_dir = tmp_path / "wh" / "metadata" / "dq_report"
    audit = spark.read.option("header", True).csv(str(audit_dir))
    assert audit.filter(F.col("status") == "PASS").count() > 0
    # the audit log pins the run's whole DQ story: the reference's five
    # columns, 3 + 3 + 4 × 6 rows in checkpoint order, one part file,
    # one run timestamp
    assert set(audit.columns) == {
        "check_point", "check_name", "status", "details", "timestamp",
    }
    parts = list(audit_dir.glob("*.csv"))
    assert len(parts) == 1
    with open(parts[0], newline="") as fh:
        rows = list(csv.DictReader(fh))
    assert len(rows) == 30
    labels = list(dict.fromkeys(r["check_point"] for r in rows))
    assert labels == ["Before Parsing", "After Parsing"] + [
        f"After Tables Build: {name}"
        for name in (
            "DimClient",
            "DimLocation",
            "DimState",
            "DimDate",
            "DimShipping",
            "FactShippingEvent",
        )
    ]
    assert len({r["timestamp"] for r in rows}) == 1

    # report layer: the notebook's annotated KPI bar chart from the run's
    # KPI dict (matplotlib when installed, SVG twin otherwise)
    from parcel_analytics_etl_notebook_spark.plans.report import (
        coverage_line,
        render_kpi_chart,
    )

    chart = str(tmp_path / "kpi_report.svg")
    render_kpi_chart(kpi, chart, coverage=coverage_line(fact))
    svg = open(chart).read()
    assert svg.count('class="kpi-bar"') == 3  # three KPI bars
    assert f"{kpi['avg_delivery_days']:.2f}" in svg  # value annotation
    assert f"{kpi['total_packages']:,}" in svg  # total-packages box
    assert "Data covers:" in svg  # coverage subtitle
    try:
        import matplotlib  # noqa: F401

        png = render_kpi_chart(
            kpi, str(tmp_path / "kpi_report.png"), coverage=coverage_line(fact)
        )
        assert os.path.getsize(png) > 0
    except ImportError:
        import pytest as _pytest

        with _pytest.raises(ImportError, match="matplotlib"):
            render_kpi_chart(kpi, str(tmp_path / "kpi_report.png"))


def test_fixture_exercises_multiline_csv(spark, tmp_path):
    """The generated fixture must contain literal newlines INSIDE quoted
    CSV cells (pretty-printed JSON — the reference's actual payload
    shape) and the multiline reader must recover every logical row."""
    from parcel_analytics_etl_notebook_spark.plans.parcel_fixtures import (
        write_fixture_csv,
    )
    from parcel_analytics_etl_notebook_spark.sources.readers import (
        read_csv_multiline,
    )

    csv_path = str(tmp_path / "raw.csv")
    n = write_fixture_csv(csv_path, n_shipments=40)
    text = open(csv_path).read()
    # literal newline inside a quoted cell (quotes are CSV-doubled)
    assert '\n  ""event_code""' in text
    assert text.count("\n") > n + 1  # more physical lines than logical rows
    raw = read_csv_multiline(spark, csv_path)
    assert raw.count() == n  # multiline cells didn't split rows
    flat = parse_events(raw)
    # pretty-printed payloads parse identically to compact ones
    assert flat.filter(F.col("event_code") == "PEC").count() >= 40


def test_run_parcel_etl_hand_computed_kpis(spark, tmp_path):
    """Full chain (CSV → parse → build_warehouse → kpi_report via the
    runner) against HAND-COMPUTED KPI values, reproducing the reference
    report's semantics (report.ipynb cell 8/9: non-integer rounded
    averages, null-skipping per-leg, first-event min, distinct count):

    - A: sent 02-01, delivered 02-04, picked 02-06 → 3 / 5 / 2
         (+ duplicate later TRN — min() must keep the first)
    - B: sent 02-02, delivered 02-06, picked 02-09 → 4 / 7 / 3
    - C: missing middle leg → lifecycle 2 only (delivery/pickup null)
    - D: delivered only, never sent → all durations null
    - E: PEC with non-REL/APM sub_code → no SENT label, all null

    avg_delivery (3+4)/2 = 3.5; avg_lifecycle (5+7+2)/3 = 4.67
    (exercises ROUND(.., 2) on a repeating decimal); avg_pickup
    (2+3)/2 = 2.5; total_packages = 5 — each average skips exactly the
    shipments missing that leg, no zero-fill."""
    import csv as _csv

    from parcel_analytics_etl_notebook_spark.plans.parcel_fixtures import (
        event_json,
    )
    from parcel_analytics_etl_notebook_spark.plans.parcel_run import run_parcel_etl

    ev = [
        ("PEC", "REL", "2024-02-01 08:00:00", "A"),
        ("TRN", "APM", "2024-02-04 08:00:00", "A"),
        ("TRN", "APM", "2024-02-05 08:00:00", "A"),  # dup: min() wins
        ("LIV", None, "2024-02-06 08:00:00", "A"),
        ("PEC", "APM", "2024-02-02 08:00:00", "B"),
        ("TRN", "REL", "2024-02-06 08:00:00", "B"),
        ("LIV", None, "2024-02-09 08:00:00", "B"),
        ("PEC", "REL", "2024-02-03 08:00:00", "C"),
        ("LIV", None, "2024-02-05 08:00:00", "C"),
        ("TRN", "APM", "2024-02-04 08:00:00", "D"),
        ("PEC", "XX", "2024-02-04 08:00:00", "E"),
    ]
    csv_path = str(tmp_path / "kpi_fixture.csv")
    with open(csv_path, "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["event"])
        for code, sub, date, sid in ev:
            w.writerow([event_json(code, sub, date, sid, indent=2)])

    kpi = run_parcel_etl(spark, csv_path, str(tmp_path / "wh"))
    assert kpi["avg_delivery_days"] == 3.5
    assert kpi["avg_lifecycle_days"] == 4.67
    assert kpi["avg_pickup_days"] == 2.5
    assert kpi["total_packages"] == 5

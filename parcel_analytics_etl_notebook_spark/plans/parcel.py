"""Reference-parity parcel pipeline: the complete ETL of
``/root/reference/etl/main.py`` re-expressed with the engine's
operators — same warehouse shape, fixed hazards.

Differences from the reference (all deliberate, SURVEY §4.3):
- surrogate keys are deterministic sha2 (reference: per-action uuid(),
  which broke its published fact↔dim referential integrity);
- keyed dedups carry explicit tiebreaks (reference: first-row-wins
  dropDuplicates — partitioning-dependent);
- the flattened frame is cached before the 6-way fan-out (reference
  re-executed the CSV scan + parse ~30× across DQ/show/write actions);
- DQ checkpoints are one aggregate pass each (reference: 4 actions per
  checkpoint).

Warehouse shape (parity with README.md:52-67 / etl/main.py:163-264):
DimClient, DimLocation (role-playing collection/delivery), DimState,
DimDate, DimShipping (5 FK left joins), FactShippingEvent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from parcel_analytics_etl_notebook_spark.functions.keys import surrogate_key
from parcel_analytics_etl_notebook_spark.operators.aggregates import dq_summary
from parcel_analytics_etl_notebook_spark.operators.dedup import dedup_first_row
from parcel_analytics_etl_notebook_spark.operators.flatten import flatten_structs


def _struct(*fields: StructField) -> StructType:
    return StructType(list(fields))


#: The event payload schema — verbatim shape of the reference's
#: ``event_schema`` (``etl/main.py:86-125``), incl. the state.date
#: string gotcha (``:107``).
EVENT_SCHEMA = _struct(
    StructField("event_code", StringType()),
    StructField("event_date", TimestampType()),
    StructField("entry_date", TimestampType()),
    StructField("event_nature", StringType()),
    StructField("event_sub_code", StringType()),
    StructField(
        "shipping",
        _struct(
            StructField("sign_code", StringType()),
            StructField("brand_code_alpha", StringType()),
            StructField(
                "collection",
                _struct(
                    StructField("prestation_code", StringType()),
                    StructField(
                        "round",
                        _struct(
                            StructField("codeAgence", IntegerType()),
                            StructField("pays", StringType()),
                        ),
                    ),
                ),
            ),
            StructField("paid", StringType()),
            StructField("sav_folder", BooleanType()),
            StructField("is_replaced", BooleanType()),
            StructField(
                "state",
                _struct(
                    StructField("code", StringType()),
                    StructField("date", StringType()),  # string, NOT a date
                    StructField("nature", StringType()),
                    StructField("sousCode", StringType()),
                ),
            ),
            StructField("canceled_state", StringType()),
            StructField("shipping_id", StringType()),
            StructField(
                "delivery",
                _struct(
                    StructField("prestation_code", StringType()),
                    StructField(
                        "round",
                        _struct(
                            StructField("codeAgence", IntegerType()),
                            StructField("pays", StringType()),
                        ),
                    ),
                ),
            ),
            StructField("parcel_number", IntegerType()),
            StructField("shipping_number", IntegerType()),
            StructField("options", StringType()),
            StructField("parcel_sequence", IntegerType()),
        ),
    ),
)

#: The 21 leaves the reference keeps at flatten (``etl/main.py:134-161``)
#: as dotted paths into the parsed struct.
FLATTEN_KEEP = [
    "parsed.event_code",
    "parsed.event_date",
    "parsed.entry_date",
    "parsed.event_nature",
    "parsed.event_sub_code",
    "parsed.shipping.sign_code",
    "parsed.shipping.brand_code_alpha",
    "parsed.shipping.collection.round.codeAgence",
    "parsed.shipping.collection.round.pays",
    "parsed.shipping.sav_folder",
    "parsed.shipping.is_replaced",
    "parsed.shipping.state.code",
    "parsed.shipping.state.date",
    "parsed.shipping.state.nature",
    "parsed.shipping.state.sousCode",
    "parsed.shipping.shipping_id",
    "parsed.shipping.delivery.round.codeAgence",
    "parsed.shipping.delivery.round.pays",
    "parsed.shipping.parcel_number",
    "parsed.shipping.shipping_number",
    "parsed.shipping.parcel_sequence",
]

#: flat name → reference flat name (``etl/main.py:134-161`` aliases)
FLATTEN_RENAMES = {
    "parsed_event_code": "event_code",
    "parsed_event_date": "event_date",
    "parsed_entry_date": "entry_date",
    "parsed_event_nature": "event_nature",
    "parsed_event_sub_code": "event_sub_code",
    "parsed_shipping_sign_code": "sign_code",
    "parsed_shipping_brand_code_alpha": "brand_code_alpha",
    "parsed_shipping_collection_round_codeAgence": "collection_codeAgence",
    "parsed_shipping_collection_round_pays": "collection_pays",
    "parsed_shipping_sav_folder": "sav_folder",
    "parsed_shipping_is_replaced": "is_replaced",
    "parsed_shipping_state_code": "state_code",
    "parsed_shipping_state_date": "state_date",
    "parsed_shipping_state_nature": "state_nature",
    "parsed_shipping_state_sousCode": "state_subcode",
    "parsed_shipping_shipping_id": "shipping_id",
    "parsed_shipping_delivery_round_codeAgence": "delivery_codeAgence",
    "parsed_shipping_delivery_round_pays": "delivery_pays",
    "parsed_shipping_parcel_number": "parcel_number",
    "parsed_shipping_shipping_number": "shipping_number",
    "parsed_shipping_parcel_sequence": "parcel_sequence",
}


def parse_events(raw: DataFrame, event_col: str = "event") -> DataFrame:
    """CSV row → parsed+flattened event frame (reference ``:128-161``).
    Malformed JSON → null struct (PERMISSIVE), same as the reference."""
    parsed = raw.withColumn("parsed", F.from_json(F.col(event_col), EVENT_SCHEMA))
    flat = flatten_structs(parsed.select("parsed"), include=FLATTEN_KEEP)
    for old, new in FLATTEN_RENAMES.items():
        flat = flat.withColumnRenamed(old, new)
    return flat


def build_warehouse(df_flat: DataFrame) -> dict[str, DataFrame]:
    """The six warehouse tables from a flattened event frame.

    The input is cached: six subtrees hang off it (reference re-executed
    the whole lineage per table per action instead)."""
    df_flat = df_flat.persist()

    # client_key uses the REFERENCE's "_" separator verbatim
    # (etl/main.py:167): it is an observable output column, so the key
    # format is part of parity — even though "_" is ambiguous when a
    # component contains it and concat_ws skips NULLs. New schemas
    # should use functions/keys.surrogate_key (KEY_SEP \x1f) instead;
    # the NULL case is excluded here by the isNotNull filter (also
    # reference behavior, etl/main.py:170).
    clients = df_flat.select(
        F.concat_ws("_", "brand_code_alpha", "sign_code").alias("client_key"),
        "brand_code_alpha",
        "sign_code",
    ).filter(F.col("brand_code_alpha").isNotNull() & F.col("sign_code").isNotNull())
    dim_client = dedup_first_row(
        clients, keys=["client_key"], order_by=["brand_code_alpha", "sign_code"]
    ).withColumn("client_id", surrogate_key("client_key"))

    collection = df_flat.select(
        F.col("collection_codeAgence").alias("codeAgence"),
        F.col("collection_pays").alias("pays"),
        F.lit("collection").alias("location_type"),
    )
    delivery = df_flat.select(
        F.col("delivery_codeAgence").alias("codeAgence"),
        F.col("delivery_pays").alias("pays"),
        F.lit("delivery").alias("location_type"),
    )
    dim_location = (
        collection.union(delivery)
        .dropDuplicates()
        .withColumn(
            "location_id", surrogate_key("codeAgence", "pays", "location_type")
        )
    )

    # NULL-keyed dim rows (e.g. the all-NULL state tuple from events
    # without a state struct) are RETAINED, and the FK joins below use
    # plain equality — so those rows are deliberately unreachable and
    # the fact keeps a NULL FK. That is the reference's own SQL-null
    # semantics (SURVEY §2.3 J4: "null keys never match; rows with
    # null state stay FK-null"), preserved on purpose.
    dim_state = (
        df_flat.select("state_code", "state_date", "state_nature", "state_subcode")
        .dropDuplicates()
        .withColumn(
            "state_id",
            surrogate_key("state_code", "state_date", "state_nature", "state_subcode"),
        )
    )

    # built inline rather than via star.build_date_dim: that helper
    # casts the date parts to bigint for DuckDB-oracle hash parity,
    # while THIS pipeline reproduces the reference's schema (year()
    # et al. are int, etl/main.py:205-209) — the two variants differ
    # on purpose.
    dim_date = (
        df_flat.select(F.to_date("event_date").alias("date"))
        .dropDuplicates()
        .select(
            "date",
            F.year("date").alias("year"),
            F.month("date").alias("month"),
            F.dayofmonth("date").alias("day"),
            F.quarter("date").alias("quarter"),
            F.dayofweek("date").alias("weekday"),
            surrogate_key("date").alias("date_id"),
        )
    )

    d = df_flat.alias("d")
    dim_shipping = (
        d.join(
            F.broadcast(dim_client.alias("c")),
            F.concat_ws("_", F.col("d.brand_code_alpha"), F.col("d.sign_code"))
            == F.col("c.client_key"),
            "left",
        )
        .join(
            F.broadcast(dim_location.alias("loc_col")),
            (F.col("d.collection_codeAgence") == F.col("loc_col.codeAgence"))
            & (F.col("d.collection_pays") == F.col("loc_col.pays"))
            & (F.col("loc_col.location_type") == F.lit("collection")),
            "left",
        )
        .join(
            F.broadcast(dim_location.alias("loc_del")),
            (F.col("d.delivery_codeAgence") == F.col("loc_del.codeAgence"))
            & (F.col("d.delivery_pays") == F.col("loc_del.pays"))
            & (F.col("loc_del.location_type") == F.lit("delivery")),
            "left",
        )
        .join(
            F.broadcast(dim_state.alias("st")),
            (F.col("d.state_code") == F.col("st.state_code"))
            & (F.col("d.state_date") == F.col("st.state_date"))
            & (F.col("d.state_nature") == F.col("st.state_nature"))
            & (F.col("d.state_subcode") == F.col("st.state_subcode")),
            "left",
        )
        .select(
            F.col("d.shipping_id"),
            F.col("c.client_id"),
            F.col("loc_col.location_id").alias("collection_location_id"),
            F.col("loc_del.location_id").alias("delivery_location_id"),
            F.col("st.state_id"),
            F.col("d.sav_folder"),
            F.col("d.is_replaced"),
            F.col("d.parcel_number"),
            F.col("d.parcel_sequence"),
            F.col("d.event_date").alias("__tiebreak"),
        )
        .where(F.col("shipping_id").isNotNull())
    )
    # tiebreak must be a TOTAL order over the carried attributes: two
    # same-timestamp events with different states would otherwise make
    # the surviving state_id partition-dependent — the exact
    # dropDuplicates hazard this module exists to fix. Remaining ties
    # are full-row duplicates, where the choice is immaterial.
    dim_shipping = dedup_first_row(
        dim_shipping,
        keys=["shipping_id"],
        order_by=[
            F.col("__tiebreak").asc_nulls_last(),
            F.col("client_id").asc_nulls_last(),
            F.col("collection_location_id").asc_nulls_last(),
            F.col("delivery_location_id").asc_nulls_last(),
            F.col("state_id").asc_nulls_last(),
            F.col("sav_folder").asc_nulls_last(),
            F.col("is_replaced").asc_nulls_last(),
            F.col("parcel_number").asc_nulls_last(),
            F.col("parcel_sequence").asc_nulls_last(),
        ],
    ).drop("__tiebreak")

    # NOTE: the reference also left-joins DimShipping here
    # (etl/main.py:249-251) but only keeps d.shipping_id — with a
    # unique-keyed left join that's a row-preserving no-op, so the
    # engine projects early instead of paying a dead join per fact
    # materialization (SURVEY §3 E2 left-join-elimination note).
    fact = (
        d.join(
            F.broadcast(dim_date.alias("dt")),
            F.to_date(F.col("d.event_date")) == F.col("dt.date"),
            "left",
        )
        .select(
            surrogate_key(
                "d.shipping_id", "d.event_code", "d.event_date", "d.entry_date"
            ).alias("event_id"),
            F.col("d.event_code"),
            F.col("d.event_sub_code"),
            F.col("d.event_date"),
            F.col("d.entry_date"),
            F.col("d.event_nature"),
            F.col("d.shipping_id"),
            F.col("dt.date_id"),
        )
    )

    return {
        "DimClient": dim_client,
        "DimLocation": dim_location,
        "DimState": dim_state,
        "DimDate": dim_date,
        "DimShipping": dim_shipping,
        "FactShippingEvent": fact,
    }


#: one DQ audit row in the reference's schema (``etl/main.py:21-65`` /
#: FIXTURES.md §C); the writer adds the run's ``timestamp`` column
DQ_REPORT_SCHEMA = (
    "check_point string, check_name string, status string, details string"
)
_DQRow = Row("check_point", "check_name", "status", "details")


def dq_checkpoint(df: DataFrame, checkpoint: str, cols: list[str] | None = None) -> list[Row]:
    """PASS/FAIL DQ report rows (:data:`DQ_REPORT_SCHEMA`) from ONE
    aggregate pass. Rows, not a frame: a run gathers every checkpoint's
    rows into one audit frame (:func:`~.parcel_run.run_parcel_etl`)."""
    summary = dq_summary(df, cols or df.columns[:3]).collect()[0].asDict()
    return _dq_rows(summary, checkpoint)


def dq_checkpoint_observed(observation, checkpoint: str) -> list[Row]:
    """PASS/FAIL DQ report rows from an ``observe()`` metrics row
    (operators/aggregates.dq_observation) — the checkpoint costs ZERO
    extra passes because the metrics were computed as a side effect of
    the action that consumed the observed frame (e.g. the parquet
    write). Call only after that action has run."""
    return _dq_rows(dict(observation.get), checkpoint)


def _dq_rows(summary: dict, checkpoint: str) -> list[Row]:
    rows = [
        _DQRow(
            checkpoint,
            "Non-empty dataframe",
            "PASS" if summary["row_count"] > 0 else "FAIL",
            f"Row count: {summary['row_count']}"
            if summary["row_count"] > 0
            else "Dataframe is empty",
        )
    ]
    for name, v in summary.items():
        if name.startswith("nulls_"):
            col = name[len("nulls_"):]
            n = v or 0
            rows.append(
                _DQRow(
                    checkpoint,
                    f"No nulls in column '{col}'",
                    "PASS" if n == 0 else "FAIL",
                    f"Null count: {n}",
                )
            )
    return rows


def kpi_report(fact: DataFrame) -> DataFrame:
    """The reference's notebook KPI query (``report.ipynb`` cell 8) on a
    FactShippingEvent frame: label SENT / DELIVERED_TO_POINT / PICKED_UP,
    pivot first event time per shipment, average day-diffs + distinct
    shipment count."""
    labeled = fact.filter(
        F.col("event_code").isin("PEC", "TRN", "LIV")
    ).withColumn(
        "event_type_label",
        F.when(
            (F.col("event_code") == "PEC")
            & F.col("event_sub_code").isin("REL", "APM"),
            "SENT",
        )
        .when(
            (F.col("event_code") == "TRN")
            & F.col("event_sub_code").isin("REL", "APM"),
            "DELIVERED_TO_POINT",
        )
        .when(F.col("event_code") == "LIV", "PICKED_UP"),
    )
    pivoted = labeled.groupBy("shipping_id").agg(
        F.min(F.when(F.col("event_type_label") == "SENT", F.col("event_date"))).alias(
            "sent_ts"
        ),
        F.min(
            F.when(
                F.col("event_type_label") == "DELIVERED_TO_POINT",
                F.col("event_date"),
            )
        ).alias("delivered_ts"),
        F.min(
            F.when(F.col("event_type_label") == "PICKED_UP", F.col("event_date"))
        ).alias("picked_up_ts"),
    )
    durations = pivoted.select(
        "shipping_id",
        F.datediff("delivered_ts", "sent_ts").alias("delivery_duration"),
        F.datediff("picked_up_ts", "sent_ts").alias("lifecycle_duration"),
        F.datediff("picked_up_ts", "delivered_ts").alias("pickup_duration"),
    )
    return durations.agg(
        F.round(F.avg("delivery_duration"), 2).alias("avg_delivery_days"),
        F.round(F.avg("lifecycle_duration"), 2).alias("avg_lifecycle_days"),
        F.round(F.avg("pickup_duration"), 2).alias("avg_pickup_days"),
        F.count_distinct("shipping_id").alias("total_packages"),
    )

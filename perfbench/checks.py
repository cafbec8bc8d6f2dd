"""Output checks. Each compares the engine's output with a result
computed without Spark: DuckDB over the same input files, or the
ground truth the input generator recorded."""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import glob
import hashlib
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq


def _canon(v):
    if isinstance(v, float):
        return None if math.isnan(v) else v + 0.0
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _canon(x)) for k, x in sorted(v.items()))
    return v


def table_digest(tbl: pa.Table) -> str:
    """Order-insensitive digest of a result table: column names, row
    count and every value at full precision, with engine-neutral forms
    for timestamps, decimals and nested values."""
    cols = sorted(tbl.column_names)
    rows = sorted(
        (repr(tuple(_canon(r[c]) for c in cols)) for r in tbl.select(cols).to_pylist())
    )
    h = hashlib.sha256(repr((cols, len(rows))).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _duckdb() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def duckdb_over(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = _duckdb()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def data_files(root: str) -> list[str]:
    """Published files under ``root``: everything but Spark's hidden
    checksum files and ``_SUCCESS`` markers."""
    out = []
    for dirpath, _, names in os.walk(root):
        out.extend(
            os.path.join(dirpath, n) for n in names if not n.startswith((".", "_"))
        )
    return sorted(out)


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in data_files(path)
        if f.endswith(".parquet")
    )


# ---------------------------------------------------------------- parcel


def check_parcel(out_dir: str, kpi: dict, truth: dict) -> list[str]:
    """KPI row and warehouse row counts against the generator's ground
    truth, plus the DQ audit's row count: 3 rows per pre/post-parse
    checkpoint and 4 per warehouse table."""
    problems = []
    for k, want in truth["kpi"].items():
        if kpi.get(k) != want:
            problems.append(f"kpi {k}: got {kpi.get(k)!r}, want {want!r}")
    for name, want in truth["rows"].items():
        got = parquet_rows(os.path.join(out_dir, name))
        if got != want:
            problems.append(f"{name}: {got} rows, want {want}")
    audit = 0
    for f in glob.glob(os.path.join(out_dir, "metadata", "dq_report", "*.csv")):
        with open(f, newline="") as fh:
            audit += sum(1 for _ in csv.reader(fh)) - 1
    want_audit = 3 + 3 + 4 * len(truth["rows"])
    if audit != want_audit:
        problems.append(f"dq audit: {audit} rows, want {want_audit}")
    return problems


# -------------------------------------------------------------- curation

_STAGES_SQL = r"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM '{path}'),
raw AS (SELECT * FROM t WHERE doc_id IS NOT NULL AND text IS NOT NULL AND len(toks) > 0),
quality AS (SELECT * FROM raw
            WHERE len(toks) >= 20 AND round(len(list_distinct(toks)) / len(toks), 4) >= 0.3),
exact AS (SELECT arg_min(len(toks), doc_id) AS n FROM quality
          GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
SELECT 'raw', count(*), coalesce(sum(len(toks)), 0) FROM raw
UNION ALL SELECT 'quality', count(*), coalesce(sum(len(toks)), 0) FROM quality
UNION ALL SELECT 'exact_dedup', count(*), coalesce(sum(n), 0) FROM exact
UNION ALL SELECT 'quarantined', (SELECT count(*) FROM t) - (SELECT count(*) FROM raw), 0
"""


def curation_expected(corpus: str) -> dict:
    """The funnel stages DuckDB can recompute exactly: validity,
    the quality pre-filter and exact dedup (lowest doc_id per
    normalized text). MinHash near-dedup is randomized by design, so
    the later stages are checked by invariants instead."""
    rows = _duckdb().execute(_STAGES_SQL.format(path=corpus)).fetchall()
    return {stage: [int(d), int(t)] for stage, d, t in rows}


def check_curation(out_dir: str, result: dict, expected: dict) -> list[str]:
    problems = []
    funnel = result["funnel"]
    stages = {f["stage"]: [f["docs"], f["tokens"]] for f in funnel}
    for stage in ("raw", "quality", "exact_dedup"):
        if stages.get(stage) != expected[stage]:
            problems.append(f"stage {stage}: {stages.get(stage)}, DuckDB {expected[stage]}")
    if result["quarantined"] != expected["quarantined"][0]:
        problems.append(f"quarantined {result['quarantined']}, DuckDB {expected['quarantined'][0]}")
    q_rows = parquet_rows(os.path.join(out_dir, "quarantine"))
    if q_rows != result["quarantined"]:
        problems.append(f"quarantine file holds {q_rows} rows, funnel says {result['quarantined']}")
    for a, b in zip(funnel, funnel[1:]):
        if b["docs"] > a["docs"] or b["tokens"] > a["tokens"]:
            problems.append(f"funnel grows from {a['stage']} to {b['stage']}")
    curated = ds.dataset(
        os.path.join(out_dir, "curated"), format="parquet", partitioning="hive",
        exclude_invalid_files=True,
    ).to_table(columns=["doc_id", "n_tokens", "lang", "source"])
    last = funnel[-1]
    if curated.num_rows != last["docs"]:
        problems.append(f"curated holds {curated.num_rows} docs, last stage {last['docs']}")
    ids = curated.column("doc_id")
    if len(ids.unique()) != curated.num_rows:
        problems.append("curated repeats a doc_id")
    con = _duckdb()
    con.register("curated", curated)
    manifest = pq.read_table(data_files(os.path.join(out_dir, "manifest"))).to_pylist()
    per_key = {
        (lang, src): (n, t)
        for lang, src, n, t in con.execute(
            "SELECT lang, source, count(*), sum(n_tokens) FROM curated GROUP BY ALL"
        ).fetchall()
    }
    if {(m["lang"], m["source"]): (m["n_docs"], m["n_tokens"]) for m in manifest} != per_key:
        problems.append("manifest differs from the curated data's (lang, source) totals")
    if sum(t for _, t in per_key.values()) != last["tokens"]:
        problems.append("curated token total differs from the last stage")
    return problems

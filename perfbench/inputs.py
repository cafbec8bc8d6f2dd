"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files (numpy PCG64 streams, Python's
``random.Random``, and pyarrow's deterministic parquet writer). None of
them touches Spark, so input generation never lands in a timed region
or in ``setup_s``.

- :func:`write_catalog_tables` writes a TPC-H-like star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables, with the column
  names, types and value ranges the catalog queries read, at the
  sf0.01 row counts the catalog's oracle tests use.
- :func:`write_parcel_landing` writes the parcel pipeline's landing
  directory: quoted multiline CSV files whose ``event`` cells hold the
  nested JSON payload built by ``plans.parcel_fixtures.event_json``,
  with shipment ids unique across files, and returns the ground truth
  the output check compares against.
- :func:`write_curation_corpus` writes a documents table built by the
  replica scheme of ``tools/gen_scaledata.gen_documents``: a base
  corpus with planted near-duplicates, exact duplicates and invalid
  rows, repeated under a seeded vocabulary permutation per replica.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: sf0.01 row counts of the catalog's oracle-checked scale
CATALOG_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "event_users": 150,
    "documents": 500,
    "embeddings": 500,
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(days: np.ndarray, base: str, seconds: np.ndarray | None = None) -> pa.Array:
    us = (np.datetime64(base, "us") - _EPOCH).astype(np.int64)
    us = us + days.astype(np.int64) * 86_400_000_000
    if seconds is not None:
        us = us + (seconds * 1e6).astype(np.int64)
    return pa.array(us, pa.timestamp("us"))


def _doc_texts(
    rng: random.Random, n: int, near_dup_frac: float, chains: bool = True
) -> list[str]:
    """``n`` texts of 10–99 tokens over :data:`VOCAB`; a share of them
    are near-duplicates: an earlier text with the token ``dup``
    appended (the shape of the catalog's planted pairs). With
    ``chains`` off, a near-duplicate always copies an original text, so
    every duplicate group is a star of depth one."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i > 10 and rng.random() < near_dup_frac:
            src = rng.randrange(i) if chains else rng.choice(originals)
            texts.append(texts[src] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))))
    return texts


def write_catalog_tables(out_dir: str, seed: int) -> None:
    """Write the ten catalog tables as one parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n = CATALOG_ROWS

    def write(name: str, cols: dict[str, pa.Array]) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, size: int) -> pa.Array:
        return pa.array(np.round(rng.uniform(lo, hi, size), 2))

    def choice(values: list[str], size: int) -> pa.Array:
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size)])

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    write("customer", {
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
        ),
    })
    s = n["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, s),
    })
    p = n["part"]
    adjs = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    write("part", {
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": pa.array([
            f"{adjs[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array([(9000 + k % 1000) / 10 for k in range(p)]),
    })
    o = n["orders"]
    write("orders", {
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": choice(["F", "O", "P"], o),
        "o_totalprice": money(1000.0, 500_000.0, o),
        "o_orderdate": _ts(rng.integers(0, 2404, o), "1995-01-01"),
        "o_orderpriority": choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
        ),
    })
    li = n["lineitem"]
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": money(900.0, 105_000.0, li),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100),
        "l_returnflag": choice(["A", "N", "R"], li),
        "l_linestatus": choice(["F", "O"], li),
        "l_shipdate": _ts(rng.integers(0, 2498, li), "1995-01-02"),
    })
    e = n["events"]
    write("events", {
        "event_id": pa.array(range(e), pa.int64()),
        "ts": _ts(np.zeros(e), "2024-01-01", np.sort(rng.uniform(0, 30 * 86_400, e))),
        "user_id": pa.array(rng.integers(0, n["event_users"], e), pa.int64()),
        "event_type": choice(["click", "error", "purchase", "signup", "view"], e),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    d = n["documents"]
    texts = _doc_texts(random.Random(seed), d, near_dup_frac=0.05)
    write("documents", {
        "doc_id": pa.array(range(d), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, d, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = n["embeddings"]
    vecs = rng.standard_normal((v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32()),
    })


# ---------------------------------------------------------------- parcel


def write_parcel_landing(
    out_dir: str, seed: int, n_shipments: int, n_files: int
) -> dict:
    """Write ``n_files`` quoted multiline CSV files holding
    ``n_shipments`` shipments in total and return the ground truth.

    Each shipment gets a PEC event, then a TRN and a LIV event with
    probability 0.95 each (the fixture's missing legs); every 20th PEC
    payload is pretty-printed (newlines inside the quoted cell). Each
    file also carries the fixture's edge rows, with file-unique ids: a
    null shipping id, null brand and sign codes, an id holding a quote
    and a newline, and one malformed JSON cell.

    The returned dict holds the expected KPI row and warehouse row
    counts, computed here from the generated events only.
    """
    from parcel_analytics_etl_notebook_spark.plans.parcel_fixtures import event_json

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    countries = ["FR", "DE", "ES"]
    # (shipping_id, code, sub, event_date, brand, sign, coll, deliv)
    events: list[tuple] = []
    files: list[list[str]] = [[] for _ in range(n_files)]
    for i in range(n_shipments):
        f = i % n_files
        sid = f"SHIP{i:07d}"
        coll = (rng.randint(1, 9), rng.choice(countries))
        deliv = (rng.randint(10, 19), rng.choice(countries))
        day0 = rng.randint(1, 20)
        legs = [("PEC", rng.choice(["REL", "APM"]), f"2024-01-{day0:02d} 08:00:00")]
        if rng.random() > 0.05:
            day = min(day0 + rng.randint(1, 4), 28)
            legs.append(("TRN", rng.choice(["REL", "APM"]), f"2024-01-{day:02d} 10:00:00"))
        if rng.random() > 0.05:
            day = min(day0 + rng.randint(2, 6), 28)
            legs.append(("LIV", None, f"2024-01-{day:02d} 12:00:00"))
        for code, sub, when in legs:
            pretty = code == "PEC" and i % 20 == 0
            files[f].append(event_json(code, sub, when, sid, coll=coll, deliv=deliv,
                                       indent=2 if pretty else None))
            events.append((sid, code, sub, when, "BR", "SG", coll, deliv))
    for f in range(n_files):
        edge = [
            (None, "PEC", "REL", "2024-01-21 09:00:00", "BR", "SG"),
            (f"SHIPNULL{f}", "PEC", "REL", "2024-01-21 10:00:00", None, None),
            (f'SHIP"Q\nX{f}', "TRN", "REL", "2024-01-21 11:00:00", "BR", "SG"),
        ]
        for sid, code, sub, when, brand, sign in edge:
            files[f].append(event_json(code, sub, when, sid, brand=brand, sign=sign))
            events.append((sid, code, sub, when, brand, sign, (1, "FR"), (2, "FR")))
        files[f].append("{this is not valid json")

    row_id = 0
    for f, rows in enumerate(files):
        with open(os.path.join(out_dir, f"events_{f:02d}.csv"), "w", newline="") as fh:
            w = csv.writer(fh, quoting=csv.QUOTE_ALL, doublequote=True)
            w.writerow(["row_id", "event"])
            for ev in rows:
                w.writerow([str(row_id), ev])
                row_id += 1
    return _parcel_truth(events, n_rows=row_id, n_malformed=n_files)


def _round_half_up(x: float, places: int) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def _parcel_truth(events: list[tuple], n_rows: int, n_malformed: int) -> dict:
    """Expected KPI row and table row counts for ``events`` (the parsed
    rows) plus ``n_malformed`` rows whose JSON does not parse."""
    first: dict[str, dict[str, str]] = {}
    for sid, code, sub, when, *_ in events:
        label = (
            "sent" if code == "PEC" and sub in ("REL", "APM")
            else "delivered" if code == "TRN" and sub in ("REL", "APM")
            else "picked" if code == "LIV"
            else None
        )
        legs = first.setdefault(sid, {})
        if label is not None and (label not in legs or when < legs[label]):
            legs[label] = when

    def avg_days(a: str, b: str) -> float | None:
        diffs = [
            (dt.date.fromisoformat(v[b][:10]) - dt.date.fromisoformat(v[a][:10])).days
            for v in first.values()
            if a in v and b in v
        ]
        return _round_half_up(sum(diffs) / len(diffs), 2) if diffs else None

    malformed = n_malformed > 0
    return {
        "kpi": {
            "avg_delivery_days": avg_days("sent", "delivered"),
            "avg_lifecycle_days": avg_days("sent", "picked"),
            "avg_pickup_days": avg_days("delivered", "picked"),
            "total_packages": sum(1 for sid in first if sid is not None),
        },
        "rows": {
            "FactShippingEvent": n_rows,
            "DimShipping": sum(1 for sid in first if sid is not None),
            "DimClient": len({(b, s) for _, _, _, _, b, s, *_ in events
                              if b is not None and s is not None}),
            "DimLocation": len(
                {(c, "collection") for *_, c, _ in events}
                | {(d, "delivery") for *_, d in events}
            ) + 2 * malformed,
            "DimDate": len({when[:10] for _, _, _, when, *_ in events}) + malformed,
            "DimState": 1 + malformed,
        },
    }


# -------------------------------------------------------------- curation


def write_curation_corpus(path: str, seed: int, base_docs: int, replicas: int) -> dict:
    """Write a ``documents`` parquet file of ``base_docs * replicas``
    rows and return its size.

    The base corpus has the catalog documents' shape (10–99 tokens over
    a 30-word vocabulary, 5% near-duplicates of original texts) plus 2%
    exact duplicates that differ only in case and whitespace, and 0.4%
    invalid rows (null, empty or blank text) for the quarantine. Replica ``r`` maps
    every token through its own seeded permutation of the vocabulary
    (replica 0 is verbatim) and shifts ``doc_id`` by ``r * base_docs``:
    Jaccard similarity is invariant under a token bijection, so each
    replica keeps the base corpus's duplicate structure while copies
    in different replicas do not match each other.
    """
    rng = random.Random(seed)
    # no dup-of-dup chains: connected-components rounds depend on group
    # depth, and a seed-dependent round count would spread the wall
    texts: list[str | None] = _doc_texts(rng, base_docs, near_dup_frac=0.05, chains=False)
    for i in range(11, base_docs):
        u = rng.random()
        if u < 0.02:
            src = texts[rng.randrange(i)]
            if src:
                texts[i] = "  " + src.upper().replace(" ", " \t ", 3)
        elif u < 0.024:
            texts[i] = rng.choice([None, "", "   "])
    langs = [LANGS[k] for k in rng.choices(range(5), weights=LANG_P, k=base_docs)]
    vocab = VOCAB + ["dup"]
    out: dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": []}
    for r in range(replicas):
        perm = vocab[:]
        if r > 0:
            rng.shuffle(perm)
        mapping = dict(zip(vocab, perm))
        mapping.update({w.upper(): p.upper() for w, p in mapping.items()})
        for i, text in enumerate(texts):
            if text is not None:
                text = " ".join(mapping.get(w, w) for w in text.split(" "))
            out["doc_id"].append(r * base_docs + i)
            out["text"].append(text)
            out["lang"].append(langs[i])
            out["source"].append(f"src{i % 20}")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(out["doc_id"], pa.int64()),
            "text": pa.array(out["text"], pa.string()),
            "lang": pa.array(out["lang"], pa.string()),
            "source": pa.array(out["source"], pa.string()),
        }),
        path,
    )
    return {"docs": len(out["doc_id"])}

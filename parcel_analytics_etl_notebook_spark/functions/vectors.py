"""Vector math over ``array<float>`` embedding columns.

Uses higher-order functions (``zip_with`` + ``aggregate``) so the math
runs in the JVM on codegen'd expressions — no Python round trip. Cast to
double FIRST so accumulation happens in float64 (matches the SQL oracle,
avoids float32 drift).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dbl(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length numeric arrays."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm."""
    return F.sqrt(
        F.aggregate(_dbl(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; null if either vector has zero norm."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(None).cast("double")).otherwise(
        dot(a, b) / (na * nb)
    )


def _f64(x: float) -> str:
    """Exact SQL double literal: repr round-trips IEEE doubles and the
    ``...D`` suffix parses them as DOUBLE without DECIMAL coercion.
    Non-finite values (a NaN/inf creeping into trained centroids or
    power-iteration weights) have no ``...D`` literal form — emit the
    CAST-string form the pre-r12 emission used so they parse instead
    of surfacing as an opaque SQL parse error (ADVICE r12)."""
    v = float(x)
    if v != v:  # NaN
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _arr64(weights: list[float]) -> str:
    """SQL array<double> literal for a driver-side constant vector —
    FLAT (64 sibling literals), so analysis cost is linear and shallow,
    and ConstantFolding collapses it to ONE Literal node on first
    optimizer contact."""
    return "array(" + ",".join(_f64(w) for w in weights) + ")"


def dot_literal_sql(vec: str, weights: list[float]) -> str:
    """SQL string for the dot product of vector column ``vec`` with a
    DRIVER-SIDE constant vector, as a ``zip_with + aggregate`` fold.

    Bit-identical doubles to the old per-term unrolled chain AND to
    ``dot(vec, F.array(lits))``: the fold computes ((0 + p₀) + p₁) + …
    left-associatively, element casts widen float→double exactly, and
    multiplication by a constant (±1.0 included) is one correctly-
    rounded double op in both forms.

    r12 form change (unrolled chain → HOF, measured at sf0.1): the
    64-term-per-plane chain made a 48-plane fingerprint a ~6,000-node
    Catalyst tree — re-analyzed/re-optimized on EVERY action touching
    the plan and janino-compiled into a method big enough for a JIT
    bailout (vectors.cosine_prenormed_hof docstring: 8–11 µs/row
    unrolled vs 4.5 µs/row HOF at 200k×dim64). The HOF form is ~10
    nodes + one flat array literal per plane: build 0.76→0.21s, exec
    0.74→0.56s on the banded-LSH bucketing pass, zero changed output
    rows. NOTE: folds over the FULL array — callers pass weights of
    exactly the vector dim (all current sites do)."""
    return (
        f"aggregate(zip_with(CAST({vec} AS ARRAY<DOUBLE>), "
        f"{_arr64(weights)}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def dot_literal(vec: str, weights: list[float]) -> Column:
    """Dot product with a driver-side constant vector — ONE ``F.expr``
    parse of :func:`dot_literal_sql` (composing the same tree from
    Python ``Column`` ops costs hundreds of py4j round trips per call;
    dominates k-means iteration time at small SF). ``vec`` is a column
    NAME. Use whenever one side is a Python constant (trained
    centroids, power-iteration direction, LSH hyperplanes)."""
    return F.expr(dot_literal_sql(vec, weights))


def signed_bits_sql(vec: str, planes: list[list[float]]) -> str:
    """SQL for the hyperplane-LSH bucket Σ_j (dot(vec, plane_j) > 0)
    << j as BIGINT — the shared emission for every sign-projection
    fingerprint (8-plane LSH, 4×12 banded LSH, SimHash64). Bit-exact
    vs any composition order: the per-plane terms are integers, and
    each dot is :func:`dot_literal_sql` (bit-identical doubles to the
    unrolled chain). One string → one parse → a flat, small tree."""
    terms = [
        f"(CASE WHEN {dot_literal_sql(vec, [float(s) for s in p])} > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j, p in enumerate(planes)
    ]
    return "(CAST(0 AS BIGINT) + " + " + ".join(terms) + ")"


def norm_literal_sq(vec: str, dim: int) -> Column:
    """Σ v[d]² (same fold order as l2_norm; one F.expr parse — see
    dot_literal_sql for the r12 HOF form change; ``dim`` must equal
    the stored vector length, as everywhere in this catalog)."""
    return F.expr(
        f"aggregate(CAST({vec} AS ARRAY<DOUBLE>), CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + v * v)"
    )


def _unrolled_dot_sql(a: str, b: str, dim: int) -> str:
    """Column-vs-column dot as a HOF fold (name kept from the unrolled
    era; same ((0+p₀)+p₁)+… IEEE chain, see dot_literal_sql)."""
    return (
        f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), "
        f"CAST({b} AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def cosine_cols(a: str, b: str, dim: int) -> Column:
    """Cosine between two vector COLUMNS in one ``F.expr`` (same
    left-associative fold order as :func:`cosine_similarity` →
    identical IEEE doubles, oracle-safe). Since the r12 HOF form the
    old 64 KB-codegen-overflow caveat is gone (the fused expression is
    a handful of folds), but the norms still evaluate once per PAIR
    here — on hot pair-scoring paths precompute per-side norm columns
    and use :func:`cosine_prenormed`."""
    dot = _unrolled_dot_sql(a, b, dim)
    na = f"sqrt({_unrolled_dot_sql(a, a, dim)})"
    nb = f"sqrt({_unrolled_dot_sql(b, b, dim)})"
    return F.expr(
        f"CASE WHEN {na} = 0 OR {nb} = 0 THEN CAST(NULL AS DOUBLE) "
        f"ELSE ({dot}) / ({na} * {nb}) END"
    )


def cosine_prenormed(a: str, b: str, na: str, nb: str, dim: int) -> Column:
    """Cosine between vector columns ``a``/``b`` whose L2 norms were
    PRECOMPUTED into columns ``na``/``nb`` (each via
    ``F.sqrt(norm_literal_sq(...))`` so the IEEE values match the fused
    form exactly).

    This is the hot-path form: :func:`cosine_cols` recomputes both
    norms once per PAIR; splitting them into per-side projected
    columns makes the per-pair work one dot fold while producing
    bit-identical doubles: same left-associative fold per chain, same
    ``dot / (na * nb)`` division order (the r09 64 KB-overflow story
    is gone with the r12 HOF form — see dot_literal_sql)."""
    dot_sql = _unrolled_dot_sql(a, b, dim)
    return F.expr(
        f"CASE WHEN {na} = 0 OR {nb} = 0 THEN CAST(NULL AS DOUBLE) "
        f"ELSE ({dot_sql}) / ({na} * {nb}) END"
    )


def cosine_prenormed_hof(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """HOF twin of :func:`cosine_prenormed`: per-pair dot via
    ``zip_with + aggregate``, side norms precomputed into columns.

    Measured (Spark 4.1, local, 200k rows × dim 64, single core):
    the unrolled dot chain is the SLOWEST form under whole-stage
    codegen — the 64-deep expression inlines into a giant method the
    JIT bails out of (8–11 µs/row) — while the HOF fold runs ~4.5
    µs/row and per-expression codegen (wholeStage off) ~1.8 µs/row.
    So for quadratic pair-scoring hot paths, prefer THIS form: the
    HOF dot plus prenormed norms keeps per-pair work to one fold and
    avoids the JIT bailout. Bit-identical doubles to cosine_prenormed
    and cosine_similarity: the aggregate fold is the same
    left-associative ((0+p₀)+p₁)+… chain in float64, and the division
    order ``dot / (na * nb)`` matches."""
    na_c = F.col(na) if isinstance(na, str) else na
    nb_c = F.col(nb) if isinstance(nb, str) else nb
    return F.when(
        (na_c == 0) | (nb_c == 0), F.lit(None).cast("double")
    ).otherwise(dot(a, b) / (na_c * nb_c))

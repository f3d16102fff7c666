"""JVM-side vector math over array<float>/array<double> columns.

This is the retrieval capability the reference *declared* but never shipped:
it installs pgvector + pgvectorscale and creates a VECTOR(768) column
(src/rag/sqlx.rs:22-29,42) yet no ``<->``/``<=>`` operator, index DDL,
ORDER BY or LIMIT appears anywhere in its source (SURVEY §0, E3 in §2.7).
Here cosine/L2/dot are pure Catalyst expressions (``zip_with`` +
``aggregate``) — they stay inside the JVM, vectorize over the scan, and
scale with ordinary Spark parallelism.  No Python UDF in the hot path.

``dot_product``/``l2_norm``/``cosine_similarity`` cast their operands to
array<double>, so results are reproducible against the DuckDB oracle,
which also computes list ops in double.

Squared L2 — the one definition every k-means, IVF and PQ plan scores
with — is ``sq_l2``, and the nearest-codeword argmin built on it is
``nearest``.  Their contract:

* **Fold order.**  ``sq_l2(a, b)`` is the left fold
  ``(((0.0 + t0) + t1) + ...)`` with ``t_i = (a[i] - b[i]) * (a[i] - b[i])``,
  leading ``0.0D`` included.  The DuckDB twins (``list_sum`` over
  ``list_transform``) sum the same terms in the same order.
* **Unrolling.**  Higher-order functions are CodegenFallback: the
  ``zip_with``/``aggregate`` fold is evaluated interpreted on every row.
  When the dimension ``d`` is static, ``sq_l2(a, b, d)`` renders the same
  left-associated sum as flat arithmetic ``0.0D + t0 + ... + t(d-1)``,
  which whole-stage codegen compiles — bit-identical to the fold.  Indexes
  are 0-based and must be in bounds (operands of length >= d), so the form
  is ANSI-safe by construction.
* **Tie-break.**  ``nearest`` is ``array_min`` over ``struct(d2, id)``:
  smallest d2 wins, then smallest id — the order the oracles' ``ORDER BY
  d2, id`` / ``min_by(.., (d2, id))`` replay.
* **No casts.**  ``sq_l2`` does not cast its operands; callers pass
  array<double> (or hoist the cast into a projected column) so the terms
  are the doubles the oracle computes.

Both take SQL expression strings, so lambda variables (``c.cw``) work as
operands, and both render ONE ``F.expr``: a d-term unrolled sum composed
out of Column ops costs several py4j round trips per term at every plan
build; the rendered string is one call.

Dot product, norm and cosine have SQL renderers too — ``dot``, ``norm``
and ``cosine`` return SQL text for the caller to compose into one
``F.expr``, and ``vec_literal`` renders a driver-side query vector as
one ``array(<repr>D, ...)`` literal instead of d ``F.lit`` calls:

* **Fold order.**  ``dot(a, b)`` is the left fold
  ``aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, t) -> acc + t)``
  — the very expression tree ``dot_product`` builds, so the two are
  bit-identical; ``norm(a)`` is ``sqrt(dot(a, a))`` and ``cosine(a, b)``
  is ``dot(a, b) / (norm(a) * norm(b))``, the trees of ``l2_norm`` and
  ``cosine_similarity``.  ``cosine`` takes the norms as optional
  operands so a caller that hoisted them (a projected column, a state
  field) divides by the same doubles.
* **No casts.**  Like ``sq_l2``, the renderers do not cast; callers
  pass array<double>.  ``dot_product``/``l2_norm``/``cosine_similarity``
  (Column operands, casting) stay for the callers that pass Columns or
  Python lambdas.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Sequential left-to-right fold — deterministic summation order."""
    a, b = _as_double_array(a), _as_double_array(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot_product(a, a))


def dot(a: str, b: str) -> str:
    """SQL text of ``dot_product`` over two array<double> SQL expressions:
    the same left fold, bit-identical (module docstring)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, t) -> acc + t)"
    )


def norm(a: str) -> str:
    """SQL text of ``l2_norm``: ``sqrt(dot(a, a))``."""
    return f"sqrt({dot(a, a)})"


def cosine(a: str, b: str, na: str | None = None, nb: str | None = None) -> str:
    """SQL text of ``cosine_similarity``: ``dot(a, b) / (|a| * |b|)``;
    ``na``/``nb`` name already-computed norms (else rendered in place)."""
    return f"({dot(a, b)} / ({na or norm(a)} * {nb or norm(b)}))"


def _double_sql(x: float) -> str:
    # repr is the shortest string that round-trips; Spark parses a
    # ``<digits>D`` literal with Double.parseDouble, so the value is the
    # same double F.lit(x) carries.  Non-finite values have no literal.
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x in (float("inf"), float("-inf")):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def vec_literal(values) -> str:
    """A driver-side vector as ONE array<double> SQL literal."""
    return "array(" + ", ".join(_double_sql(float(x)) for x in values) + ")"


def _sq_l2_sql(a: str, b: str, d: int | None) -> str:
    if d is None:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            "0.0D, (acc, t) -> acc + t)"
        )
    terms = " + ".join(
        f"(({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}]))" for i in range(d)
    )
    return f"(0.0D + {terms})"


def sq_l2(a: str, b: str, d: int | None = None) -> Column:
    """Squared L2 distance of two array<double> SQL expressions — the
    left fold, or its unrolled twin when ``d`` is static (module
    docstring)."""
    return F.expr(_sq_l2_sql(a, b, d))


def sq_l2_py(a: list[float], b: list[float]) -> float:
    """Driver-side Python twin of ``sq_l2``: the same terms in the same
    left-to-right IEEE double sequence, so it replays the engine's value
    bit-for-bit (used to rank frozen literals at plan-construction
    time)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def nearest(
    vec: str, book: str, vec_field: str, id_field: str, d: int | None = None
) -> Column:
    """Nearest codeword of ``vec`` in ``book`` (an array of structs with
    fields ``vec_field`` and ``id_field``), in place: a
    ``struct(d2, <id_field>)`` column, smallest d2 then smallest id."""
    d2 = _sq_l2_sql(vec, f"c.{vec_field}", d)
    return F.expr(
        f"array_min(transform({book}, c -> struct({d2} AS d2, "
        f"c.{id_field} AS {id_field})))"
    )


def l2_distance(a: str, b: str) -> Column:
    """L2 distance of two array SQL expressions, cast to array<double>."""
    return F.sqrt(
        sq_l2(f"CAST({a} AS ARRAY<DOUBLE>)", f"CAST({b} AS ARRAY<DOUBLE>)")
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a| * |b|); matches DuckDB list_cosine_similarity on
    DOUBLE[] up to summation ulps (callers round before comparing)."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))

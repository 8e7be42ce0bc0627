"""Portable, engine-agnostic hashing and numeric helpers.

The correctness gate compares Spark results against DuckDB, so every hash
used in a gated query must produce *identical* values in both engines.
``md5`` (lowercase hex) is the only hash both implement identically, so all
sketches (MinHash, SimHash, fingerprints) are built from it:

- MinHash: lexicographic MIN over md5 hex strings (total order on strings is
  engine-independent; no hex→int conversion needed).
- SimHash: per-bit counts extracted from md5 hex chars via
  ``instr('0123456789abcdef', ch) - 1`` + integer div/mod (both engines).

``decimal_sum`` implements the order-independent float aggregation idiom:
cast each element to DECIMAL (exact, associative addition — immune to
partition order), sum, then cast the total to DOUBLE (deterministic
nearest-double conversion). Never SUM raw doubles in a gated query.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def seeded_md5(seed: int, col: Column | str) -> Column:
    """Family of independent hash functions indexed by integer seed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat_ws("|", F.lit(str(seed)), c.cast("string")))


def decimal_sum(col: Column | str, scale: int = 6, alias: str | None = None) -> Column:
    """Order-independent SUM of a double column: per-element DECIMAL(18,s)
    cast → exact sum → DOUBLE. DuckDB oracle equivalent:
    ``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)``."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(18,{scale})")).cast("double")
    return out.alias(alias) if alias else out


def decimal_sum_expr(expr: Column, precision: int = 25, scale: int = 4) -> Column:
    """Same idiom for a computed per-row double expression (e.g. price *
    (1 - discount)): the row-level arithmetic is a fixed-parenthesisation
    IEEE op (deterministic), the cast pins it to an exact decimal, the sum
    is then associative.

    Scale is kept low on purpose: the final DECIMAL→DOUBLE conversion is
    only engine-identical while the *unscaled* total stays below 2^53
    (DuckDB converts int128→double then divides by 10^scale; Spark rounds
    the exact decimal) — at scale 4 a 10^11-magnitude total is still safe."""
    return F.sum(expr.cast(f"decimal({precision},{scale})")).cast("double")


def unscaled_fixed(expr: Column, scale: int) -> Column:
    """``floor(x * 10^scale + 0.5)`` as BIGINT — the value whose decimal
    interpretation at ``scale`` equals ``CAST(x AS DECIMAL(p, scale))``
    under the fast-path precondition (see ``fast_decimal_sum_expr``)."""
    return F.floor(expr * F.lit(float(10**scale)) + F.lit(0.5))


def fast_decimal_sum_expr(
    expr: Column, scale: int = 6, final_scale: int | None = None
) -> Column:
    """Result-identical fast path for ``decimal_sum`` / ``decimal_sum_expr``
    on CLEAN fixed-point doubles (guide §1.2 step 2 — per-task work).

    The generic idiom casts every row double→DECIMAL, which Spark executes
    via ``BigDecimal(Double.toString(v))`` — a per-row string format+parse
    (~µs) that dominated the scan+agg queries' wall (q1: 2.9s → 1.1s at
    sf0.1×32 when replaced). This variant computes the SAME decimal sum
    from the unscaled integer instead:

        per row:  u = floor(x·10^s + 0.5)      (pure codegen arithmetic)
        sum:      SUM(CAST(u AS DECIMAL(18,0)))  → DECIMAL(28,0) buffer
        post-agg: ( Σu / 10^s )  exact decimal division, one row per group
        final:    [optional half-up rescale to ``final_scale``] → DOUBLE

    PRECONDITION (caller must prove, per expression): the true value of
    ``x`` is an exact decimal of at most ``scale`` fractional digits with
    |x|·10^s < 2^52. Then x·10^s sits within ε≪0.5 of that integer, so
    floor(x·10^s+0.5) recovers it exactly — the same integer the decimal
    cast derives from the double's shortest decimal representation (both
    HALF_UP; no representable double lands on an exact .5 boundary of a
    ≤s-digit value). Money columns (2 dp), quantities (integers), and
    2-3 term products of them (4-6 dp) all qualify; arbitrary computed
    doubles (ratios, roots) do NOT — keep ``decimal_sum`` there.

    Equivalence of the tail: Σu is the same unscaled total the decimal
    sum accumulates; ``/ 10^s`` with a DECIMAL(s+1,0) literal yields
    precision ≤ 38, scale ≥ s (exact — no rounding possible); the final
    DOUBLE cast rounds the same exact decimal value once, exactly as
    DECIMAL(p+10,s)→DOUBLE does. With ``final_scale`` the half-up rescale
    happens on the same exact value the slow path rescales. Capacity:
    unscaled totals to 10^28 (vs the generic idiom's 10^28 at p=18) —
    ~10^22 currency units, far beyond a 100 TB corpus total.
    """
    u = unscaled_fixed(expr, scale).cast("decimal(18,0)")
    q = F.sum(u) / F.lit(10**scale).cast(f"decimal({scale + 1},0)")
    if final_scale is not None:
        q = q.cast(f"decimal(25,{final_scale})")
    return q.cast("double")

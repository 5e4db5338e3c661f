"""Order-independent exact aggregates — the cross-engine float contract.

Every formula here is ONE SQL text. DuckDB runs it verbatim in a query's
oracle; Spark runs the same string through ``F.expr``. There is no
Column-builder twin, so the two engines cannot drift apart by a
transcription error, and each aggregate is a single py4j call to build.

Why the formulas look the way they do: plain ``round(sum(x), d)`` /
``round(avg(x), d)`` drifted 1 ulp from the DuckDB oracle on dense
groups (first on the sf0.1 hourly rates, then on ~1e11-magnitude sums at
10x sf0.1, SURVEY §7.10). There are three failure modes:

1. float sums are not associative → quantize to a 1/q grid with
   ``floor(x*q + 0.5)`` (pure IEEE: multiply/add/floor are bit-identical
   in every engine; NOT round(), whose half-rule differs) and sum as
   exact int64 — integer addition IS associative, so the result cannot
   depend on partial order;
2. engine ``round(double, d)`` half-rules disagree exactly at
   representation boundaries (Spark rounds the shortest decimal string
   HALF_UP, DuckDB rounds the binary double) → the final d-decimal round
   is the same floor form, never the engine's round();
3. quantized averages are rationals landing exactly on .5*10^-d
   boundaries far more often than generic floats — which is why mode 2
   must be fixed wherever mode 1 is.

The int64 sums ride the hi/lo carrier (``hilo_sum_sql``), exact to
|sum| < 2^93 with no wide integer type on either engine. Callers pick q
per column (documented at each use).

Literal types: Spark SQL and DuckDB both type a plain literal such as
``100.0`` as DECIMAL. Against a DOUBLE operand it is coerced to DOUBLE;
against an integer operand the arithmetic stays DECIMAL (see
``_SHIFT_D``). ``test_exact_aggregates_plan_has_no_decimal`` pins that
no query using these texts keeps a Decimal type in its optimized plan.
New literals are spelled in exponent form (``1e2``), DOUBLE in both
engines.

Three-way fuzz (Spark == DuckDB == pure-IEEE replay) in
tests/test_operators.py.
"""

from __future__ import annotations


def sum_exact_sql(c: str, q: int, out_dec: int = 4) -> str:
    """Order-independent ``round(sum(c), out_dec)``: the exact hi/lo sum
    of ``c`` on the 1/q grid, divided by q once, then the floor-form
    round."""
    return fgrid_sql(f"{hilo_sum_sql(qlong_sql(c, q))} / {float(q)}", out_dec)


def avg_exact_sql(c: str, q: int, out_dec: int = 4) -> str:
    """Order-independent ``round(avg(c), out_dec)``; NULL-skipping like
    the float avg (``count`` of the quantized value, which is NULL
    exactly where ``c`` is)."""
    qq = qlong_sql(c, q)
    return fgrid_sql(
        f"{hilo_sum_sql(qq)}"
        f" / (CAST(count({qq}) AS DOUBLE) * {float(q)})",
        out_dec,
    )


# --------------------------------------------------------------------------
# hi/lo exact integer sums — the r7 carrier (retires DECIMAL(38,0)/HUGEINT)
# --------------------------------------------------------------------------
#
# ADVICE r6 (medium): the DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) carriers
# convert to double differently once the SUM passes 2^63 — Spark's
# BigInteger.doubleValue is correctly rounded, DuckDB recombines 64-bit
# halves (a double rounding) — so "both round-to-nearest of the same exact
# integer" was only true inside int64 range. The hi/lo carrier removes the
# wide integer type entirely:
#
#   lo = p % 2^30                      (int64; truncated % in BOTH engines)
#   hi = CAST((p - lo) / 2^30.0 AS BIGINT)
#
# (p - lo) is a multiple of 2^30 with |p - lo| < 2^63, so as a double it
# has <= 33 significant bits -> the int64->double conversion is EXACT, the
# power-of-two division is EXACT, and the BIGINT cast is of an integral
# double (Spark truncates, DuckDB rounds — equal on integral values). The
# two int64 sums are order-independent exact integers; recombination
#
#   S = CAST(sum(hi) AS DOUBLE) * 2^30.0 + CAST(sum(lo) AS DOUBLE)
#
# is one correctly-rounded int64->double conversion each (deterministic in
# every IEEE engine), one exact power-of-two multiply, one IEEE add — the
# SAME text runs on both engines, so S is bit-identical by construction.
#
# Budgets: |p| < 2^63 per row (int64 product); |sum(hi)| < 2^63 <=>
# |sum(p)| < 2^93 ~ 9.9e27; |sum(lo)| <= n * 2^30 < 2^63 for n < 2^33
# rows. Callers document per-query magnitudes against these.

HILO_SHIFT = 1 << 30


def qlong_sql(c: str, q: int) -> str:
    """``floor(c*q + 0.5)`` as BIGINT — the exact 1/q-grid quantizer.
    NULL in, NULL out, so sum/count skip it like the float aggregates
    they replace."""
    return f"CAST(floor(({c}) * {float(q)} + 0.5) AS BIGINT)"


# Literal spelled in EXPONENT notation: Spark SQL types `1073741824.0`
# as DECIMAL(11,1), which against the BIGINT numerator silently routes
# the per-row hi-division through Decimal128 arithmetic — same exact values (the
# numerator divides exactly either way) but ~3x the aggregate cost,
# caught by the r7 bench. `1073741824e0` is DOUBLE in both engines.
_SHIFT_D = f"{HILO_SHIFT}e0"


def hilo_sum_sql(p: str) -> str:
    """Order-independent exact ``sum(p)`` as a DOUBLE, for any int64
    expression ``p`` — shared text, parses and evaluates identically in
    Spark SQL and DuckDB (see module comment for the proof)."""
    lo = f"(({p}) % {HILO_SHIFT})"
    hi = f"CAST((({p}) - {lo}) / {_SHIFT_D} AS BIGINT)"
    return (
        f"(CAST(CAST(sum({hi}) AS BIGINT) AS DOUBLE) * {_SHIFT_D}"
        f" + CAST(CAST(sum({lo}) AS BIGINT) AS DOUBLE))"
    )


def count_d_sql(c: str) -> str:
    """``count(c)`` as DOUBLE — shared text (NULL-skipping like the
    moment sums it normalizes)."""
    return f"CAST(count({c}) AS DOUBLE)"


def sum_d_sql(c: str) -> str:
    """Exact int64 ``sum(c)`` as DOUBLE — shared text. Budget: the SUM
    itself must stay under 2^63 (use hilo_sum_sql past that)."""
    return f"CAST(CAST(sum({c}) AS BIGINT) AS DOUBLE)"


def fgrid_sql(expr: str, out_dec: int) -> str:
    """d-decimal output grid ``floor(x*10^d + 0.5)/10^d`` — the shared
    pure-IEEE round (never the engines' round(), whose half-rules
    diverge at representation boundaries)."""
    return f"floor(({expr}) * 1e{out_dec} + 0.5) / 1e{out_dec}"


# Bivariate-moment derived forms over the n^2-scaled centered moments
# (covn = n*Sxy - Sx*Sy, varn = n*Sxx - Sx*Sx): every fragment is pure
# IEEE arithmetic over deterministic doubles, shared verbatim by both
# engines. Degenerate-group guards (ADVICE r6: Spark's non-ANSI double
# divide returns NULL on /0 while DuckDB yields inf/nan) are integer-
# exact CASE predicates in the same shared text.


def covn_sql(n: str, sxy: str, sx: str, sy: str) -> str:
    return f"(({n}) * ({sxy}) - ({sx}) * ({sy}))"


def varn_sql(n: str, sxx: str, sx: str) -> str:
    return f"(({n}) * ({sxx}) - ({sx}) * ({sx}))"


# --------------------------------------------------------------------------
# Shared-series ln() — retires the LAST libm kernel on any hashed surface
# (r8 verdict #4; the ready-to-apply patch documented in OPERATORS.md).
# --------------------------------------------------------------------------
#
# zipf_fit / heaps_law_fit quantize ln(<int64>) to a 1e-6 grid. libm ln is
# NOT a basic IEEE op: JVM Math.log carries a 1-ulp contract
# (intrinsic-dependent) while DuckDB uses glibc log, so the two engines can
# disagree by 1 ulp and flip floor(ln(x)*1e6 + 0.5) when the scaled value
# lands within an ulp of a half-integer. This helper emits ln(n) for
# integer n >= 1 out of +,-,*,/ and integer comparisons ONLY — every one
# correctly rounded and order-fixed by the emitted text, so both engines
# produce the bit-identical double by construction:
#
#   n = m * 2^k exactly:  k = floor(log2 n) via an integer CASE ladder
#   (n < 2, n < 4, ..., n < 2^62 — exact int64 comparisons, ELSE 62),
#   m = CAST(n AS DOUBLE) / 2^k  (int64->double is correctly rounded and
#   identical cross-engine; power-of-two division is EXACT), m in [1, 2).
#
#   t = (m - 1)/(m + 1) in [0, 1/3);  s = t*t;
#   ln(m) = 2*t*(1 + s/3 + s^2/5 + ... + s^11/23)   (atanh series,
#   Horner, 12 terms — truncation < t^24/12 ~ 2.4e-13 relative).
#
#   ln(n) = k * LN2 + ln(m),  LN2 one shared double literal.
#
# The contract is GRID-exactness, not true-ln accuracy: both engines run
# the identical op sequence over identical doubles, so the 1e-6 quantizer
# sees identical inputs; the ~1e-13 deviation from true ln moves a fit
# slope by < 1e-9 — invisible at the 1e-4 output grid. All literals are
# spelled in exponent notation (the Spark DECIMAL-literal trap: `0.5` is
# DECIMAL in Spark SQL, `5e-1` is DOUBLE in both engines) and generated
# from repr() so both parsers round-trip to the same double.
#
# Cost: 2 CASE ladders (<= 62 int comparisons each) + ~30 double ops per
# row, whole-stage-codegen'd; both call sites run it on <= ~1e3-row fit
# lattices, so the cost is immeasurable.
#
# STAGING (why three helpers, not one expression): a single textual
# expression duplicates subterms exponentially (t := f(m) twice in s,
# s 12x in the Horner chain -> the 2.5 KB ladder inlined ~48x = ~120 KB
# of SQL per ln). Instead the caller materializes k and m ONCE as named
# columns in a projection stage (ln_k_sql / ln_m_sql), then applies
# ln_from_km_sql over the column NAMES — same ops, same order, ~1.5 KB
# text. Both engines evaluate named-column projections identically, so
# the shared-text bit-identity argument is unchanged.

_LN2_D = "6.931471805599453e-1"  # repr(math.log(2)) — nearest double

# 1/23 ... 1/3, innermost Horner coefficient first; nearest-double decimal
# literals (repr round-trips), exponent-suffixed for the DECIMAL trap.
_ATANH_COEFS = [
    "4.3478260869565216e-2",  # repr(1/23)
    "4.7619047619047616e-2",  # repr(1/21)
    "5.263157894736842e-2",   # repr(1/19)
    "5.8823529411764705e-2",  # repr(1/17)
    "6.666666666666667e-2",   # repr(1/15)
    "7.692307692307693e-2",   # repr(1/13)
    "9.090909090909091e-2",   # repr(1/11)
    "1.111111111111111e-1",   # repr(1/9)
    "1.4285714285714285e-1",  # repr(1/7)
    "2e-1",                   # 1/5
    "3.333333333333333e-1",   # repr(1/3)
]


def ln_k_sql(n: str) -> str:
    """``floor(log2 n)`` as a DOUBLE for int64 ``n >= 1`` — exact
    integer CASE ladder, identical text both engines. Stage-1 column."""
    return (
        "CASE "
        + " ".join(f"WHEN ({n}) < {1 << (i + 1)} THEN {i}e0" for i in range(62))
        + " ELSE 62e0 END"
    )


def ln_m_sql(n: str) -> str:
    """Mantissa ``m = n / 2^floor(log2 n)`` in [1, 2) — the int64->double
    cast is correctly rounded (identical cross-engine), the power-of-two
    division is exact. Stage-1 column."""
    div_d = (
        "CASE "
        + " ".join(f"WHEN ({n}) < {1 << (i + 1)} THEN {1 << i}e0" for i in range(62))
        + f" ELSE {1 << 62}e0 END"
    )
    return f"(CAST(({n}) AS DOUBLE) / ({div_d}))"


def ln_from_km_sql(k: str, m: str) -> str:
    """``ln(n) = k*LN2 + 2t(1 + s/3 + ... + s^11/23)``, t=(m-1)/(m+1),
    s=t*t — pass COLUMN NAMES for ``k``/``m`` (each is substituted many
    times; a computed expression here re-inflates the text)."""
    t = f"((({m}) - 1e0) / (({m}) + 1e0))"
    s = f"(({t}) * ({t}))"
    p = _ATANH_COEFS[0]
    for c in _ATANH_COEFS[1:]:
        p = f"(({p}) * ({s}) + {c})"
    p = f"(({p}) * ({s}) + 1e0)"
    lnm = f"((({t}) * ({p})) * 2e0)"
    return f"(({k}) * {_LN2_D} + ({lnm}))"


def ln_shared_py(n: int) -> float:
    """Pure-Python twin of ``ln_shared_sql`` — the SAME IEEE ops in the
    SAME order (Python floats are IEEE doubles, no FMA contraction), for
    the replay tests that pin the cross-engine contract."""
    if n < 1:
        raise ValueError(f"ln_shared_py needs an integer n >= 1, got {n!r}")
    k = min(n.bit_length() - 1, 62)
    m = float(n) / float(1 << k)
    t = (m - 1.0) / (m + 1.0)
    s = t * t
    p = float(_ATANH_COEFS[0])
    for c in _ATANH_COEFS[1:]:
        p = p * s + float(c)
    p = p * s + 1.0
    return float(k) * float(_LN2_D) + (t * p) * 2.0

"""Scalar expression helpers shared across operators.

Everything here is a *column expression* builder (JVM-side, codegen'd) —
no Python UDFs. Two cross-engine concerns are centralized:

1. **Exact decimal-scaled sums.** Floating-point sums are order-dependent,
   so a Spark partial-aggregate sum and a DuckDB sequential sum of the same
   doubles can differ in low bits — enough to break value-hash comparison.
   ``exact_sum`` scales each term to an integer (ties at .5 are impossible
   after scaling by 10^k, k>=1, because (2n+1)/(2*10^k) is not binary-
   representable), sums exactly in int64, and divides back at the end.
   The matching SQL text generator lives in ``oracle_fragments``.

2. **Portable string hashing.** Spark's `hash()` is murmur3 and DuckDB's
   `hash()` differs, so hash-bucketed operators (minhash/LSH, simhash,
   fingerprints) use the first 8 hex chars of md5 — identical everywhere —
   mapped to a non-negative int64.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- exact arithmetic ------------------------------------------------------
#
# NOTE on rounding: Spark's round(double, s) applies HALF_UP to the double's
# *shortest decimal representation* (BigDecimal.valueOf), while DuckDB rounds
# the binary value numerically — they disagree whenever the shortest repr is
# a decimal tie ("…5") but the binary value sits just below it. All rounding
# here therefore uses floor(x·10^s + 0.5)/10^s, which is a pure IEEE
# float-op chain: identical inputs → identical outputs in every engine.


def round_half_up(col: Column, scale: int = 4) -> Column:
    """Engine-portable ROUND(x, s): floor(x·10^s + 0.5) / 10^s."""
    mult = F.lit(float(10**scale))
    return F.floor(col * mult + F.lit(0.5)).cast("double") / mult


def sql_round_half_up(expr: str, scale: int = 4) -> str:
    mult = float(10**scale)
    return f"CAST(FLOOR(({expr}) * {mult} + 0.5) AS DOUBLE) / {mult}"


def exact_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent sum of a double column: floor(x*10^s + .5) summed as
    int64, divided back to double. Bit-identical in any engine."""
    c = F.col(col) if isinstance(col, str) else col
    mult = float(10**scale)
    return (
        F.sum(F.floor(c * F.lit(mult) + F.lit(0.5)).cast("long")).cast("double")
        / F.lit(mult)
    )


def exact_avg(col: Column | str, scale: int = 2) -> Column:
    """Order-independent mean: exact scaled sum divided by count (both sides
    of the division are identical doubles, so the result is bit-identical)."""
    c = F.col(col) if isinstance(col, str) else col
    return exact_sum(c, scale) / F.count(c).cast("double")


def sql_exact_sum(expr: str, scale: int = 2) -> str:
    """ANSI-SQL twin of exact_sum for the DuckDB oracle."""
    mult = float(10**scale)
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {mult} + 0.5) AS BIGINT)) AS DOUBLE) / {mult}"
    )


def sql_exact_avg(expr: str, scale: int = 2) -> str:
    return f"({sql_exact_sum(expr, scale)}) / CAST(COUNT({expr}) AS DOUBLE)"


# --- portable hashing ------------------------------------------------------


def portable_hash(col: Column | str) -> Column:
    """Deterministic non-negative int64 hash of a string, identical across
    engines: int64(first 8 hex chars of md5). Range [0, 2^32)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def sql_portable_hash(expr: str) -> str:
    """DuckDB twin of portable_hash (hex-literal cast)."""
    return f"CAST('0x' || substring(md5({expr}), 1, 8) AS BIGINT)"


def tokens(col: str = "text") -> Column:
    """The whitespace tokenizer every text operator shares: lower-cased,
    trimmed, split on runs of whitespace. A blank text gives ['']."""
    return F.split(F.lower(F.trim(F.col(col))), r"\s+")


def sql_tokens(col: str = "text") -> str:
    """DuckDB twin of tokens."""
    return f"regexp_split_to_array(lower(trim({col})), '\\s+')"


# --- reference scalar semantics (SURVEY.md §2.8) ---------------------------


def clamp(col: Column, lo: float, hi: float) -> Column:
    """max(min(x, hi), lo) — reference bbox/speed clamps (producer.py:69-77)."""
    return F.greatest(F.least(col, F.lit(hi)), F.lit(lo))


def nullif_zero(col: Column) -> Column:
    """NULLIF(x, 0) divide-by-zero guard (queries.py:107)."""
    return F.when(col == 0, F.lit(None)).otherwise(col)


def clamped_span(hi: Column, lo: Column) -> Column:
    """GREATEST(0, COALESCE(hi,0) - COALESCE(lo,0)) over a column's MAX and
    MIN — the odometer span clamp (reference:
    src/metrics/queries.py:136,166,195)."""
    return F.greatest(
        F.lit(0.0), F.coalesce(hi, F.lit(0.0)) - F.coalesce(lo, F.lit(0.0))
    )


def coalesce_str(col: Column, default: str = "N/A") -> Column:
    """trim + empty-string→default, the OpenSky callsign cleanup
    (reference: src/ingestion/opensky_source.py:82-83)."""
    trimmed = F.trim(col)
    return F.coalesce(F.when(trimmed == "", F.lit(None)).otherwise(trimmed), F.lit(default))


def truthy_bool(col: Column, default: bool) -> Column:
    """String→bool coercion with the reference's truthy/falsy sets
    (reference: src/ingestion/waymo_replay.py:53-55)."""
    lowered = F.lower(F.trim(col))
    if default:
        # default-true: only explicit falsy strings flip it
        return F.when(lowered.isin("false", "0", "no"), F.lit(False)).otherwise(F.lit(True))
    return F.when(lowered.isin("true", "1", "yes"), F.lit(True)).otherwise(F.lit(False))


def equirect_distance_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Equirectangular approximate distance in meters, exactly the reference's
    formula (src/ingestion/opensky_source.py:125-127): Δlat·111000 and
    Δlon·111000·max(0.7, lat/90), Euclidean combine."""
    dlat = (lat1 - lat2) * F.lit(111_000.0)
    lon_scale = F.greatest(F.lit(0.7), F.abs(lat1) / F.lit(90.0))
    dlon = (lon1 - lon2) * F.lit(111_000.0) * lon_scale
    return F.sqrt(dlat * dlat + dlon * dlon)

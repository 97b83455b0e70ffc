"""Scalar cleaning / normalization functions (SURVEY §2.8, F1–F16).

Every function here returns a ``pyspark.sql.Column`` built from native
expressions — JVM-side, whole-stage-codegen friendly, no Python UDFs.
Semantics are pinned to the reference's pandas behavior (citations below
are file:line in ``/root/reference/``); edge cases (NaN vs NULL, empty
string, unicode minus, coerce-to-null) are covered by ``tests/test_cleaning.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# F1 — clean_value (reference: uploadtodb.py:126-138, funda_uploadtodb.py:113-136)
# NaN/None/±Inf -> NULL; floats rounded to 2dp; strings stripped, empty -> NULL.
# ---------------------------------------------------------------------------

def round_py(col: Column, decimals: int = 2) -> Column:
    """Python-``round``-faithful rounding of a double column.

    The reference rounds with Python ``round(x, d)`` (uploadtodb.py:133 and
    every score-sink rounding), which correctly rounds the EXACT binary
    value half-to-even. Spark's ``F.round``/``F.bround`` instead round the
    double's SHORTEST DECIMAL REPR (``BigDecimal(Double.toString(x))``), so
    both diverge from Python on shortest-repr ties: 2.675 (binary
    2.67499…) → Python 2.67 but bround 2.68; 1.625 (an exactly
    representable midpoint) → Python 1.62 but HALF_UP ``F.round`` 1.63.
    ``format_number`` goes through ``java.text.DecimalFormat``, which since
    JDK-7131459 correctly rounds the exact binary value HALF_EVEN — probed
    equal to Python ``round`` on 10k adversarial doubles including every
    shortest-repr-tie and exact-midpoint class (tests/test_cleaning.py::
    TestRoundPy). NaN/±Inf pass through unchanged, like Python round.
    """
    # Arithmetic fast path (r12, guide §1.2 "per-task work"; NOTES 79):
    # the DecimalFormat -> regexp -> try_cast chain costs ~1.4 s/bench on
    # the fundamental sinks, but string-rounding is only NEEDED on exact
    # half-ties. Let e = exact(c * 10^d) and s = fl(c * 10^d) (one
    # correctly-rounded multiply, |error| <= ulp(s)/2). Decision
    # boundaries of round-half-even sit on the half-integer grid; for
    # |s| < 2^50 every half-integer near s is representable, so e and s
    # can only fall on DIFFERENT sides of a boundary b when s == b
    # exactly (|e - b| < ulp/2 forces fl(e) = b). frac(s) == 0 is still
    # safe (e just above or below an integer r rounds to r either way);
    # frac(s) == 0.5 is the ONE ambiguous cell (true tie / near-tie
    # indistinguishable) and falls back to the string path, as do
    # |s| >= 2^50 (boundary grid no longer representable) and +-0.0
    # (sign of zero must match DecimalFormat's). Equality with the
    # string path on every other double is forced by the argument
    # above; the adversarial midpoint families + 10k-double probe in
    # tests/test_cleaning.py::TestRoundPy pin it empirically.
    #
    # EVALUATE-ONCE BINDING (the _rep_signal_exprs lambda-variable
    # trick): this expression references its input ~10 times, and
    # round_py nests (blended scores round already-rounded percentiles),
    # so inlining the input would square the tree (~100 copies of the
    # underlying window expressions — measured 3.8 s -> 12.7 s on q38
    # from analyzer/codegen cost alone). transform() binds the input to
    # a lambda VARIABLE: one copy of the input tree, references are
    # slot reads.
    p = F.lit(float(10 ** decimals))

    def body(x):
        parsed = F.regexp_replace(F.format_number(x, decimals), ",", "") \
                  .try_cast("double")
        s = x * p
        r = F.floor(s)                   # |s| < 2^50 -> exact BIGINT
        frac = s - r
        fast_ok = (F.abs(s) < F.lit(float(2 ** 50))) \
            & (x != F.lit(0.0)) & (frac != F.lit(0.5))
        fast = (r + F.when(frac > F.lit(0.5), F.lit(1)).otherwise(F.lit(0))) \
            .cast("double") / p
        return F.when(F.isnan(x) | x.isin(float("inf"), float("-inf")), x) \
                .otherwise(F.when(fast_ok, fast).otherwise(parsed))

    return F.element_at(F.transform(F.array(col.cast("double")), body), 1)


def round_py_sql(expr: str, decimals: int = 2) -> str:
    """DuckDB oracle mirror of :func:`round_py`: C ``printf('%.Nf')``
    correctly rounds the exact binary value half-to-even, matching Python
    ``round`` (probed on the same adversarial set; DuckDB's ``round`` and
    ``round_even`` both round a decimal re-representation and mismatch)."""
    return f"CAST(printf('%.{decimals}f', CAST(({expr}) AS DOUBLE)) AS DOUBLE)"


def round_py_spark_sql(expr: str, decimals: int = 2) -> str:
    """Spark-SQL TEXT form of :func:`round_py` — the same expression tree
    delivered to the parser in ONE py4j call.

    Motivation (r12, guide §7.3): building the Column form costs ~50 py4j
    round trips per call site (~0.4 ms each on this container's loopback
    — the transform/lambda dance alone measured 64-189 ms per call);
    ``F.expr`` parses the identical tree in ~0.2 ms. Usable only where
    the input is SQL TEXT (a leaf column name) — composite Column inputs
    (the scoring plans) keep the Column form. Equivalence of the two
    forms is pinned by tests/test_cleaning.py::test_round_py_sql_form
    over the adversarial midpoint/inf/nan/huge families."""
    p = f"{float(10 ** decimals)!r}D"
    lim = f"{float(2 ** 50)!r}D"
    inf = "CAST('Infinity' AS DOUBLE)"
    ninf = "CAST('-Infinity' AS DOUBLE)"
    parsed = (f"try_cast(regexp_replace(format_number(x, {decimals}), "
              f"',', '') AS DOUBLE)")
    s = f"(x * {p})"
    r = f"FLOOR({s})"
    frac = f"({s} - {r})"
    fast_ok = (f"((abs({s}) < {lim}) AND (NOT (x = 0.0D)) "
               f"AND (NOT ({frac} = 0.5D)))")
    fast = (f"(CAST(({r} + (CASE WHEN ({frac} > 0.5D) THEN 1 ELSE 0 END)) "
            f"AS DOUBLE) / {p})")
    body = (f"CASE WHEN (isnan(x) OR (x IN ({inf}, {ninf}))) THEN x "
            f"ELSE (CASE WHEN {fast_ok} THEN {fast} ELSE {parsed} END) END")
    return (f"element_at(transform(array(CAST(({expr}) AS DOUBLE)), "
            f"x -> {body}), 1)")


def clean_value_spark_sql(expr: str, *, decimals: int = 2) -> str:
    """Spark-SQL TEXT form of :func:`clean_value` (same rationale and
    equivalence pin as :func:`round_py_spark_sql`). ``expr`` must be SQL
    text — leaf-column call sites only (CSV/file ingest, where it cut
    32 x ~190 ms of per-column lambda construction)."""
    c = f"try_cast(({expr}) AS DOUBLE)"
    inf = "CAST('Infinity' AS DOUBLE)"
    ninf = "CAST('-Infinity' AS DOUBLE)"
    finite = f"(NOT (isnan({c}) OR ({c} IN ({inf}, {ninf}))))"
    return (f"CASE WHEN (({c} IS NOT NULL) AND {finite}) "
            f"THEN {round_py_spark_sql(c, decimals)} END")


def clean_string_spark_sql(expr: str) -> str:
    """Spark-SQL TEXT form of :func:`clean_string`."""
    return f"nullif(trim({expr}), '')"


def clean_value(col: Column, *, decimals: int = 2) -> Column:
    """Numeric edge-cleaning: NaN and ±Inf collapse to NULL, round to 2dp.

    pandas ``clean_value`` treats NaN/inf as missing; Spark doubles can hold
    NaN/Infinity from bad casts, so normalize them to SQL NULL before
    rounding. Rounding is Python-faithful (:func:`round_py`) — the
    reference's ``round(float(v), 2)`` is banker's on the exact value.
    """
    c = col.try_cast("double")
    finite = ~(F.isnan(c) | c.isin(float("inf"), float("-inf")))
    return F.when(c.isNotNull() & finite, round_py(c, decimals))


def clean_string(col: Column) -> Column:
    """String edge-cleaning: strip whitespace, empty/whitespace-only -> NULL."""
    return F.nullif(F.trim(col), F.lit(""))


# F2 — tolerant long cast (funda_uploadtodb.py:117-126: shares_outstanding
# arrives as float text; non-numeric -> NULL).

def clean_long(col: Column) -> Column:
    return col.try_cast("double").cast("long")


# ---------------------------------------------------------------------------
# F3 — parse_unit_string (sectorscore.py:64-70, indscores.py:64-70)
# "−12.5%" / "+3.2%" / "1,234.56" / "2.5T INR" -> double; garbage -> NULL
# (pandas to_numeric(errors='coerce')). NOTE: the reference DROPS the T/B
# multipliers rather than applying them; we preserve that observed semantic
# by default and offer apply_multipliers=True as the corrected mode.
# ---------------------------------------------------------------------------

def parse_unit_string(col: Column, *, apply_multipliers: bool = False) -> Column:
    s = F.regexp_replace(col, "−", "-")          # unicode minus
    s = F.regexp_replace(s, "[%,+]", "")               # %, thousands sep, plus
    s = F.trim(F.regexp_replace(s, "\\s*(INR|USD)\\s*$", ""))
    if apply_multipliers:
        mult = (
            F.when(s.rlike("[Tt]$"), F.lit(1e12))
            .when(s.rlike("[Bb]$"), F.lit(1e9))
            .when(s.rlike("[Mm]$"), F.lit(1e6))
            .when(s.rlike("[Kk]$"), F.lit(1e3))
            .otherwise(F.lit(1.0))
        )
        num = F.regexp_replace(s, "[TtBbMmKk]$", "").try_cast("double")
        return num * mult
    # reference behavior: strip the unit letter, keep the mantissa
    return F.trim(F.regexp_replace(s, "[TtBbMmKk]$", "")).try_cast("double")


# ---------------------------------------------------------------------------
# F4 — normalize_text (sectormerged_improved.py:115-148, industrymerged.py:113-146)
# mojibake / unicode-space repair + whitespace collapse + guarded comma strip.
# ---------------------------------------------------------------------------

_MOJIBAKE = [
    (" ", " "),      # narrow no-break space
    (" ", " "),      # no-break space
    ("‑", "-"),      # non-breaking hyphen
    ("–", "-"),      # en dash
    ("—", "-"),      # em dash
    ("−", "-"),      # unicode minus
    ("‚àí", "-"),  # UTF-8 mojibake of minus ("‚àí")
    ("â€™", "'"),  # mojibake right single quote
    ("â€“", "-"),  # mojibake en dash
]

_NUMERIC_WITH_UNITS = r"^[\d,]+\.?\d*\s*[KMBT]?\s*(INR|%)?$"


def normalize_text(col: Column) -> Column:
    c = col
    for bad, good in _MOJIBAKE:
        c = F.replace(c, F.lit(bad), F.lit(good))
    c = F.trim(F.regexp_replace(c, "\\s+", " "))
    # strip thousands separators only when the cell is numeric-with-units
    return F.when(c.rlike(_NUMERIC_WITH_UNITS), F.regexp_replace(c, ",", "")).otherwise(c)


# ---------------------------------------------------------------------------
# F5 — analyst rating -> ordinal score (calcompositescore.py:99-109)
# null -> 'Hold' first, then map, unmapped -> 3.
# ---------------------------------------------------------------------------

_RATING_SCORES = {
    "Strong Buy": 5, "Strong buy": 5,
    "Buy": 4,
    "Hold": 3, "Neutral": 3,
    "Sell": 2,
    "Strong Sell": 1, "Strong sell": 1,
}


def rating_to_score(col: Column) -> Column:
    filled = F.coalesce(col, F.lit("Hold"))
    # constant map as ONE parsed expression (r12 §7.3) — the create_map
    # Column form costs 34 lit round trips per call site
    mapping = F.expr("map(" + ", ".join(
        f"'{k}', {v}" for k, v in _RATING_SCORES.items()) + ")")
    return F.coalesce(mapping[filled], F.lit(3))


# F6 — guarded relative difference (calcompositescore.py:111-136):
# (x - price)/price where price != 0 else 0.0.

def guarded_rel_diff(x: Column, price: Column) -> Column:
    return F.when(price != 0, (x - price) / price).otherwise(F.lit(0.0))


# F7 — MACD histogram (calcompositescore.py:139): level.fillna(0) - signal.fillna(0)

def macd_histogram(level: Column, signal: Column) -> Column:
    return F.coalesce(level, F.lit(0.0)) - F.coalesce(signal, F.lit(0.0))


# F8 — clip upper (calfundamentalscore.py:84-88,183-193)

def clip_upper(col: Column, cap: float) -> Column:
    # least() skips NULLs (would turn NULL into the cap); pandas clip keeps NaN
    return F.when(col.isNotNull(), F.least(col, F.lit(float(cap))))


# F9 — min-max normalize (sectorscore.py:72-78): all-equal group -> constant 1.0

def minmax_normalize(col: Column, cmin: Column, cmax: Column) -> Column:
    return F.when(cmax == cmin, F.lit(1.0)).otherwise((col - cmin) / (cmax - cmin))


# F10 — volatility int-scaling storage parity (pyc:volatility_helper:
# "stored as INTEGER with values scaled by 1000")

def scale_volatility(col: Column) -> Column:
    return F.round(col * 1000, 0).cast("int")


def unscale_volatility(col: Column) -> Column:
    return col.cast("double") / 1000.0


# F11 — hash id (newsflow_scraper.py:296-302): "tv_" + md5(url)[:20]

def hash_id(col: Column, prefix: str = "tv_", length: int = 20) -> Column:
    return F.concat(F.lit(prefix), F.substring(F.md5(col), 1, length))


# F12 — truncate (newsflow_scraper.py:302-303)

def truncate_str(col: Column, n: int = 500) -> Column:
    return F.substring(col, 1, n)


# F13 — provider-prefix strip (newsflow_scraper.py:210-215)

_PROVIDERS = ["Reuters", "Moneycontrol", "CNBC TV18", "Bloomberg",
              "Economic Times", "PTI", "ANI", "TradingView"]


def strip_prefix(col: Column, prefixes: list[str] | None = None) -> Column:
    pats = "|".join(p.replace(" ", "\\s") for p in (prefixes or _PROVIDERS))
    return F.regexp_replace(col, f"^({pats})\\s*[:\\-]?\\s*", "")


# F16 — URL composition (newsflow_scraper.py:222)

def compose_url(href: Column, base: str = "https://in.tradingview.com") -> Column:
    return F.when(href.startswith("http"), href).otherwise(F.concat(F.lit(base), href))

"""Date operators: dirty-date parsing and financial-year derivation.

The reference keeps dates as raw strings because IRDAI data is dirty
(e.g. ``"2018-06-04 04-06-2018"`` — two formats concatenated; see
models.py:30-31 and the checked-in CSVs). Parsing is therefore an
engine operator here, not a schema property: multi-format trial parse
with NULL on failure (never an exception), matching the reference's
swallow-and-continue error handling.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Trial order matters: first successful parse wins.
DIRTY_DATE_FORMATS = (
    "yyyy-MM-dd",
    "dd-MM-yyyy",
    "dd/MM/yyyy",
    "yyyy/MM/dd",
    "dd-MMM-yyyy",
)


def epoch_us(col: Column, *, ntz: bool) -> Column:
    """Epoch microseconds of a timestamp column, session-TZ-independent.

    For ``TIMESTAMP_NTZ`` inputs the naive value is interpreted as UTC
    wall time (``to_utc_timestamp(col, 'UTC')`` — a no-shift reinterpret),
    so the result never depends on ``spark.sql.session.timeZone``. For
    instant ``TIMESTAMP`` inputs ``unix_micros`` is already absolute.
    Callers pass ``ntz=isinstance(df.schema[c].dataType, TimestampNTZType)``
    because parquet written without ``isAdjustedToUTC`` arrives as NTZ.
    """
    if ntz:
        return F.unix_micros(F.to_utc_timestamp(col, "UTC"))
    return F.unix_micros(col)


def _format_shape_regex(fmt: str) -> str:
    """Anchored shape regex that is a NECESSARY condition for Spark's
    strict (CORRECTED-mode) parser to accept a string under ``fmt``:
    yyyy = exactly 4 digits, MM/dd = exactly 2, MMM = 3 letters (the
    parser is case-insensitive on month names), no trailing characters
    — all verified empirically against try_to_timestamp. The gate may
    admit strings the parser still rejects (e.g. month 13); it must
    never reject one the parser would accept, so gating cannot change
    any parse result.

    Supported tokens: yyyy, MMM, MM, dd — ONLY. Any other pattern
    letter raises: silently re.escape-ing a reserved letter (d, M, HH,
    …) as a literal would build a gate that rejects every string the
    parser accepts, turning all of that format's parses into NULLs
    with no error (ADVICE r13). An incompatible DIRTY_DATE_FORMATS
    addition must fail loudly at plan build, not null data."""
    import re

    out = []
    for tok, sep in re.findall(r"(yyyy|MMM|MM|dd)|(.)", fmt):
        if tok == "yyyy":
            out.append(r"\d{4}")
        elif tok == "MMM":
            out.append("[A-Za-z]{3}")
        elif tok:  # MM / dd
            out.append(r"\d{2}")
        else:
            if sep.isalpha():
                raise ValueError(
                    f"_format_shape_regex: unsupported pattern letter {sep!r} "
                    f"in format {fmt!r} (supported tokens: yyyy, MMM, MM, dd); "
                    "extend the token table before adding this format"
                )
            out.append(re.escape(sep))
    return "^" + "".join(out) + "$"


def parse_dirty_date(col: Column, formats: tuple[str, ...] = DIRTY_DATE_FORMATS) -> Column:
    """Multi-format trial date parse; unparseable → NULL.

    Handles the concatenated-format pathology by first truncating to the
    leading token (``"2018-06-04 04-06-2018"`` → ``"2018-06-04"``).

    Each trial is gated by its format's shape regex (r13): a FAILED
    DateTimeFormatter trial is exception-priced inside the JVM, so an
    ungated 5-way coalesce pays up to 5 throw/catch cycles per dirty
    cell — the r13 sf1 probe measured date_functions_dirty_parse at
    7.5× wall at 10× rows, dominated by failed trials ('dd-MM-yyyy'
    rows always fail the 'yyyy-MM-dd' trial first; 'not a date' rows
    fail every trial). The cheap rlike gate short-circuits each branch
    (CaseWhen evaluates lazily per row), so the formatter now runs at
    most once per cell; values are unchanged because the gate is a
    necessary condition of acceptance (pinned by test).
    """
    head = F.split(F.trim(col), r"\s+").getItem(0)
    parsed = [
        F.when(
            head.rlike(_format_shape_regex(fmt)), F.try_to_timestamp(head, F.lit(fmt))
        ).cast("date")
        for fmt in formats
    ]
    return F.coalesce(*parsed)


def fy_label_from_date(d: Column) -> Column:
    """Derive an Indian financial-year label (April–March) from a date.

    April..Dec → ``FY {y}-{y+1%100}``; Jan..Mar → ``FY {y-1}-{y%100}``.
    """
    y = F.year(d)
    m = F.month(d)
    start = F.when(m >= 4, y).otherwise(y - 1)
    end2 = F.format_string("%02d", (start + 1) % 100)
    return F.concat(F.lit("FY "), start.cast("string"), F.lit("-"), end2)


def business_days_between(d1: Column, d2: Column) -> Column:
    """Weekday count in the half-open interval (d1, d2], d1 <= d2 —
    pure closed-form integer arithmetic (no calendar table, no UDF):
    with w1 = Monday-indexed day-of-week of d1 and diff = d2 - d1 in
    days, the weekend days crossed are g(w1 + diff) - g(w1) where
    g(x) = (x div 7)*2 + max(0, x mod 7 - 4) counts integers in [0, x]
    congruent to Sat/Sun. Engine-portable: the DuckDB twin is
    ``business_days_between_sql``; both sides normalize their native
    day-of-week origin to Monday=0 first."""
    w1 = (F.dayofweek(d1) + 5) % 7  # Spark: Sun=1..Sat=7 -> Mon=0..Sun=6
    diff = F.datediff(d2, d1)

    def g(x: Column) -> Column:
        return (x / 7).cast("long") * 2 + F.greatest(F.lit(0), x % 7 - 4)

    return diff - (g(w1 + diff) - g(w1))


def business_days_between_sql(d1: str, d2: str) -> str:
    """DuckDB twin of ``business_days_between`` as a SQL fragment."""
    w1 = f"((dayofweek({d1}) + 6) % 7)"  # DuckDB: Sun=0..Sat=6 -> Mon=0
    diff = f"datediff('day', {d1}, {d2})"

    def g(x: str) -> str:
        return f"((({x}) // 7) * 2 + greatest(0, ({x}) % 7 - 4))"

    return f"({diff} - ({g(f'{w1} + {diff}')} - {g(w1)}))"

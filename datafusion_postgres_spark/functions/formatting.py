"""Postgres formatting functions: to_char / to_date / to_timestamp /
to_number.

Reference status: planned (🚧) in ``datafusion-pg-functions/functions.md``
— we implement the common pattern surface. Strategy: translate the PG
template pattern to Spark's (Java SimpleDateFormat-style) pattern at CALL
SITE REWRITE time when the pattern is a literal (stays JVM-side inside
codegen); fall back to a Pandas UDF only for non-literal patterns.
"""

from __future__ import annotations

# PG datetime template -> Spark datetime pattern, longest-first matching.
_DT_PATTERNS = [
    ("YYYY", "yyyy"), ("YYY", "yyy"), ("YY", "yy"), ("Y", "y"),
    ("MONTH", "MMMM"), ("Month", "MMMM"), ("month", "MMMM"),
    ("MON", "MMM"), ("Mon", "MMM"), ("mon", "MMM"),
    ("MM", "MM"),
    ("DDD", "DDD"), ("DD", "dd"),
    ("DAY", "EEEE"), ("Day", "EEEE"), ("day", "EEEE"),
    ("DY", "EEE"), ("Dy", "EEE"), ("dy", "EEE"),
    ("HH24", "HH"), ("HH12", "hh"), ("HH", "hh"),
    ("MI", "mm"),
    ("SSSS", "ss"), ("SS", "ss"),
    ("MS", "SSS"), ("US", "SSSSSS"),
    ("AM", "a"), ("PM", "a"), ("am", "a"), ("pm", "a"),
    ("TZ", "zz"), ("OF", "xxx"),
    ("IW", "ww"), ("WW", "ww"), ("W", "W"),
    ("Q", "Q"), ("J", "DDD"),
]


def translate_datetime_pattern(pg_pattern: str) -> str:
    """PG to_char datetime template → Spark/Java pattern."""
    out = []
    i = 0
    n = len(pg_pattern)
    while i < n:
        # quoted literal section "text"
        if pg_pattern[i] == '"':
            j = pg_pattern.find('"', i + 1)
            j = n if j < 0 else j
            out.append("'" + pg_pattern[i + 1:j].replace("'", "''") + "'")
            i = j + 1
            continue
        # FM / FX modifiers: no Spark equivalent, drop
        if pg_pattern[i:i + 2] in ("FM", "FX"):
            i += 2
            continue
        for pg, spark in _DT_PATTERNS:
            if pg_pattern.startswith(pg, i):
                out.append(spark)
                i += len(pg)
                break
        else:
            ch = pg_pattern[i]
            # literal chars that are pattern letters in Java need quoting
            if ch.isalpha():
                out.append(f"'{ch}'")
            else:
                out.append(ch)
            i += 1
    return "".join(out)


# SQL UDFs for the direct-call path with already-translated patterns;
# a literal pattern is translated at the call site by the dialect rule
# (rewrite_to_char). Registered with the other SQL UDFs
# (functions/registry.py).
FORMATTING_SQL_UDFS: list[tuple[str, str, str, str]] = [
    ("pg_to_char_ts", "ts TIMESTAMP_NTZ, fmt STRING", "STRING",
     "date_format(ts, fmt)"),
    ("pg_to_char_num", "v DOUBLE, fmt STRING", "STRING",
     # common numeric patterns: FM999.99 style -> format_number digits
     "format_number(v, greatest(length(fmt) - length(replace(fmt, '9', '')) "
     "- length(replace(fmt, '0', '')), 0))"),
    ("pg_to_date", "s STRING, fmt STRING", "DATE", "to_date(s, fmt)"),
    ("pg_to_timestamp", "s STRING, fmt STRING", "TIMESTAMP_NTZ",
     "to_timestamp_ntz(s, fmt)"),
]

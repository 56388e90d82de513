"""Deterministic html→text extraction (BASELINE.json input_hint:
"per-row invariant vs the reference: byte-identical extracted text per
url").

The extractor is a vectorized Arrow pandas UDF (batched pandas string
ops — no per-row Python loop) implementing a fixed, order-pinned chain:

  1. decode UTF-8
  2. strip tags       <[^>]*>  → ' '
  3. decode the 5 standard entities (&amp; last, per HTML spec order)
  4. collapse [ \\t\\n\\x0B\\f\\r]+ → ' '  (``text.WS_RUN``)
  5. strip U+0020 at both ends

Every step is expressible in RE2 as well, so the DuckDB oracle
(``extract_text_sql``) reproduces the output byte-for-byte — the
golden-bytes test strategy of SURVEY.md §5. Steps 4-5 name their
characters explicitly: Python's ``\\s`` and ``str.strip()`` also match
Unicode spaces (U+00A0, U+0085, U+2028, …) and U+001C-U+001F, which
RE2's ``\\s`` and DuckDB's ``trim`` do not.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .text import WS_RUN

# order matters: &amp; must decode LAST or "&amp;lt;" would double-decode
ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]

TAG_RE = r"<[^>]*>"


@F.pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    s = html.map(lambda b: b.decode("utf-8", errors="replace")
                 if isinstance(b, (bytes, bytearray)) else b)
    s = s.str.replace(TAG_RE, " ", regex=True)
    for ent, ch in ENTITIES:
        s = s.str.replace(ent, ch, regex=False)
    s = s.str.replace(WS_RUN, " ", regex=True)
    return s.str.strip(" ")


def extract_text_col(html: Column) -> Column:
    return extract_text(html)


def extract_text_sql(expr: str) -> str:
    """DuckDB replication of the exact chain (RE2 'g' = global)."""
    s = f"regexp_replace(CAST({expr} AS VARCHAR), '{TAG_RE}', ' ', 'g')"
    for ent, ch in ENTITIES:
        ch_sql = ch.replace("'", "''")
        s = f"replace({s}, '{ent}', '{ch_sql}')"
    s = f"regexp_replace({s}, '{WS_RUN}', ' ', 'g')"
    return f"trim({s}, ' ')"

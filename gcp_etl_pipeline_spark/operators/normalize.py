"""String/key normalization (reference F1-F3).

The reference matches join keys case-insensitively (``lower()`` on both
sides of every star join, `jobs/curated/facts/sales_fact/
dl_ct_gosales_sales_fact_01.py:68-71`), whitespace-insensitively for the
census helping (``LOWER(REPLACE(TRIM(x),' ',''))``,
`jobs/curated/helpings/tehsil_hlp/punjabcencus_tehsil_hlp_01.sql:14`), and
strips ``\\r``/spaces from every string cell at ingestion
(`jobs/raw/dl_rw_job.py:98`).

All JVM-side built-ins — these stay inside whole-stage codegen and cost no
Python round-trip at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def norm_key(col: Column | str) -> Column:
    """Canonical join-key form: lower(trim(x)). Apply to BOTH sides of a
    join — never one side only (SURVEY §7 hard part 5)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


def normalize_strings(df: DataFrame) -> DataFrame:
    """Strip whitespace + carriage returns from every string column
    (ingestion hygiene; reference per-row ``str.strip()`` Beam map,
    vectorized here)."""
    return df.select(
        *[
            F.trim(F.regexp_replace(F.col(f.name), r"[\r\n]+", " ")).alias(f.name)
            if isinstance(f.dataType, T.StringType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def cast_to_spec(df: DataFrame, spec) -> DataFrame:
    """Schema-on-read cast to a TableSpec's types (reference U1: per-row
    ``convert_type`` ladder, `commons/utilities.py:239-265` — here a single
    vectorized projection Catalyst can push into the scan)."""
    return df.select(
        *[F.col(c.name).cast(c.spark_type).alias(c.name) for c in spec.columns]
    )


def normalize_unicode(col: Column | str) -> Column:
    """NFC Unicode normalization for text keys/dedup fingerprints:
    composed vs decomposed byte sequences of the SAME visible string ("é"
    as one codepoint vs "e"+combining-acute) otherwise hash apart and
    defeat exact dedup on multilingual corpora. Arrow-batched
    ``unicodedata`` (no JVM builtin exists); DuckDB's ``nfc_normalize``
    is the differential twin."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    def norm(s):
        import unicodedata

        def one(v):
            return None if v is None else unicodedata.normalize("NFC", v)

        return s.map(one)

    # `from __future__ import annotations` stringifies hints, which
    # pandas_udf can't resolve — attach real type objects instead
    norm.__annotations__ = {"s": pd.Series, "return": pd.Series}
    fn = pandas_udf(norm, StringType())
    c = F.col(col) if isinstance(col, str) else col
    return fn(c)

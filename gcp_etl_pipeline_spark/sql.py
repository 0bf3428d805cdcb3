"""SQL entry point: parameter templating + the tiny BigQuery→Spark dialect
shims (SURVEY §7 step 6, reference EP3).

The reference runs .sql files through ``bigquery_run``
(`commons/utilities.py:54-86`): read file, substitute ``{project}`` /
``{env}`` / ``{batch_id}`` by ``str.replace``, submit to BigQuery. Our
engine executes the same files in Spark SQL; the shims cover ONLY the BQ
constructs the reference's two SQL files use
(`tl_sm_gosales_overview_01.sql`, `punjabcencus_tehsil_hlp_01.sql`) —
deliberately not a general translator (SURVEY §7 hard part 6):

  - ``PARSE_DATE('%Y-%m-%d', x)``      -> ``to_date(x, 'yyyy-MM-dd')``
  - backticked ``{project}.{env}_ds.t`` -> catalog name ``ds.t``
  - ``TRUNCATE TABLE t; INSERT INTO t (cols) SELECT ...``
                                        -> ``INSERT OVERWRITE TABLE t SELECT ...``
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_FMT_MAP = {"%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH", "%M": "mm", "%S": "ss"}


def substitute_params(sql: str, params: dict[str, str]) -> str:
    """Reference templating (`commons/utilities.py:72-73`): plain string
    replacement of ``{name}`` placeholders."""
    for k, v in params.items():
        sql = sql.replace("{" + k + "}", str(v))
    return sql


def _shim_parse_date(sql: str) -> str:
    def repl(m: re.Match) -> str:
        fmt = m.group(1)
        for bq, spark in _FMT_MAP.items():
            fmt = fmt.replace(bq, spark)
        return f"to_date({m.group(2)}, '{fmt}')"

    return re.sub(
        r"PARSE_DATE\s*\(\s*'([^']*)'\s*,\s*([^)]+)\)", repl, sql, flags=re.I
    )


def _shim_backtick_names(sql: str) -> str:
    """`proj.dataset.table` -> dataset.table (drop the BQ project
    qualifier; the session catalog owns the namespace)."""

    def repl(m: re.Match) -> str:
        parts = m.group(1).split(".")
        return ".".join(parts[-2:]) if len(parts) >= 2 else parts[-1]

    return re.sub(r"`([^`]+)`", repl, sql)


def _shim_truncate_insert(sql: str) -> str:
    """TRUNCATE TABLE t; INSERT INTO t [(cols)] SELECT ... ->
    INSERT OVERWRITE TABLE t SELECT ... (atomic in Spark; the reference's
    two-statement form isn't)."""
    m = re.match(
        r"\s*TRUNCATE\s+TABLE\s+(\S+)\s*;\s*INSERT\s+INTO\s+(\S+)\s*"
        r"(?:\([^)]*\)\s*)?(SELECT.*)$",
        sql,
        flags=re.I | re.S,
    )
    if not m:
        return sql
    trunc_t, ins_t, select = m.groups()
    if trunc_t.rstrip(";") != ins_t:
        raise ValueError(
            f"TRUNCATE target {trunc_t} != INSERT target {ins_t}"
        )
    return f"INSERT OVERWRITE TABLE {ins_t} {select}"


def translate(sql: str, params: dict[str, str] | None = None) -> str:
    """Apply templating then the dialect shims; returns runnable Spark SQL."""
    out = substitute_params(sql, params or {})
    out = _shim_backtick_names(out)
    out = _shim_parse_date(out)
    out = _shim_truncate_insert(out)
    return out


def run_sql(
    spark: SparkSession, sql: str, params: dict[str, str] | None = None
) -> DataFrame:
    """Execute templated/translated SQL (reference EP3, in-session)."""
    return spark.sql(translate(sql, params))

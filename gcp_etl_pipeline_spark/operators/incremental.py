"""Insert-new-only dimension maintenance (reference P6/J3/I2).

Reference pattern in all hlp/lkp/dim jobs (`...retailer_hlp_01.py:57-63`):
LEFT JOIN target ON lower(src.key)=lower(tgt.key) WHERE tgt.key IS NULL,
then ``mode("append")`` — i.e. append only rows whose (normalized) natural
key is not yet present.

Expressed here as a LEFT ANTI join (the same logical plan Catalyst derives
from left-join+IS NULL, without the null-column projection). The anti join
shuffles on the normalized key; with AQE the small dimension side broadcast
is picked automatically. Idempotency (SURVEY §7 hard part 2): re-running
over the same input appends nothing, because the previously appended keys
now match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators.normalize import norm_key


def insert_new_only(
    source: DataFrame,
    target: DataFrame | None,
    keys: list[str],
    normalize: bool = True,
) -> DataFrame:
    """Rows of ``source`` whose natural key is absent from ``target``.

    ``normalize=True`` applies lower(trim()) on BOTH sides (F1/F2) —
    encoded here once so the two sides can never diverge.
    """
    if target is None:
        return source
    tgt = target.select(*keys)
    if not normalize:
        return source.join(tgt, on=keys, how="left_anti")

    def nk(c: str) -> str:
        return f"__nk_{c}"

    src_n = source.select(
        "*", *[norm_key(k).alias(nk(k)) for k in keys]
    )
    tgt_n = tgt.select(*[norm_key(k).alias(nk(k)) for k in keys])
    cond = [src_n[nk(k)].eqNullSafe(tgt_n[nk(k)]) for k in keys]
    return src_n.join(tgt_n, on=cond, how="left_anti").drop(*[nk(k) for k in keys])

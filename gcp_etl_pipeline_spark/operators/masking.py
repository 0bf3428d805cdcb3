"""Masked-column encryption (reference U2).

The reference encrypts each column listed in the contract's
``masking_column`` with a per-cell Cloud KMS RPC and base64-encodes the
ciphertext (`jobs/raw/dl_rw_job.py:70-83`, KMS path
`commons/utilities.py:50`). An RPC per cell is unusable at 100 TB
(SURVEY §7 hard part 7); the engine's redesign keeps KMS for key
*wrapping* only and encrypts data with Spark's built-in ``aes_encrypt``
— JVM-side, vectorized, zero Python round-trips. The ciphertext format
deliberately differs from the reference (documented deviation).

Every cell is encrypted in AES-GCM, Spark's default mode: a random IV
per call, so it is semantically secure and NOT deterministic (a masked
column is neither joinable nor groupable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mask_columns(df: DataFrame, columns: list[str], key: str) -> DataFrame:
    """base64(aes_encrypt(col, key)) for each masked column; the column is
    replaced in place (reference behavior: the raw layer only ever sees
    ciphertext). ``key`` must be 16/24/32 bytes (the data-encryption key,
    unwrapped from the secret store by the caller)."""
    out = df
    for c in columns:
        out = out.withColumn(
            c,
            F.base64(
                F.aes_encrypt(
                    F.col(c).cast("string").cast("binary"),
                    F.lit(key).cast("binary"),
                )
            ),
        )
    return out


def unmask_columns(df: DataFrame, columns: list[str], key: str) -> DataFrame:
    """Inverse of mask_columns: aes_decrypt(unbase64(col)) -> string."""
    out = df
    for c in columns:
        out = out.withColumn(
            c,
            F.aes_decrypt(F.unbase64(F.col(c)), F.lit(key).cast("binary")).cast(
                "string"
            ),
        )
    return out


# ------------------------------------------------------ envelope-KMS mode
#
# The reference's actual deployment calls Cloud KMS once PER CELL
# (`jobs/raw/dl_rw_job.py:70-83`) — O(cells) RPCs. Envelope encryption is
# the at-scale shape: data is encrypted with local data-encryption keys
# (DEKs); only the DEKs travel to KMS for wrapping — O(num_deks) RPCs
# total, all driver-side, regardless of table size. Cells still encrypt
# JVM-side via aes_encrypt with the DEK as a join-provided column, so the
# 100 TB data path has zero Python and zero RPCs.

DEK_ID_COL = "__dek_id"


class KmsClient:
    """Wrap/unwrap interface — the production implementation calls Cloud
    KMS (`commons/utilities.py:50` path). Inject the real client per
    deployment; the default LocalKmsStub is NOT cryptographically
    meaningful (test/dev only, loudly named)."""

    def wrap(self, dek: bytes) -> bytes:  # pragma: no cover - interface
        raise NotImplementedError

    def unwrap(self, wrapped: bytes) -> bytes:  # pragma: no cover
        raise NotImplementedError


class LocalKmsStub(KmsClient):
    """Deterministic XOR-keystream stand-in for KMS wrap/unwrap. NOT
    SECURE — exists so the envelope flow is executable and testable in
    environments without GCP credentials."""

    def __init__(self, master_key: bytes = b"graft-local-kms-master"):
        self._mk = master_key

    def _stream(self, n: int) -> bytes:
        import hashlib

        out = b""
        counter = 0
        while len(out) < n:
            out += hashlib.sha256(self._mk + counter.to_bytes(4, "big")).digest()
            counter += 1
        return out[:n]

    def wrap(self, dek: bytes) -> bytes:
        ks = self._stream(len(dek))
        return bytes(a ^ b for a, b in zip(dek, ks))

    unwrap = wrap  # XOR is its own inverse


def mask_columns_envelope(
    df: DataFrame,
    columns: list[str],
    kms: KmsClient,
    num_deks: int = 16,
) -> tuple[DataFrame, dict[int, str]]:
    """Envelope-encrypt ``columns``: rows are striped across ``num_deks``
    random DEKs by partition id, each cell encrypted JVM-side with its
    stripe's DEK, and the returned keyring maps dek_id → base64(wrapped
    DEK) — the only thing that touched KMS. Persist the keyring next to
    the data; decryption needs it.

    The output carries a ``__dek_id`` column. The DEK table (num_deks
    rows) broadcasts; nothing else moves."""
    import base64
    import secrets

    spark = df.sparkSession
    deks = [secrets.token_bytes(16) for _ in range(num_deks)]
    keyring = {
        i: base64.b64encode(kms.wrap(d)).decode("ascii")
        for i, d in enumerate(deks)
    }
    dek_df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(deks)], f"{DEK_ID_COL} INT, __dek BINARY"
    )
    out = df.withColumn(
        DEK_ID_COL, F.pmod(F.spark_partition_id(), F.lit(num_deks)).cast("int")
    ).join(F.broadcast(dek_df), DEK_ID_COL)
    for c in columns:
        out = out.withColumn(
            c,
            F.base64(
                F.aes_encrypt(
                    F.col(c).cast("string").cast("binary"), F.col("__dek")
                )
            ),
        )
    return out.drop("__dek"), keyring


def unmask_columns_envelope(
    df: DataFrame,
    columns: list[str],
    keyring: dict[int, str],
    kms: KmsClient,
) -> DataFrame:
    """Inverse of mask_columns_envelope: unwrap each DEK through KMS
    (driver-side, len(keyring) calls), broadcast-join on ``__dek_id``,
    decrypt JVM-side, and drop ``__dek_id``."""
    import base64

    spark = df.sparkSession
    # keyrings persisted via JSON come back with STRING dek_ids — accept
    # both (int(i) is a no-op on ints)
    dek_df = spark.createDataFrame(
        [
            (int(i), kms.unwrap(base64.b64decode(w)))
            for i, w in keyring.items()
        ],
        f"{DEK_ID_COL} INT, __dek BINARY",
    )
    out = df.join(F.broadcast(dek_df), DEK_ID_COL)
    for c in columns:
        out = out.withColumn(
            c,
            F.aes_decrypt(F.unbase64(F.col(c)), F.col("__dek")).cast("string"),
        )
    return out.drop("__dek", DEK_ID_COL)

"""EnvConfig tests (R5): env prefixing, secret chain, SQL params."""

from __future__ import annotations

import os

import pytest

from gcp_etl_pipeline_spark.config import EnvConfig
from gcp_etl_pipeline_spark import sql as esql


def test_env_prefixing_dev_prod():
    assert EnvConfig(env="dev").prefixed("curated") == "dd_curated"
    assert EnvConfig(env="prod").prefixed("curated") == "dp_curated"
    with pytest.raises(ValueError, match="unknown env"):
        EnvConfig(env="staging").prefix


def test_layer_path_shape():
    cfg = EnvConfig(env="dev", warehouse_root="/w")
    assert cfg.layer_path("raw", "gosales/go_methods") == "/w/dd_raw/gosales/go_methods"


def test_secret_provider_chain():
    cfg = EnvConfig(
        secret_providers=(
            lambda n: None,                        # miss
            {"db_pass": "s3cret"}.get,             # hit
            lambda n: "never-reached",
        )
    )
    assert cfg.secret("db_pass") == "s3cret"
    with pytest.raises(KeyError):
        EnvConfig(secret_providers=(lambda n: None,)).secret("absent")


def test_sql_params_feed_templating():
    cfg = EnvConfig(env="prod", project="proj9", extras={"batch_id": "b-7"})
    out = esql.substitute_params(
        "INSERT INTO `{project}.{env}_semantic.t` SELECT '{batch_id}'",
        cfg.sql_params(),
    )
    assert out == "INSERT INTO `proj9.dp_semantic.t` SELECT 'b-7'"


def test_shuffle_partitions_default_to_usable_cores(monkeypatch):
    from gcp_etl_pipeline_spark.session import default_shuffle_partitions

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_shuffle_partitions() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_shuffle_partitions() == 3

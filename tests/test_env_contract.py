"""The SPARK_GRAFT_* env contract (README "Tuning environment
variables"): widths/fans are read from the documented envs, 0/unset
means built-in default, junk fails loudly naming the variable, and the
store-layout manifest pins the prefix moduli a store was landed with
(ADVICE r14: tp/dp are recomputed at serve/compaction time, so an env
mismatch would silently prune the wrong partitions)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from kafka_flink_slack_pipeline_spark import tables
from kafka_flink_slack_pipeline_spark.streaming import store


def test_spread_width_env_is_read(spark, monkeypatch):
    df = spark.range(100)
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_WIDTH", "5")
    assert tables.spread(df).rdd.getNumPartitions() == 5
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_WIDTH", "0")  # 0 = default
    assert tables.spread(df).rdd.getNumPartitions() == max(
        2, spark.sparkContext.defaultParallelism // 2
    )


def test_env_width_rejects_junk_loudly(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_WIDTH", "sixteen")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SPREAD_WIDTH"):
        tables._env_width("SPARK_GRAFT_SPREAD_WIDTH")


def test_media_width_env_is_read(spark, sf_dir, monkeypatch):
    from kafka_flink_slack_pipeline_spark.operators.multimodal import (
        _spread_small_scan,
        multimodal_view,
    )

    monkeypatch.setenv("SPARK_GRAFT_MEDIA_WIDTH", "3")
    out = _spread_small_scan(spark, multimodal_view(spark, sf_dir), sf_dir)
    assert out.rdd.getNumPartitions() == 3


def test_env_width_rejects_negative_loudly(monkeypatch):
    # a negative prefix modulus would reach pmod and the layout manifest
    monkeypatch.setenv("SPARK_GRAFT_TERM_PREFIXES", "-16")
    with pytest.raises(ValueError, match="SPARK_GRAFT_TERM_PREFIXES"):
        tables._env_width("SPARK_GRAFT_TERM_PREFIXES")


def test_prefix_envs_are_read():
    # a fresh interpreter with the env set must pick it up at import
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from kafka_flink_slack_pipeline_spark.streaming import "
            "store; print(store._TERM_PREFIXES)",
        ],
        cwd=root,
        env={**os.environ, "SPARK_GRAFT_TERM_PREFIXES": "32"},
        capture_output=True,
        text=True,
        check=True,
    )
    assert int(out.stdout.split()[-1]) == 32


def test_layout_manifest_roundtrip(tmp_path):
    state = str(tmp_path / "store")
    store._land_layout(state)  # first land writes
    store._assert_layout(state)  # matching moduli pass
    store._land_layout(state)  # re-land with same moduli passes


def test_layout_manifest_mismatch_fails_loudly(tmp_path, monkeypatch):
    state = str(tmp_path / "store")
    store._land_layout(state)
    monkeypatch.setattr(store, "_TERM_PREFIXES", store._TERM_PREFIXES * 2)
    with pytest.raises(ValueError, match="store layout mismatch"):
        store._assert_layout(state)
    with pytest.raises(ValueError, match="store layout mismatch"):
        store._land_layout(state)  # appending under a drifted fan also fails


def test_layout_manifest_absent_is_trusted(tmp_path):
    # pre-manifest stores (no file) are served as-is
    store._assert_layout(str(tmp_path / "never-landed"))


def test_layout_manifest_written_atomically(tmp_path, monkeypatch):
    # the manifest appears in one os.replace step, from a temp file
    state = str(tmp_path / "store")
    calls = []
    real = os.replace
    monkeypatch.setattr(
        store.os, "replace", lambda a, b: (calls.append((a, b)), real(a, b))
    )
    store._land_layout(state)
    path = os.path.join(state, store._LAYOUT_FILE)
    assert [b for _, b in calls] == [path]
    assert not os.path.exists(calls[0][0])
    with open(path) as f:
        assert json.load(f) == store._layout_now()
    assert os.listdir(state) == [store._LAYOUT_FILE]


def test_layout_manifest_truncated_names_repair(tmp_path):
    state = tmp_path / "store"
    state.mkdir()
    (state / store._LAYOUT_FILE).write_text('{"term_prefixes": 1')
    with pytest.raises(ValueError, match="manifest .* is unreadable"):
        store._assert_layout(str(state))


def test_default_master_fits_the_host(monkeypatch):
    # unset: one thread per CPU the process may run on, never a fixed
    # width wider than the host
    from kafka_flink_slack_pipeline_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_master() == (
        f"local[{len(os.sched_getaffinity(0))}]"
    )
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_master() == "local[3]"

"""Pins for the measured AQE initial-grain rule (round-10 verdict item 3,
PARTITION_DIAL_r10): optimal initialPartitionNum ~= shuffle-input-bytes /
64 MB, rounded UP to a power of two, floored at the core count."""

from __future__ import annotations

import os

from findb_spark.ops.dedup import SHINGLE_EXPLODE_BYTES_PER_INPUT_BYTE
from findb_spark.session import (
    DEFAULT_SHUFFLE_PARTITIONS,
    auto_initial_partitions,
    table_input_bytes,
)


def test_dial_calibration_point_within_one_octave():
    """The measured optimum on the 256x ngram-Jaccard corpus (~150 MB of
    parquet, ~3.5 GB exploded) was grain 128 (beat 32 by 5.6x wall /
    6.9x CPU; 512 over-fragmented).  The estimator must land within one
    octave of it — [64, 256] — from the on-disk bytes alone."""
    auto = auto_initial_partitions(
        150_000_000, SHINGLE_EXPLODE_BYTES_PER_INPUT_BYTE, cpus=32
    )
    assert 64 <= auto <= 256, auto
    # and directly from the measured exploded bytes (explode_factor=1):
    # 3.5e9 / 64 MB = 54.7 -> pow2-ceil 64, one octave under 128
    assert auto_initial_partitions(3_500_000_000, cpus=32) == 64


def test_small_inputs_keep_todays_default():
    """Every sf<=0.1 table must degenerate to the core-count floor — the
    globalizing trap (iterative operators' per-round fixed cost, ~8% of
    headline wall at sf0.1) is avoided by construction, not by a flag."""
    sf01_docs = table_input_bytes("/root/testdata/sf0.1", "documents")
    assert sf01_docs > 0
    assert (
        auto_initial_partitions(
            sf01_docs, SHINGLE_EXPLODE_BYTES_PER_INPUT_BYTE, cpus=32
        )
        == 32
    )
    assert auto_initial_partitions(0) == DEFAULT_SHUFFLE_PARTITIONS


def test_power_of_two_rounds_up():
    # AQE can coalesce an over-fine grain but never split a coarse one
    assert auto_initial_partitions(65 * (64 << 20), cpus=32) == 128
    assert auto_initial_partitions(64 * (64 << 20), cpus=32) == 64


def test_table_input_bytes_matches_filesystem(tmp_path):
    # driver testdata ships single-file tables
    path = "/root/testdata/sf0.001/documents.parquet"
    assert table_input_bytes("/root/testdata/sf0.001", "documents") == (
        os.path.getsize(path)
    ) > 0
    # engine writers produce directories of part files; _SUCCESS excluded
    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 10)
    (d / "part-1.parquet").write_bytes(b"y" * 7)
    (d / "_SUCCESS").write_bytes(b"")
    assert table_input_bytes(str(tmp_path), "t") == 17


def test_explode_factor_for_families():
    from findb_spark.session import explode_factor_for

    assert explode_factor_for("scan") == 1.0
    assert explode_factor_for("shingle") == float(
        SHINGLE_EXPLODE_BYTES_PER_INPUT_BYTE
    )
    assert explode_factor_for(7.5) == 7.5
    import pytest

    with pytest.raises(ValueError):
        explode_factor_for("warp-drive")


def test_get_spark_auto_grain_one_liner(spark):
    """Round-11 verdict item 6: the production entry path sizes the
    session from (sf_dir, table, family) in one documented call.  At
    sf0.1 the rule degenerates to the core-count floor, so the headline
    configuration is unchanged by construction (the floor pin above);
    a large measured multiplier produces the pow2-ceil grain."""
    from findb_spark.session import get_spark

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    try:
        s = get_spark(
            auto_grain_for=("/root/testdata/sf0.1", "documents", "shingle")
        )
        expect = auto_initial_partitions(
            table_input_bytes("/root/testdata/sf0.1", "documents"),
            SHINGLE_EXPLODE_BYTES_PER_INPUT_BYTE,
        )
        assert s.conf.get(key) == str(expect)
        assert expect == DEFAULT_SHUFFLE_PARTITIONS  # the sf<=0.1 floor
        # a deployment-measured numeric multiplier takes the scale path
        docs = table_input_bytes("/root/testdata/sf0.1", "documents")
        s = get_spark(auto_grain_for=("/root/testdata/sf0.1", "documents", 1e5))
        assert s.conf.get(key) == str(auto_initial_partitions(docs, 1e5))
        assert int(s.conf.get(key)) > DEFAULT_SHUFFLE_PARTITIONS
        # explicit initial_partitions wins over the rule
        s = get_spark(
            initial_partitions=512,
            auto_grain_for=("/root/testdata/sf0.1", "documents", 1e5),
        )
        assert s.conf.get(key) == "512"
    finally:
        spark.conf.unset(key)


def test_host_defaults_without_env(monkeypatch):
    """With the pins unset, cores come from the process's CPU affinity and
    the driver gets at most half of the host's memory (never a fixed
    32 cores / 8 g whatever the machine)."""
    from findb_spark.session import host_cpus, host_driver_memory

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert host_cpus() == len(os.sched_getaffinity(0))
    mem = host_driver_memory()
    assert mem.endswith("m")
    with open("/proc/meminfo") as f:
        total_mib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:")) // 1024
    assert 0 < int(mem[:-1]) <= min(8 * 1024, total_mib // 2)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert (host_cpus(), host_driver_memory()) == (3, "2g")

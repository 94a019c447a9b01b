"""Session policy without a JVM: host-sized defaults and the exact
restore of ``conf_scope``."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from facebook_ad_library_data_pipeline_spark.session import (
    conf_scope,
    default_cpus,
    default_driver_mem,
)


def test_derived_defaults_fit_host():
    assert 1 <= int(default_cpus()) <= len(os.sched_getaffinity(0))
    heap = default_driver_mem()
    assert heap.endswith("m")
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert 1024 <= int(heap[:-1]) <= 16 * 1024
    assert int(heap[:-1]) * 1024 <= total_kib


class _Conf:
    """The slice of RuntimeConfig conf_scope uses: get with a default,
    set, unset."""

    def __init__(self, settings: dict[str, str]):
        self.settings = dict(settings)

    def get(self, key, default):
        return self.settings.get(key, default)

    def set(self, key, value):
        self.settings[key] = value

    def unset(self, key):
        self.settings.pop(key, None)


def test_conf_scope_restores_exactly_even_on_error():
    spark = SimpleNamespace(conf=_Conf({"spark.sql.shuffle.partitions": "4"}))
    with pytest.raises(RuntimeError):
        scoped = {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.sources.partitionOverwriteMode": "dynamic",
        }
        with conf_scope(spark, scoped):
            assert spark.conf.settings == scoped
            raise RuntimeError("start failed")
    # the set key gets its old value back; the unset key is unset again,
    # not pinned to its default
    assert spark.conf.settings == {"spark.sql.shuffle.partitions": "4"}

"""Session defaults derive from the host unless the env overrides them
(no Spark session needed)."""

import os

from pytrs_spark.session import (default_cores, default_driver_memory,
                                 default_executor_memory)


def _meminfo(tmp_path, kb):
    p = tmp_path / 'meminfo'
    p.write_text(f'MemFree:         1024 kB\nMemTotal:       {kb} kB\n')
    return str(p)


def test_cores_follow_the_affinity_mask(monkeypatch):
    monkeypatch.delenv('SPARK_GRAFT_CPUS', raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv('SPARK_GRAFT_CPUS', '7')
    assert default_cores() == 7


def test_driver_memory_is_half_of_ram_clamped(monkeypatch, tmp_path):
    monkeypatch.delenv('SPARK_GRAFT_DRIVER_MEM', raising=False)
    # 15.7 GB host -> 7.86 GB heap.
    assert default_driver_memory(_meminfo(tmp_path, 16479424)) == '8046m'
    assert default_driver_memory(_meminfo(tmp_path, 1 << 20)) == '1024m'
    assert default_driver_memory(_meminfo(tmp_path, 512 << 20)) \
        == f'{48 * 1024}m'
    assert default_driver_memory(str(tmp_path / 'absent')) \
        == f'{48 * 1024}m'


def test_driver_memory_env_takes_precedence(monkeypatch, tmp_path):
    monkeypatch.setenv('SPARK_GRAFT_DRIVER_MEM', '3g')
    assert default_driver_memory(_meminfo(tmp_path, 16479424)) == '3g'


def test_executor_memory_splits_half_of_ram_over_executors(monkeypatch,
                                                           tmp_path):
    monkeypatch.delenv('SPARK_GRAFT_EXECUTOR_MEM', raising=False)
    host = _meminfo(tmp_path, 16479424)     # 15.7 GB: half is 8046 MB
    assert default_executor_memory('local-cluster[4,1,8192]', host) \
        == '2011m'
    assert default_executor_memory('local-cluster[ 2 , 2 , 8192 ]', host) \
        == '4023m'
    # Never more than the worker offers, never under 1 GB.
    assert default_executor_memory('local-cluster[2,2,3072]', host) \
        == '3072m'
    assert default_executor_memory('local-cluster[16,1,8192]', host) \
        == '1024m'
    assert default_executor_memory('local-cluster[2,2,3072]',
                                   str(tmp_path / 'absent')) == '3072m'
    # Other masters keep Spark's own default.
    assert default_executor_memory('local[4]', host) is None


def test_executor_memory_env_takes_precedence(monkeypatch, tmp_path):
    monkeypatch.setenv('SPARK_GRAFT_EXECUTOR_MEM', '2g')
    assert default_executor_memory('local-cluster[2,2,3072]',
                                   _meminfo(tmp_path, 16479424)) == '2g'

"""Session defaults derive from the host unless the env overrides them
(no Spark session needed)."""

import os

from pytrs_spark.session import default_cores, default_driver_memory


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

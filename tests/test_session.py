"""Session defaults derive from the host unless the env overrides them
(no Spark session needed), and a session starts its Python workers only
when it plans a parse (one session, in a child process)."""

import json
import os
import subprocess
import sys

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


# Runs in a child process so that its process tree is its own: the JVM
# and, once started, the worker daemon and the workers it forks all
# descend from the child; the daemon and its workers run with the
# daemon module as an argument.
_TRIGGER_PROBE = r'''
import json, os, time
from pytrs_spark.operators.parse import parse_documents_full
from pytrs_spark.session import get_spark


def daemons():
    children = {}
    for pid in filter(str.isdigit, os.listdir('/proc')):
        try:
            with open(f'/proc/{pid}/stat') as f:
                ppid = int(f.read().rsplit(')', 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(pid)
    found, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(int(todo.pop()), ()):
            todo.append(pid)
            try:
                with open(f'/proc/{pid}/cmdline', 'rb') as f:
                    # The module as its own argument: the JVM's command
                    # line names it too, inside a --conf.
                    if b'pytrs_spark.daemon' in f.read().split(b'\0'):
                        found.append(pid)
            except OSError:
                pass
    return found


def poll(seconds):
    end = time.monotonic() + seconds
    while not daemons() and time.monotonic() < end:
        time.sleep(0.2)
    return len(daemons())


spark = get_spark('trigger_probe', cores=1)
try:
    spark.range(1000).count()
    native = poll(5)
    docs = spark.createDataFrame(
        [(1, 'T154N-R97W Sec 14: NE/4'), (2, 'T155N-R97W Sec 1: SW/4')],
        'doc_id long, raw_desc string')
    rows = parse_documents_full(docs).count()
    parse = poll(5)
finally:
    spark.stop()
print(json.dumps({'native': native, 'parse': parse, 'rows': rows}))
'''


def test_python_workers_start_with_the_first_parse():
    """A native job forks no Python process in 5 s; planning a parse
    starts the worker daemon."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM='1g',
               PYTHONPATH=os.pathsep.join(
                   p for p in (root, os.environ.get('PYTHONPATH')) if p))
    env.pop('SPARK_GRAFT_MASTER', None)
    out = subprocess.run([sys.executable, '-c', _TRIGGER_PROBE], cwd=root,
                         env=env, capture_output=True, text=True,
                         timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got['native'] == 0, got
    assert got['parse'] >= 1 and got['rows'] == 2, got

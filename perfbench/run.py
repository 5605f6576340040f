"""Benchmark entry point: one seeded workload, one result line.

    python3 perfbench/run.py --workload tile_lattice --seed 1 \\
        --seconds 3 --trace 0

Load model: closed loop, one driver process, one job at a time on
``local[<cores>]``.  A run generates its inputs from ``--seed``, writes
them where ``pytrs_spark.iceberg.read_table`` reads them, starts the
session, sets the workload up (polygon layer, join prep), runs one
verified warm-up repetition (untimed) and then times repetitions for
``--seconds`` (at least three), verifying every repetition against the
expected outputs derived in ``gen.py``.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (names and units in ``BENCHMARK.json``).
The line before it carries the details: host, quartiles, sample count
and the ungated diagnostics.  A traced run also writes its spans as
JSON lines under ``.perfbench/``.
"""

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import pytrs_spark  # noqa: E402,F401  (fails fast outside a checkout)

import tracing  # noqa: E402
import workloads  # noqa: E402

MIN_FREE_DISK_GB = 3.0
MIN_REPS = 3


def host_facts() -> dict:
    """Cores, RAM and free disk of the host the run is measured on."""
    mem = {}
    with open('/proc/meminfo') as f:
        for line in f:
            key, val = line.split(':', 1)
            mem[key] = int(val.split()[0]) * 1024
    return {
        'cores': len(os.sched_getaffinity(0)),
        'ram_gb': round(mem['MemTotal'] / 2 ** 30, 2),
        'avail_ram_gb': round(mem['MemAvailable'] / 2 ** 30, 2),
        'free_disk_gb': round(shutil.disk_usage(ROOT).free / 2 ** 30, 2),
    }


def size_session(host: dict, workdir: str) -> None:
    """Size the engine's session from the host through its existing
    environment overrides (the engine's 48g driver default does not
    fit a small host)."""
    driver_mb = max(1024, min(16384, int(host['ram_gb'] * 1024 / 4)))
    os.environ['SPARK_GRAFT_CPUS'] = str(host['cores'])
    os.environ['SPARK_GRAFT_DRIVER_MEM'] = f'{driver_mb}m'
    os.environ['SPARK_LOCAL_DIRS'] = os.path.join(workdir, 'local')
    os.environ['TMPDIR'] = os.path.join(workdir, 'tmp')
    for sub in ('local', 'tmp'):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)


def result(attempted: int, failed: int, values: dict, units: dict) -> dict:
    """The result line: every metric of ``units`` (a layer the
    workload bypasses reads 0)."""
    return {'correct': failed == 0, 'attempted': attempted,
            'failed': failed,
            'metrics': {k: {'value': float(values.get(k, 0.0)), 'unit': u}
                        for k, u in units.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    host = host_facts()
    print(json.dumps({'host': host}), flush=True)
    if host['free_disk_gb'] < MIN_FREE_DISK_GB:
        # Spill could fill the disk: count the workload as failed
        # instead of running it.
        print(json.dumps({'correct': False, 'attempted': 1, 'failed': 1,
                          'metrics': {}}))
        return 1

    out_dir = os.path.join(ROOT, '.perfbench')
    workdir = os.path.join(
        out_dir, f'{args.workload}-s{args.seed}-{os.getpid()}')
    os.makedirs(workdir)
    size_session(host, workdir)
    tracer = tracing.Tracer(f'{args.workload}-s{args.seed}')
    wl = workloads.WORKLOADS[args.workload](args.seed)
    session = None
    try:
        t = time.monotonic()
        wl.generate()
        gen_s = time.monotonic() - t

        with tracer.span('session.start'):
            session = workloads.Session(workdir, trace=bool(args.trace))
        spark = tracer.spark = session.spark
        t = time.monotonic()
        wl.write_inputs(spark, os.path.join(workdir, 'tables'))
        gen_s += time.monotonic() - t

        wl.prepare(spark, tracer)
        errors = wl.rep(spark) + wl.check_once(spark)
        attempted, failed = 1, int(bool(errors))
        setup_s = time.monotonic() - T_START - gen_s

        walls, cpu = [], 0.0
        steal0 = tracing.host_steal()
        t_loop = time.monotonic()
        while (time.monotonic() - t_loop < args.seconds
               or len(walls) < MIN_REPS):
            attempted += 1
            c0 = tracing.tree_cpu_s()
            t = time.monotonic()
            try:
                problems = wl.rep(spark)
            except Exception as e:   # noqa: BLE001 - counted, reported
                problems = [f'{type(e).__name__}: {e}']
            walls.append(time.monotonic() - t)
            cpu += tracing.tree_cpu_s() - c0
            failed += bool(problems)
            errors.extend(problems)
        steal = [b - a for a, b in zip(steal0, tracing.host_steal())]
        peaks = tracing.tree_peak_rss_mb()
        rows = wl.rows
        wall = statistics.median(walls)
        q1, _, q3 = statistics.quantiles(walls, n=4)
        detail = {
            'workload': args.workload, 'seed': args.seed, 'host': host,
            'rows': rows, 'reps': len(walls),
            'wall_s': {'median': wall, 'q1': q1, 'q3': q3,
                       'each': walls},
            'rows_per_s_q1_q3': [rows / q3, rows / q1],
            'peak_rss_mb_each': [round(p) for p in peaks],
            'steal_frac': steal[0] / max(steal[1], 1),
            'gen_s': gen_s, 'errors': errors[:5],
        }
        values = {
            'rows_per_s': rows / wall,
            'setup_s': setup_s,
            'peak_rss_mb': sum(peaks),
            'cpu_s_per_mrow': cpu / (rows * len(walls)) * 1e6,
        }
        units = tracing.END_TO_END_UNITS
        if args.trace:
            values = wl.traced(spark, tracer)
            values['trace.overhead_s'] = tracer.wall('rep') - wall
            values['trace.coverage'] = tracer.self_time_sum() / wall
            session.stop()
            values.update(tracer.event_metrics(session.event_dir))
            values['error_rate'] = failed / attempted
            values['gen_s'] = gen_s
            values.update({f'host.{k}': v for k, v in host.items()})
            tracer.write(os.path.join(
                out_dir, f'spans-{args.workload}-s{args.seed}.jsonl'))
            units = tracing.per_layer_units()
        print(json.dumps(detail), flush=True)
        print(json.dumps(result(attempted, failed, values, units)),
              flush=True)
        return 0
    finally:
        if session is not None:
            session.stop()
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == '__main__':
    sys.exit(main())

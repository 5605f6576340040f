"""Spans, Spark event-log attribution and process-tree accounting.

Spans are kept in memory (name, start, end, parent, run id) and written
as JSON lines when the run ends.  Each span sets the Spark job
description to its name, so the event log of a traced run groups task
metrics and SQL plans by span.  Process-tree figures read ``/proc``:
the driver Python, the JVM it launched and the JVM's Python workers.
"""

import collections
import contextlib
import glob
import json
import os
import re
import time

SPANS = ('session.start', 'layer.build', 'iceberg.read', 'parse',
         'grid.layer', 'grid.anchor', 'join.prep', 'join.assign', 'rollup',
         'knn', 'lineage', 'raster.tiles', 'raster.zonal', 'textops.hamming',
         'multimodal.caption_edges', 'textops.keep_one')
SPAN_COUNTERS = (('task_cpu_s', 's'), ('gc_s', 's'), ('shuffle_mb', 'MB'),
                 ('spill_mb', 'MB'), ('fetch_wait_s', 's'))
COUNTERS = (
    ('iceberg.input_mb', 'MB'),
    ('plss.kernel_docs_per_s', '1/s'),
    ('parse.rows_in', 'count'), ('parse.rows_out', 'count'),
    ('parse.flawed_frac', 'fraction'),
    ('grid.polygons_out', 'count'),
    ('join.index_rows', 'count'), ('join.candidates_per_row', 'ratio'),
    ('join.hit_ratio', 'ratio'), ('join.assigned_frac', 'fraction'),
    ('join.python_stage', 'flag'),
    ('rollup.rows_out', 'count'),
    ('knn.rows_out', 'count'),
    ('lineage.written_mb', 'MB'), ('lineage.buckets', 'count'),
    ('raster.tiles_out', 'count'), ('raster.max_images_per_tile', 'count'),
    ('imagecodec.decode_per_s', '1/s'),
    ('textops.pairs_out', 'count'), ('textops.dropped_rows', 'count'),
    ('multimodal.edges_out', 'count'), ('textops.kept_frac', 'fraction'),
    ('textops.persistent_rdds_after', 'count'),
    ('spark.tasks', 'count'), ('spark.failed_tasks', 'count'),
    ('trace.coverage', 'ratio'), ('trace.overhead_s', 's'),
    ('error_rate', 'fraction'), ('gen_s', 's'),
    ('host.cores', 'count'), ('host.ram_gb', 'GB'),
    ('host.free_disk_gb', 'GB'),
)
END_TO_END_UNITS = {'rows_per_s': '1/s', 'setup_s': 's',
                    'peak_rss_mb': 'MB', 'cpu_s_per_mrow': 's'}
# Plan nodes that run Python (Arrow / pandas UDF operators).
_PYTHON_NODE = re.compile(r'Python|Arrow|Pandas')


def span_wall_name(span: str) -> str:
    return 'session.start_s' if span == 'session.start' else f'{span}.wall_s'


def per_layer_units() -> dict:
    units = {span_wall_name(s): 's' for s in SPANS}
    for s in SPANS[1:]:
        units.update({f'{s}.{c}': u for c, u in SPAN_COUNTERS})
    units.update(dict(COUNTERS))
    return units


class Tracer:
    """In-memory spans of one run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans = []
        self._stack = []
        self.spark = None       # once set, spans name the Spark jobs

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._describe(name)
        rec = {'name': name, 'parent': parent, 'run_id': self.run_id,
               'start': time.time()}
        try:
            yield rec
        finally:
            rec['end'] = time.time()
            self.spans.append(rec)
            self._stack.pop()
            self._describe(parent)

    def _describe(self, name):
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(name)

    def wall(self, name: str) -> float:
        return sum(s['end'] - s['start'] for s in self.spans
                   if s['name'] == name)

    def self_time_sum(self) -> float:
        """Sum of the self times of the traced repetition's layers:
        each child span's duration minus what its own children cover."""
        total = 0.0
        for s in self.spans:
            if s['parent'] != 'rep':
                continue
            kids = sum(k['end'] - k['start'] for k in self.spans
                       if k['parent'] == s['name']
                       and s['start'] <= k['start'] <= s['end'])
            total += s['end'] - s['start'] - kids
        return total

    def write(self, path: str) -> None:
        with open(path, 'w') as f:
            for s in sorted(self.spans, key=lambda s: s['start']):
                f.write(json.dumps(s) + '\n')

    def event_metrics(self, event_dir: str) -> dict:
        """Per-span task metrics and plan facts from the event log."""
        log = EventLog(event_dir)
        out = {span_wall_name(s): self.wall(s) for s in SPANS}
        for span in SPANS[1:]:
            t = log.task_totals.get(span, collections.Counter())
            out[f'{span}.task_cpu_s'] = t['cpu_ns'] / 1e9
            out[f'{span}.gc_s'] = t['gc_ms'] / 1e3
            out[f'{span}.shuffle_mb'] = t['shuffle_bytes'] / 2 ** 20
            out[f'{span}.spill_mb'] = t['spill_bytes'] / 2 ** 20
            out[f'{span}.fetch_wait_s'] = t['fetch_wait_ms'] / 1e3
        read = log.task_totals.get('iceberg.read', collections.Counter())
        out['iceberg.input_mb'] = read['input_bytes'] / 2 ** 20
        out['spark.tasks'] = log.tasks
        out['spark.failed_tasks'] = log.failed_tasks
        nodes = log.plan_nodes('join.assign')
        if nodes:
            out['join.python_stage'] = float(any(
                _PYTHON_NODE.search(n['nodeName']) for n in nodes))
            out['join.index_rows'] = log.cell_index_rows(nodes)
        return out


class EventLog:
    """The parts of a Spark JSON event log the benchmark attributes."""

    def __init__(self, event_dir: str):
        self.task_totals = collections.defaultdict(collections.Counter)
        self.tasks = self.failed_tasks = 0
        self.plans = {}            # execution id -> (description, plan)
        self.acc = collections.Counter()    # accumulator id -> value
        self._stage_desc = {}
        for path in glob.glob(os.path.join(event_dir, '*')):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e):
        kind = e['Event']
        if kind == 'SparkListenerJobStart':
            desc = e.get('Properties', {}).get('spark.job.description')
            for st in e['Stage IDs']:
                self._stage_desc[st] = desc
        elif kind == 'SparkListenerTaskEnd':
            self.tasks += 1
            if e['Task End Reason']['Reason'] != 'Success':
                self.failed_tasks += 1
            for a in e['Task Info'].get('Accumulables', []):
                if isinstance(a.get('Update'), (int, float)):
                    self.acc[a['ID']] += a['Update']
            m = e.get('Task Metrics')
            desc = self._stage_desc.get(e['Stage ID'])
            if not m or desc is None:
                return
            t = self.task_totals[desc]
            t['cpu_ns'] += m['Executor CPU Time']
            t['gc_ms'] += m['JVM GC Time']
            t['shuffle_bytes'] += m['Shuffle Write Metrics'][
                'Shuffle Bytes Written']
            t['spill_bytes'] += m['Disk Bytes Spilled']
            t['fetch_wait_ms'] += m['Shuffle Read Metrics']['Fetch Wait Time']
            t['input_bytes'] += m['Input Metrics']['Bytes Read']
        elif kind.endswith('SQLExecutionStart'):
            self.plans[e['executionId']] = (e.get('description'),
                                            e['sparkPlanInfo'])
        elif kind.endswith('SQLAdaptiveExecutionUpdate'):
            desc, _ = self.plans[e['executionId']]
            self.plans[e['executionId']] = (desc, e['sparkPlanInfo'])
        elif kind.endswith('DriverAccumUpdates'):
            for aid, val in e['accumUpdates']:
                self.acc[aid] += val

    def plan_nodes(self, desc: str) -> list:
        """Every node of the final plans run under ``desc``."""
        out = []
        stack = [plan for d, plan in self.plans.values() if d == desc]
        while stack:
            node = stack.pop()
            out.append(node)
            stack.extend(node['children'])
        return out

    def metric(self, node, name='number of output rows') -> int:
        return sum(self.acc[m['accumulatorId']] for m in node['metrics']
                   if m['name'] == name)

    def cell_index_rows(self, nodes) -> int:
        """Rows broadcast as the cell index: the broadcast build side of
        the hash join keyed on the image's cell."""
        best = 0
        for node in nodes:
            if not (node['nodeName'] == 'BroadcastHashJoin'
                    and re.search(r'\[cell#', node['simpleString'])):
                continue
            stack = list(node['children'])
            while stack:
                n = stack.pop()
                if n['nodeName'] == 'BroadcastExchange':
                    best = max(best, self.metric(n))
                else:
                    stack.extend(n['children'])
        return best


# --- process tree ----------------------------------------------------------

_TICK = os.sysconf('SC_CLK_TCK')


def _stat(pid):
    with open(f'/proc/{pid}/stat') as f:
        return f.read().rsplit(')', 1)[1].split()


def tree_pids(root=None) -> list:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    children = collections.defaultdict(list)
    for d in os.listdir('/proc'):
        if d.isdigit():
            try:
                children[int(_stat(d)[1])].append(int(d))
            except (OSError, IndexError):
                continue
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU of the process tree, reaped children included
    (a worker that exits inside a window is charged to its parent)."""
    total = 0
    for pid in tree_pids():
        try:
            f = _stat(pid)
        except OSError:
            continue
        total += sum(int(v) for v in f[11:15])
    return total / _TICK


def host_steal() -> tuple:
    """(steal, total) CPU ticks of the host since boot: the share of
    time the hypervisor ran something else on this guest's CPUs."""
    with open('/proc/stat') as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tree_peak_rss_mb() -> list:
    """Peak RSS (MB) of each process of the tree, largest first; the
    benchmark reports their sum."""
    peaks = []
    for pid in tree_pids():
        try:
            with open(f'/proc/{pid}/status') as f:
                for line in f:
                    if line.startswith('VmHWM:'):
                        peaks.append(int(line.split()[1]) / 1024)
        except OSError:
            continue
    return sorted(peaks, reverse=True)

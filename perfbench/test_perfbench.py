"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q

- the same seed yields identical inputs and expectations;
- a single corrupted output row fails verification;
- the metric names a run prints match ``BENCHMARK.json``.
"""

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

MAKERS = {
    'tile_lattice': lambda seed: gen.tile_lattice_inputs(seed, 5000),
    'image_dedup': lambda seed: gen.image_dedup_inputs(seed, 5000),
    'tile_materialize': lambda seed: gen.tile_materialize_inputs(
        seed, 200, 60),
}


@pytest.fixture(scope='module')
def inputs():
    return {name: make(7) for name, make in MAKERS.items()}


def frames(out):
    return [x for x in out if isinstance(x, pd.DataFrame)]


@pytest.mark.parametrize('name', sorted(MAKERS))
def test_same_seed_same_inputs(name, inputs):
    again, other = MAKERS[name](7), MAKERS[name](8)
    for a, b in zip(frames(inputs[name]), frames(again)):
        pd.testing.assert_frame_equal(a, b)
    assert inputs[name][-1] == again[-1]
    assert any(not a.equals(c) for a, c in
               zip(frames(inputs[name]), frames(other)))


def corrupt(rows, i, field, value):
    rows = list(rows)
    row = list(rows[i])
    row[field] = value
    rows[i] = tuple(row)
    return rows


def test_expected_rows_match_their_digests(inputs):
    for out in inputs.values():
        expect = out[-1]
        for name, rows in expect['rows'].items():
            assert expect[name] == gen.digest(rows)


def test_wrong_tile_fails(inputs):
    """One image counted in a neighbouring tile: two leaf counts move."""
    expect = inputs['tile_lattice'][-1]
    rows = expect['rows']['pyramid']
    leaves = [i for i, r in enumerate(rows) if r[3] == 3]
    a, b = leaves[0], leaves[1]
    bad = corrupt(corrupt(rows, a, 4, rows[a][4] - 1), b, 4, rows[b][4] + 1)
    assert workloads.compare('pyramid', gen.digest(bad), expect['pyramid'])
    assert not workloads.compare('pyramid', gen.digest(rows),
                                 expect['pyramid'])


def test_wrong_qq_fails(inputs):
    expect = inputs['tile_materialize'][-1]
    for name in ('tiles', 'layer'):
        rows = expect['rows'][name]
        qq_field = len(rows[0]) - 1
        bad = corrupt(rows, 0, qq_field, 'NENE' if rows[0][qq_field]
                      != 'NENE' else 'NWNE')
        assert workloads.compare(name, gen.digest(bad), expect[name])
    lattice = inputs['tile_lattice'][-1]
    rows = lattice['rows']['tiles_sample']
    bad = corrupt(rows, 3, 2, 'SWSW' if rows[3][2] != 'SWSW' else 'SESW')
    assert workloads.compare('tiles_sample', gen.digest(bad),
                             lattice['tiles_sample'])


def test_dropped_kept_row_fails(inputs):
    expect = inputs['image_dedup'][-1]
    rows = expect['rows']['keep']
    i = next(i for i, r in enumerate(rows) if r[2] == 1)
    assert workloads.compare('keep', gen.digest(rows[:i] + rows[i + 1:]),
                             expect['keep'])
    assert workloads.compare('keep', gen.digest(corrupt(rows, i, 2, 0)),
                             expect['keep'])


def test_wrong_knn_rank_fails(inputs):
    expect = inputs['tile_materialize'][-1]
    rows = expect['rows']['knn']
    bad = corrupt(corrupt(rows, 0, 1, 2), 1, 1, 1)     # ranks 1, 2 swapped
    assert workloads.compare('knn', gen.digest(bad), expect['knn'])


def test_planted_twins_and_captions_form_components(inputs):
    images, expect = inputs['image_dedup']
    comps = pd.DataFrame(expect['rows']['keep'],
                         columns=['image_id', 'component_id', 'kept'])
    sizes = comps.groupby('component_id').size()
    assert (sizes > 1).any()
    assert comps['kept'].sum() == len(sizes)
    assert (comps['component_id'] <= comps['image_id']).all()
    assert len(images) == len(comps)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), 'BENCHMARK.json')) as f:
        spec = json.load(f)
    assert {w['name'] for w in spec['workloads']} == set(workloads.WORKLOADS)
    for key, units in (('end_to_end', tracing.END_TO_END_UNITS),
                       ('per_layer', tracing.per_layer_units())):
        printed = run.result(1, 0, {}, units)['metrics']
        assert {m['name']: m['unit'] for m in spec[key]} == {
            k: v['unit'] for k, v in printed.items()}

"""The parse kernels against their last reference-verified snapshot.

``tests/test_differential.py`` checks the kernels against the
reference library live, and skips when the reference is not
installed.  This test runs everywhere: it compares the kernels' rows
and flags on that file's ``CORPUS`` x ``CONFIGS`` with
``tests/golden/plss_differential_snapshot.json``, a snapshot taken
while no kernel file had changed since the last green live
differential run.  It is a regression pin, not a reference run.

After a green live differential run, regenerate the snapshot with
``PYTHONPATH=. python tests/test_plss_snapshot.py``.
"""

import ast
import json
import os

from pytrs_spark.plss import document as D
from pytrs_spark.plss import tract as Tr

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, 'golden', 'plss_differential_snapshot.json')

PROVENANCE = (
    'Kernel output, not a reference run.  Taken when no kernel file had '
    'changed since the last green live differential run (commit 98e7d20): '
    '`git log 98e7d20..HEAD -- pytrs_spark/plss '
    'pytrs_spark/operators/parse.py` was empty.')

_DOC_KW = ('layout', 'default_ns', 'default_ew', 'ocr_scrub',
           'require_colon', 'segment', 'sec_within', 'no_pm')
_TRACT_KW = ('clean_qq', 'suppress_lot_divs', 'qq_depth',
             'qq_depth_min', 'qq_depth_max', 'break_halves')


def differential_inputs():
    """``CORPUS`` and ``CONFIGS`` read from test_differential.py's
    source (importing it would skip this module with it)."""
    with open(os.path.join(HERE, 'test_differential.py')) as f:
        tree = ast.parse(f.read())
    found = {node.targets[0].id: ast.literal_eval(node.value)
             for node in tree.body
             if isinstance(node, ast.Assign)
             and getattr(node.targets[0], 'id', None)
             in ('CORPUS', 'CONFIGS')}
    return found['CORPUS'], found['CONFIGS']


def _parse(text, kw):
    doc = D.parse_document(
        text, **{k: kw[k] for k in _DOC_KW if k in kw})
    tracts = [(t, Tr.parse_tract(
        t['desc'], **{k: kw[k] for k in _TRACT_KW if k in kw}))
        for t in doc['tracts']]
    return doc, tracts


def snapshot():
    corpus, configs = differential_inputs()
    runs = []
    for kw in configs:
        rows = []
        for text in corpus:
            _, tracts = _parse(text, kw)
            rows.append([[t['trs'], t['desc'], tp['lots'], tp['qqs'],
                          tp['lot_acres']] for t, tp in tracts])
        runs.append({'config': kw, 'rows': rows})
    flags = []
    for text in corpus:
        doc, tracts = _parse(text, {})
        flags.append({'w_flags': doc['w_flags'],
                      'e_flags': doc['e_flags'],
                      'layout': doc['layout'],
                      'tract_w_flags': [tp['w_flags']
                                        for _, tp in tracts]})
    return {'label': 'last reference-verified snapshot',
            'provenance': PROVENANCE,
            'corpus': corpus, 'runs': runs, 'default_flags': flags}


def test_kernels_match_last_reference_verified_snapshot():
    with open(GOLDEN) as f:
        golden = json.load(f)
    assert golden['label'] == 'last reference-verified snapshot'
    now = json.loads(json.dumps(snapshot()))
    # The snapshot must cover the live differential's current inputs.
    assert now['corpus'] == golden['corpus']
    assert [r['config'] for r in now['runs']] \
        == [r['config'] for r in golden['runs']]
    for text, got, want in zip(now['corpus'], now['default_flags'],
                               golden['default_flags']):
        assert got == want, text
    for run_now, run_golden in zip(now['runs'], golden['runs']):
        for text, got, want in zip(now['corpus'], run_now['rows'],
                                   run_golden['rows']):
            assert got == want, (run_now['config'], text)


if __name__ == '__main__':
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, 'w') as f:
        json.dump(snapshot(), f, indent=1, ensure_ascii=False)
        f.write('\n')

"""Regression tests for the iterative-checkpoint hygiene in
``connected_components`` (the round-4 driver-killer).

Spark 4's ``localCheckpoint`` snapshots the source plan's size
estimate into the new ``LogicalRDD`` (``originStats``); in a loop
whose round plan self-joins the carried table, each generation
inherits the previous round's join-product estimate and the next
round squares it again -- doubly-exponential ``sizeInBytes`` until the
BigInteger stats arithmetic kills the driver (measured ~round 20 on
the 200k-point DBSCAN core graph).  ``_checkpoint_fresh`` strips the
inherited stats; these tests pin that behavior and the loop's bounded
round count on a high-diameter geometric graph shape.
"""

from pyspark.sql import functions as F

from pytrs_spark.lifecycle import checkpoint as _checkpoint_fresh
from pytrs_spark.operators.textops import connected_components


def _size_in_bytes(df):
    return int(str(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes()))


def test_checkpoint_fresh_strips_inherited_stats(spark):
    base = spark.range(1000).select('id', (F.col('id') % 7).alias('k'))
    ck0 = _checkpoint_fresh(base)
    # one self-join round: the plain checkpoint INHERITS the join
    # product; the fresh checkpoint must not.
    joined = ck0.alias('a').join(
        ck0.select(F.col('k'), F.col('id').alias('id2')).alias('b'), 'k')
    inherited = joined.localCheckpoint()
    stripped = _checkpoint_fresh(joined)
    s_join = _size_in_bytes(joined)
    assert _size_in_bytes(inherited) == s_join   # the Spark 4 behavior
    assert _size_in_bytes(stripped) != s_join    # the fix
    # and the fix must not change the data
    assert stripped.count() == inherited.count()
    a = sorted(tuple(r) for r in stripped.collect())
    b = sorted(tuple(r) for r in inherited.collect())
    assert a == b


def test_checkpoint_stats_bounded_across_generations(spark):
    """Iterating fresh checkpoints through self-joins keeps the size
    estimate CONSTANT per generation (the inherited variant grows
    ~quadratically per round and would overflow past ~20)."""
    df = _checkpoint_fresh(
        spark.range(100).select('id', (F.col('id') % 5).alias('k')))
    first = None
    for _ in range(4):
        j = df.alias('a').join(
            df.select('id', F.col('k').alias('k2')).alias('b'), 'id') \
            .select('id', 'k')
        df = _checkpoint_fresh(j)
        s = _size_in_bytes(df)
        if first is None:
            first = s
        assert s == first


def test_checkpoint_fresh_fallback_warns_once(spark, monkeypatch):
    """If the LogicalRDD.copy reflection breaks (e.g. a Spark upgrade
    renames the case-class fields), ``_checkpoint_fresh`` must degrade
    to the plain (stats-inheriting) checkpoint -- correct data -- and
    warn exactly once so the regression is visible, not a mystery
    driver OOM twenty rounds later."""
    import warnings

    import pytest

    import pytrs_spark.lifecycle as t

    def _boom(*_a, **_k):
        raise RuntimeError('injected reflection break')

    # Fail the final wrap step inside the strip's try block.
    monkeypatch.setattr(t, 'DataFrame', _boom)
    monkeypatch.setattr(t, '_CKPT_STRIP_WARNED', False)
    base = spark.range(10)
    with pytest.warns(RuntimeWarning, match='stats-strip failed'):
        out = t.checkpoint(base)
    assert out.count() == 10  # degraded, not broken
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter('always')
        out2 = t.checkpoint(base)
    assert out2.count() == 10
    assert not [w for w in caught
                if 'stats-strip failed' in str(w.message)]


def test_cc_geometric_grid_bounded_rounds(spark):
    """A 40x40 4-neighbor grid graph (diameter 78): pure min-label
    flooding needs ~diameter rounds; contraction + jumping must stay
    log-bounded.  Also pins exact min-id labels on a known graph."""
    n = 40
    cells = spark.range(n * n).select(
        (F.col('id') % n).alias('x'), (F.col('id') / n).cast('long')
        .alias('y'), F.col('id').alias('v'))
    right = cells.filter(F.col('x') < n - 1).select(
        F.col('v').alias('id_a'), (F.col('v') + 1).alias('id_b'))
    down = cells.filter(F.col('y') < n - 1).select(
        F.col('v').alias('id_a'), (F.col('v') + n).alias('id_b'))
    edges = right.unionByName(down)
    st = {}
    # local_max_edges=0 forces the distributed loop (this test pins
    # ITS round bound; the local path is covered by the equivalence
    # tests below).
    comp = connected_components(edges, stats=st, local_max_edges=0)
    assert st['mode'] == 'distributed'
    rows = comp.agg(F.countDistinct('component_id').alias('nc'),
                    F.min('component_id').alias('mn'),
                    F.max('component_id').alias('mx'),
                    F.count('*').alias('nv')).collect()[0]
    assert rows['nc'] == 1 and rows['mn'] == 0 and rows['mx'] == 0
    assert rows['nv'] == n * n
    # diameter 78; contraction keeps rounds ~log2: allow generous slack
    assert st['iterations'] <= 14, st


def test_cc_local_matches_distributed_mixed_graph(spark):
    """The size-gated driver closure (_cc_local) must produce
    component checksums IDENTICAL to the distributed loop on a graph
    mixing cliques, a long path (high diameter), rings, and
    singletons-by-absence."""
    edges = []
    # three 5-cliques at 0-4, 100-104, 200-204
    for base in (0, 100, 200):
        for i in range(5):
            for j in range(i + 1, 5):
                edges.append((base + i, base + j))
    # a 300-node path (diameter 299) at 1000..1299
    edges += [(1000 + i, 1001 + i) for i in range(299)]
    # a 12-ring at 2000..2011
    edges += [(2000 + i, 2000 + (i + 1) % 12) for i in range(12)]
    # a bridge merging clique 2 into the path's component
    edges.append((104, 1150))
    df = spark.createDataFrame(edges, 'id_a long, id_b long')
    st_l, st_d = {}, {}
    local = connected_components(df, stats=st_l)
    dist = connected_components(df, stats=st_d, local_max_edges=0)
    assert st_l['mode'] == 'local' and st_d['mode'] == 'distributed'
    a = sorted(tuple(r) for r in local.collect())
    b = sorted(tuple(r) for r in dist.collect())
    assert a == b
    # min-id representative spot checks
    comp = dict(a)
    assert comp[204] == 200 and comp[104] == 100
    assert comp[1299] == 100  # bridged through 104 -> min id 100
    assert comp[2011] == 2000


def test_cc_local_matches_distributed_string_ids(spark):
    """String vertex ids: min is lexicographic in both paths."""
    df = spark.createDataFrame(
        [('b', 'c'), ('c', 'a'), ('x', 'y')], 'id_a string, id_b string')
    local = connected_components(df)
    dist = connected_components(df, local_max_edges=0)
    a = sorted(tuple(r) for r in local.collect())
    b = sorted(tuple(r) for r in dist.collect())
    assert a == b
    assert dict(a) == {'a': 'a', 'b': 'a', 'c': 'a', 'x': 'x', 'y': 'x'}
    assert local.schema == dist.schema


def test_cc_local_empty_edges(spark):
    df = spark.createDataFrame([], 'id_a long, id_b long')
    st = {}
    out = connected_components(df, stats=st)
    assert out.count() == 0
    assert st['mode'] == 'local'
    assert [f.name for f in out.schema.fields] == ['doc_id',
                                                   'component_id']


def test_cc_null_endpoints_take_no_edges(spark):
    """A pair with a null endpoint is no evidence: it must not crash
    the driver closure (pandas would coerce nullable long to float64
    NaN) nor emit a junk null label row from the distributed loop."""
    df = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (None, None), (5, 6)],
        'id_a long, id_b long')
    for force in (2_000_000, 0):     # local, then distributed
        out = sorted(tuple(r) for r in
                     connected_components(
                         df, local_max_edges=force).collect())
        assert out == [(1, 1), (2, 1), (5, 5), (6, 5)], (force, out)


def test_cc_local_matches_distributed_property(spark):
    """Property check: on random small graphs (dense ints, self
    loops, duplicate edges, multiple components) the driver closure
    and the distributed loop produce identical labels."""
    from hypothesis import given, settings, strategies as st

    edge = st.tuples(st.integers(0, 40), st.integers(0, 40))

    @settings(max_examples=8, deadline=None)
    @given(st.lists(edge, min_size=1, max_size=60))
    def check(edges):
        df = spark.createDataFrame(edges, 'id_a long, id_b long')
        a = sorted(tuple(r) for r in
                   connected_components(df).collect())
        b = sorted(tuple(r) for r in
                   connected_components(
                       df, local_max_edges=0).collect())
        assert a == b

    check()

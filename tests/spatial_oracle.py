"""Test-side references for the tile assignment: a numpy all-pairs
even-odd ray cast over every polygon's ring, and a walker over the
final executed plan.  Both are independent of
``pytrs_spark.spatial.join``."""

import re

import numpy as np

from pytrs_spark.spatial.grid import with_anchor


def ray_cast_assign(points, polygons, chunk=64):
    """``points``: ``(image_id, x, y)`` rows; ``polygons``: ``(trs, qq,
    ring_xs, ring_ys)`` rows.  Returns ``{(image_id, trs, qq)}``: for
    every point inside at least one ring (even-odd rule), the
    lexicographically smallest ``(trs, qq)`` among those rings."""
    polys = sorted(polygons, key=lambda p: (p[0], p[1]))
    ids = [p[0] for p in points]
    x = np.array([p[1] for p in points], dtype=np.float64)
    y = np.array([p[2] for p in points], dtype=np.float64)
    best = np.full(len(ids), len(polys))    # index into polys; none yet
    by_len = {}
    for j, p in enumerate(polys):
        by_len.setdefault(len(p[2]), []).append(j)
    for m, js in by_len.items():
        js = np.array(js)
        rx = np.array([polys[j][2] for j in js], dtype=np.float64)
        ry = np.array([polys[j][3] for j in js], dtype=np.float64)
        for lo in range(0, len(ids), chunk):
            px = x[lo:lo + chunk, None]
            py = y[lo:lo + chunk, None]
            inside = np.zeros((len(px), len(js)), dtype=bool)
            for k in range(m):
                x1, y1 = rx[:, k], ry[:, k]
                x2, y2 = rx[:, (k + 1) % m], ry[:, (k + 1) % m]
                crosses = (y1 > py) != (y2 > py)
                with np.errstate(divide='ignore', invalid='ignore'):
                    xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
                inside ^= crosses & (px < xint)
            # js ascends, so argmax finds the smallest hit per point.
            first = np.where(inside.any(axis=1),
                             js[inside.argmax(axis=1)], len(polys))
            best[lo:lo + chunk] = np.minimum(best[lo:lo + chunk], first)
    return {(i, polys[b][0], polys[b][1])
            for i, b in zip(ids, best) if b < len(polys)}


def bruteforce_tiles(images, polygons):
    """:func:`ray_cast_assign` over an images DataFrame (anchors from
    ``with_anchor``) and a polygon-layer DataFrame."""
    points = with_anchor(images).select('image_id', 'x', 'y').collect()
    rings = polygons.select('trs', 'qq', 'ring_xs', 'ring_ys').collect()
    return ray_cast_assign(points, rings)


def final_plan_nodes(df):
    """Nodes of ``df``'s final executed plan (AQE query stages
    unwrapped; a cached relation is a leaf, so its own lineage is not
    walked)."""
    root = df._jdf.queryExecution().executedPlan()
    nodes, stack = [], [root]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == 'AdaptiveSparkPlanExec':
            stack.append(node.finalPhysicalPlan())
            continue
        if name.endswith('QueryStageExec'):
            stack.append(node.plan())
            continue
        nodes.append((name, node))
        stack.extend(node.children().apply(i)
                     for i in range(node.children().length()))
    return nodes


def python_nodes(df):
    return {name for name, _ in final_plan_nodes(df)
            if 'Python' in name or 'Pandas' in name or 'Arrow' in name}


def assert_shuffle_strategy(df, keys):
    """The shuffle strategy's plan: a sort-merge join fed by one
    ``Exchange hashpartitioning(*keys)`` per side, no other exchange
    (none between the join and the winner aggregate), no Python
    node."""
    nodes = final_plan_nodes(df)
    names = [name for name, _ in nodes]
    assert 'SortMergeJoinExec' in names, names
    assert 'BroadcastHashJoinExec' not in names, names
    parts = [node.outputPartitioning().toString() for name, node in nodes
             if name == 'ShuffleExchangeExec']
    pattern = r'hashpartitioning\(' + ', '.join(
        rf'{k}#\d+L?' for k in keys) + r', \d+\)'
    assert len(parts) == 2 and all(re.fullmatch(pattern, p)
                                   for p in parts), parts
    assert not python_nodes(df), names

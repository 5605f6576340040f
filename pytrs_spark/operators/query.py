"""Container query operators: the reference's TractList/TRSList
sort/group/filter/dedup/consolidate surface
(``pytrs/parser/containers/containers.py``) re-expressed as DataFrame
recipes.

The reference's containers are driver-side lists; here the DataFrame
*is* the container, so most ops are thin, shuffle-aware wrappers:

- filter / projection -> ``df.filter`` / ``df.select`` (Catalyst).
- dedup -> ``row_number`` windows over the dedup key.
- custom sort DSL ('s.reverse,r.ew,t.ns') -> compiled ``orderBy``
  expressions (stable multi-pass sort == single lexicographic sort on
  the reversed key list).
- group-by / consolidate -> ``groupBy`` + order-preserving aggregation.
"""

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Errors/undefined sort past any real value (reference uses
# max(num)+1 -- containers.py:518-537; any value above the max yields
# the same order, so a constant avoids an extra aggregation pass).
_SORT_END = 1 << 20


def filter_errors(df: DataFrame, twp=True, rge=True, sec=True,
                  undef=False) -> Column:
    """Predicate matching rows with error (optionally undefined)
    Twp/Rge/Sec components (containers.py:184-219).  Needs decomposed
    columns (operators.parse.decompose_trs)."""
    parts = []
    if twp:
        err = F.col('twp_num').isNull() & ~F.col('twp_undef')
        parts.append(err | F.col('twp_undef') if undef else err)
    if rge:
        err = F.col('rge_num').isNull() & ~F.col('rge_undef')
        parts.append(err | F.col('rge_undef') if undef else err)
    if sec:
        err = F.col('sec_num').isNull() & ~F.col('sec_undef')
        parts.append(err | F.col('sec_undef') if undef else err)
    pred = F.lit(False)
    for p in parts:
        pred = pred | p
    return pred


def dedup_key(method: str, instance_cols=('doc_id', 'orig_index')) -> Column:
    """Dedup key per the reference's filter_duplicates methods
    (containers.py:221-336).

    ``'instance'``: the reference's default for TractList is object
    *identity* -- the same Tract appearing twice in the list.  Rows
    have value semantics, so identity maps to the row's provenance key
    (``instance_cols``, default (doc_id, orig_index)): two rows with
    the same provenance ARE the same tract instance listed twice.
    """
    if method == 'trs':
        return F.col('trs')
    if method == 'desc':
        return F.concat_ws('_', F.col('trs'), F.trim(F.col('pp_desc')))
    if method == 'lots_qqs':
        lq = F.array_sort(F.array_distinct(F.concat('lots', 'qqs')))
        return F.concat_ws('_', F.col('trs'), F.array_join(lq, ','))
    if method == 'instance':
        return F.struct(*[F.col(c) for c in instance_cols])
    raise ValueError(f"unknown dedup method {method!r}")


def filter_duplicates(df: DataFrame, method='trs',
                      order_col='orig_index', keep_first=False,
                      instance_cols=('doc_id', 'orig_index')) -> DataFrame:
    """Return the duplicate rows (first occurrence is NOT a duplicate),
    or with ``keep_first=True`` drop them instead (the reference's
    ``drop`` split).  Window over the dedup key ordered by creation
    order.

    ``order_col`` must be GLOBALLY unique for a deterministic
    keep-first on multi-document tables (``orig_index`` restarts per
    document; the registry queries pass a ``doc_key * K +
    orig_index`` composite)."""
    w = Window.partitionBy(dedup_key(method, instance_cols)) \
        .orderBy(order_col)
    out = df.withColumn('_rn', F.row_number().over(w))
    if keep_first:
        return out.filter(F.col('_rn') == 1).drop('_rn')
    return out.filter(F.col('_rn') > 1).drop('_rn')


# --- custom sort DSL (containers.py:366-673) --------------------------

_KEY_RE = re.compile(
    r"(?P<var>[itrs])(\.(?P<method>ns|sn|ew|we|num))?"
    r"(\.(?P<rev>rev(erse)?))?$")

_LEGAL = {'i': ('num',), 't': ('ns', 'sn', 'num'),
          'r': ('ew', 'we', 'num'), 's': ('num',)}


def _n_to_s(reverse=False) -> Column:
    """North townships sort before south (negative trick); errors to
    the end (containers.py:584-609)."""
    num = F.col('twp_num')
    sign = F.when(F.col('twp_ns') == 'n', -1).otherwise(1)
    if reverse:
        sign = -sign
    return (F.when(num.isNull(), F.lit(_SORT_END))
            .otherwise(sign * num))


def _w_to_e(reverse=False) -> Column:
    """West ranges negative, east positive; errors to the end
    (containers.py:611-634)."""
    num = F.col('rge_num')
    sign = F.when(F.col('rge_ew') == 'w', -1).otherwise(1)
    if reverse:
        sign = -sign
    return (F.when(num.isNull(), F.lit(_SORT_END))
            .otherwise(sign * num))


def _safe_num(col: str) -> Column:
    return F.coalesce(F.col(col), F.lit(_SORT_END))


def compile_sort_key(key: str = 'i,s,r,t', order_col: str = 'orig_index',
                     reverse: bool = False) -> list:
    """Compile the sort-key DSL into orderBy expressions.

    The reference applies each key left-to-right as a full *stable*
    sort, so the rightmost key is the primary -- equivalent to one
    lexicographic sort on the reversed key list.  ``reverse=True``
    flips the final order (reverses every direction).
    """
    key = re.sub(r"\s", "", key.lower())
    key = re.sub(r"reverse", "rev", key)
    exprs = []
    for part in key.split(','):
        mo = _KEY_RE.match(part)
        if not mo:
            raise ValueError(f"could not interpret sort key {part!r}")
        var = mo.group('var')
        method = mo.group('method') or 'num'
        rev = mo.group('rev') is not None
        if method not in _LEGAL[var]:
            raise ValueError(f"invalid sort method: {part!r}")
        if var == 'i':
            expr = F.col(order_col)
        elif var == 's':
            expr = _safe_num('sec_num')
        elif var == 't':
            expr = {'num': _safe_num('twp_num'), 'ns': _n_to_s(False),
                    'sn': _n_to_s(True)}[method]
        else:
            expr = {'num': _safe_num('rge_num'), 'we': _w_to_e(False),
                    'ew': _w_to_e(True)}[method]
        if reverse:
            rev = not rev
        exprs.append(expr.desc() if rev else expr.asc())
    exprs.reverse()   # rightmost key is the primary sort
    return exprs


def group_by(df: DataFrame, attributes,
             tract_fields=('orig_index', 'trs', 'desc')) -> DataFrame:
    """Group rows, collecting each group's tracts in creation order
    (containers.py:792-948).  Nested grouping (Q6) is the same
    groupBy -- nesting is a presentation artifact.

    ``tract_fields`` selects which tract attributes each group's
    structs carry (the reference's grouped lists hold full Tract
    objects; carry only what downstream needs -- the arrays are
    materialized per group).  ``orig_index`` is always included first
    (it defines creation order inside the array).
    """
    if isinstance(attributes, str):
        attributes = [attributes]
    fields = ['orig_index'] + [
        f for f in tract_fields if f != 'orig_index']
    return (df.groupBy(*attributes)
            .agg(F.sort_array(F.collect_list(F.struct(
                *fields))).alias('tracts'),
                F.count('*').alias('n_tracts')))


def consolidate(df: DataFrame, desc_delim: str = '; ',
                order_col: str = 'orig_index') -> DataFrame:
    """Merge tracts by TRS: concat unique descs, union lots and qqs
    preserving first-seen order (containers.py:1722-1763).

    Order-preserving dedup: explode with position, keep each value's
    first global position, re-aggregate sorted by it.

    ``order_col`` defines "first seen".  For multi-document tables
    pass a GLOBALLY unique creation order (e.g. the
    ``doc_key * K + orig_index`` composite the registry queries use):
    ``orig_index`` alone restarts per document, so cross-document
    ties would concatenate in shuffle-dependent order.
    """
    ordered = df.withColumn(
        '_ord', F.row_number().over(
            Window.partitionBy('trs').orderBy(order_col)))

    def first_seen(col):
        exploded = (ordered
                    .select('trs', '_ord', F.posexplode_outer(col)
                            .alias('_pos', '_val'))
                    .filter(F.col('_val').isNotNull())
                    .groupBy('trs', '_val')
                    .agg(F.min(F.struct('_ord', '_pos')).alias('_first')))
        return (exploded.groupBy('trs')
                .agg(F.transform(
                    F.array_sort(F.collect_list(
                        F.struct('_first', '_val'))),
                    lambda s: s['_val']).alias(col)))

    descs = (ordered.groupBy('trs', 'desc')
             .agg(F.min('_ord').alias('_first'))
             .groupBy('trs')
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.struct('_first', 'desc'))),
                     lambda s: s['desc']),
                 desc_delim).alias('desc')))
    out = descs
    for col in ('lots', 'qqs'):
        if col in df.columns:
            out = out.join(first_seen(col), 'trs', 'left')
            out = out.withColumn(
                col, F.coalesce(F.col(col), F.array().cast(
                    'array<string>')))
    return out


def list_trs(df: DataFrame, remove_duplicates=False,
             order_col: str = 'orig_index',
             with_rank: bool = False) -> DataFrame:
    """All TRS keys in creation order; optional order-preserving
    distinct (containers.py:1672-1701).  ``with_rank=True`` adds an
    explicit 1-based ``rank`` column carrying the creation order (row
    order alone is not stable through a shuffle-ful consumer).  NOTE:
    the rank window is a global ``Window.orderBy`` -- a single task by
    construction (a dense global 1..N numbering is sequential).  Like
    the reference's ``list_trs`` it is a presentation sink for an
    already-reduced result; the dedup path above (partitioned by trs)
    stays distributed."""
    base = df.select('trs', F.col(order_col).alias('_ord'))
    if remove_duplicates:
        w = Window.partitionBy('trs').orderBy('_ord')
        base = (base.withColumn('_rn', F.row_number().over(w))
                .filter(F.col('_rn') == 1).drop('_rn'))
    if with_rank:
        return (base.withColumn(
            'rank', F.row_number().over(Window.orderBy('_ord')))
            .select('rank', 'trs'))
    return base.orderBy('_ord').select('trs')


def quick_desc(df: DataFrame, delim: str = ': ') -> DataFrame:
    """'154n97w01: Lot 1, S/2NE/4' lines (tract.py quick_desc)."""
    return df.select(
        F.concat(F.col('trs'), F.lit(delim), F.col('desc'))
        .alias('quick_desc'), 'orig_index').orderBy('orig_index')


def quick_desc_short(df: DataFrame, delim: str = ': ',
                     max_len: int = 30) -> DataFrame:
    """quick_desc lines capped at ``max_len`` chars, over-long lines
    truncated to ``max_len - 3`` + '...' (tract.py:1086-1102 /
    containers.py:1537-1572 snapshot_inside).  Native expressions --
    the cap applies per row, fully distributed."""
    qd = F.concat(F.col('trs'), F.lit(delim), F.col('desc'))
    line = F.when(
        F.length(qd) > max_len,
        F.concat(F.substring(qd, 1, max(max_len - 3, 0)),
                 F.lit('...'))).otherwise(qd)
    return df.select(line.alias('quick_desc'),
                     'orig_index').orderBy('orig_index')


def sort_grouped(df: DataFrame, attributes, sort_key: str = 'i,s,r,t',
                 reverse: bool = False,
                 order_col: str = 'orig_index',
                 tract_fields=('orig_index', 'trs', 'desc')) -> DataFrame:
    """Group rows and custom-sort each group's tract list by the sort
    DSL (containers.py:950-981 ``sort_grouped``).  Same output shape
    as :func:`group_by`, but the per-group arrays are in DSL order
    instead of creation order.

    ``tract_fields``: which tract attributes the per-group structs
    carry (e.g. add ``'lots'``/``'qqs'`` -- the reference's grouped
    lists hold full Tract objects, so any parsed column is legal
    here).

    The per-group rank comes from a ``row_number`` window partitioned
    by the group key (sorting happens within each group's partition,
    never globally), then ``sort_array`` on (rank, ...) structs.
    """
    if isinstance(attributes, str):
        attributes = [attributes]
    exprs = compile_sort_key(sort_key, order_col, reverse)
    if reverse:
        exprs.append(F.col(order_col).desc())
    fields = [f for f in tract_fields if f != '_rank']
    w = Window.partitionBy(*attributes).orderBy(*exprs)
    ranked = df.withColumn('_rank', F.row_number().over(w))
    return (ranked.groupBy(*attributes)
            .agg(F.transform(
                F.sort_array(F.collect_list(F.struct(
                    '_rank', *fields))),
                lambda s: s.dropFields('_rank')).alias('tracts'),
                F.count('*').alias('n_tracts')))


def unpack_group(grouped: DataFrame, group_cols=None) -> DataFrame:
    """Flatten a grouped DataFrame (from :func:`group_by` /
    :func:`sort_grouped`) back into one tract row per element,
    preserving each group's internal order (containers.py:982-1023
    ``unpack_group``).  ``pos`` is the element's position within its
    group."""
    group_cols = group_cols or [
        c for c in grouped.columns if c not in ('tracts', 'n_tracts')]
    ex = grouped.select(
        *group_cols, F.posexplode('tracts').alias('pos', '_t'))
    return ex.select(*group_cols, 'pos', '_t.*')


def from_multiple(*dfs: DataFrame) -> DataFrame:
    """Heterogeneous union (containers.py:1026-1064 ``_from_multiple``
    + the append type checks at containers.py:1947-1963): combine
    tract/TRS sources with differing schemas into one DataFrame.

    Each input must carry a ``trs`` column (the type check -- a
    source without it raises, the analog of the reference rejecting
    foreign object types); missing attribute columns null-fill via
    ``unionByName(allowMissingColumns=True)``.  A bare TRS-string
    source (just ``trs``) coerces through the same codec as everything
    else downstream (P10 decompose works on the unioned result).
    """
    if not dfs:
        raise ValueError('from_multiple needs at least one DataFrame')
    for df in dfs:
        if 'trs' not in df.columns:
            raise TypeError(
                f'from_multiple: source missing trs column '
                f'(has {df.columns})')
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


# --- S5 sinks: driver-side materializations ----------------------------
# The reference's tracts_to_dict/list/str and pretty_desc return Python
# objects / strings (containers.py:1259-1396, 1472-1556, 1588-1636);
# these are presentation sinks, collected on the driver by design --
# use write_tracts_csv (operators/io.py) for data-scale output.

def tracts_to_dict(df: DataFrame, attributes,
                   order_col: str = 'orig_index') -> list:
    """List of per-tract dicts of the requested attributes, in
    creation order (containers.py:1259-1296)."""
    rows = df.select(*attributes, order_col).orderBy(order_col).collect()
    return [{a: r[a] for a in attributes} for r in rows]


def tracts_to_list(df: DataFrame, attributes,
                   order_col: str = 'orig_index') -> list:
    """Nested list of the requested attributes per tract
    (containers.py:1298-1337)."""
    return [[d[a] for a in attributes]
            for d in tracts_to_dict(df, attributes, order_col)]


def tracts_to_str(df: DataFrame, attributes,
                  order_col: str = 'orig_index') -> str:
    """The reference's orderly multi-line per-tract report
    (containers.py:1339-1396): 'Tract i / N' header, one justified
    'attr : value' line per attribute, lists flattened with ', '."""
    dicts = tracts_to_dict(df, attributes, order_col)
    jst = max(len(a) for a in attributes) + 1
    jst_linebreak = '\n' + ' ' * (jst + 2)
    total = len(dicts)
    out = ''
    for i, dct in enumerate(dicts, start=1):
        block = f'\n\nTract {i} / {total}' if i > 1 \
            else f'Tract {i} / {total}'
        for att, v in dct.items():
            if isinstance(v, (list, tuple)):
                v = ', '.join(str(x) for x in v)
            v = str(v).replace('\n', jst_linebreak)
            block = f'{block}\n{att.ljust(jst)}: {v}'
        out += block
    return out


def pretty_desc_lines(df: DataFrame, word_sec: str = 'Sec ',
                      order_col: str = 'orig_index',
                      justify_linebreaks: str = None) -> DataFrame:
    """The lines of the reference's ``pretty_desc``
    (containers.py:1588-1636): tracts grouped into consecutive *runs*
    of the same Twp/Rge in current order (runs -- NOT a global group-by:
    the reference groups 'only to the extent possible while maintaining
    the current sort order'), one 'T154N-R97W' header line per run and
    one '<word_sec><sec>: <desc>' line per tract.

    Output: (line_no, line).  NOTE: this is a driver-side
    *presentation sink*, not a distributed operator -- the global
    run-detection windows (``Window.orderBy`` with no partition key)
    collapse to a single task by construction, because line numbering
    over an arbitrary user-chosen sort order is inherently sequential.
    Use it the way the reference uses ``pretty_desc`` (final
    human-readable output of an already-reduced result), never inside
    a pipeline over the full corpus.
    Run detection is a lag + running count over the creation order.
    """
    from .parse import pretty_twprge_col
    w = Window.orderBy(order_col)
    runs = df.withColumn(
        '_new_run',
        (F.lag('twprge').over(w).isNull()
         | (F.lag('twprge').over(w) != F.col('twprge'))).cast('int'))
    runs = runs.withColumn('_run', F.sum('_new_run').over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    pretty = pretty_twprge_col(
        F.col('twp_num'), F.col('twp_ns'),
        F.col('rge_num'), F.col('rge_ew'))
    header = runs.groupBy('_run').agg(
        F.min(order_col).alias('_ord'),
        F.first(pretty, ignorenulls=False).alias('line')) \
        .select('_run', F.lit(0).alias('_sub'), '_ord', 'line')
    sec = F.lpad(F.col('sec_num').cast('string'), 2, '0')
    # Linebreaks WITHIN a tract desc re-justify under the line above
    # (containers.py:1600-1615): default indent is len(word_sec) + 4
    # ('Sec NN: '), overridable via justify_linebreaks ('' = none).
    jst = ' ' * (len(word_sec) + 4) if justify_linebreaks is None \
        else justify_linebreaks
    desc_j = F.replace(F.col('desc'), F.lit('\n'), F.lit('\n' + jst))
    body = runs.select(
        '_run', F.lit(1).alias('_sub'), F.col(order_col).alias('_ord'),
        F.concat(F.lit(word_sec), sec, F.lit(': '), desc_j)
        .alias('line'))
    return header.unionByName(body) \
        .withColumn('line_no', F.row_number().over(
            Window.orderBy('_run', '_sub', '_ord'))) \
        .select('line_no', 'line')


def pretty_desc(df: DataFrame, word_sec: str = 'Sec ',
                order_col: str = 'orig_index',
                justify_linebreaks: str = None) -> str:
    """The reference's ``pretty_desc`` string (driver-side sink)."""
    rows = pretty_desc_lines(df, word_sec, order_col,
                             justify_linebreaks) \
        .orderBy('line_no').collect()
    return '\n'.join(r['line'] for r in rows)


def topk_per_group(df: DataFrame, group_cols, order_col,
                   k: int, descending: bool = True,
                   tie_cols=()) -> DataFrame:
    """Top-k rows per group by ``order_col`` (rank column ``rank``
    added; deterministic via ``tie_cols``).

    Plan shape: ``row_number`` under a ``rank <= k`` filter triggers
    Spark's WindowGroupLimit pushdown -- each shuffle partition keeps
    only k rows per group BEFORE the final sort, so the exchange
    carries ~k rows per (group, input partition), never the full
    group.  The safe default for "top products per region"-style
    queries at any scale; skewed groups cost k rows each, not their
    cardinality.
    """
    group_cols = [group_cols] if isinstance(group_cols, str) \
        else list(group_cols)
    oc = F.col(order_col) if isinstance(order_col, str) else order_col
    order = [oc.desc() if descending else oc.asc()]
    order += [F.col(c).asc() for c in tie_cols]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (df.withColumn('rank', F.row_number().over(w))
            .filter(F.col('rank') <= k))

"""Spark operators for PLSS parsing.

Three stages, matching the reference's pipeline
(``PLSSDesc.parse`` -> ``Tract.parse`` -> ``TRS``), re-expressed
Spark-first:

1. :func:`parse_documents` -- one Arrow-batched pandas UDF maps each
   raw description to an array of tract structs + doc-level flags;
   the fan-out to tract rows is a **native** ``posexplode`` (so
   Catalyst owns the multiplication, not Python).
2. :func:`parse_tract_details` -- a second pandas UDF maps each tract
   description to (lots, qqs, lot_acres, flags...).
3. :func:`decompose_trs` -- **pure native columns** (regexp_extract +
   when); stays inside whole-stage codegen.

Derived columns (``aliquots``, ``aliquots_standard``, ``lots_qqs``,
``ilots``...) are separate functions so Catalyst column-pruning skips
them unless selected (the reference computes them lazily on attribute
access -- ``tract.py:654-703`` -- which columnar pruning gives us for
free).
"""

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plss import document as doc_kernel
from ..plss import simplify as simplify_kernel
from ..plss import tract as tract_kernel
from ..plss import trs as trs_kernel
from ..session import warm_python_workers


def _ensure_parallelism(df: DataFrame, parallelism='auto') -> DataFrame:
    """Repartition a DataFrame ahead of a CPU-heavy parse UDF when it
    has fewer partitions than the cluster has task slots.

    Small local inputs (one parquet file, ``createDataFrame``) arrive
    as 1 partition and would serialize the parse onto one core; at
    warehouse scale the input already has >= slots partitions and this
    is a no-op (no shuffle added).  ``parallelism=0`` disables;
    an int forces that partition count.

    Every parse entry point runs this prologue, so it is also where a
    session's Python worker pool is warmed (once, asynchronously; see
    :func:`~pytrs_spark.session.warm_python_workers`), whatever
    ``parallelism`` says.
    """
    warm_python_workers(df.sparkSession)
    if parallelism == 0 or parallelism is None:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism if parallelism == 'auto' else parallelism
    # Partition count via the JVM Dataset's lazy RDD, not Python
    # df.rdd (which additionally builds an Arrow-serde conversion plan
    # per call at build time).
    try:
        current = df._jdf.rdd().getNumPartitions()  # noqa: SLF001
    except Exception:  # noqa: BLE001 - Connect / planning quirk
        return df
    if current < target:
        return df.repartition(target)
    return df

_FLAG_LINE = T.StructType([
    T.StructField("flag", T.StringType()),
    T.StructField("context", T.StringType()),
])

# The tract struct carries the 12 decomposed TRS fields alongside the
# composed key.  Decomposing inside the Arrow batch (the Python codec
# is a dict lookup + one regex) and materializing through the
# ArrowEvalPython node is deliberate: the pure-native ``trs_struct``
# expression is ~30 regexp_extract calls, and Catalyst's
# SimplifyExtractValueOps + projection collapse replicate that tree
# into every downstream reference (filters, section-box math, ring
# vertices), which measured ~100x slower than this barrier.
_TRACT_STRUCT = T.StructType([
    T.StructField("trs", T.StringType()),
    T.StructField("desc", T.StringType()),
    T.StructField("sec_within", T.BooleanType()),
    T.StructField("twp", T.StringType()),
    T.StructField("twp_num", T.IntegerType()),
    T.StructField("twp_ns", T.StringType()),
    T.StructField("twp_undef", T.BooleanType()),
    T.StructField("rge", T.StringType()),
    T.StructField("rge_num", T.IntegerType()),
    T.StructField("rge_ew", T.StringType()),
    T.StructField("rge_undef", T.BooleanType()),
    T.StructField("sec", T.StringType()),
    T.StructField("sec_num", T.IntegerType()),
    T.StructField("sec_undef", T.BooleanType()),
])

_DOC_RESULT = T.StructType([
    T.StructField("tracts", T.ArrayType(_TRACT_STRUCT)),
    T.StructField("w_flags", T.ArrayType(T.StringType())),
    T.StructField("w_flag_lines", T.ArrayType(_FLAG_LINE)),
    T.StructField("e_flags", T.ArrayType(T.StringType())),
    T.StructField("e_flag_lines", T.ArrayType(_FLAG_LINE)),
    T.StructField("layout", T.StringType()),
    T.StructField("pp_text", T.StringType()),
])

_TRACT_RESULT = T.StructType([
    T.StructField("lots", T.ArrayType(T.StringType())),
    T.StructField("qqs", T.ArrayType(T.StringType())),
    T.StructField("lot_acres", T.MapType(T.StringType(), T.StringType())),
    T.StructField("aliquots_whole", T.ArrayType(T.StringType())),
    T.StructField("w_flags", T.ArrayType(T.StringType())),
    T.StructField("w_flag_lines", T.ArrayType(_FLAG_LINE)),
    T.StructField("pp_desc", T.StringType()),
])


def _doc_parse_udf(layout=None, default_ns=None, default_ew=None,
                   ocr_scrub=False, require_colon=False, segment=False,
                   sec_within=False, no_pm=False):
    @F.pandas_udf(_DOC_RESULT)
    def udf(texts: pd.Series) -> pd.DataFrame:
        # One regex scan per pattern per Arrow batch (vs per doc).
        results = doc_kernel.parse_documents_kernel(
            list(texts), layout=layout, default_ns=default_ns,
            default_ew=default_ew, ocr_scrub=ocr_scrub,
            require_colon=require_colon, segment=segment,
            sec_within=sec_within, no_pm=no_pm)
        rows = []
        for r in results:
            tracts = []
            for t in r['tracts']:
                d = trs_kernel.trs_decompose(t['trs'])
                tracts.append((
                    d['trs'], t['desc'], t['sec_within'],
                    d['twp'], d['twp_num'], d['twp_ns'], d['twp_undef'],
                    d['rge'], d['rge_num'], d['rge_ew'], d['rge_undef'],
                    d['sec'], d['sec_num'], d['sec_undef']))
            rows.append((
                tracts,
                r['w_flags'], r['w_flag_lines'],
                r['e_flags'], r['e_flag_lines'],
                r['layout'], r['pp_text'],
            ))
        return pd.DataFrame(rows, columns=[
            'tracts', 'w_flags', 'w_flag_lines', 'e_flags',
            'e_flag_lines', 'layout', 'pp_text'])
    return udf


def parse_documents(df: DataFrame, text_col: str = 'raw_desc',
                    keep_cols=None, decompose: bool = False,
                    parallelism='auto', **config) -> DataFrame:
    """Explode raw PLSS descriptions into one row per tract.

    Output columns: the ``keep_cols`` passthrough (default: every input
    column except ``text_col``), plus ``trs``, ``desc``, ``orig_index``
    (creation order within the document), ``sec_within``, doc-level
    ``w_flags`` / ``e_flags`` (+ ``*_flag_lines``), ``layout``,
    ``desc_is_flawed``, and ``orig_desc``.  With ``decompose=True``,
    also the 12 decomposed TRS fields + ``twprge`` (computed inside the
    Arrow batch -- see ``_TRACT_STRUCT`` note).

    The per-document parse runs in one Arrow batch; the tract fan-out
    (multi-sections etc.) is a native ``posexplode``.
    """
    if keep_cols is None:
        keep_cols = [c for c in df.columns if c != text_col]
    df = _ensure_parallelism(df, parallelism)
    parsed = df.withColumn('_doc', _doc_parse_udf(**config)(F.col(text_col)))
    exploded = parsed.select(
        *keep_cols,
        F.col(text_col).alias('orig_desc'),
        F.col('_doc.w_flags').alias('doc_w_flags'),
        F.col('_doc.w_flag_lines').alias('doc_w_flag_lines'),
        F.col('_doc.e_flags').alias('doc_e_flags'),
        F.col('_doc.e_flag_lines').alias('doc_e_flag_lines'),
        F.col('_doc.layout').alias('layout'),
        F.posexplode_outer('_doc.tracts').alias('orig_index', '_tract'),
    )
    decomposed = []
    if decompose:
        decomposed = [
            F.col(f'_tract.{f}').alias(f)
            for f in ('twp', 'twp_num', 'twp_ns', 'twp_undef',
                      'rge', 'rge_num', 'rge_ew', 'rge_undef',
                      'sec', 'sec_num', 'sec_undef')
        ] + [F.concat('_tract.twp', '_tract.rge').alias('twprge')]
    return exploded.select(
        *keep_cols,
        F.col('_tract.trs').alias('trs'),
        F.col('_tract.desc').alias('desc'),
        F.col('orig_index'),
        F.col('_tract.sec_within').alias('sec_within'),
        *decomposed,
        'orig_desc', 'layout',
        'doc_w_flags', 'doc_w_flag_lines',
        'doc_e_flags', 'doc_e_flag_lines',
        (F.size('doc_e_flags') > 0).alias('desc_is_flawed'),
    )


# Fused document+tract parse: one Arrow batch does the whole
# reference pipeline (PLSSDesc.parse -> Tract.parse per tract,
# plssdesc.py:222-370 + tract.py:830-1015).  One ArrowEvalPython node
# instead of two chained ones -- fewer Python workers per task, one
# Arrow hop, and no UDF re-execution across stage boundaries.  Used by
# the polygon pipeline; the unfused operators remain for stage-level
# parity testing.
_FULL_TRACT_STRUCT = T.StructType(
    _TRACT_STRUCT.fields + [
        T.StructField("lots", T.ArrayType(T.StringType())),
        T.StructField("qqs", T.ArrayType(T.StringType())),
        T.StructField("lot_acres",
                      T.MapType(T.StringType(), T.StringType())),
        T.StructField("aliquots_whole", T.ArrayType(T.StringType())),
        T.StructField("pp_desc", T.StringType()),
        T.StructField("t_w_flags", T.ArrayType(T.StringType())),
        T.StructField("t_w_flag_lines", T.ArrayType(_FLAG_LINE)),
    ])

_FULL_RESULT = T.StructType([
    T.StructField("tracts", T.ArrayType(_FULL_TRACT_STRUCT)),
    T.StructField("w_flags", T.ArrayType(T.StringType())),
    T.StructField("w_flag_lines", T.ArrayType(_FLAG_LINE)),
    T.StructField("e_flags", T.ArrayType(T.StringType())),
    T.StructField("e_flag_lines", T.ArrayType(_FLAG_LINE)),
    T.StructField("layout", T.StringType()),
])


def _full_parse_udf(layout=None, default_ns=None, default_ew=None,
                    ocr_scrub=False, require_colon=False, segment=False,
                    sec_within=False, no_pm=False, clean_qq=False,
                    suppress_lot_divs=False, qq_depth_min=2,
                    qq_depth_max=None, qq_depth=None, break_halves=False):
    @F.pandas_udf(_FULL_RESULT)
    def udf(texts: pd.Series) -> pd.DataFrame:
        # One regex scan per pattern per Arrow batch (vs per doc).
        results = doc_kernel.parse_documents_kernel(
            list(texts), layout=layout, default_ns=default_ns,
            default_ew=default_ew, ocr_scrub=ocr_scrub,
            require_colon=require_colon, segment=segment,
            sec_within=sec_within, no_pm=no_pm)
        rows = []
        for r in results:
            tracts = []
            for t in r['tracts']:
                d = trs_kernel.trs_decompose(t['trs'])
                tp = tract_kernel.parse_tract(
                    t['desc'], clean_qq=clean_qq,
                    suppress_lot_divs=suppress_lot_divs,
                    qq_depth_min=qq_depth_min, qq_depth_max=qq_depth_max,
                    qq_depth=qq_depth, break_halves=break_halves)
                tracts.append((
                    d['trs'], t['desc'], t['sec_within'],
                    d['twp'], d['twp_num'], d['twp_ns'], d['twp_undef'],
                    d['rge'], d['rge_num'], d['rge_ew'], d['rge_undef'],
                    d['sec'], d['sec_num'], d['sec_undef'],
                    tp['lots'], tp['qqs'], tp['lot_acres'],
                    tp['aliquots_whole'], tp['pp_desc'],
                    tp['w_flags'], tp['w_flag_lines']))
            rows.append((tracts, r['w_flags'], r['w_flag_lines'],
                         r['e_flags'], r['e_flag_lines'], r['layout']))
        return pd.DataFrame(rows, columns=[
            'tracts', 'w_flags', 'w_flag_lines', 'e_flags',
            'e_flag_lines', 'layout'])
    return udf


def parse_documents_full(df: DataFrame, text_col: str = 'raw_desc',
                         keep_cols=None, parallelism='auto',
                         **config) -> DataFrame:
    """Fused ``parse_documents(decompose=True)`` +
    ``parse_tract_details`` in a single Arrow-batched UDF; same output
    schema as the chained pair."""
    if keep_cols is None:
        keep_cols = [c for c in df.columns if c != text_col]
    df = _ensure_parallelism(df, parallelism)
    parsed = df.withColumn('_doc',
                           _full_parse_udf(**config)(F.col(text_col)))
    exploded = parsed.select(
        *keep_cols,
        F.col(text_col).alias('orig_desc'),
        F.col('_doc.w_flags').alias('doc_w_flags'),
        F.col('_doc.w_flag_lines').alias('doc_w_flag_lines'),
        F.col('_doc.e_flags').alias('doc_e_flags'),
        F.col('_doc.e_flag_lines').alias('doc_e_flag_lines'),
        F.col('_doc.layout').alias('layout'),
        F.posexplode_outer('_doc.tracts').alias('orig_index', '_tract'),
    )
    t = F.col('_tract')
    return exploded.select(
        *keep_cols,
        t['trs'].alias('trs'),
        t['desc'].alias('desc'),
        F.col('orig_index'),
        t['sec_within'].alias('sec_within'),
        *[t[f].alias(f)
          for f in ('twp', 'twp_num', 'twp_ns', 'twp_undef',
                    'rge', 'rge_num', 'rge_ew', 'rge_undef',
                    'sec', 'sec_num', 'sec_undef')],
        F.concat(t['twp'], t['rge']).alias('twprge'),
        'orig_desc', 'layout',
        'doc_e_flags', 'doc_e_flag_lines',
        (F.size('doc_e_flags') > 0).alias('desc_is_flawed'),
        t['lots'].alias('lots'),
        t['qqs'].alias('qqs'),
        t['lot_acres'].alias('lot_acres'),
        t['aliquots_whole'].alias('aliquots_whole'),
        t['pp_desc'].alias('pp_desc'),
        (F.size(t['lots']) > 0).alias('had_lots'),
        F.concat(t['t_w_flags'], F.col('doc_w_flags')).alias('w_flags'),
        F.concat(t['t_w_flag_lines'],
                 F.col('doc_w_flag_lines')).alias('w_flag_lines'),
    )


def _tract_parse_udf(clean_qq=False, suppress_lot_divs=False,
                     qq_depth_min=2, qq_depth_max=None, qq_depth=None,
                     break_halves=False):
    @F.pandas_udf(_TRACT_RESULT)
    def udf(descs: pd.Series) -> pd.DataFrame:
        rows = []
        for text in descs:
            if text is None:
                text = ''
            r = tract_kernel.parse_tract(
                text, clean_qq=clean_qq,
                suppress_lot_divs=suppress_lot_divs,
                qq_depth_min=qq_depth_min, qq_depth_max=qq_depth_max,
                qq_depth=qq_depth, break_halves=break_halves)
            rows.append((r['lots'], r['qqs'], r['lot_acres'],
                         r['aliquots_whole'], r['w_flags'],
                         r['w_flag_lines'], r['pp_desc']))
        return pd.DataFrame(rows, columns=[
            'lots', 'qqs', 'lot_acres', 'aliquots_whole', 'w_flags',
            'w_flag_lines', 'pp_desc'])
    return udf


def parse_tract_details(df: DataFrame, desc_col: str = 'desc',
                        parallelism='auto', **config) -> DataFrame:
    """Add lots / qqs / lot_acres / aliquots_whole / tract-level flags.

    Flag order matches the reference hand-down: the tract's own flags
    come FIRST and the handed-down document flags are appended after
    them (``plss_parse.py:475-485``: ``tract.w_flags.extend(
    self.w_flags)``); pinned order-sensitively by
    ``test_flag_handdown_order`` in tests/test_differential.py.
    """
    df = _ensure_parallelism(df, parallelism)
    out = df.withColumn('_t', _tract_parse_udf(**config)(F.col(desc_col)))
    cols = [
        F.col('_t.lots').alias('lots'),
        F.col('_t.qqs').alias('qqs'),
        F.col('_t.lot_acres').alias('lot_acres'),
        F.col('_t.aliquots_whole').alias('aliquots_whole'),
        F.col('_t.pp_desc').alias('pp_desc'),
        (F.size(F.col('_t.lots')) > 0).alias('had_lots'),
    ]
    if 'doc_w_flags' in df.columns:
        cols.append(F.concat(F.col('_t.w_flags'),
                             F.col('doc_w_flags')).alias('w_flags'))
        cols.append(F.concat(F.col('_t.w_flag_lines'),
                             F.col('doc_w_flag_lines')).alias('w_flag_lines'))
        base = [c for c in df.columns
                if c not in ('doc_w_flags', 'doc_w_flag_lines')]
    else:
        cols.append(F.col('_t.w_flags').alias('w_flags'))
        cols.append(F.col('_t.w_flag_lines').alias('w_flag_lines'))
        base = list(df.columns)
    return out.select(*base, *cols)


# Native TRS decompose: lowercase round trip, sentinel handling, and
# field extraction all as codegen'd column expressions (the memo cache
# at reference trs.py:118-119 is unnecessary under columnar execution).
_TRS_PATTERN = r"((\d{1,3})([ns])|___z)((\d{1,3})([ew])|___z)((\d{2})|__)?"


def trs_struct(trs_col) -> Column:
    """Decompose a standardized TRS key into a 12-field struct, as pure
    native columns (reference semantics: trs.py:544-636).

    The case-sensitive error sentinel ``'XXXz'`` can never match after
    the lowercase round trip, so any key containing it (or any
    malformed key) collapses to the full error TRS -- same as the
    reference.
    """
    s = F.lower(F.coalesce(trs_col.cast('string'), F.lit('___z___z__')))
    s = F.when(s == '', '___z___z__').otherwise(s)

    def grp(i):
        return F.regexp_extract(s, _TRS_PATTERN, i)

    twp_part, twp_num, twp_ns = grp(1), grp(2), grp(3)
    rge_part, rge_num, rge_ew = grp(4), grp(5), grp(6)
    sec_part, sec_digits = grp(7), grp(8)

    matched = twp_part != ''
    twp_valid = matched & (twp_num != '')
    twp_undef = matched & (twp_part == '___z')
    rge_valid = matched & (rge_num != '')
    rge_undef = matched & (rge_part == '___z')
    sec_valid = matched & (sec_digits != '')
    sec_undef = matched & (sec_part == '__')

    twp = (F.when(twp_valid | twp_undef, twp_part)
           .otherwise(F.lit('XXXz')))
    rge = (F.when(rge_valid | rge_undef, rge_part)
           .otherwise(F.lit('XXXz')))
    sec = (F.when(sec_valid | sec_undef, sec_part)
           .otherwise(F.lit('XX')))

    return F.struct(
        F.concat(twp, rge, sec).alias('trs'),
        twp.alias('twp'),
        F.when(twp_valid, twp_num.cast('int')).alias('twp_num'),
        F.when(twp_valid, twp_ns).alias('twp_ns'),
        twp_undef.alias('twp_undef'),
        rge.alias('rge'),
        F.when(rge_valid, rge_num.cast('int')).alias('rge_num'),
        F.when(rge_valid, rge_ew).alias('rge_ew'),
        rge_undef.alias('rge_undef'),
        sec.alias('sec'),
        F.when(sec_valid, sec_digits.cast('int')).alias('sec_num'),
        sec_undef.alias('sec_undef'),
    )


def decompose_trs(df: DataFrame, trs_col: str = 'trs') -> DataFrame:
    """Add the 12 decomposed TRS fields as top-level columns.

    Replaces ``trs`` with the normalized (round-tripped) key.
    """
    out = df.withColumn('_trs', trs_struct(F.col(trs_col)))
    others = [c for c in df.columns if c != trs_col]
    return out.select(
        F.col('_trs.trs').alias('trs'),
        F.col('_trs.twp').alias('twp'),
        F.col('_trs.twp_num').alias('twp_num'),
        F.col('_trs.twp_ns').alias('twp_ns'),
        F.col('_trs.twp_undef').alias('twp_undef'),
        F.col('_trs.rge').alias('rge'),
        F.col('_trs.rge_num').alias('rge_num'),
        F.col('_trs.rge_ew').alias('rge_ew'),
        F.col('_trs.rge_undef').alias('rge_undef'),
        F.col('_trs.sec').alias('sec'),
        F.col('_trs.sec_num').alias('sec_num'),
        F.col('_trs.sec_undef').alias('sec_undef'),
        F.concat('_trs.twp', '_trs.rge').alias('twprge'),
        *others,
    )


def _compose_twprge(col, directions, default_dir) -> Column:
    """One Twp or Rge component of construct_trs (trs.py:441-513):
    strip a trailing direction letter if present, int-normalize the
    number when castable (drops leading zeros, like ``int(...)``),
    re-append the direction, and regex-validate with the reference's
    ``\\b\\d{1,3}[nsNS]\\b`` *search* (so e.g. '-5n' passes via the
    word boundary after '-', and 4-digit numbers fail to the error
    sentinel 'XXXz').  Null/empty -> undefined sentinel '___z'."""
    s = col.cast('string')
    last = F.lower(F.substring(s, -1, 1))
    has_dir = last.isin(*directions)
    num_part = F.when(has_dir, s.substr(F.lit(1), F.length(s) - 1)) \
        .otherwise(s)
    dirc = F.when(has_dir, last).otherwise(F.lit(default_dir))
    as_int = num_part.try_cast('int')
    # int-castable -> formatted num+dir; else the reference checks the
    # *stripped* string itself (so '154nn' -> strips one 'n', fails
    # int('154n'), then passes the regex as '154n').
    cand = F.when(as_int.isNotNull(),
                  F.concat(as_int.cast('string'), dirc)) \
        .otherwise(num_part)
    dir_class = ''.join(directions)
    rgx = rf'\b\d{{1,3}}[{dir_class}{dir_class.upper()}]\b'
    return (F.when(s.isNull() | (s == ''), F.lit('___z'))
            .when(cand.rlike(rgx), cand)
            .otherwise(F.lit('XXXz')))


def compose_trs(twp, rge, sec, default_ns='n', default_ew='w') -> Column:
    """Build the standardized TRS key from component columns -- pure
    native columns with full reference parity (trs.py:383-521
    ``TRS.construct_trs``), including the error/undefined sentinel
    paths.

    ``twp``/``rge``/``sec`` may be int columns (direction from the
    defaults) or string columns with optional embedded direction
    (``'154n'``); unparseable components become the error sentinels
    ('XXXz' / 'XX'), null/empty the undefined sentinels ('___z' /
    '__') -- exactly what :func:`trs_struct` decodes back out.
    """
    if default_ns not in ('n', 's'):
        raise ValueError(f'default_ns must be n or s, got {default_ns!r}')
    if default_ew not in ('e', 'w'):
        raise ValueError(f'default_ew must be e or w, got {default_ew!r}')
    twp, rge, sec = [F.col(c) if isinstance(c, str) else c
                     for c in (twp, rge, sec)]
    twp_s = _compose_twprge(twp, ('n', 's'), default_ns)
    rge_s = _compose_twprge(rge, ('e', 'w'), default_ew)
    # Section: str(sec).rjust(2, '0') -- rjust never truncates, so a
    # 3-digit section stays 3 digits and then fails the \b\d{2}\b
    # search into the 'XX' error sentinel (trs.py:515-520).
    sec_str = sec.cast('string')
    sec_padded = F.when(F.length(sec_str) < 2,
                        F.lpad(sec_str, 2, '0')).otherwise(sec_str)
    sec_s = (F.when(sec_str.isNull() | (sec_str == ''), F.lit('__'))
             .when(sec_padded.rlike(r'\b\d{2}\b'), sec_padded)
             .otherwise(F.lit('XX')))
    return F.concat(twp_s, rge_s, sec_s)


def pretty_twprge_col(twp_num, twp_ns, rge_num, rge_ew,
                      t='T', delim='-', r='R', undef='---X') -> Column:
    """P12: '154n97w' fields -> 'T154N-R97W', pure native columns
    (reference trs.py:193-238).  Undefined/error components render as
    ``undef``."""
    twp = F.coalesce(twp_num.cast('string'), F.lit(undef))
    rge = F.coalesce(rge_num.cast('string'), F.lit(undef))
    ns = F.upper(F.coalesce(twp_ns, F.lit('')))
    ew = F.upper(F.coalesce(rge_ew, F.lit('')))
    return F.concat(F.lit(t), twp, ns, F.lit(delim), F.lit(r), rge, ew)


def twprge_natural_to_short_col(twprge) -> Column:
    """P11: 'T154N-R97W' -> '154n97w' (unpackers.py:517-526)."""
    return F.regexp_replace(F.lower(twprge), '[rt-]', '')


# Derived columns (lazy in the reference; pruned-unless-selected here).

_STR_ARRAY = T.ArrayType(T.StringType())


def _simplify_udf(assume_standard: bool):
    @F.pandas_udf(_STR_ARRAY)
    def udf(qqs: pd.Series) -> pd.Series:
        return qqs.map(lambda q: simplify_kernel.simplify_aliquots(
            list(q) if q is not None else [], assume_standard))
    return udf


def aliquots_col(qqs_col, assume_standard=False) -> Column:
    """Reconstruct merged aliquots from the qqs array (A6)."""
    return _simplify_udf(assume_standard)(qqs_col)


def ilots_col(lots_col) -> Column:
    """Lots as integers, divisions discarded: 'N2 of L1' -> 1
    (tract.py:660-662)."""
    return F.transform(
        lots_col,
        lambda lot: F.regexp_extract(lot, r'L(\d+)$', 1).cast('int'))


def sorted_lots_col(lots_col) -> Column:
    """Lots sorted by trailing lot number (tract.py:681-685)."""
    return F.array_sort(
        lots_col,
        lambda a, b: (F.regexp_extract(a, r'L(\d+)$', 1).cast('int')
                      - F.regexp_extract(b, r'L(\d+)$', 1).cast('int')))


def with_derived(df: DataFrame, aliquots=True, standard=True,
                 lots_qqs=True, ilots=True) -> DataFrame:
    """Attach the reference's lazy derived attributes as columns."""
    if lots_qqs:
        df = df.withColumn('lots_qqs', F.concat('lots', 'qqs'))
    if ilots:
        df = df.withColumn('ilots', ilots_col(F.col('lots')))
    if aliquots:
        df = df.withColumn('aliquots', aliquots_col(F.col('qqs'), False))
        df = df.withColumn(
            'lots_aliquots',
            F.concat(sorted_lots_col(F.col('lots')), F.col('aliquots')))
    if standard:
        df = df.withColumn('aliquots_standard',
                           aliquots_col(F.col('qqs'), True))
        df = df.withColumn(
            'lots_aliquots_standard',
            F.concat(sorted_lots_col(F.col('lots')),
                     F.col('aliquots_standard')))
    return df

"""Distributed statistical sketches and summaries.

- :func:`hll_sketch` / :func:`hll_merge` / :func:`hll_estimate`: a
  fully SPEC'D HyperLogLog (Flajolet et al. 2007) over the documented
  ``sampling.hash_mix`` integer mix, so the sketch is bit-identical
  on any engine, any partitioning, any cluster -- unlike
  ``approx_count_distinct``, whose sketch is engine-internal and
  cannot be oracle-checked or exchanged between systems.  The sketch
  IS a tiny DataFrame (register -> max rank), so persisting, merging
  across days/tables, and unioning shards are ordinary DataFrame ops.
- :func:`histogram`: fixed-width binning as one codegen expression +
  partial-agg groupBy (never a shuffle of raw values).

HLL spec (independently implementable in SQL; the DuckDB oracle in
``__spark_entry__.py`` does):

    reg(key)  = mix(key, salt)      mod 2^p           -- register id
    w(key)    = mix(key, salt + 23459)                -- rank source
    rho(key)  = 32 - bit_length(w)  (w = 0 -> 32)     -- 1-based pos
                                                         of leftmost
                                                         1 in 31 bits
    sketch    = max rho per register (registers never hit: absent)

``bit_length`` is computed EXACTLY as ``length(bin(w))`` -- a string
op on an integer, not ``log2`` (float log near powers of two rounds
differently across libms and would flip ranks).

Estimator: the standard bias-corrected harmonic mean
``alpha_m * m^2 / sum_j 2^(-rho_j)`` with absent registers counting
``2^0``; linear counting ``m * ln(m / V)`` below ``2.5 m`` when empty
registers exist.  The 31-bit rank source caps countable cardinality
around ``2^31`` -- document-scale per-partition sketches merge fine;
for >10^9 true cardinality widen the mix first.

Scale shape: sketch build = one map pass + a shuffle of at most
``m`` rows per partial (map-side combine reduces first); merges
never touch raw data again.
"""

import math

from pyspark.sql import DataFrame, functions as F

from .. import lifecycle
from .sampling import hash_mix

_RANK_SALT = 23459
_CMS_SALT = 7919


def hll_sketch(df: DataFrame, key_col: str, p: int = 6,
               salt: int = 0) -> DataFrame:
    """Build the (register, rho_max) HLL sketch of a key column.
    ``p`` in [4, 16]: m = 2^p registers, relative error ~1.04/sqrt(m).
    """
    if not 4 <= p <= 16:
        raise ValueError(f'p must be in [4,16], got {p}')
    m = 1 << p
    reg = hash_mix(key_col, salt) % m
    w = hash_mix(key_col, salt + _RANK_SALT)
    bl = F.when(w == 0, F.lit(0)).otherwise(F.length(F.bin(w)))
    rho = F.lit(32) - bl
    # Null keys carry no identity: drop them (same contract as
    # bloom_sketch) instead of emitting a (NULL, NULL) register row
    # that breaks the <= 2^p-row bound and crashes the estimator.
    return (df.filter(F.col(key_col).isNotNull())
            .select(reg.cast('int').alias('register'),
                    rho.cast('int').alias('rho'))
            .groupBy('register').agg(F.max('rho').alias('rho_max')))


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union sketches (same p/salt) into one: max rank per register.
    This is the whole point of HLL at 100 TB -- per-day / per-shard
    sketches combine without re-reading data."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy('register').agg(
        F.max('rho_max').alias('rho_max'))


def hll_estimate(sketch: DataFrame, p: int) -> float:
    """Cardinality estimate from a sketch DataFrame (driver-side
    scalar; the sketch has at most 2^p rows)."""
    m = 1 << p
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(
        p, 0.7213 / (1 + 1.079 / m))
    rows = sketch.collect()
    hit = {r['register']: r['rho_max'] for r in rows}
    s = sum(2.0 ** -r for r in hit.values()) + (m - len(hit))
    est = alpha * m * m / s
    zeros = m - len([r for r in hit.values() if r > 0])
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return est


def cms_sketch(df: DataFrame, key_col: str, depth: int = 4,
               width: int = 256, salt: int = 0) -> DataFrame:
    """Spec'd Count-Min sketch (Cormode & Muthukrishnan 2005) of a
    key column's frequency distribution, as a mergeable DataFrame
    ``(d, register, n)`` -- at most ``depth * width`` rows.

    Like :func:`hll_sketch`, the hash family is the documented
    ``sampling.hash_mix`` (row d uses salt ``salt + d * 7919``), so
    the sketch is BIT-IDENTICAL on any engine / partitioning and the
    DuckDB oracle re-derives every register count exactly -- which
    ``count_min_sketch()`` (Spark's builtin, engine-internal binary
    blob) cannot offer.

    Point estimate: ``freq(k) <= min_d n[d][mix_d(k) % width]``
    (one-sided: never under-counts).  Error: with prob ``1 - 2^-depth``
    the overcount is ``<= e/width * N``.

    Scale shape: the explode-by-depth happens map-side and the
    partial agg reduces each partition to ``<= depth * width`` rows
    before the shuffle -- raw keys never shuffle.  Sketches for
    shards / days merge by union + sum (:func:`cms_merge`) without
    re-reading data, the same contract as HLL.
    """
    if depth < 1 or width < 2:
        raise ValueError('need depth >= 1 and width >= 2')
    rows = F.explode(F.array(*[F.struct(
        F.lit(d).alias('d'),
        (hash_mix(key_col, salt + d * _CMS_SALT) % width)
        .cast('int').alias('register')) for d in range(depth)]))
    # Null keys: dropped, same contract as hll/bloom (a NULL register
    # row would break the <= depth*width bound and never be probed).
    return (df.filter(F.col(key_col).isNotNull())
            .select(rows.alias('r'))
            .groupBy(F.col('r.d').alias('d'),
                     F.col('r.register').alias('register'))
            .agg(F.count('*').alias('n')))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union CMS sketches (same depth/width/salt) into one: counts
    add register-wise."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy('d', 'register').agg(F.sum('n').alias('n'))


def cms_lookup(sketch: DataFrame, keys: DataFrame, key_col: str,
               depth: int = 4, width: int = 256,
               salt: int = 0) -> DataFrame:
    """Frequency upper-bound per key: join each key's ``depth``
    registers against the sketch and take the min count.  The sketch
    side is at most ``depth * width`` rows -- always broadcast; the
    key side never shuffles."""
    probes = keys.select(
        key_col,
        F.explode(F.array(*[F.struct(
            F.lit(d).alias('d'),
            (hash_mix(key_col, salt + d * _CMS_SALT) % width)
            .cast('int').alias('register')) for d in range(depth)]))
        .alias('p')).select(key_col, 'p.d', 'p.register')
    return (probes.join(F.broadcast(sketch), ['d', 'register'], 'left')
            .groupBy(key_col)
            .agg(F.min(F.coalesce(F.col('n'), F.lit(0)))
                 .alias('freq_est')))


def quantiles_exact(df: DataFrame, col: str, qs,
                    n_bins: int = 1024,
                    collect_limit: int = 65536) -> DataFrame:
    """EXACT distributed quantiles without ever sorting (or even
    shuffling) the raw data: the scale path that ``F.percentile``
    (full sort per group) and ``approx_percentile`` (inexact) both
    miss.  Iterative histogram narrowing (Munro-Paterson style
    multi-pass selection):

    Pass 1: min / max / count (one agg job).
    Pass 2..d: fixed-width histogram over the live value range of
      each still-unresolved rank -> the driver locates the sub-bin
      containing the rank (cumsum over <= n_bins driver rows) and
      recurses into it.  Each pass shrinks the candidate range by
      ~n_bins x, so d <= log_{n_bins}(n / collect_limit) -- 2 passes
      resolve 10^12 rows with the defaults.
    Final pass: once a rank's range holds <= collect_limit rows,
      aggregate that slice BY VALUE (the shuffle carries one row per
      distinct value, never raw rows) and walk to the exact rank.

    Rank spec (matches the DuckDB oracle): the k-th smallest value
    with ``k = floor(q * (n - 1)) + 1`` (1-based, lower discrete
    quantile) -- the result is always an actual data value, so float
    determinism is trivial.  NULLs are excluded, matching SQL.

    Binning is monotone (IEEE subtract/divide/floor preserve order),
    so narrowing can never exclude the true rank value; a heavy
    duplicate that stops the range from shrinking resolves via the
    exact equal-bounds branch.  Returns ``(q, value)``, len(qs) rows.
    """
    qs = sorted(float(q) for q in qs)
    if not qs or qs[0] < 0.0 or qs[-1] > 1.0:
        raise ValueError('quantiles must lie in [0, 1]')
    spark = df.sparkSession
    # NULLs excluded per SQL; NaN excluded too (a NaN hi poisons the
    # bin width into non-finite and NaN has no defined rank across
    # engines -- the DuckDB oracle's ordering differs from Spark's).
    base = df.filter(F.col(col).isNotNull()).select(
        F.col(col).cast('double').alias('v')).filter(~F.isnan('v'))
    with lifecycle.scope() as s:
        base = s.persisted(base)
        stats = base.agg(
            F.min('v').alias('lo'), F.max('v').alias('hi'),
            F.count('*').alias('n')).collect()[0]
        n, lo, hi = stats['n'], stats['lo'], stats['hi']
        if n == 0:
            return spark.createDataFrame(
                [(q, None) for q in qs], 'q double, value double')
        def _bin_expr(vlo: float, vhi: float):
            # Overflow-safe width (vhi - vlo can be inf for a range
            # spanning +-1e308); the clamp absorbs any (v - vlo)
            # overflow -- overflowing v's are the largest values and
            # land in the top bin, keeping the binning monotone.
            width = vhi / n_bins - vlo / n_bins
            return F.least(
                F.greatest(
                    F.floor((F.col('v') - F.lit(vlo)) / F.lit(width)),
                    F.lit(0)),
                F.lit(n_bins - 1)).cast('int'), width

        out = []
        # Slices keyed by their bin PATH (the chain of "level-i bin ==
        # r_i" tests): the predicate defines the slice exactly; the
        # nominal float bounds only seed the next level's binning
        # (clamped, monotone, total -- float edge error cannot move a
        # row out of its counted slice).  Ranks sharing a slice share
        # ONE histogram / collect job per level.
        # path -> (pred, vlo, vhi, cnt, shrunk, [(q, rank-in-slice)])
        live = {(): (F.lit(True), lo, hi, n, True,
                     [(q, int(math.floor(q * (n - 1))) + 1)
                      for q in qs])}
        while live:
            nxt = {}
            for path, (pred, vlo, vhi, cnt, shrunk, ranks) in \
                    live.items():
                if not shrunk and cnt > collect_limit:
                    # The parent's bin geometry failed to split this
                    # slice (all rows in one parent bin).  Re-seed
                    # the range from the slice's OWN min/max -- one
                    # tiny agg -- instead of collecting an unbounded
                    # distinct-value set: with fresh bounds, min and
                    # max land in different bins, so the next
                    # histogram is guaranteed to shrink (outlier-
                    # skewed data resolves in O(1) extra passes).
                    mm = base.filter(pred).agg(
                        F.min('v').alias('lo'),
                        F.max('v').alias('hi')).collect()[0]
                    vlo, vhi = mm['lo'], mm['hi']
                    if vlo == vhi:
                        # heavy duplicate: every row equals vlo
                        for q, k in ranks:
                            out.append((q, float(vlo)))
                        continue
                b, width = _bin_expr(vlo, vhi)
                if cnt <= collect_limit or vlo == vhi or width <= 0:
                    # width <= 0: the slice spans < n_bins ulps, so
                    # it holds a handful of distinct values -- the
                    # by-value collect is bounded either way.
                    vals = (base.filter(pred)
                            .groupBy('v').agg(F.count('*').alias('c'))
                            .orderBy('v').collect())
                    for q, k in ranks:
                        c = 0
                        for r in vals:
                            c += r['c']
                            if c >= k:
                                out.append((q, float(r['v'])))
                                break
                    continue
                hist = (base.filter(pred)
                        .groupBy(b.alias('bin'))
                        .agg(F.count('*').alias('c'))
                        .orderBy('bin').collect())
                cum_at = {}
                cum = 0
                for r in hist:
                    cum_at[r['bin']] = cum
                    cum += r['c']
                cnt_at = {r['bin']: r['c'] for r in hist}
                for q, k in ranks:
                    tgt = None
                    for r in hist:
                        if cum_at[r['bin']] + r['c'] >= k:
                            tgt = r['bin']
                            break
                    sub = path + (tgt,)
                    if sub not in nxt:
                        nxt[sub] = (pred & (b == tgt),
                                    vlo + tgt * width,
                                    vlo + (tgt + 1) * width,
                                    cnt_at[tgt], cnt_at[tgt] < cnt, [])
                    nxt[sub][5].append((q, k - cum_at[tgt]))
            live = nxt
        return spark.createDataFrame(
            sorted(out), 'q double, value double')


def histogram(df: DataFrame, col: str, lo: float, hi: float,
              n_bins: int) -> DataFrame:
    """Fixed-width histogram: (bin, lo_edge, hi_edge, n) for bins
    that received at least one value; out-of-range values clamp into
    the end bins.  Binning is one codegen expression; the shuffle
    carries at most ``n_bins`` rows per partial."""
    if hi <= lo or n_bins < 1:
        raise ValueError('need hi > lo and n_bins >= 1')
    width = (hi - lo) / n_bins
    raw = F.floor((F.col(col) - F.lit(lo)) / F.lit(width))
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    return (df.filter(F.col(col).isNotNull())
            .groupBy(b.cast('int').alias('bin'))
            .agg(F.count('*').alias('n'))
            .select('bin',
                    (F.lit(lo) + F.col('bin') * F.lit(width))
                    .alias('lo_edge'),
                    (F.lit(lo) + (F.col('bin') + 1) * F.lit(width))
                    .alias('hi_edge'),
                    'n'))


_BLOOM_SALT = 104729


def _pow2():
    """2^0 .. 2^31 as exact int64 literals: shiftleft() needs a
    literal shift amount, so bit -> value goes through one codegen
    element_at over this constant array instead of a float pow.
    (Built lazily -- Column literals need an active session.)"""
    return F.array(*[F.lit(1 << i).cast('long') for i in range(32)])


def bloom_sketch(df: DataFrame, key_col: str, n_words: int = 256,
                 depth: int = 4, salt: int = 0) -> DataFrame:
    """Spec'd Bloom filter (Bloom 1970) over an int64 key column, as
    a mergeable DataFrame ``(word, bits)`` of 32-bit register words
    (<= ``n_words`` rows; words no key touched are absent = 0).

    Like :func:`hll_sketch` / :func:`cms_sketch`, the hash family is
    the documented ``sampling.hash_mix`` (probe ``d`` uses salt
    ``salt + d * 104729``), so the sketch is BIT-IDENTICAL on any
    engine / partitioning: the DuckDB oracle re-derives every word,
    and a sketch built by one system is probe-able by another --
    which Spark's builtin ``BloomFilter`` (engine-internal binary
    blob, ``DataFrameStatFunctions``) cannot offer.  Words are 32-bit
    (held in int64) so every bit value is a small positive integer on
    every engine -- no sign-bit edge cases at bit 63.

    Membership contract: no false negatives ever; false-positive
    rate ~ ``(1 - e^(-depth * n / (32 * n_words)))^depth``.  Nulls
    are dropped (a Bloom filter has no null semantics).

    Scale shape: one map pass; the explode-by-depth collapses
    map-side (partial ``bit_or``) to <= ``n_words`` rows per
    partition before the shuffle -- raw keys never shuffle.  Shards /
    days merge by union + ``bit_or`` (:func:`bloom_merge`) without
    re-reading data.  The classic 100 TB use: build on the small side
    of a join, broadcast the <= ``n_words``-row sketch, and pre-filter
    the big side in its scan stage (:func:`bloom_contains`).
    """
    if n_words < 1 or depth < 1:
        raise ValueError('need n_words >= 1 and depth >= 1')
    n_bits = n_words * 32
    probes = F.explode(F.array(*[
        (hash_mix(key_col, salt + d * _BLOOM_SALT) % n_bits)
        .alias('p') for d in range(depth)]))
    return (df.filter(F.col(key_col).isNotNull())
            .select(probes.alias('pos'))
            .select((F.col('pos') / 32).cast('int').alias('word'),
                    F.element_at(_pow2(), (F.col('pos') % 32)
                                 .cast('int') + 1).alias('v'))
            .groupBy('word').agg(F.bit_or('v').alias('bits')))


def bloom_merge(*sketches: DataFrame) -> DataFrame:
    """Union Bloom sketches (same n_words/depth/salt) into one:
    bitwise OR per word."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy('word').agg(F.bit_or('bits').alias('bits'))


def bloom_contains(sketch: DataFrame, keys: DataFrame, key_col: str,
                   n_words: int = 256, depth: int = 4,
                   salt: int = 0) -> DataFrame:
    """Adds ``might_contain`` per input row: true iff ALL ``depth``
    probe bits are set (no false negatives; false positives at the
    design rate).

    Plan shape: ``depth`` broadcast hash joins against the
    <= ``n_words``-row sketch plus one inline AND of codegen bit
    tests -- no explode, no aggregation, ZERO exchanges on the probe
    side, and every probe column rides through untouched.  That is
    exactly the scan-stage join pre-filter shape: at 100 TB the big
    table gains ``might_contain`` (and filters on it) without ever
    shuffling."""
    n_bits = n_words * 32
    out = keys
    cond = None
    for d in range(depth):
        pos = hash_mix(key_col, salt + d * _BLOOM_SALT) % n_bits
        sk = sketch.select(F.col('word').alias(f'_bw{d}'),
                           F.col('bits').alias(f'_bb{d}'))
        out = out.withColumn(f'_bw{d}', (pos / 32).cast('int')) \
            .join(F.broadcast(sk), [f'_bw{d}'], 'left') \
            .withColumn(f'_bp{d}', pos)
        hit = (F.coalesce(F.col(f'_bb{d}'), F.lit(0))
               .bitwiseAND(F.element_at(
                   _pow2(), (F.col(f'_bp{d}') % 32).cast('int') + 1))
               != 0)
        cond = hit if cond is None else cond & hit
    drop = [c for d in range(depth)
            for c in (f'_bw{d}', f'_bb{d}', f'_bp{d}')]
    return out.withColumn('might_contain', cond).drop(*drop)

"""Deterministic hash-based sampling operators.

A 100 TB training-data pipeline cannot use ``df.sample()`` for
anything that must be reproducible or joinable: Spark's sampler is
seeded per-partition, so the kept set changes whenever partitioning
changes, and two tables sampled "the same way" keep different rows.
The operators here key every decision on a DOCUMENTED integer mix of
a stable key column, so

  * the same key is kept at every scale, on every cluster layout,
  * two tables sampled on the same key column stay join-compatible,
  * the sample is an ordinary pushdown-able ``Filter`` (no UDF, no
    shuffle) that whole-stage codegen evaluates inline.

Mix spec (independently implementable in SQL -- the DuckDB oracles
in ``__spark_entry__.py`` re-implement it verbatim):

    M  = 2^31 - 1  (Mersenne prime)
    h0 = pmod(key + salt, M)
    h1 = (h0 * 1299709 + 2654435761) mod M
    h2 = h1 xor (h1 >> 16)
    h3 = (h2 * 1000003 + 12345) mod M
    mix(key) = h3 xor (h3 >> 8)            -- in [0, 2^31)

All intermediate products are < 2^52, so the arithmetic is exact in
ANSI-mode int64 (Spark 4 default) and in any SQL engine's BIGINT --
no wraparound semantics needed anywhere.  The two affine rounds are
separated by xor-shifts, so the composition is NOT affine (a single
affine map would sample arithmetic-progression keys pathologically).

Uniformity: measured on 0..10^6-1 sequential keys, every rate r in
{0.1, 0.01, 0.001} keeps within 1.5% of r*n (see
``tests/test_sampling.py``); keys are distinct -> decisions are
deterministic per key, i.i.d.-like across unrelated keys.
"""

from pyspark.sql import DataFrame, functions as F

from .. import lifecycle

_M31 = (1 << 31) - 1
_A1, _B1 = 1299709, 2654435761
_A2, _B2 = 1000003, 12345


def hash_mix(key, salt: int = 0) -> F.Column:
    """The spec'd mix as a native column expression: int64 key column
    (or name) -> int64 in [0, 2^31).  Pure codegen arithmetic -- two
    multiplies, two mods, two xor-shifts -- so a filter on it is
    evaluated inline in the scan stage."""
    k = F.col(key) if isinstance(key, str) else key
    h0 = F.pmod(k.cast('long') + F.lit(salt), F.lit(_M31))
    h1 = (h0 * _A1 + _B1) % _M31
    h2 = h1.bitwiseXOR(F.shiftrightunsigned(h1, 16))
    h3 = (h2 * _A2 + _B2) % _M31
    return h3.bitwiseXOR(F.shiftrightunsigned(h3, 8))


def sample_by_hash(df: DataFrame, key_col: str, rate: float,
                   salt: int = 0) -> DataFrame:
    """Keep rows whose mixed key falls below ``rate`` of the hash
    range: ``mix(key) < floor(rate * 2^31)``.

    Unlike ``df.sample`` this is stable under repartitioning, reruns,
    and engine versions, and the SAME keys are kept from any table
    sharing the key column (sampling documents and their embeddings
    separately yields aligned samples).  Plan shape: a single native
    ``Filter`` -- no shuffle, no UDF; survives at any scale.

    ``salt`` decorrelates independent samples over the same keys
    (e.g. a 1% audit sample that must not overlap the eval split).
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f'rate must be in [0,1], got {rate}')
    threshold = int(rate * (1 << 31))
    return df.filter(hash_mix(key_col, salt) < F.lit(threshold))


def assign_split(df: DataFrame, key_col: str, rates: dict,
                 salt: int = 0, out_col: str = 'split') -> DataFrame:
    """Partition rows into named splits by cumulative hash ranges --
    the train/val/test assignment of a training pipeline, stable under
    reshuffles and incremental reruns (a new row never moves an old
    row's split).

    ``rates`` maps name -> fraction; fractions must sum to <= 1.0 and
    are assigned in the given order; leftover hash range (if the sum
    is < 1) gets split name ``null``.  One chained ``CASE WHEN`` on
    the mixed key: codegen-native, zero shuffle.
    """
    if not rates:
        raise ValueError('rates must name at least one split')
    total = sum(rates.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f'rates sum to {total} > 1')
    h = hash_mix(key_col, salt)
    expr = None
    cum = 0.0
    for name, r in rates.items():
        if r < 0:
            raise ValueError(f'negative rate for {name!r}')
        cum += r
        cond = h < F.lit(int(cum * (1 << 31)))
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
    return df.withColumn(out_col, expr)


def stratified_sample(df: DataFrame, strata_col: str, n_per_stratum: int,
                      key_col: str, salt: int = 0) -> DataFrame:
    """Keep (up to) ``n_per_stratum`` rows per stratum, chosen as the
    rows with the smallest mixed key -- a deterministic quota sample
    (bottom-k by hash == uniform without replacement), reproducible
    across runs and cluster layouts.

    Shape: one shuffle on ``strata_col`` + a per-group sort
    (``row_number`` window; ties broken by the raw key so the result
    is total-ordered and exactly reproducible).  At 100 TB the
    heaviest stratum bounds the task: a stratum's rows sort within
    one task, which holds while per-stratum row counts fit a task's
    spill budget -- for web-corpus strata (language, source domain
    bucket) that is the normal regime; for pathological single-strata
    skew, pre-filter with :func:`sample_by_hash` to cut the sort input
    (bottom-k survives any prefilter that keeps > n_per_stratum rows).
    """
    from pyspark.sql import Window
    w = Window.partitionBy(strata_col).orderBy(
        hash_mix(key_col, salt), F.col(key_col))
    return (df.withColumn('_rnk', F.row_number().over(w))
            .filter(F.col('_rnk') <= n_per_stratum)
            .drop('_rnk'))


def mixture_sample(df: DataFrame, group_col: str, key_col: str,
                   targets: dict, budget: int, salt: int = 0,
                   weight_col: str = None) -> DataFrame:
    """Resample a corpus to a TARGET GROUP MIXTURE -- the domain/
    language re-balancing step of a pre-training pipeline (the Pile /
    DoReMi recipe): ``targets`` maps group value -> share of the
    output, ``budget`` is the total output size, and each group
    contributes its quota ``floor(share * budget)`` (capped by what
    the group actually has), chosen as the group's bottom rows by the
    spec'd :func:`hash_mix` -- so the selection is deterministic,
    stable under repartitioning, and re-derivable in plain SQL.
    Groups absent from ``targets`` drop entirely.

    Without ``weight_col`` the budget counts ROWS: a group keeps its
    first ``quota`` rows in (h, key) order (SQL: ``row_number() OVER
    (PARTITION BY group ORDER BY h, key) <= quota``).  With
    ``weight_col`` the budget counts WEIGHT (tokens/chars/bytes --
    real pre-training mixtures are token-denominated): a group keeps
    the minimal (h, key)-prefix whose cumulative weight reaches its
    quota, closing within one row of target like the byte sharder
    (SQL: running ``sum(w) ... ROWS UNBOUNDED PRECEDING`` minus the
    row's own weight ``< quota``).  Weights must be non-negative
    (validated in the same pre-pass; nulls weigh 0).  A group whose
    TOTAL weight is zero drops entirely -- it has no mass to
    contribute, so its quota is vacuously met (keeping its rows
    would add unweighted rows to a weight-denominated budget).

    Scale shape: quota selection never sorts whole groups.  One
    partial-agg mass per group (|targets| rows to the driver -- the
    mixture spec is user-sized, not data-sized), then a scan-stage
    per-group threshold filter keeps ~``_SURVIVOR_MARGIN`` x quota
    expected mass per group (each row lands under ``t_g`` with
    probability t_g / 2^31, independent of its weight), and the
    window runs on that bounded survivor set.  Exactness is guarded,
    not assumed: rows under ``t_g`` are exactly a PREFIX of the
    group's (h, key) order, so once the survivors' mass covers
    ``min(quota, group mass)`` they provably contain the true
    selection -- and any short group (rare at margin 8) escalates its
    threshold and rescans; at t_g = 2^31 the whole group survives, so
    the loop terminates exact.  At 100 TB the shuffle moves
    ~margin * budget, not the corpus.  The survivor set is a
    checkpoint (see :func:`lifecycle.checkpoint` for its
    fault-tolerance trade-off).
    """
    if budget < 1:
        raise ValueError('budget must be >= 1')
    quotas = {g: int(t * budget) for g, t in targets.items()}
    quotas = {g: q for g, q in quotas.items() if q > 0}
    if not quotas:
        return df.limit(0)
    wcol = (F.lit(1) if weight_col is None
            else F.coalesce(F.col(weight_col).cast('long'), F.lit(0)))
    sub = df.filter(F.col(group_col).isin(list(quotas)))
    stats = {r[0]: (r[1], r[2]) for r in
             sub.groupBy(group_col)
             .agg(F.sum(wcol).alias('m'), F.min(wcol).alias('lo'))
             .collect()}
    if weight_col is not None and any(
            lo is not None and lo < 0 for _, lo in stats.values()):
        raise ValueError(f'{weight_col} must be non-negative')
    mass = {g: m or 0 for g, (m, _) in stats.items()}
    need = {g: min(q, mass.get(g, 0)) for g, q in quotas.items()}
    thr = {g: min(1 << 31,
                  max(1, (_SURVIVOR_MARGIN * q * (1 << 31))
                      // mass[g]))
           for g, q in quotas.items() if mass.get(g, 0)}
    if not thr:
        return df.limit(0)

    def _case(mapping) -> F.Column:
        expr = None
        for g, v in mapping.items():
            cond = F.col(group_col) == F.lit(g)
            expr = F.when(cond, F.lit(v)) if expr is None \
                else expr.when(cond, F.lit(v))
        return expr

    h = hash_mix(key_col, salt)
    while True:
        cand = lifecycle.checkpoint(sub.withColumn('_h', h)
                                    .filter(F.col('_h') <= _case(thr)))
        got = {r[0]: r[1] or 0 for r in
               cand.groupBy(group_col).agg(F.sum(wcol).alias('m'))
               .collect()}
        short = [g for g in thr
                 if got.get(g, 0) < need[g] and thr[g] < (1 << 31)]
        if not short:
            break
        lifecycle.free(cand)
        for g in short:
            # max(2, ...) so the escalation grows even if the margin
            # is tuned down to 1 (same guard as weighted_sample's).
            thr[g] = min(1 << 31, thr[g] * max(2, _SURVIVOR_MARGIN))
    from pyspark.sql import Window
    w = (Window.partitionBy(group_col).orderBy('_h', F.col(key_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # Keep while the mass BEFORE this row is under quota: with unit
    # weights this is exactly row_number() <= quota.
    return (cand.withColumn('_run', F.sum(wcol).over(w))
            .filter(F.col('_run') - wcol < _case(quotas))
            .drop('_h', '_run'))


_W_SALT = 15485863
# Largest max_weight whose race unrolls into a codegen least() chain
# (~14 arithmetic ops per ticket; 64 tickets ~ 900 ops stays well
# inside the whole-stage-codegen method-size splitter).
_UNROLL_CAP = 64
# Threshold sizing: expect _SURVIVOR_MARGIN * k rows under the race
# cutoff; also the retry multiplier when fewer than k survive.
_SURVIVOR_MARGIN = 8


def weighted_sample(df: DataFrame, key_col: str, weight_col: str,
                    k: int, salt: int = 0,
                    max_weight: int = 4096) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement: the ``k``
    rows with the smallest race key, where a row of integer weight
    ``w`` races ``w`` independent mixed hashes and keeps the minimum
    (the integer-exact min-hash race; equivalent to expanding every
    row into ``w`` tickets and drawing uniformly -- heavier rows win
    proportionally more often, exactly the A-ES exponential-key
    scheme without its cross-engine float ``ln``/``pow`` hazards).

    Weights clamp to ``[1, max_weight]`` (part of the spec, so the
    SQL oracle reproduces the clamp); null keys drop.  Adds ``race``
    (the winning int64) so the selection is auditable; ties break on
    the raw key, so the sample is total-ordered and byte-stable under
    any partitioning.

    Scale shape -- threshold-filtered selection, NOT a bare global
    top-k: one cheap agg computes the total clamped ticket count W,
    a scan-stage filter keeps only rows whose race falls under a
    threshold sized for ~``_SURVIVOR_MARGIN * k`` expected survivors
    (each of W tickets lands under ``t`` with probability t / 2^31,
    so t = margin * k * 2^31 / W), and TakeOrderedAndProject then
    runs on that tiny survivor set.  The selection is EXACT: the
    survivors are precisely the rows with race <= t, so whenever at
    least ``k`` survive they contain the true bottom-k; if fewer
    survive (astronomically rare at margin 8, but possible) the
    threshold multiplies by ``_SURVIVOR_MARGIN`` and the filter
    reruns, and once t >= 2^31 every row survives so the loop always
    terminates with the exact answer.  No shuffle at any corpus
    size; the extra agg + retry loop cost bounded scans of two
    columns.  The returned plan reads the ~``margin * k``-row
    survivor set as a checkpoint (it lets the guard count and the
    selection share one corpus scan; see :func:`lifecycle.checkpoint`
    for its fault-tolerance trade-off).

    The threshold shape is also what keeps the race compiled: a
    bare Project(race)->TakeOrdered plan puts the whole unrolled
    least() chain into one generated method, which blows Janino's
    64 KB method cap at ~8 terms and silently drops the stage to
    interpreted evaluation (measured 30 s / 5M rows vs 1 s
    compiled).  The agg and filter+project shapes split fine.

    When ``max_weight`` <= ``_UNROLL_CAP`` the race unrolls into a
    ``least()`` chain of weight-gated mixes that stays inside
    whole-stage codegen; otherwise it evaluates as
    ``array_min(transform(sequence(...)))`` -- higher-order array
    functions are CodegenFallback in Spark (interpreted per row + a
    per-row ticket array), measured ~40x slower per ticket, so
    prefer pre-bucketing weights into <= ``_UNROLL_CAP`` ordinals
    (the race only needs ordinal resolution).
    """
    if k < 1:
        raise ValueError('k must be >= 1')
    if not 1 <= int(max_weight) <= 65536:
        # Ticket ids are base * 65536 + c: a ticket index past 65536
        # would collide with the NEXT row's ticket block, correlating
        # the two rows' race minima (a silently biased sample, not an
        # error) -- the bound is part of the spec.
        raise ValueError('max_weight must be in [1, 65536]')
    base = hash_mix(key_col, salt)
    wc = F.least(F.greatest(F.col(weight_col).cast('long'), F.lit(1)),
                 F.lit(int(max_weight)))
    filt = df.filter(F.col(key_col).isNotNull())
    # One pre-agg computes the ticket total (sizes the threshold) AND
    # the actual clamped max weight: the race strategy keys on what
    # the DATA needs, not on the max_weight parameter -- a corpus
    # whose weights all fit _UNROLL_CAP gets the compiled least()
    # chain even under the default cap (the chain is exact because no
    # row's wc exceeds the measured max; the clamp bound itself is
    # unchanged, so the output is identical either way).
    stats = filt.agg(F.sum(wc).alias('w'),
                     F.max(wc).alias('mw')).collect()[0]
    total_w = stats['w'] or 0
    unroll = min(int(max_weight), int(stats['mw'] or 1))
    if unroll <= _UNROLL_CAP:
        # Ticket c races iff c < w; losers sit at MAX so least()
        # ignores them.  c = 0 always races (w >= 1 post-clamp).
        terms = [hash_mix(base * F.lit(65536), _W_SALT)]
        terms += [
            F.when(F.lit(c) < wc,
                   hash_mix(base * F.lit(65536) + F.lit(c), _W_SALT))
            .otherwise(F.lit((1 << 63) - 1))
            for c in range(1, unroll)]
        race = F.least(*terms) if len(terms) > 1 else terms[0]
    else:
        race = F.array_min(F.transform(
            F.sequence(F.lit(0), wc - 1),
            lambda c: hash_mix(base * F.lit(65536) + c, _W_SALT)))
    rows = filt.withColumn('race', race)
    if total_w == 0:
        return rows.limit(0)
    threshold = max(1, (_SURVIVOR_MARGIN * k * (1 << 31)) // total_w)
    while True:
        cand = rows.filter(F.col('race') <= F.lit(min(threshold,
                                                      1 << 31)))
        if threshold >= (1 << 31):
            # Cutoff covers the whole hash range: every row survives;
            # don't persist the full corpus, just select.
            return cand.orderBy('race', key_col).limit(k)
        # The survivor set is ~margin * k rows by construction --
        # checkpoint it so the guard count and the selection share ONE
        # race-evaluating scan of the corpus.
        cand = lifecycle.checkpoint(cand)
        if cand.count() >= k:
            return cand.orderBy('race', key_col).limit(k)
        lifecycle.free(cand)
        threshold *= max(2, _SURVIVOR_MARGIN)

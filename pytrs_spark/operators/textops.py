"""Large-scale training-data pipeline operators over a documents table
``(doc_id, text, ...)``: deduplication (exact, MinHash+LSH, SimHash,
n-gram Jaccard), text quality scoring, language ID, token counting,
and document fingerprinting.

Design notes for 100 TB:

- Exact dedup is a hash-groupBy (map-side combined); only the 64-bit
  content hash shuffles, never the text.
- MinHash: vectorized numpy shingle hashing (one Arrow batch), then
  per-permutation min of ``(a*h + b) mod p`` as a native explode +
  map-side-combined groupBy.  LSH banding buckets rows so the
  candidate join is an equi-join on (band, bucket), not an all-pairs.
- :func:`near_duplicate_pairs` is the production path: an exact-dup
  prepass collapses identical texts to one representative BEFORE LSH
  (dedup workloads guarantee giant buckets of identical docs -- the
  prepass removes the quadratic hot-bucket blowup), LSH runs over
  distinct texts only (optionally bucket-capped, with the truncation
  logged -- no silent caps), and verified pairs expand back to member
  pairs with plain joins (never ``collect_list`` of group members).
- SimHash / fingerprint are *spec'd* hash functions (documented below)
  computed by a vectorized numpy pandas UDF -- one Arrow batch, no
  per-row Python, no interpreted higher-order functions.  The same
  spec is independently implementable in ANSI SQL, which is how the
  driver's DuckDB oracle checks them bit-for-bit.
- The verify step (true Jaccard on candidate pairs) touches only the
  candidate pairs surviving LSH, and returns *integer* ``(n_inter,
  n_union)`` so equality checks are exact (no float-rounding hazard).
"""

import warnings
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import lifecycle

_MERSENNE = (1 << 61) - 1


def normalized_text(col) -> F.Column:
    """Lowercase, collapse whitespace -- the canonical form for exact
    dedup.  The whitespace class is pinned EXPLICITLY to ASCII
    [ \\t\\n\\r\\f\\x0b]: Java \\s (here), RE2 \\s (the DuckDB oracles)
    and Python \\s (the pandas kernels) all disagree at the margins
    (\\x0b, \\xa0, \\u2028...), so the spec names its characters and
    every engine implements the same set."""
    return F.trim(F.regexp_replace(F.lower(col), r'[ \t\n\r\f\x0b]+', ' '))


def exact_duplicates(df: DataFrame, text_col='text',
                     id_col='doc_id') -> DataFrame:
    """Rows whose normalized text already appeared (keep-first by id).

    Only the 64-bit hash + id shuffle; dup groups found by window.
    """
    h = F.xxhash64(normalized_text(F.col(text_col)))
    # The window runs over a SKINNY (id, hash) projection -- running
    # it over df directly would ship every column (the text!) through
    # the hash exchange; the dup ids then semi-join back, and the
    # full rows never shuffle.
    skinny = df.select(F.col(id_col).alias('_i'), h.alias('_h'))
    w = Window.partitionBy('_h').orderBy('_i')
    dup_ids = (skinny.withColumn('_rn', F.row_number().over(w))
               .filter(F.col('_rn') > 1)
               .select(F.col('_i').alias(id_col)))
    return df.join(dup_ids, id_col, 'left_semi')


def tokens_col(text_col) -> F.Column:
    """Whitespace+punctuation tokenization (BPE-ish word split)."""
    return F.filter(
        F.split(F.lower(text_col), r"[^a-z0-9']+"),
        lambda t: t != '')


_FNV_PRIME = np.uint64(1099511628211)
_FNV_OFFSET = np.uint64(14695981039346656037)


@lru_cache(maxsize=64)
def _shingle_udf(k: int):
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def udf(texts: pd.Series) -> pd.Series:
        powers = _FNV_PRIME ** np.arange(k - 1, -1, -1, dtype=np.uint64)

        def one(text):
            if text is None:
                text = ''
            codes = np.frombuffer(text.encode('utf-8', 'ignore'),
                                  dtype=np.uint8).astype(np.uint64)
            if len(codes) < k:
                codes = np.pad(codes, (0, k - len(codes)),
                               constant_values=32)
            win = np.lib.stride_tricks.sliding_window_view(codes, k)
            hashes = (win * powers).sum(axis=1, dtype=np.uint64)
            hashes = (hashes ^ (hashes >> np.uint64(29))) * _FNV_PRIME
            return np.unique(hashes).astype(np.int64)

        return texts.map(one)
    return udf


def shingles_col(text_col, k: int = 5) -> F.Column:
    """Distinct k-gram (character shingle) hash array.

    Vectorized numpy rolling hash inside one Arrow batch: windowed
    polynomial hash over the normalized text's bytes, finalized with a
    xorshift-multiply.  (A native ``transform(sequence, substr +
    xxhash64)`` formulation was ~100x slower: lambda higher-order
    functions evaluate interpreted, one substring alloc + hash per
    index.)
    """
    return _shingle_udf(k)(normalized_text(text_col))


@lru_cache(maxsize=64)
def _char_ngram_udf(n: int):
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def udf(texts: pd.Series) -> pd.Series:
        def one(text):
            if text is None:
                text = ''
            if len(text) < n:
                text = text.ljust(n)
            return sorted({text[i:i + n]
                           for i in range(len(text) - n + 1)})
        return texts.map(one)
    return udf


def char_ngrams_col(text_col, n: int = 5) -> F.Column:
    """Distinct *raw* character n-grams of the normalized text, sorted.

    Same windowing convention as :func:`shingles_col` / the DuckDB
    oracles (texts shorter than ``n`` are right-padded with spaces and
    yield one gram), but the grams stay strings instead of 64-bit
    hashes: :func:`ngram_jaccard_pairs` needs raw grams because a hash
    quotient can *decrease* Jaccard (A={a,b,x}, B={a,b,y} with a~b
    colliding: true J=1/2, hashed J=1/3), so hashed candidate
    generation could miss true pairs.  Hashed shingles remain the
    right representation for MinHash, where collisions only perturb
    the estimate.
    """
    return _char_ngram_udf(n)(normalized_text(text_col))


def _perm_coeffs(num_perm: int):
    prime = (1 << 31) - 1
    a = np.array([((i * 2 + 1) * 0x9E3779B9) % prime or 1
                  for i in range(num_perm)], dtype=np.int64)
    b = np.array([(i * 2654435761 + 12345) % prime
                  for i in range(num_perm)], dtype=np.int64)
    return a, b, prime


@lru_cache(maxsize=64)
def _minhash_sig_udf(k: int, num_perm: int):
    """Shingle-hash + minhash signature fused in one numpy kernel:
    per doc, ``sig_i = min((a_i * (h mod p) + b_i) mod p)`` over the
    distinct shingle hashes -- identical arithmetic (and therefore
    identical signatures/buckets) to the explode + groupBy(min) form,
    with NO shuffle: the signature never leaves the scan stage."""
    a_vec, b_vec, prime = _perm_coeffs(num_perm)
    powers = _FNV_PRIME ** np.arange(k - 1, -1, -1, dtype=np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def udf(texts: pd.Series) -> pd.Series:
        def one(text):
            if text is None:
                text = ''
            codes = np.frombuffer(text.encode('utf-8', 'ignore'),
                                  dtype=np.uint8).astype(np.uint64)
            if len(codes) < k:
                codes = np.pad(codes, (0, k - len(codes)),
                               constant_values=32)
            win = np.lib.stride_tricks.sliding_window_view(codes, k)
            hashes = (win * powers).sum(axis=1, dtype=np.uint64)
            hashes = (hashes ^ (hashes >> np.uint64(29))) * _FNV_PRIME
            h31 = np.mod(np.unique(hashes).astype(np.int64), prime)
            # One pass per permutation over the 1-D shingle array
            # (products stay < 2^62: int64-safe).  The (n_shingles,
            # num_perm) matrix form computed identical values but
            # materialized ~8 * num_perm bytes per distinct shingle
            # -- a multi-GB transient for a 10 MB document.
            out = np.empty(len(a_vec), dtype=np.int64)
            for i in range(len(a_vec)):
                out[i] = ((h31 * a_vec[i] + b_vec[i]) % prime).min()
            return out
        return texts.map(one)
    return udf


@lru_cache(maxsize=64)
def _sig_from_shingles_udf(num_perm: int):
    """MinHash signature from an ALREADY-SHINGLED doc: input is
    :func:`shingles_col`'s output (distinct int64 shingle hashes,
    never empty -- short texts are padded to one window), output is
    bit-identical to :func:`_minhash_sig_udf` on the source text.
    Callers that materialize the shingle table anyway
    (:func:`near_duplicate_pairs` needs it for the exact verify) get
    signatures for the cost of the permutation sweep alone instead of
    a second full re-tokenization of the corpus."""
    a_vec, b_vec, prime = _perm_coeffs(num_perm)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def udf(shingles: pd.Series) -> pd.Series:
        def one(sh):
            h31 = np.mod(np.asarray(sh, dtype=np.int64), prime)
            out = np.empty(len(a_vec), dtype=np.int64)
            for i in range(len(a_vec)):
                out[i] = ((h31 * a_vec[i] + b_vec[i]) % prime).min()
            return out
        return shingles.map(one)
    return udf


def minhash_signatures(df: DataFrame, text_col='text', id_col='doc_id',
                       k: int = 5, num_perm: int = 32) -> DataFrame:
    """MinHash signatures, one row per doc with a ``sig`` array.

    Fused shingle+signature numpy kernel (see :func:`_minhash_sig_udf`)
    -- zero shuffle, so recomputing signatures downstream (banding,
    estimate prefilter) costs a map pass, not an exchange.  (History:
    a per-row native ``aggregate`` expression generated a pathological
    codegen unit; an explode + 32x groupBy(min) shuffle fixed that but
    moved 100x the signature bytes through an exchange.  The fused
    kernel produces bit-identical signatures to both.)
    """
    return df.select(
        F.col(id_col).alias('id'),
        _minhash_sig_udf(k, num_perm)(
            normalized_text(F.col(text_col))).alias('sig'))


def minhash_lsh_candidates(df: DataFrame, text_col='text',
                           id_col='doc_id', k: int = 5,
                           num_perm: int = 32, bands: int = 8,
                           max_bucket: int = None,
                           drop_stats: dict = None,
                           min_sig_matches: int = None) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    Each row lands in ``bands`` buckets keyed by a band-slice hash of
    its signature; pairs sharing any bucket become candidates (one
    equi-join on the bucket key -- no all-pairs).  Returns distinct
    (id_a, id_b) with id_a < id_b.

    ``max_bucket`` bounds the self-join: buckets larger than this are
    dropped before the join (the join is quadratic in bucket size).
    Run :func:`near_duplicate_pairs` instead of calling this raw --
    its exact-dup prepass removes the identical-text hot buckets that
    dedup corpora guarantee, so a cap only ever drops hash-collision
    noise.  Capping is never silent: pass ``drop_stats`` (a dict) to
    receive ``{'dropped_rows', 'dropped_buckets'}`` (costs one extra
    count job), otherwise a warning with the cap is emitted whenever a
    cap is set.

    With the signature prefilter on (``min_sig_matches`` > 0) the
    output is a checkpoint (see :func:`lifecycle.checkpoint` for its
    fault-tolerance trade-off); otherwise it is a lazy plan.
    """
    if not 1 <= bands <= num_perm or num_perm % bands:
        # bands > num_perm would make every band slice empty (one
        # degenerate bucket -> O(n^2) self-join); a non-divisor would
        # silently ignore trailing signature slots.  No silent caps.
        raise ValueError(
            f'bands must divide num_perm ({num_perm}), got {bands}')
    with_sig = minhash_signatures(df, text_col, id_col, k, num_perm)
    with lifecycle.scope() as s:
        cand = _lsh_from_sig(s, with_sig, num_perm=num_perm, bands=bands,
                             max_bucket=max_bucket, drop_stats=drop_stats,
                             min_sig_matches=min_sig_matches)
        return (lifecycle.checkpoint(cand) if (min_sig_matches or 0) > 0
                else cand)


def _lsh_from_sig(s, with_sig: DataFrame, num_perm: int, bands: int,
                  max_bucket: int = None, drop_stats: dict = None,
                  min_sig_matches: int = None) -> DataFrame:
    """LSH banding + bucket self-join + optional signature-estimate
    prefilter over a prepared ``(id, sig)`` table -- the shared tail
    of :func:`minhash_lsh_candidates` and :func:`near_duplicate_pairs`
    (which feeds signatures derived from its persisted shingle table
    instead of re-tokenizing).  When the prefilter is on, the plan
    consumes ``with_sig`` from three branches (band explode + both
    prefilter sides), so the table is persisted in the caller's
    lifecycle scope ``s`` -- otherwise the signature kernel re-runs
    once per branch -- and the caller must materialize the result
    before ``s`` exits."""
    rows_per_band = num_perm // bands
    if (min_sig_matches or 0) > 0:
        with_sig = s.persisted(with_sig)
    banded = with_sig.select(
        'id',
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias('band'),
                F.xxhash64(F.slice(
                    F.col('sig'), b * rows_per_band + 1,
                    rows_per_band).cast('string')).alias('bucket'))))
        .alias('bb')).select('id', 'bb.band', 'bb.bucket')
    if max_bucket is not None:
        w = Window.partitionBy('band', 'bucket')
        banded = banded.withColumn('_bsize', F.count('*').over(w))
        if drop_stats is not None:
            dropped = (banded.filter(F.col('_bsize') > max_bucket)
                       .agg(F.count('*').alias('rows'),
                            F.countDistinct('band', 'bucket')
                            .alias('buckets')).first())
            drop_stats['dropped_rows'] = dropped['rows']
            drop_stats['dropped_buckets'] = dropped['buckets']
        else:
            warnings.warn(
                f'minhash_lsh_candidates: buckets over {max_bucket} rows '
                'are dropped from the candidate join (pass drop_stats to '
                'count them)', stacklevel=2)
        banded = banded.filter(F.col('_bsize') <= max_bucket) \
            .drop('_bsize')
    left = banded.alias('l')
    right = banded.alias('r')
    cand = (left.join(right, ['band', 'bucket'])
            .filter(F.col('l.id') < F.col('r.id'))
            .select(F.col('l.id').alias('id_a'),
                    F.col('r.id').alias('id_b'))
            .distinct())
    if (min_sig_matches or 0) > 0:
        # Signature-estimate prefilter: the minhash signature itself
        # estimates Jaccard (fraction of equal slots), so candidates
        # far below the target similarity skip the expensive exact
        # verify.  False-negative bound = P[Binom(num_perm, J) <
        # min_sig_matches]; see near_duplicate_pairs' docstring for
        # worked numbers per num_perm/threshold and the exact bypass.
        sa = with_sig.select(F.col('id').alias('id_a'),
                             F.col('sig').alias('_sig_a'))
        sb = with_sig.select(F.col('id').alias('id_b'),
                             F.col('sig').alias('_sig_b'))
        matches = F.size(F.filter(
            F.zip_with('_sig_a', '_sig_b', lambda x, y: x == y),
            lambda b: b))
        cand = (cand.join(sa, 'id_a').join(sb, 'id_b')
                .filter(matches >= min_sig_matches)
                .select('id_a', 'id_b'))
    return cand


_POPCNT8 = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1) \
    .astype(np.uint16)


@lru_cache(maxsize=64)
def _pack_bits_udf(n_bits: int):
    """array<int> of gram ids -> packed bitmap binary(ceil(n_bits/8)).
    Vectorized per doc: scatter into a byte-per-bit scratch, packbits.
    """
    n_bytes = (n_bits + 7) // 8

    @F.pandas_udf(T.BinaryType())
    def udf(gid_lists: pd.Series) -> pd.Series:
        out = []
        for ids in gid_lists:
            scratch = np.zeros(n_bytes * 8, dtype=np.uint8)
            scratch[np.asarray(ids, dtype=np.int64)] = 1
            out.append(np.packbits(scratch, bitorder='little')
                       .tobytes())
        return pd.Series(out, dtype=object)
    return udf


def _popcount_and_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    """|A & B| of two equal-length packed bitmaps: one reshape + AND +
    8-bit popcount table lookup across the whole Arrow batch."""
    av, bv = a.to_numpy(), b.to_numpy()
    nrow = len(av)
    if nrow == 0:
        return pd.Series([], dtype='int32')
    ok = np.fromiter(((x is not None and y is not None)
                      for x, y in zip(av, bv)), dtype=bool, count=nrow)
    out = np.full(nrow, None, dtype=object)
    idx = np.flatnonzero(ok)
    if len(idx):
        A = np.frombuffer(b''.join(av[i] for i in idx),
                          np.uint8).reshape(len(idx), -1)
        B = np.frombuffer(b''.join(bv[i] for i in idx),
                          np.uint8).reshape(len(idx), -1)
        out[idx] = _POPCNT8[A & B].sum(axis=1, dtype=np.int64)
    return pd.Series(out, dtype=object)


# ND instance (the kernel IS deterministic; the flag is a Catalyst
# barrier): the verify threshold filter references the n_inter
# column, and a deterministic UDF there gets pushed below the
# projection and re-evaluated -- two ArrowEvalPython popcount passes
# over the candidate set (same pathology as ann.py _rank_topk).
_popcount_and_udf = F.pandas_udf(T.IntegerType())(
    _popcount_and_kernel).asNondeterministic()


def ngram_jaccard_pairs(docs: DataFrame, text_col='text',
                        id_col='doc_id', n: int = 5, threshold=(4, 5),
                        prefix_filter: bool = True,
                        bitmap_max_bits: int = 1 << 16) -> DataFrame:
    """ALL pairs with exact n-gram Jaccard >= p/q -- the exact tier of
    the dedup family (brief: "n-gram Jaccard" dedup).  Unlike
    :func:`near_duplicate_pairs` (MinHash+LSH, probabilistic recall)
    this operator provably never misses a qualifying pair; its cost is
    the inverted-index self-join, so it is the verification /
    bounded-corpus tier while LSH remains the 100 TB production path.

    Scale shape, three stacked exact filters (none can drop a
    qualifying pair):

    1. *Prefix filter* (Bayardo et al., WWW'07 AllPairs; Xiao et al.,
       WWW'08 PPJoin, Lemma 1): order grams rare-first by global
       document frequency (one map-side-combined groupBy) and index
       only each doc's first ``|x| - ceil(t*|x|) + 1`` grams.  If
       ``J(A,B) >= t`` then ``|inter| >= ceil(t*max(|A|,|B|))``, and
       the smallest shared gram has ``|inter|-1`` shared grams after
       it in both docs, so it sits within both prefixes.  Rare-first
       ordering keeps stop-gram hot keys out of the index, bounding
       join skew; the size predicate ``q*|A| >= p*|B|`` (both ways)
       prunes inside the join condition.
    2. *Positional filter* (PPJoin Lemma 2): a prefix match at
       (1-based rare-first) ranks ``(i, j)`` can witness at most
       ``min(|A|-i+1, |B|-j+1)`` shared grams, so rows where that
       bound is below the required overlap
       ``alpha = ceil(p*(|A|+|B|)/(p+q))`` are dropped BEFORE the
       candidate distinct.  A qualifying pair's first shared gram
       always passes (its tail covers the whole intersection).
    3. *Verify*: exact integer ``(n_inter, n_union)`` per surviving
       pair; the threshold decision is ``n_inter*q >= n_union*p`` --
       no float boundary.  When the corpus' gram universe U fits
       ``bitmap_max_bits`` (measured: one groupBy count over the gram
       dimension), each doc's gram set becomes a packed U-bit bitmap
       (rare-first dense gram ids) and the verify is popcount(A & B)
       -- ~9x fewer bytes through the verify join than gram-string
       arrays and a table-lookup kernel instead of per-row string-set
       intersection.  Larger universes fall back to sorted gram-string
       arrays + ``array_intersect`` (grams stay raw strings there --
       see :func:`char_ngrams_col` for why hashing them could drop
       true pairs; the bitmap's dense ids are a *bijection*, so they
       cannot).

    The low-diversity regime is the documented worst case: the bench
    corpus has only ~2k distinct 5-grams across 10k docs, so even
    rare-first prefixes collide heavily (~12M raw candidates for ~6k
    true pairs; the positional filter halves them).  That density is a
    property of the corpus, not the plan -- candidate count lower-
    bounds any exact algorithm's verify work on such data, which is
    exactly why :func:`near_duplicate_pairs` (LSH) is the production
    dedup path and this operator is the audit tier.

    ``prefix_filter=False`` indexes every gram (same output, more
    candidates); ``bitmap_max_bits=0`` forces the array verify.  All
    four path combinations are pinned equal by
    ``tests/test_ngram_jaccard.py``.  The dense-gid assignment is a
    single-task window over the gram *dimension* (bounded by
    ``bitmap_max_bits``), never over the corpus.

    The gram index / bitmaps feed several plan branches (df count,
    prefix rank, both join sides, verify); without materialization the
    gram-extraction UDF re-evaluates once per branch, so they are
    persisted MEMORY_AND_DISK for the call and freed before it
    returns.  A production pipeline would write the gram index/codes
    to storage once -- the persist is the single-job stand-in for
    that.  The output is a checkpoint (see
    :func:`lifecycle.checkpoint` for its fault-tolerance trade-off).
    """
    p, q = threshold
    if not (1 <= p <= q):
        raise ValueError(f'threshold must be a fraction 0 < p/q <= 1, '
                         f'got {threshold}')

    with lifecycle.scope() as s:
        # Persist the GRAM TABLE itself (not just its explosion): every
        # downstream branch -- the exploded index, the bitmap packs, and
        # the array-verify fallback's two join sides -- re-evaluates the
        # gram-extraction UDF otherwise (a full re-tokenization of the
        # corpus per branch).
        grams = s.persisted(
            docs.select(F.col(id_col).alias('id'),
                        char_ngrams_col(F.col(text_col), n)
                        .alias('grams'))
            .withColumn('sz', F.size('grams'))
            .filter(F.col('sz') > 0))
        ex = s.persisted(
            grams.select('id', 'sz', F.explode('grams').alias('g')))

        use_bitmap = False
        packs = None
        if prefix_filter:
            dfreq = ex.groupBy('g').agg(F.count(F.lit(1)).alias('_df'))
            n_universe = dfreq.count()
            use_bitmap = 0 < n_universe <= bitmap_max_bits
            n_docs = docs.count() if use_bitmap else 0
            # prefix length |x| - ceil(t*|x|) + 1, exact rational ceil
            plen = (F.col('sz')
                    - F.expr(f'(sz * {p} + {q - 1}) div {q}') + 1)
            if use_bitmap:
                gdim = dfreq.select(
                    'g', (F.row_number().over(
                        Window.orderBy('_df', 'g')) - 1).alias('gid'))
                # gid ascending == (_df, g) ascending: one total order
                # serves the prefix rank, the join key, and the bitmap.
                exg = s.persisted(ex.join(F.broadcast(gdim), 'g')
                                  .select('id', 'sz', 'gid'))
                w = Window.partitionBy('id').orderBy('gid')
                idx = s.persisted(
                    exg.withColumn('_rn', F.row_number().over(w))
                    .filter(F.col('_rn') <= plen)
                    .select('id', 'sz', F.col('gid').alias('key'), '_rn'))
                packs = (exg.groupBy('id', 'sz')
                         .agg(F.collect_list('gid').alias('_gids'))
                         .select('id', 'sz',
                                 _pack_bits_udf(n_universe)(F.col('_gids'))
                                 .alias('_bm')))
            else:
                w = Window.partitionBy('id').orderBy('_df', 'g')
                idx = s.persisted(
                    ex.join(dfreq, 'g')
                    .withColumn('_rn', F.row_number().over(w))
                    .filter(F.col('_rn') <= plen)
                    .select('id', 'sz', F.col('g').alias('key'), '_rn'))
        else:
            idx = ex.select('id', 'sz', F.col('g').alias('key'),
                            F.lit(1).alias('_rn'))

        a, b = idx.alias('a'), idx.alias('b')
        cond = ((F.col('a.key') == F.col('b.key'))
                & (F.col('a.id') < F.col('b.id'))
                & (F.col('a.sz') * q >= F.col('b.sz') * p)
                & (F.col('b.sz') * q >= F.col('a.sz') * p))
        if prefix_filter:
            # positional filter: this match's tail must be able to
            # carry the required overlap alpha = ceil(p*(sa+sb)/(p+q))
            alpha = F.expr(f'({p} * (a.sz + b.sz) + {p + q - 1}) '
                           f'div {p + q}')
            cond = cond & (F.least(
                F.col('a.sz') - F.col('a._rn') + 1,
                F.col('b.sz') - F.col('b._rn') + 1) >= alpha)
        cand = (a.join(b, cond)
                .select(F.col('a.id').alias('id_a'),
                        F.col('b.id').alias('id_b'))
                .distinct())

        if use_bitmap:
            pa = packs.select(F.col('id').alias('id_a'),
                              F.col('_bm').alias('_bma'),
                              F.col('sz').alias('_sa'))
            pb = packs.select(F.col('id').alias('id_b'),
                              F.col('_bm').alias('_bmb'),
                              F.col('sz').alias('_sb'))
            # The packs table comes out of a UDF, so Catalyst has no
            # size statistics and falls back to a sort-merge join --
            # which shuffles every candidate row WITH its bitmaps twice
            # (measured 153 s vs 8 s at 6.2M candidates).  We know the
            # true size: n_docs x (U/8 + key overhead).  Broadcast when
            # it fits; at corpus sizes where it doesn't, the shuffle
            # join is the correct plan anyway.
            est_bytes = n_docs * (n_universe // 8 + 32)
            if est_bytes <= 64 << 20:
                pa, pb = F.broadcast(pa), F.broadcast(pb)
            verified = (cand.join(pa, 'id_a').join(pb, 'id_b')
                        .withColumn('n_inter',
                                    _popcount_and_udf('_bma', '_bmb')))
        else:
            ga = grams.select(F.col('id').alias('id_a'),
                              F.col('grams').alias('_ga'),
                              F.col('sz').alias('_sa'))
            gb = grams.select(F.col('id').alias('id_b'),
                              F.col('grams').alias('_gb'),
                              F.col('sz').alias('_sb'))
            verified = (cand.join(ga, 'id_a').join(gb, 'id_b')
                        .withColumn('n_inter',
                                    F.size(F.array_intersect('_ga', '_gb'))))
        out = (verified
               .withColumn('n_union',
                           F.col('_sa') + F.col('_sb') - F.col('n_inter'))
               .filter(F.col('n_inter') * q >= F.col('n_union') * p)
               .select('id_a', 'id_b',
                       F.col('n_inter').cast('int').alias('n_inter'),
                       F.col('n_union').cast('int').alias('n_union')))
        # The output pair set is bounded by the corpus's duplication
        # mass; the corpus-sized gram and index tables are freed at
        # scope exit.
        return lifecycle.checkpoint(out)


def near_duplicate_pairs(docs: DataFrame, text_col='text',
                         id_col='doc_id', k: int = 5, num_perm: int = 32,
                         bands: int = 8, threshold=(4, 5),
                         max_bucket: int = None,
                         drop_stats: dict = None,
                         min_sig_matches: int = 'auto') -> DataFrame:
    """All near-duplicate pairs (Jaccard >= threshold p/q) -- the
    production dedup path.

    1. *Exact-dup prepass*: identical normalized texts collapse to one
       representative (min id per 64-bit content hash).  This is what
       bounds the LSH buckets -- a dedup corpus guarantees huge groups
       of byte-identical docs, and their bucket self-join would be
       quadratic; after the prepass each text enters LSH once.
    2. MinHash+LSH over *distinct* texts only -> candidate rep pairs.
    3. True-Jaccard verify on candidates (integer threshold p/q).
    4. Expand back to member pairs with plain joins: within-group pairs
       (Jaccard exactly 1) and cross-group pairs (same counts as their
       rep pair, since members are textually identical to their rep).

    Output: ``(id_a, id_b, n_inter, n_union)`` with id_a < id_b.  Note
    pair *enumeration* is inherently quadratic in dup-group size; for
    keep-one-per-group semantics use :func:`exact_duplicates` +
    drop, which never materializes the pairs.

    ``threshold`` is an integer fraction (p, q): a pair qualifies iff
    ``n_inter * q >= n_union * p`` -- exact at the boundary.

    ``min_sig_matches`` controls the signature-estimate prefilter
    between LSH and the exact verify: a candidate pair is verified
    only if at least this many of its ``num_perm`` signature slots
    agree.  ``'auto'`` (default) uses half the target threshold,
    ``min_sig = floor(p*num_perm / (2*q))``; pass an int to tune, or
    ``None``/``0`` for an **exact bypass** (every LSH candidate is
    Jaccard-verified -- recall is then limited only by LSH banding).

    *False-negative bound of the prefilter*: each signature slot
    matches independently with probability J (the true Jaccard), so a
    pair at exactly J = p/q fails the cut with binomial-tail
    probability ``P[Binom(num_perm, p/q) < min_sig]``.  At the 'auto'
    cut (half the threshold in expectation) and threshold 0.8 this is
    ~2.6e-8 for num_perm=32, ~1.5e-13 for num_perm=64, ~5.7e-24 for
    num_perm=128 -- the bound tightens exponentially in num_perm but
    loosens as the threshold falls (~2.8e-3 at threshold 0.4,
    num_perm=32; Chernoff exponent ~ num_perm * (p/q) / 8).  For low
    thresholds or small num_perm, pass ``min_sig_matches=None``.

    The output is a checkpoint (see :func:`lifecycle.checkpoint` for
    its fault-tolerance trade-off); the shingle, signature and member
    tables are freed before the call returns.
    """
    p, q = threshold
    base = docs.select(
        F.col(id_col).alias('id'),
        F.col(text_col).alias('_text'),
        F.xxhash64(normalized_text(F.col(text_col))).alias('_h'))
    reps = base.groupBy('_h').agg(F.min('id').alias('rep_id'))
    with lifecycle.scope() as s:
        # (id, rep_id) membership -- only ids+hashes shuffle, never
        # text.  Persisted (same skinny-row MEMORY_AND_DISK convention
        # as the shingle table below): FOUR plan branches consume it
        # (ma/mb in the cross expansion, m1/m2 in the within pairs),
        # and each un-persisted branch re-ran the base scan + rep
        # groupBy + join.
        member = s.persisted(base.select('id', '_h').join(reps, '_h')
                           .select('id', 'rep_id'))
        rep_docs = base.join(
            reps.select(F.col('rep_id').alias('id')), 'id') \
            .select('id', F.col('_text').alias('text'))

        # Prefilter candidates whose signature-estimated similarity is
        # far below the target (half the threshold) before the exact
        # verify; see the docstring for the false-negative bound and
        # the min_sig_matches=None exact bypass.
        if min_sig_matches == 'auto':
            min_sig = int((p * num_perm) // (2 * q))
        else:
            min_sig = min_sig_matches
        # ONE shingle pass serves everything downstream: the persisted
        # (id, shingles) table feeds the MinHash signatures
        # (permutation sweep only -- no re-tokenization), both sides of
        # the exact verify, and the within-group size lookup.  Before
        # this the shingle/signature kernels re-ran once per plan
        # branch (3x sig + 3x shingles measured on the bench corpus:
        # ~6 s of duplicate kernel work in an 11 s wall).  Same persist
        # convention -- MEMORY_AND_DISK, skinny rows -- as
        # ngram_jaccard_pairs.
        sh_tab = s.persisted(rep_docs.select(
            'id', shingles_col(F.col('text'), k).alias('_sh')))
        with_sig = sh_tab.select('id', _sig_from_shingles_udf(num_perm)(
            F.col('_sh')).alias('sig'))
        cand = _lsh_from_sig(s, with_sig, num_perm=num_perm, bands=bands,
                             max_bucket=max_bucket, drop_stats=drop_stats,
                             min_sig_matches=min_sig)
        sha = sh_tab.select(F.col('id').alias('id_a'),
                            F.col('_sh').alias('_sha'))
        shb = sh_tab.select(F.col('id').alias('id_b'),
                            F.col('_sh').alias('_shb'))
        # The shingle arrays are DISTINCT sorted hashes (np.unique), so
        # |A u B| = |A| + |B| - |A n B| exactly: ONE array_intersect
        # per candidate instead of intersect + union (the union's
        # hash-set pass was half the verify cost), and the size bound
        # implied by J >= p/q (q*min(|A|,|B|) >= p*max) drops
        # size-incompatible candidates before any set op.  Both
        # rewrites are exact -- neither can change which pairs qualify
        # or their counts.
        _sa = F.size('_sha')
        _sb = F.size('_shb')
        _inter = F.size(F.array_intersect('_sha', '_shb'))
        near_reps = (cand.join(sha, 'id_a').join(shb, 'id_b')
                     .filter(F.least(_sa, _sb) * q
                             >= F.greatest(_sa, _sb) * p)
                     .select('id_a', 'id_b',
                             _inter.alias('n_inter'),
                             (_sa + _sb - _inter).alias('n_union'))
                     .filter(F.col('n_inter') * q >= F.col('n_union') * p))

        # Cross-group expansion: every member of group(id_a) pairs
        # with every member of group(id_b); counts equal the rep
        # pair's.
        ma = member.select(F.col('rep_id').alias('id_a'),
                           F.col('id').alias('_ma'))
        mb = member.select(F.col('rep_id').alias('id_b'),
                           F.col('id').alias('_mb'))
        cross = (near_reps.join(ma, 'id_a').join(mb, 'id_b')
                 .select(F.least('_ma', '_mb').alias('id_a'),
                         F.greatest('_ma', '_mb').alias('id_b'),
                         'n_inter', 'n_union'))

        # Within-group pairs: identical texts, Jaccard exactly 1
        # (n_inter = n_union = |shingle set| of the group's text).
        sizes = sh_tab.select(
            F.col('id').alias('rep_id'),
            F.size('_sh').alias('_n_sh'))
        m1 = member.alias('m1')
        m2 = member.alias('m2')
        within = (m1.join(m2, 'rep_id')
                  .filter(F.col('m1.id') < F.col('m2.id'))
                  .join(sizes, 'rep_id')
                  .select(F.col('m1.id').alias('id_a'),
                          F.col('m2.id').alias('id_b'),
                          F.col('_n_sh').alias('n_inter'),
                          F.col('_n_sh').alias('n_union')))
        # Left resident, the shingle, signature and member tables
        # would outlive the call by the whole session -- measured in
        # the full bench suite as 1.3-13x inflation of every later row
        # (fingerprint 0.29 s -> 3.79 s in-suite vs 0.46 s isolated)
        # from block-manager pressure.  The checkpoint is output-sized
        # (pairs + two ints, bounded by the corpus's duplication
        # mass).
        return lifecycle.checkpoint(cross.unionByName(within))


# --- SimHash (spec'd, numpy-vectorized) --------------------------------
#
# SimHash spec (independently implementable in SQL -- the DuckDB
# oracle in __spark_entry__.py is a second implementation):
#   tokens   = regex matches of [a-z0-9']+ over lower(text)
#   h(tok)   = FNV-1a 64-bit over the token's ASCII bytes
#              (h = 0xcbf29ce484222325; per byte: h = (h^b)*0x100000001b3
#               mod 2^64)
#   vote_b   = sum over tokens of (+1 if bit b of h set else -1)
#   simhash  = sum of 2^b for every b with vote_b > 0, as a signed
#              (two's complement) int64.  No tokens -> 0.

def _simhash_kernel(texts: pd.Series) -> np.ndarray:
    import re
    tok_re = re.compile(r"[a-z0-9']+")
    n_docs = len(texts)
    flat = []
    ends = np.empty(n_docs, dtype=np.int64)
    for i, text in enumerate(texts):
        flat.extend(tok_re.findall((text or '').lower()))
        ends[i] = len(flat)
    out = np.zeros(n_docs, dtype=np.int64)
    if not flat:
        return out
    # FNV-1a per LENGTH GROUP (tokens are ASCII by regex
    # construction): each group's byte matrix is exactly
    # group_size x L -- total bytes across groups == total token
    # chars.  The single batch-wide matrix padded to the LONGEST
    # token was a trap: one long unbroken junk run (5 MB of 'aaaa',
    # exactly the low-quality content this pipeline filters) padded
    # EVERY token to 5 MB -- a multi-TB allocation.  Hash values are
    # bit-identical (the padded form masked the NUL columns out).
    flat_arr = np.array(flat, dtype=object)
    lens = np.fromiter((len(t) for t in flat), dtype=np.int64,
                       count=len(flat))
    h = np.full(len(flat), _FNV_OFFSET, dtype=np.uint64)
    order = np.argsort(lens, kind='stable')
    sorted_lens = lens[order]
    g_starts = np.flatnonzero(np.concatenate(
        ([True], sorted_lens[1:] != sorted_lens[:-1])))
    for gi, s0 in enumerate(g_starts):
        s1 = g_starts[gi + 1] if gi + 1 < len(g_starts) else len(order)
        L = int(sorted_lens[s0])
        if L == 0:
            continue
        idxs = order[s0:s1]
        sub = flat_arr[idxs].astype(f'S{L}') \
            .view(np.uint8).reshape(len(idxs), L)
        hh = np.full(len(idxs), _FNV_OFFSET, dtype=np.uint64)
        for j in range(L):
            hh = (hh ^ sub[:, j].astype(np.uint64)) * _FNV_PRIME
        h[idxs] = hh
    # Per-bit one-counts per doc: unpackbits -> reduceat over doc
    # boundaries -> packbits.  All C-kernels on byte-sized temporaries
    # (a broadcasted uint64 shift matrix measured ~30x slower and 8x
    # the memory).  vote_b > 0  <=>  2 * ones_b > n_tokens.
    bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8),
                         axis=1, bitorder='little')        # (T, 64) u8
    starts = np.concatenate([[0], ends[:-1]])
    counts = ends - starts
    nonempty = counts > 0
    # reduceat needs strictly-increasing boundaries: empty docs
    # contribute no tokens, so the nonempty starts exactly partition
    # the token table; empty docs stay 0.
    sums = np.add.reduceat(bits, starts[nonempty], axis=0,
                           dtype=np.int32)
    bit_set = (2 * sums) > counts[nonempty][:, None]
    packed = np.packbits(bit_set, axis=1, bitorder='little') \
        .copy().view(np.uint64).ravel().astype(np.int64)
    out[nonempty] = packed
    return out


@F.pandas_udf(T.LongType())
def _simhash_udf(texts: pd.Series) -> pd.Series:
    return pd.Series(_simhash_kernel(texts))


def simhash_col(text_col, bits: int = 64) -> F.Column:
    """64-bit SimHash fingerprint (spec above) -- one vectorized numpy
    pandas UDF per Arrow batch.

    (The previous native formulation -- ``aggregate(zip_with(
    aggregate(transform(...))))`` -- evaluated 64 interpreted lambdas
    per token per doc, the same ~100x-slow pathology measured for
    shingles; this kernel is batch matrix math.)
    """
    if bits != 64:
        raise ValueError('simhash_col implements the 64-bit spec')
    if isinstance(text_col, str):
        text_col = F.col(text_col)
    return _simhash_udf(text_col)


def simhash_near_dup_pairs(docs: DataFrame, text_col='text',
                           id_col='doc_id', max_hamming: int = 3,
                           bands: int = None,
                           max_bucket: int = None,
                           drop_stats: dict = None) -> DataFrame:
    """All document pairs whose 64-bit SimHashes differ in at most
    ``max_hamming`` bits -- SimHash-based near-dup detection as a
    banded Hamming-LSH join.

    Unlike MinHash banding (probabilistic recall), this candidate
    scheme is EXACT by pigeonhole: the 64 bits are split into
    ``bands`` disjoint contiguous groups (default ``max_hamming + 1``);
    a pair within Hamming distance ``max_hamming`` cannot differ in
    all ``max_hamming + 1`` groups, so it shares at least one band
    value verbatim and survives the equi-join.  The output is
    therefore exactly the brute-force all-pairs answer, computed with
    one int-keyed shuffle instead of a cross join.

    Plan shape (the part that matters at 10^12 rows):

    1. *Distinct-simhash prepass*: one representative id per distinct
       simhash enters the band join (web dedup corpora guarantee huge
       groups of identical hashes whose bucket self-join would be
       quadratic).  Members rejoin at the end; within-group pairs are
       Hamming 0 by definition.
    2. Band explode (``bands`` rows per distinct hash, ints only) ->
       self-equi-join on (band_idx, band_bits) -> distinct candidate
       hash pairs.  No text, no vectors -- nothing wider than
       (int64, int64) ever shuffles.
    3. Native verify: ``bit_count(sh_a ^ sh_b) <= max_hamming``
       (whole-stage codegen, no UDF).
    4. Member expansion by plain broadcast-able joins.

    ``bands`` is pinned to ``max_hamming + 1``: fewer bands lose the
    exactness guarantee, and more bands only shrink band width (each
    band becomes a weaker filter, inflating the candidate fan-out)
    with zero recall to gain -- recall is already 1.  Both directions
    are rejected rather than silently degraded.

    ``max_bucket`` bounds the band self-join the same way
    :func:`minhash_lsh_candidates` does (drops buckets larger than
    the cap before the join; pass ``drop_stats`` to count drops --
    capping breaks the exactness guarantee only for the dropped
    buckets, and is reported, never silent).

    Output: ``(id_a, id_b, hamming)`` with id_a < id_b, as a
    checkpoint (see :func:`lifecycle.checkpoint` for its
    fault-tolerance trade-off).

    Reference parity note: the reference library has no SimHash
    dedup; this operator extends the engine for web-scale
    training-data pipelines (SimHash is the classic crawl-dedup
    fingerprint, cf. Manku et al., WWW'07 -- the r+1-band pigeonhole
    trick is theirs).
    """
    # Persist the skinny (id, simhash) projection for the call: the
    # banded join below consumes it from many branches, and un-cached
    # each one re-runs the simhash kernel over the full text corpus
    # (measured TEN ArrowEvalPython evaluations in one plan).
    with lifecycle.scope() as s:
        sh = s.persisted(docs.select(
            F.col(id_col).alias('id'),
            simhash_col(F.col(text_col)).alias('sh')))
        return lifecycle.checkpoint(hamming_near_dup_pairs(
            sh, id_col='id', hash_col='sh', max_hamming=max_hamming,
            bands=bands, max_bucket=max_bucket, drop_stats=drop_stats))


def _hamming_pick_blocks(n_keys: int, k: int) -> int:
    """Smallest block count ``m`` (Manku et al., WWW'07) whose anchor
    keys keep expected bucket occupancy <= 256 at ``n_keys`` distinct
    hashes, with the table count C(m, k) capped at 64.

    Each of the C(m, k) tables keys on the m-k blocks OUTSIDE one
    k-subset, an anchor of ~64*(m-k)/m bits: raising m buys
    exponentially more buckets for a polynomial table-count price.
    m = k+1 (single-block anchors, ~64/(k+1) bits) is the classic
    minimum and stays the pick far longer than intuition suggests --
    the extra tables only pay once the single-block buckets are dense
    enough that the quadratic candidate self-join dominates.

    The occupancy-256 switch point is measured, not taste (BENCH.md,
    20M/60M-image A/B): a banded row riding the (band, bucket)
    shuffle costs ~50x what a join-output candidate row costs to
    evaluate (pure codegen bit_count + conjunction, no exchange), so
    at 60M keys / occupancy 29 forcing m=4 was a 224.6 s -> 354.3 s
    REGRESSION.  Stepping m->m+1 adds ~C(m+1,k)-C(m,k) shuffled rows
    per key and removes ~C(m,k)*occ/2 candidate rows per key; with
    the ~50x ratio the first step at k=2 breaks even around occ
    ~100-300.  256 sits in that band, and puts the k=2 switch at
    ~5x10^8 distinct hashes (m=4's 32-bit anchors then hold occupancy
    ~200 up to 10^12 keys -- the corpus size where the classic layout
    would need 7x10^5-deep buckets and ~10^18 candidate pairs).
    """
    from math import comb
    best = k + 1
    for m in range(k + 1, 65):
        if comb(m, k) > 64:
            break
        best = m
        base_w, extra = divmod(64, m)
        n_base = m - extra          # blocks of width base_w
        take = m - k                # anchor = m-k narrowest blocks
        min_anchor = (take * base_w if take <= n_base
                      else n_base * base_w + (take - n_base) * (base_w + 1))
        if n_keys <= 256 * (1 << min(min_anchor, 56)):
            return m
    return best


def hamming_near_dup_pairs(hashes: DataFrame, id_col: str = 'id',
                           hash_col: str = 'sh',
                           max_hamming: int = 3,
                           bands: int = None,
                           n_blocks: int = None,
                           max_bucket: int = None,
                           drop_stats: dict = None) -> DataFrame:
    """All id pairs whose 64-bit hash values differ in at most
    ``max_hamming`` bits -- the banded pigeonhole Hamming join
    :func:`simhash_near_dup_pairs` documents, factored over ANY int64
    fingerprint column.  The image-side use is perceptual-hash
    near-duplicate detection (`phash` in the images table): visually
    near-identical images produce phashes within a few bits, so the
    same exact-recall machinery dedups a 10^12-image corpus with one
    (int64, int64) shuffle.  Output ``(id_a, id_b, hamming)``,
    id_a < id_b.

    ``n_blocks`` is the Manku et al. (WWW'07) block count ``m``: the
    64 bits split into m contiguous blocks and each of the C(m, k)
    tables (k = ``max_hamming``) keys on the m-k blocks outside one
    k-subset.  Two hashes within Hamming k differ in at most k
    blocks, so at least one table's anchor matches -- recall is
    exactly 1 for every m >= k+1.  What m buys is bucket count: the
    m = k+1 minimum anchors a single ~64/(k+1)-bit block (2^21
    buckets at k=2), so candidate pairs grow as n^2 / 2^21 --
    quadratic once buckets are deep.  m = 4 at k = 2 widens anchors
    to 32 bits (2^32 buckets) for 6 tables instead of 3, flattening
    a 10^9+-key corpus back to ~linear.  Default (``n_blocks=None``
    with ``bands`` unset) picks m from the measured key count (one
    ``approx_count_distinct`` pass, occupancy <= 256 target -- the
    measured shuffle-vs-candidate break-even, see
    ``_hamming_pick_blocks``); the legacy ``bands`` parameter pins
    the single-block m = k+1 layout.
    """
    k = max_hamming
    if bands is not None:
        if bands != k + 1:
            raise ValueError(
                'bands must equal max_hamming + 1 (the exact-recall '
                'pigeonhole split); got bands=%r, max_hamming=%r'
                % (bands, k))
        if n_blocks is not None and n_blocks != bands:
            raise ValueError(
                'bands (legacy single-block layout) and n_blocks '
                'cannot disagree; got bands=%r, n_blocks=%r'
                % (bands, n_blocks))
        n_blocks = bands
    if not 0 <= k <= 63:
        raise ValueError('need 0 <= max_hamming <= 63')

    # NOTE for callers whose hash column is UDF-derived (simhash over
    # text): the plan below consumes the (id, hash) projection from
    # MULTIPLE branches (key-count probe, distinct-hash reps, member
    # attach, band explode) -- persist your skinny hash table FIRST
    # or the kernel re-runs per branch (measured TEN ArrowEvalPython
    # evaluations of the simhash kernel in one un-cached plan;
    # simhash_near_dup_pairs does this).  Native hash columns (phash)
    # should NOT be persisted: re-deriving them is codegen arithmetic,
    # cheaper than the 10M-row cache write (measured +25% wall).
    sh = hashes.select(F.col(id_col).alias('id'),
                       F.col(hash_col).cast('long').alias('sh'))
    if n_blocks is None:
        n_keys = sh.agg(
            F.approx_count_distinct('sh').alias('n')).first()['n']
        n_blocks = _hamming_pick_blocks(n_keys, k)
    from math import comb
    if not k + 1 <= n_blocks <= 64:
        raise ValueError('need max_hamming + 1 <= n_blocks <= 64; '
                         'got n_blocks=%r' % (n_blocks,))
    if comb(n_blocks, k) > 512:
        raise ValueError(
            'C(n_blocks, max_hamming) = %d tables is past the 512 '
            'explode cap; lower n_blocks'
            % comb(n_blocks, k))
    # Membership is only ever CONSUMED for duplicated hashes: a
    # singleton group's rep is the row itself, so the cross expansion
    # can default to the rep id (left join + coalesce) and the within
    # pairs of a size-1 group are empty.  Restricting `member` to
    # groups with >= 2 rows turns three corpus-sized joins (member
    # attach, within self-join, cross expansion) into joins against a
    # duplication-mass-bounded table -- ~empty for perceptual-hash
    # image corpora (distinct hashes), proportional to the duplicated
    # mass for crawl simhash corpora (where the old full-member join
    # cost the same; identical output either way, pinned by
    # test_simhash/test_multimodal oracle gates).
    reps = sh.groupBy('sh').agg(F.min('id').alias('rep_id'),
                                F.count(F.lit(1)).alias('_cnt'))
    member = sh.join(reps.filter(F.col('_cnt') >= 2)
                     .select('sh', 'rep_id'), 'sh') \
        .select('id', 'rep_id')

    # Contiguous block split: widths differ by at most 1 and cover
    # all 64 bits exactly once.
    from itertools import combinations
    base_w, extra = divmod(64, n_blocks)
    widths = [base_w + (1 if i < extra else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    def _mask(w: int) -> int:
        # int64 two's-complement wrap: a full-width (w=64) band's mask
        # is all ones = -1 (lit(2^64-1) would overflow LongType).
        m = (1 << w) - 1
        return m - (1 << 64) if m > 0x7FFFFFFFFFFFFFFF else m

    def _block(col, i: int):
        return (F.shiftrightunsigned(col, offsets[i])
                .bitwiseAND(F.lit(_mask(widths[i]))))

    # One table per (m-k)-subset of blocks; its key packs the
    # anchor blocks' bits into one long (anchor width <= 64, so the
    # packing is injective and key equality == all-blocks equality).
    anchors = [tuple(sorted(set(range(n_blocks)) - set(drop)))
               for drop in combinations(range(n_blocks), k)]
    anchors.sort()

    def _anchor_key(col, anchor):
        key = _block(col, anchor[0])
        for b in anchor[1:]:
            key = F.shiftleft(key, widths[b]).bitwiseOR(_block(col, b))
        return key

    table_keys = [_anchor_key(F.col('sh'), a) for a in anchors]
    banded = reps.select(
        F.col('rep_id').alias('id'), 'sh',
        F.posexplode(F.array(*table_keys)).alias('band', 'bucket'))
    if max_bucket is not None:
        w = Window.partitionBy('band', 'bucket')
        banded = banded.withColumn('_bsize', F.count('*').over(w))
        if drop_stats is not None:
            dropped = (banded.filter(F.col('_bsize') > max_bucket)
                       .agg(F.count('*').alias('rows'),
                            F.countDistinct('band', 'bucket')
                            .alias('buckets')).first())
            drop_stats['dropped_rows'] = dropped['rows']
            drop_stats['dropped_buckets'] = dropped['buckets']
        else:
            warnings.warn(
                f'hamming_near_dup_pairs: buckets over {max_bucket} '
                'rows are dropped from the candidate join (pass '
                'drop_stats to count them); exactness no longer holds '
                'for pairs that ONLY met in dropped buckets (pairs '
                'that also met in a kept bucket survive: the capped '
                'path dedups by distinct, not the least-table rule)',
                stacklevel=2)
        banded = banded.filter(F.col('_bsize') <= max_bucket) \
            .drop('_bsize')
    left = banded.alias('l')
    right = banded.alias('r')

    # Exactly-once emission without a distinct(): a pair whose hashes
    # agree on several tables' anchors meets in all those buckets;
    # only the LEAST matching table reports it.  "No earlier table
    # matched" is a pure codegen conjunction over the recomputed
    # anchor keys (injective packing makes key equality equal
    # all-blocks equality), so dedup costs zero exchanges (the old
    # distinct() shuffled the full pre-verify candidate set -- at 10M
    # hashes that was ~60M rows for ~600k survivors).
    cand = (
        left.join(right, ['band', 'bucket'])
        .filter(F.col('l.id') < F.col('r.id'))
        .select(F.col('l.id').alias('rep_a'), F.col('l.sh').alias('sh_a'),
                F.col('r.id').alias('rep_b'), F.col('r.sh').alias('sh_b'),
                'band')
        .withColumn('hamming', F.bit_count(
            F.col('sh_a').bitwiseXOR(F.col('sh_b'))))
        .filter(F.col('hamming') <= max_hamming))
    if max_bucket is None:
        first_band = [
            (F.col('band') <= t)
            | (_anchor_key(F.col('sh_a'), anchors[t])
               != _anchor_key(F.col('sh_b'), anchors[t]))
            for t in range(len(anchors) - 1)
        ]
        cond = F.lit(True)
        for c in first_band:
            cond = cond & c
        near_reps = cand.filter(cond).select('rep_a', 'rep_b', 'hamming')
    else:
        # Capped buckets break the least-matching-table invariant: a
        # pair whose minimal matching bucket was DROPPED still has
        # equal anchors there, so the zero-exchange conjunction would
        # kill its surviving rows from the kept buckets too --
        # silently losing pairs that met in buckets the cap retained.
        # Under a cap, dedup with distinct() instead (its shuffle is
        # bounded by the cap: <= sum over kept buckets of size^2).
        near_reps = cand.select('rep_a', 'rep_b', 'hamming').distinct()

    # Cross-group expansion: members inherit their reps' distance
    # (members share their rep's simhash exactly).  LEFT joins against
    # the dup-only member table: a rep with no member rows IS its
    # group (coalesce to the rep id), so singleton groups never ride
    # a join.
    ma = member.select(F.col('rep_id').alias('rep_a'),
                       F.col('id').alias('_ma'))
    mb = member.select(F.col('rep_id').alias('rep_b'),
                       F.col('id').alias('_mb'))
    _a = F.coalesce('_ma', F.col('rep_a'))
    _b = F.coalesce('_mb', F.col('rep_b'))
    cross = (near_reps.join(ma, 'rep_a', 'left')
             .join(mb, 'rep_b', 'left')
             .select(F.least(_a, _b).alias('id_a'),
                     F.greatest(_a, _b).alias('id_b'),
                     'hamming'))

    # Within-group pairs: identical simhash -> Hamming exactly 0.
    m1 = member.alias('m1')
    m2 = member.alias('m2')
    within = (m1.join(m2, 'rep_id')
              .filter(F.col('m1.id') < F.col('m2.id'))
              .select(F.col('m1.id').alias('id_a'),
                      F.col('m2.id').alias('id_b'),
                      F.lit(0).cast('int').alias('hamming')))
    return cross.withColumn('hamming',
                            F.col('hamming').cast('int')) \
        .unionByName(within)


# --- quality / language ID ---------------------------------------------

def _word_count(lowered, words) -> F.Column:
    """Count whole-token occurrences of any of ``words`` -- equivalent
    to filtering the [a-z0-9']+ token array by membership, but a single
    codegen-native regexp_count (lookarounds mark token boundaries)
    instead of an interpreted filter lambda per row."""
    alts = '|'.join(words)
    return F.regexp_count(
        lowered, F.lit(rf"(?<![a-z0-9'])({alts})(?![a-z0-9'])"))


def quality_score(df: DataFrame, text_col='text') -> DataFrame:
    """Heuristic quality features: length, alpha/punct/digit ratios,
    mean word length, stopword ratio.

    All whole-stage-codegen-native: token counts are regexp_count of
    the token-run pattern (identical semantics to splitting on
    non-token chars and filtering empties), token character mass is a
    regexp_replace + length -- no higher-order functions, which
    evaluate interpreted."""
    t = F.col(text_col)
    low = F.lower(t)
    n = F.length(t).cast('double')
    n_tok = F.regexp_count(low, F.lit(r"[a-z0-9']+"))
    token_chars = F.length(F.regexp_replace(low, r"[^a-z0-9']+", ''))
    stop = ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it',
            'that', 'for', 'on', 'with', 'as')
    return df.withColumns({
        'n_chars_calc': n.cast('long'),
        'n_tokens': n_tok,
        'alpha_ratio': (F.length(F.regexp_replace(t, r'[^A-Za-z]', ''))
                        / F.greatest(n, F.lit(1.0))),
        'digit_ratio': (F.length(F.regexp_replace(t, r'[^0-9]', ''))
                        / F.greatest(n, F.lit(1.0))),
        'punct_ratio': (F.length(F.regexp_replace(t, r'[^.,;:!?]', ''))
                        / F.greatest(n, F.lit(1.0))),
        'mean_token_len': (token_chars.cast('double')
                           / F.greatest(n_tok, F.lit(1))),
        'stopword_ratio': (_word_count(low, stop).cast('double')
                           / F.greatest(n_tok, F.lit(1))),
    })


# Tiny per-language marker lexicons for the n-gram language-ID
# heuristic (top function words; deterministic, no model).
_LANG_MARKERS = {
    'en': ('the', 'and', 'of', 'to', 'in', 'is', 'that', 'it', 'was'),
    'de': ('der', 'die', 'und', 'das', 'ist', 'nicht', 'ein', 'zu'),
    'fr': ('le', 'la', 'les', 'et', 'est', 'une', 'dans', 'que'),
    'es': ('el', 'la', 'los', 'las', 'es', 'una', 'que', 'para'),
}


def language_id(df: DataFrame, text_col='text') -> DataFrame:
    """Pick the language whose marker-word hit count is highest; ties
    break to the lexicographically larger code; ``und`` (undetermined)
    when nothing scores.  One codegen-native regexp_count per language
    (whole-token semantics via lookarounds), greatest-of-struct
    compare -- no interpreted higher-order functions."""
    low = F.lower(F.col(text_col))
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        scores.append(F.struct(
            _word_count(low, markers).alias('score'),
            F.lit(lang).alias('lang')))
    best = F.greatest(*scores)
    return df.withColumn(
        'lang_pred',
        F.when(best['score'] > 0, best['lang']).otherwise(F.lit('und')))


# --- fingerprint (spec'd, numpy-vectorized) -----------------------------
#
# Fingerprint spec (window hash; independently implementable in SQL):
#   norm    = trim(collapse-ws(lower(text))); its unicode CODEPOINTS
#             c[0..n-1]; if n < w, right-pad with spaces (32) to w.
#   For two Mersenne-31 channels (M = 2^31-1; K1 = 1299709,
#   K2 = 1000003):
#     W_c(i) = sum_{j=0..w-1} c[i+j] * K_c^j  mod M     (window hash,
#              shift-invariant: computed via prefix sums * K^-i)
#     F_c    = sum_{j=0..n-1} c[j] * K_c^j    mod M     (whole text)
#   content_hash    = F_1 * 2^31 + F_2            (< 2^62, int64)
#   min_window_hash = min over i of (W_1(i) * 2^31 + W_2(i))

_M31 = (1 << 31) - 1
_FP_K1 = 1299709
_FP_K2 = 1000003
_FP_KINV1 = pow(_FP_K1, _M31 - 2, _M31)
_FP_KINV2 = pow(_FP_K2, _M31 - 2, _M31)


_POW_CACHE: dict = {}


def _pow_mod(k: int, n: int) -> np.ndarray:
    """[k^0, k^1, ..., k^(n-1)] mod M31 (geometric doubling); grown
    geometrically and memoized per base so repeated batches never
    recompute."""
    p = _POW_CACHE.get(k)
    if p is None:
        p = np.ones(1, dtype=np.uint64)
    while len(p) < n:
        step = (int(p[-1]) * k) % _M31
        p = np.concatenate([p, (p * np.uint64(step)) % np.uint64(_M31)])
    _POW_CACHE[k] = p
    return p[:n]


# Cap on flattened codepoints per vectorized sub-batch: bounds the
# power-table / cumsum working set (~9 arrays x 8 B x chunk = ~290 MB
# peak) while amortizing all per-doc Python overhead across the chunk.
_FP_CHUNK_CHARS = 4_000_000


def _fp_norm(texts: pd.Series, window: int) -> pd.Series:
    """THE normalization of the rolling-hash family (fingerprint /
    ExactSubstr spans / ExactSubstr trim): Python lower, the pinned
    ASCII whitespace class collapsed to one space, ASCII-space strip,
    right-pad to ``window``.  One definition -- the span offsets and
    the trim splice MUST see byte-identical text (any engine split
    here shifts splice offsets; the whitespace class was pinned for
    exactly that reason, and lowercasing stays on the Python side for
    the same reason -- JVM/ICU lower() differs on locale-sensitive
    and length-changing mappings)."""
    return texts.fillna('').astype(str).str.lower() \
        .str.replace(r'[ \t\n\r\f\x0b]+', ' ', regex=True) \
        .str.strip(' ').str.pad(window, side='right', fillchar=' ')


def _fp_kernel(texts: pd.Series, window: int):
    """Batched across documents: all docs' codepoints of a chunk are
    flattened into ONE array; the window hash stays shift-invariant
    because W_doc(i) = diff(prefix) * K^-(i_glob) * K^(start_doc), so
    a per-doc scalar multiply re-bases the global exponents.  No
    per-character or per-document Python work remains beyond the
    string join (one C pass via ''.join + a single utf-32 encode)."""
    norm = _fp_norm(texts, window)
    lens_all = norm.str.len().to_numpy(dtype=np.int64)
    m = np.uint64(_M31)
    shift = np.uint64(31)
    content = np.empty(len(norm), dtype=np.int64)
    minwin = np.empty(len(norm), dtype=np.int64)
    # Split doc list into chunks of bounded total codepoints.
    bounds = [0]
    acc = 0
    for i, ln in enumerate(lens_all):
        acc += int(ln)
        if acc >= _FP_CHUNK_CHARS:
            bounds.append(i + 1)
            acc = 0
    if bounds[-1] != len(norm):
        bounds.append(len(norm))
    vals = norm.to_numpy(dtype=object)
    for b0, b1 in zip(bounds[:-1], bounds[1:]):
        lens = lens_all[b0:b1]
        joined = ''.join(vals[b0:b1])
        codes = np.frombuffer(joined.encode('utf-32-le'),
                              dtype=np.uint32).astype(np.uint64)
        total = len(codes)
        starts = np.concatenate([np.zeros(1, dtype=np.int64),
                                 lens.cumsum()])[:-1]
        n_win = lens - window + 1          # >= 1 (padded to window)

        # Two channels.  Window hashes are computed CONTIGUOUSLY over
        # the whole chunk (plain slices, no index gathers); K^-(i)
        # undoes the global exponent so a doc's hashes come out
        # identical to a doc-local computation.  Positions whose
        # window straddles a doc boundary are computed but discarded
        # by the interleaved reduceat below (window-1 wasted slots
        # per doc -- noise next to the O(total) modmuls).
        kp1 = _pow_mod(_FP_K1, total)
        ki1 = _pow_mod(_FP_KINV1, total)
        kp2 = _pow_mod(_FP_K2, total)
        ki2 = _pow_mod(_FP_KINV2, total)
        terms1 = (codes * kp1) % m
        s1 = np.concatenate([np.zeros(1, dtype=np.uint64),
                             terms1.cumsum(dtype=np.uint64)])
        terms2 = (codes * kp2) % m
        s2 = np.concatenate([np.zeros(1, dtype=np.uint64),
                             terms2.cumsum(dtype=np.uint64)])
        f1 = ((s1[starts + lens] - s1[starts]) % m) * ki1[starts] % m
        f2 = ((s2[starts + lens] - s2[starts]) % m) * ki2[starts] % m
        nw_all = total - window + 1
        d1 = (s1[window:] - s1[:-window]) % m
        d2 = (s2[window:] - s2[:-window]) % m
        w1 = (d1 * ki1[:nw_all]) % m
        w2 = (d2 * ki2[:nw_all]) % m
        combined = (w1 << shift) + w2
        # Interleaved segment boundaries [doc0 windows][gap][doc1
        # windows][gap]... ; every even segment is one doc's valid
        # window range, odd segments (straddling windows) are dropped.
        ndocs = b1 - b0
        bnd = np.empty(2 * ndocs - 1, dtype=np.int64)
        bnd[0::2] = starts
        bnd[1::2] = (starts + n_win)[:-1]
        content[b0:b1] = ((f1 << shift) + f2).astype(np.int64)
        minwin[b0:b1] = np.minimum.reduceat(
            combined, bnd)[0::2].astype(np.int64)
    return content, minwin


@lru_cache(maxsize=64)
def _fp_udf(window: int):
    @F.pandas_udf('content_hash long, min_window_hash long')
    def udf(texts: pd.Series) -> pd.DataFrame:
        content, minwin = _fp_kernel(texts, window)
        return pd.DataFrame({'content_hash': content,
                             'min_window_hash': minwin})
    return udf


def fingerprint(df: DataFrame, text_col='text', window: int = 64,
                id_col='doc_id') -> DataFrame:
    """Rolling-hash document fingerprint (spec above): a dual-channel
    Mersenne-31 polynomial hash over every ``window``-char slice of the
    normalized text; keep the min (winnowing-style one-hash summary)
    plus the whole-text hash.

    Vectorized numpy prefix-sum kernel, one Arrow batch -- O(n) per
    doc.  (The previous ``transform(sequence, xxhash64(substr))``
    formulation allocated one substring + hash per character,
    interpreted -- the measured-100x-slow HOF pathology.)
    """
    fp = _fp_udf(window)(F.col(text_col))
    return df.select(
        id_col,
        fp['content_hash'].alias('content_hash'),
        fp['min_window_hash'].alias('min_window_hash'))


# --- exact-substring dedup spans (ExactSubstr, Lee et al. 2022) ----------
#
# "Deduplicating Training Data Makes Language Models Better" removes
# every substring of length >= L that occurs more than once in the
# corpus.  The reference implementation builds a corpus-wide suffix
# array -- a single-machine data structure.  The Spark-native
# re-expression: a window of length L is *duplicated* iff its
# rolling hash occurs at >= 2 distinct (doc, pos) positions
# corpus-wide (within-doc repeats count).  Per doc, duplicated
# window positions merge into maximal spans (windows at positions
# p, q merge iff q - p <= L, i.e. they overlap or touch).
#
# Hash spec = the fingerprint spec above (dual Mersenne-31
# polynomial over the normalized, right-padded text; combined =
# (h1 << 31) + h2), so the DuckDB oracle derives the exact same
# 62-bit keys in pure SQL and the gate is bit-for-bit.
#
# Scale shape (100 TB):
#   pass 1: the flat (hash) window stream feeds one groupBy(h)
#           count -- map-side combine collapses every repeat within a
#           partition (at least as strong as per-doc dedup), so the
#           exchange moves <= one (int64, int64) row per
#           partition-distinct hash; the duplicated-hash set D
#           (count >= 2) comes out of that single partial-agg pass.
#   pass 2: window hashes recomputed in the scan stage (map pass,
#           zero exchange) and LEFT SEMI joined against D.  D is an
#           agg output with runtime stats, so AQE broadcasts it when
#           it fits and the window stream never leaves the scan
#           stage; when D is huge the fallback is a shuffle of
#           skinny (id, pos, hash) rows -- no raw text ever moves.
#   islands: only *duplicated* positions reach the per-doc window
#           (lag/sum over (doc_id, pos)); output is one row per
#           merged span.  Shuffle is bounded by the corpus's
#           duplication mass, not its size.
#   The window stream is emitted by ``mapInPandas`` as FLAT numpy
#   columns (np.repeat'd ids + concatenated hash arrays): the
#   pandas_udf array-column form costs one PyObject per window
#   (.tolist()) -- measured ~3x this operator's whole runtime at
#   10^8 windows.


def _window_hash_list(texts: pd.Series, window: int) -> list:
    """All ``window``-char rolling hashes per doc, in position order
    (one int64 numpy array per doc).  Same normalization, padding,
    chunking, and prefix-sum arithmetic as :func:`_fp_kernel` -- the
    two must stay bit-identical (shared constants, shared oracle CTE
    shape)."""
    norm = _fp_norm(texts, window)
    lens_all = norm.str.len().to_numpy(dtype=np.int64)
    m = np.uint64(_M31)
    shift = np.uint64(31)
    out = [None] * len(norm)
    bounds = [0]
    acc = 0
    for i, ln in enumerate(lens_all):
        acc += int(ln)
        if acc >= _FP_CHUNK_CHARS:
            bounds.append(i + 1)
            acc = 0
    if bounds[-1] != len(norm):
        bounds.append(len(norm))
    vals = norm.to_numpy(dtype=object)
    for b0, b1 in zip(bounds[:-1], bounds[1:]):
        lens = lens_all[b0:b1]
        joined = ''.join(vals[b0:b1])
        codes = np.frombuffer(joined.encode('utf-32-le'),
                              dtype=np.uint32).astype(np.uint64)
        total = len(codes)
        starts = np.concatenate([np.zeros(1, dtype=np.int64),
                                 lens.cumsum()])[:-1]
        n_win = lens - window + 1          # >= 1 (padded to window)
        ki1 = _pow_mod(_FP_KINV1, total)
        ki2 = _pow_mod(_FP_KINV2, total)
        kp1 = _pow_mod(_FP_K1, total)
        kp2 = _pow_mod(_FP_K2, total)
        terms1 = (codes * kp1) % m
        s1 = np.concatenate([np.zeros(1, dtype=np.uint64),
                             terms1.cumsum(dtype=np.uint64)])
        terms2 = (codes * kp2) % m
        s2 = np.concatenate([np.zeros(1, dtype=np.uint64),
                             terms2.cumsum(dtype=np.uint64)])
        nw_all = total - window + 1
        w1 = (((s1[window:] - s1[:-window]) % m) * ki1[:nw_all]) % m
        w2 = (((s2[window:] - s2[:-window]) % m) * ki2[:nw_all]) % m
        combined = ((w1 << shift) + w2).astype(np.int64)
        for d in range(b1 - b0):
            st = int(starts[d])
            out[b0 + d] = combined[st:st + int(n_win[d])]
    return out


def _substr_window_stream(df: DataFrame, text_col: str, id_col: str,
                          window: int) -> DataFrame:
    """The flat window stream ``(id, pos, h)``: one row per
    ``window``-char position per doc, emitted as whole numpy columns
    (np.repeat'd ids, int32 position ramps, concatenated hash
    arrays) -- no per-window Python object is ever built."""
    def gen(batches):
        for pdf in batches:
            hl = _window_hash_list(pdf[text_col], window)
            n_win = np.fromiter((len(a) for a in hl), dtype=np.int64,
                                count=len(hl))
            ids = np.repeat(pdf[id_col].to_numpy(), n_win)
            pos = np.concatenate(
                [np.arange(k, dtype=np.int32) for k in n_win]) \
                if len(hl) else np.empty(0, dtype=np.int32)
            h = np.concatenate(hl) if len(hl) \
                else np.empty(0, dtype=np.int64)
            yield pd.DataFrame({id_col: ids, 'pos': pos, 'h': h})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f'{id_col} {id_type}, pos int, h long')


def exact_substr_spans(df: DataFrame, text_col='text', id_col='doc_id',
                       window: int = 40) -> DataFrame:
    """Merged per-doc spans of corpus-duplicated ``window``-char
    substrings (spec above).  Offsets index the NORMALIZED text
    (lowercased, ASCII-class [ \\t\\n\\r\\f\\x0b] whitespace-collapsed
    -- see :func:`normalized_text` for why the class is pinned --
    right-padded to ``window``),
    half-open ``[span_begin, span_end)``, 0-based.

    Returns ``(doc_id, span_begin, span_end, dup_len)``.
    """
    wins = _substr_window_stream(df, text_col, id_col, window)
    dups = (wins.groupBy('h').agg(F.count(F.lit(1)).alias('n'))
            .filter(F.col('n') >= 2).select('h'))
    hit = wins.join(dups, 'h', 'left_semi')
    w = Window.partitionBy(id_col).orderBy('pos')
    brk = F.when(F.col('pos') - F.lag('pos').over(w) > window, 1) \
        .otherwise(0)
    spans = (hit.withColumn('_g', F.sum(brk).over(w))
             .groupBy(id_col, '_g')
             .agg(F.min('pos').alias('span_begin'),
                  (F.max('pos') + window).alias('span_end')))
    return spans.select(
        F.col(id_col),
        F.col('span_begin').cast('long'),
        F.col('span_end').cast('long'),
        (F.col('span_end') - F.col('span_begin')).cast('long')
        .alias('dup_len'))


def exact_substr_trim(df: DataFrame, text_col='text', id_col='doc_id',
                      window: int = 40) -> DataFrame:
    """ExactSubstr dedup, removal half (Lee et al. 2022): delete every
    character position covered by a corpus-duplicated merged span
    (:func:`exact_substr_spans`) from the NORMALIZED text; the
    surviving segments concatenate in order.  This is the published
    tool's behavior — every occurrence of a duplicated window is cut,
    including the first — which keeps the rule local (a doc's output
    depends only on its own span set, so the rewrite is one pass).

    Returns ``(id, text_kept, n_spans, chars_removed)``; docs with no
    duplicated spans keep their full normalized text with counts 0.

    Shape at scale: spans are duplication-mass-bounded, so the
    per-doc span-list aggregate is skinny; AQE broadcasts it when it
    fits and the corpus side never shuffles.  When duplication mass
    is itself huge the join degrades to one co-partitioned exchange
    on the id — the floor for any corpus rewrite.  The normalized
    base text comes from the SAME pandas kernel the spans were
    offset against (:func:`_fp_norm` via one ``mapInPandas`` pass);
    the splice itself is a native ``aggregate`` HOF over the sorted
    span array (substring + concat, JVM-side).
    """
    spans = exact_substr_spans(df, text_col, id_col, window)
    per_doc = (spans.groupBy(id_col)
               .agg(F.sort_array(F.collect_list(
                        F.struct('span_begin', 'span_end'))).alias('_sp'),
                    F.count(F.lit(1)).alias('n_spans'),
                    F.sum('dup_len').alias('chars_removed')))

    # The spliced text comes from the SAME pandas kernel that
    # produced the span offsets (_fp_norm): a JVM re-derivation of
    # the normalization risks engine-split divergence (Python vs
    # JVM/ICU lower(), regex class details) silently shifting the
    # splice offsets -- the same hazard class the whitespace pinning
    # closed.
    def norm_gen(batches):
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                '_t': _fp_norm(pdf[text_col], window)})

    id_type = dict(df.dtypes)[id_col]
    base = df.select(id_col, text_col).mapInPandas(
        norm_gen, schema=f'{id_col} {id_type}, _t string')
    joined = base.join(per_doc, id_col, 'left')
    # Splice: fold over the (disjoint, sorted) spans carrying
    # (chars consumed so far, kept prefix); finish appends the tail.
    kept = F.aggregate(
        '_sp',
        F.struct(F.lit(0).cast('long').alias('prev'),
                 F.lit('').alias('acc')),
        lambda a, s: F.struct(
            s['span_end'].alias('prev'),
            F.concat(a['acc'],
                     F.substring(F.col('_t'), a['prev'] + 1,
                                 s['span_begin'] - a['prev']))
            .alias('acc')),
        lambda a: F.concat(
            a['acc'],
            F.substring(F.col('_t'), a['prev'] + 1,
                        F.length('_t') - a['prev'])))
    return joined.select(
        F.col(id_col),
        F.when(F.col('_sp').isNull(), F.col('_t'))
        .otherwise(kept).alias('text_kept'),
        F.coalesce('n_spans', F.lit(0)).cast('long').alias('n_spans'),
        F.coalesce('chars_removed', F.lit(0)).cast('long')
        .alias('chars_removed'))


# --- repetition metrics (Gopher-style quality signals) -------------------
#
# Repetition spec (independently implementable in SQL; the DuckDB
# oracle re-implements it verbatim):
#   lines   = split(text, '\n') with empty lines removed.
#   dup_line_frac      = (n_lines - n_distinct_lines) / n_lines
#   dup_line_char_frac = sum over distinct lines of (cnt-1)*len(line)
#                        / sum of cnt*len(line)
#   tokens  = lower(text) split on runs of [^a-z0-9']+ (edges trimmed);
#   2-grams = consecutive token pairs joined by one space.
#   top_2gram_char_frac = cnt(most frequent 2-gram; ties -> lexico-
#                         graphically smallest) * len(that 2-gram)
#                         / length(text)
#   All three are 0.0 (not null) for empty/degenerate docs.


def repetition_metrics(df: DataFrame, text_col='text',
                       id_col='doc_id') -> DataFrame:
    """Repetition-based quality signals in the style of the Gopher
    data-quality rules (Rae et al. 2021): how much of a document is
    duplicated lines, and how much is one repeated word pair.  High
    values mark boilerplate, templated spam, and scraper loops --
    standard pre-training filter inputs.

    Shape at scale: two explode -> groupBy aggregations (lines and
    2-grams), each shuffling ``(doc_id, unit)`` pairs -- partial
    aggregation (map-side combine) collapses within-partition repeats
    before the shuffle, which is exactly the skewed case (a document
    of one repeated line ships ~1 row).  The 2-gram array is built
    with native ``slice``/``arrays_zip`` (no interpreted lambda); the
    winner per doc is one ``min(struct(-cnt, gram))`` partial agg.
    Returns (id, dup_line_frac, dup_line_char_frac,
    top_2gram_char_frac).
    """
    t = F.coalesce(F.col(text_col), F.lit(''))
    base = df.select(F.col(id_col), t.alias('_t'),
                     F.length(t).alias('_nc'))

    # Line-duplication channel.
    lines = (base.select(id_col, F.explode(F.split('_t', '\n'))
                         .alias('line'))
             .filter(F.length('line') > 0))
    per_line = lines.groupBy(id_col, 'line').agg(
        F.count(F.lit(1)).alias('cnt'),
        F.length('line').alias('len'))
    line_agg = per_line.groupBy(id_col).agg(
        ((F.sum('cnt') - F.count(F.lit(1))) / F.sum('cnt'))
        .alias('dup_line_frac'),
        (F.sum((F.col('cnt') - 1) * F.col('len'))
         / F.sum(F.col('cnt') * F.col('len')))
        .alias('dup_line_char_frac'))

    # Top-2-gram channel: tokens via edge-trim + split (codegen
    # native; Java split collapses a +-quantified delimiter run into
    # one boundary, so no empty tokens can appear mid-array).
    low = F.lower(F.col('_t'))
    cleaned = F.regexp_replace(low, r"^[^a-z0-9']+|[^a-z0-9']+$", '')
    toks = F.split(cleaned, r"[^a-z0-9']+")
    grams = (base
             .withColumn('_toks', toks)
             .withColumn('_n', F.size('_toks'))
             .filter((F.col('_n') >= 2) & (F.length(F.element_at('_toks', 1)) > 0))
             .select(id_col, '_nc', F.explode(F.arrays_zip(
                 F.slice('_toks', 1, F.col('_n') - 1).alias('a'),
                 F.slice('_toks', 2, F.col('_n') - 1).alias('b')))
                 .alias('p'))
             .select(id_col, '_nc',
                     F.concat_ws(' ', F.col('p.a'), F.col('p.b'))
                     .alias('gram')))
    per_gram = grams.groupBy(id_col, '_nc', 'gram').agg(
        F.count(F.lit(1)).alias('cnt'))
    top = (per_gram.groupBy(id_col).agg(
        F.min(F.struct((-F.col('cnt')).alias('negcnt'),
                       F.col('gram').alias('gram'),
                       F.col('_nc').alias('nc'))).alias('w'))
        .select(id_col,
                ((-F.col('w.negcnt')) * F.length('w.gram')
                 / F.greatest(F.col('w.nc'), F.lit(1)).cast('double'))
                .alias('top_2gram_char_frac')))

    out = (base.select(id_col)
           .join(line_agg, id_col, 'left')
           .join(top, id_col, 'left'))
    return out.select(
        id_col,
        F.coalesce('dup_line_frac', F.lit(0.0)).alias('dup_line_frac'),
        F.coalesce('dup_line_char_frac', F.lit(0.0))
        .alias('dup_line_char_frac'),
        F.coalesce('top_2gram_char_frac', F.lit(0.0))
        .alias('top_2gram_char_frac'))


def bigram_lm_score(docs: DataFrame, text_col='text', id_col='doc_id',
                    k: float = 0.5, decimals: int = 4) -> DataFrame:
    """Corpus-trained bigram language-model score per document: the
    mean log2 add-k-smoothed conditional probability of each token
    given its predecessor,

        score(d) = avg over bigrams (w1,w2) of
                   log2((C(w1,w2) + k) / (C(w1,.) + k*V)),

    with C(*) counted over the WHOLE corpus and V = distinct token
    count -- the classic KenLM-style fluency/quality filter signal
    (low score = token sequences the corpus itself finds improbable:
    gibberish, boilerplate soup, wrong-language text).  Documents
    with fewer than two tokens score null.

    Shape at scale: the text tokenizes once into a (doc, w1, w2)
    bigram stream (codegen ``slice``/``arrays_zip``, no lambda); the
    two count tables are partial-agg groupBys over bigram/unigram
    keys (map-side combine collapses repeated grams before the
    shuffle); scoring re-joins the stream to the count tables on the
    gram key -- AQE broadcasts them when they fit and absorbs
    stopword-key skew otherwise; V rides a one-row broadcast
    crossJoin.  The per-doc mean is one more partial agg.  At 100 TB
    persist the bigram stream (it is consumed three times) or
    pre-aggregate (doc_id, w1, w2, n) first; counts tables are
    vocabulary-bounded, never corpus-bounded.  Rounded to
    ``decimals`` so the float log2/avg is oracle-comparable.
    """
    t = F.coalesce(F.col(text_col), F.lit(''))
    toks = docs.select(
        F.col(id_col).alias('doc_id'),
        F.regexp_extract_all(F.lower(t), F.lit(r"[a-z0-9']+"), 0)
        .alias('_t'))
    big = (toks.withColumn('_n', F.size('_t'))
           .filter(F.col('_n') >= 2)
           .select('doc_id', F.explode(F.arrays_zip(
               F.slice('_t', 1, F.col('_n') - 1).alias('w1'),
               F.slice('_t', 2, F.col('_n') - 1).alias('w2')))
               .alias('p'))
           .select('doc_id', 'p.w1', 'p.w2'))
    c12 = big.groupBy('w1', 'w2').agg(F.count(F.lit(1)).alias('n12'))
    c1 = big.groupBy('w1').agg(F.count(F.lit(1)).alias('n1'))
    v = toks.select(F.explode('_t').alias('tok')) \
        .agg(F.countDistinct('tok').alias('vocab'))
    scored = (big.join(c12, ['w1', 'w2']).join(c1, 'w1')
              .crossJoin(F.broadcast(v))
              .groupBy('doc_id')
              .agg(F.round(F.avg(F.log2(
                  (F.col('n12') + F.lit(k))
                  / (F.col('n1') + F.lit(k) * F.col('vocab')))),
                  decimals).alias('lm_score')))
    return (docs.select(F.col(id_col).alias('doc_id'))
            .join(scored, 'doc_id', 'left'))


# --- connected components over near-dup pair graphs ----------------------

def _cc_local(edges: DataFrame, stats: dict = None) -> DataFrame:
    """Driver-side closure for a SMALL edge set (raw directed pairs;
    symmetrized and deduped in numpy below): collect the
    skinny (src, dst) rows and resolve min-id components with a
    vectorized numpy hook-and-contract loop (edge contraction + sorted
    segment-min hooking + pointer jumping: O(log diameter) rounds of
    O(E log E) vector work over a geometrically shrinking edge set).
    Semantics are identical to the distributed loop: component_id =
    smallest vertex id reachable (ids compare in their column type's
    order; ``np.unique`` sorts, so index order == value order).

    Only called under the ``local_max_edges`` gate (see
    ``connected_components``): the collect is bounded the same way
    broadcast joins are bounded by ``BROADCAST_MAX_ROWS`` -- a few
    million 16-byte rows, far below driver memory, in exchange for
    skipping ~7 pointer-jumping rounds x per-round job overhead
    (the fixed floor that dominated dbscan_200k / multimodal_keep_one
    / semdedup bench walls; the data work itself is tiny there).
    """
    spark = edges.sparkSession
    id_type = edges.schema['src'].dataType
    pdf = edges.toPandas()
    out_schema = T.StructType([T.StructField('doc_id', id_type),
                               T.StructField('component_id', id_type)])
    if len(pdf) == 0:
        if stats is not None:
            stats['iterations'] = 0
            stats['mode'] = 'local'
        return spark.createDataFrame([], out_schema)
    both = np.concatenate([pdf['src'].to_numpy(), pdf['dst'].to_numpy()])
    ids, inv = np.unique(both, return_inverse=True)
    m = len(pdf)
    # Symmetrize in numpy (two cheap concatenates) -- the caller hands
    # RAW directed pairs, so the Spark-side explode + distinct + 2x
    # checkpoint bytes the old flow paid per closure are gone.
    # Duplicate edges are harmless to the segment-min hook.
    src = np.concatenate([inv[:m], inv[m:]])
    dst = np.concatenate([inv[m:], inv[:m]])
    label = np.arange(len(ids), dtype=np.int64)
    rounds = 0
    # Hook-and-contract rounds (the numpy mirror of the distributed
    # loop's contraction): relabel the edge list through the current
    # labels, drop intra-supernode edges, hook each supernode to the
    # min neighboring label (sorted segments + minimum.reduceat --
    # contiguous reduction, far faster than an unbuffered
    # np.minimum.at scatter), then pointer-jump to the fixpoint.
    # Contraction is what bounds this at O(log diameter) rounds: the
    # previous flood-only loop needed one round per graph hop once
    # vertex ids were uncorrelated with geometry (measured 683 rounds
    # / 3.4 s on a 200k-vertex permuted mesh vs 8 rounds / 0.27 s
    # here; the dbscan_200k core graph: 37 rounds -> 8).
    while True:
        rounds += 1
        s = label[src]
        d = label[dst]
        keep = s != d
        if not keep.any():
            break
        s, d = s[keep], d[keep]
        order = np.argsort(d, kind='stable')
        ds, ss = d[order], s[order]
        starts = np.flatnonzero(np.r_[True, ds[1:] != ds[:-1]])
        mins = np.minimum.reduceat(ss, starts)
        targets = ds[starts]
        label[targets] = np.minimum(label[targets], mins)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        src, dst = s, d
    if stats is not None:
        stats['iterations'] = rounds
        stats['mode'] = 'local'
    out = pd.DataFrame({'doc_id': ids, 'component_id': ids[label]})
    return spark.createDataFrame(out, out_schema)


def connected_components(pairs: DataFrame, id_a='id_a', id_b='id_b',
                         max_iters: int = 50,
                         stats: dict = None,
                         local_max_edges: int = 2_000_000) -> DataFrame:
    """Resolve a pairwise near-duplicate graph into dedup clusters:
    (doc_id, component_id) where component_id = the smallest doc id
    reachable through any chain of pairs.  This is the step that turns
    `near_duplicate_pairs` / `simhash_near_dup_pairs` /
    `embedding_near_dup_pairs` output into a keep-one policy
    (keep doc_id == component_id, drop the rest) that is CLOSED under
    transitivity -- pairwise keep-one alone can drop both endpoints of
    an unseen A-C pair when A-B and B-C were found.

    Algorithm: min-label propagation + pointer jumping + edge
    CONTRACTION -- per iteration every vertex takes the min of (its
    label, its neighbors' labels), labels compress one hop
    (``comp = comp[comp]``), and the edge set is rewritten through
    the new labels with intra-supernode edges dropped.  Contraction
    is what makes the bound O(log diameter) on EVERY graph shape:
    without it the min floods one graph hop per round (jumping only
    compresses the already-labeled tree, never the frontier), which
    is O(diameter) -- measured 35+ rounds on a 200k-point DBSCAN core
    graph vs 7 with contraction.  Near-dup clique graphs converge in
    2-4 rounds either way; the loop stops at the measured fixpoint
    and raises past ``max_iters``.

    Scale shape: each iteration is a handful of skinny shuffles
    (edge join + min agg + contraction distinct) over (long, long)
    rows, and the contracted edge set SHRINKS geometrically, so late
    rounds are near-free.  The label/edge generations are cut over
    with :func:`lifecycle.checkpoint`, not ``persist``: an iterative
    DataFrame loop that only persists keeps NESTING the logical plan,
    and Catalyst re-analysis goes super-linear after ~10 rounds
    (measured: a 50k-edge chain graph burned minutes of pure
    driver/analyzer CPU before the fix, seconds after).  Each
    superseded generation is freed as soon as the next one exists,
    and every generation is freed if the loop raises.  The distributed
    path's output is a checkpoint (see :func:`lifecycle.checkpoint`
    for its fault-tolerance trade-off).  Deterministic: min()
    everywhere, no tie-breaks needed.

    ``stats``: optional dict; on return ``stats['iterations']`` holds
    the number of propagation rounds run to reach the fixpoint
    (``scripts/cc_scale_probe.py`` reports it) and ``stats['mode']``
    is ``'local'`` or ``'distributed'``.

    ``local_max_edges``: when the graph has at most this many
    UNDIRECTED pairs (the materialized symmetric edge set is twice
    that), the closure runs driver-side (``_cc_local``) -- identical
    min-id semantics, none of the per-round job overhead that
    otherwise floors small graphs at ~7 rounds x scheduler latency.
    0 forces the distributed path.  The default gate is sized for
    int64 ids (~16 B/row, ~32 MB at 2M): STRING vertex ids are
    supported but each row then carries both strings, so scale the
    gate down by your mean id width (e.g. ~64-byte ids -> ~8x the
    footprint at the same gate) or pass 0 to stay distributed.
    """
    # Materialize the RAW directed pairs once (checkpoint, not
    # persist: the contraction loop below replaces edge generations
    # and every generation must be plan-truncated + stats-stripped
    # the same way).  The pair-derivation subtree (possibly
    # expensive: grouped BLAS kernels, LSH joins) runs exactly once;
    # the gate count and the local collect both read the checkpoint.
    # Null endpoints take no edges (absence of evidence, the caption-
    # edge convention): a null id cannot name a document, and letting
    # it through would emit a junk (null, null) label row from the
    # distributed loop and break the driver closure's int64 columns
    # (pandas coerces a nullable long to float64 NaN).
    raw = (pairs.filter(F.col(id_a).isNotNull()
                        & F.col(id_b).isNotNull())
           .select(F.col(id_a).alias('src'), F.col(id_b).alias('dst')))
    with lifecycle.scope() as s:
        raw_ck = s.checkpointed(raw)
        n_raw = raw_ck.count()
        # Size-gated driver closure: when the (materialized, skinny) edge
        # set is small, the distributed loop's wall is ~100% fixed
        # per-round JOB overhead, not data -- collect the (long, long)
        # rows and close locally instead (same min-id semantics, pinned
        # by tests/test_cc_checkpoint.py equivalence).  The gate counts
        # raw pair rows (>= distinct undirected pairs, so the bound is
        # conservative); at the 2M default the collect is ~32 MB of
        # int64 columns -- the BROADCAST_MAX_ROWS convention.  The local
        # path symmetrizes and dedups in numpy, skipping the Spark-side
        # explode + distinct shuffle the distributed loop needs.
        # local_max_edges=0 forces the distributed path, including for an
        # empty graph -- a forced caller must always see
        # mode='distributed'.
        if local_max_edges and n_raw <= local_max_edges:
            return _cc_local(raw_ck, stats=stats)
        sym = raw_ck.select(F.explode(F.array(
            F.struct(F.col('src'), F.col('dst')),
            F.struct(F.col('dst').alias('src'),
                     F.col('src').alias('dst')))).alias('_e')) \
            .select('_e.src', '_e.dst')
        edges = s.checkpointed(sym.distinct())
        s.free(raw_ck)
        n_edges = edges.count()
        if stats is not None:
            stats['mode'] = 'distributed'
        labels = s.checkpointed(
            edges.select(F.col('src').alias('id')).distinct()
            .withColumn('comp', F.col('id')))
        for it in range(max_iters):
            # neighbor-min: every vertex offers its component to its
            # neighbors; take the min of self and offers.
            offers = (edges.join(labels.withColumnRenamed('id', 'src'),
                                 'src')
                      .groupBy(F.col('dst').alias('id'))
                      .agg(F.min('comp').alias('nbr')))
            stepped = (labels.join(offers, 'id', 'left')
                       .select('id', F.least('comp', 'nbr').alias('comp')))
            # pointer jumping: comp <- comp's comp (labels are vertex ids,
            # so the lookup is a self-join on the label table).
            jumped = (stepped.alias('s')
                      .join(stepped.select(F.col('id').alias('comp'),
                                           F.col('comp').alias('comp2'))
                            .alias('t'), 'comp', 'left')
                      .select(F.col('id'),
                              F.least('comp', 'comp2').alias('comp')))
            # the checkpoint truncates the plan and strips the inherited
            # stats estimate (see lifecycle.checkpoint: the self-join
            # estimate would otherwise compound doubly-exponentially
            # across generations)
            new_labels = s.checkpointed(jumped)
            old_labels, labels = labels, new_labels
            # Edge CONTRACTION: rewrite the (shrinking) edge set through
            # the new labels and drop intra-supernode edges.  Without it
            # the min floods ONE graph hop per round (pointer jumping only
            # compresses already-labeled trees, it cannot help the
            # frontier), so high-diameter geometric graphs -- DBSCAN core
            # graphs, meshes -- cost O(diameter) rounds (measured: the
            # 200k-point bench corpus needed 35+).  Contracted, a labeled
            # region is ONE supernode, the flood moves a supernode hop per
            # round, regions double in radius -> O(log diameter) rounds
            # (same corpus: 7), and the per-round shuffle shrinks with the
            # edge set instead of staying full-size.
            if n_edges > 0:
                new_edges = s.checkpointed(
                    edges
                    .join(labels.select(F.col('id').alias('src'),
                                        F.col('comp').alias('_cs')), 'src')
                    .join(labels.select(F.col('id').alias('dst'),
                                        F.col('comp').alias('_cd')), 'dst')
                    .filter(F.col('_cs') != F.col('_cd'))
                    .select(F.col('_cs').alias('src'),
                            F.col('_cd').alias('dst'))
                    .distinct())
                s.free(edges)
                s.free(old_labels)
                edges = new_edges
                # While contracted edges remain, the loop is PROVABLY not
                # converged (a cross-supernode edge either reduces a label
                # next round or is dropped by the next contraction), so
                # the convergence probe is a cheap count over the freshly
                # materialized skinny edge set -- not a label-table join.
                n_edges = edges.count()
                continue
            # Edges are gone: only pointer-jump settling remains (members
            # catching up to their representative's final label, 1-2
            # rounds).  Now probe label stability directly.
            changed = (labels.alias('n')
                       .join(old_labels.alias('o'), 'id')
                       .filter(F.col('n.comp') != F.col('o.comp'))
                       .count())
            s.free(old_labels)
            if changed == 0:
                if stats is not None:
                    stats['iterations'] = it + 1
                return s.keep(labels).select(
                    F.col('id').alias('doc_id'),
                    F.col('comp').alias('component_id'))
        raise RuntimeError(
            f'connected_components did not converge in {max_iters} '
            f'iterations -- graph diameter beyond 2^{max_iters}?')


def keep_one(docs: DataFrame, pairs: DataFrame, id_col: str = 'doc_id',
             id_a: str = 'id_a', id_b: str = 'id_b') -> DataFrame:
    """The end-to-end dedup POLICY: given a corpus and its near-dup
    pair graph, label every document with its transitive component
    and a ``kept`` flag (true iff the doc is its component's min-id
    representative).  ``docs.filter('kept')`` is then the deduped
    corpus, closed under transitivity -- see connected_components for
    why pairwise keep-one alone is not.

    Docs touching no pair are their own singleton component (kept).
    Output: ``docs``'s columns + ``component_id`` + ``kept``.

    Scale shape: the component table is bounded by the number of
    docs that appear in ANY pair (usually a small fraction of the
    corpus), so the final attach join keeps the full corpus streaming
    against a much smaller label table; the corpus is never collected
    or exploded.
    """
    comp = connected_components(pairs, id_a=id_a, id_b=id_b) \
        .withColumnRenamed('doc_id', id_col)
    return (docs.join(comp, id_col, 'left')
            .withColumn('component_id',
                        F.coalesce('component_id', F.col(id_col)))
            .withColumn('kept',
                        F.col('component_id') == F.col(id_col)))


def decontaminate(docs: DataFrame, bench: DataFrame, n: int = 8,
                  text_col: str = 'text', id_col: str = 'doc_id',
                  bench_text_col: str = 'text') -> DataFrame:
    """Benchmark decontamination: flag every corpus document sharing
    at least one ``n``-token n-gram with the held-out benchmark set
    (the standard train/test-overlap filter run before training --
    same n-gram-overlap rule GPT-3/PaLM/Llama report, n=8..13).

    Returns ``(id_col, n_hits, contaminated)`` -- one row per input
    doc; ``n_hits`` = how many DISTINCT benchmark n-grams the doc
    contains (0 for clean docs).

    Scale shape: both sides tokenize once (codegen
    ``regexp_extract_all``) and emit n-gram keys via a native
    ``transform``/``slice`` window sweep -- no Python, no quadratic
    blowup.  The keys are 8-byte ``xxhash64`` values, so the join
    shuffles (id, long) rows, never gram text (collision odds over G
    grams ~ G^2/2^65 -- at 10^10 distinct grams that is ~0.003 extra
    hits corpus-WIDE, and deterministic).  Doc-side grams dedupe
    per-doc BEFORE the shuffle (``array_distinct`` inside the row);
    the benchmark side collapses to its distinct gram set, which is
    benchmark-bounded (small), so AQE broadcasts it and the corpus
    side never shuffles at all.  Count = one partial agg; clean docs
    rejoin via a left join against the (hits-only) count table.
    """
    if n < 1:
        raise ValueError(f'n must be >= 1, got {n}')

    def gram_hashes(tcol):
        toks = F.regexp_extract_all(
            F.lower(F.coalesce(F.col(tcol), F.lit(''))),
            F.lit(r"[a-z0-9']+"), 0)
        m = F.size(toks) - F.lit(n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i, n), ' ')))
        # sequence(1, m) with m < 1 would DESCEND (1, 0, ...); short
        # docs have no n-gram at all.
        return F.array_distinct(
            F.when(m >= 1, grams).otherwise(F.array().cast('array<long>')))

    doc_grams = docs.select(
        F.col(id_col),
        F.explode(gram_hashes(text_col)).alias('_g'))
    bench_grams = (bench.select(
        F.explode(gram_hashes(bench_text_col)).alias('_g'))
        .distinct())
    hits = (doc_grams.join(bench_grams, '_g')
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias('n_hits')))
    return (docs.select(id_col)
            .join(hits, id_col, 'left')
            .select(id_col,
                    F.coalesce('n_hits', F.lit(0)).alias('n_hits'),
                    (F.coalesce('n_hits', F.lit(0)) > 0)
                    .alias('contaminated')))


#: (kind, pattern, replacement) -- applied in order.  Patterns stay in
#: the RE2-compatible subset (no backrefs / lookaround) so the exact
#: same strings run under Java regex (Spark) and RE2 (DuckDB oracle),
#: and are mutually disjoint on any one span (SSN 3-2-4 never parses
#: as phone 3-3-4; '@' breaks phone/IP digit runs) so count-then-mask
#: is order-independent.
PII_PATTERNS = [
    ('email', r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     '<EMAIL>'),
    ('ssn', r"\b\d{3}-\d{2}-\d{4}\b", '<SSN>'),
    ('phone', r"\+?\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", '<PHONE>'),
    ('ipv4', r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", '<IP>'),
]


def mask_pii(docs: DataFrame, text_col: str = 'text',
             id_col: str = 'doc_id') -> DataFrame:
    """Regex PII scrubbing -- the pre-training redaction pass: mask
    emails, SSNs, US-style phone numbers, and IPv4 addresses with
    typed placeholder tokens, and report per-kind match counts (the
    per-doc PII-density signal quality filters threshold on).

    Returns ``(id_col, masked, n_email, n_ssn, n_phone, n_ipv4)``.

    Scale shape: pure whole-stage codegen -- a ``regexp_count`` per
    kind plus a sequential ``regexp_replace`` chain; no UDF, no
    shuffle, fully pushdown-compatible.  Each kind's count is taken
    on the text AS ITS MASK STAGE SEES IT (after the earlier kinds
    masked), so ``n_<kind>`` equals the number of ``<KIND>`` tokens
    actually written -- counting every kind on the original text
    would report phantom matches when one pattern's span sits inside
    another's (an IP/SSN/phone-shaped local part of an email, e.g.
    ``192.168.1.1@corp.com``: the email mask consumes it, no ``<IP>``
    token exists, and the density signal must agree).
    """
    masked = F.coalesce(F.col(text_col), F.lit(''))
    cols = [F.col(id_col)]
    counts = []
    for kind, pat, repl in PII_PATTERNS:
        counts.append(
            F.regexp_count(masked, F.lit(pat)).alias(f'n_{kind}'))
        masked = F.regexp_replace(masked, pat, repl)
    return docs.select(*cols, masked.alias('masked'), *counts)


def chunk_documents(docs: DataFrame, max_tokens: int,
                    overlap: int = 0, text_col: str = 'text',
                    id_col: str = 'doc_id') -> DataFrame:
    """T39: split LONG documents into overlapping ``max_tokens``-token
    windows -- the other half of the pretraining layout problem from
    :func:`pack_sequences` (that one concatenates SHORT docs into
    fixed windows; this one chops docs longer than the context into
    stride ``max_tokens - overlap`` windows so no text is dropped and
    window boundaries keep ``overlap`` tokens of left context).

    Tokens are the pinned ASCII-whitespace split of the text (the
    ``normalized_text`` class: ``[ \\t\\n\\r\\f\\x0b]``), so chunk
    text is the SINGLE-SPACE join of its token slice -- original
    inter-token whitespace is not preserved (the standard contract
    for token-window chunking; byte-exact spans are what
    :func:`exact_substr_spans` provides).  A doc with ``n`` tokens
    yields windows starting at ``0, s, 2s, ...`` (``s = max_tokens -
    overlap``) for every start that contributes at least one NEW
    token (``start == 0`` or ``start + overlap < n`` -- a tail
    window fully contained in the previous window's coverage is
    dropped); the last window may be short; a doc with no tokens
    (null/empty/whitespace text) yields NO rows.  ``chunk_id`` is
    the 0-based window index.

    Output: ``(id_col, chunk_id, begin_tok, n_tok, chunk_text)``
    with ``begin_tok`` the window's token offset in the doc (end =
    begin + n_tok, exclusive).

    Scale shape: pure scan-stage codegen -- ``split`` + ``sequence``
    + ``posexplode`` + ``slice``/``array_join``; ZERO shuffle, no
    UDF, output rows ~ total_tokens / stride.  Catalyst prunes to
    (id, text); at 100 TB this runs at scan speed and composes with
    any downstream shuffle untouched.
    """
    if max_tokens < 1:
        raise ValueError(f'max_tokens must be >= 1, got {max_tokens}')
    if not 0 <= overlap < max_tokens:
        raise ValueError('need 0 <= overlap < max_tokens, got '
                         f'overlap={overlap}, max_tokens={max_tokens}')
    step = max_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r'[ \t\n\r\f\x0b]+')
    # split('') == [''] -- strip empties so blank text has 0 tokens
    toks = F.filter(toks, lambda x: x != '')
    # No token-less-doc Filter at all: a `size(_t) > 0` predicate gets
    # pushed below the Project by Catalyst and re-evaluates the whole
    # tokenization (and, for expression-backed text columns, the text
    # expression itself) a second time inside the Filter -- the plan
    # showed the full split+filter twice, 2x the operator's dominant
    # cost.  Instead the start-offset array is empty for token-less
    # docs (`when` guards the sequence, whose bounds would otherwise
    # be illegal at _n <= 0), so the posexplode Generate emits zero
    # rows for them natively: null text -> _t null -> size(_t) is
    # NULL or -1 (per spark.sql.legacy.sizeOfNull), and either fails
    # _n > 0 -> empty starts, matching the documented "no rows"
    # contract.
    base = (docs.select(F.col(id_col), toks.alias('_t'))
            .withColumn('_n', F.size('_t')))
    starts = F.when(
        F.col('_n') > 0,
        F.filter(
            F.sequence(F.lit(0), F.col('_n') - 1, F.lit(step)),
            lambda s: (s == 0) | (s + overlap < F.col('_n')))
    ).otherwise(F.array().cast('array<integer>'))
    return (base
            .select(id_col, '_t', '_n',
                    F.posexplode(starts).alias('chunk_id', 'begin_tok'))
            .select(id_col, 'chunk_id', 'begin_tok',
                    F.least(F.lit(max_tokens),
                            F.col('_n') - F.col('begin_tok'))
                    .alias('n_tok'),
                    F.array_join(
                        F.slice('_t', F.col('begin_tok') + 1,
                                F.lit(max_tokens)), ' ')
                    .alias('chunk_text')))


def pack_sequences(docs: DataFrame, context_len: int,
                   n_shards: int = 64, text_col: str = 'text',
                   id_col: str = 'doc_id') -> DataFrame:
    """GPT-style sequence packing: concatenate each shard's token
    stream in deterministic doc-id order and chop it into fixed
    ``context_len`` windows (the standard pretraining layout -- no
    padding waste, documents split across window boundaries).

    Returns one span row per (doc, window) intersection:
    ``(shard, chunk_id, id_col, begin_tok, end_tok, n_tok)`` --
    ``begin_tok``/``end_tok`` are token offsets INSIDE the doc (end
    exclusive, house tokenizer ``[a-z0-9']+`` over lowered text), so
    window ``(shard, chunk_id)``'s content is exactly its spans
    concatenated in ``id_col`` order, and every window except each
    shard's last holds exactly ``context_len`` tokens.  Zero-token
    docs cannot appear in any window and are dropped (documented).

    Precondition: ``id_col`` must be UNIQUE (it is the document key).
    In-shard order is ``ORDER BY id_col``, so duplicate ids would make
    the tie order -- and therefore every downstream offset --
    partition-layout-dependent; dedupe first (T1/T16) if unsure.

    Scale shape: shard = spec'd ``hash_mix(id) % n_shards``
    (reproducible on any cluster layout, oracle-derivable in SQL);
    ONE shuffle to shard-partition, one window sort per shard for the
    running token offset (shards are the parallelism unit -- size
    n_shards to the cluster, exactly like a distributed writer's
    output files), then the chunk span explodes natively with
    ``sequence`` (≤ n_tok/context_len + 1 rows per doc).  All offsets
    are exact int64 `div` arithmetic -- no doubles, no UDF, no
    driver state.
    """
    from .sampling import hash_mix
    if context_len < 1:
        raise ValueError(f'context_len must be >= 1, got {context_len}')
    if n_shards < 1:
        raise ValueError(f'n_shards must be >= 1, got {n_shards}')
    id_type = dict(docs.dtypes).get(id_col, '')
    if id_type not in ('tinyint', 'smallint', 'int', 'bigint'):
        # the spec'd hash_mix casts its key to long: a string id
        # would cast to null (or fail under ANSI), collapsing every
        # row into one null shard -- the whole corpus in one sort
        # task, silently.  Require an integer key; hash string ids
        # to int64 first (e.g. F.xxhash64) if needed.
        raise TypeError(
            f'pack_sequences needs an integer id_col for the spec\'d '
            f'shard mix; {id_col!r} is {id_type!r}')
    low = F.lower(F.coalesce(F.col(text_col), F.lit('')))
    toks = (docs.select(
        F.col(id_col),
        (hash_mix(F.col(id_col)) % n_shards).cast('int').alias('shard'),
        F.regexp_count(low, F.lit(r"[a-z0-9']+")).cast('long')
        .alias('_n'))
        .filter(F.col('_n') > 0))
    w = (Window.partitionBy('shard').orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    C = int(context_len)
    spans = toks.withColumn(
        '_s', F.coalesce(F.sum('_n').over(w), F.lit(0)))
    first = F.expr(f'_s div {C}')
    last = F.expr(f'(_s + _n - 1) div {C}')
    return (spans
            .select('shard', id_col, '_s', '_n',
                    F.explode(F.sequence(first, last)).alias('chunk_id'))
            .select('shard', 'chunk_id', F.col(id_col),
                    F.greatest(F.lit(0).cast('long'),
                               F.col('chunk_id') * C - F.col('_s'))
                    .alias('begin_tok'),
                    F.least(F.col('_n'),
                            (F.col('chunk_id') + 1) * C - F.col('_s'))
                    .alias('end_tok'))
            .withColumn('n_tok', F.col('end_tok') - F.col('begin_tok')))


def char_entropy_col(text_col='text', decimals: int = 6):
    """Shannon entropy (bits/char) of the codepoint distribution per
    document -- the gibberish / compression-artifact quality signal
    (near 0 = one repeated char; English prose ~4.0-4.5; random bytes
    ~8).  Null/empty text -> 0.0.

    One numpy pass per Arrow batch: all docs' codepoints flatten into
    a single array with offsets, one global sort-free bincount per
    doc via np.unique on (doc_idx, codepoint) pairs -- no per-doc
    Python loop.  Rounded to ``decimals`` so the float log2 is
    oracle-comparable across libms.
    """
    @F.pandas_udf(T.DoubleType())
    def udf(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts))
        vals = texts.fillna('').to_numpy()
        lens = np.array([len(t) for t in vals], dtype=np.int64)
        total = int(lens.sum())
        if total == 0:
            return pd.Series(out)
        flat = np.empty(total, dtype=np.int64)
        doc = np.empty(total, dtype=np.int64)
        pos = 0
        for i, t in enumerate(vals):
            n = lens[i]
            if n:
                flat[pos:pos + n] = np.frombuffer(
                    t.encode('utf-32-le'), dtype=np.uint32)
                doc[pos:pos + n] = i
                pos += n
        # unique (doc, char) pairs with counts: one vectorized pass
        key = doc * (1 << 21) + flat          # codepoints < 2^21
        _, idx, counts = np.unique(key, return_index=True,
                                   return_counts=True)
        d = doc[idx]
        p = counts / lens[d]
        contrib = -p * np.log2(p)
        out = np.zeros(len(texts))
        np.add.at(out, d, contrib)
        return pd.Series(np.round(out, decimals))
    return udf(F.col(text_col) if isinstance(text_col, str)
               else text_col)


def tfidf_top_terms(df: DataFrame, text_col: str = 'text',
                    id_col: str = 'doc_id', k: int = 3) -> DataFrame:
    """T21: top-``k`` TF-IDF terms per document -- the standard
    keyword/topic signal a training-data pipeline uses for corpus
    diagnostics and domain balancing.

    Definitions (the DuckDB oracle re-derives all of them from SQL):

        tf(d, t)  = occurrences of term t in doc d
                    (tokens: lower, split on runs outside [a-z0-9'])
        dfreq(t)  = number of docs containing t at least once
        idf(t)    = ln((N + 1) / (dfreq + 1)) + 1      (smoothed,
                    sklearn's smooth_idf convention -- never 0/0,
                    never negative)
        score     = tf * idf, ties broken by term ascending

    Scale shape: explode -> (doc, term) partial-agg groupBy (map-side
    combine eats the token fan-out); document frequency is a second
    groupBy of the ALREADY-distinct (doc, term) pairs (never re-reads
    text); the tf |x| idf equi-join shuffles on ``term`` (AQE handles
    stopword-ish hot terms); per-doc top-k runs under Spark's
    WindowGroupLimit pushdown (k rows per group per partition cross
    the exchange, never whole groups).  Raw text rides exactly one
    map stage.
    """
    if k < 1:
        raise ValueError(f'k must be >= 1, got {k}')
    from .query import topk_per_group

    n_docs = df.count()
    tf = (df.select(id_col, F.explode(tokens_col(F.col(text_col)))
                    .alias('term'))
          .groupBy(id_col, 'term').agg(F.count('*').alias('tf')))
    dfreq = tf.groupBy('term').agg(F.count('*').alias('dfreq'))
    idf = F.log((F.lit(float(n_docs + 1)))
                / (F.col('dfreq') + F.lit(1.0))) + F.lit(1.0)
    scored = (tf.join(dfreq, 'term')
              .withColumn('score', F.col('tf') * idf))
    return (topk_per_group(scored, id_col, 'score', k,
                           tie_cols=('term',))
            .select(id_col, 'term', 'tf', 'dfreq',
                    F.round('score', 6).alias('score'), 'rank'))


def boilerplate_strip(df: DataFrame, text_col: str = 'text',
                      id_col: str = 'doc_id', min_docs: int = 2,
                      min_chars: int = 1) -> DataFrame:
    """T24: strip cross-document boilerplate lines -- any line whose
    TRIMMED form appears in >= ``min_docs`` distinct documents (and is
    >= ``min_chars`` long) is removed from every document, preserving
    the order of the surviving lines.  The CCNet/CC-derived-corpus
    cleanup step: navbars, cookie banners, license footers repeat
    across pages and poison LLM training data.

    Returns (id_col, clean text, n_kept, n_removed); documents whose
    lines are all boilerplate (or that were empty) come back with
    ``text`` = '' so no input row is ever lost.

    Scale shape: lines ride ONE posexplode map stage; the frequent-
    line table is built from (line-hash, doc) pairs ALREADY distinct
    per doc (map-side combine collapses in-doc repeats first) and is
    corpus-bounded (only lines crossing the threshold survive); the
    removal is a left_anti equi-join on the 8-byte line hash -- AQE
    broadcasts it when small, and a hot boilerplate hash costs
    nothing extra (anti-join build side holds each key once).
    Reassembly is one partial-agg groupBy of (pos, line) structs.
    Raw text never shuffles twice: only (hash, id) and the surviving
    (id, pos, line) rows move.
    """
    if min_docs < 2:
        raise ValueError(f'min_docs must be >= 2, got {min_docs}')
    lines = (df.select(
        id_col,
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit('')),
                             '\n')).alias('pos', 'line'))
        .withColumn('_key', F.xxhash64(F.trim('line'))))
    eligible = F.length(F.trim('line')) >= min_chars
    boiler = (lines.filter(eligible)
              .select('_key', id_col).distinct()
              .groupBy('_key').agg(F.count('*').alias('_docs'))
              .filter(F.col('_docs') >= min_docs)
              .select('_key'))
    # A key in ``boiler`` implies the line was eligible (equal trimmed
    # text => equal trimmed length), so one anti-join covers all
    # lines: ineligible (short/blank) lines can never match a boiler
    # key and are always kept.
    kept = lines.join(boiler, '_key', 'left_anti')
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct('pos', 'line'))),
                            lambda s: s['line']), '\n').alias('text'),
                    F.count('*').alias('n_kept')))
    totals = (lines.groupBy(id_col)
              .agg(F.count('*').alias('_n_lines')))
    return (totals.join(rebuilt, id_col, 'left')
            .select(id_col,
                    F.coalesce('text', F.lit('')).alias('text'),
                    F.coalesce('n_kept', F.lit(0)).alias('n_kept'),
                    (F.col('_n_lines')
                     - F.coalesce('n_kept', F.lit(0)))
                    .alias('n_removed')))

"""Seeded input generators and independently derived expected outputs.

Nothing here imports the engine: every expected value comes from the
construction of the input (which tile a point was placed in, which
aliquots a document names, which rows were planted as twins), so the
benchmark's verdict does not depend on the code it measures.  The only
engine conventions assumed are the documented plane geometry:

- township ``(t)N (r)W`` spans x in [-6r, -6r+6), y in [6(t-1), 6t)
  (miles), sections numbered boustrophedon from the NE corner;
- an image's anchor is ``x = X0 + hi / 2^31 * (X1 - X0)``,
  ``y = Y0 + lo / 2^31 * (Y1 - Y0)`` with ``phash = hi << 31 | lo``
  over the covered block T150N-T157N x R95W-R102W;
- an aliquot string is its components in text order (``N/2NE/4SW/4``
  -> ``N2NESW``), subdivided to at least two levels.

Outputs are compared through :func:`digest`: a row count plus the sum
of CRC-32s of the rows' ``|``-joined fields.  Spark computes the same
digest with ``crc32(concat_ws('|', ...))``, so a whole table is checked
without collecting it, and any single changed, missing or extra row
changes the digest.
"""

import re
import zlib

import numpy as np
import pandas as pd

TWP_MIN, TWP_MAX = 150, 157          # all north
RGE_MIN, RGE_MAX = 95, 102           # all west
X0, X1 = -6.0 * RGE_MAX, -6.0 * RGE_MIN + 6.0
Y0, Y1 = 6.0 * (TWP_MIN - 1), 6.0 * TWP_MAX
DENSE = (154, 97, 14)                # skew target: T154N-R97W sec 14
SKEW = 0.10

QUARTERS = ('NE', 'NW', 'SE', 'SW')
HALF_TO_QUARTERS = {'N2': ('NE', 'NW'), 'S2': ('SE', 'SW'),
                    'E2': ('NE', 'SE'), 'W2': ('NW', 'SW')}
# Fraction box of one component inside its parent, (x0, y0, x1, y1).
COMPONENT_BOX = {
    'NE': (.5, .5, 1, 1), 'NW': (0, .5, .5, 1),
    'SE': (.5, 0, 1, .5), 'SW': (0, 0, .5, .5),
    'N2': (0, .5, 1, 1), 'S2': (0, 0, 1, .5),
    'E2': (.5, 0, 1, 1), 'W2': (0, 0, .5, 1),
}


def rng_for(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(salt)])


# --- digests ---------------------------------------------------------------

def digest(rows) -> tuple:
    """(row count, sum of CRC-32 of each row's '|'-joined fields)."""
    n = total = 0
    for row in rows:
        n += 1
        total += zlib.crc32('|'.join(str(v) for v in row).encode())
    return n, total


def expectation(facts=(), **rows) -> dict:
    """Expected outputs: each named list of rows (kept for tests) and
    its digest, plus scalar facts."""
    rows = {k: list(v) for k, v in rows.items()}
    out = {k: digest(v) for k, v in rows.items()}
    out.update(facts, rows=rows)
    return out


def frame_rows(df: pd.DataFrame, cols):
    return df[list(cols)].itertuples(index=False, name=None)


# --- plane geometry --------------------------------------------------------

def aliquot_text(comps) -> str:
    """Components in text order -> description text ('N/2NE/4')."""
    return ''.join(c[0] + '/2' if c[1] == '2' else c + '/4' for c in comps)


def aliquot_qqs(comps) -> list:
    """The aliquot strings a phrase names, subdivided to >= 2 levels
    (halves at the second level split into their two quarters)."""
    comps = list(comps)
    if not comps:
        return [a + b for b in QUARTERS for a in QUARTERS]
    if len(comps) == 1:
        outer = HALF_TO_QUARTERS.get(comps[0], (comps[0],))
        return [a + b for b in outer for a in QUARTERS]
    if len(comps) == 2 and comps[0] in HALF_TO_QUARTERS:
        return [q + comps[1] for q in HALF_TO_QUARTERS[comps[0]]]
    return [''.join(comps)]


def qq_components(qq: str) -> list:
    return [qq[i:i + 2] for i in range(0, len(qq), 2)]


def fraction_box(comps) -> tuple:
    """Box of an aliquot within the unit section, applying the
    outermost component (last in text order) first."""
    x0, y0, x1, y1 = 0.0, 0.0, 1.0, 1.0
    for c in reversed(comps):
        a, b, c2, d = COMPONENT_BOX[c]
        w, h = x1 - x0, y1 - y0
        x0, y0, x1, y1 = x0 + a * w, y0 + b * h, x0 + c2 * w, y0 + d * h
    return x0, y0, x1, y1


def section_origin(twp, rge, sec):
    """SW corner of section ``sec`` of (twp)N-(rge)W (vectorized)."""
    twp, rge, sec = (np.asarray(v) for v in (twp, rge, sec))
    row = (sec - 1) // 6                    # 0 = north row
    i = (sec - 1) % 6
    col = np.where(row % 2 == 0, 5 - i, i)  # 0 = west column
    return -6.0 * rge + col, 6.0 * (twp - 1) + (5 - row)


def trs_key(twp, rge, sec) -> str:
    return f'{twp}n{rge}w{sec:02d}'


def phash_from_grid(hi, lo) -> np.ndarray:
    return (np.asarray(hi, dtype=np.int64) << 31) | np.asarray(lo, np.int64)


def anchor_xy(phash):
    p = np.asarray(phash, dtype=np.int64)
    u = ((p >> 31) & (2 ** 31 - 1)).astype(np.float64) / 2.0 ** 31
    v = (p & (2 ** 31 - 1)).astype(np.float64) / 2.0 ** 31
    return X0 + u * (X1 - X0), Y0 + v * (Y1 - Y0)


def point_in_section(x, y):
    """(twp, rge, sec, quarter-mile cell qx, qy in 0..3) of points."""
    rge = np.ceil(-x / 6.0).astype(np.int64)
    twp = (np.floor(y / 6.0) + 1).astype(np.int64)
    col = np.floor(x).astype(np.int64) + 6 * rge            # 0 = west
    row = 5 - (np.floor(y).astype(np.int64) - 6 * (twp - 1))
    sec = row * 6 + np.where(row % 2 == 0, 5 - col, col) + 1
    # 4x is exact in binary floating point, so the floor lands on the
    # half-open quarter-mile edges exactly.
    qx = np.floor(4.0 * x).astype(np.int64) - 4 * np.floor(x).astype(np.int64)
    qy = np.floor(4.0 * y).astype(np.int64) - 4 * np.floor(y).astype(np.int64)
    return twp, rge, sec, qx, qy


def qq_name(qx: int, qy: int) -> str:
    """Standard QQ of quarter-mile cell (qx, qy) in a section: the
    quarter of the quarter, inner component first ('NENW')."""
    return ('SN'[qy % 2] + 'WE'[qx % 2]) + ('SN'[qy // 2] + 'WE'[qx // 2])


def lattice_tiles(x, y):
    """Closed-form regular-lattice (trs, qq) of each point."""
    twp, rge, sec, qx, qy = point_in_section(x, y)
    return ([trs_key(*v) for v in zip(twp, rge, sec)],
            [qq_name(*v) for v in zip(qx, qy)])


def lattice_pyramid(x, y):
    """Rows (twprge, sec, qq, level, n) of the four rollup levels of the
    per-tile image counts of points on the regular lattice."""
    twp, rge, sec, qx, qy = point_in_section(x, y)
    key = (((twp * 1000 + rge) * 100 + sec) * 4 + qy) * 4 + qx
    keys, counts = np.unique(key, return_counts=True)
    rows, per_sec, per_twp = [], {}, {}
    for k, n in zip(keys.tolist(), counts.tolist()):
        twprge = f'{k // 1_600_000}n{k // 1600 % 1000}w'
        sec_s = f'{k // 16 % 100:02d}'
        rows.append((twprge, sec_s, qq_name(k % 4, k // 4 % 4), 3, n))
        per_sec[twprge, sec_s] = per_sec.get((twprge, sec_s), 0) + n
        per_twp[twprge] = per_twp.get(twprge, 0) + n
    rows += [(t, s, '*', 2, n) for (t, s), n in per_sec.items()]
    rows += [(t, '*', '*', 1, n) for t, n in per_twp.items()]
    rows.append(('*', '*', '*', 0, len(x)))
    return rows


def sample_points(rng, n, sections=None):
    """Random anchors (as phash) uniform over ``sections`` (default:
    every section of the block), with SKEW of them aimed at the dense
    section."""
    if sections is None:
        sections = [(t, r, s) for t in range(TWP_MIN, TWP_MAX + 1)
                    for r in range(RGE_MIN, RGE_MAX + 1)
                    for s in range(1, 37)]
    pick = np.array(sections)[rng.integers(0, len(sections), n)]
    ox, oy = section_origin(pick[:, 0], pick[:, 1], pick[:, 2])
    fx, fy = rng.random(n), rng.random(n)
    dense = rng.random(n) < SKEW
    sx, sy = section_origin(*DENSE)
    x = np.where(dense, sx, ox) + fx
    y = np.where(dense, sy, oy) + fy
    hi = np.floor((x - X0) / (X1 - X0) * 2.0 ** 31).astype(np.int64)
    lo = np.floor((y - Y0) / (Y1 - Y0) * 2.0 ** 31).astype(np.int64)
    return phash_from_grid(np.clip(hi, 0, 2 ** 31 - 1),
                           np.clip(lo, 0, 2 ** 31 - 1))


# --- description documents -------------------------------------------------

# Phrase sets that each cover a whole section exactly once.
COVERS = (
    ((),),
    (('N2',), ('S2',)),
    (('E2',), ('W2',)),
    (('NE',), ('NW',), ('SE',), ('SW',)),
    (('N2', 'NE'), ('S2', 'NE'), ('NW',), ('S2',)),
)


def phrase_text(comps) -> str:
    return 'ALL' if not comps else aliquot_text(comps)


def tr_text(twp, ns, rge, ew, style):
    ns_u, ew_u = ns.upper(), ew.upper()
    if style == 'wordy':
        return (f"Township {twp} {'North' if ns == 'n' else 'South'}, "
                f"Range {rge} {'West' if ew == 'w' else 'East'}")
    if style == 'space':
        return f'T{twp}{ns_u} R{rge}{ew_u}'
    return f'T{twp}{ns_u}-R{rge}{ew_u}'


def doc_text(twp, ns, rge, ew, parts, layout, tr_style='dash'):
    """One description of one Twp/Rge.  ``parts``: list of
    (section, [phrase text, ...]) in one of four layouts."""
    tr = tr_text(twp, ns, rge, ew, tr_style)
    if layout == 'TRS_desc':
        body = ', '.join(f'Sec {s}: ' + ', '.join(ph) for s, ph in parts)
        return f'{tr} {body}'
    if layout == 'desc_STR':
        body = ', '.join(', '.join(ph) + f' of Sec {s}' for s, ph in parts)
        return f'{body}, {tr}'
    if layout == 'TR_desc_S':
        body = ', '.join(', '.join(ph) + f' of Sec {s}' for s, ph in parts)
        return f'{tr} {body}'
    # S_desc_TR: one section per document
    (s, ph), = parts
    return f'Sec {s}: ' + ', '.join(ph) + f' {tr}'


LAYOUTS = ('TRS_desc', 'desc_STR', 'TR_desc_S', 'S_desc_TR')


BLOCK = [(t, r) for t in range(TWP_MIN, TWP_MAX + 1)
         for r in range(RGE_MIN, RGE_MAX + 1)]


def lattice_docs(rng, towns=BLOCK):
    """Documents that jointly name every standard QQ of every section
    of ``towns`` (default: the block's regular 36,864-QQ lattice)."""
    docs = []
    for twp, rge in towns:
        secs = list(range(1, 37))
        while secs:
            layout = LAYOUTS[rng.integers(0, len(LAYOUTS))]
            k = 1 if layout == 'S_desc_TR' else int(rng.integers(1, 7))
            chunk, secs = secs[:k], secs[k:]
            parts = [(s, [phrase_text(c) for c in
                          COVERS[rng.integers(0, len(COVERS))]])
                     for s in chunk]
            style = ('dash', 'wordy', 'space')[rng.integers(0, 3)]
            if layout != 'TRS_desc' and style == 'wordy':
                style = 'dash'
            docs.append(doc_text(twp, 'n', rge, 'w', parts, layout,
                                 style))
    return docs


def lattice_polygons(towns=BLOCK):
    """(trs, qq, xmin, ymin, xmax, ymax) of the lattice of ``towns``."""
    return [p for twp, rge in towns for sec in range(1, 37)
            for p in section_polygons(twp, rge, sec, aliquot_qqs(()))]


def section_polygons(twp, rge, sec, qqs):
    sx, sy = section_origin(twp, rge, sec)
    out = []
    for qq in qqs:
        fx0, fy0, fx1, fy1 = fraction_box(qq_components(qq))
        out.append((trs_key(twp, rge, sec), qq, float(sx) + fx0,
                    float(sy) + fy0, float(sx) + fx1, float(sy) + fy1))
    return out


# --- parse_layer corpus ----------------------------------------------------

def _phrase_pool():
    """Aliquot phrases from whole sections down to depth 4, each with
    the QQ strings it names."""
    pool = [()]
    pool += [(h,) for h in HALF_TO_QUARTERS] + [(q,) for q in QUARTERS]
    pool += [(h, q) for h in HALF_TO_QUARTERS for q in QUARTERS]
    pool += [(a, b) for a in QUARTERS for b in QUARTERS]
    pool += [(a, b, c) for a in QUARTERS for b in QUARTERS
             for c in QUARTERS]
    pool += [(h, b, c) for h in HALF_TO_QUARTERS for b in QUARTERS
             for c in QUARTERS]
    pool += [(a, b, c, d) for a in QUARTERS for b in QUARTERS
             for c in QUARTERS for d in QUARTERS]
    return pool


PHRASES = _phrase_pool()
LOT_PHRASES = ('Lots 1 - 2', 'Lot 3', 'Lots 1 - 4', 'Lot 4 (38.5)',
               'Lots 2 (40.12), 3 (39.87)')
_WORDS = ('tract', 'parcel', 'exhibit', 'plat', 'survey', 'unit', 'record',
          'deed', 'lease', 'mineral', 'surface', 'estate')


def _letters(i: int) -> str:
    out = ''
    while True:
        out = 'abcdefghijklmnopqrstuvwxyz'[i % 26] + out
        i //= 26
        if not i:
            return out


def parse_corpus(seed: int, n_docs: int):
    """``n_docs`` unique descriptions and the (trs, qq) set they name.

    About 1% are flawed (no Twp/Rge at all: they parse to a flagged
    doc and name nothing) and about 2% are the multi-township tail
    (6-12 Twp/Rge groups in one document)."""
    rng = rng_for(seed, 2)
    docs, named, seen = [], set(), set()
    # Weight shallow phrases like real records; deep ones still appear.
    depth = np.array([len(p) for p in PHRASES])
    w = np.array([8.0, 4.0, 2.0, 1.0, 0.05])[depth]
    w /= w.sum()
    while len(docs) < n_docs:
        r = rng.random()
        if r < 0.01:
            words = [_WORDS[i] for i in rng.integers(0, len(_WORDS), 4)]
            doc = ' '.join(words) + ' ' + _letters(len(docs))
            doc_named = []
        else:
            n_tr = int(rng.integers(6, 13)) if r < 0.03 \
                else int(rng.integers(1, 3))
            texts, doc_named = [], []
            for _ in range(n_tr):
                twp = int(rng.integers(1, 200))
                rge = int(rng.integers(1, 120))
                ns = 'ns'[rng.integers(0, 2)]
                ew = 'we'[rng.integers(0, 2)]
                layout = LAYOUTS[rng.integers(0, 4)] if n_tr == 1 \
                    else 'TRS_desc'
                n_sec = 1 if layout == 'S_desc_TR' \
                    else int(rng.integers(1, 4))
                secs = rng.choice(np.arange(1, 37), n_sec, replace=False)
                parts = []
                for s in secs:
                    idx = rng.choice(len(PHRASES), int(rng.integers(1, 4)),
                                     replace=False, p=w)
                    phr = [PHRASES[i] for i in idx]
                    if () in phr:       # 'ALL' only ever stands alone
                        phr = [()]
                    texts_s = [phrase_text(p) for p in phr]
                    if phr != [()] and layout == 'TRS_desc' \
                            and rng.random() < 0.15:
                        texts_s.insert(0, LOT_PHRASES[
                            rng.integers(0, len(LOT_PHRASES))])
                    parts.append((int(s), texts_s))
                    key = f'{twp}{ns}{rge}{ew}{int(s):02d}'
                    doc_named += [(key, q) for p in phr
                                  for q in aliquot_qqs(p)]
                style = ('dash', 'wordy', 'space')[rng.integers(0, 3)] \
                    if layout == 'TRS_desc' else 'dash'
                texts.append(doc_text(twp, ns, rge, ew, parts, layout,
                                      style))
            doc = ', '.join(texts)
        if doc in seen:
            continue
        seen.add(doc)
        docs.append(doc)
        named.update(doc_named)
    return docs, sorted(named)


# --- workload inputs -------------------------------------------------------

TILE_SAMPLE = 100     # per-image tiles are checked on every 100th image


def tile_lattice_inputs(seed: int, n_images: int):
    rng = rng_for(seed, 1)
    phash = sample_points(rng, n_images)
    ids = np.arange(n_images)
    images = pd.DataFrame({
        'image_id': [f'im{seed:05d}{i:09d}' for i in ids],
        'w': np.int32(64), 'h': np.int32(48),
        'fmt': np.where(ids % 10 == 0, 'jpeg', 'png'),
        'caption': [f'c{i}' for i in ids],
        'phash': phash,
    })
    descs = pd.DataFrame({'raw_desc': lattice_docs(rng)})
    descs.insert(0, 'doc_id', np.arange(len(descs), dtype=np.int64))
    x, y = anchor_xy(phash)
    sample = slice(None, None, TILE_SAMPLE)
    trs, qq = lattice_tiles(x[sample], y[sample])
    return images, descs, expectation(
        pyramid=lattice_pyramid(x, y),
        tiles_sample=zip(images['image_id'][sample], trs, qq))


def image_dedup_inputs(seed: int, n_rows: int, pool: int = 64):
    """Images with planted phash twins (1 in 50 rows, Hamming 1-2 from
    an untwinned row) and a hot caption pool (1 in 25 rows share one of
    ``pool`` captions).  Random 62-bit hashes collide within Hamming 2
    with odds ~1e-5 per corpus, so planted edges are the only ones."""
    rng = rng_for(seed, 3)
    ids = np.array([f'{seed:05d}/ortho-tiles/{h:016x}/{i:09d}.sgi'
                    for i, h in enumerate(rng.integers(0, 2 ** 62, n_rows))])
    phash = rng.integers(0, 2 ** 62, n_rows, dtype=np.int64)
    twin = rng.random(n_rows) < 1 / 50
    twin[0] = False
    base_pool = np.flatnonzero(~twin)
    base = np.full(n_rows, -1)
    base[twin] = rng.choice(base_pool, int(twin.sum()))
    for i in np.flatnonzero(twin):
        bits = rng.choice(62, int(rng.integers(1, 3)), replace=False)
        phash[i] = phash[base[i]] ^ int(np.bitwise_or.reduce(
            np.int64(1) << bits.astype(np.int64)))
    hot = rng.random(n_rows) < 1 / 25
    hot_cap = rng.integers(0, pool, n_rows)
    empty = rng.random(n_rows) < 1 / 200
    captions = np.where(
        hot, np.char.add('aerial view, field pattern ',
                         hot_cap.astype(str)),
        np.char.add('frame ', np.arange(n_rows).astype(str)))
    captions = np.where(empty & ~hot, '', captions)
    images = pd.DataFrame({'image_id': ids, 'caption': captions,
                           'phash': phash})

    parent = np.arange(n_rows)

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for i in np.flatnonzero(twin):
        union(i, base[i])
    first = {}
    for i in np.flatnonzero(hot):
        union(i, first.setdefault(hot_cap[i], i))
    roots = np.array([find(i) for i in range(n_rows)])
    order = np.argsort(ids)
    rank = np.empty(n_rows, dtype=np.int64)
    rank[order] = np.arange(n_rows)
    lead = np.full(n_rows, n_rows)
    np.minimum.at(lead, roots, rank)
    comp_min = ids[order[lead[roots]]]
    kept = (comp_min == ids).astype(int)
    return images, expectation(keep=zip(ids, comp_min, kept))


# Deeper aliquots named on top of the lattice in tile_materialize: they
# overlap lattice QQs, so the join must reduce several hits per image.
DEEP = (('N2', 'NE', 'SW'), ('NE', 'NE', 'NE'), ('E2', 'SW', 'SW'),
        ('S2', 'NW', 'NE'), ('NE', 'NE', 'NE', 'NE'), ('W2', 'SE', 'SE'))
MAT_SECTIONS = ((154, 97, 14), (154, 97, 15), (154, 97, 22),
                (154, 98, 13))


def tile_materialize_inputs(seed: int, n_images: int, n_docs: int):
    """Images with encoded bytes over a few sections, and a polygon
    layer from the regular lattice, deeper aliquots over those sections
    and the ``parse_corpus`` documents (whose north/west sections join
    the brute-force winner search)."""
    from pytrs_spark import imagecodec   # input encoding only

    rng = rng_for(seed, 4)
    phash = sample_points(rng, n_images, MAT_SECTIONS)
    ids = np.array([f'mt{seed:05d}{i:07d}' for i in range(n_images)])
    fmt = np.where(rng.random(n_images) < 0.1, 'jpeg', 'png')
    blobs, px_sum, n_px = [], [], []
    for f in fmt:
        h, w = (8, 12, 16)[rng.integers(0, 3)], (8, 16)[rng.integers(0, 2)]
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        blobs.append(imagecodec.encode(px, f))
        seen = px if f == 'png' else np.minimum(
            (px >> 2).astype(np.int64) * 4 + 2, 255)
        px_sum.append(int(seen.sum()))
        n_px.append(px.size)
    images = pd.DataFrame({
        'image_id': ids, 'bytes': blobs, 'w': np.int32(16),
        'h': np.int32(16), 'fmt': fmt,
        'caption': [f'survey frame {i}' for i in range(n_images)],
        'phash': phash})

    towns = sorted({(t, r) for t, r, _ in MAT_SECTIONS})
    docs = lattice_docs(rng, towns)
    polys = lattice_polygons(towns)
    for twp, rge, sec in MAT_SECTIONS:
        idx = rng.choice(len(DEEP), int(rng.integers(1, 4)), replace=False)
        phr = [DEEP[i] for i in idx]
        docs.append(doc_text(twp, 'n', rge, 'w',
                             [(sec, [phrase_text(p) for p in phr])],
                             'TRS_desc'))
        polys += section_polygons(twp, rge, sec, [''.join(p) for p in phr])
    corpus, named = parse_corpus(seed, n_docs)
    docs += corpus
    for key, qq in named:
        t, ns, r, ew, sec = re.fullmatch(r'(\d+)([ns])(\d+)([ew])(\d\d)',
                                         key).groups()
        if ns == 'n' and ew == 'w':
            polys += section_polygons(int(t), int(r), int(sec), [qq])
    descs = pd.DataFrame({'doc_id': np.arange(len(docs), dtype=np.int64),
                          'raw_desc': docs})
    layer = {(p[0], p[1]) for p in polys} | set(named)

    x, y = anchor_xy(phash)
    trs, qq, cand = brute_force_tiles(x, y, polys)
    tiles = pd.DataFrame({'trs': trs, 'qq': qq, 'n_px': n_px,
                          'px_sum': px_sum})
    per_tile = tiles.groupby(['trs', 'qq']).agg(
        n_images=('px_sum', 'size'), n_px=('n_px', 'sum'),
        px_sum=('px_sum', 'sum')).reset_index()
    knn = brute_force_knn(x, y, 4)
    return images, descs, expectation(
        {'candidates': cand},
        layer=sorted(layer),
        tiles=zip(ids, trs, qq),
        raster=frame_rows(per_tile, ['trs', 'qq', 'n_images']),
        zonal=frame_rows(per_tile, ['trs', 'qq', 'n_images', 'n_px',
                                    'px_sum']),
        knn=((ids[i], r + 1, int(knn[i, r, 0]), int(knn[i, r, 1]))
             for i in range(n_images) for r in range(4)))


def ray_cast(px, py, ring_x, ring_y):
    """Even-odd ray cast of points (n,) against one ring -> (n,) bool."""
    inside = np.zeros(len(px), dtype=bool)
    m = len(ring_x)
    for k in range(m):
        x1, y1 = ring_x[k], ring_y[k]
        x2, y2 = ring_x[(k + 1) % m], ring_y[(k + 1) % m]
        crosses = (y1 > py) != (y2 > py)
        if y2 != y1:
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            inside ^= crosses & (px < xint)
    return inside


def brute_force_tiles(x, y, polys):
    """Winner (min (trs, qq)) among every polygon containing each
    point, by ray casting each polygon whose bbox meets the points'
    extent; also the number of polygons whose quarter-mile cover cells
    include each point's cell (the candidates a cell-indexed join has
    to test)."""
    best = np.full(len(x), -1)
    cand = 0
    cx, cy = np.floor(4.0 * x), np.floor(4.0 * y)
    polys = sorted(p for p in polys
                   if p[2] <= x.max() and p[4] > x.min()
                   and p[3] <= y.max() and p[5] > y.min())
    for i, (_, _, x0, y0, x1, y1) in enumerate(polys):
        hit = ray_cast(x, y, (x0, x1, x1, x0), (y0, y0, y1, y1))
        best[hit & (best < 0)] = i
        cand += int(((cx >= np.floor(4 * x0)) & (cx < np.ceil(4 * x1))
                     & (cy >= np.floor(4 * y0))
                     & (cy < np.ceil(4 * y1))).sum())
    if (best < 0).any():
        raise ValueError('a generated point lies in no polygon')
    trs = np.array([polys[b][0] for b in best])
    qq = np.array([polys[b][1] for b in best])
    return trs, qq, cand


def brute_force_knn(x, y, k):
    """k nearest integer-mile corners of the covered block per point,
    ordered by (d2, cx, cy): (n, k, 2) array of (cx, cy)."""
    cxs = np.arange(int(X0), int(X1) + 1, dtype=np.float64)
    cys = np.arange(int(Y0), int(Y1) + 1, dtype=np.float64)
    gx, gy = np.meshgrid(cxs, cys, indexing='ij')
    gx, gy = gx.ravel(), gy.ravel()
    out = np.empty((len(x), k, 2))
    for i in range(len(x)):
        d2 = (x[i] - gx) ** 2 + (y[i] - gy) ** 2
        order = np.lexsort((gy, gx, d2))[:k]
        out[i, :, 0] = gx[order]
        out[i, :, 1] = gy[order]
    return out

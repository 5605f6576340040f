"""Document-level PLSS parsing: canonicalize Twp/Rge text, deduce the
description layout, and walk the Twp/Rge + Section markers to assemble
(twprge, sections, description) tract components.

Semantics match the reference ``pytrs/parser/plssdesc/plss_preprocess.py``
and ``plss_parse.py``, verified by the golden tables in the reference's
``tests/test_plss_preprocess.py`` and ``tests/test_plssdesc_and_parse.py``.

Pure-Python kernels; the Spark layer maps :func:`parse_document` over an
Arrow batch of raw description strings and explodes the resulting tract
arrays natively.
"""

import re
from functools import lru_cache

from . import patterns as P
from .trs import (
    DEFAULT_EW,
    DEFAULT_NS,
    ERR_SEC,
    ERR_TWPRGE,
    is_error,
    ocr_digits,
    trs_decompose,
    trs_normalize,
    twprge_natural_to_short,
)

# Layout names (config/layouts.py:8-21).
TRS_DESC = 'TRS_desc'
DESC_STR = 'desc_STR'
S_DESC_TR = 'S_desc_TR'
TR_DESC_S = 'TR_desc_S'
COPY_ALL = 'copy_all'
LAYOUTS = (TRS_DESC, DESC_STR, S_DESC_TR, TR_DESC_S, COPY_ALL)

# Minimum length for a substring to be reported as unused text
# (plss_parse.py:285).
MIN_REPORTABLE_UNUSED_LEN = 4

_WS_RUN_RE = re.compile(r'[ \t]+')
_NL_RUN_RE = re.compile(r'\n{2,}')

_PP_SCRUBBERS = (
    P.twprge_re,
    P.pp_twprge_no_nswe,
    P.pp_twprge_no_nsr,
    P.pp_twprge_no_ewt,
    P.pp_twprge_pm,
    P.pp_twprge_comma_remove,
)


def unpack_twprge(mo, default_ns=None, default_ew=None, ocr_scrub=False):
    """Twp/Rge match -> 'T154N-R97W' (unpackers.py:431-493).

    Memoized on the five captured groups + config: Twp/Rge tokens
    repeat heavily across (and within) real corpora, and the unpack is
    a pure function of the captures -- so the per-match Python cost
    amortizes away even on all-unique documents."""
    try:
        rge2 = mo.group('rgenum_edgecase_rge2')
    except IndexError:          # regex has no such group
        rge2 = None
    return _unpack_twprge_cached(
        mo.group('twpnum'), mo.group('ns'), mo.group('rgenum'), rge2,
        mo.group('ew'), default_ns, default_ew, ocr_scrub)


@lru_cache(maxsize=65536)
def _unpack_twprge_cached(twp_num, ns_g, rge_num, rge2, ew_g,
                          default_ns, default_ew, ocr_scrub):
    if default_ns is None:
        default_ns = DEFAULT_NS
    if default_ns not in ('n', 's', 'N', 'S'):
        raise ValueError(f"bad default_ns {default_ns!r}")
    if default_ew is None:
        default_ew = DEFAULT_EW
    if default_ew not in ('e', 'w', 'E', 'W'):
        raise ValueError(f"bad default_ew {default_ew!r}")
    if ocr_scrub:
        twp_num = ocr_digits(twp_num)
    try:
        twp_num = str(int(twp_num))
    except ValueError:
        pass
    ns = default_ns
    if ns_g is not None:
        ns = ns_g[0]
    if rge_num is None:
        # "Range 2" edge case: bare '2' needs the word "Range" first.
        rge_num = rge2
    if ocr_scrub:
        rge_num = ocr_digits(rge_num)
    try:
        rge_num = str(int(rge_num))
    except ValueError:
        pass
    ew = default_ew
    if ew_g is not None:
        ew = ew_g[0]
    return f"T{twp_num}{ns.upper()}-R{rge_num}{ew.upper()}"


def find_twprge(text, default_ns=None, default_ew=None, preprocess=False,
                ocr_scrub=False):
    """All Twp/Rge's in the text as 'T154N-R97W' strings
    (plss_preprocess.py:212-240)."""
    if ocr_scrub:
        preprocess = True
    if preprocess:
        text, _ = preprocess_plss(text, default_ns, default_ew, ocr_scrub)
    return [unpack_twprge(mo, default_ns, default_ew)
            for mo in P.twprge_re.finditer(text)]


def _scrub_twprge_matches(rgx, text, default_ns, default_ew):
    """Swap each Twp/Rge match for its canonical form plus a space.

    Matches are found against the text as it stood when iteration
    began; each replacement applies to every occurrence of that exact
    matched substring in the evolving text
    (plss_preprocess.py:178-191).
    """
    ocr = rgx is P.pp_twprge_ocr_scrub
    if rgx is P.pp_twprge_pm and not P.pm_re.search(text):
        # The PM scrubber's pattern (TWPRGE + up-to-25 junk chars + PM)
        # backtracks super-linearly on every Twp/Rge NOT followed by a
        # principal meridian (the reference's documented perf hazard,
        # config.py:89-95).  It can only ever match if a PM token
        # exists at all, so a cheap pre-scan skips it with identical
        # semantics -- this alone is ~70% of parse kernel time on
        # PM-free corpora.
        return text
    for mo in rgx.finditer(text):
        clean = unpack_twprge(mo, default_ns=default_ns,
                              default_ew=default_ew, ocr_scrub=ocr)
        text = text.replace(mo.group(0), clean + ' ')
    return text


def reduce_whitespace(text):
    """Collapse space/tab runs, CR->LF, >=2 blank lines -> 1, to fixed
    point (plss_preprocess.py:194-209)."""
    # Closed form of the reference's fixed-point loop (space runs ->
    # ' ', tab runs -> ' ', \r -> \n, 3+ newlines -> 2, strip one
    # leading blank): after the leading strip no rule can re-create
    # leading whitespace, collapsing [ \t]+ post \r->\n subsumes the
    # two run rules in every interleaving, and neither collapse can
    # manufacture a new \n adjacency -- so one ordered pass IS the
    # fixed point (property-checked against the loop in
    # tests/test_plss_kernels.py).
    text = text.strip().replace('\r', '\n')
    text = _WS_RUN_RE.sub(' ', text)
    return _NL_RUN_RE.sub('\n\n', text)


def preprocess_plss(text, default_ns=None, default_ew=None,
                    ocr_scrub=False, no_pm=False):
    """Canonicalize all Twp/Rge variants in the text.

    Returns (preprocessed text, list of Twp/Rge's that were 'fixed',
    i.e. gained an N/S or E/W they lacked)
    (plss_preprocess.py:121-175).

    .. note:: The principal-meridian scrubber is super-linear in the
       number of Twp/Rge's (documented hazard,
       reference ``config.py:89-95``); ``no_pm=True`` skips it.
    """
    if default_ns is None:
        default_ns = DEFAULT_NS
    if default_ew is None:
        default_ew = DEFAULT_EW
    originals = find_twprge(text)
    scrubbers = list(_PP_SCRUBBERS)
    if no_pm:
        scrubbers.remove(P.pp_twprge_pm)
    if ocr_scrub:
        scrubbers.insert(0, P.pp_twprge_ocr_scrub)
    for rgx in scrubbers:
        text = _scrub_twprge_matches(rgx, text, default_ns, default_ew)
    text = reduce_whitespace(text)
    fixed = find_twprge(text)
    for twprge in originals:
        if twprge in fixed:
            fixed.remove(twprge)
    return text, fixed


_DOC_SEP = '\x00\n\x00'


def _batch_finditer(rgx, texts):
    """Yield ``(doc_idx, match)`` from ONE regex scan over the
    separator-joined batch instead of one ``finditer`` setup per
    document.

    Sound because no scrubber/finder pattern can consume the
    ``\\x00\\n\\x00`` separator: every consuming class is an explicit
    whitelist (``[\\.\\-–—,\\s]``, letter runs, digits) that excludes
    NUL, the one dot-run (``.{0,25}`` in ``pp_twprge_pm``, no DOTALL)
    cannot cross the embedded newline, and the only boundary
    constructs are lookbehinds -- so no match crosses a document edge
    and the per-document match sets are exactly the scalar ones
    (property-fuzzed in tests/test_plss_kernels.py).
    """
    from bisect import bisect_right
    bounds = []
    pos = 0
    for t in texts:
        bounds.append(pos)
        pos += len(t) + len(_DOC_SEP)
    for mo in rgx.finditer(_DOC_SEP.join(texts)):
        i = bisect_right(bounds, mo.start()) - 1
        yield i, mo, bounds[i]


def _batch_find_twprge(texts, default_ns, default_ew):
    """Per-doc ``find_twprge`` lists via one combined scan."""
    out = [[] for _ in texts]
    for i, mo, _ in _batch_finditer(P.twprge_re, texts):
        out[i].append(unpack_twprge(mo, default_ns, default_ew))
    return out


def preprocess_plss_batch(texts, default_ns=None, default_ew=None,
                          ocr_scrub=False, no_pm=False):
    """Batched :func:`preprocess_plss` over a list of documents --
    identical per-document results (the scalar path is the oracle in
    the property tests), but each scrubber regex scans the whole
    Arrow batch in ONE pass instead of once per document.

    The PM scrubber keeps its hazard guard at batch granularity: one
    cheap ``pm_re`` scan picks out the documents that contain a PM
    token at all, and the super-linear ``pp_twprge_pm`` pattern runs
    only over that (usually empty) subset.
    """
    if default_ns is None:
        default_ns = DEFAULT_NS
    if default_ew is None:
        default_ew = DEFAULT_EW
    if any(t is None or '\x00' in t for t in texts):
        # NUL in input defeats the join trick -- scalar fallback
        # (None normalizes to '' here; the scalar kernel's regex
        # scans need a string).
        return [preprocess_plss(t or '', default_ns, default_ew,
                                ocr_scrub, no_pm) for t in texts]
    cur = list(texts)
    originals = _batch_find_twprge(cur, default_ns, default_ew)
    scrubbers = list(_PP_SCRUBBERS)
    if no_pm:
        scrubbers.remove(P.pp_twprge_pm)
    if ocr_scrub:
        scrubbers.insert(0, P.pp_twprge_ocr_scrub)
    for rgx in scrubbers:
        ocr = rgx is P.pp_twprge_ocr_scrub
        if rgx is P.pp_twprge_pm:
            pm_docs = sorted({i for i, _, _ in
                              _batch_finditer(P.pm_re, cur)})
            if not pm_docs:
                continue
            sub = [cur[i] for i in pm_docs]
            for si, mo, _ in _batch_finditer(rgx, sub):
                i = pm_docs[si]
                clean = unpack_twprge(mo, default_ns=default_ns,
                                      default_ew=default_ew)
                cur[i] = cur[i].replace(mo.group(0), clean + ' ')
            continue
        per_doc = {}
        for i, mo, _ in _batch_finditer(rgx, cur):
            per_doc.setdefault(i, []).append(mo)
        for i, mos in per_doc.items():
            t = cur[i]
            for mo in mos:
                clean = unpack_twprge(mo, default_ns=default_ns,
                                      default_ew=default_ew,
                                      ocr_scrub=ocr)
                t = t.replace(mo.group(0), clean + ' ')
            cur[i] = t
    # reduce_whitespace, batched: per-doc strip, then the three
    # closed-form passes over the joined batch (neither run class can
    # cross the NUL separator).
    cur = [t.strip().replace('\r', '\n') for t in cur]
    combined = _DOC_SEP.join(cur)
    combined = _WS_RUN_RE.sub(' ', combined)
    combined = _NL_RUN_RE.sub('\n\n', combined)
    cur = combined.split(_DOC_SEP) if cur else []
    fixed_all = _batch_find_twprge(cur, default_ns, default_ew)
    out = []
    for i, text in enumerate(cur):
        fixed = fixed_all[i]
        for twprge in originals[i]:
            if twprge in fixed:
                fixed.remove(twprge)
        out.append((text, fixed))
    return out


def parse_documents_kernel(texts, layout=None, default_ns=None,
                           default_ew=None, ocr_scrub=False,
                           clean_up=None, require_colon=False,
                           segment=False, sec_within=False,
                           no_pm=False):
    """Batched :func:`parse_document` over a document list -- the
    Spark UDF entry.  Result-identical to the scalar path (property
    test + the reference-differential suite); the preprocess
    scrubbers run one combined regex scan per Arrow batch.

    (Batching the post-preprocess finder scans was measured and
    REJECTED: the layout probes are early-exit ``search`` calls that
    a whole-corpus ``finditer`` can only lose to, and the warning
    merge re-scans would double work on matching docs.)
    """
    texts = ['' if t is None else t for t in texts]
    pres = preprocess_plss_batch(texts, default_ns, default_ew,
                                 ocr_scrub, no_pm)
    return [parse_document(t, layout=layout, default_ns=default_ns,
                           default_ew=default_ew, ocr_scrub=ocr_scrub,
                           clean_up=clean_up,
                           require_colon=require_colon, segment=segment,
                           sec_within=sec_within, no_pm=no_pm,
                           _pre=pres[i])
            for i, t in enumerate(texts)]


def deduce_layout(text, candidates=None):
    """Best-guess layout of the (preprocessed) text
    (plss_parse.py:635-700)."""
    if candidates is None:
        candidates = [TRS_DESC, DESC_STR, S_DESC_TR, TR_DESC_S]
    text = text.strip()
    sec_mo = P.sec_word_re.search(text)
    twprge_mo = P.twprge_re.search(text)
    if not sec_mo or not twprge_mo:
        return COPY_ALL
    if sec_mo.start() < twprge_mo.start():
        guess = COPY_ALL
        if DESC_STR in candidates:
            guess = DESC_STR
        if S_DESC_TR in candidates and sec_mo.start() <= 1:
            guess = S_DESC_TR
        return guess
    if TR_DESC_S in candidates:
        between = text[twprge_mo.end():sec_mo.start()].strip()
        if len(between) >= 4:
            return TR_DESC_S
    if TRS_DESC in candidates:
        return TRS_DESC
    return COPY_ALL


def cleanup_desc(text):
    """Strip common parse artifacts from a description block, to fixed
    point (plss_parse.py:703-723)."""
    trailing_words = (' the', ' all in', ' all of', ' of', ' in', ' and')
    prev = None
    while text != prev:
        prev = text
        text = text.lstrip('.')
        text = text.strip(',;:-–—\t\n ')
        # One tuple-endswith guard replaces six lower()+endswith per
        # iteration in the (overwhelmingly common, and always final)
        # no-trailing-word case; a hit falls through to the exact
        # reference word-by-word loop.
        if not text.lower().endswith(trailing_words):
            continue
        for word in trailing_words:
            if text.lower().endswith(word):
                text = text[:-len(word)]
    return text


def _find_twprge_matches(text, layout, flags, flag_lines):
    """Layout-aware Twp/Rge matches as (short_twprge, start, end),
    dropping false positives like '...part of Section 4 of T154N-R97W'
    in sec-first layouts (plss_parse.py:42-119)."""
    matches = []
    j = 0
    for mo in P.twprge_re.finditer(text):
        if layout in (DESC_STR, TR_DESC_S, COPY_ALL):
            short = twprge_natural_to_short(unpack_twprge(mo))
            matches.append((short, mo.start(0), mo.end(0)))
            continue
        legit = True
        i = mo.start(0)
        sec_mo = None
        for sec_mo in P.multisec_re.finditer(text, pos=j, endpos=i):
            j = sec_mo.start(0)
        if sec_mo is not None:
            substring = text[sec_mo.start(0):mo.end(0)]
            if P.sec_twprge_in_between.search(substring) is not None:
                legit = False
        if legit:
            short = twprge_natural_to_short(unpack_twprge(mo))
            matches.append((short, mo.start(0), mo.end(0)))
        else:
            ignored = twprge_natural_to_short(unpack_twprge(mo))
            flag = f'twprge_ignored<{ignored}>'
            flags.append(flag)
            left = max(0, i - 20)
            # (flag, context) tuple: the reference appends the bare
            # context line here (plss_parse.py:114-116, its
            # flag_lines are shape-heterogeneous); our Arrow flag
            # struct requires the uniform pair -- same content,
            # normalized shape.
            flag_lines.append((flag, text[left:mo.end(0)]))
    return matches


SEC_COLON_CAUTIOUS = 'sec_colon_cautious'
_SECOND_PASS = 'second_pass'


def _find_sec_matches(text, layout, require_colon, flags, flag_lines,
                      _ms=None):
    """Layout-aware section matches as (sec_list, start, end)
    (plss_parse.py:122-253).

    ``require_colon``: False / True / SEC_COLON_CAUTIOUS (two-pass:
    require the colon, rerun without if nothing matched).

    ``_ms``: precomputed multisec match tuples ``(sec_txt, start, end,
    colon_is_none, rightmost_is_none)`` from the batch scan -- exactly
    the fields this function reads off each match object (the
    multisec finditer has no pos/endpos windowing, so the global
    batch scan finds the identical match set).
    """
    from .tract import unpack_secs

    matches = []
    if require_colon == _SECOND_PASS:
        need_colon = False
    elif isinstance(require_colon, bool):
        need_colon = require_colon
    else:
        need_colon = True
    if layout not in (TRS_DESC, S_DESC_TR):
        need_colon = False

    if _ms is None:
        # List, not generator: the colon-cautious second pass re-reads
        # the same match set.
        _ms = [(mo.group(0), mo.start(0), mo.end(0),
                mo['colon'] is None, mo['secnum_rightmost'] is None)
               for mo in P.multisec_re.finditer(text)]
    sec_nums = []
    for sec_txt, mstart, mend, colon_none, rightmost_none in _ms:
        legit = True
        sec_nums, unpack_flags, unpack_flag_lines = unpack_secs(sec_txt)
        # In sec-first layouts, a section preceded by 'of'/'said'/'in'/
        # 'within' is a continuation, not a new tract.
        illegal = (' of', ' said', ' in', ' within')
        prior = text[:mstart].rstrip()
        if layout in (TRS_DESC, S_DESC_TR) and prior.endswith(illegal):
            legit = False
        if need_colon and colon_none:
            legit = False
        if not legit:
            if len(sec_nums) > 1:
                flag = f"multisec_ignored<{','.join(sec_nums)}>"
            else:
                flag = f"sec_ignored<{sec_nums[0]}>"
            flags.append(flag)
            flag_lines.append((flag, sec_txt))
            continue
        if not rightmost_none:
            flag = f"multisec_found<{','.join(sec_nums)}>"
            flags.append(flag)
            flag_lines.append((flag, sec_txt))
        flags.extend(unpack_flags)
        flag_lines.extend(unpack_flag_lines)
        matches.append((sec_nums, mstart, mend))

    if matches and require_colon != _SECOND_PASS:
        return matches
    if matches:
        flag = f"pulled_sec_without_colon<{','.join(sec_nums)}>"
        # The reference appends the (flag, flag) TUPLE into its
        # string flags list (plss_parse.py:245-246 -- its own shape
        # bug); our Arrow schema types w_flags as array<string>, so
        # we carry the string in flags and the pair in flag_lines --
        # same information, serializable shape (documented
        # divergence, like the pinned unused_sec crash).
        flags.append(flag)
        flag_lines.append((flag, flag))
        return matches
    if require_colon == SEC_COLON_CAUTIOUS and layout in (TRS_DESC, S_DESC_TR):
        # Second pass: relax the colon requirement, discard staged flags.
        flags.clear()
        flag_lines.clear()
        return _find_sec_matches(text, layout, _SECOND_PASS, flags,
                                 flag_lines, _ms=_ms)
    return matches


# Marker kinds for the interleave walk (plss_parse.py:34-39).
_TWPRGE_START = 'TWPRGE_START'
_TWPRGE_END = 'TWPRGE_END'
_SEC_START = 'SEC_START'
_SEC_END = 'SEC_END'
_TEXT_START = 'TEXT_START'
_TEXT_END = 'TEXT_END'

_WARNING_SCANS = (
    (P.well_re, 'well', 5, 25),
    (P.depth_re, 'depth', 10, 20),
    (P.including_re, 'including', 0, 40),
    (P.less_except_re, 'less_except', 0, 40),
    (P.isfa_re, 'insofar', 0, 40),
)


def _scan_warning_flags(chunk, w_flags, w_flag_lines, _active=None):
    """Context-regex warning scan with rightward context merging of
    adjacent matches (plss_parse.py:1025-1071).

    ``_active``: flags whose regex is known (from the batch pre-scan)
    to match somewhere in this chunk; the others are skipped -- a
    regex with zero matches contributes nothing here, so the skip is
    exact.  The windowed merge re-scans stay per-chunk (their
    pos/endpos truncation semantics are not batchable)."""
    max_end = len(chunk)
    for rgx, flag, left_context, right_context in _WARNING_SCANS:
        if _active is not None and flag not in _active:
            continue
        start_pos = 0
        while True:
            start_mo = rgx.search(chunk, pos=start_pos)
            if not start_mo:
                break
            end_mo = start_mo
            final_end_mo = end_mo
            while True:
                left_bound = end_mo.end()
                right_bound = min(max_end, end_mo.end() + right_context)
                end_mo = rgx.search(chunk, pos=left_bound, endpos=right_bound)
                if not end_mo:
                    break
                final_end_mo = end_mo
            i = max(0, start_mo.start() - left_context)
            j = min(final_end_mo.end() + right_context, max_end)
            context = chunk[i:j].replace('\n', ' ').strip()
            w_flags.append(flag)
            w_flag_lines.append((flag, f"<{context}>"))
            start_pos = j


class _ChunkState:
    """Working state for the marker walk over one text chunk
    (plss_parse.py:726-1006)."""

    def __init__(self):
        self.twprge_queue = []
        self.sec_queue = []
        self.working_twprge = None
        self.working_sec = None
        self.twprge_used = False
        self.sec_used = False
        self.components = []
        self.unused = []
        self.w_flags = []
        self.w_flag_lines = []
        self.e_flags = []
        self.e_flag_lines = []

    def next_twprge(self):
        if not self.twprge_used and self.working_twprge not in (
                None, ERR_TWPRGE):
            flag = f"twprge_error<{self.working_twprge}>"
            self.e_flags.append(flag)
            self.e_flag_lines.append((flag, f"<{self.working_twprge}>"))
        self.twprge_used = False
        if self.twprge_queue:
            self.working_twprge = self.twprge_queue.pop(0)
        else:
            self.working_twprge = ERR_TWPRGE
        return self.working_twprge

    def next_sec(self):
        if not self.sec_used and self.working_sec not in (None, ERR_SEC):
            flag = f"sec_error<{self.working_sec}>"
            self.e_flags.append(flag)
            self.e_flag_lines.append(
                (flag, f"<{self.working_sec}/{self.working_twprge}>"))
        self.sec_used = False
        if self.sec_queue:
            self.working_sec = self.sec_queue.pop(0)
        else:
            self.working_sec = [ERR_SEC]
        return self.working_sec


def _parse_chunk(text, layout, require_colon, clean_up, mandate_layout,
                 sec_within, _scan=None):
    """Parse one chunk into tract components; returns a _ChunkState.

    Falls back to a COPY_ALL re-parse if no tract was identified
    (plss_parse.py:790-846).

    ``_scan``: batch-precomputed ``(deduced_layout, ms_tuples,
    warn_active)`` for the whole-document chunk (only passed when the
    chunk IS the preprocessed text): the deduced layout of this exact
    text, the multisec match tuples, and the set of warning flags
    whose regex matches somewhere in the text.
    """
    state = _ChunkState()
    chunk_layout = layout
    deduced, ms_tuples, warn_active = _scan or (None, None, None)
    if chunk_layout != COPY_ALL and not mandate_layout:
        chunk_layout = deduced if deduced is not None \
            else deduce_layout(text)

    # Reference quirk, reproduced for row-for-row parity: when a
    # layout is mandated (config layout without segment), ChunkParser
    # receives layout=None (plss_parse.py:446-448) and never
    # re-deduces it (plss_parse.py:797) -- so the FINDERS each deduce
    # the layout themselves (plss_parse.py:68,177: `if layout is
    # None: layout = deduce_layout(...)`) while the MARKER WALK runs
    # with layout=None, i.e. desc->sec pairing with both working
    # lists pre-staged (plss_parse.py:961-968: `None not in
    # [TRS_DESC, S_DESC_TR]`).  The mandated layout itself only ever
    # reaches segmentation and the copy_all branch.
    finder_layout = chunk_layout
    walk_layout = chunk_layout
    if mandate_layout and chunk_layout != COPY_ALL:
        finder_layout = deduced if deduced is not None \
            else deduce_layout(text)
        walk_layout = None

    tw_flags, tw_flag_lines = [], []
    twprge_matches = _find_twprge_matches(
        text, finder_layout, tw_flags, tw_flag_lines)
    state.w_flags.extend(tw_flags)
    state.w_flag_lines.extend(tw_flag_lines)
    sec_flags, sec_flag_lines = [], []
    sec_matches = _find_sec_matches(
        text, finder_layout, require_colon, sec_flags, sec_flag_lines,
        _ms=ms_tuples)
    state.w_flags.extend(sec_flags)
    state.w_flag_lines.extend(sec_flag_lines)

    # Interleave markers (plss_parse.py:867-890).
    markers = {0: _TEXT_START, len(text): _TEXT_END}
    for secs, start, end in sec_matches:
        markers[start] = _SEC_START
        markers[end] = _SEC_END
        state.sec_queue.append(secs)
    for twprge, start, end in twprge_matches:
        markers[start] = _TWPRGE_START
        markers[end] = _TWPRGE_END
        state.twprge_queue.append(twprge)
    positions = sorted(markers.keys())

    if chunk_layout == COPY_ALL:
        sec = state.next_sec()
        twprge = state.next_twprge()
        state.components.append({
            'desc': text, 'sec': [sec[0]], 'twprge': twprge,
            'sec_within': False,
        })
        _scan_warning_flags(text, state.w_flags, state.w_flag_lines,
                            _active=warn_active)
        return state

    def stage_tract(desc):
        desc = cleanup_desc(desc)
        state.components.append({
            'desc': desc, 'sec': state.working_sec,
            'twprge': state.working_twprge, 'sec_within': False,
        })
        state.sec_used = True
        state.twprge_used = True
        # A section list can be used only once.
        state.working_sec = [ERR_SEC]

    sec_first_layouts = (TRS_DESC, S_DESC_TR)
    twprge_first_layouts = (TRS_DESC, TR_DESC_S)
    final = len(positions) - 1

    if walk_layout not in sec_first_layouts:
        state.working_sec = state.next_sec()
    if walk_layout not in twprge_first_layouts:
        state.working_twprge = state.next_twprge()

    for count, pos in enumerate(positions):
        kind = markers[pos]
        next_pos = positions[min(final, count + 1)]
        next_kind = markers[next_pos]
        if kind == _TWPRGE_START:
            state.next_twprge()
            continue
        if kind == _SEC_START:
            state.next_sec()
            continue
        if kind == _TEXT_END:
            continue
        block = text[pos:next_pos]
        if walk_layout in sec_first_layouts and kind == _SEC_END:
            # sec -> desc layouts: end of a section starts its desc.
            stage_tract(block)
        elif (walk_layout not in sec_first_layouts
              and next_kind == _SEC_START):
            # desc -> sec layouts: text before a section is its desc.
            stage_tract(block)
        else:
            state.unused.append((len(state.components), block))

    # Recover unused working twprge/sec as error flags
    # (plss_parse.py:811-827).
    if not state.twprge_used and state.working_twprge != ERR_TWPRGE:
        state.twprge_queue.insert(0, state.working_twprge)
    # Deliberate divergence: the reference inserts a never-staged
    # (None) working sec here and then crashes on the join below
    # (plss_parse.py:811-827 raises TypeError for e.g.
    # 'Sec 14 of ...' under sec_colon_required).  A row-level crash is
    # unacceptable in a distributed engine, so None is skipped; the
    # unused-sec flags are otherwise identical.
    if not state.sec_used and state.working_sec not in (None, [ERR_SEC]):
        state.sec_queue.insert(0, state.working_sec)
    for twprge in state.twprge_queue:
        flag = f"unused_twprge<{twprge}>"
        state.e_flags.append(flag)
        state.e_flag_lines.append((flag, flag))
    for seclist in state.sec_queue:
        flag = f"unused_sec<{','.join(seclist)}>"
        state.e_flags.append(flag)
        state.e_flag_lines.append((flag, flag))

    if sec_within:
        _rebuild_sec_within(state.components, state.unused)

    if not state.components:
        # Nothing found: rerun the chunk as COPY_ALL
        # (plss_parse.py:835-846).  Reference quirk, reproduced for
        # row-for-row parity: the replacement ChunkParser hands its
        # results to the parent once during its own __init__
        # (plss_parse.py:779-787), and the original ChunkParser --
        # having stolen the replacement's staged attributes
        # (plss_parse.py:838-846) -- hands the same lists off AGAIN,
        # so every fallback's tract and flags reach the parent twice
        # (gen_flags_chunk also writes directly to the parent on both
        # passes, plss_parse.py:1068-1069).
        rep = _parse_chunk(text, COPY_ALL, require_colon, clean_up,
                           mandate_layout, sec_within, _scan=_scan)
        rep.components = rep.components + [dict(c)
                                           for c in rep.components]
        rep.w_flags = rep.w_flags * 2
        rep.w_flag_lines = rep.w_flag_lines * 2
        rep.e_flags = rep.e_flags * 2
        rep.e_flag_lines = rep.e_flag_lines * 2
        rep.unused = rep.unused * 2
        return rep

    _scan_warning_flags(text, state.w_flags, state.w_flag_lines,
                        _active=warn_active)
    return state


def _rebuild_sec_within(components, unused, min_length=4):
    """Reattach unused text to the single identified tract
    (plss_parse.py:1074-1125)."""
    if len(components) != 1:
        return
    tract = components[0]
    desc = tract['desc']
    orig = desc
    while unused:
        i, block = unused.pop(0)
        block = cleanup_desc(block)
        if len(block) >= min_length:
            if i == 0:
                desc = f"{block} {desc}"
            else:
                desc = f"{desc} {block}"
    if desc != orig:
        tract['sec_within'] = True
        tract['desc'] = desc


def _segment_chunks(text, layout):
    """Break the text into one chunk per matching Twp/Rge
    (plss_parse.py:531-632).  Returns (blocks, unused_blocks)."""
    flags, flag_lines = [], []
    matches = _find_twprge_matches(text, layout, flags, flag_lines)
    if not matches or layout == COPY_ALL:
        return [text], []
    blocks = []
    unused = []
    if layout in (TRS_DESC, TR_DESC_S):
        str_end = len(text)
        for i, (_, start, _) in enumerate(matches):
            next_start = str_end
            if i + 1 < len(matches):
                next_start = matches[i + 1][1]
            if i == 0 and start != 0:
                unused.append((0, text[:start]))
            blocks.append(cleanup_desc(text[start:next_start]))
    else:
        str_len = len(text)
        for i, (_, _, end) in enumerate(matches):
            prev_end = 0
            if i != 0:
                prev_end = matches[i - 1][2]
            if i == len(matches) - 1 and end != str_len:
                unused.append((1, text[end:]))
            blocks.append(cleanup_desc(text[prev_end:end]))
    return blocks, unused


def parse_document(text, layout=None, default_ns=None, default_ew=None,
                   ocr_scrub=False, clean_up=None, require_colon=False,
                   segment=False, sec_within=False, no_pm=False,
                   _pre=None, _scan=None):
    """Parse one raw PLSS description into tract components.

    Returns a dict with:

    - ``tracts``: list of dicts ``{'trs', 'desc', 'sec_within'}`` in
      creation order (multi-sections fanned out, one tract per sec);
    - ``w_flags`` / ``w_flag_lines`` / ``e_flags`` / ``e_flag_lines``;
    - ``layout``: the layout used;
    - ``pp_text``: the preprocessed text.

    Mirrors ``PLSSParser`` (plss_parse.py:256-528) minus the per-tract
    lot/QQ parsing, which is a separate stage (:mod:`.tract`).
    """
    mandate_layout = not segment and layout is not None
    # _pre: (pp_text, fixed) already computed by the batch
    # preprocessor (preprocess_plss_batch) -- the Spark UDF path.
    pp_text, fixed = _pre if _pre is not None else preprocess_plss(
        text, default_ns, default_ew, ocr_scrub, no_pm)
    if layout is None:
        layout = _scan[0] if _scan is not None \
            else deduce_layout(pp_text)
        if _scan is None and not segment:
            # The single chunk IS pp_text: hand the deduction down so
            # _parse_chunk doesn't redo the identical pure call.
            _scan = (layout, None, None)
    if clean_up is None:
        clean_up = layout != COPY_ALL

    w_flags, w_flag_lines = [], []
    e_flags, e_flag_lines = [], []
    if fixed:
        shorts = [twprge_natural_to_short(tr) for tr in fixed]
        flag = f"fixed_twprge<{','.join(shorts)}>"
        w_flags.append(flag)
        w_flag_lines.append((flag, flag))

    blocks = [pp_text]
    unused_components = []
    if segment:
        blocks, unused_components = _segment_chunks(pp_text, layout)

    components = []
    for chunk in blocks:
        chunk_layout = COPY_ALL if layout == COPY_ALL else None
        if mandate_layout:
            chunk_layout = layout
        state = _parse_chunk(chunk, chunk_layout, require_colon, clean_up,
                             mandate_layout, sec_within,
                             _scan=_scan if not segment else None)
        w_flags.extend(state.w_flags)
        w_flag_lines.extend(state.w_flag_lines)
        e_flags.extend(state.e_flags)
        e_flag_lines.extend(state.e_flag_lines)
        components.extend(state.components)
        unused_components.extend(state.unused)

    if sec_within:
        _rebuild_sec_within(components, unused_components)

    # Fan out multi-sections into one tract per section
    # (plss_parse.py:502-528).
    tracts = []
    sec_within_indexes = []
    uid = 0
    for comp in components:
        desc = comp['desc']
        if clean_up:
            desc = cleanup_desc(desc)
        for sec in comp['sec']:
            # Round-trip through the codec: the standardized key is
            # lowercased on decompose, so an error-sentinel Twp/Rge
            # (case-sensitive 'XXXz') collapses the whole key to the
            # full error TRS -- same as the reference, where Tract
            # always normalizes via trs_to_dict (tract.py:479-499).
            tracts.append({
                'trs': trs_normalize(f"{comp['twprge']}{sec}"),
                'desc': desc,
                'sec_within': comp['sec_within'],
            })
            if comp['sec_within']:
                sec_within_indexes.append(uid)
            uid += 1

    # Unused-text error flags (plss_parse.py:418-435).
    for _, block in unused_components:
        if len(block) >= MIN_REPORTABLE_UNUSED_LEN:
            flag = f"unused_desc<{block}>"
            e_flags.append(flag)
            e_flag_lines.append((flag, block))

    # sec_within warning flags (plss_parse.py:462-473).
    for i in sec_within_indexes:
        tract = tracts[i]
        flag = f"sec_within<{tract['trs']}>"
        w_flags.append(flag)
        short_desc = f"{tract['trs']}: {tract['desc']}"
        if len(short_desc) > 30:
            short_desc = short_desc[:27] + '...'
        w_flag_lines.append((flag, short_desc))

    # Error-TRS check (plss_parse.py:487-500).
    if any(is_error(trs_decompose(t['trs'])) for t in tracts):
        e_flags.append('twprge_error')
        e_flag_lines.append(('twprge_error', 'twprge_error'))

    return {
        'tracts': tracts,
        'w_flags': w_flags,
        'w_flag_lines': w_flag_lines,
        'e_flags': e_flags,
        'e_flag_lines': e_flag_lines,
        'layout': layout,
        'pp_text': pp_text,
    }

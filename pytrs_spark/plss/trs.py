"""TRS codec: pack/unpack the standardized Twp/Rge/Sec key ``'154n97w01'``.

Semantics match the reference ``pytrs/parser/trs/trs.py:383-636`` and
``pytrs/parser/config/master_config.py:50-62`` (sentinels), verified by
the golden tables in ``tests/test_trs.py`` of the reference.

Tri-state null semantics: a component is *valid*, *undefined* (never
specified; sentinels ``'___z'`` / ``'__'``), or *error* (specified but
unparseable; sentinels ``'XXXz'`` / ``'XX'``).  Undefined and error both
surface as ``None`` numerics; the ``*_undef`` booleans disambiguate.
"""

import re
from functools import lru_cache

# Sentinels (master_config.py:50-62).
ERR_SEC = 'XX'
ERR_TWP = 'XXXz'
ERR_RGE = ERR_TWP
ERR_TWPRGE = ERR_TWP + ERR_RGE
ERR_TRS = ERR_TWPRGE + ERR_SEC

UNDEF_SEC = '__'
UNDEF_TWP = '___z'
UNDEF_RGE = UNDEF_TWP
UNDEF_TWPRGE = UNDEF_TWP + UNDEF_RGE
UNDEF_TRS = UNDEF_TWPRGE + UNDEF_SEC

DEFAULT_NS = 'n'
DEFAULT_EW = 'w'
LEGAL_NS = ('n', 's', 'N', 'S')
LEGAL_EW = ('e', 'w', 'E', 'W')

# Component patterns (trs.py:93-95).
_TWP_PART = r"((?P<twp_num>\d{1,3})(?P<ns>[nsNS]))"
_RGE_PART = r"((?P<rge_num>\d{1,3})(?P<ew>[ewEW]))"
_SEC_PART = r"\d{2}"

_TWP_FULL = re.compile(r"\b" + _TWP_PART + r"\b")
_RGE_FULL = re.compile(r"\b" + _RGE_PART + r"\b")
_SEC_FULL = re.compile(r"\b" + _SEC_PART + r"\b")

# Unpacker for the full standardized key, incl. sentinels (trs.py:20-54).
_TRS_UNPACK = re.compile(
    r"(?P<twp>" + _TWP_PART + r"|" + ERR_TWP + r"|" + UNDEF_TWP + r")"
    r"(?P<rge>" + _RGE_PART + r"|" + ERR_RGE + r"|" + UNDEF_RGE + r")"
    r"(?P<sec>" + _SEC_PART + r"|" + ERR_SEC + r"|" + UNDEF_SEC + r")?"
)

# OCR character fixes usable inside numeric-only captures
# (unpackers.py:496-514).
_OCR_MAP = str.maketrans({'S': '5', 's': '5', 'O': '0',
                          'I': '1', 'l': '1', 'L': '1'})


def ocr_digits(txt: str) -> str:
    """Convert OCR-confusable letters to their intended digits."""
    return txt.translate(_OCR_MAP)


def trs_compose(twp, rge, sec, default_ns=None, default_ew=None,
                ocr_scrub=False) -> str:
    """Build the standardized key from components (trs.py:383-521).

    ``twp``/``rge`` may be int or str with/without direction letters;
    ``sec`` may be int or str.  Unparseable inputs become the error
    sentinels; missing inputs become the undefined sentinels.
    """
    if default_ns is None:
        default_ns = DEFAULT_NS
    if default_ew is None:
        default_ew = DEFAULT_EW
    if default_ns.lower() not in ('n', 's'):
        raise ValueError(f"default_ns must be n or s, got {default_ns!r}")
    if default_ew.lower() not in ('e', 'w'):
        raise ValueError(f"default_ew must be e or w, got {default_ew!r}")

    def split_dir(value, options, fallback):
        num = value
        direction = fallback
        if not isinstance(value, str):
            return num, None
        if fallback is not None and value.lower().endswith(options):
            num = value[:-1]
            direction = value[-1].lower()
        if ocr_scrub:
            num = ocr_digits(num)
        return num, direction

    twp, ns = split_dir(twp, LEGAL_NS, default_ns)
    rge, ew = split_dir(rge, LEGAL_EW, default_ew)
    sec, _ = split_dir(sec, (), None)
    if ns is None:
        ns = default_ns
    if ew is None:
        ew = default_ew

    if twp in (None, ''):
        twp = UNDEF_TWP
    try:
        twp = int(twp)
    except (ValueError, TypeError):
        pass
    if isinstance(twp, int):
        twp = f"{twp}{ns.lower()}"
    if twp != UNDEF_TWP and _TWP_FULL.search(twp) is None:
        twp = ERR_TWP

    if rge in (None, ''):
        rge = UNDEF_RGE
    try:
        rge = int(rge)
    except (ValueError, TypeError):
        pass
    if isinstance(rge, int):
        rge = f"{rge}{ew.lower()}"
    if rge != UNDEF_RGE and _RGE_FULL.search(rge) is None:
        rge = ERR_RGE

    if sec in (None, ''):
        sec = UNDEF_SEC
    else:
        sec = str(sec).rjust(2, '0')
    if sec != UNDEF_SEC and _SEC_FULL.search(sec) is None:
        sec = ERR_SEC

    return f"{twp}{rge}{sec}"


def trs_decompose(trs) -> dict:
    """Break the standardized key into its 12 fields (trs.py:544-636).
    Memoized (pure; TRS keys repeat); the dict is copied out."""
    return dict(_trs_decompose_cached(trs))


def trs_normalize(trs) -> str:
    """Just the normalized key (the ``'trs'`` field of
    :func:`trs_decompose`) without paying for the dict copy -- the
    document parser's fan-out loop only needs the string."""
    return _trs_decompose_cached(trs)['trs']


@lru_cache(maxsize=65536)
def _trs_decompose_cached(trs) -> dict:
    out = {
        'trs': ERR_TRS,
        'twp': ERR_TWP, 'twp_num': None, 'twp_ns': None, 'twp_undef': False,
        'rge': ERR_RGE, 'rge_num': None, 'rge_ew': None, 'rge_undef': False,
        'sec': ERR_SEC, 'sec_num': None, 'sec_undef': False,
    }
    if trs in ('', None):
        trs = UNDEF_TRS
    trs = str(trs).lower()
    mo = _TRS_UNPACK.search(trs)
    if not mo:
        return out

    if mo.group('twp_num') and mo.group('ns'):
        out['twp'] = mo.group('twp')
        out['twp_num'] = int(mo.group('twp_num'))
        out['twp_ns'] = mo.group('ns')
    elif mo.group('twp') == UNDEF_TWP:
        out['twp'] = mo.group('twp')
        out['twp_undef'] = True

    if mo.group('rge_num') and mo.group('ew'):
        out['rge'] = mo.group('rge')
        out['rge_num'] = int(mo.group('rge_num'))
        out['rge_ew'] = mo.group('ew')
    elif mo.group('rge') == UNDEF_RGE:
        out['rge'] = mo.group('rge')
        out['rge_undef'] = True

    sec = mo.group('sec')
    try:
        out['sec_num'] = int(sec)
    except (ValueError, TypeError):
        if sec == UNDEF_SEC:
            out['sec_undef'] = True
        else:
            sec = ERR_SEC
    out['sec'] = sec

    out['trs'] = f"{out['twp']}{out['rge']}{out['sec']}"
    return out


def pretty_twprge(trs_dict, t='T', delim='-', r='R', n=None, s=None,
                  e=None, w=None, undef='---X') -> str:
    """'154n97w14' fields -> 'T154N-R97W' (trs.py:193-238)."""
    twp_num = trs_dict['twp_num']
    rge_num = trs_dict['rge_num']
    ns = trs_dict['twp_ns'] or ''
    ew = trs_dict['rge_ew'] or ''
    if twp_num is None:
        twp_num = undef
    if rge_num is None:
        rge_num = undef
    ns = ns.upper()
    ew = ew.upper()
    if n is not None and ns.lower().startswith('n'):
        ns = n
    if s is not None and ns.lower().startswith('s'):
        ns = s
    if e is not None and ew.lower().startswith('e'):
        ew = e
    if w is not None and ew.lower().startswith('w'):
        ew = w
    return f"{t}{twp_num}{ns}{delim}{r}{rge_num}{ew}"


def twprge_natural_to_short(twprge: str) -> str:
    """'T154N-R97W' -> '154n97w' (unpackers.py:517-526)."""
    return re.sub(r'[rt-]', '', twprge.lower())


def twprge_short_to_natural(twprge: str) -> str:
    """'154n97w' -> 'T154N-R97W' (unpackers.py:529-540)."""
    return re.sub(r'(N|S)', r'\1-R', f"T{twprge.upper()}")


def is_error(d, twp=True, rge=True, sec=True) -> bool:
    """Whether any checked component is an error (trs.py:276-291)."""
    return ((twp and d['twp_num'] is None and not d['twp_undef'])
            or (rge and d['rge_num'] is None and not d['rge_undef'])
            or (sec and d['sec_num'] is None and not d['sec_undef']))

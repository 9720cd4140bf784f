"""Vectorized exact text statistics over one Arrow batch (guide §4.2).

Bit-identical counterparts of the JVM stat forms in ``functions/text.py``
(``word_count_rx``, the non-whitespace length inside ``mean_word_len_rx``,
``symbol_count``, and ``dup_line_fraction``'s non-blank/distinct line
counts), computed once per Arrow batch over the batch's contiguous UTF-8
buffer instead of one regex/translate pass per statistic in the JVM
projection. Every statistic moved here is defined over FIXED ASCII
character classes (Java default-mode ``\\s`` is exactly the 6-char set
below; ``spec.SYMBOL_RE`` is a literal ASCII class, asserted in text.py)
or raw byte equality (line dedup) — no Unicode table is consulted, so the
counts cannot drift across JVM/Python/ICU versions. The
Unicode-table-sensitive stats (``alpha_ratio``'s ``\\p{L}``, stopword
``lower()``) deliberately STAY in the JVM — see
``rules/heuristics.with_text_stats``.

Why bytes, not codepoints: in UTF-8 every ASCII byte value appears ONLY
as a standalone ASCII character (continuation bytes are ``0x80-0xBF``,
lead bytes of multibyte sequences ``0xC2+``), so counting whitespace or
symbol BYTES equals counting those CODEPOINTS, and the codepoint length
Spark's ``length()`` reports is ``total_bytes - continuation_bytes``.
One ``pyarrow`` conversion exposes the shared data buffer + row offsets;
per-row sums are two cumsum gathers, no per-row Python except the line
dedup (C-speed ``str.split``/``set`` on the few lines per doc).
"""

from __future__ import annotations

import numpy as np

from dataquality_spark import spec

# Java regex \s (default, non-UNICODE_CHARACTER_CLASS) — see text._WS_CHARS
_WS_BYTES = b" \t\n\x0b\f\r"
# all-ASCII literal class, asserted literal in functions/text.py
_SYM_BYTES = spec.SYMBOL_RE[1:-1].encode("ascii")
# blank-line test chars: a line from a '\n' split contains no '\n', so the
# 5 remaining \s chars decide blankness (same reasoning as text.is_blank)
_LINE_WS = " \t\x0b\f\r"

_WS_LUT = np.zeros(256, dtype=np.bool_)
_WS_LUT[list(_WS_BYTES)] = True
_SYM_LUT = np.zeros(256, dtype=np.bool_)
_SYM_LUT[list(_SYM_BYTES)] = True

# --- fast-path gate for the Unicode-SENSITIVE stats (letterless tokens,
# stopword counts). A row qualifies when every byte is ASCII (< 0x80) and
# none is in 0x1C-0x1F: on such rows the Unicode-table-dependent JVM forms
# collapse to fixed ASCII semantics — \p{L} ∩ ASCII = [A-Za-z], full
# toLowerCase = [A-Z]→[a-z], and Python's str.split() whitespace set ∩
# the remaining ASCII range = exactly Java's 6-char \s (Python also treats
# 0x1C-0x1F as whitespace, Java does not — hence their exclusion from the
# gate). Non-qualifying rows yield NULL and the JVM regex forms run only
# on that residue (the sparse-return pattern of scrub_series_sparse).
_FASTGATE_BAD = np.zeros(256, dtype=np.bool_)
_FASTGATE_BAD[0x80:] = True
_FASTGATE_BAD[0x1C:0x20] = True


# The fast branch works on the row's raw BYTES (sliced straight off the
# Arrow buffer): on a gate-admitted row the text is pure ASCII, where
# ``bytes.lower()`` == full toLowerCase, ``bytes.split()``'s whitespace
# set is EXACTLY Java's 6-char \s (b" \t\n\r\x0b\f" — unlike str.split,
# no 0x1C-0x1F), and ``bytes.translate`` deletion runs at memchr speed
# (str.translate with a dict table measured 75 µs/row; bytes 0.3 µs).
#
# combined stopword lookup: token bytes → compact key (1-based so the
# C-level ``filter(None, map(get, toks))`` drops misses without a Python
# loop); KEYMAT[key-1, lang_i] = 1 when the token is in LANGS[lang_i]'s
# stoplist. ONE dict probe per token yields the counts for all 13
# languages at once (the claimed-language selection happens in the JVM,
# which knows ``lang``). Non-ASCII stopwords (e.g. 'että', 'más') are
# unreachable from ASCII-only tokens and simply never hit.
_STOP_KEY: dict[bytes, int] = {}
for _ws in spec.STOPWORDS.values():
    for _w in _ws:
        _STOP_KEY.setdefault(_w.encode("utf-8"), len(_STOP_KEY) + 1)
_N_KEYS = len(_STOP_KEY)
_KEYMAT = np.zeros((_N_KEYS, len(spec.LANGS)), dtype=np.int64)
for _li, _lg in enumerate(spec.LANGS):
    for _w in spec.STOPWORDS[_lg]:
        _KEYMAT[_STOP_KEY[_w.encode("utf-8")] - 1, _li] = 1

# letterless tokens via two C-level byte passes: delete every byte that
# is neither [a-z] nor Java-\s, then count surviving tokens — deletion
# cannot merge tokens (whitespace is kept) nor split one (remaining
# bytes of a token stay adjacent), so a token survives iff it contained
# a letter, and letterless = word_cnt − len(translate(...).split()).
# On a lowered ASCII row \p{L} collapses to [a-z], so this is exactly
# the JVM's (^|\s)[^\p{L}\s]+(?=\s|$) count (parity-tested).
_DEL_NONLET = bytes(c for c in range(128)
                    if c not in set(b"abcdefghijklmnopqrstuvwxyz"
                                    + _WS_BYTES))


def _seg_sums(mask: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """Per-row sums of a byte mask given int64 row offsets [n+1].

    ``np.add.reduceat`` over the NON-EMPTY rows' start offsets: a direct
    segment reduction, no prefix-sum array (the previous cumsum spelling
    measured ~11 ns/byte × 5 stats — 60% of the whole kernel; reduceat
    does one add per byte and writes n values instead of len(mask)).
    Empty rows are excluded because reduceat yields a[i] (not 0) for an
    empty segment and faults on index == len(a); zero-width rows between
    two non-empty starts contribute no bytes, so the segment between
    consecutive non-empty starts is exactly the earlier row's bytes."""
    n = len(offs) - 1
    out = np.zeros(n, dtype=np.int64)
    nz = offs[:-1] < offs[1:]
    if nz.any():
        out[nz] = np.add.reduceat(mask, offs[:-1][nz], dtype=np.int64)
    return out


def stats_batch(texts) -> dict[str, np.ndarray]:
    """texts: pandas Series (str/None) → dict of int64 arrays:

    - ``word_cnt``      — maximal non-\\s runs (== regexp_count '\\S+')
    - ``nonws_len``     — codepoints not in the 6-char \\s set
                          (== length(translate(text, WS, '')))
    - ``symbol_cnt``    — codepoints in spec.SYMBOL_RE (== symbol_count)
    - ``nb_lines``      — non-blank lines after a '\\n' split
    - ``nb_distinct``   — distinct non-blank lines (byte equality)

    plus the GATED fast-path stats (valid ONLY where ``fast`` is True —
    see ``_FASTGATE_BAD``; callers must emit NULL elsewhere so the JVM
    regex forms decide those rows):

    - ``fast``          — bool: row qualifies for the ASCII fast path
    - ``letterless``    — tokens containing no letter (== the JVM's
                          ``(^|\\s)[^\\p{L}\\s]+(?=\\s|$)`` count; on a
                          fast row \\p{L} ∩ ASCII = [A-Za-z])
    - ``stop_cnts``     — [n, len(spec.LANGS)] tokens equal to a stopword
                          per language, over full-lowercased text (ASCII
                          lower on a fast row)

    Null rows yield 0 everywhere — the JVM forms' coalesce/gate behavior
    (word_cnt coalesces NULL→0; every fraction is gated on its count).
    """
    import pyarrow as pa

    n = len(texts)
    out = {
        "word_cnt": np.zeros(n, dtype=np.int64),
        "nonws_len": np.zeros(n, dtype=np.int64),
        "symbol_cnt": np.zeros(n, dtype=np.int64),
        "nb_lines": np.zeros(n, dtype=np.int64),
        "nb_distinct": np.zeros(n, dtype=np.int64),
        "fast": np.ones(n, dtype=np.bool_),
        "letterless": np.zeros(n, dtype=np.int64),
        "stop_cnts": np.zeros((n, _KEYMAT.shape[1]), dtype=np.int64),
    }
    if n == 0:
        return out
    arr = pa.array(texts, type=pa.large_string(), from_pandas=True)
    # large_string buffers: [validity, int64 offsets, utf-8 data]
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int64, count=n + 1)
    nbytes_total = int(offs[-1]) - int(offs[0])
    if nbytes_total:
        data = np.frombuffer(arr.buffers()[2], dtype=np.uint8,
                             count=int(offs[-1]))
        if int(offs[0]):  # sliced array: rebase offsets onto the view
            data = data[int(offs[0]):]
            offs = offs - offs[0]
        ws = _WS_LUT[data]
        cont = (data & 0xC0) == 0x80
        nbytes = offs[1:] - offs[:-1]
        # ws and continuation bytes are disjoint (\s is ASCII, cont is
        # 0x80-0xBF) — ONE segment reduction covers both, and
        # codepoints = bytes - continuation bytes; each \s char is 1 byte
        out["nonws_len"] = nbytes - _seg_sums(ws | cont, offs)
        out["symbol_cnt"] = _seg_sums(_SYM_LUT[data], offs)
        # fast-path gate: zero disqualifying bytes in the row
        out["fast"] = _seg_sums(_FASTGATE_BAD[data], offs) == 0
        # word starts: non-ws byte whose predecessor (within the ROW) is \s
        # or the row start — the global shift would merge runs across row
        # boundaries, so row-start positions are overridden explicitly
        sw = ~ws
        sw[1:] &= ws[:-1]
        starts = offs[:-1][offs[:-1] < offs[1:]]  # non-empty rows only
        sw[starts] = ~ws[starts]
        out["word_cnt"] = _seg_sums(sw, offs)
    # line dedup: per-row C-speed str ops (few lines per doc); byte
    # equality of str == codepoint equality == UTF8String equality.
    # The SAME loop runs the fast-path token stats on qualifying rows:
    # on an ASCII row without 0x1C-0x1F, str.split() == the Java \s
    # tokenizer, str.lower() == full toLowerCase, and a letter is [a-z]
    # after lowering — so set/dict probes reproduce the JVM regex counts
    # exactly (parity-tested per statistic).
    nb_lines = out["nb_lines"]
    nb_distinct = out["nb_distinct"]
    letterless = out["letterless"]
    # plain-Python scalars for the hot loop: indexing numpy arrays with a
    # loop variable costs ~100ns per access in boxing alone
    fast_l = out["fast"].tolist()
    wc_l = out["word_cnt"].tolist()
    buf = data.tobytes() if nbytes_total else b""
    offs_l = offs.tolist() if nbytes_total else None
    key_get = _STOP_KEY.get
    del_nonlet = _DEL_NONLET
    hit_rows: list[int] = []
    hit_keys: list[int] = []
    for i, t in enumerate(texts):
        if not t or not isinstance(t, str):
            continue
        nb = [ln for ln in t.split("\n") if ln.strip(_LINE_WS)]
        if nb:
            nb_lines[i] = len(nb)
            nb_distinct[i] = len(set(nb))
        if fast_l[i]:
            # raw row bytes straight off the Arrow buffer (ASCII row —
            # bytes ops below are exactly the JVM semantics, see above)
            tb = buf[offs_l[i]:offs_l[i + 1]].lower()
            # C-level pipeline: split → dict probes → drop misses
            hits = list(filter(None, map(key_get, tb.split())))
            if hits:
                hit_keys.extend(hits)
                hit_rows.extend([i] * len(hits))
            letterless[i] = wc_l[i] - len(
                tb.translate(None, del_nonlet).split())
    if hit_keys:
        # one batched accumulation: (row, key) histogram → one matmul
        flat = np.asarray(hit_rows, dtype=np.int64) * _N_KEYS \
            + (np.asarray(hit_keys, dtype=np.int64) - 1)
        hist = np.bincount(flat, minlength=n * _N_KEYS).reshape(n, _N_KEYS)
        out["stop_cnts"] = hist @ _KEYMAT
    return out

"""FastLanes vector codecs in vectorized NumPy — the decode-kernel family the
reference materializes through (SURVEY.md §2.A′), reimplemented from the
published model rather than bound to the vendored C++.

Reference parity map (every kernel is the semantic twin of a materializer
kernel header in the reference — the byte-level segment framing lives in the
un-vendored external FastLanes library, see fls_native.py module docstring):

- FFOR (frame-of-reference + bit-packing over 1024-value vectors)
  → ``ffor_encode`` / ``ffor_decode``
  (src/include/reader/materializer/kernels/unffor_kernel.hpp:7-30; the
  FastLanes layout paper's FOR+BP over VEC_SZ=1024)
- Dictionary (per-chunk key array + packed per-vector indices; string dicts
  as end-offset array + byte blob, exactly the offsets walk in
  kernels/dictionary_kernel.hpp:60-78) → ``dict_offsets_bytes`` /
  ``strings_from_offsets``
- Constant vector (kernels/constant_kernel.hpp:11-52) → ``ENC_CONSTANT``
  in fls_native.py (a single stored value broadcast to the vector)
- RLE as index-mapped runs: run-value array + per-position run index
  (kernels/rle_map_kernel.hpp:7-24 decodes ``rle_vals[idxs[i]]``)
  → ``rle_encode`` / ``rle_decode``
- DELTA (first value + FFOR of the successive differences; decode is a
  running sum) → ``delta_encode`` / ``delta_decode``. The FastLanes layout
  paper's transposed order exists to make this decode fast: the vector
  splits into independent lanes, each with its own running sum, that SIMD
  registers add in parallel. NumPy's ``cumsum`` runs the one sequential sum
  in C, so the dense order stores the same information
- ALP for doubles/floats: decimal-scaled integers + patched exceptions
  (kernels/alp_kernel.hpp; published ALP scheme: enc = round(v·10^e/10^f),
  dec = enc·10^f/10^e, out-of-domain values patched positionally)
  → ``alp_choose`` / ``alp_encode`` / ``alp_decode``. Decode divides by the
  exact double 10^e rather than multiplying by the inexact 10^-e, and the
  encoder's exactness check uses the same formula, so every double that is
  the correctly rounded value of a decimal encodes without an exception;
  the exponent is the one with the smallest estimated size (bit width ×
  values + 80 bits per exception), as in the ALP paper
- Uncompressed (kernels/uncompressed_kernel.hpp) → raw little-endian
- FSST (symbol-table string compression, ≤255 symbols of 1-8 bytes +
  escape byte; kernels/fsst_kernel.hpp:11-59, fsst_dict_kernel.hpp:18-80;
  published FSST scheme) → ``fsst_build_table`` / ``fsst_encode`` /
  ``fsst_decode`` — table built by the paper's iterative greedy
  refinement, shared per chunk like the reference's per-segment table
- Frequency (one frequent value + exception positions/values;
  kernels/frequency_kernel.hpp:8-69) → ``freq_encode`` / ``freq_decode``
- SLPatch (patched FFOR: bulk-width bit-packing + exception patching;
  kernels/slpatch_kernel.hpp:8-31) → ``slpatch_encode`` /
  ``slpatch_decode``

All functions operate on one logical vector of ``VEC_SZ`` = 1024 values
(the reference's CFG::VEC_SZ; tail vectors are shorter). Packing is dense
little-endian W-bit fields; the C++ kernels use the interleaved transposed
layout for SIMD decode speed, which is a physical permutation with identical
information content — NumPy decodes whole vectors at once either way, so the
dense layout is the idiomatic equivalent, and it is what our writer frames.
"""

from __future__ import annotations

import functools

import numpy as np

#: FastLanes vector size (reference CFG::VEC_SZ / fls_writer.hpp:12-22)
VEC_SZ = 1024

_U64 = np.uint64


# ---------------------------------------------------------------- bit packing
@functools.lru_cache(maxsize=256)  # ≤ ~40 KB each; vectors are ≤ VEC_SZ long
def _bit_layout(n: int, width: int) -> tuple[np.ndarray, ...]:
    """Where ``n`` dense ``width``-bit fields sit in 64-bit words, shared by
    every vector of that length and width (read-only arrays):
    ``(word, off, starts, spill, spill_word, spill_shift)``. ``starts``
    marks the first field of each word; ``spill`` lists the fields that
    cross into the next word, ``spill_word`` that word and ``spill_shift``
    the 64 - off that moves their high bits there."""
    bitpos = np.arange(n, dtype=_U64) * _U64(width)
    word = (bitpos >> _U64(6)).astype(np.int64)
    off = bitpos & _U64(63)
    starts = np.flatnonzero(np.diff(word, prepend=-1))
    spill = np.flatnonzero(off + _U64(width) > _U64(64))
    out = (word, off, starts, spill, word[spill] + 1, _U64(64) - off[spill])
    for a in out:
        a.setflags(write=False)
    return out


def pack_bits(vals: np.ndarray, width: int) -> bytes:
    """Pack ``vals`` (uint64 array, each < 2**width) into dense little-endian
    ``width``-bit fields. width == 0 → empty payload (all values are 0)."""
    if width == 0:
        return b""
    v = vals.astype(_U64, copy=False)
    word, off, starts, spill, spill_word, spill_shift = _bit_layout(len(v), width)
    out = np.zeros((len(v) * width + 63) // 64, dtype=_U64)
    # fields never share a bit, so OR == ADD: sum each word's low parts in
    # one reduceat; at most one field spills into any word
    out[word[starts]] = np.add.reduceat(v << off, starts)
    out[spill_word] |= v[spill] >> spill_shift
    return out.tobytes()


def unpack_bits(buf: bytes, width: int, n: int) -> np.ndarray:
    """Inverse of :func:`pack_bits`: n ``width``-bit fields → uint64 array."""
    if width == 0:
        return np.zeros(n, dtype=_U64)
    words = np.frombuffer(buf, dtype=_U64)
    word, off, _, spill, spill_word, spill_shift = _bit_layout(n, width)
    out = words[word] >> off
    out[spill] |= words[spill_word] << spill_shift
    if width < 64:
        out &= _U64((1 << width) - 1)
    return out


# ----------------------------------------------------------------------- FFOR
def ffor_encode(arr: np.ndarray) -> tuple[int, int, bytes]:
    """Frame-of-reference + bit-pack one integer vector.

    Returns ``(base, width, payload)``: base = min value (the frame),
    width = bits needed for max(value - base), payload = packed deltas.
    Signed inputs are handled by the signed base subtraction — deltas are
    always non-negative (unffor_kernel.hpp reinterprets to the signed view
    after the unsigned unpack+add, same algebra)."""
    a = arr.astype(np.int64, copy=False)
    base = int(a.min()) if len(a) else 0
    # delta in uint64 wraps correctly for the full int64 domain
    delta = (a.astype(_U64) - _U64(base & 0xFFFFFFFFFFFFFFFF)) & _U64(0xFFFFFFFFFFFFFFFF)
    mx = int(delta.max()) if len(delta) else 0
    width = int(mx).bit_length()
    return base, width, pack_bits(delta, width)


def ffor_decode(base: int, width: int, payload: bytes, n: int) -> np.ndarray:
    """Inverse of :func:`ffor_encode` → int64 vector."""
    delta = unpack_bits(payload, width, n)
    return (delta + _U64(base & 0xFFFFFFFFFFFFFFFF)).astype(np.int64)


# ------------------------------------------------------------------------ RLE
def rle_encode(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Index-mapped RLE: ``(run_values, idxs)`` with
    ``arr[i] == run_values[idxs[i]]`` — the exact decode contract of
    rle_map_kernel.hpp:18-23."""
    if len(arr) == 0:
        return arr[:0], np.zeros(0, dtype=_U64)
    change = np.empty(len(arr), dtype=bool)
    change[0] = True
    np.not_equal(arr[1:], arr[:-1], out=change[1:])
    idxs = np.cumsum(change) - 1
    return arr[change], idxs.astype(_U64)


def rle_decode(run_values: np.ndarray, idxs: np.ndarray) -> np.ndarray:
    return run_values[idxs.astype(np.int64)]


# ---------------------------------------------------------------------- DELTA
def delta_encode(arr: np.ndarray) -> tuple[int, int, int, bytes]:
    """DELTA: the first value, then the FFOR of the successive differences.

    Returns ``(first, base, width, payload)``. ``np.diff`` wraps in int64, and
    :func:`delta_decode`'s running sum wraps back, so every int64 vector
    roundtrips, adjacent ``INT64_MIN``/``INT64_MAX`` included."""
    a = arr.astype(np.int64, copy=False)
    first = int(a[0]) if len(a) else 0
    return (first, *ffor_encode(np.diff(a)))


def delta_decode(first: int, base: int, width: int, payload: bytes, n: int) -> np.ndarray:
    """Inverse of :func:`delta_encode` → int64 vector of ``n`` values."""
    out = np.empty(n, dtype=np.int64)
    if n:
        out[0] = first
        out[1:] = ffor_decode(base, width, payload, n - 1)
        np.cumsum(out, out=out)
    return out


# ------------------------------------------------------------------------ ALP
#: candidate decimal exponents (ALP probes e ∈ [0..18]); every power of ten
#: up to 10^22 is an exact double, so dividing by one is correctly rounded
_ALP_MAX_E = 18
_F10 = np.power(10.0, np.arange(_ALP_MAX_E + 1))
#: bits the writer stores per exception: the 8-byte value and 2-byte position
_ALP_EXC_BITS = 80


def _alp_try(v: np.ndarray, e: int, f: int) -> np.ndarray:
    """Integers i with v == i * 10^f / 10^e where representable, else NaN.
    The check is :func:`alp_decode`'s formula, so a hit decodes byte-exact."""
    # overflow to inf is expected for large |v| at high e — those lanes are
    # rejected by the isfinite/magnitude gate and land on the exception path
    with np.errstate(over="ignore", invalid="ignore"):
        scaled = v * _F10[e] / _F10[f]
        # fastround trick domain: |scaled| must fit well inside 2^51 (NaN
        # and ±inf fail the compare)
        i = np.round(scaled)
        exact = (np.abs(scaled) < 2.0**51) & (i * _F10[f] / _F10[e] == v)
    return np.where(exact, i, np.nan)


def alp_choose(v: np.ndarray, sample: int = 32) -> tuple[int, int]:
    """Pick the exponent that minimizes the estimated encoded size on a
    sample (ALP's size-scored search). Every ``e`` is scored in one pass:
    sample size × bit width of the exact ints' range, plus
    ``_ALP_EXC_BITS`` per exception; the first minimum wins. ``f`` stays 0:
    with the exact division a double that is the correctly rounded value
    of a decimal with ≤ e fraction digits already encodes at (e, 0)."""
    s = v[:: max(1, len(v) // sample)][:sample]
    s = s[np.isfinite(s)]
    if len(s) == 0:
        return 0, 0
    with np.errstate(over="ignore", invalid="ignore"):
        scaled = s * _F10[:, None]
        i = np.round(scaled)
        exact = (np.abs(scaled) < 2.0**51) & (i / _F10[:, None] == s)
    lo = np.where(exact, i, np.inf).min(axis=1)
    hi = np.where(exact, i, -np.inf).max(axis=1)
    width = np.frexp(np.where(hi >= lo, hi - lo, 0.0))[1]  # = bit_length
    cost = len(s) * width + _ALP_EXC_BITS * (len(s) - exact.sum(axis=1))
    return int(np.argmin(cost)), 0


def alp_encode(
    v: np.ndarray, e: int, f: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Encode one double vector against (e, f).

    Returns ``(ints, exc_pos, exc_vals)``: ints = int64 encodings (exception
    slots hold the first valid int — the reference patches them after decode,
    so the placeholder value is free), exc_pos/exc_vals = positions + raw
    doubles of values the scheme cannot represent (NaN, ±inf, values with no
    exact decimal at this exponent)."""
    t = _alp_try(v, e, f)
    # -0.0 == 0.0 passes the exactness check but would decode as +0.0,
    # losing the IEEE-754 sign bit — route it through the exception path
    # so the roundtrip stays BYTE-exact, not merely value-equal (matters
    # for hash/fingerprint parity on float columns)
    bad = np.isnan(t) | ((v == 0) & np.signbit(v))
    exc_pos = np.flatnonzero(bad)
    exc_vals = v[exc_pos]
    fill = 0.0
    good = np.flatnonzero(~bad)
    if len(good):
        fill = t[good[0]]
    ints = np.where(bad, fill, t).astype(np.int64)
    return ints, exc_pos.astype(_U64), exc_vals


def alp_decode(
    ints: np.ndarray, e: int, f: int, exc_pos: np.ndarray, exc_vals: np.ndarray
) -> np.ndarray:
    out = ints.astype(np.float64)
    out *= _F10[f]
    out /= _F10[e]  # the exact division _alp_try checked against
    if len(exc_pos):
        out[exc_pos.astype(np.int64)] = exc_vals
    return out


# ----------------------------------------------------------------------- FSST
#: code 255 is the escape marker (next byte is a literal), so the symbol
#: table holds at most 255 entries of 1-8 bytes — the published FSST
#: geometry (kernels/fsst_kernel.hpp:11-59 decodes through the same
#: 255-symbol table + escape contract via fsst_decompress)
FSST_ESCAPE = 255
FSST_MAX_SYMBOLS = 255
FSST_MAX_SYMLEN = 8


def _fsst_pattern(table: list[bytes]):
    """Greedy longest-match tokenizer for a symbol table: a literal
    alternation ordered longest-first (regex alternation takes the first —
    here longest — literal that matches at the position), with a final
    any-byte fallback so the parse is total. Matching runs in the re
    engine (C), not per-byte Python."""
    import re

    parts = sorted(table, key=len, reverse=True)
    alts = b"|".join(re.escape(s) for s in parts)
    return re.compile((alts + b"|." if alts else b"."), re.DOTALL)


def fsst_build_table(sample: bytes, iterations: int = 4) -> list[bytes]:
    """Build an FSST symbol table from a sample blob by the paper's
    iterative greedy refinement: parse the sample with the current table,
    score every emitted segment and every adjacent-segment concatenation
    (≤ 8 bytes) by apparent gain = count × length, keep the top 255.
    Deterministic (ties broken by symbol bytes)."""
    from collections import Counter

    table: list[bytes] = []
    if not sample:
        return table
    for _ in range(iterations):
        segs = [m.group() for m in _fsst_pattern(table).finditer(sample)]
        gains = Counter()
        for s in segs:
            gains[s] += len(s)
        for a, b in zip(segs, segs[1:]):
            ab = a + b
            if len(ab) <= FSST_MAX_SYMLEN:
                gains[ab] += len(ab)
        ranked = sorted(gains.items(), key=lambda kv: (-kv[1], kv[0]))
        table = [s for s, _ in ranked[:FSST_MAX_SYMBOLS]]
    return table


def fsst_encode(blob: bytes, table: list[bytes], pat=None) -> bytes:
    """Encode one byte string: greedy longest-match against the table →
    one code byte per symbol; bytes not in the table are emitted as
    (escape, literal) pairs. Pass ``pat`` (from :func:`_fsst_pattern`) to
    amortize the tokenizer across many strings."""
    if pat is None:
        pat = _fsst_pattern(table)
    idx = {s: i for i, s in enumerate(table)}
    out = bytearray()
    for m in pat.finditer(blob):
        s = m.group()
        i = idx.get(s)
        if i is None:
            out.append(FSST_ESCAPE)
            out += s
        else:
            out.append(i)
    return bytes(out)


def fsst_decode(code: bytes, table: list[bytes]) -> bytes:
    """Inverse of :func:`fsst_encode`. Escape-free stretches decode as a
    bulk table gather (list __getitem__ + join — no per-symbol Python
    branching); escapes are handled by jumping between them. Decoding a
    concatenation of per-string encodings yields the concatenation of the
    strings (escape pairs never span string boundaries), which is how the
    chunk decoder runs one pass per vector."""
    esc = b"%c" % FSST_ESCAPE
    get = table.__getitem__
    pos, parts = 0, []
    while True:
        e = code.find(esc, pos)
        if e < 0:
            parts.append(b"".join(map(get, code[pos:])))
            break
        parts.append(b"".join(map(get, code[pos:e])))
        parts.append(code[e + 1 : e + 2])
        pos = e + 2
    return b"".join(parts)


# ------------------------------------------------------------------ frequency
def freq_encode(arr: np.ndarray) -> tuple[int, np.ndarray, np.ndarray]:
    """Frequency encoding (kernels/frequency_kernel.hpp:8-69): ONE frequent
    value + an exception list of (position, value) for everything else.
    Returns ``(top, exc_pos, exc_vals)``. Positions serialize as uint16,
    so inputs are capped at 0xFFFF values — enforced here so a future
    caller with a longer array fails loudly at encode time instead of
    silently wrapping positions."""
    if len(arr) > 0xFFFF:  # not assert: -O must not strip a data-integrity gate
        raise ValueError(
            f"freq_encode: {len(arr)} values > uint16 position space"
        )
    a = arr.astype(np.int64, copy=False)
    if len(a) == 0:
        return 0, np.zeros(0, dtype=np.uint16), a[:0]
    vals, cnts = np.unique(a, return_counts=True)
    top = int(vals[int(cnts.argmax())])
    exc_pos = np.flatnonzero(a != top)
    return top, exc_pos.astype(np.uint16), a[exc_pos]


def freq_decode(
    top: int, exc_pos: np.ndarray, exc_vals: np.ndarray, n: int
) -> np.ndarray:
    out = np.full(n, top, dtype=np.int64)
    if len(exc_pos):
        out[exc_pos.astype(np.int64)] = exc_vals.astype(np.int64)
    return out


# -------------------------------------------------------------------- SLPatch
def slpatch_encode(
    arr: np.ndarray,
) -> tuple[int, int, bytes, np.ndarray, np.ndarray]:
    """SLPatch (kernels/slpatch_kernel.hpp:8-31): FFOR at a bit width
    chosen for the BULK of the deltas, with out-of-width values patched
    from an exception list after decode. The width minimizes measured
    bytes (packed payload + 10 B per exception) over every candidate
    width, so SLPatch is only ever emitted when patching genuinely beats
    plain FFOR. Returns ``(base, width, payload, exc_pos, exc_vals)``;
    exception slots in the payload hold 0. Positions serialize as
    uint16, so inputs are capped at 0xFFFF values (enforced — misuse
    fails at encode time, not as corrupt data on decode)."""
    if len(arr) > 0xFFFF:  # not assert: -O must not strip a data-integrity gate
        raise ValueError(
            f"slpatch_encode: {len(arr)} values > uint16 position space"
        )
    a = arr.astype(np.int64, copy=False)
    base = int(a.min()) if len(a) else 0
    delta = (a.astype(_U64) - _U64(base & 0xFFFFFFFFFFFFFFFF)) & _U64(
        0xFFFFFFFFFFFFFFFF
    )
    # per-value bit lengths via float log2 are unsafe near 2^53; compare
    # against exact powers of two instead: bit_length(d) = #{k: 2^k <= d}
    # over k = 0..63 (0 for d == 0, 64 for d >= 2^63)
    bounds = (_U64(1) << np.arange(0, 64, dtype=_U64)).astype(_U64)
    bl = np.searchsorted(bounds, delta, side="right").astype(np.int64)
    hist = np.bincount(bl, minlength=65)
    tail = np.cumsum(hist[::-1])[::-1]  # tail[w] = count(bl >= w)
    n = len(a)
    best_w, best_cost = 64, (n * 64 + 7) // 8
    for w in range(64):
        n_exc = int(tail[w + 1]) if w + 1 <= 64 else 0
        cost = (n * w + 7) // 8 + 10 * n_exc
        if cost < best_cost:
            best_w, best_cost = w, cost
    w = best_w
    exc = bl > w
    exc_pos = np.flatnonzero(exc)
    payload = pack_bits(np.where(exc, _U64(0), delta), w)
    return base, w, payload, exc_pos.astype(np.uint16), a[exc_pos]


def slpatch_decode(
    base: int,
    width: int,
    payload: bytes,
    n: int,
    exc_pos: np.ndarray,
    exc_vals: np.ndarray,
) -> np.ndarray:
    out = ffor_decode(base, width, payload, n)
    if len(exc_pos):
        out[exc_pos.astype(np.int64)] = exc_vals.astype(np.int64)
    return out


# ----------------------------------------------------------- string dict util
def dict_offsets_bytes(keys: list[bytes]) -> tuple[np.ndarray, bytes]:
    """Serialize dictionary keys as (END-offset uint32 array, byte blob) —
    the layout dictionary_kernel.hpp:66-77 walks (cur = end offset, length =
    cur - prev_end)."""
    lens = np.fromiter((len(k) for k in keys), dtype=np.uint32, count=len(keys))
    ends = np.cumsum(lens, dtype=np.uint64).astype(np.uint32)
    return ends, b"".join(keys)


def strings_from_offsets(ends: np.ndarray, blob: bytes) -> list[bytes]:
    out, prev = [], 0
    for cur in ends.tolist():
        out.append(blob[prev:cur])
        prev = cur
    return out

"""Vectorized batch kernel — the Spark hot path.

Computes accept/score for a *batch* of (query, term) pairs with zero
per-row Python: all loops are over character positions (O(max_len * (2n+1))
NumPy operations per Arrow batch), every operation is vectorized across the
batch dimension.

Relationship to the universal Levenshtein automaton
(``/root/reference/src/transducer/universal/automaton.rs:67-353``): the
universal automaton's offset-coded positions ``I + t#k`` / ``M + t#k``
(``universal/position.rs:7-21``) index the diagonal offset ``t = j - i`` and
error count ``k`` within the band ``|t| <= n`` — exactly the cells of the
banded edit-distance DP restricted to the Schulz–Mihov bounded diagonal
(Theorem 8.2, cited at ``state.rs:14-41``).  The subsumption-closed automaton
state after consuming ``j`` term characters is the antichain of
``(i, D[i][j])`` pairs in that band.  Evaluating the band row-by-row over a
whole Arrow batch is therefore the vectorized form of running the universal
automaton over every pair simultaneously — same accepted language, same
distances, but with NumPy SIMD instead of the reference's AVX2 intrinsics
(``distance/simd.rs``, which we deliberately do not port).

Variants (``src/transducer/algorithm.rs:15-43``):
- standard        — match/substitute/insert/delete
- transposition   — + adjacent transposition (OSA recurrence,
                    ``distance/mod.rs:304-359``)
- merge_and_split — + merge (2→1) and split (1→2), unconditional cost 1
                    (``distance/mod.rs:624-730``)

Modes:
- prefix_mode     — distance to the best *prefix* of the term
                    (``transition.rs:189-192``), used for autocomplete.
- substring_mode  — unmatched query suffix is free
                    (``query.rs:146-156`` / ``state.min_distance``).

Layout: the band is kept band-major, ``(W = 2n+1, rows)``, so each band
offset ``k`` is one contiguous vector over the active rows and every step of
the DP (the match test, the shifted neighbour reads, the deletion prefix-min
scan along ``k``, the result capture) is a plain 1-D NumPy op.  Codepoints
are band-major too: ``(L, rows)`` arrays whose row ``c`` is character ``c``
of every string.  Cells use the narrowest signed dtype that holds
``INF = n + 1`` — int8 for n <= 126, otherwise int16 — and every candidate
is taken before its ``+1``, capped at ``INF - 1`` and incremented once, so
``INF + 1`` is never formed and int8 cannot overflow.

Cross-validated against both the scalar DP oracle (:mod:`.distances`) and the
scalar automaton (:mod:`.automaton`) by ``tests/test_kernel_crossval.py``.
"""

from __future__ import annotations

import numpy as np

from .distances import MERGE_AND_SPLIT, STANDARD, TRANSPOSITION

# Sentinel codepoints, never equal to a real char (all < 0x110000) or to
# each other: queries pad with _PAD and terms with _TPAD, so one equality
# test is the whole match test and a pad (or an embedded NUL) never matches.
_PAD = np.uint32(0xFFFFFFFF)
_TPAD = np.uint32(0xFFFFFFFE)


def _cell_dtype(n: int):
    """The narrowest signed dtype that holds INF = n + 1."""
    return np.int8 if n + 1 <= np.iinfo(np.int8).max else np.int16


class _ScratchPool:
    """Per-thread scratch buffers reused across Arrow batches.

    Spark python workers are long-lived and single-threaded (one task at a
    time per worker process), so in the UDF hot path this behaves as a
    per-process pool: the kernel's working set is faulted in ONCE per worker
    instead of being mmap/munmap-cycled per batch — glibc returns >128 KB
    frees to the OS, so without the pool every batch re-faults fresh pages
    (measured 10-100x slower than steady state under host memory throttling,
    and the fault path anti-scales with cores because the host serializes
    it).  Storage is ``threading.local`` so DRIVER-side callers (tests,
    notebooks, local-mode threads) can never alias each other's buffers —
    a second thread simply gets its own pool.

    What the kernel keeps here: three rotating band rows, the result
    capture and the match masks, each band-major ``(2n+1, rows)`` at the
    cell dtype (int8 for n <= 126, else int16; bool for masks), and the
    band-major ``(L, rows)`` uint32 codepoints of both columns.  Buffers are
    keyed by name and dtype, so an int8 and an int16 batch never share one.
    """

    def __init__(self) -> None:
        import threading

        self._tls = threading.local()

    def get(self, name: str, shape: tuple, dtype) -> np.ndarray:
        bufs = getattr(self._tls, "bufs", None)
        if bufs is None:
            bufs = self._tls.bufs = {}
        need = 1
        for s in shape:
            need *= int(s)
        key = (name, np.dtype(dtype).str)
        buf = bufs.get(key)
        if buf is None or buf.size < need:
            cap = max(need, 1)
            if buf is not None:  # grow geometrically: few reallocations
                cap = max(cap, buf.size * 2)
            buf = np.empty(cap, dtype=dtype)
            bufs[key] = buf
        return buf[:need].reshape(shape)


_SCRATCH = _ScratchPool()


def _strings(strings):
    """``strings`` as a 1-D object array of ``str`` (``None``/NaN read as
    ``""``) plus their int32 codepoint lengths.

    Non-str guard: a map(len) probe is one C-speed pass (~3x cheaper than a
    per-element type check) and raises TypeError on None/NaN, the only
    shapes Arrow/pandas actually hand us; the lengths it yields are the
    lengths we need anyway.
    """
    objs = np.asarray(strings, dtype=object)
    try:
        lengths = np.fromiter(map(len, objs), count=objs.size, dtype=np.int32)
    except TypeError:
        objs = np.array([s if isinstance(s, str) else "" for s in objs], dtype=object)
        lengths = np.fromiter(map(len, objs), count=objs.size, dtype=np.int32)
    return objs, lengths


def _band_major(strings, lengths, pad, name: str, top: int, height: int) -> np.ndarray:
    """Pooled ``(height, rows)`` uint32 codepoints: row ``top + c`` holds
    codepoint ``c`` of every string (one column per string), every other
    cell — and every embedded NUL — is ``pad``.

    One UTF-32 encode of the joined batch and one masked scatter, zero
    per-row Python: the analog of the reference's ``CharUnit`` decode
    (``dictionary/char_unit.rs``), done once per Arrow batch.
    """
    out = _SCRATCH.get(name, (height, lengths.size), np.uint32)
    out.fill(pad)
    flat = np.frombuffer(
        "".join(strings).encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    )
    if flat.size:
        L = int(lengths.max())
        live = _SCRATCH.get("live", (L, lengths.size), bool)
        np.less(np.arange(L)[:, None], lengths, out=live)
        # the transposed views iterate string by string, the order of flat
        out[top : top + L].T[live.T] = np.where(flat == 0, pad, flat)
    return out


def encode_strings(strings):
    """Encode a sequence of python strings into a (batch, L) uint32 codepoint
    matrix (padded with the ``_PAD`` sentinel) plus an int32 length vector.
    """
    objs, lengths = _strings(strings)
    L = max(int(lengths.max()) if lengths.size else 0, 1)
    return _band_major(objs, lengths, _PAD, "enc", 0, L).T.copy(), lengths


_IN_USE = False


def batch_distance(
    queries,
    terms,
    max_distance: int,
    variant: str = STANDARD,
    prefix_mode: bool = False,
    substring_mode: bool = False,
    allowed_subs: frozenset | None = None,
) -> np.ndarray:
    """Banded DP over the whole batch.

    Returns an int32 array: the variant distance when <= max_distance, else
    -1 (reject).  ``queries``/``terms`` are sequences of ``str`` (``None``
    treated as empty).

    NOT REENTRANT — single-threaded callers only.  All working arrays
    (including the band-major encoded inputs)
    alias module-level pooled buffers (:class:`_ScratchPool`) that are
    clobbered by the next call; only the returned result array is freshly
    allocated and safe to retain.  This matches Spark's one-task-at-a-time
    Python-worker execution model; a cheap in-use flag turns any violation
    into an immediate error instead of silent corruption.
    """
    global _IN_USE
    if _IN_USE:
        raise RuntimeError(
            "batch_distance is not reentrant: pooled scratch buffers are in use"
        )
    _IN_USE = True
    try:
        return _batch_distance_impl(
            queries, terms, max_distance, variant, prefix_mode,
            substring_mode, allowed_subs,
        )
    finally:
        _IN_USE = False


def _batch_distance_impl(
    queries,
    terms,
    max_distance: int,
    variant: str = STANDARD,
    prefix_mode: bool = False,
    substring_mode: bool = False,
    allowed_subs: frozenset | None = None,
) -> np.ndarray:
    n = int(max_distance)
    if n < 0:
        raise ValueError("max_distance must be >= 0")
    if variant not in (STANDARD, TRANSPOSITION, MERGE_AND_SPLIT):
        raise ValueError(f"unknown variant: {variant!r}")

    qs, qlen = _strings(queries)
    ts, tlen = _strings(terms)
    batch = qlen.size
    if batch == 0:
        return np.empty(0, dtype=np.int32)

    W = 2 * n + 1  # band width; offsets t = j - i in [-n, n], k = t + n
    cell = _cell_dtype(n)
    INF = cell(n + 1)
    CAP = cell(n)  # INF - 1: the cap before the final +1 (no int8 overflow)
    ones = cell(1)
    max_q = int(qlen.max())

    # Active-row scheduling: sort rows by query length (desc) so band
    # iteration i runs only over the prefix of rows still inside their query
    # (a row's answer is captured at i == qlen and its band state is never
    # read after).  Saves sum(max_q - qlen) row-iterations — ~30% on natural
    # length mixes — for two object-array gathers before the encode; results
    # are scattered back at the end.
    order = None
    if batch > 1 and int(qlen.min()) != max_q:
        order = np.argsort(-qlen, kind="stable")
        qs = qs[order]
        ts = ts[order]
        qlen = qlen[order]
        tlen = tlen[order]
    neg_qlen = -qlen

    def n_active(i: int) -> int:
        """Rows with qlen >= i: the sorted prefix [0, n_active(i))."""
        return int(np.searchsorted(neg_qlen, -i, side="right"))

    # Band-major codepoints: query char i-1 of every row is the contiguous
    # row QT[i-1].  Terms are left-padded by P so the (W, rows) term-char
    # block of band row i (term indices jc = i-1-n .. i-1+n) is the plain
    # row slice TT[i-1-n+P : i+n+P].  Height covers the DEEPEST QUERY row,
    # not just the term width: with queries much longer than every term
    # (routine in substring mode) the slice at i = max_q reaches row
    # max_q + n + P.  Query pads/NULs are _PAD and term pads/NULs _TPAD, so
    # a plain equality never matches a pad on either side.
    QT = _band_major(qs, qlen, _PAD, "qT", 0, max(max_q, 1))
    P = n + 2
    TT = _band_major(
        ts, tlen, _TPAD, "tT", P, max(int(tlen.max()), max_q) + P + W + 2
    )

    # Zero-cost substitution pairs (substitution_policy.rs): encoded as
    # q_char * 2^21 + t_char, membership via sorted search.
    subs_codes = None
    if allowed_subs:
        subs_codes = np.sort(
            np.fromiter(
                ((ord(q) << 21) | ord(t) for (t, q) in allowed_subs),
                dtype=np.int64,
            )
        )

    # band rows: prev (i-1), two_ago (i-2), curr (i); each (W, rows) in
    # band-major order, capped at INF — three rotating buffers plus work
    # arrays, all pooled (see _ScratchPool)
    sh = (W, batch)
    two_ago = _SCRATCH.get("rowA", sh, cell)
    prev = _SCRATCH.get("rowB", sh, cell)
    curr = _SCRATCH.get("rowC", sh, cell)
    eqb = _SCRATCH.get("eq", sh, bool)
    swapb = _SCRATCH.get("swap", sh, bool) if variant == TRANSPOSITION else None
    tmpb = _SCRATCH.get("tmpb", sh, bool) if variant == TRANSPOSITION else None
    run = _SCRATCH.get("run", (batch,), cell)
    two_ago.fill(INF)
    prev.fill(INF)
    # Row 0: D[0][j] = j for 0 <= j <= n → k in [n, 2n]
    prev[n:] = np.arange(n + 1, dtype=cell)[:, None]

    # result capture: a row's band at i == qlen; every row is captured once
    out_row = _SCRATCH.get("out_row", sh, cell)
    na = n_active(1)
    out_row[:, na:] = prev[:, na:]
    # substring mode: running min over rows i of D[i][tlen]
    sub_min = np.full(batch, INF, dtype=cell)

    def substring_step(i: int, rows: int) -> None:
        ki = tlen[:rows] - i + n  # k of j = tlen in band row i
        valid = (ki >= 0) & (ki < W)
        rr = prev[np.clip(ki, 0, W - 1), np.arange(rows)]
        np.minimum(sub_min[:rows], np.where(valid, rr, INF), out=sub_min[:rows])

    if substring_mode:
        substring_step(0, batch)

    for i in range(1, max_q + 1):
        # rows with qlen >= i are exactly the sorted prefix [0, na); rows
        # past it were captured at i == their qlen and are never read again
        qc = QT[i - 1, :na]
        tc = TT[i - 1 - n + P : i + n + P, :na]  # b[j-1] per band cell
        eq = eqb[:, :na]
        np.equal(tc, qc, out=eq)
        if subs_codes is not None:
            # a sentinel sets bits no real pair code has (chars < 2^21)
            codes = (qc.astype(np.int64) << 21) | tc.astype(np.int64)
            idx = np.minimum(np.searchsorted(subs_codes, codes), subs_codes.size - 1)
            eq |= subs_codes[idx] == codes
        pv, ta, cu = prev[:, :na], two_ago[:, :na], curr[:, :na]
        # Every candidate is taken before its "+1", then capped at INF - 1
        # and incremented once, so INF + 1 is never formed (int8 at n = 126).
        # diag D[i-1][j-1] + (1 - eq), same k; insert D[i-1][j] + 1, k+1
        np.subtract(pv, eq, out=cu)
        np.minimum(cu[:-1], pv[1:], out=cu[:-1])
        if variant == TRANSPOSITION and i >= 2:
            # D[i-2][j-2] + 1 (two_ago, same k) where a[i-1] == b[j-2] and
            # a[i-2] == b[j-1]
            sw, tb = swapb[:, :na], tmpb[:, :na]
            np.equal(TT[i - 2 - n + P : i - 1 + n + P, :na], qc, out=sw)
            np.equal(tc, QT[i - 2, :na], out=tb)
            sw &= tb
            np.minimum(cu, ta, out=cu, where=sw)
        if variant == MERGE_AND_SPLIT:
            if i >= 2:
                # merge D[i-2][j-1] + 1 → two_ago at k+1
                np.minimum(cu[:-1], ta[1:], out=cu[:-1])
            # split D[i-1][j-2] + 1 → prev at k-1
            np.minimum(cu[1:], pv[:-1], out=cu[1:])
        np.minimum(cu, CAP, out=cu)
        # deletion D[i][j-1] + 1 → k-1: prefix-min scan along k, each step
        # one contiguous band row
        ru = run[:na]
        for k in range(1, W):
            np.add(cu[k - 1], ones, out=ru)
            np.minimum(cu[k], ru, out=cu[k])
        np.add(cu, ones, out=cu)
        # No cell is masked.  Cells with j < 0 read only cells with j' < 0
        # (INF from row 0, and no term char there matches), so they stay
        # INF and the j == 0 column comes out as D[i][0] = i by itself;
        # cells past j = tlen feed only cells past it, none of which is read.
        two_ago, prev, curr = prev, curr, two_ago
        done = n_active(i + 1)
        if done < na:
            out_row[:, done:na] = prev[:, done:na]
        if substring_mode:
            substring_step(i, na)
        na = done

    # extract answers
    if substring_mode:
        res = sub_min
    elif prefix_mode:
        # min over k with 0 <= j = qlen + k - n <= tlen
        j_abs = qlen[None, :] + (np.arange(W) - n)[:, None]
        valid = (j_abs >= 0) & (j_abs <= tlen[None, :])
        res = np.where(valid, out_row, INF).min(axis=0)
    else:
        kf = tlen - qlen + n
        valid = (kf >= 0) & (kf < W)
        res = np.where(valid, out_row[np.clip(kf, 0, W - 1), np.arange(batch)], INF)
    res = res.astype(np.int32)
    res[res > n] = -1
    if order is not None:
        # undo the active-row sort: sorted position p holds original row
        # order[p]
        unsorted = np.empty_like(res)
        unsorted[order] = res
        res = unsorted
    return res

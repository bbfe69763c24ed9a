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

Cross-validated against both the scalar DP oracle (:mod:`.distances`) and the
scalar automaton (:mod:`.automaton`) by ``tests/test_batch_kernel.py``.
"""

from __future__ import annotations

import numpy as np

from .distances import MERGE_AND_SPLIT, STANDARD, TRANSPOSITION

_PAD = np.uint32(0xFFFFFFFF)  # sentinel codepoint: never equal to a real char


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


def encode_strings(strings, max_len: int | None = None, scratch_key: str | None = None):
    """Encode a sequence of python strings into a (batch, L) uint32 codepoint
    matrix (padded with a sentinel) plus an int32 length vector.

    This is the per-batch columnarization step — the analog of the
    reference's ``CharUnit`` decode (``dictionary/char_unit.rs``), done once
    per Arrow batch instead of once per trie edge.  With ``scratch_key`` the
    codepoint matrix lands in a pooled buffer (see :class:`_ScratchPool`);
    the returned array is then only valid until the next call with the same
    key.
    """
    n_rows = len(strings)
    if n_rows == 0:
        return (
            np.full((0, max(max_len or 1, 1)), _PAD, dtype=np.uint32),
            np.zeros(0, dtype=np.int32),
        )
    # NumPy's native UCS-4 representation IS the codepoint matrix: a single
    # C-level conversion, zero per-row Python.  NUL (0) is the native pad;
    # remap to the sentinel in one vectorized pass (real tokens never
    # contain NUL — and if one did, its length below counts codepoints, so
    # only the NUL cell itself degrades to a pad mismatch).
    # Non-str guard: a map(len) probe is one C-speed pass (~3x cheaper than
    # a per-element type check) and raises TypeError on None/NaN, the only
    # shapes Arrow/pandas actually hand us; the lengths it yields are the
    # lengths we need anyway.
    try:
        lengths = np.fromiter(map(len, strings), count=n_rows, dtype=np.int32)
    except TypeError:
        strings = [s if isinstance(s, str) else "" for s in strings]
        lengths = np.fromiter(map(len, strings), count=n_rows, dtype=np.int32)
    arr = np.asarray(strings, dtype="U")
    L = max(arr.dtype.itemsize // 4, 1)
    if max_len is not None and max_len > L:
        arr = arr.astype(f"U{max_len}")
        L = max_len
    view = arr.view(np.uint32).reshape(n_rows, L)
    if scratch_key is None:
        mat = view.copy()
    else:
        mat = _SCRATCH.get(scratch_key, (n_rows, L), np.uint32)
        np.copyto(mat, view)
    zb = _SCRATCH.get("enc_zero", (n_rows, L), bool) if scratch_key else None
    if zb is None:
        mat[mat == 0] = _PAD
    else:
        np.equal(mat, 0, out=zb)
        np.copyto(mat, _PAD, where=zb)
    return mat, lengths


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
    (including the encoded inputs via ``encode_strings(scratch_key=...)``)
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

    Q, qlen = encode_strings(queries, scratch_key="enc_q")
    T, tlen = encode_strings(terms, scratch_key="enc_t")
    batch = Q.shape[0]
    if batch == 0:
        return np.empty(0, dtype=np.int32)

    W = 2 * n + 1  # band width; offsets t = j - i in [-n, n], k = t + n
    INF = np.int16(n + 1)
    max_q = int(qlen.max()) if batch else 0

    # Active-row scheduling: sort rows by query length (desc) so band
    # iteration i runs only over the prefix of rows still inside their query
    # (a row's answer is captured at i == qlen and its band state is never
    # read after).  Saves sum(max_q - qlen) row-iterations — ~30% on natural
    # length mixes — for two gathers; results are scattered back at the end.
    order = None
    if batch > 1 and int(qlen.min()) != max_q:
        order = np.argsort(-qlen, kind="stable")
        Q = Q[order]
        T = T[order]
        qlen = qlen[order]
        tlen = tlen[order]
    neg_qlen = -qlen

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

    def char_eq_into(qc: np.ndarray, tc: np.ndarray, eq: np.ndarray, tb: np.ndarray):
        """(batch,) query chars vs (batch, W) term-char block, into ``eq``."""
        np.equal(tc, qc[:, None], out=eq)
        np.not_equal(tc, _PAD, out=tb)
        eq &= tb
        eq &= (qc != _PAD)[:, None]
        if subs_codes is not None:
            codes = (qc.astype(np.int64)[:, None] << 21) | tc.astype(np.int64)
            idx = np.searchsorted(subs_codes, codes)
            allowed = (idx < subs_codes.size) & (
                subs_codes[np.clip(idx, 0, subs_codes.size - 1)] == codes
            )
            allowed &= tb
            allowed &= (qc != _PAD)[:, None]
            eq |= allowed

    # Left-pad T so the per-row (batch, W) term-char block is a plain slice:
    # row i covers term indices jc = i-1-n .. i-1+n; with pad P the slice is
    # T_pad[:, i-1-n+P : i-1+n+1+P], always in range for i >= 0.  Width must
    # cover the DEEPEST QUERY row, not just the term width: with queries much
    # longer than every term (routine in substring mode, where the unmatched
    # query suffix is free) the slice at i = max_q reaches column
    # max_q + n + P — size to max(term width, max_q) so it stays a plain
    # in-range slice (the extra columns are _PAD and never match).
    P = n + 2
    T_pad = _SCRATCH.get(
        "tpad", (batch, max(T.shape[1], max_q) + P + W + 2), np.uint32
    )
    # fill only the margins: the [P, P+Tw) block is fully overwritten by T
    # (which carries its own _PAD tail), so padding it first is pure waste —
    # the fill was ~15% of small-n batch wall at 200k rows
    T_pad[:, :P].fill(_PAD)
    T_pad[:, P + T.shape[1] :].fill(_PAD)
    T_pad[:, P : P + T.shape[1]] = T

    # absolute term column j per band cell k, row i:  j = i + (k - n)
    k_off = np.arange(W, dtype=np.int32) - n  # (W,)

    # rows: prev (i-1), two_ago (i-2), curr (i); each (batch, W), capped at
    # INF — three rotating scratch buffers plus per-iteration work arrays,
    # all pooled (see _ScratchPool: faulted once per worker, zero per-batch
    # allocation in the hot loop)
    sh = (batch, W)
    two_ago = _SCRATCH.get("rowA", sh, np.int16)
    prev = _SCRATCH.get("rowB", sh, np.int16)
    curr = _SCRATCH.get("rowC", sh, np.int16)
    best = _SCRATCH.get("best", sh, np.int16)
    tmp = _SCRATCH.get("tmp", sh, np.int16)
    cost = _SCRATCH.get("cost", sh, np.int16)
    eqb = _SCRATCH.get("eq", sh, bool)
    tmpb = _SCRATCH.get("tmpb", sh, bool)
    validb = _SCRATCH.get("valid", sh, bool)
    swapb = _SCRATCH.get("swap", sh, bool) if variant == TRANSPOSITION else None
    run = _SCRATCH.get("run", (batch,), np.int16)
    two_ago.fill(INF)
    prev.fill(INF)
    # Row 0: D[0][j] = j for 0 <= j <= n → k in [n, 2n]
    for k in range(n, W):
        prev[:, k] = k - n

    # result capture
    out_row = _SCRATCH.get("out_row", sh, np.int16)  # band row at i = qlen
    out_row.fill(INF)
    done0 = qlen == 0
    if done0.any():
        out_row[done0] = prev[done0]
    # substring mode: running min over rows i of D[i][tlen]
    sub_min = np.full(batch, INF, dtype=np.int16)
    if substring_mode:
        k0 = tlen - 0 + n  # k index of j = tlen in row 0
        valid = (k0 >= 0) & (k0 < W)
        rr = np.where(valid, prev[np.arange(batch), np.clip(k0, 0, W - 1)], INF)
        sub_min = np.minimum(sub_min, rr.astype(np.int16))

    col_idx = np.arange(batch)
    ones = np.int16(1)

    for i in range(1, max_q + 1):
        # rows with qlen >= i are exactly the sorted prefix [0, na); rows
        # past it were captured at i == their qlen and are never read again
        na = (
            int(np.searchsorted(neg_qlen, -i, side="right"))
            if order is not None
            else batch
        )
        if na == 0:
            break
        qc = Q[:na, i - 1] if i - 1 < Q.shape[1] else np.full(na, _PAD)
        va, tb, eq = validb[:na], tmpb[:na], eqb[:na]
        co, be, tm, ru = cost[:na], best[:na], tmp[:na], run[:na]
        pv, ta, cu = prev[:na], two_ago[:na], curr[:na]
        j_abs = i + k_off  # (W,) absolute term column per band cell
        # cell validity: 1 <= j <= tlen (every sliced row is active;
        # j == 0 handled below)
        va[:] = (j_abs >= 1)[None, :]
        np.less_equal(j_abs[None, :], tlen[:na, None], out=tb)
        va &= tb
        # term chars b[j-1] for the whole band row as one slice
        tc = T_pad[:na, i - 1 - n + P : i - 1 + n + 1 + P]
        char_eq_into(qc, tc, eq, tb)
        np.subtract(ones, eq, out=co, casting="unsafe")
        # diag D[i-1][j-1] (same k) and insert D[i-1][j] (k+1), both from prev
        np.add(pv, co, out=be)
        np.minimum(be, INF, out=be)
        np.add(pv[:, 1:], ones, out=tm[:, :-1])
        np.minimum(tm[:, :-1], INF, out=tm[:, :-1])
        np.minimum(be[:, :-1], tm[:, :-1], out=be[:, :-1])
        if variant == TRANSPOSITION and i >= 2:
            sw = swapb[:na]
            qprev = Q[:na, i - 2]
            tprev = T_pad[:na, i - 2 - n + P : i - 2 + n + 1 + P]  # b[j-2]
            np.equal(tprev, qc[:, None], out=sw)
            np.equal(tc, qprev[:, None], out=tb)
            sw &= tb
            np.not_equal(tc, _PAD, out=tb)
            sw &= tb
            np.not_equal(tprev, _PAD, out=tb)
            sw &= tb
            # D[i-2][j-2]: two_ago at the same k
            np.add(ta, ones, out=tm)
            np.minimum(tm, INF, out=tm)
            np.minimum(be, tm, out=be, where=sw)
        if variant == MERGE_AND_SPLIT:
            if i >= 2:
                # merge D[i-2][j-1] → two_ago at k+1
                np.add(ta[:, 1:], ones, out=tm[:, :-1])
                np.minimum(tm[:, :-1], INF, out=tm[:, :-1])
                np.minimum(be[:, :-1], tm[:, :-1], out=be[:, :-1])
            # split D[i-1][j-2] → prev at k-1
            np.add(pv[:, :-1], ones, out=tm[:, 1:])
            np.minimum(tm[:, 1:], INF, out=tm[:, 1:])
            np.minimum(be[:, 1:], tm[:, 1:], out=be[:, 1:])
        np.logical_not(va, out=tb)
        np.copyto(be, INF, where=tb)
        # j == 0 boundary: D[i][0] = i at k = n - i (a deletion-chain source)
        if i <= n:
            be[:, n - i] = np.int16(i)
        # deletion D[i][j-1] → curr at k-1: prefix-min scan along k
        cu[:, 0] = be[:, 0]
        for k in range(1, W):
            np.add(cu[:, k - 1], ones, out=ru)
            np.minimum(ru, INF, out=ru)
            np.minimum(be[:, k], ru, out=cu[:, k])
        # keep curr only at valid cells or the j == 0 boundary column
        va |= (j_abs == 0)[None, :]
        np.logical_not(va, out=tb)
        np.copyto(cu, INF, where=tb)
        two_ago, prev, curr = prev, curr, two_ago
        hit = qlen == i
        if hit.any():
            out_row[hit] = prev[hit]
        if substring_mode:
            ki = tlen - i + n
            valid = (ki >= 0) & (ki < W) & (qlen >= i)
            rr = np.where(valid, prev[col_idx, np.clip(ki, 0, W - 1)], INF)
            sub_min = np.minimum(sub_min, rr.astype(np.int16))

    # extract answers
    if substring_mode:
        res = sub_min
    elif prefix_mode:
        # min over k with 0 <= j = qlen + k - n <= tlen
        j_abs = qlen[:, None] + (np.arange(W)[None, :] - n)
        valid = (j_abs >= 0) & (j_abs <= tlen[:, None])
        res = np.where(valid, out_row, INF).min(axis=1)
    else:
        kf = tlen - qlen + n
        valid = (kf >= 0) & (kf < W)
        res = np.where(valid, out_row[col_idx, np.clip(kf, 0, W - 1)], INF)
    res = res.astype(np.int32)
    res[res > n] = -1
    if order is not None:
        # undo the active-row sort: sorted position p holds original row
        # order[p]
        unsorted = np.empty_like(res)
        unsorted[order] = res
        res = unsorted
    return res

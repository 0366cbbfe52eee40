"""Seeded mutation fuzz over the hostile-input contract of the codec
decoders and the crawl-facing kernels: truncations, byte flips, and
garbage splices of VALID fixtures must either decode (a mutation can
land in don't-care bytes) or raise the documented typed errors —
never any other exception class (IndexError, struct.error, KeyError,
Overflow...), never a hang. 150 seeded mutations per target per run;
any violation is a regression in that decoder's bounds/validation
discipline."""

from __future__ import annotations

import random

import numpy as np
import pytest

from tableone_pyspark_spark.functions import flac, mp3, png, wav

_PIX = [[(i * 7 + j * 13) % 256 for j in range(8)] for i in range(6)]
_PAL = np.array(
    [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
)
_AUDIO = np.array([0, 100, -100, 2000] * 50, dtype=np.int32)


def _fixtures():
    return {
        "png": (png.encode_png(_PIX), png.decode_png),
        "png_pal": (
            png.encode_png_palette(
                np.array([[0, 1, 2, 3]] * 4, dtype=np.uint8), _PAL
            ),
            png.decode_png,
        ),
        "wav": (wav.encode_wav(_AUDIO, 8000), wav.decode_wav),
        "flac": (flac.encode_flac(_AUDIO, 8000), flac.decode_flac),
        "mp3": (mp3.encode_mp3_headers(6), mp3.mp3_metadata),
    }


@pytest.mark.parametrize("name", sorted(_fixtures()))
def test_mutated_inputs_raise_only_typed_errors(name):
    data, dec = _fixtures()[name]
    data = bytes(data)
    rng = random.Random(0xC0DEC)
    for _ in range(150):
        b = bytearray(data)
        kind = rng.randrange(3)
        if kind == 0 and len(b) > 1:  # truncate
            b = b[: rng.randrange(1, len(b))]
        elif kind == 1:  # flip 1-4 bytes
            for _f in range(rng.randint(1, 4)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        else:  # splice garbage
            at = rng.randrange(len(b))
            b = (
                b[:at]
                + bytes(rng.randrange(256) for _g in range(rng.randint(1, 16)))
                + b[at:]
            )
        try:
            dec(bytes(b))
        except (ValueError, NotImplementedError):
            # ValueError = hostile-input contract; NotImplementedError
            # = the documented typed codec-boundary refusals (a flip
            # can turn a header into an unsupported-but-real shape)
            pass


def _mutate(rng, data):
    if isinstance(data, bytes):
        b = bytearray(data)
        k = rng.randrange(3)
        if k == 0 and len(b) > 1:
            return bytes(b[: rng.randrange(1, len(b))])
        if k == 1:
            for _f in range(rng.randint(1, 4)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            return bytes(b)
        at = rng.randrange(len(b))
        return bytes(
            b[:at]
            + bytes(rng.randrange(256) for _g in range(rng.randint(1, 16)))
            + b[at:]
        )
    chars = list(data)
    k = rng.randrange(3)
    if k == 0 and len(chars) > 1:
        return "".join(chars[: rng.randrange(1, len(chars))])
    if k == 1:
        for _f in range(rng.randint(1, 4)):
            chars[rng.randrange(len(chars))] = chr(rng.randrange(32, 1200))
        return "".join(chars)
    at = rng.randrange(len(chars))
    chars[at:at] = [
        chr(rng.randrange(32, 1200)) for _g in range(rng.randint(1, 16))
    ]
    return "".join(chars)


def test_web_ingest_kernels_mutation_contract():
    """Same discipline for the crawl-facing kernels (real crawls ARE
    hostile input): mutated WARC bytes raise only ValueError (archive
    corruption) or parse with degraded records (web garbage); the
    html/url/robots string kernels NEVER raise on garbage — they
    degrade (NULL/empty verdicts). 150 seeded mutations per kernel;
    the exploratory 2,000-input sweep found zero violations (r11)."""
    import gzip
    import random

    from tableone_pyspark_spark.functions import html, robots, url, warc

    plain = warc.encode_warc(
        [
            (
                "response",
                "https://a.example.com/x",
                warc.http_response(b"<html><title>T</title><p>Hi</p></html>"),
            ),
            (
                "request",
                "https://a.example.com/x",
                b"GET /x HTTP/1.1\r\nHost: a\r\n\r\n",
            ),
        ]
    )
    cases = [
        (plain, warc.parse_warc_py, (ValueError,)),
        (gzip.compress(plain), warc.parse_warc_py, (ValueError,)),
        (
            "<html><head><title>T</title></head><body>"
            "<script>var x='<'</script><p>Hi</p><a href='/y'>l</a>"
            "</body></html>",
            html.html_extract_py,
            (),
        ),
        (
            "https://user:p@a.B.example.com:8080/p/../q?b=2&a=1#frag",
            url.canonical_url_py,
            (),
        ),
        (
            "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
            "User-agent: bot\nDisallow: /\n",
            robots.parse_robots_py,
            (),
        ),
    ]
    rng = random.Random(0xFEED)
    for data, fn, allowed in cases:
        for _ in range(150):
            arg = _mutate(rng, data)
            try:
                fn(arg)
            except allowed:
                pass

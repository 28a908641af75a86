"""Real-world interop sweep: every decoder claim checked against
externally encoded files shipped with the OS image — the counterpart
of test_pdf.py's OS-PDF pin for the raster surface. None of
these bytes were produced by this repo's fixture encoders, so a
shared encoder/decoder convention bug cannot hide here.

Full-population results (recorded 2026-08-19, this container):
4,903/4,903 PNGs decode with IHDR-exact dims and zero errors; 6/6
JPEGs (3 progressive SOF2 + 3 baseline) decode; 23/23 GIFs decode.
The committed test strides the PNG population to
keep suite time bounded; the stride covers every directory family.
"""

import glob
import struct

import numpy as np
import pytest

from ai_invoice_ocr_engine_spark.kernels import decode_image

_PNGS = sorted(glob.glob("/usr/share/**/*.png", recursive=True))

_JPGS = [p for p in [
    "/usr/share/doc/nodejs/thin-white-stripe.jpg",
    "/usr/share/doc/nodejs/full-white-stripe.jpg",
    "/usr/lib/google-cloud-sdk/platform/gsutil/third_party/pyparsing/"
    "docs/_static/pyparsingClassDiagram_3.0.9.jpg",
    "/usr/lib/google-cloud-sdk/platform/gsutil/third_party/pyparsing/"
    "docs/_static/pyparsingClassDiagram_1.5.2.jpg",
    "/usr/lib/google-cloud-sdk/platform/gsutil/third_party/requests/"
    "ext/flower-of-life.jpg",
    "/usr/lib/google-cloud-sdk/platform/google_appengine/google/"
    "appengine/tools/java/jetty12/jetty-home/modules/demo.d/root/"
    "images/webtide_logo.jpg",
] if glob.os.path.exists(p)]

@pytest.mark.skipif(len(_PNGS) < 100, reason="OS PNG population absent")
def test_os_pngs_decode_with_ihdr_exact_dims():
    """A strided sample of the OS's ~4,900 real-encoder PNGs (icon
    themes, docs, toolkits — gray/palette/RGB/RGBA, many bit depths):
    every one decodes, the shape matches IHDR exactly, and decoding
    is deterministic."""
    sample = _PNGS[::8]
    assert len(sample) >= 100
    for f in sample:
        data = open(f, "rb").read()
        out = decode_image(data)
        w, h = struct.unpack(">II", data[16:24])
        assert out.shape == (h, w), f
        assert out.dtype == np.uint8, f
    # determinism spot-check on a handful
    for f in sample[:5]:
        data = open(f, "rb").read()
        assert np.array_equal(decode_image(data), decode_image(data))


@pytest.mark.skipif(len(_JPGS) < 6, reason="OS JPEGs absent")
def test_os_jpegs_decode_including_progressive():
    """The six real JPEGs on the image — three progressive (SOF2,
    spectral selection + successive approximation as libjpeg emits)
    and three baseline — decode to their SOF dimensions."""
    want = {
        "thin-white-stripe.jpg": (58, 493, True),
        "full-white-stripe.jpg": (312, 493, True),
        "pyparsingClassDiagram_3.0.9.jpg": (2241, 2013, True),
        "pyparsingClassDiagram_1.5.2.jpg": (1659, 1155, False),
        "flower-of-life.jpg": (161, 161, False),
        "webtide_logo.jpg": (60, 245, False),
    }
    seen_prog = 0
    for f in _JPGS:
        data = open(f, "rb").read()
        out = decode_image(data)
        h, w, prog = want[f.rsplit("/", 1)[1]]
        assert out.shape == (h, w), f
        assert (b"\xff\xc2" in data[:2000]) == prog, f
        seen_prog += prog
    assert seen_prog == 3


def test_os_gifs_decode():
    """Every OS-shipped GIF (LZW, palettes, both GIF87a/89a vintages)
    decodes through the polymorphic reader."""
    gifs = sorted(
        glob.glob("/usr/share/**/*.gif", recursive=True)
        + glob.glob("/usr/lib/xml2/**/*.gif", recursive=True)
        + glob.glob("/usr/lib/xsltproc/**/*.gif", recursive=True)
    )
    if len(gifs) < 5:
        pytest.skip("OS GIF population absent")
    for f in gifs:
        out = decode_image(open(f, "rb").read())
        assert out.ndim == 2 and out.size > 0, f


def test_os_html_docs_extract():
    """Every real HTML document on the image (DocBook toolchains,
    Node.js API docs, gtk-doc — uppercase-tag HTML 4.01 through
    HTML5) extracts through the boilerplate-stripping pipeline with
    zero errors; only nav-only/template stubs yield no spans, and a
    real page's own <h1>/<title> text lands in its spans."""
    import os
    import re

    from ai_invoice_ocr_engine_spark.html_extract import html_spans

    files = sorted(
        f for f in glob.glob("/usr/share/**/*.html", recursive=True)
        if os.path.isfile(f)
    )
    if len(files) < 50:
        pytest.skip("OS HTML population absent")
    empty = 0
    total = 0
    for f in files:
        spans, _media = html_spans(open(f, "rb").read())
        total += len(spans)
        empty += not spans
    assert empty <= max(5, len(files) // 20)  # only nav-only stubs
    assert total > 10_000

    # content pin: a stable DocBook page's own heading text must
    # survive the strip
    probe = ("/usr/share/doc/shared-mime-info/"
             "shared-mime-info-spec.html/index.html")
    if os.path.exists(probe):
        raw = open(probe, "rb").read().decode("latin-1")
        m = re.search(r"<H1[^>]*>(.*?)</H1", raw, re.S | re.I)
        assert m
        want = re.sub(r"<[^>]+>", "", m.group(1))
        want = " ".join(want.split())
        spans, _ = html_spans(open(probe, "rb").read())
        joined = " ".join(s["text"] for s in spans if s["kind"] == "text")
        assert want.split()[0] in joined

"""The image-format table and the side-value readers behind it.

Every image operator sniffs and decodes through `IMAGE_FORMATS`
(`operators/multimodal.py`) and `extraction.ocr.CODECS`; the PNG eXIf and
JPEG APP1 EXIF blobs are read by the TIFF IFD reader, which is bounded by
its buffer.  Spark is only started by the import-guard subprocess.
"""

from __future__ import annotations

import os
import struct
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from ms_ocr_spark.extraction.ocr import CODECS, decode_media
from ms_ocr_spark.extraction.ocr.png import _chunk, encode_gray, side_values
from ms_ocr_spark.operators.multimodal import media_format

REPO = Path(__file__).resolve().parents[1]
_IHDR_END = 8 + 12 + 13  # PNG signature + IHDR chunk


def _image() -> np.ndarray:
    img = np.full((30, 40), 220, np.uint8)
    img[10:20, 5:35] = 0
    return img


def _exif(endian: str, ifd_off: int) -> bytes:
    """A TIFF-structured EXIF blob with Orientation 6 in an IFD at `ifd_off`."""
    e = "<" if endian == "LE" else ">"
    head = (b"II*\x00" if endian == "LE" else b"MM\x00*") + struct.pack(e + "I", ifd_off)
    ifd = struct.pack(e + "HHHIHHI", 1, 274, 3, 1, 6, 0, 0)
    return head + b"\x00" * (ifd_off - 8) + ifd


def _in_png(blob: bytes) -> bytes:
    png = encode_gray(_image())
    return png[:_IHDR_END] + _chunk(b"eXIf", blob) + png[_IHDR_END:]


def _in_jpeg(blob: bytes) -> bytes:
    from ms_ocr_spark.extraction.ocr.jpeg import encode_gray_jpeg

    body = b"Exif\x00\x00" + blob
    jpg = encode_gray_jpeg(_image())
    return jpg[:2] + b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body + jpg[2:]


@pytest.mark.parametrize("ifd_off", [8, 16])
@pytest.mark.parametrize("endian", ["LE", "BE"])
@pytest.mark.parametrize("container", [_in_png, _in_jpeg], ids=["png_exif", "jpeg_app1"])
def test_exif_orientation_in_every_container(container, endian, ifd_off):
    """One EXIF reader: either byte order, the IFD anywhere in the blob,
    read the same from a PNG eXIf chunk and a JPEG APP1 segment."""
    buf = container(_exif(endian, ifd_off))
    decode, read_side_values = CODECS[media_format(buf)]
    assert decode(buf).shape == (30, 40)
    assert read_side_values(buf)["orientation"] == 6


def test_png_side_values_survive_a_non_zlib_iccp():
    bad = _chunk(b"iCCP", b"sRGB\x00\x00not zlib")
    buf = _in_png(_exif("LE", 8))
    buf = buf[:_IHDR_END] + bad + buf[_IHDR_END:]
    assert decode_media(buf).shape == (30, 40)
    assert side_values(buf) == {"dpi": None, "icc_name": "sRGB", "orientation": 6}


def test_png_iccp_without_nul_has_no_name():
    png = encode_gray(_image(), dpi=300.0)
    buf = png[:_IHDR_END] + _chunk(b"iCCP", b"no separator here") + png[_IHDR_END:]
    sv = side_values(buf)
    assert sv["icc_name"] is None
    assert sv["dpi"] == pytest.approx(300.0, abs=0.01)


def test_tiff_icc_tag_of_non_byte_type_has_no_name():
    """An InterColorProfile entry typed SHORT holds no profile: the TIFF
    still decodes and keeps its dpi and orientation, and its ICC name is
    None instead of a raise."""
    from ms_ocr_spark.extraction.ocr.tiff import encode_gray_tiff

    buf = bytearray(encode_gray_tiff(_image(), dpi=300.0, orientation=6, icc_name="sRGB"))
    (ifd,) = struct.unpack_from("<I", buf, 4)
    (n,) = struct.unpack_from("<H", buf, ifd)
    entry = next(e for e in range(ifd + 2, ifd + 2 + 12 * n, 12) if buf[e : e + 2] == b"\x73\x87")
    (count,) = struct.unpack_from("<I", buf, entry + 4)
    struct.pack_into("<HI", buf, entry + 2, 3, count // 2)  # SHORT pairs of profile bytes
    decode, read_side_values = CODECS[media_format(bytes(buf))]
    assert decode(bytes(buf)).shape == (30, 40)
    assert read_side_values(bytes(buf)) == {"dpi": 300.0, "icc_name": None, "orientation": 6}


_FORGED_COUNT = """
import resource, struct
import numpy as np
from ms_ocr_spark.extraction.ocr.tiff import encode_gray_tiff
from ms_ocr_spark.extraction.pipeline import media_status

good = encode_gray_tiff(np.zeros((20, 30), np.uint8))
buf = bytearray(good)
(ifd,) = struct.unpack_from("<I", buf, 4)
(n,) = struct.unpack_from("<H", buf, ifd)
entry = next(
    ifd + 2 + 12 * i for i in range(n) if struct.unpack_from("<H", buf, ifd + 2 + 12 * i)[0] == 273
)
struct.pack_into("<I", buf, entry + 4, 20_000_000)  # StripOffsets count
media_status(good, None)  # load every module first
before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
status = media_status(bytes(buf), None)[1]
grown_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - before
print(status, grown_kb)
"""


def test_forged_tiff_tag_count_costs_no_memory():
    """A StripOffsets count of 20 million in a 20x30 TIFF is refused by its
    size against the buffer before any value is unpacked."""
    out = subprocess.run(
        [sys.executable, "-c", _FORGED_COUNT], cwd=REPO, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr[-2000:]
    status, grown_kb = out.stdout.split()
    assert status == "decode_error:ValueError"
    assert int(grown_kb) < 64 * 1024


_PLAN_ONLY = """
import sys
from ms_ocr_spark.extraction.pipeline import extract_documents
from ms_ocr_spark.operators.multimodal import mime_col
from ms_ocr_spark.plans import checkpoint
from ms_ocr_spark.session import get_spark

spark = get_spark(app="plan-only", cores=1, shuffle_partitions=1)
docs = spark.read.parquet(sys.argv[1] + "/documents.parquet")
media = spark.read.parquet(sys.argv[1] + "/media_store.parquet")
extract_documents(docs, media)._jdf.queryExecution().executedPlan()
print("loaded:", *sorted(m for m in sys.modules if m.startswith("ms_ocr_spark.extraction.ocr")))
"""


def test_planning_extraction_loads_no_codec(corpus_dir):
    """Planning an extraction imports no `extraction.ocr` module: its
    kernel builds templates at import, a cost only the workers pay."""
    out = subprocess.run(
        [sys.executable, "-c", _PLAN_ONLY, corpus_dir],
        cwd=REPO,
        capture_output=True,
        text=True,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.splitlines()[-1] == "loaded:"

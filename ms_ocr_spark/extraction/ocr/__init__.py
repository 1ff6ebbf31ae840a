import numpy as np


class ScopeError(ValueError):
    """A payload outside a codec's decode scope: `args` is (quarantine
    reason, what is out of scope).  The decoders raise it where they meet
    the layout, and `pipeline.media_status` reports the reason.  Defined
    before the codec imports below, which import it from this package."""


from ms_ocr_spark.operators.multimodal import media_format

from . import jpeg, png, tiff
from .jpeg import encode_gray_jpeg
from .kernel import decode_image
from .png import encode_gray
from .tiff import encode_gray_tiff

# `multimodal.IMAGE_FORMATS` row name -> (decoder, side-value reader)
CODECS = {
    "png": (png.decode_gray, png.side_values),
    "jpeg": (jpeg.decode_gray_jpeg, jpeg.jpeg_side_values),
    "tiff": (tiff.decode_gray_tiff, tiff.tiff_side_values),
}


def decode_media(buf: bytes) -> np.ndarray:
    """The one decode entry of every image operator: the codec of the
    `IMAGE_FORMATS` row that `media_format` sniffs from the magic bytes
    (the same table the JVM-side `mime_col` is built from).  Raises
    ValueError on formats the engine cannot decode — the pipeline catches
    that and quarantines the row."""
    codec = CODECS.get(media_format(buf))
    if codec is None:
        raise ValueError("undecodable media format")
    return codec[0](buf)


__all__ = [
    "ScopeError",
    "decode_image",
    "encode_gray",
    "encode_gray_jpeg",
    "encode_gray_tiff",
    "decode_media",
    "CODECS",
]

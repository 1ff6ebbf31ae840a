import numpy as np


class ScopeError(ValueError):
    """A payload outside a codec's decode scope: `args` is (quarantine
    reason, what is out of scope).  The decoders raise it where they meet
    the layout, and `pipeline.media_status` reports the reason.  Defined
    before the codec imports below, which import it from this package."""


from .jpeg import decode_gray_jpeg, encode_gray_jpeg
from .kernel import decode_image
from .png import decode_gray, encode_gray
from .tiff import decode_gray_tiff, encode_gray_tiff


def decode_media(buf: bytes) -> np.ndarray:
    """Magic-byte dispatch to the right codec (reference allow-list order
    jpg/png/tif, `/root/reference/env/local.env:25`).  Raises ValueError
    on formats the engine cannot decode — the pipeline catches that and
    quarantines the row."""
    if buf[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_gray(buf)
    if buf[:3] == b"\xff\xd8\xff":
        return decode_gray_jpeg(buf)
    if buf[:4] in (b"II*\0", b"MM\0*"):
        return decode_gray_tiff(buf)
    raise ValueError("undecodable media format")


__all__ = [
    "ScopeError",
    "decode_image",
    "decode_gray",
    "encode_gray",
    "decode_gray_jpeg",
    "encode_gray_jpeg",
    "decode_gray_tiff",
    "encode_gray_tiff",
    "decode_media",
]

"""No-Spark layer timers: the codec, OCR kernel and Arc90 layers timed by
calling their public functions from the benchmark process.

Kernel stages are timed by temporarily replacing the stage functions in
`ms_ocr_spark.extraction.ocr.kernel` with timing wrappers; `decode_layout`
looks them up as module globals, so every call goes through a wrapper.
"""

from __future__ import annotations

import time
from collections import Counter

from corpora import mime_of

KERNEL_STAGES = ("median3", "binarize", "estimate_skew", "rotate_bilinear", "connected_components")
MIMES = ("png", "jpeg", "tiff")


def time_layers(payloads: list[bytes], htmls: list[str], per_mime: int = 24) -> dict:
    """Per-layer figures over at most `per_mime` payloads of each MIME type
    and every html span given."""
    from ms_ocr_spark.extraction.arc90 import extract_main_text
    from ms_ocr_spark.extraction.ocr import decode_image, decode_media, kernel

    stage_s = dict.fromkeys(KERNEL_STAGES, 0.0)
    rotated = 0

    def timed(name: str, fn):
        def wrapper(*args, **kwargs):
            nonlocal rotated
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            stage_s[name] += time.perf_counter() - t0
            if name == "estimate_skew" and out != 0.0:
                rotated += 1
            return out

        return wrapper

    taken: Counter = Counter()
    codec_s: Counter = Counter()
    errors: Counter = Counter()
    kernel_s, n_kernel = 0.0, 0
    originals = {name: getattr(kernel, name) for name in KERNEL_STAGES}
    try:
        for name, fn in originals.items():
            setattr(kernel, name, timed(name, fn))
        for buf in payloads:
            mime = mime_of(buf)
            if mime not in MIMES or taken[mime] >= per_mime:
                continue
            taken[mime] += 1
            t0 = time.perf_counter()
            try:
                img = decode_media(buf)
            except Exception as exc:  # counted by class, as the pipeline would null it
                errors[type(exc).__name__] += 1
                continue
            finally:
                codec_s[mime] += time.perf_counter() - t0
            t0 = time.perf_counter()
            try:
                decode_image(img)
            except Exception as exc:
                errors[type(exc).__name__] += 1
            kernel_s += time.perf_counter() - t0
            n_kernel += 1
    finally:
        for name, fn in originals.items():
            setattr(kernel, name, fn)

    t0 = time.perf_counter()
    for html in htmls:
        extract_main_text(html)
    arc90_s = time.perf_counter() - t0

    out: dict[str, float] = {}
    for mime in MIMES:
        out[f"codec.{mime}.images"] = taken[mime]
        out[f"codec.{mime}.ms_per_image"] = 1e3 * codec_s[mime] / taken[mime] if taken[mime] else 0.0
    out["codec.errors"] = sum(errors.values())
    out["kernel.ms_per_image"] = 1e3 * kernel_s / n_kernel if n_kernel else 0.0
    for name in KERNEL_STAGES:
        out[f"kernel.{name}.ms"] = 1e3 * stage_s[name] / n_kernel if n_kernel else 0.0
    out["kernel.layout.ms"] = out["kernel.ms_per_image"] - sum(out[f"kernel.{n}.ms"] for n in KERNEL_STAGES)
    out["kernel.rotated_frac"] = rotated / n_kernel if n_kernel else 0.0
    out["arc90.spans"] = len(htmls)
    out["arc90.ms_per_span"] = 1e3 * arc90_s / len(htmls) if htmls else 0.0
    return {"metrics": out, "codec_errors_by_class": dict(errors)}

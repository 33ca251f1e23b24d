"""Pieces shared by the conversion workloads."""

from __future__ import annotations

import hashlib
import os
import time

from docling_api_spark.functions.formats import FORMATS, classify_format
from docling_api_spark.pipeline.convert import LightweightConverter


def md_hash(markdown: str | None) -> str | None:
    return None if markdown is None else hashlib.sha1(markdown.encode()).hexdigest()


def write_atomic(path: str, data: bytes) -> None:
    """Write under a hidden name, then rename: file sources skip dot-files,
    so a reader never sees a partly written document."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.part")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, path)


class Expectations:
    """Expected conversion results, computed in-process by calling the
    package's classifier and converter directly on the generated files.
    Also times both per format: the in-process cost of the converters."""

    def __init__(self) -> None:
        self.by_name: dict[str, dict] = {}
        self.classify_s = 0.0
        self.convert_s = dict.fromkeys(FORMATS, 0.0)
        self.docs = dict.fromkeys(FORMATS, 0)
        self._conv = LightweightConverter()

    def add(self, name: str, content: bytes) -> dict:
        t0 = time.perf_counter()
        fmt = classify_format(content, name)
        t1 = time.perf_counter()
        res = self._conv.convert(name, content)
        t2 = time.perf_counter()
        self.classify_s += t1 - t0
        if fmt is not None:
            self.convert_s[fmt] += t2 - t1
            self.docs[fmt] += 1
        exp = {
            "format": fmt,
            "filename": res["filename"],
            "ok": res["error"] is None,
            "md": md_hash(res["markdown"]),
            "images": len(res["images"]),
        }
        self.by_name[name] = exp
        return exp

    def layer_metrics(self) -> dict:
        out = {"formats.classify_s": self.classify_s}
        for fmt in FORMATS:
            out[f"convert.s.{fmt}"] = self.convert_s[fmt]
            out[f"convert.docs.{fmt}"] = self.docs[fmt]
        return out

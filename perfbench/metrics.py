"""The benchmark's metrics, read from BENCHMARK.json (names, units,
directions and bounds live there only); README.md tables what each layer
metric should move, on which workload.

End-to-end metrics apply to every workload; their unit of work is the
workload's operation (a request of the whole corpus for `convert_batch`, a
pass over the query list for `query_mix`). Per-layer metrics come from the
traced run; a layer a workload does not exercise reports 0. Counters from
Spark's status store are per operation on the closed loops and per
measurement window on the stream.
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)

END_TO_END = tuple(m["name"] for m in _SPEC["end_to_end"])
PER_LAYER = tuple(m["name"] for m in _SPEC["per_layer"])
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"] + _SPEC["per_layer"]}

"""Metric catalogue. The end-to-end and per-layer names, units and
bounds come from BENCHMARK.json at the checkout root; this module adds
the figures that exist on one workload only. README.md maps each
per-layer metric to the end-to-end metric it should move."""

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

WORKLOADS = [w["name"] for w in SPEC["workloads"]]
END_TO_END = SPEC["end_to_end"]
PER_LAYER = SPEC["per_layer"]

# End-to-end figures that exist on one workload only. Every run prints
# them in its report and record; steady.py checks them against these
# bounds. BENCHMARK.json lists only metrics every workload reports,
# because every run must print every metric listed there.
WORKLOAD_SPECIFIC = [
    {"name": "fail_ratio", "unit": "ratio", "better": "lower", "bound": 0.0,
     "workloads": WORKLOADS},
    {"name": "op_p90_ms", "unit": "ms", "better": "lower", "bound": 0.25,
     "workloads": ["dashboard", "ingest"]},
    {"name": "train_s", "unit": "s", "better": "lower", "bound": 0.25,
     "workloads": ["dashboard"]},
    {"name": "predict_ms", "unit": "ms", "better": "lower", "bound": 0.25,
     "workloads": ["dashboard"]},
    {"name": "stored_bytes_per_byte", "unit": "ratio", "better": "lower", "bound": 0.05,
     "workloads": ["ingest"]},
]

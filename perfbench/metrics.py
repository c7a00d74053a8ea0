"""What each metric is for, beside the names and units in BENCHMARK.json.

``BENCHMARK.json`` lists every workload and metric with its unit. It has
a fixed set of keys, so this file holds the rest: the workloads a
layer metric is non-zero on (``APPLIES``), and which end-to-end metric on
which workload each group of layer metrics should move (``MOVES``), so a
change to one layer can be judged against the right number. Every
end-to-end metric applies to every workload.
"""

from __future__ import annotations

import json
import os

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

# layer-metric prefix -> the workloads it is measured on (all when absent)
APPLIES = {
    "frame.": ["frame_algebra"],
    "reshape.": ["frame_algebra"],
    "events.": ["frame_algebra"],
    "io.": ["frame_algebra"],
    "dedup.": ["incremental_stores"],
    "text.": ["incremental_stores"],
    "similarity.": ["incremental_stores"],
    "pipeline.": ["incremental_stores"],
    "graph.": ["incremental_stores"],
    "sketches.": ["incremental_stores"],
    "temporal.": ["incremental_stores"],
    "skew.": ["incremental_stores"],
    "store.": ["incremental_stores"],
}

# layer-metric group -> the end-to-end metrics (and workloads) it should move
MOVES = {
    "frame.*, reshape.*, events.*, io.*": "pass_cpu_s and peak_rss_mb on frame_algebra; "
    "no change elsewhere",
    "dedup.*, text.*, similarity.*, pipeline.*, dedup.candidates_per_pair": "pass_cpu_s on "
    "incremental_stores, through the corpus curation that runs in every pass",
    "sketches.*, temporal.*, skew.*, store.*": "pass_cpu_s, first_pass_cpu_s and "
    "write_bytes_per_input_byte on incremental_stores",
    "graph.*": "pass_cpu_s on incremental_stores",
    "spark.*": "pass_cpu_s on every workload (session settings act here)",
    "session.start_s, data.load_s": "setup_s and first_pass_cpu_s",
    "data.prepare_s": "setup_s on incremental_stores, where it builds the stores from the base",
    "wall.first_pass_s, wall.pass_s": "none; the wall times of the passes whose CPU time "
    "the end-to-end metrics report",
    "trace.*": "none; these check the trace itself",
}


def units(section: str) -> dict:
    """``{metric name: unit}`` of ``section`` ("end_to_end" or "per_layer")
    in BENCHMARK.json, in file order."""
    with open(SPEC_PATH) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


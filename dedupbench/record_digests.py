#!/usr/bin/env python3
"""Rewrite input_digests.json: every workload's input digest for seeds
0-99. Run it only when a workload's inputs change on purpose:

    python3 dedupbench/record_digests.py
"""

import json
import os

import corpus_gen
from run import HERE, WORKLOADS, workload_corpora

digests = {
    name: {str(seed): corpus_gen.input_digest(workload_corpora(name, seed)) for seed in range(100)}
    for name in WORKLOADS
}
with open(os.path.join(HERE, "input_digests.json"), "w") as f:
    json.dump(digests, f, indent=1, sort_keys=True)
    f.write("\n")

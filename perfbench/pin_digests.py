#!/usr/bin/env python3
"""Rewrite the pinned per-url digests of the pinned seed from the in-process
extraction of the checked-out code.  Run from the repository root after a
change that is meant to alter extraction output:

    python3 perfbench/pin_digests.py [workload ...]
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import workloads  # noqa: E402
from run import WORK, WORKLOADS  # noqa: E402


def main(names: list[str]) -> None:
    for name in names or WORKLOADS:
        path = workloads.prepare(name, workloads.PINNED_SEED, os.path.join(WORK, "inputs"))
        ref = workloads.in_process_digests(*workloads.read_docs(path))
        out = workloads.pinned_path(name)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(ref, f, indent=0, sort_keys=True)
            f.write("\n")
        print(f"{out}: {len(ref)} urls")


if __name__ == "__main__":
    main(sys.argv[1:])

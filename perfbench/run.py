"""Run one workload of the benchmark and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve|batch --seed N \
        --seconds S --trace 0|1

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it carries run details (input
mix, calibration probe, per-op-kind timings). ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` a separate traced run's per-layer
metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.datagen import ensure_data  # noqa: E402

WORKLOADS = ("serve", "batch")


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", choices=WORKLOADS, required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    run_dir = common.host_setup()
    # a terminated run still removes its directory (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        # fails fast, before any output, where the engine is not present
        import opencode_hive_archon_spark  # noqa: F401

        sf_dir = ensure_data(common.BUILD_DIR)
        if args.workload == "serve":
            from perfbench import serve as workload
        else:
            from perfbench import batch as workload
        workload.run(args, run_dir, sf_dir)
    finally:
        common.cleanup(run_dir)


if __name__ == "__main__":
    main()

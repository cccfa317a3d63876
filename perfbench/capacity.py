"""Capacity run for the ``stream_alerts`` workload: what the streaming
query sustains on this host, which ``wl_stream_alerts.FILES_PER_S`` is
pinned against. From the root of a checkout:

    python3 perfbench/capacity.py --seed 1

It lands fixed backlogs of staged files at once (``BACKLOGS``), waits for
each to commit, and prints one JSON line: the fixed cost of a micro-batch,
the cost of a row, the capacity in rows/s, the offered rate and every data
batch's rows and seconds. See ``wl_stream_alerts.capacity``.
"""

from __future__ import annotations

import argparse
import json
import sys
import types

import run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    opts = types.SimpleNamespace(workload="stream_alerts", seed=args.seed, seconds=0, trace=0)
    with run.opened(opts) as ctx:
        import wl_stream_alerts  # needs the package, which opened() puts on the path

        out = wl_stream_alerts.capacity(ctx)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

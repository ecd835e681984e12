"""Tracing overhead: the traced-minus-untraced difference of every
end-to-end metric, for one workload and seed.

    python3 perfbench/overhead.py --workload explore --seed 1 --seconds 15

Runs ``run.py`` twice, untraced first, and reads the ``metric`` report
lines of both runs (a traced run reports its end-to-end figures there
too, while its JSON result holds the per-layer metrics).
"""

from __future__ import annotations

import argparse
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def metrics(args: argparse.Namespace, trace: int) -> dict[str, tuple[float, str]]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout
    found = {}
    for line in out.splitlines():
        parts = line.split()
        if parts[:2] == ["metric", args.workload] and len(parts) >= 5:
            found[parts[2]] = (float(parts[3]), parts[4])
    return found


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()
    plain, traced = metrics(args, 0), metrics(args, 1)
    for name, (value, unit) in plain.items():
        if name in traced:
            t = traced[name][0]
            rel = (t - value) / value if value else float("nan")
            print(f"overhead {args.workload} {name} untraced={value:.6g} traced={t:.6g} "
                  f"diff={t - value:+.6g} {unit} ({rel:+.1%})")


if __name__ == "__main__":
    main()

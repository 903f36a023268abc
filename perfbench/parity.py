"""One-off determinism check: the same workload and seed at two session
sizes must produce identical outputs (committed frontier and seen
fingerprints plus RoundStats for a crawl, output hashes for the sweep).

    python3 perfbench/parity.py --workload crawl_resume --seed 1 --cores 2 4

Exits 1 if the outputs differ.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def outputs(workload: str, seed: int, cores: int) -> dict:
    p = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0", "--cores", str(cores)],
        cwd=RUN.parent.parent, capture_output=True, text=True, check=True,
    )
    for line in p.stderr.splitlines():
        if line.startswith("perfbench: outputs "):
            return json.loads(line[len("perfbench: outputs "):])
    raise RuntimeError(f"no outputs line from local[{cores}]")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, nargs=2, default=[2, 4])
    args = ap.parse_args()
    a, b = (outputs(args.workload, args.seed, c) for c in args.cores)
    print(json.dumps({f"local[{c}]": o for c, o in zip(args.cores, (a, b))}, indent=1))
    same = a == b
    print(f"{args.workload} seed {args.seed}: "
          f"{'identical' if same else 'DIFFERENT'} at local[{args.cores[0]}] and local[{args.cores[1]}]")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())

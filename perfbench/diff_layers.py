"""Compare two traced runs layer by layer.

    python3 perfbench/diff_layers.py A.layers.json B.layers.json

Prints each layer's self time and job count, then every per-layer
metric, as A, B and B/A.
"""

from __future__ import annotations

import json
import sys


def _ratio(a: float, b: float) -> str:
    return f"{b / a:7.3f}" if a else "      -"


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[0]) as fa, open(argv[1]) as fb:
        a, b = json.load(fa), json.load(fb)
    print(f"{'layer':22s} {'self_ms A':>11s} {'self_ms B':>11s}    B/A {'jobs A':>7s} {'jobs B':>7s}")
    for layer in sorted(set(a["layers"]) | set(b["layers"])):
        la = a["layers"].get(layer, {})
        lb = b["layers"].get(layer, {})
        sa, sb = la.get("self_ms", 0.0), lb.get("self_ms", 0.0)
        print(f"{layer:22s} {sa:11.1f} {sb:11.1f} {_ratio(sa, sb)} "
              f"{la.get('jobs', 0):7d} {lb.get('jobs', 0):7d}")
    print()
    print(f"{'metric':36s} {'A':>12s} {'B':>12s}    B/A")
    for k in sorted(set(a["per_layer"]) | set(b["per_layer"])):
        va, vb = a["per_layer"].get(k, 0.0), b["per_layer"].get(k, 0.0)
        print(f"{k:36s} {va:12.2f} {vb:12.2f} {_ratio(va, vb)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

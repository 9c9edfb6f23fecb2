"""Per-query minima comparison across bench control rounds.

Methodology (SCALE.md "CPU-steal variance"): single runs are
meaningless in this environment's 1.9x steal band, so compare PER-QUERY
MINIMA over a round's controls. Wall-clock minima still move with CPU
steal; perfbench's CPU-time metrics (perfbench/README.md) do not.

Each side also reports the distinct bench.py warm-up step lists its
files ran (``"unrecorded"`` for files written before bench.py named
them); ``warmup_mixed`` is true when the files do not all share one,
since a query timed after different warm-ups (s21 before and after the
``python_datasource`` step) is not comparable.

Each side's ``codegen_compiles`` totals, over the common queries, each
query's minimum generated-class compile count (bench.py's
``codegen_compiles``): a slowdown that compiles more is recompiling,
not computing more. A side with a file written before bench.py counted
compiles reports ``"unrecorded"``.

Usage::

    python scripts/bench_compare.py BENCH_r11_control_*.json --vs BENCH_r10_control_*.json
"""

from __future__ import annotations

import argparse
import json


def _minima(paths: list[str]) -> tuple[dict, int, set, dict | None]:
    mins: dict[str, float] = {}
    compiles: dict[str, int] | None = {}
    used = 0
    warmups: set[str] = set()
    for p in paths:
        with open(p) as f:
            d = json.load(f)
        d = d.get("parsed", d)  # a bench.py line wrapped with run metadata
        q = d.get("queries")
        if not q:
            continue
        used += 1
        warmups.add(",".join(d["warmup"]) if "warmup" in d else "unrecorded")
        _min_into(mins, q)
        if "codegen_compiles" not in d:
            compiles = None
        elif compiles is not None:
            _min_into(compiles, d["codegen_compiles"])
    return mins, used, warmups, compiles


def _min_into(acc: dict, values: dict) -> None:
    for k, v in values.items():
        if k not in acc or v < acc[k]:
            acc[k] = v


def _compiles(compiles: dict | None, common: list[str]):
    if compiles is None:
        return "unrecorded"
    return sum(compiles.get(k, 0) for k in common)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("new", nargs="+")
    ap.add_argument("--vs", nargs="+", required=True)
    ap.add_argument("--flag", type=float, default=1.10,
                    help="report queries at or above this ratio")
    args = ap.parse_args()

    new, n_new, warm_new, comp_new = _minima(args.new)
    old, n_old, warm_old, comp_old = _minima(args.vs)
    common = sorted(set(new) & set(old))
    tot_new = sum(new[k] for k in common)
    tot_old = sum(old[k] for k in common)
    flagged = sorted(
        ((new[k] / old[k], k) for k in common if old[k] > 0
         and new[k] / old[k] >= args.flag),
        reverse=True,
    )
    print(json.dumps({
        "controls_used_new": n_new,
        "controls_used_old": n_old,
        "warmup_new": sorted(warm_new),
        "warmup_old": sorted(warm_old),
        "warmup_mixed": len(warm_new | warm_old) > 1,
        "common_queries": len(common),
        "total_new_sec": round(tot_new, 1),
        "total_old_sec": round(tot_old, 1),
        "ratio": round(tot_new / tot_old, 3) if tot_old else None,
        "codegen_compiles_new": _compiles(comp_new, common),
        "codegen_compiles_old": _compiles(comp_old, common),
        "flagged": [
            {"query": k, "ratio": round(r, 3),
             "new_sec": new[k], "old_sec": old[k]}
            for r, k in flagged
        ],
    }, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

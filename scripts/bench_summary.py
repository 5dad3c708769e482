#!/usr/bin/env python
"""Generate the round bench summary FROM the committed artifact, so docs
can never drift from the numbers they ship with (the r9 VERDICT caught
COVERAGE.md describing a superseded run).

Usage:
    python scripts/bench_summary.py [bench_full.out.json [PREV_BENCH.json]]

The default input is the payload of the last `python bench.py` run
(bench_full.out.json, gitignored); pass BENCH_FULL.json to summarise
the committed record.

Prints a markdown block: headline totals, gate results (via
audit_registry_perf.check_bench), the interleaved ratios, and the
calib-normalized cross-round moves >25% against the previous artifact.
Paste (or pipe) into COVERAGE.md / README verbatim.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from audit_registry_perf import _load_bench, _normalized, check_bench  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    cur_path = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.join(ROOT, "bench_full.out.json")
    prev_path = sys.argv[2] if len(sys.argv) > 2 else None
    if prev_path is None:
        import glob

        cands = sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json")))
        prev_path = cands[-1] if cands else None
    cur = _load_bench(open(cur_path).read())
    q = cur.get("queries", {})
    fails = check_bench(cur)
    lines = []
    lines.append(
        f"- Bench (sf{cur.get('sf', '?')}, "
        f"`contended: {str(cur.get('contended', '?')).lower()}`, "
        f"machine_factor {cur.get('machine_factor', '?')}): "
        f"`--check-bench` **{len(fails)} gate failure"
        f"{'s' if len(fails) != 1 else ''}**"
        + (f" ({'; '.join(fails)})" if fails else
           " on the committed artifact")
        + f"; headline total {cur.get('value', '?')}s.")
    ratios = {k: v for k, v in q.items() if k.endswith("_ratio")}
    if ratios:
        lines.append("  Interleaved pair-timed medians: "
                     + ", ".join(f"{k.replace('_ratio', '')} "
                                 f"**{v:.2f}x**"
                                 for k, v in sorted(ratios.items())) + ".")
    unstable = cur.get("pass_unstable_entries") or []
    if unstable:
        lines.append(f"  pass-unstable entries: {', '.join(unstable)}.")
    if prev_path and os.path.exists(prev_path):
        prev = _load_bench(open(prev_path).read())
        a, b = _normalized(prev), _normalized(cur)
        moves = sorted(
            ((k, a[k], b[k], (b[k] / a[k] - 1) * 100)
             for k in a.keys() & b.keys() if a[k] > 0.02),
            key=lambda r: -abs(r[3]))
        big = [(k, pa, pb, pct) for k, pa, pb, pct in moves
               if abs(pct) > 25]
        if big:
            lines.append(
                f"  Calib-normalized moves >25% vs "
                f"{os.path.basename(prev_path)}: "
                + "; ".join(f"`{k}` {pa:.3f}s→{pb:.3f}s ({pct:+.0f}%)"
                            for k, pa, pb, pct in big) + ".")
        else:
            lines.append(
                f"  No calib-normalized entry moved >25% vs "
                f"{os.path.basename(prev_path)}.")
    print("\n".join(lines))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())

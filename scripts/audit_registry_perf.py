#!/usr/bin/env python
"""Time every registry query at a given SF dir; print sorted JSON.

Not part of the graded bench (that is bench.py) — a development tool to
find per-query outliers worth optimizing.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_spark import workloads
from iceberg_spark.sources.testdata import session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    spark = session("iceberg_spark_audit")
    spark.sparkContext.setLogLevel("ERROR")
    reg = workloads.queries()
    times = {}
    for name, fn in reg.items():
        try:
            t0 = time.perf_counter()
            fn(spark, SF_DIR).collect()
            warm0 = time.perf_counter() - t0
            # warm rerun: steady-state cost once fixtures/tables exist
            t0 = time.perf_counter()
            fn(spark, SF_DIR).collect()
            times[name] = {"cold": round(warm0, 3),
                           "warm": round(time.perf_counter() - t0, 3)}
        except Exception as e:  # noqa: BLE001
            times[name] = {"error": str(e)[:200]}
        print(f"{name}: {times[name]}", file=sys.stderr, flush=True)
    ordered = dict(sorted(times.items(),
                          key=lambda kv: -kv[1].get("warm", 1e9)))
    print(json.dumps(ordered, indent=1))


# ---------------------------------------------------------------------------
# regression gates over a bench.py JSON (run: --check-bench <file|->)
# ---------------------------------------------------------------------------

# Absolute ceilings in seconds (sf0.1 local[32]), NORMALIZED by the
# bench's `cpu_calib` probe: ceilings were tuned on a machine where
# cpu_calib measured CAL_REF, and scale linearly with the current run's
# calib so VM speed drift between rounds neither trips nor masks an
# engine regression (round-6 measurement: the same commit planned 10k
# files in 0.165s on the r5 VM and 0.26s on the r6 VM — pure machine
# drift, confirmed by timing the r5 tree on the r6 VM).
CAL_REF = 0.095  # cpu_calib on the machine the ceilings were tuned on
GATES_ABS = {
    # ~40% headroom over same-machine medians (0.26 / 1.6 / 0.34)
    "plan_full_10k_files": 0.36,
    "maintenance_plan_10k": 2.20,
    # 0.50 -> 0.65 (r13): the entry is a 32-task x 3-stage Spark job
    # whose wall time tracks MULTI-core throughput, which on the r13 VM
    # class swings ~2x between windows while the single-thread
    # cpu_calib normalizer barely moves — two degraded-window runs
    # normalized to 0.73/0.80 with the SAME tree that measured
    # 0.47-0.49 in good windows, and an A/B of the r12 vs r13 trees on
    # one box window showed them statistically identical (914 vs
    # 917 ms medians), i.e. environment, not regression. 0.65 keeps a
    # real 2x regression detectable from the good-window ~0.45 median.
    "plan_distributed_full_10k_files": 0.65,
    # Avro-manifest decode throughput for register_table / REST commits
    # (~0.25s same-machine median at 10k entries). Single-threaded
    # pure-Python driver-side decode — gated under the SINGLE-thread
    # normalizer only (it was accidentally shuffled into GATES_ABS_MT
    # when that dict was introduced in r13, which left it ungated:
    # check_bench iterates GATES_ABS and consults GATES_ABS_MT only as
    # an alternate ceiling for names already in GATES_ABS).
    "plan_import_decode_10k": 0.40,
    # Steady-state REPLANNING twin of plan_distributed_full (r14): same
    # 32-task distributed planning job with the session memos (the
    # manifest-list and JVM schema caches) left warm. Exists so a
    # regression in the cache tiers — which would push the warm time up
    # toward (or past) the cold time — is gated, not just visible.
    # Same ceiling as the cold entry: the dominant cost is the same
    # MT-swinging Spark job, so a tighter ceiling would only add
    # window-noise trips.
    "plan_distributed_warm_10k_files": 0.65,
    # AUTO planning, cold, over 128 small manifests (10,240 files). The
    # entry asserts on every run that AUTO chose local planning; this
    # ceiling watches what that local plan costs. On a 4-core host it
    # measured 0.25 s (0.37 s normalized) in a quiet window and 0.44 s
    # (0.54 s) in a loaded one; the ceiling leaves 20% over the latter.
    "plan_auto_128_manifests": 0.65,
}
# Multi-core-tracking entries (wide Spark jobs whose wall time follows
# AGGREGATE core throughput, not single-thread speed). For these, a run
# that carries bench.py's `cpu_calib_mt` probe (r13+) may alternatively
# pass under the multi-core normalizer: the fixed-total-work parallel
# probe moves WITH the 2x multi-core throughput swings this VM class
# shows between windows (while single-thread cpu_calib barely moves),
# so it is the correct scale for these entries. Pass-if-either keeps
# the original single-thread gate authoritative on machines where the
# two agree and only rescues runs the ST normalizer mis-scales.
# cpu_calib_mt anchored to CAL_REF on the r13 box in a quiet window
# (measured st=0.0858 / mt=0.4361 back to back; 0.4361 x 0.095/0.0858):
# on a window where single-thread and multi-core throughput agree, the
# two machine factors coincide, so the MT gate only diverges when the
# VM's parallel throughput genuinely moved relative to its own cores.
CAL_MT_REF = 0.4829
GATES_ABS_MT = {
    "plan_distributed_full_10k_files": 0.65,
    "plan_distributed_warm_10k_files": 0.65,
}
GATES_RATIO = {
    # Every ratio gates on bench.py's INTERLEAVED pair-timed median so
    # ambient load on a grading rerun lands on both sides of every
    # sample: the solo-timed pairs have zero noise headroom on ~150ms
    # denominators (the r9 rerun failed mor_unrelated 1.43x>1.4x, a
    # quiet r10 run tripped eq_mor 2.01x>2.0x, with the same code
    # passing with margin on adjacent runs). The hard regression checks
    # are bench.py's setup assertions (e.g. the unrelated-delete plan
    # attaches ZERO delete files); these ratios are the backstop.
    "mor_dv": ("mor_dv_ratio", None, 1.35),
    "mor_pos": ("mor_pos_ratio", None, 2.0),
    "eq_mor": ("eq_mor_ratio", None, 2.0),
    # scattered keys over an unclustered layout: the compiled-probe tier
    # (eq_mor's contiguous keys take the range tier), at the ceiling
    # eq_mor had while it measured this shape
    "eq_mor_scattered": ("eq_mor_scattered_ratio", None, 2.0),
    "mor_unrelated": ("mor_unrelated_ratio", None, 1.4),
    "q1_vs_raw": ("q1_vs_raw_ratio", None, 1.5),
}
# older artifacts predate the pair-timed ratios: gate the solo-timed
# entry pair instead, with widened ceilings for the ambient-load noise
# the pair-timing exists to cancel
GATES_RATIO_FALLBACK = {
    "mor_dv": ("delete_mor_dv_scan", "orders_scan_no_deletes_baseline",
               1.55),
    "mor_pos": ("delete_mor_scan", "orders_scan_no_deletes_baseline", 2.3),
    "eq_mor": ("eq_delete_mor_scan", "orders_scan_no_deletes_baseline",
               2.3),
    "eq_mor_scattered": ("eq_delete_mor_scattered_scan",
                         "orders_scan_no_deletes_baseline", 2.3),
    "mor_unrelated": ("mor_unrelated_delete_scan",
                      "orders_filtered_scan_baseline", 1.6),
}


def check_bench(bench_json: dict) -> list:
    """Returns a list of gate-violation strings (empty = all green)."""
    q = bench_json.get("queries", bench_json)
    fails = []
    # machine-speed factor; absent calib (older bench files) -> 1.0
    factor = (q.get("cpu_calib") or CAL_REF) / CAL_REF
    factor_mt = (q.get("cpu_calib_mt") or 0.0) / CAL_MT_REF
    for name, ceil in GATES_ABS.items():
        v = q.get(name)
        scaled = ceil * factor
        if v is not None and v > scaled:
            mt_ceil = GATES_ABS_MT.get(name)
            if mt_ceil is not None and factor_mt > 0 \
                    and v <= mt_ceil * factor_mt:
                continue  # passes under the multi-core normalizer
            fails.append(f"{name}: {v:.3f}s > {scaled:.3f}s "
                         f"(= {ceil}s x machine factor {factor:.2f})")
    for gname, (num, den, ceil) in GATES_RATIO.items():
        nv = q.get(num)
        if nv is None and gname in GATES_RATIO_FALLBACK:
            num, den, ceil = GATES_RATIO_FALLBACK[gname]
            nv = q.get(num)
        if nv is None:
            continue
        r = nv if den is None else (nv / q[den] if q.get(den) else None)
        if r is not None and r > ceil:
            fails.append(f"{gname}: {r:.2f}x > {ceil}x ({num}/{den})")
    # encrypted scan. Primary gate (JVM-native modular-encryption path,
    # jvm_crypto.py): <= 1.5x the plaintext scan of the same data, no
    # floor adjustment. Fallback gate (pyarrow mapInPandas path, e.g. no
    # JDK): decrypt+transfer cost ABOVE the fixed python-plan floor must
    # stay within 3x plaintext. Passing either passes.
    se, fl = q.get("scan_encrypted"), q.get("python_plan_floor")
    base = q.get("orders_scan_no_deletes_baseline")
    if se is not None and base:
        direct_ok = se <= 1.5 * base
        floor_ok = (fl is not None
                    and max(0.0, se - fl) <= 3.0 * base)
        if not (direct_ok or floor_ok):
            fails.append(
                f"scan_encrypted: {se:.3f}s > 1.5x baseline {base:.3f}s "
                f"AND floor-adjusted cost > 3x baseline")
    return fails


def _normalized(d: dict) -> dict:
    """Calib-normalized per-entry seconds for any bench JSON: prefer the
    file's own queries_normalized; else derive from queries + cpu_calib
    (older rounds' files)."""
    if d.get("queries_normalized"):
        return dict(d["queries_normalized"])
    q = d.get("queries", d)
    factor = (q.get("cpu_calib") or CAL_REF) / CAL_REF
    return {k: v / factor for k, v in q.items()
            if isinstance(v, (int, float))
            and not k.startswith("cpu_calib")
            and not k.endswith("_ratio")}


def drift_table(cur: dict, prev_path: str, warn_pct: float = 25.0) -> list:
    """Per-entry drift of calib-normalized timings vs a previous round's
    bench file. Informational: machine speed is already divided out, so
    a big move here is an ENGINE change, not VM noise."""
    try:
        prev = _load_bench(open(prev_path).read())
    except (OSError, ValueError, SystemExit):
        return []
    a, b = _normalized(prev), _normalized(cur)
    rows = []
    for k in sorted(set(a) & set(b)):
        if a[k] <= 0:
            continue
        pct = (b[k] - a[k]) / a[k] * 100.0
        rows.append((k, a[k], b[k], pct))
    if rows:
        print(f"-- calib-normalized drift vs {prev_path} "
              f"(warn at ±{warn_pct:.0f}%) --", file=sys.stderr)
        for k, pa_, pb, pct in rows:
            mark = "  DRIFT" if abs(pct) > warn_pct else ""
            print(f"  {k:38s} {pa_:7.3f}s -> {pb:7.3f}s  "
                  f"{pct:+6.1f}%{mark}", file=sys.stderr)
    return [(k, pct) for k, _a, _b, pct in rows if abs(pct) > warn_pct]


def _previous_bench(cur_path: str) -> str:
    """Newest BENCH_r*.json in the repo root other than cur_path."""
    import glob
    import os as _os

    root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    cands = sorted(glob.glob(_os.path.join(root, "BENCH_r*.json")))
    cands = [c for c in cands
             if _os.path.abspath(c) != _os.path.abspath(cur_path)]
    return cands[-1] if cands else ""


def _load_bench(raw: str) -> dict:
    """Parse a bench artifact defensively: driver wrapper files nest the
    parsed stdout line under "parsed" (which can be null when the line
    was truncated — the r8 failure mode), and a raw/truncated capture may
    only contain a usable JSON object at the TAIL. Recover the trailing
    {...} rather than crashing."""
    import re

    try:
        d = json.loads(raw)
        if isinstance(d, dict):
            inner = d.get("parsed") or d
            if isinstance(inner, dict) and inner.get("queries"):
                return inner
            # no queries payload anywhere in the wrapper: fall through
            # to tail/front recovery (never fail OPEN on a queries-less
            # wrapper — zero gates evaluated reads as all-green)
            raw = str(d.get("tail") or raw)
    except ValueError:
        pass
    # tail recovery: last balanced {...} that parses and has "queries"
    for m in re.finditer(r"\{", raw):
        cand = raw[m.start():]
        try:
            obj = json.loads(cand)
        except ValueError:
            continue
        if isinstance(obj, dict) and obj.get("queries"):
            return obj
    # last resort: the capture is FRONT-truncated mid-object (the r8
    # artifact). Cut to a clean `, "key":` boundary, count how many
    # scopes were opened before the truncation (string-aware brace
    # walk), prepend synthetic openers, and flatten every numeric entry
    # into a `queries` dict. Values recovered this way may be the
    # calib-normalized twins (the tail of the old wire format), which
    # gate correctly at machine factor 1.0 by construction.
    obj = _repair_front_truncated(raw)
    if obj is not None:
        queries: dict = {}

        def _walk(d: dict) -> None:
            for k, v in d.items():
                if isinstance(v, bool):
                    continue
                if isinstance(v, (int, float)):
                    queries[k] = v
                elif isinstance(v, dict):
                    _walk(v)

        _walk(obj)
        for k in ("exit_code", "returncode", "duration_ms", "ts",
                  "timestamp", "value", "sf", "machine_factor"):
            queries.pop(k, None)
        # a real bench payload has dozens of entries; a driver wrapper's
        # stray scalars (exit_code etc.) must not masquerade as one
        if len(queries) >= 3:
            out = {k: v for k, v in obj.items()
                   if not isinstance(v, dict)}
            out["queries"] = queries
            out["recovered_from_tail"] = True
            return out
    raise SystemExit(f"cannot recover a bench JSON object "
                     f"({len(raw)} chars of input)")


def _repair_front_truncated(raw: str):
    """Best-effort parse of a JSON object whose FRONT was cut off."""
    tail = raw.strip()
    i = tail.find(', "')
    if i < 0 or not tail.endswith("}"):
        return None
    body = tail[i + 2:]  # starts at `"key": ...`
    depth, min_depth, in_str, esc = 0, 0, False, False
    for ch in body:
        if in_str:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_str = False
        else:
            if ch == '"':
                in_str = True
            elif ch in "{[":
                depth += 1
            elif ch in "}]":
                depth -= 1
                min_depth = min(min_depth, depth)
    deficit = -min_depth
    if deficit <= 0 or deficit > 6:
        return None
    prefix = "".join(f'{{"_truncated{k}": '
                     for k in range(deficit - 1)) + "{"
    try:
        obj = json.loads(prefix + body)
    except ValueError:
        return None
    return obj if isinstance(obj, dict) else None


def main_check(path: str) -> int:
    raw = sys.stdin.read() if path == "-" else open(path).read()
    d = _load_bench(raw)
    fails = check_bench(d)
    contended = bool(d.get("contended"))
    drifted = []
    prev = _previous_bench(path if path != "-" else "")
    if prev:
        drifted = drift_table(d, prev)
    if contended:
        # a contended artifact is FLAGGED, never gated: bench.py detected
        # ambient load (calib spread / pass disagreement), so any gate
        # breach is as likely machine noise as engine regression. Exit 2
        # (distinct from 0 = pass, 1 = genuine gate failure) means
        # "re-run bench.py on a quiet machine before shipping".
        for f in fails:
            print(f"GATE (advisory, contended run) {f}", file=sys.stderr)
        print("CONTENDED artifact: refusing to gate "
              f"(cpu_calib_samples={d.get('cpu_calib_samples')}, "
              f"unstable={d.get('pass_unstable_entries')})",
              file=sys.stderr)
        print(json.dumps({"contended": True, "gates_failed": 0,
                          "advisory_fails": fails,
                          "drift_gt_25pct": [k for k, _ in drifted]}))
        return 2
    for f in fails:
        print(f"GATE FAIL {f}", file=sys.stderr)
    print(json.dumps({"contended": False,
                      "gates_failed": len(fails), "fails": fails,
                      "drift_gt_25pct": [k for k, _ in drifted]}))
    return 1 if fails else 0


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--check-bench":
        sys.exit(main_check(sys.argv[2]))
    main()

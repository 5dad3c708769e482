"""Pin the bench-gate math in scripts/audit_registry_perf.check_bench,
including the r13 multi-core normalizer (cpu_calib_mt) rescue path."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from audit_registry_perf import (  # noqa: E402
    CAL_MT_REF,
    CAL_REF,
    check_bench,
    GATES_ABS,
    GATES_ABS_MT,
)

DIST = "plan_distributed_full_10k_files"


def _artifact(**queries):
    q = {"cpu_calib": CAL_REF}  # machine factor 1.0
    q.update(queries)
    return {"queries": q}


def test_st_gate_passes_under_ceiling():
    a = _artifact(**{DIST: GATES_ABS[DIST] - 0.01})
    assert check_bench(a) == []


def test_st_gate_fails_without_mt_probe():
    # no cpu_calib_mt in the artifact (pre-r13 runs): the single-thread
    # gate is the only gate, exactly as before
    a = _artifact(**{DIST: GATES_ABS[DIST] * 1.5})
    fails = check_bench(a)
    assert any(DIST in f for f in fails)


def test_mt_normalizer_rescues_degraded_window():
    # multi-core throughput degraded 2x (cpu_calib_mt doubled) while the
    # single-thread calib held: the wide Spark job slows with the MT
    # probe, so the MT-scaled ceiling admits it
    v = GATES_ABS[DIST] * 1.8
    a = _artifact(cpu_calib_mt=CAL_MT_REF * 2.0, **{DIST: v})
    assert check_bench(a) == []


def test_mt_normalizer_does_not_mask_real_regression():
    # MT probe at reference speed (quiet window): a genuinely slow entry
    # still fails even though the artifact carries cpu_calib_mt
    v = GATES_ABS[DIST] * 1.8
    a = _artifact(cpu_calib_mt=CAL_MT_REF, **{DIST: v})
    fails = check_bench(a)
    assert any(DIST in f for f in fails)


def test_mt_normalizer_only_applies_to_mt_entries():
    # plan_full_10k_files is driver-side single-thread work: a slow MT
    # window must not excuse it
    v = GATES_ABS["plan_full_10k_files"] * 1.8
    a = _artifact(cpu_calib_mt=CAL_MT_REF * 2.0,
                  **{"plan_full_10k_files": v})
    fails = check_bench(a)
    assert any("plan_full_10k_files" in f for f in fails)


def test_gated_name_sets_pinned():
    # r13 regression: plan_import_decode_10k was accidentally moved from
    # GATES_ABS into GATES_ABS_MT, and check_bench iterates only
    # GATES_ABS (consulting GATES_ABS_MT as an alternate ceiling for
    # names already gated) — the entry became completely ungated. Pin
    # the exact composition of both dicts so a refactor cannot silently
    # drop a gate again.
    assert set(GATES_ABS) == {
        "plan_full_10k_files",
        "maintenance_plan_10k",
        "plan_distributed_full_10k_files",
        "plan_distributed_warm_10k_files",
        "plan_import_decode_10k",
        "plan_auto_128_manifests",
    }
    # only genuinely multi-core-tracking entries belong here (the warm
    # twin runs the same 32-task distributed planning job as the cold
    # entry, so it tracks aggregate throughput the same way)
    assert set(GATES_ABS_MT) == {"plan_distributed_full_10k_files",
                                 "plan_distributed_warm_10k_files"}
    assert set(GATES_ABS_MT) <= set(GATES_ABS)


def test_slow_import_decode_fails_check_bench():
    # a plan_import_decode_10k at 3x its gated ceiling must fail, even
    # when the artifact carries a degraded-window MT probe (it is
    # single-threaded pure-Python decode — the MT normalizer must not
    # rescue it)
    v = GATES_ABS["plan_import_decode_10k"] * 3.0
    a = _artifact(cpu_calib_mt=CAL_MT_REF * 2.0,
                  **{"plan_import_decode_10k": v})
    fails = check_bench(a)
    assert any("plan_import_decode_10k" in f for f in fails)

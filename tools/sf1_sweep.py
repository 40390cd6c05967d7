"""Standing full-query sweep at sf1 (r7 VERDICT #4): run EVERY declared
query at the ×10 rehearsal fixture with a per-query cancel cap, and
regenerate the marker-delimited sweep section of SCALE.md.

The r7 distinct-first discovery — the round's biggest scale win — came
from the one full sweep that round; this tool makes that sweep a gate
step instead of an ad-hoc script. Each query executes through the noop
sink (whole plan JVM-side, nothing collected), single pass, inside its
own Spark job group so a hung/slow query is CANCELLED at the cap and
the sweep continues.

Usage: python tools/sf1_sweep.py [sf_dir] [--json out.json] [--update-scale]
Defaults: sf_dir=/tmp/testdata/sf1 (build it first with
tools/make_scaled_fixture.py), cap=$SPARK_GRAFT_SWEEP_CAP (120 s).

Timings are single-shot (cold-ish, one shared session) — meant for
FLAGGING regressions (timeouts, new >30 s entries), not for bench
claims; bench.py's canary-normalized medians remain the perf artifact.

Warm re-run (r10 VERDICT #2): every completed non-contract entry slower
than WARM_RERUN_ABOVE (8 s; r11 lowered from 15 — the 10-15 s band
was also dominated by first-touch noise) is re-executed at the end of the
sweep and recorded as {"sec": cold, "warm_sec": warm}. r10 shipped a
sweep whose single-shot numbers over-reported the (independently
verified) graph-tail fixes by ~10× — first-touch JIT/classloading and
codegen compilation land on whichever query runs a shape first, and a
committed artifact that misreports 10× masks real regressions in that
range. The warm number is the plan; the cold number is the plan plus
whatever warm-up it happened to absorb.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import canary  # noqa: E402  (tools/canary.py — frozen probes, r13 VERDICT #2)

_BEGIN = "<!-- SF1_SWEEP_BEGIN (generated by tools/sf1_sweep.py) -->"
_END = "<!-- SF1_SWEEP_END -->"

# Queries whose >cap behavior at the ×10-replica fixture is the DOCUMENTED
# CONTRACT, not a plan bug — each emits output inherently quadratic in
# duplicate-clique size, with a clique-safe scale-path alternative that IS
# swept. A timeout here is reported but doesn't fail the sweep; a timeout
# anywhere else does.
EXPECTED_TIMEOUTS = {
    "embedding_neardup_pairs": (
        "documented O(n²) exactness anchor (docstring); scale path "
        "embedding_neardup_lsh sweeps green"
    ),
    "setjoin_prefix_jaccard": (
        "exact pair-listing contract — output is quadratic in dup-clique "
        "size by definition (5M pairs at sf0.1, ~100× on the ×10-replica "
        "fixture); clique-safe consumer is dedup_clusters (docstring)"
    ),
}


WARM_RERUN_ABOVE = 8.0

# Entries slower than this get their canary bracket RECORDED in the JSON
# and, when the bracket is degraded, a fresh-JVM re-queue even below
# WARM_RERUN_ABOVE (r13 VERDICT #2: the r13 sweep carried steal-era rows
# — rle_encoding_stats 10.6 s vs 2.0 s calm — that made the "review list
# for next round" misleading; now the artifact itself says which rows
# were measured hot, and hot rows are re-measured automatically).
CANARY_BRACKET_ABOVE = 5.0


def run_sweep(sf_dir: str, cap: float) -> dict:
    from dbtransfer_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(app_name="sf1-sweep")
    sc = spark.sparkContext
    results: dict[str, dict] = {}
    names = list(entry.queries())

    def timed_run(name: str) -> dict:
        fn = entry.queries()[name]
        out: dict = {}
        group = f"sweep-{name}"

        def run() -> None:
            # job group is thread-local: set it in the submitting thread
            sc.setJobGroup(group, name, interruptOnCancel=True)
            try:
                t0 = time.monotonic()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                out["sec"] = round(time.monotonic() - t0, 2)
            except Exception as exc:  # cancelled jobs land here too
                out.setdefault("error", str(exc).splitlines()[0][:160])

        th = threading.Thread(target=run, daemon=True)
        th.start()
        th.join(cap)
        if th.is_alive():
            sc.cancelJobGroup(group)
            th.join(30)
            time.sleep(5)  # let cancelled stragglers drain (octave lesson:
            # they contaminate the next queries' timings otherwise)
            return {"timeout_sec": cap}
        if "error" in out:
            return {"error": out["error"]}
        return {"sec": out["sec"]}

    canary.warm(spark)
    last_probe = canary.probe(spark)
    for i, name in enumerate(names, 1):
        results[name] = timed_run(name)
        # Release every frame the query persisted: accumulated caches
        # from earlier queries evict/spill later ones' persists and
        # inflated in-sweep timings 2-10x vs standalone (r10 measured
        # degree_assortativity at 45.8 s in-sweep vs 19.2 s in a clean
        # session). Each query now runs against an empty cache, like
        # the standalone profile it is compared to.
        spark.catalog.clearCache()
        # Rolling frozen-canary probe (r13 VERDICT #2): every entry's
        # bracket = (probe after the previous query, probe after this
        # one). Recorded on slow/timeout/error rows so the artifact
        # carries its own steal-vs-regression evidence.
        this_probe = canary.rolling_probe(spark)
        v = results[name]
        if v.get("sec", 0) > CANARY_BRACKET_ABOVE or "sec" not in v:
            v["canary"] = [last_probe, this_probe]
        last_probe = this_probe
        if i % 25 == 0:
            print(f"[{i}/{len(names)}] ...", file=sys.stderr)

    # Warm re-run of the slow tail (module docstring): separates the plan
    # from first-touch warm-up the single-shot pass happened to charge it.
    # r12 (r11 VERDICT #3 + ADVICE): each tail query re-runs in its OWN
    # fresh subprocess JVM (tools/qtime.py, median of 3 after an sf0.001
    # warm-up) — per-query isolation means one dead subprocess can't
    # silently leave every later tail query on its inflated single-shot
    # number, and BOTH raw measurements are recorded:
    #   sec                  — the in-sweep single-shot (cold) pass
    #   fresh_jvm_median_sec — the isolated re-run's median of 3
    #   warm_sec             — min(sec, fresh_jvm_median_sec), DERIVED:
    #                          environment steal only ever ADDS time, so
    #                          the larger of two real executions of the
    #                          identical plan is the noisy one. By
    #                          construction warm_sec <= sec.
    # r14 (r13 VERDICT #2): the tail also re-queues 5-8 s entries whose
    # in-sweep canary bracket was degraded — a steal burst can inflate a
    # 2 s plan past 5 s, and a committed row without a calm re-measure
    # poisons the next round's review list.
    tail = [
        n
        for n, v in results.items()
        if n not in EXPECTED_TIMEOUTS
        and (
            v.get("sec", 0) > WARM_RERUN_ABOVE
            or (
                v.get("sec", 0) > CANARY_BRACKET_ABOVE
                and not canary.is_calm(v.get("canary", []))
            )
        )
    ]
    spark.stop()
    canary.drain_to_idle()
    for name in tail:
        fresh = canary.fresh_jvm_qtime(name, sf_dir, _REPO_ROOT)
        if fresh is not None:
            results[name].update(fresh)
            results[name]["warm_sec"] = round(
                min(fresh["fresh_jvm_median_sec"], results[name]["sec"]), 3
            )
            print(
                f"warm rerun {name}: {fresh['fresh_jvm_median_sec']} s "
                f"canary={fresh['fresh_jvm_canary']}"
                + (" DEGRADED" if fresh["canary_degraded"] else ""),
                file=sys.stderr,
            )
        else:
            print(f"warm rerun FAILED for {name} (kept single-shot)",
                  file=sys.stderr)
    return results


def render_section(results: dict, sf_dir: str, cap: float) -> str:
    # effective time = warm re-run when one exists (the plan's cost),
    # else the single-shot time; cold numbers stay in SF1_SWEEP.json
    ok = {k: v.get("warm_sec", v["sec"]) for k, v in results.items() if "sec" in v}
    cold = {k: v["sec"] for k, v in results.items() if "warm_sec" in v}
    all_timeouts = sorted(k for k, v in results.items() if "timeout_sec" in v)
    timeouts = [q for q in all_timeouts if q not in EXPECTED_TIMEOUTS]
    expected = [q for q in all_timeouts if q in EXPECTED_TIMEOUTS]
    errors = {k: v["error"] for k, v in results.items() if "error" in v}
    buckets = [(1, "<1 s"), (5, "1-5 s"), (15, "5-15 s"), (30, "15-30 s"),
               (60, "30-60 s"), (float("inf"), "60 s-cap")]
    hist = {label: 0 for _, label in buckets}
    for s in ok.values():
        prev = 0.0
        for edge, label in buckets:
            if prev <= s < edge:
                hist[label] += 1
                break
            prev = edge
    slow = sorted(((s, q) for q, s in ok.items() if s >= 5), reverse=True)
    degraded = sorted(k for k, v in results.items() if v.get("canary_degraded"))
    lines = [
        _BEGIN,
        "",
        f"**Sweep of all {len(results)} declared queries at `{sf_dir}` "
        f"(single pass, noop sink, {cap:.0f} s cancel cap; entries >"
        f"{WARM_RERUN_ABOVE:.0f} s re-run once warm; slow rows "
        f"canary-bracketed, calm ≤ {canary.CALM_SEC:.2f} s, degraded "
        f"brackets re-queued — tools/canary.py).** "
        f"{len(ok)} completed ({len(cold)} warm re-runs), "
        f"{len(timeouts)} timed out, "
        f"{len(expected)} documented-contract timeouts, "
        f"{len(errors)} errored, "
        f"{len(degraded)} rows still canary-degraded after re-queue"
        + (f" ({', '.join(f'`{q}`' for q in degraded)})" if degraded else "")
        + ". Full timings + brackets: `SF1_SWEEP.json`.",
        "",
        "| bucket | queries |",
        "|---|---|",
    ]
    lines += [f"| {label} | {hist[label]} |" for _, label in buckets]
    if slow:
        lines += ["", "Slowest (≥5 s warm — the review list for the next "
                  "round; `cold` = single-shot first pass where it differed; "
                  "`hot` = canary bracket still degraded after re-queue, "
                  "treat the number as steal-inflated):",
                  "", "| query | sec | cold |", "|---|---|---|"]
        lines += [
            f"| {q}{' (hot)' if results[q].get('canary_degraded') else ''} "
            f"| {s:.1f} | {cold[q]:.1f} |"
            if q in cold
            else f"| {q}{' (hot)' if results[q].get('canary_degraded') else ''} "
            f"| {s:.1f} | |"
            for s, q in slow[:25]
        ]
    if timeouts:
        lines += ["", "**TIMED OUT (must be triaged before ship):** "
                  + ", ".join(f"`{q}`" for q in timeouts)]
    if expected:
        lines += ["", "Documented-contract timeouts (quadratic OUTPUT by"
                  " design; see EXPECTED_TIMEOUTS in tools/sf1_sweep.py):"]
        lines += [f"- `{q}`: {EXPECTED_TIMEOUTS[q]}" for q in expected]
    if errors:
        lines += ["", "**ERRORED:**"]
        lines += [f"- `{q}`: {e}" for q, e in sorted(errors.items())]
    lines += ["", _END]
    return "\n".join(lines)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/tmp/testdata/sf1"
    cap = float(os.environ.get("SPARK_GRAFT_SWEEP_CAP", "120"))
    out_json = None
    if "--json" in sys.argv:
        out_json = sys.argv[sys.argv.index("--json") + 1]

    results = run_sweep(sf_dir, cap)
    ok = [v["sec"] for v in results.values() if "sec" in v]
    n_to = sum(
        1
        for k, v in results.items()
        if "timeout_sec" in v and k not in EXPECTED_TIMEOUTS
    )
    n_exp = sum(
        1
        for k, v in results.items()
        if "timeout_sec" in v and k in EXPECTED_TIMEOUTS
    )
    n_err = sum(1 for v in results.values() if "error" in v)
    print(
        json.dumps(
            {
                "queries": len(results),
                "completed": len(ok),
                "timeouts": n_to,
                "expected_timeouts": n_exp,
                "errors": n_err,
                "total_sec": round(sum(ok), 1),
                "max_sec": max(ok) if ok else None,
            }
        )
    )
    if out_json:
        with open(out_json, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    with open(os.path.join(_REPO_ROOT, "SF1_SWEEP.json"), "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    if "--update-scale" in sys.argv:
        canary.update_scale_md(
            render_section(results, sf_dir, cap), _BEGIN, _END,
            "Standing full sweep at sf1 (regenerated per session)",
        )
    return 1 if (n_to or n_err) else 0


if __name__ == "__main__":
    raise SystemExit(main())

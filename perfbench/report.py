"""``run.py --all``: every workload untraced, then traced, one at a
time, and a summary: the end-to-end table, the 1→4 scaling line, the
per-sink agreement of flagship, flagship_serial and the runner units,
the tracing overhead, and the per-layer table."""

from __future__ import annotations

import json

ORDER = ("flagship", "flagship_serial", "rules_sparse", "runner_write")
E2E = ("events_per_s", "first_job_s", "setup_s", "peak_rss_mb")
LAYER_COLS = ("self_s", "task_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "rows_out")
LAYERS = ("pages", "compiler", "extract", "enrich", "windows", "xbits", "pipeline", "runner")


def run_all(run_one, seed: int, seconds: float) -> int:
    plain, traced = {}, {}
    for name in ORDER:
        plain[name] = run_one(name, seed, seconds, False)
        print("\n".join(plain[name]["lines"]), flush=True)
    for name in ORDER:
        traced[name] = run_one(name, seed, seconds, True)
        print("\n".join(traced[name]["lines"]), flush=True)

    ok = all(r["ok"] and r["result"]["correct"] for r in (*plain.values(), *traced.values()))
    summary: dict = {"seed": seed, "workloads": {}}
    print(f"\nend to end (seed {seed}, closed loop, one job at a time):")
    print(f"  {'workload':<16}" + "".join(f"{m:>16}" for m in (*E2E, "failed_share")))
    for name in ORDER:
        r = plain[name]
        if not r["ok"]:
            print(f"  {name:<16} failed")
            continue
        m, res = r["result"]["metrics"], r["result"]
        share = res["failed"] / res["attempted"]
        cells = "".join(f"{m[k]['value']:>11.4g} {m[k]['unit']:<4}" for k in E2E)
        print(f"  {name:<16}{cells}{share:>11.4g} frac")
        summary["workloads"][name] = {k: m[k]["value"] for k in E2E} | {"failed_share": share}

    eps = {n: summary["workloads"].get(n, {}).get("events_per_s") for n in ORDER}
    if eps["flagship"] and eps["flagship_serial"]:
        eff = eps["flagship"] / (4 * eps["flagship_serial"])
        summary["scaling_eff_1to4"] = eff
        print(f"scaling_eff_1to4: {eff:.4g} (informational; BASELINE asks >= 0.8)")

    firsts = {
        n: plain[n]["raw"]["jobs"][0].get("counts")
        for n in ("flagship", "flagship_serial", "runner_write")
        if plain[n]["ok"]
    }
    same = len(firsts) == 3 and len({json.dumps(c, sort_keys=True) for c in firsts.values()}) == 1
    summary["per_sink_counts_agree"] = same
    print(
        "per-sink counts of flagship, flagship_serial and the sum of the runner_write units: "
        + ("identical" if same else "DIFFER")
    )
    ok = ok and same

    print("tracing overhead (traced warm job wall vs untraced warm job wall), layer coverage:")
    for name in ORDER:
        if not (plain[name]["ok"] and traced[name]["ok"] and eps[name]):
            continue
        untraced_wall = plain[name]["n_pages"] / eps[name]
        lay = traced[name]["result"]["metrics"]
        # the traced run times the runner job once, after the layer prefixes
        job_s = lay["runner.self_s" if name == "runner_write" else "trace.job_s"]["value"]
        print(
            f"  {name:<16} traced {job_s:.3f} s, untraced {untraced_wall:.3f} s "
            f"({job_s / untraced_wall - 1:+.1%}); layer self times cover "
            f"{lay['trace.coverage']['value']:.1%} of the traced job"
        )
        summary["workloads"][name]["layers"] = {k: v["value"] for k, v in lay.items()}

    print("per-layer (traced run; self = this prefix minus the previous one):")
    for name in ORDER:
        if not traced[name]["ok"]:
            continue
        lay = traced[name]["result"]["metrics"]
        print(f"  {name}")
        print(f"    {'layer':<10}" + "".join(f"{c:>12}" for c in LAYER_COLS))
        for layer in LAYERS:
            print(
                f"    {layer:<10}"
                + "".join(f"{lay[f'{layer}.{c}']['value']:>12.4g}" for c in LAYER_COLS)
            )
    print(json.dumps(summary))
    return 0 if ok else 1

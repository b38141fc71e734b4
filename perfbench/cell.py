"""One workload run in a fresh process (started by ``run.py``).

Untraced (``trace`` false): set up the session and the compiled
ruleset, run the first job, then warm jobs for ``seconds``, one at a
time.  Traced: run the layer prefixes through the ``noop`` sink with
the Spark event log on, and fold the log into per-layer numbers.

Reads one JSON config from argv[1] and prints one ``RESULT <json>``
line on stdout.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

from pyspark.sql import functions as F

from sagan_spark.gates.windows import cleanup_staged
from sagan_spark.pipeline import Pipeline
from sagan_spark.rules.parser import parse_rules
from sagan_spark.session import build_session

CFG: dict = {}  # the run's config, from argv[1]
PIPELINE_BUILDS = 3


def rules_text(slice_idx: int) -> tuple[str, dict | None]:
    if CFG["rules"] == "fixture":
        from sagan_spark.rules.fixture_rules import RULESET, VARIABLES

        return RULESET, VARIABLES
    from inputs import sparse_ruleset_text

    return sparse_ruleset_text(slice_idx, CFG["n_rules"]), None


def setup():
    """Session, then the compiled ruleset built PIPELINE_BUILDS times.
    setup_s = process start → session ready, plus the median build."""
    spark = build_session("perfbench", master=f"local[{CFG['cores']}]")
    session_s = time.time() - CFG["spawn_t"]
    text, variables = rules_text(CFG["slice"])
    builds = []
    for _ in range(PIPELINE_BUILDS):
        t = time.time()
        pipe = Pipeline(spark, parse_rules(text, variables))
        builds.append(time.time() - t)
    pages = spark.read.parquet(CFG["pages_dir"])
    return spark, pipe, pages, {
        "session_s": session_s,
        "pipeline_build_s": builds,
        "setup_s": session_s + statistics.median(builds),
    }


def collect_counts(df) -> dict[str, int]:
    """Per-sink, per-signature counts keyed ``"<sink>/<signature_id>"``,
    the key ``run_partitioned`` uses."""
    return {f"{r['sink']}/{r['signature_id']}": r["n"] for r in df.collect()}


def sink_counts(pipe, pages) -> dict[str, int]:
    return collect_counts(pipe.sink_counts(pages))


def runner_job(spark, pages, out_dir: str) -> dict:
    from sagan_spark.runner.job import run_partitioned

    return run_partitioned(
        spark,
        pages,
        out_dir,
        partition_hours=CFG["partition_hours"],
        lineage="perfbench",
        max_parallel_units=min(4, CFG["cores"]),
    )


def one_job(spark, pipe, pages, i: int) -> dict:
    """Run one job; its wall, and its counts or its error."""
    out_dir = os.path.join(CFG["tmp"], f"runner-out-{i}")
    t = time.time()
    try:
        if CFG["job"] == "runner":
            counts = runner_job(spark, pages, out_dir)["sink_counts"]
        else:
            counts = sink_counts(pipe, pages)
        res = {"wall": time.time() - t, "counts": counts}
    except Exception as e:  # a failed job is counted, not fatal
        res = {"wall": time.time() - t, "error": f"{type(e).__name__}: {e}"[:2000]}
    cleanup_staged()
    shutil.rmtree(out_dir, ignore_errors=True)
    return res


def untraced() -> dict:
    spark, pipe, pages, out = setup()
    jobs = [one_job(spark, pipe, pages, 0)]
    t0 = time.time()
    while len(jobs) < 2 or time.time() - t0 < CFG["seconds"]:
        jobs.append(one_job(spark, pipe, pages, len(jobs)))
    spark.stop()
    out["jobs"] = jobs
    return out


# ---------------------------------------------------------------------------
# traced run


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1 << 20)


PREFIXES = [
    # (span, public call whose output is forced through the noop sink);
    # a layer's self time is its span minus the previous layer's span
    ("pages", None),
    ("compiler", lambda p, pages: p.comp.with_sids(pages)),
    ("hits", lambda p, pages: p.hits(pages)),  # shared extracts + explode
    ("extract", lambda p, pages: p.extracted(pages)),
    ("enrich", lambda p, pages: p.enriched(pages)),
    ("windows", lambda p, pages: p.window_gated(pages)),
    ("xbits", lambda p, pages: p.gated(pages)),
    ("pipeline", lambda p, pages: p.sink_counts(pages)),
]
LAYERS = ["pages", "compiler", "extract", "enrich", "windows", "xbits", "pipeline"]
# prefixes whose output rows the layer ratios need (counted after the
# timed noop write, on the same frame, so eager staging is not re-run)
COUNTED = {"extract", "enrich", "windows", "xbits"}


def traced() -> dict:
    import eventlog

    spark, pipe, pages, out = setup()
    sc = spark.sparkContext
    spans: list[dict] = []

    def span(name: str, t0: float, t1: float, parent: str = "run", **kw) -> dict:
        s = {"name": name, "start": t0, "end": t1, "parent": parent, **kw}
        spans.append(s)
        return s

    n_pages = CFG["n_pages"]
    # driver time to build the match plan: the first with_sids call on a
    # fresh CompiledRules builds (and memoizes) the sids Column
    t = time.time()
    pipe.comp.with_sids(pages)
    plan = span("compiler.plan", t, time.time())

    # the first job warms JIT, codegen and in-process memos, so the
    # prefixes below are timed warm, as events_per_s is
    sc.setJobDescription("perfbench:first_job")
    t = time.time()
    first_df = pipe.sink_counts(pages)
    t_call = time.time()
    first_counts = collect_counts(first_df)
    first = span("first_job", t, time.time(), call_end=t_call)
    cleanup_staged()

    rows: dict[str, int] = {}
    staged_mb = 0.0
    for layer, call in PREFIXES:
        sc.setJobDescription(f"perfbench:{layer}")
        t = time.time()
        df = pages if call is None else call(pipe, pages)
        t_call = time.time()
        if layer == "xbits":
            staged_mb = dir_mb(os.environ["SPARK_GRAFT_STAGE_DIR"])
        df.write.format("noop").mode("overwrite").save()
        span(layer, t, time.time(), call_end=t_call)
        sc.setJobDescription(f"perfbench:rows.{layer}")
        t = time.time()
        if layer == "compiler":
            rows["matched_pages"] = df.where(F.size("sids") > 0).count()
        elif layer in COUNTED:
            rows[layer] = df.count()
        span(f"rows.{layer}", t, time.time(), parent=layer)
        cleanup_staged()

    # the full job runs right after the last prefix (the same pipeline
    # forced through the noop sink), so both see the same warm process
    sc.setJobDescription("perfbench:job")
    t = time.time()
    job_counts = sink_counts(pipe, pages)
    job = span("job", t, time.time())
    cleanup_staged()
    rows["pipeline"] = sum(job_counts.values())
    rows["pipeline_groups"] = len(job_counts)

    runner = None
    if CFG["trace_runner"]:
        sc.setJobDescription(None)  # unit threads carry no description
        out_dir = os.path.join(CFG["tmp"], "runner-out-trace")
        t = time.time()
        summary = runner_job(spark, pages, out_dir)
        runner = span("runner", t, time.time(), out_dir=out_dir)
        mdir = os.path.join(out_dir, "_manifests")
        runner["unit_walls"] = []
        for name in sorted(os.listdir(mdir)):
            with open(os.path.join(mdir, name)) as f:
                runner["unit_walls"].append(json.load(f)["metrics"]["wall_s"])
        runner["counts"] = summary["sink_counts"]
        runner["routed_rows"] = summary["routed_rows"]
        runner["scan_amplification"] = scan_amplification(pages, n_pages)
        cleanup_staged()
    sc.setJobDescription(None)
    spark.stop()

    log_dir = CFG["eventlog_dir"]
    jobs, execs = eventlog.read(os.path.join(log_dir, os.listdir(log_dir)[0]))
    by_span = eventlog.assign(jobs, spans)
    layers = layer_metrics(spans, by_span, execs, rows, n_pages, staged_mb)
    layers["compiler.plan_s"] = plan["end"] - plan["start"]
    first_jobs = by_span["first_job"]
    eager = eventlog.executions_between(first_jobs, execs, first["start"], first["call_end"])
    # eager work in the apply_gates call beyond the staging write: the
    # flexcount probe, paid once per process (hence on the first job)
    layers["xbits.build_s"] = eventlog.wall([e for e in eager if not e["writes"]])
    layers.update(runner_metrics(runner, by_span, execs))
    layers["trace.first_job_s"] = first["end"] - first["start"]
    layers["trace.job_s"] = job["end"] - job["start"]
    # the self times telescope to the wall of the last prefix, the whole
    # pipeline forced through the noop sink; coverage is that wall over
    # the traced full job's, i.e. how much of the job the prefixes
    # attribute to layers (> 1: forcing a prefix costs more than the job)
    layers["trace.coverage"] = sum(layers[f"{x}.self_s"] for x in LAYERS) / layers["trace.job_s"]
    out.update(
        layers=layers,
        counts={"first_job": first_counts, "job": job_counts},
        spans=[{k: v for k, v in s.items() if k not in ("counts",)} for s in spans],
    )
    if runner is not None:
        out["counts"]["runner"] = runner["counts"]
    return out


def layer_metrics(spans, by_span, execs, rows, n_pages, staged_mb) -> dict:
    """Self time and task metrics of each layer = its prefix minus the
    previous prefix."""
    import eventlog

    named = {s["name"]: s for s in spans}
    out: dict[str, float] = {}
    prev_wall, prev_tot = 0.0, dict.fromkeys(eventlog.totals([]), 0.0)
    for layer in LAYERS:
        s = named[layer]
        wall = s["end"] - s["start"]
        tot = eventlog.totals(by_span[layer])
        out[f"{layer}.self_s"] = wall - prev_wall
        out.update({f"{layer}.{k}": v - prev_tot[k] for k, v in tot.items()})
        prev_wall, prev_tot = wall, tot

    out["pages.scan_s"] = out["pages.self_s"]
    out["pages.rows_out"] = n_pages
    out["compiler.rows_out"] = rows["matched_pages"]
    out["compiler.match_ratio"] = rows["matched_pages"] / n_pages
    out["extract.rows_out"] = rows["extract"]
    out["extract.fanout"] = rows["extract"] / max(rows["matched_pages"], 1)
    out["enrich.rows_out"] = rows["enrich"]
    out["enrich.keep_ratio"] = rows["enrich"] / max(rows["extract"], 1)
    out["windows.rows_out"] = rows["windows"]
    out["windows.keep_ratio"] = rows["windows"] / max(rows["enrich"], 1)
    out["windows.staged_mb"] = staged_mb
    out["xbits.rows_out"] = rows["xbits"]
    out["xbits.keep_ratio"] = rows["xbits"] / max(rows["windows"], 1)
    out["pipeline.rows_out"] = rows["pipeline_groups"]
    out["pipeline.routed_rows"] = rows["pipeline"]

    # staging write inside the gated call; driver-only time of the
    # sink_counts() call = call wall - walls of the executions it ran
    for layer, key in (("xbits", "windows.stage_s"), ("pipeline", "pipeline.plan_s")):
        s = named[layer]
        ex = eventlog.executions_between(by_span[layer], execs, s["start"], s["call_end"])
        if key == "windows.stage_s":
            out[key] = eventlog.wall([e for e in ex if e["writes"]])
        else:
            out[key] = (s["call_end"] - s["start"]) - eventlog.wall(ex)
    return out


def scan_amplification(pages, n_pages: int) -> float:
    """Pages the runner's units read, look-back included, ÷ input pages,
    from the unit bounds ``run_partitioned`` derives."""
    from sagan_spark.pages import BASE_EPOCH, SPAN_S
    from sagan_spark.rules.fixture_rules import fixture_rules
    from sagan_spark.runner.job import lookback_seconds

    lb = lookback_seconds(list(fixture_rules())) or 0
    step = CFG["partition_hours"] * 3600
    read = 0
    for t0 in range(BASE_EPOCH, BASE_EPOCH + SPAN_S, step):
        t1 = min(t0 + step, BASE_EPOCH + SPAN_S)
        read += pages.where((F.col("warc_epoch") >= t0 - lb) & (F.col("warc_epoch") < t1)).count()
    return read / n_pages


RUNNER_KEYS = (
    "self_s task_s cpu_s gc_s shuffle_mb spill_mb rows_out "
    "unit_s_p50 unit_s_max write_s scan_amplification"
).split()


def runner_metrics(runner, by_span, execs) -> dict:
    """runner.* from the traced run_partitioned job; 0 when the workload
    does not run the runner layer."""
    import eventlog

    if runner is None:
        return {f"runner.{k}": 0.0 for k in RUNNER_KEYS}
    jobs = by_span["runner"]
    out = {f"runner.{k}": v for k, v in eventlog.totals(jobs).items()}
    out["runner.self_s"] = runner["end"] - runner["start"]
    out["runner.rows_out"] = runner["routed_rows"]
    out["runner.unit_s_p50"] = statistics.median(runner["unit_walls"])
    out["runner.unit_s_max"] = max(runner["unit_walls"])
    ex = eventlog.executions_between(jobs, execs, runner["start"], runner["end"])
    out["runner.write_s"] = eventlog.wall(
        [e for e in ex if (e["output"] or "").startswith(runner["out_dir"])]
    )
    out["runner.scan_amplification"] = runner["scan_amplification"]
    return out


def pin() -> dict:
    """Reference counts for each slice in CFG["pin"] (one job per slice)."""
    spark = build_session("perfbench", master=f"local[{CFG['cores']}]")
    out = {}
    for slice_idx, pages_dir in CFG["pin"]:
        text, variables = rules_text(slice_idx)
        pipe = Pipeline(spark, parse_rules(text, variables))
        out[str(slice_idx)] = sink_counts(pipe, spark.read.parquet(pages_dir))
        cleanup_staged()
    spark.stop()
    return out


def enable_event_log() -> None:
    """Event log from the benchmark's side: pyspark passes these
    spark-submit args to the JVM along with the conf build_session sets."""
    from eventlog import EVENTLOG_CONF

    confs = dict(EVENTLOG_CONF, **{"spark.eventLog.dir": "file://" + CFG["eventlog_dir"]})
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    )


if __name__ == "__main__":
    CFG.update(json.loads(sys.argv[1]))
    if CFG.get("pin"):
        result = pin()
    elif CFG["trace"]:
        enable_event_log()
        result = traced()
    else:
        result = untraced()
    print("RESULT " + json.dumps(result), flush=True)

"""sagan-spark benchmark: seeded workloads, end-to-end metrics, and
per-layer numbers from a separate traced run.

Run from the repository root:

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1     # every workload, both modes

One run builds its inputs from the seed (untimed; they stand in for
the Iceberg `pages` table): the seed picks one of ``inputs.SLICES``
slices of the sf0.1 documents, and of the generated ruleset.  It then
starts one fresh process pinned to at most the CPUs of this process's
affinity mask.  That process drives a closed loop, one job at a time:
the first job, then warm jobs for ``--seconds``.  The parent samples
the RSS of the whole process tree (JVM and Python UDF workers) through
/proc over the whole run, checks every job's per-sink, per-signature
counts against the reference pinned for the slice (a slice without one
fails the run) and against the first job's, records hypervisor steal
and load around the run, and prints the metrics; the
last stdout line is one JSON object.  ``--trace 1`` instead runs the
traced process (see cell.py) and prints the per-layer metrics.

All scratch files (inputs, Spark local and staging dirs, runner output,
event log, DuckDB spill) live in ``.perfbench/`` under the repository
root and are removed after each run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SCRATCH = os.path.join(ROOT, ".perfbench")

FIXTURE_INPUT = {"rules": "fixture", "n_docs": 2000, "rep": 4}
WORKLOADS = {
    "flagship": dict(FIXTURE_INPUT, job="sink_counts", cores=4, trace_runner=True),
    "flagship_serial": dict(FIXTURE_INPUT, job="sink_counts", cores=1, trace_runner=False),
    "rules_sparse": dict(
        rules="sparse", n_docs=500, rep=4, n_rules=400, job="sink_counts", cores=4,
        trace_runner=False,
    ),
    "runner_write": dict(FIXTURE_INPUT, job="runner", cores=4, trace_runner=True),
}
PARTITION_HOURS = 12
PAGE_FILES = 16


def input_key(w: dict) -> str:
    size = f"sf0.1-{w['n_docs']}x{w['rep']}"
    return f"fixture-{size}" if w["rules"] == "fixture" else f"sparse{w['n_rules']}-{size}"


def load_references() -> dict:
    with open(os.path.join(HERE, "reference.json")) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# host sizing, noise, and process-tree RSS


def cell_cpus(cores: int) -> list[int]:
    """The highest `cores` CPU ids of the affinity mask (CPU 0 takes
    IRQs and host daemons); never more CPUs than the mask holds."""
    cpus = sorted(os.sched_getaffinity(0))
    return cpus[-min(cores, len(cpus)) :]


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def session_procs(sid: int) -> dict[int, tuple[int, int, int]]:
    """pid → (ppid, vsize, rss pages) of every live process in session
    `sid`."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # stat fields 3, 4, 6, 23, 24: state, ppid, session id, vsize,
        # rss (zombies hold no memory)
        if int(fields[3]) == sid and fields[0] != "Z":
            procs[int(name)] = (int(fields[1]), int(fields[20]), int(fields[21]))
    return procs


def tree_rss_mb(sid: int) -> float:
    """RSS of the process tree.  A child the JVM has just spawned shares
    the JVM's address space until it execs (posix_spawn uses vfork), so
    it reads the JVM's whole RSS; a child whose vsize and RSS equal its
    parent's is that address space again and is not counted twice."""
    procs = session_procs(sid)
    pages = sum(
        rss
        for ppid, vsize, rss in procs.values()
        if procs.get(ppid, (None,))[1:] != (vsize, rss)
    )
    return pages * os.sysconf("SC_PAGE_SIZE") / (1 << 20)


def kill_session(sid: int) -> None:
    """SIGKILL every process left in the child's session and wait
    until none remains."""
    deadline = time.time() + 30
    while time.time() < deadline:
        pids = session_procs(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


# --------------------------------------------------------------------------
# one run


def make_inputs(w: dict, slice_idx: int, tmp: str, pages_dir: str) -> int:
    """One slice of the documents → the `pages` parquet table; returns
    its size."""
    import inputs

    con = inputs.duck_connect(slice_idx, w["n_docs"], os.path.join(tmp, "duckdb-spill"))
    try:
        return inputs.write_pages(con, pages_dir, w["rep"], PAGE_FILES)
    finally:
        con.close()


def spawn_cell(cfg: dict, cpus: list[int], timeout: float) -> tuple[dict | None, float, str]:
    """Run cell.py; returns (result or None, peak tree RSS MB, stderr tail)."""
    tmp = cfg["tmp"]
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        SPARK_GRAFT_CPUS=str(cfg["cores"]),
        SPARK_GRAFT_STAGE_DIR=os.path.join(tmp, "stage"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(tmp, "spark-local"),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),  # wins over spark.local.dir
        TMPDIR=os.path.join(tmp, "t"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(tmp, 't')} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    err_path = os.path.join(tmp, "cell.stderr")
    cfg = dict(cfg, spawn_t=time.time())
    with open(err_path, "w") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "cell.py"), json.dumps(cfg)],
            cwd=tmp,
            env=env,
            stdout=subprocess.PIPE,
            stderr=err,
            start_new_session=True,
            preexec_fn=lambda: os.sched_setaffinity(0, cpus),
            text=True,
        )
        peak = [0.0]
        done = threading.Event()

        def sample():
            while not done.is_set():
                peak[0] = max(peak[0], tree_rss_mb(proc.pid))
                done.wait(0.1)

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            out = ""
        finally:
            done.set()
            sampler.join()
            kill_session(proc.pid)
            proc.wait()
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT ") :])
    with open(err_path) as f:
        tail = "".join(f.readlines()[-40:])
    return result, peak[0], tail


def diff(got: dict, ref: dict) -> list[str]:
    keys = sorted(set(got) | set(ref))
    return [f"{k}: got {got.get(k)} want {ref.get(k)}" for k in keys if got.get(k) != ref.get(k)]


def run_one(name: str, seed: int, seconds: float, trace: bool) -> dict:
    """One workload run.  Returns {"ok", "result" (the JSON line),
    "lines" (the human report), ...}."""
    import inputs

    w = WORKLOADS[name]
    slice_idx = inputs.slice_of(seed)
    tmp = os.path.join(SCRATCH, f"run-{os.getpid()}-{name}-{int(trace)}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        n_pages = make_inputs(w, slice_idx, tmp, os.path.join(tmp, "pages"))
        cpus = cell_cpus(w["cores"])
        cfg = dict(
            w,
            workload=name,
            seed=seed,
            slice=slice_idx,
            seconds=seconds,
            trace=trace,
            tmp=tmp,
            pages_dir=os.path.join(tmp, "pages"),
            n_pages=n_pages,
            cores=len(cpus),
            partition_hours=PARTITION_HOURS,
            eventlog_dir=os.path.join(tmp, "eventlog"),
        )
        os.makedirs(cfg["eventlog_dir"])
        cpu0, load0 = cpu_times(), loadavg()
        # BENCHMARK.json's workloads must end within 180 s; the others
        # run under --all or by name
        timed = {x["name"] for x in benchmark()["workloads"]}
        timeout = 170 if name in timed else 900
        res, peak_mb, err_tail = spawn_cell(cfg, cpus, timeout)
        cpu1, load1 = cpu_times(), loadavg()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    d = [b - a for a, b in zip(cpu0, cpu1)]
    steal = d[7] / max(sum(d), 1) if len(d) > 7 else 0.0
    lines = [
        f"{name} seed={seed} slice={slice_idx} trace={int(trace)} pages={n_pages} cpus={cpus}",
        f"  noise: steal {steal:.2%}, load1 {load0:.2f} -> {load1:.2f}",
    ]
    if res is None:
        lines.append("  the workload process failed; its stderr ends with:")
        lines += ["    " + x for x in err_tail.splitlines()]
        return {"ok": False, "lines": lines}

    ref = load_references().get(input_key(w), {}).get(str(slice_idx))
    if ref is None:
        lines.append(f"  no pinned reference for {input_key(w)} slice {slice_idx}: every job fails")
    if trace:
        checked = list(res["counts"].items())
    else:
        checked = [(f"job {i}", j.get("counts")) for i, j in enumerate(res["jobs"])]
    errors = [] if trace else [
        (f"job {i}", j["error"]) for i, j in enumerate(res["jobs"]) if "error" in j
    ]
    first = next((c for _, c in checked if c is not None), None)
    failed = len(errors)
    for label, counts in checked:
        if counts is None:
            continue
        # the pinned reference decides; agreement with the first job is
        # an extra check that catches a job-to-job drift on its own
        bad = ["no pinned reference"] if ref is None else diff(counts, ref)
        drift = diff(counts, first)
        if bad or drift:
            failed += 1
        if bad and ref is not None:
            lines.append(f"  {label}: per-sink counts differ from the reference:")
            lines += ["    " + x for x in bad[:50]]
        if drift:
            lines.append(f"  {label}: per-sink counts differ from the first job's:")
            lines += ["    " + x for x in drift[:50]]
    for label, e in errors:
        lines.append(f"  {label} raised: {e}")
    attempted = len(checked)

    if trace:
        res["layers"]["trace.peak_rss_mb"] = peak_mb
        metrics = {
            m["name"]: {"value": res["layers"][m["name"]], "unit": m["unit"]}
            for m in benchmark()["per_layer"]
        }
        lines.append("  spans (s from the first span):")
        t0 = min(s["start"] for s in res["spans"])
        for s in res["spans"]:
            lines.append(
                f"    {s['name']:<16} {s['start'] - t0:8.3f} {s['end'] - t0:8.3f} "
                f"{s['end'] - s['start']:8.3f}  parent={s['parent']}"
            )
    else:
        ok_jobs = [j for j in res["jobs"] if "error" not in j]
        warm = [j["wall"] for j in res["jobs"][1:] if "error" not in j]
        values = {
            "events_per_s": n_pages / statistics.median(warm) if warm else 0.0,
            "first_job_s": res["jobs"][0]["wall"],
            "setup_s": res["setup_s"],
            "peak_rss_mb": peak_mb,
        }
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in benchmark()["end_to_end"]
        }
        lines.append(
            f"  jobs: {len(res['jobs'])} ({len(ok_jobs)} ok), walls "
            + ", ".join(f"{j['wall']:.3f}" for j in res["jobs"])
            + f" s; session {res['session_s']:.3f} s, pipeline builds "
            + ", ".join(f"{b:.3f}" for b in res["pipeline_build_s"])
            + " s"
        )
    for k, m in metrics.items():
        lines.append(f"  {k}: {m['value']:.6g} {m['unit']}")
    lines.append(f"  failed_share: {failed / attempted:.4g} fraction ({failed}/{attempted})")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return {"ok": True, "lines": lines, "result": result, "n_pages": n_pages, "raw": res}


def benchmark() -> dict:
    """BENCHMARK.json: the timed workloads and every metric's unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pin() -> None:
    """Record the per-sink counts of this commit as the reference for
    every slice of the inputs of every workload."""
    import inputs

    path = os.path.join(HERE, "reference.json")
    refs: dict = {}
    families: dict[str, str] = {}  # input family → one workload that reads it
    for name, w in WORKLOADS.items():
        families.setdefault(input_key(w), name)
    for name in sorted(families.values()):
        w = WORKLOADS[name]
        tmp = os.path.join(SCRATCH, f"pin-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            todo = []
            for slice_idx in range(inputs.SLICES):
                pages_dir = os.path.join(tmp, f"pages-{slice_idx}")
                make_inputs(w, slice_idx, tmp, pages_dir)
                todo.append((slice_idx, pages_dir))
            cpus = cell_cpus(4)
            cfg = dict(w, tmp=tmp, cores=len(cpus), trace=False, pin=todo)
            res, _, err_tail = spawn_cell(cfg, cpus, timeout=3600)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        if res is None:
            sys.exit(f"perfbench: pinning {name} failed:\n{err_tail}")
        refs[input_key(w)] = res
        with open(path, "w") as f:
            json.dump(refs, f, sort_keys=True)
            f.write("\n")
        print(f"pinned {input_key(w)} for slices 0..{inputs.SLICES - 1}", flush=True)


# --------------------------------------------------------------------------
# CLI


def check_checkout() -> None:
    """Refuse to run outside a repository checkout."""
    if not os.path.isfile(os.path.join(ROOT, "sagan_spark", "pipeline.py")):
        sys.exit(f"perfbench: {ROOT} holds no sagan_spark/ package; run from the repository root")
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        sys.exit(f"perfbench: {e}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true", help="record reference counts for every slice")
    args = ap.parse_args()
    if not (args.all or args.workload or args.pin):
        ap.error("give --workload, --all or --pin")
    check_checkout()
    sys.path.insert(0, ROOT)  # inputs.py reads sagan_spark.pages
    # a terminated benchmark still stops its workload process tree (the
    # SystemExit unwinds through spawn_cell's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.pin:
        pin()
        return 0
    if args.all:
        from report import run_all

        return run_all(run_one, args.seed, args.seconds)
    r = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    print("\n".join(r["lines"]), flush=True)
    if not r["ok"]:
        return 1
    print(json.dumps(r["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark driver for the extract and curate CLIs.

    python3 perfbench/run.py --workload form1_wide --seed 1 --seconds 55 --trace 0

Builds the workload's inputs for the seed (once; reused from
``perfbench/.cache``), then starts fresh worker processes that each set up a
SparkSession and run the real CLI entry point on them, checking every run's
output. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, from untraced runs; with ``--trace 1`` they
are the per-layer ones, from a traced run. A full record (host fingerprint,
input sizes, every run's time, spans) is written under ``perfbench/.runs``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("form1_wide", "curate_corpus")
# Fresh processes per end-to-end run that only set up a session, for more
# setup_s samples; the main process then sets up, runs once cold
# (first_run_s) and then WARM_RUNS times warm. The count is fixed, not
# time-bounded, so every run ends at the same point of JIT warm-up; the
# workloads are sized so that this takes about --seconds.
SETUP_ONLY = 1
WARM_RUNS = 5
# The traced run alternates untraced and traced warm runs: untraced 1,
# traced 2, untraced 3.
TRACE_WARM_RUNS = 3
# Warm runs still visibly faster than the one before them; run_s is the
# median of the warm runs after these.
WARMUP_RUNS = 2
# Every worker is killed once the whole run has taken this long, or 2.5
# times --seconds if that is sooner; its runs then count as failed.
RUN_TIMEOUT_S = 160

END_TO_END = {
    "setup_s": "s",
    "first_run_s": "s",
    "run_s": "s",
    "peak_rss_mb": "MiB",
    "output_mb": "MiB",
    "success_share": "ratio",
}

# Per-layer metric -> (unit, end-to-end metric it should move, workloads).
LAYERS = {
    "session.start_s": ("s", "setup_s", "all"),
    "catalog.load_s": ("s", "setup_s", "form1_wide"),
    "filings.scan_s": ("s", "run_s", "form1_wide"),
    "shredder.exec_s": ("s", "run_s", "form1_wide"),
    "shredder.python_s": ("s", "run_s", "form1_wide"),
    "shredder.python_in_mb": ("MiB", "run_s", "form1_wide"),
    "shredder.task_skew": ("ratio", "run_s", "form1_wide"),
    "shredder.rows_out": ("count", "success_share", "form1_wide"),
    "shredder.parse_failures": ("count", "success_share", "form1_wide"),
    "shredder.dropped_facts": ("count", "success_share", "form1_wide"),
    "shredder.cached_mb": ("MiB", "peak_rss_mb", "form1_wide"),
    "fact_table.construct_s": ("s", "first_run_s, run_s", "form1_wide"),
    "fact_table.py4j_calls": ("count", "fact_table.construct_s", "form1_wide"),
    "fact_table.catalyst_s": ("s", "fact_table.construct_s", "form1_wide"),
    "fact_table.conflicts": ("count", "output check", "form1_wide"),
    "sinks.parquet_s": ("s", "run_s", "form1_wide"),
    "sinks.jobs": ("count", "run_s", "form1_wide"),
    "sinks.stages": ("count", "run_s", "form1_wide"),
    "sinks.tasks": ("count", "run_s", "form1_wide"),
    "sinks.shuffle_write_mb": ("MiB", "run_s, peak_rss_mb", "form1_wide"),
    "sinks.spill_mb": ("MiB", "run_s, peak_rss_mb", "form1_wide"),
    "sinks.peak_exec_mb": ("MiB", "run_s, peak_rss_mb", "form1_wide"),
    "sinks.row_counts_s": ("s", "run_s", "form1_wide"),
    "sinks.sqlite_s": ("s", "run_s", "form1_wide"),
    "sinks.duckdb_s": ("s", "run_s", "form1_wide"),
    "sinks.datapackage_s": ("s", "run_s", "form1_wide"),
    "codegen.compiles": ("count", "first_run_s", "form1_wide"),
    "jvm.gc_s": ("s", "run_s", "all"),
    "corpus.load_s": ("s", "run_s", "curate_corpus"),
    "curate.construct_s": ("s", "run_s", "curate_corpus"),
    "curate.py4j_calls": ("count", "curate.construct_s", "curate_corpus"),
    "curate.exec_s": ("s", "run_s", "curate_corpus"),
    "curate.kept_ratio": ("ratio", "output check", "curate_corpus"),
    "packing.exec_s": ("s", "run_s", "curate_corpus"),
    "shards.write_s": ("s", "run_s", "curate_corpus"),
    "curate.shuffle_write_mb": ("MiB", "run_s, peak_rss_mb", "curate_corpus"),
    "curate.spill_mb": ("MiB", "run_s, peak_rss_mb", "curate_corpus"),
    "trace.wall_s": ("s", "tracing overhead", "all"),
    "trace.uncovered_s": ("s", "tracing overhead", "all"),
    "trace.status_read_s": ("s", "tracing overhead", "all"),
    "trace.overhead_s": ("s", "tracing overhead", "all"),
}


def heap_for_host() -> str:
    """A driver heap that fits the host: an eighth of RAM, 1-2 GiB."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, min(2048, ram // 8 // (1 << 20)))}m"


def fingerprint(heap: str) -> dict:
    import pyspark

    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr.splitlines()
    fp = {
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30), 1),
        "heap": heap,
        "spark": pyspark.__version__,
        "jdk": java[0] if java else "unknown",
        "python": platform.python_version(),
    }
    fp["id"] = hashlib.sha1(json.dumps(fp, sort_keys=True).encode()).hexdigest()[:12]
    return fp


class TreeWatch:
    """Samples the summed proportional set size (PSS) of every process in a
    process group: pages shared between forked Python workers count once."""

    def __init__(self, pgid: int):
        self.pgid, self._stop = pgid, threading.Event()
        self.samples: list[tuple[float, int]] = []  # (monotonic time, bytes)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def members(self) -> list[int]:
        pids = []
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == self.pgid:
                pids.append(int(entry))
        return pids

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = 0
            for pid in self.members():
                try:
                    with open(f"/proc/{pid}/smaps_rollup") as fh:
                        for line in fh:
                            if line.startswith("Pss:"):
                                total += int(line.split()[1]) * 1024
                                break
                except OSError:
                    pass
            self.samples.append((time.monotonic(), total))
            self._stop.wait(0.1)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def run_worker(cfg: dict, env: dict, log_path: str, kill_at: float) -> tuple[dict | None, list]:
    """Run one fresh worker process; return (result, memory samples).
    Every process it started is killed and reaped before returning."""
    cfg_path = cfg["result"] + ".cfg.json"
    cfg["spawn_mono"] = time.monotonic()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=cfg["work"],
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        watch = TreeWatch(proc.pid)
        try:
            proc.wait(timeout=max(kill_at - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            pass
        finally:
            watch.stop()
            _kill_group(proc, watch)
    if not os.path.exists(cfg["result"]):
        return None, watch.samples
    with open(cfg["result"]) as fh:
        return json.load(fh), watch.samples


def _kill_group(proc, watch: TreeWatch) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while watch.members() and time.monotonic() < deadline:
        time.sleep(0.05)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def run_peak(samples: list, run: dict) -> int:
    """Peak memory of the process tree while one CLI run was going."""
    return max((b for t, b in samples if run["t0_mono"] <= t <= run["t1_mono"]), default=0)


def warm_times(runs: list[dict], skip: int = WARMUP_RUNS) -> list[float]:
    """Untraced warm runs after the first ``skip``, which still pay JIT
    warm-up."""
    warm = [r["seconds"] for r in runs[1:] if r.get("ok") and not r["traced"]]
    return warm[skip:]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "ferc_xbrl_extractor_spark", "cli.py")):
        print(f"perfbench: no ferc_xbrl_extractor_spark package under {ROOT}", file=sys.stderr)
        return 2

    import gen

    t_begin = time.monotonic()
    inputs, manifest = gen.ensure_inputs(os.path.join(HERE, ".cache"), args.workload, args.seed)
    gen_s = time.monotonic() - t_begin

    heap = heap_for_host()
    fp = fingerprint(heap)
    runs_dir = os.path.join(HERE, ".runs")
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(runs_dir, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    log_path = os.path.join(runs_dir, f"{args.workload}-{args.seed}-trace{args.trace}.log")
    open(log_path, "w").close()

    t_measure = time.monotonic()
    kill_at = t_begin + min(RUN_TIMEOUT_S, 2.5 * args.seconds)
    cycles = 1 if args.trace else SETUP_ONLY + 1
    results, samples = [], []
    try:
        for c in range(cycles):
            cdir = os.path.join(work, f"cycle{c}")
            tmp = os.path.join(cdir, "tmp")
            os.makedirs(tmp)
            env = dict(os.environ)
            env.update(
                {
                    "SPARK_GRAFT_CPUS": str(fp["cores"]),
                    "SPARK_GRAFT_DRIVER_MEM": heap,
                    "SPARK_LOCAL_DIRS": os.path.join(cdir, "spark-local"),
                    "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
                    "PYSPARK_PYTHON": sys.executable,
                    "PYSPARK_DRIVER_PYTHON": sys.executable,
                    "TMPDIR": tmp,
                    "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                }
            )
            env.pop("SPARK_GRAFT_DRIVER_XMS", None)
            env.pop("SPARK_GRAFT_MASTER", None)
            last = c == cycles - 1
            cfg = {
                "setup_only": not last,
                "workload": args.workload,
                "inputs": inputs,
                "work": cdir,
                "result": os.path.join(cdir, "result.json"),
                "mode": "trace" if args.trace else "e2e",
                "warm_runs": TRACE_WARM_RUNS if args.trace else WARM_RUNS,
            }
            res, samples = run_worker(cfg, env, log_path, kill_at)
            if res is None:
                res = {"runs": [{"traced": False, "ok": False, "problems": ["worker died"]}]}
            results.append(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    measured_s = time.monotonic() - t_measure

    runs = [r for res in results for r in res.get("runs", [])]
    attempted = len(runs)
    failed = sum(1 for r in runs if not r.get("ok"))
    for r in runs:
        if not r.get("ok"):
            print(f"perfbench: failed run: {r.get('problems')}", file=sys.stderr)
    last_runs = results[-1]["runs"]
    warm = warm_times(last_runs)

    if args.trace:
        metrics = trace_metrics(results[-1], warm_times(last_runs, skip=1))
    else:
        metrics = {
            "setup_s": median([res["setup_s"] for res in results if "setup_s" in res]),
            "first_run_s": median([r["seconds"] for r in last_runs[:1] if r.get("ok")]),
            "run_s": median(warm),
            "peak_rss_mb": median([run_peak(samples, r) / (1 << 20) for r in last_runs if "t1_mono" in r]),
            "output_mb": median([r["output_bytes"] / (1 << 20) for r in runs if r.get("ok")]),
            "success_share": (attempted - failed) / attempted,
        }
    units = {k: v[0] for k, v in LAYERS.items()} if args.trace else END_TO_END

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "fingerprint": fp,
        "inputs": {k: v for k, v in manifest.items() if k not in ("expected", "input_ids", "marker_kind", "marker_source")},
        "generate_s": gen_s,
        "measured_s": measured_s,
        "cycles": [
            {k: v for k, v in res.items() if k != "spans"} for res in results
        ],
        "metrics": metrics,
    }
    if args.trace:
        record["spans"] = results[-1].get("spans", [])
    rec_path = os.path.join(runs_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh)
    print(f"perfbench: record written to {os.path.relpath(rec_path, ROOT)}", file=sys.stderr)

    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def trace_metrics(res: dict, untraced_warm: list[float]) -> dict:
    """Per-layer metrics: medians over the warm traced runs (the first,
    cold traced run gives ``codegen.compiles``); metrics of layers a
    workload does not exercise are 0."""
    runs = res["runs"]
    warm_layers = [r["layers"] for r in runs[1:] if r.get("layers")]
    out: dict = {}
    if warm_layers:
        for key in warm_layers[0]:
            out[key] = median([lay[key] for lay in warm_layers])
    if runs and runs[0].get("layers"):
        out["codegen.compiles"] = runs[0]["layers"]["codegen.compiles"]
    out["session.start_s"] = res.get("session_start_s", 0.0)
    traced = [r["seconds"] for r in runs[1:] if r.get("ok") and r["traced"]]
    if traced and untraced_warm:
        out["trace.overhead_s"] = median(traced) - median(untraced_warm)
    return out


if __name__ == "__main__":
    sys.exit(main())

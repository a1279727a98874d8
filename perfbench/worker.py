"""One fresh benchmark process: set up a SparkSession, then run the real CLI
entry points (``cli.run_main`` / ``curate_cli.run_main``) and check each
run's output.

Invoked by ``run.py`` as ``python3 perfbench/worker.py CONFIG.json``. The
config names the workload, the input and work directories, the result path,
the mode (``e2e`` or ``trace``), the monotonic time at which the parent
spawned this process, how many warm runs to make, and whether to stop after
setting up. Results go to the result path as JSON; the process prints
nothing it relies on.
"""

from __future__ import annotations

import functools
import gc
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402

# Session settings the benchmark pins on top of the engine defaults. The
# periodic driver System.gc() is pushed past the life of the process: the
# benchmark collects explicitly between runs instead, so no run pays for
# garbage another run left.
BENCH_CONF = {
    "spark.cleaner.periodicGC.interval": "6h",
    "spark.ui.showConsoleProgress": "false",
}
# The traced run reads every SQL execution, stage and task back from the
# status stores, so it keeps all of them.
TRACE_CONF = {
    "spark.sql.ui.retainedExecutions": "1000000",
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.retainedTasks": "10000000",
}


def cli_argv(workload: str, inputs: str, manifest: dict, out: str) -> list[str]:
    if workload == "curate_corpus":
        p = manifest["params"]
        return [
            os.path.join(inputs, "corpus.parquet"),
            "--output", os.path.join(out, "shards"),
            "--input-format", "parquet",
            "--benchmark", os.path.join(inputs, "benchmark.parquet"),
            "--neardup-threshold", str(p["neardup_threshold"]),
            "--stratum-col", "source",
            "--sample-n", str(p["sample_n"]),
            "--pack-budget", str(p["pack_budget"]),
            "--manifest",
            "--output-format", "parquet",
            "--shards", "4",
        ]
    return [
        os.path.join(inputs, "filings"),
        "--frozen-catalog", os.path.join(inputs, "catalog.json"),
        "--output-dir", os.path.join(out, "parquet"),
        "--sqlite-path", os.path.join(out, "out.sqlite"),
        "--duckdb-path", os.path.join(out, "out.duckdb"),
        "--datapackage-path", os.path.join(out, "datapackage.json"),
        "--loglevel", "WARNING",
    ]


def check_output(workload: str, manifest: dict, out: str) -> list[str]:
    if workload == "curate_corpus":
        return check.check_curate(manifest, os.path.join(out, "shards"))
    return check.check_extract(
        manifest,
        {
            "parquet": os.path.join(out, "parquet"),
            "sqlite": os.path.join(out, "out.sqlite"),
            "duckdb": os.path.join(out, "out.duckdb"),
            "datapackage": os.path.join(out, "datapackage.json"),
            "parquet_datapackage": os.path.join(out, "parquet", "datapackage.json"),
        },
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


def reset(spark) -> None:
    """Drop everything a finished run left in the session: cached blocks,
    then unreachable plans (Python first, so py4j releases its references),
    then a JVM collection so the context cleaner removes their shuffle
    files and broadcasts."""
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.java.lang.System.gc()
    time.sleep(0.2)


@contextmanager
def patched(module, name, wrapper):
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def _spanned(tr, span_name, status=False):
    def wrap(orig):
        def inner(*a, **kw):
            with tr.span(span_name, status=status):
                return orig(*a, **kw)

        return inner

    return wrap


class Traced:
    """Runs the real CLI with span wrappers around the public functions it
    calls, forcing the persisted shred and curate relations inside their own
    spans so execution can be split by layer."""

    def __init__(self, tr, workload: str, manifest: dict):
        self.tr, self.workload, self.manifest = tr, workload, manifest
        self.counts: dict = {}

    def patches(self):
        from contextlib import ExitStack
        from importlib import import_module

        def mod(name):
            return import_module(f"ferc_xbrl_extractor_spark.{name}")

        curate_cli, tablespec, packing = mod("curate_cli"), mod("catalog.tablespec"), mod("operators.packing")
        curate, extract, shards, sinks = (mod(f"pipeline.{m}") for m in ("curate", "extract", "shards", "sinks"))

        tr, stack = self.tr, ExitStack()
        if self.workload != "curate_corpus":
            stack.enter_context(patched(tablespec, "specs_from_json", _spanned(tr, "catalog.load")))
            stack.enter_context(patched(extract, "scan_filings", _spanned(tr, "filings.scan")))
            stack.enter_context(patched(extract, "shred_filings", _spanned(tr, "shredder.construct")))
            stack.enter_context(
                patched(extract, "construct_table_with_errors", _spanned(tr, "fact_table.construct"))
            )
            stack.enter_context(patched(extract, "extract", self._extract))
            for fn, name, status in (
                ("write_parquet", "sinks.parquet", True),
                ("staged_row_counts", "sinks.row_counts", False),
                ("write_sqlite", "sinks.sqlite", False),
                ("write_duckdb", "sinks.duckdb", False),
                ("write_datapackage", "sinks.datapackage", False),
            ):
                stack.enter_context(patched(sinks, fn, _spanned(tr, name, status)))
        else:
            stack.enter_context(patched(curate_cli, "_load", self._load))
            stack.enter_context(patched(curate, "curate_corpus", self._curate))
            stack.enter_context(patched(packing, "pack_sequences", _spanned(tr, "packing.construct")))
            stack.enter_context(patched(packing, "materialize_sequences", self._materialize))
            stack.enter_context(patched(shards, "publish_shards", _spanned(tr, "shards.write")))
        return stack

    def _extract(self, orig):
        def inner(spark, *a, **kw):
            from pyspark.sql import functions as F

            with self.tr.span("extract"):
                result = orig(spark, *a, **kw)
            with self.tr.span("shredder.exec", status=True, skew=True):
                result.shredded.count()
            self.cached_bytes = self.tr.cached_bytes()
            with self.tr.span("shredder.counts"):
                row = result.shredded.agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum((F.col("record_type") == "fact").cast("long")).alias("facts"),
                    F.countDistinct("filing_name").alias("filings"),
                ).first()
            with self.tr.span("fact_table.conflicts"):
                tagged = [e.select(F.lit(n).alias("t")) for n, e in result.errors.items()]
                merged = functools.reduce(lambda a, b: a.unionByName(b), tagged)
                conflicts = {n: 0 for n in result.errors}
                conflicts.update({r["t"]: r["count"] for r in merged.groupBy("t").count().collect()})
            self.counts = {
                "rows_out": row["rows"],
                "facts_kept": row["facts"],
                "filings_parsed": row["filings"],
                "conflicts": conflicts,
            }
            return result

        return inner

    def _load(self, orig):
        def inner(spark, *a, **kw):
            with self.tr.span("corpus.load"):
                df = orig(spark, *a, **kw)
                if "docs_in" not in self.counts:
                    self.counts["docs_in"] = df.count()
            return df

        return inner

    def _curate(self, orig):
        def inner(*a, **kw):
            with self.tr.span("curate.construct"):
                df = orig(*a, **kw)
            with self.tr.span("curate.exec", status=True):
                df = df.persist()
                self.counts["docs_curated"] = df.count()
            return df

        return inner

    def _materialize(self, orig):
        def inner(*a, **kw):
            with self.tr.span("packing.construct"):
                df = orig(*a, **kw)
            with self.tr.span("packing.exec"):
                df = df.persist()
                self.counts["sequences"] = df.count()
            return df

        return inner

    def check_counts(self) -> list[str]:
        """The traced run also checks the counts only it computes."""
        m = self.manifest
        if self.workload == "curate_corpus":
            return [] if self.counts.get("docs_in") == m["docs"] else [f"docs_in {self.counts.get('docs_in')} != {m['docs']}"]
        problems = []
        want = {t: e["conflicts"] for t, e in m["expected"].items()}
        if self.counts["conflicts"] != want:
            problems.append("quarantined conflicts differ from expected")
        if self.counts["filings_parsed"] != m["filings"] - m["parse_failures"]:
            problems.append(f"{self.counts['filings_parsed']} filings parsed")
        return problems


def layer_metrics(tr, traced: Traced, run_index: int, manifest: dict) -> dict:
    """Per-layer numbers of one traced run; ``run_index`` is its root span."""
    run = tr.spans[run_index]
    spans = tr.spans[run_index + 1 :]

    def secs(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def total(name, key):
        return sum(s.get(key, 0) for s in spans if s["name"] == name)

    def sql(name, metric):
        return sum(s.get("sql", {}).get(metric, 0.0) for s in spans if s["name"] == name)

    def peak(name):
        return max((s.get("sql", {}).get("peak memory (max)", 0.0) for s in spans if s["name"] == name), default=0.0)

    wall = run["end"] - run["start"]
    covered = sum(s["end"] - s["start"] for s in spans if s["parent"] == run_index)
    mb = 1 << 20
    out = {
        "trace.wall_s": wall,
        "trace.uncovered_s": wall - covered,
        "trace.status_read_s": sum(s.get("status_read_s", 0.0) for s in spans),
        "jvm.gc_s": run["gc_s"],
        "codegen.compiles": run["codegen_compiles"],
    }
    if traced.workload == "curate_corpus":
        c = traced.counts
        out.update(
            {
                "corpus.load_s": secs("corpus.load"),
                "curate.construct_s": secs("curate.construct"),
                "curate.py4j_calls": total("curate.construct", "py4j_calls"),
                "curate.exec_s": secs("curate.exec"),
                "curate.kept_ratio": c["docs_curated"] / c["docs_in"],
                "packing.exec_s": secs("packing.construct") + secs("packing.exec"),
                "shards.write_s": secs("shards.write"),
                "curate.shuffle_write_mb": sql("curate.exec", "shuffle bytes written") / mb,
                "curate.spill_mb": sql("curate.exec", "spill size") / mb,
            }
        )
        return out
    c = traced.counts
    shred = [s for s in spans if s["name"] == "shredder.exec"]
    out.update(
        {
            "catalog.load_s": secs("catalog.load"),
            "filings.scan_s": secs("filings.scan"),
            "shredder.exec_s": secs("shredder.exec"),
            "shredder.python_s": sql("shredder.exec", "time to run Python workers"),
            "shredder.python_in_mb": sql("shredder.exec", "data sent to Python workers") / mb,
            "shredder.task_skew": max((s.get("task_skew", 1.0) for s in shred), default=1.0),
            "shredder.rows_out": c["rows_out"],
            "shredder.parse_failures": manifest["filings"] - c["filings_parsed"],
            "shredder.dropped_facts": manifest["emitted_facts"] - c["facts_kept"],
            "shredder.cached_mb": traced.cached_bytes / mb,
            "fact_table.construct_s": secs("fact_table.construct"),
            "fact_table.py4j_calls": total("fact_table.construct", "py4j_calls"),
            "fact_table.catalyst_s": total("fact_table.construct", "catalyst_s"),
            "fact_table.conflicts": sum(c["conflicts"].values()),
            "sinks.parquet_s": secs("sinks.parquet"),
            "sinks.jobs": total("sinks.parquet", "jobs"),
            "sinks.stages": total("sinks.parquet", "stages"),
            "sinks.tasks": total("sinks.parquet", "tasks"),
            "sinks.shuffle_write_mb": sql("sinks.parquet", "shuffle bytes written") / mb,
            "sinks.spill_mb": sql("sinks.parquet", "spill size") / mb,
            "sinks.peak_exec_mb": peak("sinks.parquet") / mb,
            "sinks.row_counts_s": secs("sinks.row_counts"),
            "sinks.sqlite_s": secs("sinks.sqlite"),
            "sinks.duckdb_s": secs("sinks.duckdb"),
            "sinks.datapackage_s": secs("sinks.datapackage"),
        }
    )
    return out


def main() -> int:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    workload, inputs, work = cfg["workload"], cfg["inputs"], cfg["work"]
    with open(os.path.join(inputs, "manifest.json")) as fh:
        manifest = json.load(fh)
    res: dict = {"runs": []}
    tracing = cfg["mode"] == "trace"

    t_import = time.monotonic()
    from ferc_xbrl_extractor_spark import cli, curate_cli
    from ferc_xbrl_extractor_spark.catalog.tablespec import specs_from_json
    from ferc_xbrl_extractor_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={**BENCH_CONF, **(TRACE_CONF if tracing else {})})
    t_session = time.monotonic()
    if workload == "curate_corpus":
        spark.read.parquet(os.path.join(inputs, "corpus.parquet"))
    else:
        specs_from_json(os.path.join(inputs, "catalog.json"))
    ready = time.monotonic()
    res["setup_s"] = ready - cfg["spawn_mono"]
    res["session_start_s"] = t_session - t_import
    res["catalog_load_s"] = ready - t_session
    entry = curate_cli if workload == "curate_corpus" else cli
    if cfg["setup_only"]:
        with open(cfg["result"], "w") as fh:
            json.dump(res, fh)
        spark.stop()
        return 0

    tr = None
    if tracing:
        from tracing import Tracer

        tr = Tracer(spark)

    def one_run(i: int, traced: bool) -> None:
        out = os.path.join(work, f"out{i}")
        os.makedirs(out)
        argv = cli_argv(workload, inputs, manifest, out)
        rec = {"traced": traced, "ok": False, "t0_mono": time.monotonic()}
        t_ctx = Traced(tr, workload, manifest) if traced else None
        start_span = len(tr.spans) if tr else 0
        try:
            if traced:
                with t_ctx.patches():
                    t0 = time.perf_counter()
                    with tr.span("run"):
                        rc = entry.run_main(entry.parse(argv))
                    rec["seconds"] = time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                rc = entry.run_main(entry.parse(argv))
                rec["seconds"] = time.perf_counter() - t0
            problems = [f"exit code {rc}"] if rc else []
            problems += check_output(workload, manifest, out)
            if traced:
                problems += t_ctx.check_counts()
            rec["ok"] = not problems
            rec["problems"] = problems[:5]
            rec["output_bytes"] = dir_bytes(out)
            if traced and not problems:
                rec["layers"] = layer_metrics(tr, t_ctx, start_span, manifest)
        except Exception:
            rec["problems"] = [traceback.format_exc(limit=5)]
        rec["t1_mono"] = time.monotonic()
        res["runs"].append(rec)
        shutil.rmtree(out, ignore_errors=True)
        reset(spark)

    one_run(0, tracing)
    for i in range(1, cfg["warm_runs"] + 1):
        # a traced run alternates with an untraced one, so the overhead is
        # measured in the same process
        one_run(i, tracing and i % 2 == 0)
    if tr is not None:
        tr.close()
        res["spans"] = tr.spans
    with open(cfg["result"], "w") as fh:
        json.dump(res, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

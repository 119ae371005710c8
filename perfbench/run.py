"""Validation benchmark of jsonschema_validator_spark.

Run from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all [--seed N] [--seconds S]

One workload runs in this process against a fresh JVM at ``local[N]``:
set-up (session, input read, compile; the read and compile repeated
SETUP_REPEATS times), one cold first call, the workload's warm-up calls,
then warm calls until ``--seconds`` have passed (at least MIN_CALLS).
Every call's output is checked against the generator's ground truth. The
last stdout line is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. ``all`` runs every
workload in a fresh process, untraced and traced, and prints the tracing
overhead and the derived local[1] -> local[4] scaling efficiency.

Inputs, spark-local files and spans are written under ``.perfbench_work/``
in the current directory. See perfbench/README.md for what each metric
means and which end-to-end metric each per-layer metric should move.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

import gen  # noqa: E402
from collector import Collector  # noqa: E402

WORK_DIR = ".perfbench_work"
SETUP_REPEATS = 3
MIN_CALLS = 3
RUNNER_BATCH_DAYS = 7


@dataclass(frozen=True)
class Workload:
    kind: str  # gen.BUILDERS key
    rows: int  # input rows: turns, or documents for tool_args
    cores: int
    warmup: int
    unit: str  # what one input row is


WORKLOADS = {
    "verdicts_4core": Workload("transcripts", 6_000_000, 4, 1, "turns"),
    "verdicts_1core": Workload("transcripts", 6_000_000, 1, 1, "turns"),
    "runner_dense": Workload("dense", 60_000, 4, 2, "turns"),
    "tool_args_json": Workload("tool_args", 50_000, 4, 4, "docs"),
}
END_TO_END = {"setup_s": "s", "first_pass_s": "s", "rows_per_s": "1/s"}


def host_settings() -> dict:
    """Resources of this host and the driver heap derived from them: an
    eighth of MemTotal, between 1 GiB and 4 GiB (inputs are at most a few
    hundred MB; the host's memory is shared)."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    import pyspark

    mem_mb = mem_kb // 1024
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_mb,
        "driver_memory": f"{max(1024, min(mem_mb // 8, 4096))}m",
        "pyspark": pyspark.__version__,
    }


# -- workload calls --------------------------------------------------------
# setup(spark, path) -> the compiled validator; call(...) -> output;
# check(...) -> list of problems (empty when the output is correct)


def _verdicts_compile(spark):
    from jsonschema_validator_spark.plans.check_suite import CheckSuite
    from jsonschema_validator_spark.specs import transcripts_spec

    suite = CheckSuite(transcripts_spec()).build()
    return suite, len(suite._checks)


def _verdicts_call(col, suite, df, ctx):
    with col.span("check_suite.verdicts"):
        return suite.verdicts(df).collect()


KEY_CHECKS = ("unique(", "referential_root(", "ordering(")


def _verdicts_check(rows, truth, ctx) -> list[str]:
    problems = []
    by_day_rows: dict[str, int] = {}
    for r in rows:
        if "@" in r.check or r.check.startswith(KEY_CHECKS):
            want = truth["max_length_per_day"].get(r.day, 0) if r.check == "maxLength@#text" else 0
            if r.violation_count != want:
                problems.append(f"{r.day} {r.check}: {r.violation_count} violations, want {want}")
            if "@" in r.check:
                by_day_rows[r.day] = r.rows_checked
    if by_day_rows != truth["rows_per_day"]:
        problems.append(f"rows_checked per day {sum(by_day_rows.values())} != {truth['rows']}")
    digest = hashlib.sha256(
        json.dumps(sorted((r.day, r.check, r.violation_count, r.rows_checked, r["pass"]) for r in rows)).encode()
    ).hexdigest()
    if ctx.setdefault("digest", digest) != digest:
        problems.append("verdict digest changed between calls")
    return problems


def _runner_call(col, suite, df, ctx):
    from jsonschema_validator_spark.plans.runner import CheckpointedRunner

    out = os.path.join(ctx["work"], f"runner_out-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    with col.span("runner.run") as s:
        report = CheckpointedRunner(suite, out).run(df, batch_size=RUNNER_BATCH_DAYS)
    with col.span("runner.resume"):
        resumed = CheckpointedRunner(suite, out).run(df, batch_size=RUNNER_BATCH_DAYS)
    if col.trace:
        s.attrs.update(batches=report.batches, output_bytes=_du(out))
    return out, report, resumed


def _runner_check(output, truth, ctx) -> list[str]:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    out, report, resumed = output
    problems = []
    days = truth["days"]
    if report.processed != days or report.batches != math.ceil(len(days) / RUNNER_BATCH_DAYS):
        problems.append(f"run processed {len(report.processed)} partitions in {report.batches} batches")
    if resumed.processed or resumed.batches:
        problems.append(f"resume processed {len(resumed.processed)} partitions")
    kw = ds.dataset(os.path.join(out, "violations"), format="parquet", partitioning="hive").to_table(
        columns=["keyword"]
    )["keyword"]
    got = {d["values"]: d["counts"] for d in pc.value_counts(kw).to_pylist()}
    want = {k: v for k, v in truth["violations_per_keyword"].items() if v}
    if got != want:
        problems.append(f"violation rows per keyword {got} != {want}")
    shutil.rmtree(out, ignore_errors=True)
    return problems


def _tool_args_compile(spark):
    from jsonschema_validator_spark.api import SchemaRegistry

    reg = SchemaRegistry.create(gen.TOOL_SCHEMAS, spark)
    return reg, sum(len(s._checks) for s in reg.schemas.values())


def _tool_args_call(col, reg, df, ctx):
    from pyspark.sql import functions as F

    # one aggregate over the validated frame: a filter on `valid` would be
    # pushed below the parse projection and re-parse each document per check
    with col.span("api.validate_many_plan"):
        v = reg.validate_many(df, "tool", "args")
    with col.span("api.exec"):
        return v.agg(
            F.count(F.lit(1)).alias("n"),
            F.sort_array(F.collect_list(F.when(~F.col("valid"), F.col("doc_id")))).alias("invalid"),
        ).collect()[0]


def _tool_args_check(row, truth, ctx) -> list[str]:
    problems = []
    if row["n"] != truth["rows"]:
        problems.append(f"{row['n']} documents validated, want {truth['rows']}")
    if list(row["invalid"]) != truth["invalid_ids"]:
        problems.append(f"{len(row['invalid'])} invalid documents, want {len(truth['invalid_ids'])}")
    return problems


CALLS = {
    "transcripts": (_verdicts_compile, _verdicts_call, _verdicts_check),
    "dense": (_verdicts_compile, _runner_call, _runner_check),
    "tool_args": (_tool_args_compile, _tool_args_call, _tool_args_check),
}


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _traced_suite(col, suite):
    """Wrap the suite's public calls in spans, so calls the runner makes
    into check_suite are timed from outside the runner."""
    verdicts, violations = suite.verdicts, suite.violations

    def traced_verdicts(*a, **kw):
        with col.span("check_suite.verdicts"):
            return verdicts(*a, **kw)

    def traced_violations(*a, **kw):
        with col.span("check_suite.violations_plan"):
            return violations(*a, **kw)

    suite.verdicts, suite.violations = traced_verdicts, traced_violations


# -- per-layer metrics -------------------------------------------------------
PER_LAYER = (
    "session.get_spark_s", "session.jvm_peak_rss_mb", "sources.read_s",
    "functions.compile_s", "functions.n_checks",
    "check_suite.verdicts_s", "check_suite.jobs", "check_suite.driver_s",
    "check_suite.violations_plan_s", "check_suite.violations_write_s",
    "runner.run_s", "runner.batches", "runner.resume_s", "runner.output_bytes", "runner.jobs",
    "api.validate_many_plan_s", "api.exec_s",
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.output_bytes",
    "sql.scan_s", "sql.filter_project_s", "sql.agg_s", "sql.window_s", "sql.exchange_bytes", "sql.python_s",
)


def _call_layers(col: Collector, call) -> dict[str, float]:
    """Per-layer numbers of one measured call (zero for a layer the
    workload does not enter)."""
    m = dict.fromkeys(PER_LAYER[5:], 0.0)  # the first five are per run, not per call
    m.update({k: v for k, v in col.spark_metrics(call).items() if k in m})
    for s in col.spans:
        if s is call or not (call.start_ms <= s.start_ms and s.end_ms <= call.end_ms):
            continue
        if s.name == "check_suite.verdicts":
            sm = col.spark_metrics(s)
            m["check_suite.verdicts_s"] += s.seconds
            m["check_suite.jobs"] += sm["spark.jobs"]
            m["check_suite.driver_s"] += sm["driver_s"]
        elif s.name == "check_suite.violations_plan":
            m["check_suite.violations_plan_s"] += s.seconds
        elif s.name == "runner.run":
            m["runner.run_s"] += s.seconds
            m["runner.jobs"] += col.spark_metrics(s)["spark.jobs"]
            m["check_suite.violations_write_s"] += col.sql_seconds(s, "/violations")
            m["runner.batches"] += s.attrs["batches"]
            m["runner.output_bytes"] += s.attrs["output_bytes"]
        elif s.name == "runner.resume":
            m["runner.resume_s"] += s.seconds
        elif s.name == "api.validate_many_plan":
            m["api.validate_many_plan_s"] += s.seconds
        elif s.name == "api.exec":
            m["api.exec_s"] += s.seconds
    return m


# -- one workload ------------------------------------------------------------
def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and the Python workers
    it forked, and wait for all of them."""
    from pyspark import SparkContext

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    kids = _descendants(jvm_pid)
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for task in os.listdir(f"/proc/{p}/task") if os.path.exists(f"/proc/{p}/task") else []:
            try:
                with open(f"/proc/{p}/task/{task}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    wl = WORKLOADS[name]
    root = os.getcwd()
    work = os.path.join(root, WORK_DIR)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # first, so a checkout without the package fails before any work
    from jsonschema_validator_spark.session import get_spark
    from jsonschema_validator_spark.sources import read_table

    host = host_settings()
    # every JVM spark-submit starts (its launcher too) keeps temp files and
    # no hsperfdata file (HotSpot writes that under /tmp) in the checkout
    os.environ.update(
        SPARK_DRIVER_MEMORY=host["driver_memory"],
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    path, truth = gen.cached(os.path.join(work, "cache"), wl.kind, seed, wl.rows)

    compile_fn, call_fn, check_fn = CALLS[wl.kind]
    col = Collector(trace)
    with col.span("session.get_spark") as s_spark:
        spark = get_spark(
            app_name=f"perfbench-{name}",
            master=f"local[{min(wl.cores, host['nproc'])}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": tmp,
            },
        )
    host["java"] = spark._jvm.java.lang.System.getProperty("java.version")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    col.bind(spark)
    try:
        reads, compiles = [], []
        for _ in range(SETUP_REPEATS):
            with col.span("sources.read_table") as s:
                df = read_table(spark, "parquet:" + path)
            reads.append(s.seconds)
            with col.span("functions.compile") as s:
                target, n_checks = compile_fn(spark)
            compiles.append(s.seconds)
        if trace and wl.kind == "dense":
            _traced_suite(col, target)

        ctx = {"work": work}
        attempted = failed = 0
        problems: list[str] = []
        measured = []

        def one_call(label: str):
            nonlocal attempted, failed
            attempted += 1
            try:
                with col.span(f"{name}.call", phase=label) as s:
                    out = call_fn(col, target, df, ctx)
                bad = check_fn(out, truth, ctx)
            except Exception as e:  # a failed call is counted, not fatal
                bad = [f"{type(e).__name__}: {e}"]
            if bad:
                failed += 1
                problems.extend(f"{label}: {p}" for p in bad[:5])
            return s, not bad

        first, _ = one_call("first")
        for i in range(wl.warmup):
            one_call(f"warmup{i}")
        t_end = time.perf_counter() + seconds
        while len(measured) < MIN_CALLS or time.perf_counter() < t_end:
            s, ok = one_call(f"call{len(measured)}")
            if ok:
                measured.append(s)
            if failed > MIN_CALLS:
                break
        if not measured:
            raise RuntimeError("no call passed its correctness check: " + "; ".join(problems[:5]))

        setup_s = s_spark.seconds + statistics.median(reads) + statistics.median(compiles)
        e2e = {
            "setup_s": setup_s,
            "first_pass_s": first.seconds,
            "rows_per_s": truth["rows"] / statistics.median(s.seconds for s in measured),
        }
        layers = {}
        if trace:
            per_call = [_call_layers(col, s) for s in measured]
            layers = {k: statistics.median(c[k] for c in per_call) for k in per_call[0]}
            layers.update({
                "session.get_spark_s": s_spark.seconds,
                "session.jvm_peak_rss_mb": _peak_rss_mb(jvm_pid),
                "sources.read_s": statistics.median(reads),
                "functions.compile_s": statistics.median(compiles),
                "functions.n_checks": n_checks,
            })
            layers = {k: layers[k] for k in PER_LAYER}
    finally:
        _stop_spark(spark)

    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{name}-s{seed}-t{int(trace)}")
    col.write(stem + ".spans.jsonl")
    record = {
        "workload": name, "seed": seed, "trace": trace, "host": host,
        "input": {"rows": truth["rows"], "unit": wl.unit, "bytes": truth["input_bytes"]},
        "calls": {
            "all_seconds": [s.seconds for s in col.spans if s.name == f"{name}.call"],
            "measured": len(measured),
        },
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted, "problems": problems,
        "end_to_end": e2e, "per_layer": layers,
    }
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    return record


def _print_record(rec: dict) -> None:
    h, inp = rec["host"], rec["input"]
    print(f"# host nproc={h['nproc']} mem_total_mb={h['mem_total_mb']} driver_memory={h['driver_memory']}"
          f" pyspark={h['pyspark']} java={h['java']}")
    print(f"# {rec['workload']} seed={rec['seed']} trace={int(rec['trace'])} input={inp['rows']} {inp['unit']}"
          f" ({inp['bytes']} bytes parquet) measured_calls={rec['calls']['measured']}")
    for k, v in rec["end_to_end"].items():
        print(f"# {k} {v:.6g} {END_TO_END[k]}")
    print(f"# failed_frac {rec['failed_frac']:.6g} ({rec['failed']}/{rec['attempted']} calls)")
    for p in rec["problems"][:10]:
        print(f"# FAILED {p}")


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def main_one(args) -> int:
    rec = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    _print_record(rec)
    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in rec["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in rec["end_to_end"].items()}
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


def main_all(args) -> int:
    """Every workload in a fresh process, untraced then traced; prints the
    tracing overhead and the derived scaling efficiency."""
    recs = {}
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            if proc.returncode != 0:
                print(proc.stdout[-2000:] + proc.stderr[-4000:], file=sys.stderr)
                return proc.returncode
            print("\n".join(line for line in proc.stdout.splitlines() if line.startswith("#")))
            with open(os.path.join(WORK_DIR, "out", f"{name}-s{args.seed}-t{trace}.json")) as f:
                recs[name, trace] = json.load(f)
    print("# per-layer (traced run, median per measured call)")
    for name in WORKLOADS:
        for k, v in recs[name, 1]["per_layer"].items():
            print(f"# {name} {k} {v:.6g} {_unit(k)}")
    print("# tracing overhead (traced / untraced - 1)")
    for name in WORKLOADS:
        for k in END_TO_END:
            a, b = recs[name, 0]["end_to_end"][k], recs[name, 1]["end_to_end"][k]
            print(f"# {name} {k} {b / a - 1:+.3f}")
    r4 = recs["verdicts_4core", 0]["end_to_end"]["rows_per_s"]
    r1 = recs["verdicts_1core", 0]["end_to_end"]["rows_per_s"]
    n4 = min(WORKLOADS["verdicts_4core"].cores, recs["verdicts_4core", 0]["host"]["nproc"])
    print(f"# scaling_efficiency local[1]->local[{n4}] = rows_per_s(verdicts_4core) / rows_per_s(verdicts_1core)"
          f" / {n4} = {r4:.6g} / {r1:.6g} / {n4} = {r4 / r1 / n4:.3f}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return main_all(args) if args.workload == "all" else main_one(args)


if __name__ == "__main__":
    sys.exit(main())

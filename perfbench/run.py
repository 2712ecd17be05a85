"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload wb-etl --seed 1 --seconds 1 --trace 0

Run from the repository root. Set-up (the session start, which
launches the JVM, and input generation) is timed once. Then the
workload's full rebuild is timed once, an untimed warm-up runs, and ops
run back to back until --seconds have passed (at least the workload's
`min_ops` of them). Every op's output is checked; a failed check or a
raised error counts as a failed op. The last line of stdout is the
result JSON; --trace 1 reports per-layer metrics instead of end-to-end
ones and writes the spans next to the result file.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

PACKAGE = "data_engineering_pipeline_spark"
STATE_DIR = ".perfbench"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def source_sha(root: str) -> str:
    """Content hash of the program's sources (the checkout may not be a
    git repository)."""
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(os.path.join(root, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def stop_spark() -> None:
    """Stop the session and the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still running: force it
            proc.kill()
            proc.wait(timeout=30)


def cpu_times() -> list[int] | None:
    """The aggregate `cpu` line of /proc/stat (None where there is none)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(start, end) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_times()` samples: on a shared host it explains slow runs."""
    if not start or not end or len(start) < 8:
        return None
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else None


def declared(root: str, trace: int) -> set[str] | None:
    """Names of the metrics BENCHMARK.json declares for this kind of
    run (None without the file: then every metric goes in the result).
    The others are printed and kept in the results file only."""
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError):
        return None
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def count_error_lines(path: str) -> int:
    try:
        with open(path, errors="replace") as fh:
            return sum(1 for line in fh if re.search(r"\bERROR\b", line))
    except OSError:
        return 0


def run(args, work: str) -> dict:
    from data_engineering_pipeline_spark import session

    import workloads
    from spans import LAYERS, UNATTRIBUTED, Tracer

    cls = workloads.WORKLOADS[args.workload]
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep every job's status so the traced run can attribute all
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install(LAYERS)

    def client(name: str):
        """Span for benchmark-side work, so the Spark actions the client
        itself triggers (e.g. collecting an answer) are attributed."""
        return tracer.span(name, "perfbench.client") if tracer else contextlib.nullcontext()

    # wall time of each phase of the run, to see where a run's time goes
    phases: dict[str, float] = {}
    last = [time.perf_counter()]

    def mark(phase: str) -> None:
        now = time.perf_counter()
        phases[phase] = now - last[0]
        last[0] = now

    # one cold set-up: a JVM launch costs seconds, so repeating it
    # would not fit the run budget, and a restart inside a live JVM
    # would miss every setting that only applies at launch
    t0 = time.perf_counter()
    with client("setup"):
        spark = session.get_spark(app_name="perfbench", extra_conf=conf)
        wl = cls(spark, args.seed, os.path.join(work, "data"))
        wl.setup()
    setup_s = time.perf_counter() - t0
    jvm_info = {
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": spark.version,
    }
    mark("setup")
    if tracer:
        tracer.rebind()  # modules imported lazily during set-up
        wl.checking = lambda: tracer.span("check", "perfbench.check", quiet=True)

    attempted = failed = 0
    failures: list[str] = []

    def attempt(fn, *a):
        nonlocal attempted, failed
        attempted += 1
        try:
            with client(fn.__name__):
                return fn(*a)
        except workloads.CheckFailed as e:
            failed += 1
            failures.append(f"check: {e}")
        except Exception:  # noqa: BLE001 - count it, keep the loop going
            failed += 1
            failures.append(traceback.format_exc(limit=4))
        return None

    if tracer:
        tracer.op_id = "rebuild"
    rebuild_s = attempt(wl.rebuild)
    rebuild_cpu_s = wl.op_cpu_s
    mark("rebuild")
    if tracer:
        tracer.op_id = "warmup"
    attempt(wl.warmup)
    mark("warmup")

    lat: list[float] = []
    lat_cpu: list[float] = []
    units = 0
    t_start = time.perf_counter()
    i = 0
    while i < wl.max_ops and (
        i < wl.min_ops or time.perf_counter() - t_start < args.seconds
    ):
        if tracer:
            tracer.op_id = i
        wl.op_s = wl.op_cpu_s = 0.0
        done = attempt(wl.op, i)
        lat.append(wl.op_s)
        lat_cpu.append(wl.op_cpu_s)
        units += done or 0
        i += 1
    timed_s = time.perf_counter() - t_start
    mark("timed")
    if tracer:
        tracer.op_id = "final"
    for check in wl.final_checks():
        with wl.checking():
            attempt(check)
    mark("checks")

    out_bytes = sum(workloads.dir_bytes(d) for d in wl.output_dirs())
    p50 = statistics.median(lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (p50, "s"),
        "op_cpu_s": (statistics.median(lat_cpu), "s"),
        "throughput_per_s": (units / timed_s, "1/s"),
        "rebuild_s": (rebuild_s or 0.0, "s"),
        "rebuild_cpu_s": (rebuild_cpu_s, "s"),
        "stored_bytes_per_input_byte": (out_bytes / max(wl.input_bytes, 1), "ratio"),
    }
    detail = {
        # not a declared metric: defined only past TAIL_BEYOND ops
        "op_tail": stats.tail(lat),
        "op_samples": len(lat),
        "units": units,
        "unit": wl.unit,
        "timed_s": timed_s,
        "sizes": wl.sizes,
        "input_bytes": wl.input_bytes,
        "output_bytes": out_bytes,
        "op_latencies_s": lat,
        "op_cpu_s": lat_cpu,
        "stage_s": wl.stage_s,
        "phases_s": phases,
        **jvm_info,
    }

    if tracer:
        tracer.harvest()
        per_layer = {}
        layers = tracer.layer_metrics()
        for layer in (*LAYERS, UNATTRIBUTED):
            m = layers.get(layer, {})
            for k in ("calls", "self_s", "spark_jobs", "spark_tasks", "failed_tasks"):
                if layer == UNATTRIBUTED and k in ("calls", "self_s"):
                    continue
                unit = "s" if k == "self_s" else "count"
                per_layer[f"{layer}.{k}"] = (m.get(k, 0), unit)
        commits = []
        written = 0
        for d in wl.output_dirs():
            for t in workloads.snapshot_tables(d):
                commits += workloads.snap.SnapshotTable(spark, t).history()
                written += workloads.dir_bytes(t)
        per_layer["sources.snapshot_table.bytes_written_per_input_byte"] = (
            written / max(wl.input_bytes, 1), "ratio")
        per_layer["sources.snapshot_table.files_added_per_commit"] = (
            sum(c["n_added"] for c in commits) / len(commits) if commits else 0.0,
            "ratio")
        per_layer["plans.curation_pipeline.survivor_frac"] = (wl.survivor_frac(), "ratio")
        per_layer["traced_op_p50_s"] = (p50, "s")
        detail["jobs_total"] = tracer.total_jobs
        detail["jobs_attributed"] = tracer.attributed_jobs()
        detail["jobs_unattributed"] = layers[UNATTRIBUTED]["spark_jobs"]
        detail["jobs_missing"] = tracer.missing_jobs
        for side in ("perfbench.client", "perfbench.check"):
            detail[f"{side}_jobs"] = layers.get(side, {}).get("spark_jobs", 0)
        detail["spans"] = len(tracer.spans)
        if detail["jobs_attributed"] + detail["jobs_unattributed"] != detail["jobs_total"]:
            failed += 1
            attempted += 1
            failures.append("job attribution does not add up")
    detail["failed_frac"] = failed / attempted
    detail["failures"] = failures[:20]
    return {
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "detail": detail,
        "tracer": tracer,
        "per_layer": per_layer if tracer else None,
    }


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads  # noqa: F401 - fail early, before any set-up

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    state = os.path.join(root, STATE_DIR)
    work = os.path.join(state, f"work-{os.getpid()}")
    results = os.path.join(state, "results")
    for d in (os.path.join(work, "tmp"), os.path.join(work, "local"), results):
        os.makedirs(d, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    # Spark and its JVM log to fd 2: keep that in a file so its ERROR
    # lines can be counted; our own messages go to the saved stderr
    err_log = os.path.join(work, "stderr.log")
    saved_err = os.dup(2)
    fd = os.open(err_log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    report = os.fdopen(saved_err, "w", buffering=1)

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_sha": git_sha(root),
        "source_sha": source_sha(root),
        "nproc": cpus,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_1m_start": os.getloadavg()[0],
        "python": sys.version.split()[0],
    }
    cpu_start = cpu_times()
    t_run = time.perf_counter()
    try:
        res = run(args, work)
    except Exception:  # noqa: BLE001 - set-up failed: no result
        report.write(traceback.format_exc())
        with open(err_log, errors="replace") as fh:
            report.write("".join(fh.readlines()[-30:]))
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    detail, tracer, per_layer = res["detail"], res["tracer"], res["per_layer"]
    t_stop = time.perf_counter()
    stop_spark()
    detail["phases_s"]["start"] = t_run - t_main
    detail["phases_s"]["stop"] = time.perf_counter() - t_stop
    meta["loadavg_1m_end"] = os.getloadavg()[0]
    meta["cpu_steal_frac"] = steal_frac(cpu_start, cpu_times())
    meta["pyspark"] = detail.pop("pyspark")
    meta["java"] = detail.pop("java")

    wl_unit = detail["unit"]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if tracer:
        per_layer["session.error_log_lines"] = (count_error_lines(err_log), "count")
        tracer.dump(os.path.join(results, f"{tag}-spans.json"))
        metrics = per_layer
    else:
        metrics = res["e2e"]
    keep = declared(root, args.trace)
    detail["undeclared"] = {k: v for k, (v, _u) in metrics.items()
                            if keep is not None and k not in keep}
    metrics = {k: m for k, m in metrics.items() if k not in detail["undeclared"]}

    for k, (v, unit) in res["e2e"].items():
        extra = ""
        if k == "op_p50_s":
            extra = f"  (n={detail['op_samples']})"
        elif k == "throughput_per_s":
            extra = f"  ({wl_unit} per second)"
        print(f"{args.workload} {k} = {v:.6g} {unit}{extra}")
    if detail["op_tail"]:
        tail, pct, n = detail["op_tail"]
        print(f"{args.workload} op_tail_s = {tail:.6g} s  (p{pct:.1f} of n={n})")
    else:
        print(f"{args.workload} op_tail_s = n/a  (needs more than "
              f"{stats.TAIL_BEYOND} ops; this run timed {detail['op_samples']})")
    print(f"{args.workload} failed_frac = {detail['failed_frac']:.6g} "
          f"({res['failed']}/{res['attempted']})")
    for f in detail["failures"]:
        print(f"FAILED: {f}")
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {"meta": meta, "detail": detail, **result}
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    other = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{1 - args.trace}.json")
    if os.path.exists(other):
        with open(other) as fh:
            o = json.load(fh)
        lats = {args.trace: detail["op_latencies_s"], 1 - args.trace: o["detail"]["op_latencies_s"]}
        print(f"trace overhead (traced - untraced op_p50_s, same seed): "
              f"{statistics.median(lats[1]) - statistics.median(lats[0]):+.4f} s")
    print(json.dumps({"meta": meta}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

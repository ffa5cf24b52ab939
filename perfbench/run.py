"""Pipeline-shaped benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run generates its inputs from
``--seed``, starts a session on ``local[nproc]``, sets the workload up and
runs one untimed warm-up operation (all billed to ``setup_s``), then runs
operations in a closed loop for ``--seconds`` and at least the workload's
minimum count, checks the outputs against the DuckDB oracle twins, and
prints two JSON lines: a detail record (inputs, check problems, the
workload's own named figures), then the result, which is the last line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` records spans
around every call into the engine, enables Spark's event log and reports
the per-layer metrics instead; ``--trace-out`` writes its spans as JSON
lines.

``--workload all`` runs every workload untraced and traced, each in its
own process, and prints every metric with its unit, the workloads' named
figures (``medallion_rows_per_s``, ``refresh_p50_s``, ...) and the
tracing overhead.

All a run writes lives in ``.perfbench-work/<run>/`` under the checkout,
which is also the run's ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and working
directory; it is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "dataengineeringpipeline_spark"
WORKLOAD_NAMES = ("nightly_batch", "gold_refresh")


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def driver_mem() -> str:
    """Driver heap sized to the host: a quarter of physical memory,
    between 1 and 16 GiB."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    return f"{max(1, min(16, kib // 4 // 2**20))}g"


def isolate(work: str) -> str:
    """Point every temp and scratch location of this process, the JVM and
    the Python workers at ``work``; returns its temp directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    os.chdir(work)
    return tmp


def start_session(event_dir: str | None):
    from dataengineeringpipeline_spark.session import get_spark

    conf = {"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"}
    if event_dir:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(cpus=os.cpu_count(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, then wait until the JVM and every Python worker it
    started have exited."""
    from measure import descendants

    started = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while alive := [p for p in started if running(p)]:
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {alive}")
        time.sleep(0.1)


def end_to_end(samples: list[dict], setup_s: float) -> dict:
    p50 = statistics.median(s["op_s"] for s in samples)
    return {
        "setup_s": setup_s,
        "op_p50_s": p50,
        "rows_per_s": statistics.median(s["rows"] for s in samples) / p50,
    }


def named_figures(samples: list[dict]) -> dict:
    """The workload's end-to-end figures under the names its users know."""
    from measure import min_samples, percentile

    out = {}
    for k in sorted({k for s in samples for k in s.get("named", {})}):
        out[k] = statistics.median(s["named"][k] for s in samples)
    lookups = [x for s in samples for x in s.get("lookups", ())]
    if lookups:
        out["refresh_p50_s"] = statistics.median(s["op_s"] for s in samples)
        out["lookup_p50_s"] = percentile(lookups, 0.5)
        if len(lookups) >= min_samples(0.9):
            out["lookup_p90_s"] = percentile(lookups, 0.9)
        out["lookups"] = len(lookups)
    return out


def layer_figures(samples: list[dict], tracer, eventlog) -> dict:
    """Medians over the timed operations of what each reported, of the
    lake writes inside it, and of the Spark jobs of its folded span (the
    operation, or the part of it the workload names)."""
    per_op = []
    writes = tracer.named("datalake.write")
    for s, op in zip(samples, tracer.named("op")):
        m = dict(s.get("layer", {}))
        inside = [w.duration for w in writes if op.start <= w.start <= op.end]
        if inside:
            m["datalake.write_s"] = sum(inside)
        span = next((c for c in tracer.named(s.get("fold", "op"))
                     if op.start <= c.start <= op.end), op)
        m.update(eventlog.fold(span.start, span.end))
        m["bench.op_s"] = s["op_s"]
        per_op.append(m)
    return {k: statistics.median(m[k] for m in per_op if k in m)
            for k in {k for m in per_op for k in m}}


def run(args) -> tuple[dict, dict]:
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        raise SystemExit(f"engine package {ENGINE}/ not found next to {HERE}")
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench-work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    try:
        return measure(args, wl, work, isolate(work))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def measure(args, wl, work: str, tmp: str) -> tuple[dict, dict]:
    import gen
    from measure import EventLog, PeakRss, Tracer
    from workloads import Ctx

    tracer = Tracer(bool(args.trace), os.path.basename(work), args.workload)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    attempted = failed = 0
    problems: list[str] = []
    samples: list[dict] = []
    t0 = time.perf_counter()
    spark = start_session(event_dir)
    session_s = time.perf_counter() - t0
    try:
        with PeakRss() as rss:
            with tracer.span("setup"):
                inputs = os.path.join(work, "inputs")
                with tracer.span("gen.generate"):
                    manifest = gen.generate(inputs, args.seed, args.workload, wl.sizes)
                ctx = Ctx(spark, work, inputs, manifest, tracer, args.seed)
                with tracer.span("workload.setup"):
                    wl.setup(ctx)
                with tracer.span("warmup"):
                    wl.op(ctx)
            setup_s = time.time() - process_start()
            t_loop = time.perf_counter()
            while time.perf_counter() < t_loop + args.seconds or len(samples) < wl.min_ops:
                attempted += 1
                try:
                    with tracer.span("op", n=len(samples)):
                        s = wl.op(ctx)
                except Exception as exc:  # a failed operation counts; the loop goes on
                    failed += 1
                    problems.append(f"op {attempted}: {type(exc).__name__}: {exc}")
                    if failed > 3:
                        break
                    continue
                samples.append(s)
                attempted += len(s.get("lookups", ()))
                failed += s.get("lookup_failed", 0)
        t_check = time.perf_counter()
        attempted += 1
        try:
            found = wl.check(ctx)
        except Exception as exc:  # a check that cannot run is a failed check
            found = [f"check raised {type(exc).__name__}: {exc}"]
        failed += bool(found)
        problems += found
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
    phases = {"session_s": session_s, "setup_s": setup_s, "loop_s": t_check - t_loop,
              "check_s": t_stop - t_check, "stop_s": time.perf_counter() - t_stop}
    if not samples:
        raise RuntimeError(f"no operation succeeded: {problems}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if args.trace:
        metrics = layer_figures(samples, tracer, EventLog.read(event_dir))
        metrics.update(wl.counts)
        metrics["session.start_s"] = session_s
        metrics["bench.error_rate"] = failed / attempted
        metrics["bench.ops"] = len(samples)
        metrics["datalake.tmp_entries_leaked"] = len(os.listdir(tmp))
        metrics["bench.peak_rss_mb"] = rss.peak_mb
        units = {m["name"]: m["unit"] for m in declared["per_layer"]}
        if args.trace_out:
            tracer.dump(args.trace_out)
    else:
        metrics = end_to_end(samples, setup_s)
        units = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        # a per-layer metric of a layer the workload does not run reads 0
        "metrics": {k: {"value": metrics.get(k, 0), "unit": u} for k, u in units.items()},
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(samples), "op_s": [s["op_s"] for s in samples],
        "error_rate": failed / attempted, "problems": problems,
        "named": {**named_figures(samples), "peak_rss_mb": rss.peak_mb},
        "phases": phases, "inputs": manifest["tables"],
    }
    return result, detail


def run_all(args) -> int:
    """Every workload untraced and traced, each in its own process."""
    rc = 0
    for name in WORKLOAD_NAMES:
        op_s = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            if proc.returncode != 0:
                print(f"{name} trace={trace}: rc={proc.returncode}\n{proc.stderr[-3000:]}")
                rc = 1
                continue
            *_, detail_line, result_line = proc.stdout.strip().splitlines()
            res, detail = json.loads(result_line), json.loads(detail_line)
            print(f"{name} trace={trace}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"error_rate={detail['error_rate']:.4f} ops={detail['ops']}")
            for k, v in res["metrics"].items():
                print(f"  {k:40s} {v['value']:14.4f} {v['unit']}")
            if trace == 0:
                for k, v in detail["named"].items():
                    print(f"  {k:40s} {v:14.4f}")
            for p in detail["problems"]:
                print(f"  PROBLEM {p}")
            op_s[trace] = res["metrics"]["op_p50_s" if trace == 0 else "bench.op_s"]["value"]
            rc |= not res["correct"]
        if len(op_s) == 2:
            print(f"  tracing overhead (traced / untraced op time - 1): "
                  f"{op_s[1] / op_s[0] - 1:+.3f}")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="write the spans as JSON lines here (with --trace 1)")
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    result, detail = run(args)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

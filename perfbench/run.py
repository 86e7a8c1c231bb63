#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh process, one result line.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run makes its inputs from ``--seed``,
sets up, warms up, then loops over the workload's timed ops for at least
``--seconds`` seconds (and the workload's minimum number of ops of each
role), checks every op's output outside the timed region, and prints:

- a ``detail`` JSON line with the workload's own named metrics (and, with
  ``--trace 1``, every span's eight measures);
- as the last line, ``{"correct", "attempted", "failed", "metrics"}`` with
  the end-to-end metrics (``--trace 0``) or the per-layer metrics
  (``--trace 1``).

Everything the run writes (inputs, lake zones, warehouse, Spark local dirs,
the event log) lives in a private directory under ``.perfbench_work/`` in
the repository root and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

ROLES = ("ingest", "query")
E2E_UNITS = {
    "setup_s": "s", "ingest_p50_s": "s", "query_p50_s": "s", "ingest_cpu_s": "s", "query_cpu_s": "s",
}


def process_start_time() -> float:
    """Wall-clock time at which this process was started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")



def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def _descendants(root: int) -> dict[int, int]:
    """``{pid: cpu ticks}`` of ``root`` and every process below it; the
    ticks are user+system time, including reaped children's."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15])
    out, stack = {}, [root]
    while stack:
        p = stack.pop()
        out[p] = cpu.get(p, 0)
        stack.extend(c for c, pp in parent.items() if pp == p)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its descendants (the JVM and its Python
    workers)."""
    return sum(_descendants(root).values()) / os.sysconf("SC_CLK_TCK")


def stop_spark(ctx) -> None:
    """Stop the session, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    children = set(_descendants(os.getpid())) - {os.getpid()}
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
    deadline = time.time() + 30
    while children and time.time() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Ctx:
    def __init__(self, args, work: str) -> None:
        from layers import Spans

        self.seed, self.smoke, self.work = args.seed, args.smoke, work
        self.spans = Spans()
        self.warehouse = os.path.join(work, "warehouse")
        self.eventlog = os.path.join(work, "eventlog") if args.trace else None
        self.spark = None
        self.log: list = []

    def timed_ops(self, name: str) -> list[tuple[float, float]]:
        return [(t0, t1) for _, n, phase, t0, t1, *_ in self.log if n == name and phase == "timed"]

    def start_session(self):
        from bigdata_rags_spark.session import get_session

        cores = len(os.sched_getaffinity(0))
        # wins over any SPARK_LOCAL_DIRS inherited from the environment
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        conf = {
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={self.work}",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.eventlog:
            os.makedirs(self.eventlog)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.eventlog,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        with self.spans.span("session.get_session"):
            self.spark = get_session(
                "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
            )
        self.spark.sparkContext.setLogLevel("ERROR")


def run_op(ctx, op, log: list, problems: list) -> None:
    """Run one op, then check its output; appends ``(role, name, phase,
    t0, t1, ok, cpu_s)`` to ``log``."""
    c0, t0 = tree_cpu_s(os.getpid()), time.time()
    try:
        out = op.run()
    except Exception:  # noqa: BLE001 — a raising op is a failed op
        t1 = time.time()
        log.append((op.role, op.name, ctx.spans.phase, t0, t1, False, 0.0))
        problems.append(f"{op.name} raised: {traceback.format_exc(limit=3)}")
        return
    t1, c1 = time.time(), tree_cpu_s(os.getpid())
    try:
        probs = op.check(out)
    except Exception:  # noqa: BLE001
        probs = [f"{op.name} check raised: {traceback.format_exc(limit=3)}"]
    log.append((op.role, op.name, ctx.spans.phase, t0, t1, not probs, c1 - c0))
    problems.extend(probs)


def reduce_layers(ctx, log: list, t_first: float) -> dict:
    """Reduce the run's event log: the named spans, plus the per-layer
    metrics of ``BENCHMARK.json`` (session start, the set-up window, and
    per-op medians of the timed ingest and query ops)."""
    from layers import MEASURES, measure_windows, median_by_name, reduce_log

    red = reduce_log(ctx.eventlog, ctx.spans.records)
    (session,) = [r for r in ctx.spans.records if r[0] == "session.get_session"]
    windows = [("setup", "setup", session[3], t_first * 1000.0)] + [
        (role, phase, t0 * 1000.0, t1 * 1000.0)
        for role, _, phase, t0, t1, *_ in log
        if phase == "timed"
    ]
    by_role = median_by_name(windows, measure_windows(red["events"], windows))
    metrics = {"session.wall_s": {"value": (session[3] - session[2]) / 1000.0, "unit": "s"}}
    for role in ("setup", *ROLES):
        for m, unit in MEASURES.items():
            metrics[f"{role}.{m}"] = {"value": by_role[role][m], "unit": unit}
    return {"problems": red["problems"], "jobs": red["jobs"], "spans": red["spans"], "roles": metrics}


def table_files(ctx) -> int:
    """Data files the run wrote: warehouse tables and lake zones."""
    n = 0
    for sub in ("warehouse", "lake"):
        for _, _, files in os.walk(os.path.join(ctx.work, sub)):
            n += sum(1 for f in files if not f.startswith((".", "_")))
    return n


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import bigdata_rags_spark.queries.catalog  # noqa: F401 — fails fast without the package
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # every JVM the launcher starts, and every Python worker, keeps its
    # scratch files inside the run directory
    os.environ["TMPDIR"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    ctx = Ctx(args, work)
    try:
        return _run(args, ctx, WORKLOADS[args.workload])
    finally:
        stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, ctx, workload_cls) -> int:
    problems: list[str] = []
    log = ctx.log
    ctx.start_session()
    wl = workload_cls(ctx)
    wl.setup()
    for op in wl.warmup():
        run_op(ctx, op, log, problems)
    t_first = time.time()
    setup_s = t_first - process_start_time()
    ctx.spans.phase = "timed"
    times = {r: [] for r in ROLES}
    cpu = {r: [] for r in ROLES}
    for op in wl.schedule():
        enough = all(len(t) >= wl.min_samples for t in times.values())
        if enough and time.time() - t_first >= args.seconds:
            break
        run_op(ctx, op, log, problems)
        times[op.role].append(log[-1][4] - log[-1][3])
        cpu[op.role].append(log[-1][6])
    ctx.spans.phase = "check"
    final = wl.final_check()
    problems.extend(final)
    rss = peak_rss_mb([os.getpid(), ctx.spark.sparkContext._gateway.proc.pid])
    attempted = len(log) + 1  # every op plus the once-per-run final check
    failed = sum(1 for entry in log if not entry[5]) + bool(final)

    files = table_files(ctx)
    layers = None
    if args.trace:
        stop_spark(ctx)  # closes the event log
        layers = reduce_layers(ctx, log, t_first)
        attempted += 1
        if layers["problems"]:
            failed += 1
            problems.extend(layers["problems"][:5])

    names = wl.role_names
    e2e = {
        "setup_s": setup_s,
        "ingest_p50_s": statistics.median(times["ingest"]),
        "query_p50_s": statistics.median(times["query"]),
        "ingest_cpu_s": statistics.median(cpu["ingest"]),
        "query_cpu_s": statistics.median(cpu["query"]),
    }
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "failed_op_frac": {"value": failed / attempted, "unit": "fraction"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            names["ingest"]: {"value": e2e["ingest_p50_s"], "unit": "s"},
            names["query"]: {"value": e2e["query_p50_s"], "unit": "s"},
        },
        "e2e": e2e,
        "op_times_s": times,
        "op_cpu_s": cpu,
        "problems": problems[:20],
    }
    detail["metrics"].update(wl.named_metrics())
    if layers is not None:
        detail["spans"] = layers["spans"]
        detail["jobs"] = layers["jobs"]
        detail["io.table_files"] = files
        detail.update(wl.layer_report())
    print(json.dumps({"detail": detail}))

    if layers is None:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    else:
        metrics = layers["roles"]
        metrics["io.table_files"] = {"value": files, "unit": "count"}
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

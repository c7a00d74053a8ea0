"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. One driver process
starts Spark on ``local[nproc]`` and one client issues library calls in
sequence (a closed loop). The run starts Spark, generates and loads the
inputs, runs the workload's preparation (for ``incremental_stores``, the
build of every store from the base), makes one cold pass, repeats warm
passes for ``--seconds`` seconds, and checks the outputs of the last
pass against independent computations. The set-up time runs from process
start to the start of the first pass. A pass is timed by the CPU seconds
of the whole process tree (driver, JVM, Python workers): on a shared
4-core host the wall time of the same pass moved by a quarter from run
to run, its CPU time much less. The wall times are per-layer metrics. The
peak RSS covers the passes only: the high-water marks restart when the
passes begin and are read when they end, before the check.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the Spark event log is on, traced and untraced passes
alternate, and the last line carries the per-layer metrics from the
traced passes. The process exits non-zero when an output check fails.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from metrics import units  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_WARM_PASSES = 1
MIN_TRACED_PASSES = 1
LAYERS = ("frame", "reshape", "events", "io", "dedup", "text", "similarity", "pipeline",
          "sketches", "temporal", "skew", "graph")
LAYER_FIELDS = ("jobs", "tasks", "task_s", "gap_s", "shuffle_bytes", "spill_bytes")
STORE_KINDS = ("append", "read", "compact", "forget")
SPARK_FIELDS = ("jobs", "stages", "tasks", "task_s", "gap_s", "shuffle_bytes", "spill_bytes", "gc_s")
DRIVER_MEMORY = "1g"
# A fixed young generation makes the JVM's resident high-water mark follow
# the live data instead of when G1 happens to resize the heap.
JVM_OPTIONS = "-XX:-UsePerfData -Xmn192m"


def tail(values: list[float]) -> float:
    """The highest whole percentile with at least ten samples beyond it
    (the median when there are fewer than twenty samples)."""
    n = len(values)
    if n < 20:
        return statistics.median(values)
    p = math.floor(100 * (n - 10) / n)
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def reset_hwm(pid: int) -> None:
    """Restart the resident high-water mark of ``pid`` from its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


class Bench:
    def __init__(self, args, work: str, nproc: int):
        self.args = args
        self.work = work
        self.nproc = nproc
        self.spark = None

    def run(self) -> dict:
        from sparsity_spark.session import get_spark

        import gen
        from spans import EventLogToggle, Tracer, proc_hwm_mb, tree_cpu_s
        from workloads import WORKLOADS, CheckFailed, Client

        args = self.args
        spark = self.spark = get_spark("perfbench", cpus=self.nproc)
        sc = spark.sparkContext
        sc.setLogLevel("FATAL")
        session_start_s = time.perf_counter() - _T0
        self.jvm_pid = sc._gateway.proc.pid
        tracer = self.tracer = Tracer(sc, self.jvm_pid)
        tracer.tag_jobs = bool(args.trace)
        evlog = EventLogToggle(sc) if args.trace else None

        with tracer.span("setup.data") as load:
            paths = gen.generate(args.workload, args.seed, os.path.join(self.work, "inputs"), args.scale)
            wl = WORKLOADS[args.workload](spark, paths, self.work)
            for df in wl.inputs.values():
                df.count()
        client = Client(spark, tracer)
        with tracer.span("setup.prepare") as prep:
            wl.prepare(client)
        pids = (self.jvm_pid, os.getpid())
        sc._jvm.System.gc()
        for pid in pids:
            reset_hwm(pid)
        setup_s = time.perf_counter() - _T0

        def run_pass(n: int):
            cpu0 = tree_cpu_s(os.getpid())
            with tracer.span("pass") as s:
                out = wl.run_pass(client, n)
            s.cpu = tree_cpu_s(os.getpid()) - cpu0
            return s, out

        first, out = run_pass(0)
        passes = []  # (span, traced)
        deadline = time.perf_counter() + args.seconds
        n = 1
        while True:
            traced = bool(args.trace) and n % 2 == 1
            n_traced = sum(1 for _, t in passes if t)
            enough = len(passes) >= MIN_WARM_PASSES and (
                not args.trace or min(n_traced, len(passes) - n_traced) >= MIN_TRACED_PASSES
            )
            if n >= wl.max_passes or (enough and time.perf_counter() >= deadline):
                break
            wl.end_pass(n)
            sc._jvm.System.gc()
            if evlog is not None:
                evlog.set(traced)
                tracer.tag_jobs = traced
            s, out = run_pass(n)
            passes.append((s, traced))
            n += 1
        peak_rss_mb = sum(proc_hwm_mb(pid) for pid in pids)
        if evlog is not None:
            evlog.set(True)
            tracer.tag_jobs = True

        correct, extras = True, {}
        with tracer.span("check"):
            try:
                extras = wl.check(client, out)
            except CheckFailed as e:
                correct = False
                print(f"perfbench: output check failed: {e}", file=sys.stderr)

        phases = {}
        for sp in tracer.spans:
            if sp.parent is None:
                phases[sp.name] = phases.get(sp.name, 0.0) + sp.dur
        print("# phase seconds " + json.dumps({k: round(v, 2) for k, v in phases.items()}))
        common = dict(
            setup_s=setup_s,
            session_start_s=session_start_s,
            data_load_s=load.dur,
            prepare_s=prep.dur,
            first=first,
            passes=passes,
            peak_rss_mb=peak_rss_mb,
            input_bytes=wl.input_bytes(),
            extras=extras,
        )
        if args.trace:
            app_id = sc.applicationId
            self.stop()
            metrics = self.layer_metrics(app_id, **common)
        else:
            metrics = self.end_to_end(**common)
            self.stop()
        return {
            "correct": correct,
            "attempted": client.attempted,
            "failed": client.failed,
            "metrics": metrics,
        }

    def end_to_end(self, setup_s, first, passes, peak_rss_mb, input_bytes, **_) -> dict:
        warm = [s for s, _ in passes]
        wchar = sum(s.wchar for s in warm)
        m = {
            "setup_s": setup_s,
            "first_pass_cpu_s": first.cpu,
            "pass_cpu_s": statistics.median(s.cpu for s in warm),
            "peak_rss_mb": peak_rss_mb,
            "write_bytes_per_input_byte": wchar / len(warm) / input_bytes,
        }
        return {name: {"value": float(m[name]), "unit": unit} for name, unit in units("end_to_end").items()}

    def layer_metrics(self, app_id, session_start_s, data_load_s, prepare_s, first, passes,
                      input_bytes, extras, **_):
        from spans import attribute_jobs, event_log_path, job_totals, read_event_log, stage_owners, union_len

        jobs, stages = read_event_log(event_log_path(os.environ["SPARK_GRAFT_EVENTLOG"], app_id))
        untagged = attribute_jobs(self.tracer, jobs)
        owners = stage_owners(jobs)
        traced = [s for s, t in passes if t]
        plain = [s for s, t in passes if not t]
        k = float(len(traced))
        layer_units = units("per_layer")
        m = dict.fromkeys(layer_units, 0.0)
        coverage = []
        kind_lat: dict = {kind: [] for kind in STORE_KINDS}
        for p in traced:
            calls = [s for s in self.tracer.spans if s.parent == p.sid and s.layer]
            spark_jobs = []
            for c in calls:
                spark_jobs += c.jobs
                t = job_totals(c, c.jobs, stages, owners)
                if c.layer in LAYERS:
                    m[f"{c.layer}.self_s"] += c.dur / k
                    for f in LAYER_FIELDS:
                        m[f"{c.layer}.{f}"] += t[f] / k
                if c.kind in STORE_KINDS:
                    m[f"store.{c.kind}.self_s"] += c.dur / k
                    m[f"store.{c.kind}.jobs"] += t["jobs"] / k
                    m[f"store.{c.kind}.wchar_bytes"] += c.wchar / k
                    kind_lat[c.kind].append(c.dur)
            t = job_totals(p, spark_jobs, stages, owners)
            for f in SPARK_FIELDS:
                m[f"spark.{f}"] += t[f] / k
            coverage.append(union_len([(c.t0, c.t1) for c in calls]) / p.dur)
        m["session.start_s"] = session_start_s
        m["data.load_s"] = data_load_s
        m["data.prepare_s"] = prepare_s
        m["wall.first_pass_s"] = first.dur
        m["wall.pass_s"] = statistics.median(s.dur for s in plain)
        m["trace.coverage"] = min(coverage)
        m["trace.untagged_jobs"] = untagged
        m["trace.overhead_frac"] = (
            statistics.median(s.dur for s in traced) / statistics.median(s.dur for s in plain) - 1.0
        )
        for kind in ("append", "read"):
            if kind_lat[kind]:
                m[f"store.{kind}_p50_s"] = statistics.median(kind_lat[kind])
                m[f"store.{kind}_tail_s"] = tail(kind_lat[kind])
        # one warm pass folds one batch; the check replays one batch
        replay_s = sum(s.dur for s in self.tracer.spans if s.kind == "replay")
        if replay_s and m["store.append.self_s"]:
            m["store.replay_screen_frac"] = replay_s / m["store.append.self_s"]
        if "store.bytes" in extras:
            m["store.bytes_per_input_byte"] = extras["store.bytes"] / input_bytes
            m["store.bytes_per_live_row"] = extras["store.bytes"] / max(1, extras.get("store.live_rows", 1))
        if "dedup.candidates_per_pair" in extras:
            m["dedup.candidates_per_pair"] = extras["dedup.candidates_per_pair"]
        return {name: {"value": float(m[name]), "unit": unit} for name, unit in layer_units.items()}

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparsity_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds the sparsity_spark package", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("scratch", "local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {JVM_OPTIONS}",
    )
    if args.trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "eventlog")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)

    import pyspark

    env = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "nproc": nproc,
        "scratch": work,
        "driver_memory": DRIVER_MEMORY,
        "jvm_options": JVM_OPTIONS,
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "commit": _git_commit(),
    }
    print("# env " + json.dumps(env), flush=True)
    bench = Bench(args, work, nproc)
    try:
        result = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and not result["failed"] else 1


if __name__ == "__main__":
    sys.exit(main())

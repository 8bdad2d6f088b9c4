"""Benchmark entry point: one workload, one closed loop, one client.

    python3 perfbench/run.py --workload orc_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine runs on ``local[<cores>]``
with one client issuing the next op only after the previous one
finished. Inputs come from ``--seed``; every op's result is checked.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` the metrics are BENCHMARK.json's end-to-end ones, with
``--trace 1`` its per-layer ones. A traced run alternates traced and
untraced ops, so the tracing overhead is measured on the same host at
the same time; it merges its per-layer numbers and the span tree of one
op into ``.perfbench_out/trace.json``. Every run appends its full record,
diagnostics included, to ``.perfbench_out/runs.jsonl``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402

OUT_DIR = os.path.join(ROOT, ".perfbench_out")
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")
DRIVER_MEM = "4g"  # local mode: this heap is all the executor memory there is
# The host-speed probe (perfbench/probe.py) runs in a process of its own,
# so it slows with the host (CPU steal reaches 30% on a shared 4-vCPU VM)
# but shares no session, conf, heap or JIT with the engine. It runs in
# bursts of CAL_BURST probes: one before the JVM starts, and one before
# and one after the timed window, each once the JVM has gone idle (right
# after an op, the JVM's clean-up shares the cores and slowed a probe by
# up to 70%). Such clean-up, a neighbour's burst or file writeback only
# ever slows a probe, so the run's host speed is read from its lower-
# quartile probe, and the run's times are multiplied by CAL_REF_MS over
# that: to the host speed at which the probe takes CAL_REF_MS, about its
# median on an idle host. One factor for the whole run, as single bursts
# still catch a busy moment now and then.
CAL_REF_MS = 100.0
CAL_BURST = 4
IDLE_CPU = 0.05  # JVM CPU seconds per second below which it counts as idle
IDLE_MAX_S = 3.0  # a burst waits at most this long for the JVM to go idle
SPARK_SUBMIT = b"org.apache.spark.deploy.SparkSubmit"
QUERIES = ("q08", "q32", "q65", "q73")

END_TO_END = {  # name -> unit
    "rows_per_s": "1/s",
    "latency_p50_ms": "ms",
    "setup_s": "s",
}
PER_LAYER = {
    "memory.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "warmup.ops": "count",
    "warmup.first_op_ms": "ms",
    "catalog.load_table_calls": "count",
    "catalog.load_table_ms": "ms",
    "plan.build_ms": "ms",
    "plan.build_jobs": "count",
    "exec.ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.core_busy_frac": "fraction",
    "orc_io.materialize_s": "s",
    "orc_io.write_ms": "ms",
    "orc_io.read_sum_ms": "ms",
    "orc_io.files": "count",
    "orc_io.stripes": "count",
    "orc_io.stored_bytes_per_row": "B",
    "orc_footer.metadata_ms": "ms",
    "pipeline.curate_ms": "ms",
    "pipeline.kept_frac": "fraction",
    "dedup.minhash_pairs_ms": "ms",
    "dedup.mask_words": "count",
    "dedup.candidates": "count",
    "dedup.pairs": "count",
    "dedup.verify_yield": "fraction",
    **{f"relational.{q}_ms": "ms" for q in QUERIES},
    "artifacts.hits": "count",
    "artifacts.builds": "count",
    "artifacts.build_ms": "ms",
    "trace.overhead_frac": "fraction",
    "host.calibration_ms": "ms",
    "raw.rows_per_s": "1/s",
    "raw.latency_p50_ms": "ms",
    "raw.setup_s": "s",
    "run.halves_ratio": "ratio",
}


class SetupError(Exception):
    """The run cannot start; no result is printed."""


def spark_jvms() -> list[int]:
    """Pids of live Spark driver JVMs visible to this process."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if SPARK_SUBMIT in fh.read():
                    pids.append(int(pid))
        except OSError:
            continue
    return pids


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise SetupError(f"no VmHWM for pid {pid}")


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def prepare_env(run_dir: str) -> None:
    """Confine the run to its own directory and size Spark to the host.
    Runs before the engine is imported: it reads its ORC cache root at
    import."""
    for sub in ("orc", "spark", "tmp", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update({
        "SPARK_GRAFT_ORC_CACHE": os.path.join(run_dir, "orc"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = None  # re-read TMPDIR


def cpu_seconds(pid: int) -> float:
    """User plus system CPU seconds process ``pid`` has used."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Pids of every live descendant of process ``pid``."""
    parent = {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as fh:
                parent[int(p)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], {pid}
    while frontier:
        frontier = {c for c, pp in parent.items() if pp in frontier}
        out += frontier
    return out


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait until the JVM and
    every process it started have exited."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    kids = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.05)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except ProcessLookupError:
            pass


class HostProbe:
    """The host-speed probe process (perfbench/probe.py), one thread per
    core; calling it runs one probe and returns its wall seconds."""

    def __init__(self, threads: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "probe.py"), str(threads)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def __call__(self) -> float:
        self.proc.stdin.write("\n")
        self.proc.stdin.flush()
        return float(self.proc.stdout.readline())

    def burst(self, jvm_pid: int | None = None) -> list[float]:
        """CAL_BURST probes back to back, once process ``jvm_pid`` (if
        given) has gone idle or IDLE_MAX_S passed."""
        if jvm_pid is not None:
            deadline = time.monotonic() + IDLE_MAX_S
            busy = cpu_seconds(jvm_pid)
            while time.monotonic() < deadline:
                time.sleep(0.1)
                busy, last = cpu_seconds(jvm_pid), busy
                if busy - last < IDLE_CPU * 0.1:
                    break
        return [self() for _ in range(CAL_BURST)]

    def close(self) -> None:
        self.proc.stdin.close()  # the probe exits at EOF on its stdin
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


class Run:
    """The warm-up and the timed closed loop of one workload."""

    def __init__(self, workload, spark, traced: bool) -> None:
        from perfbench.trace import NullTracer, Tracer

        self.w, self.spark, self.traced = workload, spark, traced
        self.null = NullTracer()
        self.tracer = Tracer(spark) if traced else None
        self.cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
        self.errors: list[str] = []
        self.probed: dict[str, float] = {}

    def one_op(self, i: int, traced: bool = False, verify: bool = False) -> dict:
        """Run op ``i`` between its untimed preparation and clean-up.
        Returns its wall seconds ``dt``, ``ok``, its per-layer numbers
        and the oracle message."""
        w, tr = self.w, self.tracer
        w.before_op(i)
        if traced:
            from perfbench.workloads import common_hooks

            tr.op_tag = f"op{i}"
            w.trace_hooks(tr)
            common_hooks(tr)
            calls0, ms0 = dict(tr.calls), dict(tr.ms)
            self.last_root = len(tr.spans)
        t = time.perf_counter()
        try:
            if traced:
                with tr.span("op"):
                    ok = w.op(self.spark, i, tr)
            else:
                ok = w.op(self.spark, i, self.null)
        except Exception:
            ok = False
            self.errors.append(traceback.format_exc())
            print(self.errors[-1], file=sys.stderr)
        dt = time.perf_counter() - t
        layer, msg = {}, ""
        if traced:
            tr.restore()
            self.spark.sparkContext.setJobGroup("idle", "")
            layer = self.layer_numbers(i, calls0, ms0, dt)
            if not self.probed:  # once per run, while the op's inputs exist
                self.probed = w.probe(self.spark)
        if verify and ok:
            ok, msg = w.verify(self.spark)
        w.after_op(self.spark, i, traced)
        if traced:
            layer.update(w.extra)
        return {"dt": dt, "ok": ok, "layer": layer, "msg": msg}

    def layer_numbers(self, i: int, calls0: dict, ms0: dict, dt: float) -> dict:
        from perfbench.trace import spark_counts

        tr, sc = self.tracer, self.spark.sparkContext

        def ms(name):
            return tr.ms.get(name, 0.0) - ms0.get(name, 0.0)

        def calls(name):
            return tr.calls.get(name, 0) - calls0.get(name, 0)

        out = {
            "catalog.load_table_calls": calls("catalog.load_table"),
            "catalog.load_table_ms": ms("catalog.load_table"),
            "plan.build_ms": ms("plan"),
            "exec.ms": ms("sink"),
            "orc_io.write_ms": ms("orc_io.write_orc"),
            "orc_io.read_sum_ms": ms("orc_io.read_sum"),
            "orc_footer.metadata_ms": ms("orc_io.orc_metadata"),
            "pipeline.curate_ms": ms("pipeline.curate"),
            "dedup.minhash_pairs_ms": ms("dedup.minhash_pairs"),
            **{f"relational.{q}_ms": ms(f"relational.{q}") for q in QUERIES},
            "artifacts.hits": calls("artifacts.hits"),
            "artifacts.builds": calls("artifacts.builds"),
            "artifacts.build_ms": ms("artifacts.build"),
        }
        out.update(spark_counts(self.spark, [f"op{i}-plan", f"op{i}-sink"]))
        out["plan.build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"op{i}-plan"))
        out["spark.core_busy_frac"] = out["spark.executor_run_ms"] / (dt * 1e3 * self.cores)
        return out

    def warmup(self) -> dict:
        """The workload's fixed number of untimed ops, WARMUP_OPS, chosen
        from measured warm-up curves (see README.md). A fixed count keeps
        set-up the same work on every run, so ``setup_s`` moves only with
        the engine. The first op's result is also checked against the
        engine's DuckDB oracle."""
        ops = [self.one_op(-1, verify=True)]
        ops += [self.one_op(-1 - k) for k in range(1, self.w.WARMUP_OPS)]
        return {"times": [op["dt"] for op in ops], "ok": all(op["ok"] for op in ops),
                "oracle": ops[0]["msg"]}

    def timed(self, seconds: float) -> dict:
        """The closed loop: ops back to back for ``seconds``, and until at
        least the workload's MIN_TIMED_OPS ops were timed (slow ops
        stretch the window rather than give a median of two). A traced
        run traces every second op; the others give its overhead."""
        plain: list[dict] = []
        traced: list[dict] = []
        steal0, total0 = host_cpu_ticks()
        end = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < end or i < self.w.MIN_TIMED_OPS:
            use_trace = self.traced and i % 2 == 1
            (traced if use_trace else plain).append(self.one_op(i, traced=use_trace))
            i += 1
        steal1, total1 = host_cpu_ticks()
        return {"plain": plain, "traced": traced, "attempted": i,
                "failed": sum(not op["ok"] for op in plain + traced),
                "host_steal_frac": (steal1 - steal0) / max(total1 - total0, 1)}


def p50(ops: list[dict]) -> float:
    return statistics.median(op["dt"] for op in ops)


def per_layer_result(loop: dict, setup: dict) -> dict[str, float]:
    """Per-op medians of the traced ops, plus the run's set-up numbers."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    layers = [op["layer"] for op in loop["traced"]]
    for name in layers[0] if layers else ():
        out[name] = statistics.median(layer[name] for layer in layers)
    out.update(setup)
    if layers:
        out["trace.overhead_frac"] = p50(loop["traced"]) / p50(loop["plain"]) - 1
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
        record = bench(args.workload, args.seed, args.seconds, bool(args.trace))
    except (SetupError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    values = record["per_layer"] if args.trace else record["end_to_end"]
    if args.trace:
        write_trace(record)
    print(summary_line(record))
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }))
    return 0


def summary_line(rec: dict) -> str:
    e, raw, tail = rec["end_to_end"], rec["raw"], rec["latency_tail"]
    tail_txt = (f"latency_tail_ms=p{tail['percentile']:g} {tail['value_ms']:.1f} ms "
                f"(n={tail['samples']}, {tail['beyond']} beyond)"
                if tail else f"latency_tail_ms=omitted (n={rec['timed_ops']}: no percentile"
                f" has {metrics.TAIL_MIN_BEYOND} samples beyond it)")
    return (f"{rec['workload']} seed={rec['seed']}: "
            + ", ".join(f"{k}={e[k]:.6g} {END_TO_END[k]}" for k in END_TO_END)
            + f", {tail_txt}, peak_rss_mb={rec['peak_rss_mb']:.6g} MB"
            + f", error_rate={rec['error_rate']:.4g} fraction"
            + f", correct={rec['correct']}; raw wall: "
            + ", ".join(f"{k}={v:.6g}" for k, v in raw.items())
            + f", host probe {rec['diagnostics']['host.calibration_ms']:.1f} ms")


def write_trace(rec: dict) -> None:
    """Merge this workload's traced numbers into .perfbench_out/trace.json."""
    path = os.path.join(OUT_DIR, "trace.json")
    data = {}
    if os.path.exists(path):
        with open(path) as fh:
            data = json.load(fh)
    data[rec["workload"]] = {
        "seed": rec["seed"],
        "per_layer": rec["per_layer"],
        "tracing_overhead": rec["tracing_overhead"],
        "span_tree": rec["span_tree"],
        "spark_count_values": rec["spark_count_values"],
    }
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)


def bench(name: str, seed: int, seconds: float, traced: bool) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "pim_orc_spark")):
        raise SetupError(f"engine package pim_orc_spark not found under {ROOT}")
    others = spark_jvms()
    if others:
        raise SetupError(f"another Spark JVM is running (pids {others}); "
                         "its load would distort every timing")
    os.makedirs(RUN_ROOT, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{name}-{seed}-", dir=RUN_ROOT)
    try:
        prepare_env(run_dir)
        from perfbench.workloads import WORKLOADS

        if name not in WORKLOADS:
            raise SetupError(f"unknown workload {name!r}; one of {sorted(WORKLOADS)}")
        workload = WORKLOADS[name](seed, os.path.join(run_dir, "data"))
        return bench_workload(workload, seed, seconds, traced)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def bench_workload(workload, seed: int, seconds: float, traced: bool) -> dict:
    from pim_orc_spark.session import get_spark

    # inputs are numpy-only, so they are made while the JVM starts
    gen_error: list[BaseException] = []

    def generate():
        try:
            workload.generate()
        except BaseException as e:  # re-raised in the main thread below
            gen_error.append(e)

    t = time.perf_counter()
    probe = HostProbe(len(os.sched_getaffinity(0)))
    spark = None
    try:
        cal = probe.burst()
        probe_s = time.perf_counter() - t  # the probe's start included
        gen_thread = threading.Thread(target=generate)
        gen_thread.start()
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{workload.name}")
        setup = {"session.get_spark_s": time.perf_counter() - t}
        gen_thread.join()
        if gen_error:
            raise gen_error[0]
        run = Run(workload, spark, traced)
        setup.update(workload.setup(spark))
        warm = run.warmup()
        setup_s = time.perf_counter() - T_START - probe_s
        jvm = spark.sparkContext._gateway.proc.pid
        cal += probe.burst(jvm)
        loop = run.timed(seconds)
        cal += probe.burst(jvm)
        setup.update(run.probed)
        rss = {"jvm": vm_hwm_mb(jvm),
               "python": vm_hwm_mb("self")}
    finally:
        if spark is not None:
            stop_spark(spark)
        probe.close()
    raw = [op["dt"] for op in loop["plain"]]
    cal_ms = statistics.quantiles(cal, n=4)[0] * 1e3
    scale = CAL_REF_MS / cal_ms  # to the reference host speed
    times = [x * scale for x in raw]
    raw_e2e = {"rows_per_s": workload.rows_per_op * len(raw) / sum(raw),
               "latency_p50_ms": statistics.median(raw) * 1e3,
               "setup_s": setup_s}
    setup.update({"memory.peak_rss_mb": rss["jvm"] + rss["python"],
                  "warmup.ops": len(warm["times"]),
                  "warmup.first_op_ms": warm["times"][0] * 1e3,
                  "host.calibration_ms": cal_ms,
                  "raw.rows_per_s": raw_e2e["rows_per_s"],
                  "raw.latency_p50_ms": raw_e2e["latency_p50_ms"],
                  "raw.setup_s": setup_s,
                  "run.halves_ratio": metrics.halves_ratio(raw)})
    tail = metrics.tail_latency(times)
    attempted = loop["attempted"] + len(warm["times"])
    failed = loop["failed"] + (0 if warm["ok"] else 1)
    rec = {
        "workload": workload.name, "seed": seed, "traced": traced,
        "correct": warm["ok"] and failed == 0,
        "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted,
        "timed_ops": len(times),
        "oracle": warm["oracle"],
        "end_to_end": {
            "rows_per_s": raw_e2e["rows_per_s"] / scale,
            "latency_p50_ms": raw_e2e["latency_p50_ms"] * scale,
            "setup_s": setup_s * scale,
        },
        "peak_rss_mb": rss["jvm"] + rss["python"],
        "raw": raw_e2e,
        "latency_tail": tail and {"percentile": tail[0], "value_ms": tail[1] * 1e3,
                                  "beyond": tail[2], "samples": len(times)},
        "warmup_ms": [x * 1e3 for x in warm["times"]],
        "op_ms": [x * 1e3 for x in raw],
        "cal_ms": [x * 1e3 for x in cal],
        "peak_rss_parts_mb": rss,
        "driver_mem": DRIVER_MEM,
        "cores": run.cores,
        "diagnostics": {"host.calibration_ms": cal_ms,
                        "run.halves_ratio": setup["run.halves_ratio"],
                        "host_steal_frac": loop["host_steal_frac"]},
        "errors": run.errors[:3],
    }
    if traced:
        rec["per_layer"] = per_layer_result(loop, setup)
        rec["tracing_overhead"] = {
            "traced_ops": len(loop["traced"]), "untraced_ops": len(times),
            "traced_p50_ms": p50(loop["traced"]) * scale * 1e3 if loop["traced"] else None,
            "untraced_p50_ms": rec["end_to_end"]["latency_p50_ms"],
            "frac": rec["per_layer"]["trace.overhead_frac"],
        }
        rec["span_tree"] = run.tracer.tree(run.last_root) if loop["traced"] else None
        # ops of one shape should repeat these exactly
        rec["spark_count_values"] = {
            k: sorted({op["layer"][k] for op in loop["traced"]})
            for k in ("spark.jobs", "spark.stages", "spark.tasks",
                      "spark.shuffle_read_bytes", "spark.shuffle_write_bytes")}
    return rec


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json and perfbench/README.md):

- ``etl-routes``    process -> load -> reload -> delta load of a generated
                    GeoJSON route corpus (``etl.py``);
- ``serve-app``     a replay of the reference Streamlit session on a table
                    loaded from a generated corpus (``serve_app.py``);
- ``analytics-mix`` the 12 headline registry ops on a generated warehouse
                    (``mix.py``).

A run generates its inputs from ``--seed`` (cached per seed under
``perfbench/.work``), starts and warms a Spark session, runs one untimed
warm-up round whose outputs are checked, then measures closed-loop rounds
for ``--seconds`` and checks their outputs too. With ``--trace 1`` it then
measures the same loop again with spans around every layer call, runs the
staged per-layer actions and writes the spans to ``perfbench/.work``.

Everything the program and Spark print goes to a log file under
``perfbench/.work/logs``; standard output carries only the final JSON line.
The run exits with code 1, printing no result, if it cannot set up.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = {"etl-routes": "etl", "serve-app": "serve_app", "analytics-mix": "mix"}
# below the box's memory, which other processes share; the session default
# (16g) is sized for a large host
DRIVER_MEM = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload is None or args.seed is None or args.seconds is None or args.seconds <= 0:
        p.error("--workload, --seed and a positive --seconds are required")
    return args


def pin_environment() -> dict[str, str]:
    """Environment for the program and Spark; returns extra session conf.

    Scratch space (shuffle files, temp dirs, the SQL warehouse) stays inside
    ``perfbench/.work`` so a run writes nothing outside its checkout.
    """
    dirs = {k: os.path.join(WORK, k) for k in ("spark-local", "tmp", "warehouse", "logs")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM (the launcher and the driver): temp files inside the
        # checkout, and no hsperfdata file, which HotSpot always puts in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    })
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    return {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }


def become_subreaper() -> None:
    """Make this process the parent of every orphan among its descendants.

    The JVM exits a moment after its stdin closes, and its Python workers
    after it; as a subreaper this process inherits them, so ``stop_processes``
    can wait for each one with ``waitpid``.
    """
    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants() -> list[int]:
    """Pids of every live descendant of this process, from ``/proc``."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    # the command name may hold spaces and parentheses
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    found, frontier = [], [os.getpid()]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        found += kids
        frontier = kids
    return found


def stop_processes(spark, grace_s: float = 30.0) -> None:
    """Stop the session and its JVM, then wait until every process this run
    started has ended; whatever outlives ``grace_s`` is terminated, then killed."""
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc()
    proc = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None and not proc.stdin.closed:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.monotonic() + 5.0
        time.sleep(0.02)


def capture_output(log_path: str):
    """Point file descriptors 1 and 2 (inherited by the JVM and the Python
    workers) at the log; return writers for the real stdout and stderr."""
    sys.stdout.flush()
    sys.stderr.flush()
    out, err = os.dup(1), os.dup(2)
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)
    return os.fdopen(out, "w"), os.fdopen(err, "w")


def start_session(extra_conf: dict[str, str]):
    """Import the package, start its session and run one small job.

    Returns the session and the seconds spent in ``get_spark`` and in the
    warm-up job.
    """
    t0 = time.perf_counter()
    from transit_scrape_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id) AS s").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM (resident high-water mark) of this Python process plus the JVM's.

    The Python workers are left out: they are forked from one daemon and
    share most of their pages, so summing their resident sizes would count
    those pages once per live worker, and how many are alive at the end
    varies from run to run.
    """
    kb = 0
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/status") as fh:
            kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """Steal and total ticks of all CPUs so far, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def round_s(samples: dict[str, list[float]]) -> float:
    """One round of the workload: the sum of its timed steps' medians."""
    return sum(statistics.median(v) for v in samples.values() if v)


def per_layer(tracer, bench, staged: dict, session_s: dict, untraced_s: float,
              traced_s: float) -> dict[str, float]:
    """Layer metrics of the traced phase; self time and counters are means
    per request (interaction, op run or pipeline step) into the layer."""
    m: dict[str, float] = dict(session_s)
    for layer, totals in tracer.layer_totals(exclude_prefix="staged.").items():
        for k in ("self_s", "jobs", "tasks", "shuffle_write_bytes", "executor_cpu_s", "gc_s"):
            m[f"{layer}.{k}"] = totals[k]
    m.update(staged)
    m.update(bench.layer_metrics(tracer))
    m["trace.overhead_s"] = traced_s - untraced_s
    m["trace.overhead_frac"] = (traced_s - untraced_s) / untraced_s
    return m


def emit(out, spec: dict, section: str, values: dict, attempted: int, failed: int) -> None:
    names = {m["name"]: m["unit"] for m in spec[section]}
    unknown = set(values) - set(names)
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json {section}: {sorted(unknown)}")
    if section == "end_to_end" and set(values) != set(names):
        raise KeyError(f"end-to-end metrics missing: {sorted(set(names) - set(values))}")
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()}
    out.write(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}) + "\n")
    out.flush()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    become_subreaper()
    extra_conf = pin_environment()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    log_path = os.path.join(WORK, "logs", f"{args.workload}-{args.seed}-t{args.trace}.log")
    out, err = capture_output(log_path)

    def log(msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", flush=True)

    spark = None
    try:
        workload = importlib.import_module(WORKLOADS[args.workload])
        t_gen = time.perf_counter()
        inputs = workload.generate(args.seed, WORK)
        gen_s = time.perf_counter() - t_gen
        spark, get_spark_s, warm_s = start_session(extra_conf)
        setup_s = time.perf_counter() - T_START - gen_s
        log(f"generated inputs in {gen_s:.2f}s; setup {setup_s:.2f}s")
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()

        from spans import Tracer

        tracer = Tracer(spark, enabled=False)
        bench = workload.Bench(spark, inputs, WORK, log)
        bench.warm(tracer)
        cpu0 = cpu_ticks()
        samples = bench.measure(args.seconds, tracer)
        cpu1 = cpu_ticks()
        rss = peak_rss_mb(jvm_pid)
        # wall times stretch when the hypervisor runs other guests on this
        # machine's CPUs; the log says how much of the measured phase that was
        log(f"CPU time stolen while measuring: "
            f"{100 * (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1):.1f} %")
        log(f"samples: { {k: [round(x, 4) for x in v] for k, v in samples.items()} }")
        if args.trace:
            tracer.enabled = True
            traced_samples = bench.measure(args.seconds, tracer)
            staged = bench.staged(tracer)
            values = per_layer(tracer, bench, staged,
                               {"session.get_spark_s": get_spark_s, "session.warmup_s": warm_s},
                               round_s(samples), round_s(traced_samples))
            trace_path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
            tracer.write(trace_path, {"workload": args.workload, "seed": args.seed,
                                      "per_layer": values})
            log(f"spans written to {trace_path}")
        stop_processes(spark)
        spark = None
        if not args.trace:
            values = {"setup_s": setup_s, "peak_rss_mb": rss,
                      "round_s": round_s(samples)}
        log(f"values: {values}")
        emit(out, spec, "per_layer" if args.trace else "end_to_end", values,
             bench.attempted, bench.failed)
        return 0
    except Exception:
        log(traceback.format_exc())
        with open(log_path) as fh:
            err.write("".join(fh.readlines()[-40:]))
        err.flush()
        return 1
    finally:
        # the JVM may be up even when the session failed to start
        stop_processes(spark)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

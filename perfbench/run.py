"""Repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout.  The run generates its seeded input
(reused when the same workload, seed and size ran before), times the set-up
of a SparkSession on ``local[<cores>]`` in a fresh process and then its own,
runs a cold first operation, then a fixed number of warm operations one at
a time (fewer only if ``--seconds`` of measuring pass first), checks every
output and prints one line per metric followed by a JSON result as the
last line.

``--trace 0`` reports the end-to-end metrics of untraced operations.
``--trace 1`` alternates untraced and traced operations and reports per-layer
metrics of the traced ones (see tracing.py), the tracing overhead, and the
span list, which it writes to ``.perfbench/`` when the run ends.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# input size per workload: customers, base documents (see README.md)
SIZES = {"lifecycle": 400, "corpus_scrub_dedup": 1000}
# warm operations timed per untraced run, after the cold one; op_s is their
# median, which the first and usually slowest of them does not set
MEASURED_OPS = {"lifecycle": 3, "corpus_scrub_dedup": 5}
TRACED_PAIRS = 2       # untraced/traced operation pairs per traced run
SETUP_SAMPLES = 2      # set-ups timed per untraced run; the median is setup_s
DEADLINE_S = 150       # no new operation starts after this much run time


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_environment() -> None:
    """Make the package under ROOT importable here and in Spark's Python
    workers, and keep Spark's scratch files inside the checkout."""
    if not os.path.isfile(os.path.join(ROOT, "replibyte_spark", "__init__.py")):
        fail(f"no replibyte_spark package under {ROOT}")
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData' pyspark-shell")
    os.chdir(WORK)


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    """Share of host CPU time stolen by the hypervisor since ``since``
    (diagnostic only, like the host probe)."""
    stolen, total = cpu_ticks()
    return (stolen - since[0]) / max(total - since[1], 1)


def host_probe() -> float:
    """Seconds for a fixed single-thread CPU loop (diagnostic only)."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc ^= i * i
    return time.perf_counter() - t


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (driver Python, the JVM, Spark's Python workers); ``take`` returns the
    peak in MB since the previous ``take``."""

    def __init__(self, period: float = 0.1):
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(period,),
                                        daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def take(self) -> float:
        peak, self._peak = self._peak, 0
        return peak / 2**20

    def _run(self, period: float) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._stop.is_set():
            rss = sum(_statm_pages(p) for p in process_tree(os.getpid()))
            self._peak = max(self._peak, rss * page)
            self._stop.wait(period)


def _statm_pages(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1])
    except (OSError, IndexError, ValueError):
        return 0


def process_tree(root: int) -> list[int]:
    """root and every live descendant, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out += frontier
    return out


def start_spark():
    from replibyte_spark.session import get_spark

    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout)
    end = time.monotonic() + timeout
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < end:
        time.sleep(0.1)
    for pid in process_tree(os.getpid())[1:]:
        os.kill(pid, 9)


def setup_sample(timeout: float = 60.0) -> float:
    """Seconds from the start of a fresh ``run.py --setup-sample`` process
    to its ready SparkSession, timed as ``run`` times its own."""
    p = subprocess.Popen([sys.executable, os.path.abspath(__file__),
                          "--setup-sample"], stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        for pid in reversed(process_tree(p.pid)):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        p.wait()
        fail("a set-up sample did not finish")
    if p.returncode:
        fail(f"a set-up sample exited with code {p.returncode}")
    return float(out.split()[-1])


def setup_sample_main() -> None:
    prepare_environment()
    spark = start_spark()
    ready = time.perf_counter() - T_START
    stop_spark(spark)
    print(f"setup_s {ready!r}")


class Runner:
    """Runs operations of one workload in fresh directories and keeps
    iteration hygiene between them."""

    def __init__(self, spark, workload, run_dir: str, rss: PeakRss):
        self.spark, self.w, self.run_dir, self.rss = spark, workload, run_dir, rss
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.n = 0

    def op(self, **tags):
        """Run, check and clean up one op: (OpResult or None if it raised,
        iteration record)."""
        from replibyte_spark.util import free_persistent_rdds

        op_dir = os.path.join(self.run_dir, f"op{self.n}")
        self.n += 1
        os.makedirs(op_dir)
        self.attempted += 1
        ticks = cpu_ticks()
        self.rss.take()
        t = time.perf_counter()
        res = None
        try:
            res = self.w.run_op(self.spark, op_dir)
            wall = time.perf_counter() - t
            problems = self.w.check(op_dir, res)
        except Exception as e:      # a failed op is counted, not fatal
            wall = time.perf_counter() - t
            problems = [f"{type(e).__name__}: {str(e)[:300]}"]
        if problems:
            self.failed += 1
            self.problems += problems
        it = {"ok": not problems, "wall_s": wall,
              "steal_share": steal_share(ticks),
              "peak_rss_mb": self.rss.take(),
              "leaked_rdds": len(self.spark.sparkContext._jsc
                                 .getPersistentRDDs()), **tags}
        if res is not None:
            it.update(dump_s=res.dump_s, restore_s=res.restore_s,
                      op_s=res.op_s, stored_bytes=res.stored_bytes)
        self.spark.catalog.clearCache()
        free_persistent_rdds(self.spark)
        gc.collect()
        self.spark._jvm.System.gc()
        shutil.rmtree(op_dir, ignore_errors=True)
        return res, it


def run(args) -> dict:
    prepare_environment()
    t_env = time.perf_counter()
    import workloads

    size = SIZES[args.workload]
    t_gen = time.perf_counter()
    w = workloads.WORKLOADS[args.workload](WORK, args.seed, size)
    gen_s = time.perf_counter() - t_gen
    probe_start = host_probe()
    run_ticks = cpu_ticks()
    # one set-up is noisy, so an untraced run also times set-ups in fresh
    # processes before its own
    samples = ([] if args.trace else
               [setup_sample() for _ in range(SETUP_SAMPLES - 1)])
    t_setup = time.perf_counter()
    import replibyte_spark
    if not os.path.abspath(replibyte_spark.__file__).startswith(ROOT + os.sep):
        fail(f"replibyte_spark imported from outside {ROOT}")
    t_session = time.perf_counter()
    spark = start_spark()
    t_ready = time.perf_counter()
    run_dir = os.path.join(WORK, "ops", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    rec = {"workload": args.workload, "seed": args.seed, "size": size,
           "trace": args.trace, "cores": len(os.sched_getaffinity(0)),
           "gen_s": gen_s,
           "setup_samples_s": samples + [(t_env - T_START) + (t_ready - t_setup)],
           "session_s": t_ready - t_session, "iterations": []}
    rec["setup_s"] = median(rec["setup_samples_s"])
    with PeakRss() as rss:
        runner = Runner(spark, w, run_dir, rss)
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
            first_id, plain, traced = measure_traced(args, runner, tracer, rec)
        else:
            measure_plain(args, runner, rec)
        stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    rec["host_probe_s"] = [probe_start, host_probe()]
    rec["steal_share"] = steal_share(run_ticks)
    rec["attempted"], rec["failed"] = runner.attempted, runner.failed
    rec["problems"] = runner.problems[:20]
    for p in rec["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    if args.trace:
        if not (plain and traced):
            fail("no traced or no untraced operation finished")
        rec["metrics"] = tracing.layer_report(tracer, first_id, plain, traced,
                                              rec["session_s"])
        with open(os.path.join(records, f"spans-{tag}.json"), "w") as f:
            json.dump([s.to_json() for s in tracer.spans], f)
    else:
        timed = [it for it in rec["iterations"] if "op_s" in it]
        if not timed:
            fail("no operation finished")
        rec["metrics"] = end_to_end(w, rec, timed)
    with open(os.path.join(records, f"run-{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    return rec


def _another(t0: float, seconds: float, done: int, limit: int) -> bool:
    """Start measured op ``done + 1`` of ``limit``?  The first always runs;
    the others only while ``seconds`` of measuring and the run's deadline
    have not passed.  A fixed count times the same op positions whatever
    the host's speed."""
    now = time.perf_counter()
    return done == 0 or (done < limit and now - t0 < seconds
                         and now - T_START < DEADLINE_S)


def measure_plain(args, runner, rec) -> None:
    rec["first_op"] = runner.op()[1]
    t0 = time.perf_counter()
    while _another(t0, args.seconds, len(rec["iterations"]),
                   MEASURED_OPS[args.workload]):
        rec["iterations"].append(runner.op()[1])


def end_to_end(w, rec, timed) -> dict:
    """Medians over the measured ops that finished; an op whose output
    check failed still counts in ``failed``, which makes the run incorrect."""

    op_s = median(it["op_s"] for it in timed)
    vals = {
        "op_s": (op_s, "s"),
        "setup_s": (rec["setup_s"], "s"),
        "rows_per_s": (w.rows_in() / op_s, "1/s"),
        "stored_bytes_ratio": (median(it["stored_bytes"] for it in timed)
                               / w.truth["source_bytes"], "ratio"),
        "peak_rss_mb": (median(it["peak_rss_mb"] for it in timed), "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def measure_traced(args, runner, tracer, rec) -> tuple:
    """A traced cold op, then up to TRACED_PAIRS untraced/traced pairs.
    Returns (first op id, untraced iteration records, [(op id, wall,
    result)] traced) of the ops that finished, for tracing.layer_report."""
    import tracing
    import workloads

    def traced_op():
        tracer.op = runner.n
        with tracing.traced_layers(tracer, workloads):
            res, it = runner.op(traced=True, op_id=tracer.op)
        tracer.collect(tracer.op)
        return res, it

    first_id = runner.n
    rec["first_op"] = traced_op()[1]
    plain, traced = [], []
    t0 = time.perf_counter()
    while _another(t0, args.seconds, len(rec["iterations"]) // 2,
                   TRACED_PAIRS):
        _, it = runner.op()
        rec["iterations"].append(it)
        if "op_s" in it:
            plain.append(it)
        res, it = traced_op()
        rec["iterations"].append(it)
        if res is not None:
            traced.append((it["op_id"], it["wall_s"], res))
    return first_id, plain, traced


def main() -> None:
    if sys.argv[1:] == ["--setup-sample"]:
        return setup_sample_main()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    rec = run(args)
    import workloads

    for name, m in rec["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    if not args.trace:
        # printed, but not in the result: see README.md
        print(f"{args.workload} first_op_s = "
              f"{rec['first_op']['wall_s']:.6g} s")
        for phase in workloads.WORKLOADS[args.workload].phases:
            vals = [it[phase] for it in rec["iterations"] if phase in it]
            print(f"{args.workload} {phase} = {median(vals):.6g} s")
    err = rec["failed"] / rec["attempted"]
    print(f"{args.workload} error_rate = {err:.6g} ratio "
          f"({rec['failed']} of {rec['attempted']} ops)")
    print(json.dumps({"correct": rec["failed"] == 0,
                      "attempted": rec["attempted"],
                      "failed": rec["failed"],
                      "metrics": rec["metrics"]}))


if __name__ == "__main__":
    main()

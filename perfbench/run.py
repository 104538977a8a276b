"""perfbench: end-to-end and per-layer benchmark of the ilogtail_spark engine.

    python3 perfbench/run.py --workload flagship_noop --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 18

Run from the repository root. Each run builds its inputs from --seed (see
inputs.py), starts one local[4] session (shuffle partitions 4) and drives
it as a closed loop: one client, passes back to back, each pass checked
against an independent DuckDB reference outside the timed region.

--trace 0 measures the end-to-end metrics:
  wall_s        median seconds per warm pass at local[4], after the first
                pass and an untimed warm-up of --seconds / 3
  setup_s       process start to the moment the first pass can begin:
                imports, JVM launch, session and input scan set-up; the
                seed's inputs and references are built before it and are
                not counted
  scaling_eff   T(local[1]) / (4 * T(local[4])) over the same passes; the
                local[1] block runs after the local[4] block, in a restarted
                context, after one untimed warm-up pass
and prints, without reporting them in the result line:
  first_pass_s  the first pass in a fresh session (codegen, plan build,
                plan-time jobs, Python-worker start)
  peak_rss_mb   peak resident memory (VmHWM) of the driver JVM
  turns_per_s   flagship input turns / wall_s
  error_rate    failed passes / attempted passes

--trace 1 is a separate run that records spans around the calls into each
layer, reads per-pass counters from Spark's status store, cuts the
flagship pipeline into prefix DAGs for per-stage self times, submits the
flagship once through the partitioned parquet sink and resumes it, and
reports the tracing overhead as traced minus untraced pass time. The
traced registry run also times each of workloads.LEAF_QUERIES after one
cold round, checked against its oracle. Prefix self times, and leaf query
times when more than one warm round ran, print their spread (q3 - q1)
beside them. Spans are kept in memory and written to perfbench/.cache/ at
the end.

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics of the requested kind. The lines before it print every metric
by name with its unit; the traced flagship run also prints resume_s.
"""

import time

T_MAIN = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import inputs, workloads  # noqa: E402
from perfbench.status import StatusCollector, peak_rss_mb  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

CORES = 4
WORKLOADS = ("flagship_noop", "registry")
# gated end-to-end metrics; first_pass_s and peak_rss_mb are printed but
# not gated: one cold pass per run and the JVM's GC-timed high-water mark
# vary by more than any bound across runs on a shared 4-core machine
END_TO_END = {"wall_s": "s", "setup_s": "s", "scaling_eff": "ratio"}
_SPARK = {
    "spark.task_busy_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.core_util": "ratio", "spark.python_eval_s": "s", "spark.max_task_s": "s",
    "spark.task_skew": "ratio", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_records": "count",
    "spark.spill_bytes": "bytes", "spark.wscg_s": "s", "spark.block_bytes": "bytes",
}
_FLAGSHIP_LAYERS = {
    "sources.scan_s": "s", "sources.rows_in": "count",
    "operators.parse.self_s": "s", "operators.enrich.self_s": "s",
    "operators.route.self_s": "s", "operators.aggregate.self_s": "s",
    "operators.parse.guard_pass_frac": "ratio", "operators.parse.match_frac": "ratio",
    "plans.pipeline.build_s": "s", "plans.pipeline.write_s": "s",
    "plans.pipeline.bytes_written": "bytes", "plans.pipeline.files_written": "count",
    "plans.checkpoint.commit_s": "s", "plans.checkpoint.resume_s": "s",
}
_REGISTRY_LAYERS = {
    "queries.build_s": "s",
    **{f"queries.{q}_s": "s" for q in workloads.REGISTRY_QUERIES + workloads.LEAF_QUERIES},
}
# a layer a workload does not reach reads 0 on that workload
PER_LAYER = {**_FLAGSHIP_LAYERS, **_REGISTRY_LAYERS, **_SPARK, "trace.overhead_s": "s"}

CACHE = inputs.CACHE
# no leaf round starts later than this into a traced registry run
LEAF_BUDGET_S = 110


class Tally:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def one_pass(self, wl, tracer=None) -> float | None:
        """Run and check one pass; its seconds, or None if it failed."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = wl.run_pass(tracer)
            dt = time.perf_counter() - t
            err = wl.check(out)
        except Exception as exc:  # a failed pass is counted, not fatal
            dt, err = None, f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
        if err:
            self.fail(f"pass {self.attempted}: {err}")
            return None
        return dt

    def fail(self, reason: str) -> None:
        self.failed += 1
        print(f"# FAILED {reason}", flush=True)

    def passes(self, wl, seconds: float, min_passes: int = 1) -> list[float]:
        """Passes back to back until `seconds` have elapsed."""
        out = []
        deadline = time.perf_counter() + seconds
        n = 0
        while n < min_passes or time.perf_counter() < deadline:
            dt = self.one_pass(wl)
            n += 1
            if dt is not None:
                out.append(dt)
        return out


def _session(cores: int, wl):
    from ilogtail_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(CACHE, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(CACHE, 'tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("FATAL")
    wl.open(spark)
    return spark


def _children(pid: int) -> set[int]:
    out: set[int] = set()
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.update(int(c) for c in f.read().split())
    except FileNotFoundError:
        pass
    for c in list(out):
        out |= _children(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and the
    processes it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spawned = _children(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while spawned and time.monotonic() < deadline:
        spawned = {p for p in spawned if _alive(p)}
        time.sleep(0.05)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def _tail(xs: list[float]) -> tuple[int, float] | None:
    """Highest percentile (of 50, 90, 99, 99.9) with >= 10 samples beyond it."""
    best = None
    for p in (50, 90, 99, 99.9):
        if len(xs) * (100 - p) / 100 >= 10:
            best = (p, sorted(xs)[min(len(xs) - 1, int(len(xs) * p / 100))])
    return best


def measure(wl, seconds: float, inputs_s: float) -> tuple[dict, dict, Tally]:
    tally = Tally()
    spark = _session(CORES, wl)
    setup = time.perf_counter() - T_MAIN - inputs_s
    first = tally.one_pass(wl)
    # untimed: pass times keep falling for several passes while the JVM
    # compiles hot code, most on the short registry pass
    tally.passes(wl, seconds / 3)
    warm = tally.passes(wl, seconds / 3, min_passes=3)
    spark.stop()
    spark = _session(1, wl)
    tally.one_pass(wl)  # warm-up: the new context restarts Python workers
    single = tally.passes(wl, seconds / 3, min_passes=2)
    rss = peak_rss_mb(spark)
    _shutdown(spark)

    wall = _median(warm)
    metrics = {
        "wall_s": wall,
        "setup_s": setup,
        "scaling_eff": _median(single) / (CORES * wall),
    }
    extra = {"first_pass_s": first if first is not None else float("nan"),
             "peak_rss_mb": rss, "warm_passes": warm, "single_passes": single}
    if wl.rows_in:
        extra["turns_per_s"] = wl.rows_in / wall
    tail = _tail(warm)
    if tail:
        extra[f"wall_p{tail[0]}_s"] = tail[1]
    return metrics, extra, tally


def traced(wl, seconds: float, seed: int) -> tuple[dict, dict, Tally]:
    tally = Tally()
    spark = _session(CORES, wl)
    tally.passes(wl, seconds / 3)  # untimed warm-up, as in `measure`
    tracer = Tracer()
    collector = StatusCollector(spark)
    plain, spanned, deltas, pass_ids = [], [], [], []
    deadline = time.perf_counter() + seconds / 2
    rounds = 0
    while rounds < 2 or time.perf_counter() < deadline:
        rounds += 1
        dt = tally.one_pass(wl)
        if dt is not None:
            plain.append(dt)
        tracer.pass_id += 1
        collector.begin()
        dt = tally.one_pass(wl, tracer)
        delta = collector.end()
        if dt is not None:
            spanned.append(dt)
            deltas.append(delta)
            pass_ids.append(tracer.pass_id)

    metrics = dict.fromkeys(PER_LAYER, 0.0)
    for k in _SPARK:
        metrics[k] = _median([d[k] for d in deltas])
    metrics["trace.overhead_s"] = _median(spanned) - _median(plain)

    def per_pass(name: str, ids: list[int]) -> list[float]:
        return [sum(s.seconds for s in tracer.spans if s.pass_id == p and s.name == name)
                for p in ids]

    extra: dict = {"traced_passes": len(spanned), "untraced_passes": len(plain)}
    if isinstance(wl, workloads.Registry):
        metrics["queries.build_s"] = _median(per_pass("queries.build", pass_ids))
        for q in workloads.REGISTRY_QUERIES:
            metrics[f"queries.{q}_s"] = _median(per_pass(f"queries.{q}", pass_ids))
        leaf_ids = _leaf_rounds(spark, seed, tracer, tally, seconds)
        extra["leaf_rounds"] = len(leaf_ids)
        for q in workloads.LEAF_QUERIES:
            times = per_pass(f"queries.{q}", leaf_ids)
            metrics[f"queries.{q}_s"] = _median(times)
            if len(times) > 1:
                extra[f"queries.{q}_iqr_s"] = _iqr(times)
    else:
        metrics["plans.pipeline.build_s"] = _median(per_pass("plans.pipeline.build", pass_ids))
        ablation, spread, rounds = _ablation(wl, tracer, 2 * seconds)
        metrics.update(ablation)
        extra.update(spread)
        extra["ablation_rounds"] = rounds
        metrics["sources.rows_in"] = float(wl.src.count())
        guard, match = wl.parse_fractions()
        metrics["operators.parse.guard_pass_frac"] = guard
        metrics["operators.parse.match_frac"] = match
        tally.attempted += 1
        try:
            metrics.update(wl.sink_and_resume(tracer, os.path.join(CACHE, f"sink-{os.getpid()}")))
            extra["resume_s"] = metrics["plans.checkpoint.resume_s"]
        except Exception as exc:  # the sink submit is a pass of the write path
            tally.fail(f"sink submit: {type(exc).__name__}: {exc}".splitlines()[0][:300])
    _shutdown(spark)

    os.makedirs(CACHE, exist_ok=True)
    path = os.path.join(CACHE, f"trace-{wl.name}-{seed}.json")
    tracer.dump(path, {"workload": wl.name, "seed": seed, "metrics": metrics})
    extra["trace_file"] = os.path.relpath(path)
    return metrics, extra, tally


def _leaf_rounds(spark, seed: int, tracer, tally: Tally, seconds: float) -> list[int]:
    """Rounds of workloads.LEAF_QUERIES, each query checked; the pass ids
    of the warm rounds to report. The first round is cold (first-run
    codegen, plan-time jobs, Python workers) and is reported only if no
    warm round completes. Warm rounds repeat for `seconds`, but none starts
    once the run is LEAF_BUDGET_S old, so a slow host still ends in time."""
    leaves = workloads.Registry(seed, workloads.LEAF_QUERIES)
    leaves.open(spark)
    ids: list[int] = []
    deadline = float("inf")
    while not ids or (time.perf_counter() < deadline
                      and time.perf_counter() - T_MAIN < LEAF_BUDGET_S):
        tracer.pass_id += 1
        if tally.one_pass(leaves, tracer) is None:
            break
        ids.append(tracer.pass_id)
        if len(ids) == 1:
            deadline = time.perf_counter() + seconds
    return ids[1:] or ids


def _ablation(wl, tracer, seconds: float, min_rounds: int = 3):
    """Self time of each flagship layer: the time of the pipeline cut after
    it minus the time of the cut before it, each cut written to noop.
    Rounds repeat until `seconds` have elapsed; returns the median self
    times, their spreads (q3 - q1) and the number of rounds."""
    prefixes = wl.prefixes()
    diffs: dict[str, list[float]] = {name: [] for name, _ in prefixes}
    deadline = time.perf_counter() + seconds
    rounds = 0
    while rounds < min_rounds or time.perf_counter() < deadline:
        tracer.pass_id = 10_000 + rounds
        prev = 0.0
        for name, build in prefixes:
            with tracer.span(f"ablation.{name}") as s:
                workloads._noop(build())
            diffs[name].append(s.seconds - prev)
            prev = s.seconds
        rounds += 1
    out = {f"{name}.self_s": _median(d) for name, d in diffs.items()}
    out["sources.scan_s"] = out.pop("sources.scan.self_s")
    spread = {f"{name}.self_iqr_s": _iqr(d) for name, d in diffs.items()}
    spread["sources.scan_iqr_s"] = spread.pop("sources.scan.self_iqr_s")
    return out, spread, rounds


def _print(workload: str, values: dict, units: dict, extra: dict) -> None:
    for name, v in values.items():
        print(f"{workload:14s} {name:36s} {v:16.6g} {units[name]}")
    for name, v in extra.items():
        unit = ("1/s" if name == "turns_per_s" else "ratio" if name == "error_rate"
                else "MiB" if name == "peak_rss_mb" else "s" if name.endswith("_s") else "")
        shown = f"{v:16.6g}" if isinstance(v, float) else f"{v!s:>16}"
        print(f"{workload:14s} {name:36s} {shown} {unit}")


def run_all(args) -> None:
    """Every workload, untraced then traced, each in its own process."""
    results = {}
    for name in WORKLOADS:
        for trace in ("0", "1"):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", trace],
                stdout=subprocess.PIPE, text=True, check=True)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]), flush=True)
            results[f"{name}/trace{trace}"] = json.loads(lines[-1])
    print(json.dumps(results))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--convs", type=int, default=workloads.FLAGSHIP_CONVS,
                   help="flagship conversations (smaller for the self-test)")
    args = p.parse_args(argv)
    if args.workload == "all":
        run_all(args)
        return
    # keep every scratch file (PySpark's gateway handshake included) in the checkout
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    tempfile.tempdir = None

    t = time.perf_counter()
    wl = (workloads.Flagship(args.seed, args.convs) if args.workload == "flagship_noop"
          else workloads.Registry(args.seed))
    inputs_s = time.perf_counter() - t
    if args.trace:
        metrics, extra, tally = traced(wl, args.seconds, args.seed)
        units = PER_LAYER
    else:
        metrics, extra, tally = measure(wl, args.seconds, inputs_s)
        units = END_TO_END
    extra["error_rate"] = tally.failed / tally.attempted
    _print(args.workload, metrics, units, extra)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)


if __name__ == "__main__":
    try:
        main()
    except Exception:
        traceback.print_exc()
        sys.exit(1)

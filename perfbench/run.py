"""Table 1 benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cohort_wide --seed 1 --seconds 15 --trace 0

Load model: closed loop, one client thread issuing each call after the
previous one returns, Spark ``local[<cores>]`` with shuffle partitions =
cores, one fresh session per run. Inputs are generated from the seed
into a scratch directory inside the checkout and removed on exit.

A run sets up several times (fresh session + first, cold call) and
reports the median as ``setup_s``, makes untimed warm-up calls for
``WARMUP_S``, calls the workload in a loop for ``--seconds``, reads peak memory,
stops Spark, then checks every call's output against DuckDB. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same way with the Spark event log on and the
layer spans recorded, and prints the per-layer metrics (``layers.json``);
its ``trace.call_p50_s`` minus the untraced run's ``call_p50_s`` for the
same seed is the tracing overhead.
The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import warnings
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3
#: untimed calls after set-up, for at least this long: call times keep
#: falling over the first 20-30 s of calls in a JVM while the JIT
#: compiles, and the set-up calls only cover part of that
WARMUP_S = 6.0

END_TO_END = {
    "setup_s": "s",
    "call_p50_s": "s",
    "call_tail_s": "s",
    "rows_per_s": "rows/s",
    "ok_frac": "frac",
    "peak_rss_mb": "MiB",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--perturb",
        action="store_true",
        help="add 1 to one count of the first timed call's output before it "
        "is checked (self-test of the output check)",
    )
    return p.parse_args(argv)


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mib(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    operations beyond it. Below 20 operations that percentile would lie
    under the median, which is no tail; then it is the highest percentile
    with one operation beyond it, so no single call sets the tail alone."""
    xs = sorted(samples)
    n = len(xs)
    beyond = 10 if n >= 20 else 1
    k = max(n - beyond - 1, 0)
    return xs[k], 100.0 * (k + 1) / n, n


class Session:
    """Builds and tears down the run's Spark sessions and their JVM."""

    def __init__(self, work: Path) -> None:
        self.work = work
        self.spark = None
        #: set to a directory to give every later session an event log
        self.event_log: Path | None = None

    def start(self):
        from pyspark.sql import SparkSession

        n = cores()
        conf = {
            "spark.sql.shuffle.partitions": str(n),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.host": "localhost",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # -Xms: the heap starts at its full default size, so peak RSS
            # does not depend on when the collector decides to grow it;
            # -XX:-UsePerfData: no hsperfdata file outside the checkout
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": (
                f"-Xms1g -Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData"
            ),
            "spark.sql.session.timeZone": "UTC",
            "spark.eventLog.enabled": "true" if self.event_log else "false",
        }
        if self.event_log:
            self.event_log.mkdir(parents=True, exist_ok=True)
            conf["spark.eventLog.dir"] = self.event_log.as_uri()
            conf["spark.eventLog.compress"] = "false"
        b = SparkSession.builder.master(f"local[{n}]").appName("perfbench")
        for k, v in conf.items():
            b = b.config(k, v)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_calls(wl, specs, tracer, seconds: float, min_ops: int = 0):
    """Closed loop: call until ``seconds`` have passed and at least
    ``min_ops`` calls ran. With a tracer, call i is traced operation i."""
    calls = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(calls) < min_ops:
        calls.append(one_call(wl, next(specs), tracer, len(calls)))
        c = calls[-1]
        log(f"call {len(calls)}: {c.wall:.3f} s, {len(c.samples)} operations, {c.spec}")
    return calls


def one_call(wl, spec, tracer, op: int):
    from workloads import Call

    t0 = time.perf_counter()
    try:
        if tracer is None:
            call = wl.call(spec, None)
        else:
            with tracer.operation(op):
                call = wl.call(spec, tracer)
    except Exception as exc:  # a failed operation is counted, not fatal
        took = time.perf_counter() - t0
        call = Call(spec, [took], [], 0, took, error=f"{type(exc).__name__}: {exc}")
    call.spec = spec
    return call


def setups(wl, session: Session, specs, data_dir: Path):
    """Fresh session + first, cold call, ``SETUPS`` times. The last
    session stays up for the timed loop."""
    out = []
    for k in range(SETUPS):
        if k:
            session.stop()
        t0 = time.perf_counter()
        spark = session.start()
        wl.load(spark, data_dir)
        t_session = time.perf_counter() - t0
        call = one_call(wl, next(specs), None, -1)
        out.append((t_session, time.perf_counter() - t0, call))
        log(f"setup {k + 1}/{SETUPS}: session {t_session:.3f} s, total {out[-1][1]:.3f} s")
    return out


def spec_stream(wl, seed: int, setup: bool):
    rng = random.Random(f"{wl.name}:{seed}:{'setup' if setup else 'timed'}")
    draw = wl.setup_spec if setup else wl.draw
    while True:
        yield draw(rng)


def check_all(wl, calls, data_dir: Path, perturb_call=None) -> int:
    """Check every call against DuckDB; returns the failed operation count."""
    from oracle import Oracle

    oracle = Oracle(str(data_dir), wl.tables)
    if perturb_call is not None and perturb_call.error is None:
        perturb(perturb_call)
    failed = 0
    for call in calls:
        errors = [call.error] if call.error else wl.check(oracle, call)
        if errors:
            failed += max(1, len(call.samples))
            print(f"check failed ({wl.name}, spec {call.spec}): {errors[:3]}", file=sys.stderr)
    return failed


def perturb(call) -> None:
    if isinstance(call.output[0], dict):
        row = next(r for r in call.output if r["Index"] == 0.0)
        row["All_Patients"] += 1
    else:
        r = list(call.output[0])
        r[4] += 1.0
        call.output[0] = tuple(r)


def end_to_end(setup_calls, timed, rss_mib: float, failed: int, attempted: int):
    samples = [s for c in timed for s in c.samples]
    tail_v, tail_p, n = tail(samples)
    rows = sum(c.rows for c in timed)
    wall = sum(c.wall for c in timed)
    metrics = {
        "setup_s": statistics.median(t for _s, t, _c in setup_calls),
        "call_p50_s": statistics.median(samples),
        "call_tail_s": tail_v,
        "rows_per_s": rows / wall,
        "ok_frac": 1.0 - failed / attempted,
        "peak_rss_mb": rss_mib,
    }
    notes = {
        "call_p50_s": f"median of {n} operations",
        "call_tail_s": f"p{tail_p:.1f} of {n} operations",
        "rows_per_s": f"{rows} rows in {wall:.3f} s of calls",
        "ok_frac": f"failed_frac = {failed}/{attempted} = {failed / attempted:.4f}",
        "setup_s": f"median of {SETUPS} session starts + first call",
    }
    return metrics, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "tableone_pyspark_spark").is_dir() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"perfbench: no tableone_pyspark_spark sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    scratch = ROOT / ".perfbench"
    scratch.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=scratch))
    for sub in ("tmp", "local"):
        (work / sub).mkdir()
    # keep every temporary file of Python, Spark and the JVM in the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    tempfile.tempdir = None
    session = Session(work)
    try:
        result = run(args, WORKLOADS[args.workload](), session, work)
    finally:
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            scratch.rmdir()  # only when no concurrent run still uses it
    print(json.dumps(result))
    return 0


def run(args, wl, session: Session, work: Path) -> dict:
    import layers
    from tracing import Tracer, instrument

    warnings.simplefilter("ignore")
    data_dir = work / "data"
    subprocess.run(
        [sys.executable, str(HERE / "datagen.py"), str(data_dir), str(args.seed), *wl.tables],
        check=True,
    )
    wl.prepare(data_dir)
    log(f"inputs for seed {args.seed} written")
    if args.trace:
        session.event_log = work / "eventlog"
    setup_calls = setups(wl, session, spec_stream(wl, args.seed, setup=True), data_dir)
    specs = spec_stream(wl, args.seed, setup=False)
    warm = run_calls(wl, specs, None, WARMUP_S)
    log(f"{len(warm)} warm-up calls done")
    if args.trace:
        tracer = Tracer()
        with instrument(tracer):
            timed = run_calls(wl, specs, tracer, args.seconds, min_ops=wl.trace_ops)
    else:
        timed = run_calls(wl, specs, None, args.seconds)
    rss = vm_hwm_mib(session.jvm_pid()) + vm_hwm_mib("self")
    session.shutdown()  # also flushes the event log
    log(f"{len(timed)} timed calls done, spark stopped")
    calls = [c for _s, _t, c in setup_calls] + warm + timed
    failed = check_all(wl, calls, data_dir, timed[0] if args.perturb else None)
    attempted = sum(max(1, len(c.samples)) for c in calls)
    log("outputs checked")
    if args.trace:
        metrics = layers.per_layer(wl, tracer, timed, session.event_log, cores(), setup_calls)
        units = {k: v["unit"] for k, v in layers.SPEC.items()}
        notes = {}
    else:
        metrics, notes = end_to_end(setup_calls, timed, rss, failed, attempted)
        units = END_TO_END
    for name, value in metrics.items():
        print(f"{wl.name:<20} {name:<32} {value:>16.6f} {units[name]:<7} {notes.get(name, '')}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())

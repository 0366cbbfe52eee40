"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py            # all checks
    python3 perfbench/selftest.py --record   # re-record the event-log fixture

1. The event-log reader attributes the recorded fixture log's jobs,
   stages and tasks to the right operation windows (``fixtures/``).
2. The output check catches a wrong table: a short ``cohort_interactive``
   run with ``--perturb`` (one count off by one) must report failures.
3. ``BENCHMARK.json``'s per-layer list matches ``layers.json``.

Exits non-zero when a check fails.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
FIXTURES = HERE / "fixtures"
LOG_DIR = FIXTURES / "eventlog"
WINDOWS = FIXTURES / "eventlog_windows.json"
#: fields the reader needs; everything else is dropped from the fixture
_KEEP = {
    "Event", "Job ID", "Submission Time", "Completion Time", "Stage ID",
    "Stage Attempt ID", "Stage Info", "Task Info", "Task Metrics",
    "Task End Reason", "Launch Time", "Finish Time", "Failed", "Killed",
    "Executor Run Time", "Executor CPU Time", "JVM GC Time", "Input Metrics",
    "Bytes Read", "Records Read", "Shuffle Read Metrics", "Remote Bytes Read",
    "Local Bytes Read", "Shuffle Write Metrics", "Shuffle Bytes Written",
    "Number of Tasks", "Reason", "Spark Version",
}


def _scrub(obj):
    if isinstance(obj, dict):
        return {k: _scrub(v) for k, v in obj.items() if k in _KEEP}
    return obj


def record() -> None:
    """Record a two-operation log: a shuffled count over 4 partitions and
    a one-file parquet scan, with one job before, between and after the
    windows that belongs to no operation."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        tmp = Path(tmp)
        pq.write_table(pa.table({"x": list(range(500))}), tmp / "x.parquet")
        (tmp / "log").mkdir()
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", (tmp / "log").as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.local.dir", str(tmp / "local"))
            .getOrCreate()
        )
        ops = [
            lambda: spark.range(0, 1000, 1, 4).count(),
            lambda: spark.read.parquet(str(tmp / "x.parquet")).collect(),
        ]
        windows = []
        spark.range(3).collect()  # outside every window
        for op in ops:
            time.sleep(0.3)
            t0 = time.time()
            op()
            windows.append([int(t0 * 1000), int(time.time() * 1000) + 1])
            time.sleep(0.3)
            spark.range(3).collect()  # outside every window
        spark.stop()
        shutil.rmtree(LOG_DIR, ignore_errors=True)
        for src in (tmp / "log").rglob("events_*"):
            dst = LOG_DIR / src.parent.name / src.name
            dst.parent.mkdir(parents=True, exist_ok=True)
            with open(src, encoding="utf-8") as fin, open(dst, "w", encoding="utf-8") as fout:
                for line in fin:
                    ev = json.loads(line)
                    if ev["Event"] in {
                        "SparkListenerLogStart", "SparkListenerJobStart",
                        "SparkListenerJobEnd", "SparkListenerStageSubmitted",
                        "SparkListenerStageCompleted", "SparkListenerTaskEnd",
                    }:
                        fout.write(json.dumps(_scrub(ev)) + "\n")
    WINDOWS.write_text(json.dumps({"windows": windows}, indent=1) + "\n")
    print(f"recorded {LOG_DIR}; read it and write the expected per-window counts into {WINDOWS.name}")


def check_eventlog() -> list[str]:
    import eventlog

    spec = json.loads(WINDOWS.read_text())
    windows = [tuple(w) for w in spec["windows"]]
    got = eventlog.attribute(eventlog.read_events(LOG_DIR), windows)
    errors = []
    for k, (want, work) in enumerate(zip(spec["expected"], got)):
        have = work.as_dict()
        for name, value in want.items():
            if have[name] != value:
                errors.append(f"window {k} {name}: {have[name]} != {value}")
    return errors


def check_perturbed() -> list[str]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "cohort_interactive",
         "--seed", "1", "--seconds", "2", "--perturb"],
        capture_output=True, text=True, cwd=HERE.parent,
    )
    if p.returncode != 0:
        return [f"perturbed run exited {p.returncode}: {p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    ok_frac = res["metrics"]["ok_frac"]["value"]
    if res["failed"] < 1 or res["correct"] or ok_frac >= 1.0:
        return [f"perturbed output passed the check: {res}"]
    print(f"perturbed run: failed {res['failed']}/{res['attempted']}, "
          f"failed_frac {1.0 - ok_frac:.4f}")
    return []


def check_benchmark_json() -> list[str]:
    import layers

    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    listed = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    spec = {k: (v["unit"], v["better"]) for k, v in layers.SPEC.items()}
    return [] if listed == spec else [f"per_layer {listed} != layers.json {spec}"]


def main() -> int:
    sys.path[:0] = [str(HERE), str(HERE.parent)]
    if "--record" in sys.argv[1:]:
        record()
        return 0
    failures = []
    for check in (check_eventlog, check_benchmark_json, check_perturbed):
        errors = check()
        print(f"{check.__name__}: {'ok' if not errors else 'FAILED'}")
        for e in errors:
            print(f"  {e}")
        failures += errors
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

"""One Spark session at one parallelism level, commanded by ``run.py``.

    python3 perfbench/worker.py --workload NAME --cores K --input DIR \
        --files F --work DIR [--ui]

Reads one JSON command per line on stdin and answers each with one JSON
line on the original stdout; everything else the process (or its JVM)
prints goes to stderr. Commands: ``setup``, ``expect``, ``pass`` and
``trace``. The caller ends the process group when done.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)


def build_session(cores: int, work: str, ui: bool):
    from pyspark.sql import SparkSession
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    return (SparkSession.builder
            .master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.driver.memory", "2g")
            .config("spark.driver.host", "127.0.0.1")
            .config("spark.driver.bindAddress", "127.0.0.1")
            # no hsperfdata file, which the JVM would write outside ``work``
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir",
                    os.path.join(work, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(4 * cores))
            .config("spark.sql.adaptive.enabled", "true")
            # one input file = one partition, at every parallelism level
            .config("spark.sql.files.openCostInBytes", str(1 << 30))
            .config("spark.ui.enabled", str(ui).lower())
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--ui", action="store_true")
    a = ap.parse_args()

    # answers go to the original stdout; the JVM and libraries inherit stderr
    reply = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    def send(obj) -> None:
        reply.write(json.dumps(obj) + "\n")
        reply.flush()

    from spans import Tracer
    import workloads as W

    t0 = time.perf_counter()
    spark = build_session(a.cores, a.work, a.ui)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    wl = W.WORKLOADS[a.workload](spark, a.input, a.files,
                                 os.path.join(a.work, "passes"))
    send({"ready": True, "session_s": session_s})

    tracer = Tracer(spark) if a.ui else None
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd.pop("op")
        try:
            if op == "setup":
                times = []
                for _ in range(cmd.get("repeats", 1)):
                    t0 = time.perf_counter()
                    if tracer is not None:
                        with tracer.span("setup"):
                            wl.setup(tracer)
                    else:
                        wl.setup()
                    times.append(time.perf_counter() - t0)
                send({"setup_s": times})
            elif op == "expect":
                wl.expect(cmd["path"])
                send({})
            elif op == "pass":
                send(wl.run_pass(resume=cmd.get("resume", False)))
            elif op == "trace":
                send(trace(wl, tracer))
            else:
                raise ValueError(f"unknown op {op!r}")
        except Exception:  # report and keep serving: the caller counts it
            send({"error": traceback.format_exc()})


def trace(wl, tracer) -> dict:
    """A warm-up pass and an untraced pass (both checked), then the traced
    pass and the layer metrics."""
    import workloads as W
    warm = wl.run_pass()
    untraced = wl.run_pass()
    out = W.traced_metrics(wl, tracer, untraced["wall_s"])
    out.update(checks=[warm["checks"], untraced["checks"]],
               untraced_digest=untraced["digest"],
               untraced_s=untraced["wall_s"])
    return out


if __name__ == "__main__":
    main()

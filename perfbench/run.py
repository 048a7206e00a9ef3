"""KG-construction benchmark: seeded workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload dataeng_match --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, both modes

Run from the repository root. Workloads: ``dataeng_match`` (matcher-bound)
and ``clinical_checkpointed`` (write-path-bound) are measured end to end;
``large_vocab`` (shuffle-join match over a large synthetic terminology) is
traced only, as part of the traced run of ``clinical_checkpointed``.
Inputs come from ``gen.py`` with the given seed; the program only sees the
generated parquet. Every pass is checked (``checks.py``); a pass fails
when it raises, when a check fails or when its output digest differs from
the run's first pass.

``--trace 0``: one Spark session (``worker.py``) at local[4N], N =
max(1, nproc // 4), pinned to the first 4N CPUs. After set-up and untimed
warm-up passes, passes repeat until ``--seconds`` have passed and at least
two have run. Values are medians over the run:

- ``docs_per_s``: documents per second from the input table to the final
  triples (committed to the snapshot table on ``clinical_checkpointed``);
- ``setup_s``: median of five set-ups (input load and count, dictionary
  or terminology build). Spark session start is logged but not part of
  it, and the Python workers start in the first warm-up pass: both are
  Spark's own costs, paid once per process, and timing them again would
  take a fresh JVM per repeat;
- ``resume_s``: time to have the final triples again after a kill. On
  ``clinical_checkpointed``, ``run_checkpointed_pipeline`` resuming after
  a kill that left the sentences and mentions checkpoints; the other
  workloads keep no checkpoints, so a kill means a full pass;
- ``peak_rss_mb``: peak summed RSS of the benchmark's process tree (run
  script, ``worker.py``, JVM, Python workers) during the timed passes.

``fail_frac`` is ``failed / attempted`` of the result line.

``--trace 1``: one session at 4N with the Spark UI on runs a checked
untraced pass and then the traced pass, in which each layer's public
function runs on the previous layer's cached output inside a span
(``workloads.traced_metrics``). On ``dataeng_match`` a second session at N,
pinned to the first N CPUs, runs the weak-scaling probe on the first N/4N
of the corpus. The ledger (spans, layer self times, Spark stage counters
per layer, routing verdict) goes to
``.perfbench/ledger-<workload>-<seed>.json``.

The last line of stdout is the JSON result; the lines before it explain
it, and name every correctness evidence source with its status.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proc  # noqa: E402

WORKLOADS = ("dataeng_match", "clinical_checkpointed")

SETUP_REPEATS = 5
# untimed passes before the timed ones: a fresh session's passes keep
# getting faster for about 20 s (JIT, Python workers' caches)
WARMUP_PASSES = {"dataeng_match": 2, "clinical_checkpointed": 1}
MAX_FAILED = 3
# a median of at least two: a clinical_checkpointed pass with its resume
# takes 11-18 s on a 4-core host
MIN_TIMED_PASSES = 2
SCALING_ROUNDS = 2

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "resume_s": "s",
              "peak_rss_mb": "MB"}


class WorkerError(RuntimeError):
    pass


class Worker:
    """A ``worker.py`` process pinned to ``cpus``, in its own process
    group so that it, its JVM and the JVM's Python workers stop together."""

    def __init__(self, workload: str, cpus: list[int], files: int,
                 work: str, ui: bool = False):
        self.name = f"local[{len(cpus)}]"
        os.makedirs(work, exist_ok=True)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # a fixed string-hash seed: the matcher's dict and set work is then
        # the same in every run
        env = dict(os.environ, TMPDIR=tmp, PYSPARK_PYTHON=sys.executable,
                   PYTHONHASHSEED="0",
                   PYTHONPATH=os.pathsep.join(
                       p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
        env.pop("OMP_NUM_THREADS", None)
        cmd = [sys.executable,
               os.path.join(HERE, "worker.py"), "--workload", workload,
               "--cores", str(len(cpus)),
               "--input", os.path.join(os.path.dirname(work), "input"),
               "--files", str(files), "--work", work]
        if ui:
            cmd.append("--ui")
        self.cpus = cpus
        self.files = files
        self.log = open(os.path.join(work, "worker.log"), "w")
        self.p = subprocess.Popen(cmd, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=self.log,
                                  text=True, cwd=ROOT, env=env,
                                  start_new_session=True)

    def pin(self) -> None:
        if set(self.cpus) != os.sched_getaffinity(0):
            proc.pin_tree(self.p.pid, self.cpus)

    def send(self, op: str, **kw) -> None:
        self.p.stdin.write(json.dumps(dict(kw, op=op)) + "\n")
        self.p.stdin.flush()

    def recv(self) -> dict:
        line = self.p.stdout.readline()
        if not line:
            raise WorkerError(f"{self.name} exited (see {self.log.name})")
        out = json.loads(line)
        if "error" in out:
            raise WorkerError(f"{self.name}: {out['error']}")
        return out

    def call(self, op: str, **kw) -> dict:
        self.send(op, **kw)
        return self.recv()

    def close(self) -> None:
        """Kill the worker's process group (worker, JVM, Python workers)
        and wait until every member has ended."""
        try:
            os.killpg(self.p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.p.wait()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            try:
                os.killpg(self.p.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        self.log.close()


def levels() -> tuple[list[int], list[int]]:
    """CPUs of the 4N and N levels, from this process's CPU affinity."""
    cpus = sorted(os.sched_getaffinity(0))
    n = max(1, len(cpus) // 4)
    big = min(4 * n, len(cpus))
    if big <= n:
        raise SystemExit("the scaling probe needs at least 2 CPUs")
    return cpus[:big], cpus[:n]


def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3 if xs else []
    return statistics.quantiles(xs, n=4, method="inclusive")


class Tally:
    """Passes attempted and failed, with why."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def spawn(workload: str, cpus: list[int], files: int, work: str,
          ui: bool = False) -> Worker:
    """Start a worker and derive its expected output while its JVM starts;
    ``ready`` waits for the session."""
    import checks
    import gen
    w = Worker(workload, cpus, files, work, ui)
    input_dir = os.path.join(os.path.dirname(work), "input")
    with open(os.path.join(input_dir, "manifest.json")) as f:
        manifest = json.load(f)
    expect = os.path.join(work, "expect.json")
    with open(expect, "w") as f:
        json.dump(checks.expectation(
            workload, gen.part_paths(input_dir, files), manifest), f)
    w.expect = expect
    return w


def ready(w: Worker) -> dict:
    r = w.recv()
    w.pin()
    return r


def checked_pass(w: Worker, tally: Tally, resume: bool,
                 first: list) -> dict | None:
    """One pass (and its resume) of ``w``; ``None`` when it raised. The
    pass fails when a check fails or its digest differs from the first
    pass of the run."""
    try:
        r = w.call("pass", resume=resume)
    except WorkerError as e:
        tally.record(False, str(e))
        if resume:
            tally.record(False, "resume not reached")
        return None
    if not first:
        first.append(r["digest"])
    ok = all(v["ok"] for v in r["checks"]) and r["digest"] == first[0]
    what = (f"{w.name} pass: checks {r['checks']}, digest {r['digest']}, "
            f"first pass {first[0]}")
    tally.record(ok, what)
    if resume:
        tally.record(ok, what)
    return r


def log_checks(w: Worker, checks: list[dict], log) -> None:
    for v in checks:
        detail = {k: v[k] for k in v if k not in ("check", "ok")}
        log(f"check {v['check']} at {w.name}: "
            f"{'ok' if v['ok'] else 'FAILED'} ({json.dumps(detail)})")


def run_timed(workload: str, work: str, seconds: float, log) -> tuple:
    import gen
    cpus, _ = levels()
    docs = gen.SIZES[workload]["docs"]
    resume = workload == "clinical_checkpointed"
    tally = Tally()
    walls, resumes, first = [], [], []
    with proc.PeakRss(os.getpid(), interval_s=0.25) as rss:
        w = None
        try:
            w = spawn(workload, cpus, gen.FILES, os.path.join(work, "big"))
            log(f"session start {ready(w)['session_s']:.2f} s at {w.name}")
            setup = w.call("setup", repeats=SETUP_REPEATS)["setup_s"]
            log(f"setup_s repeats: {', '.join(f'{x:.3f}' for x in setup)}")
            w.call("expect", path=w.expect)
            # untimed and checked, without resume: a resume runs code the
            # pass already ran
            for _ in range(WARMUP_PASSES[workload]):
                r = checked_pass(w, tally, False, first)
                log_checks(w, r["checks"] if r else [], log)
            rss.resume()
            t0 = time.perf_counter()
            while len(walls) < MIN_TIMED_PASSES or \
                    time.perf_counter() - t0 < seconds:
                r = checked_pass(w, tally, resume, first)
                if r is None:
                    if len(tally.failures) >= MAX_FAILED:
                        break
                    continue
                walls.append(r["wall_s"])
                if resume:
                    resumes.append(r["resume_s"])
            measured = time.perf_counter() - t0
            rss.pause()
        finally:
            if w is not None:
                w.close()
    if not walls:
        raise WorkerError("no pass completed: " + " | ".join(tally.failures))
    log(f"timed: {len(walls)} passes in {measured:.1f} s")
    for label, xs in (("pass s", walls), ("resume s", resumes)):
        if xs:
            log(f"{label}: median {statistics.median(xs):.3f}, quartiles "
                f"{', '.join(f'{q:.3f}' for q in quartiles(xs))}, "
                f"n={len(xs)}: {', '.join(f'{x:.3f}' for x in xs)}")
    metrics = {
        "docs_per_s": statistics.median(docs / x for x in walls),
        "setup_s": statistics.median(setup),
        "resume_s": statistics.median(resumes if resume else walls),
        "peak_rss_mb": rss.peak_mb,
    }
    return metrics, END_TO_END, tally


def scaling_probe(workload: str, big: Worker, small: Worker, tally: Tally,
                  log) -> float:
    """Weak scaling, 4N against N: docs/s at 4N / (4 x docs/s at N), the
    N session reading the first N/4N of the corpus. Passes alternate."""
    import gen
    docs = gen.SIZES[workload]["docs"]
    thr: dict[str, list[float]] = {big.name: [], small.name: []}
    first: dict[str, list] = {big.name: [], small.name: []}
    checked_pass(small, tally, False, first[small.name])  # warm-up
    for _ in range(SCALING_ROUNDS):
        for w in (big, small):
            r = checked_pass(w, tally, False, first[w.name])
            if r is not None:
                thr[w.name].append(docs * w.files / gen.FILES / r["wall_s"])
    for name, xs in thr.items():
        log(f"scaling docs/s at {name}: {', '.join(f'{x:.1f}' for x in xs)}")
    if not (thr[big.name] and thr[small.name]):
        return 0.0
    ratio = len(big.cpus) / len(small.cpus)
    return statistics.median(thr[big.name]) / (
        ratio * statistics.median(thr[small.name]))


ROUTING = {
    "dataeng_match": ("matcher has the largest self time",
                      lambda s: max(s, key=s.get) == "matcher"),
    "clinical_checkpointed": (
        "checkpoint + tables + canonicalize exceed matcher",
        lambda s: s.get("checkpoint", 0) + s.get("tables", 0)
        + s.get("canonicalize", 0) > s.get("matcher", 0)),
    "large_vocab": ("shuffle_match has the largest self time",
                    lambda s: max(s, key=s.get) == "shuffle_match"),
}


def run_traced(workload: str, work: str, seed: int, canary: float,
               log) -> tuple:
    import gen
    from workloads import LAYER_METRICS
    big_cpus, small_cpus = levels()
    tally = Tally()
    workers = []
    try:
        workers.append(spawn(workload, big_cpus, gen.FILES,
                             os.path.join(work, "big"), ui=True))
        if workload == "dataeng_match":
            workers.append(spawn(
                workload, small_cpus,
                gen.FILES * len(small_cpus) // len(big_cpus),
                os.path.join(work, "small")))
        for w in workers:  # the sessions start side by side
            ready(w)
        for w in workers:
            w.call("setup", repeats=1)
            w.call("expect", path=w.expect)
        big = workers[0]
        t = big.call("trace")
        for checks in t["checks"]:
            tally.record(all(v["ok"] for v in checks),
                         f"untraced pass: checks {checks}")
        log_checks(big, t["checks"][-1], log)
        tally.record(t["digest"] == t["untraced_digest"],
                     f"traced pass digest {t['digest']} != untraced "
                     f"{t['untraced_digest']}")
        scaling = (scaling_probe(workload, big, workers[1], tally, log)
                   if len(workers) > 1 else 0.0)
    finally:
        for w in workers:
            w.close()
    m = t["metrics"]
    m["host.canary_s"] = canary
    m["spark.scaling_efficiency"] = scaling
    layer_self = t["layer_self_s"]
    # clinical_checkpointed's matcher runs inside the context layer; the
    # claim compares against the matcher alone on the same sentences
    claim, test = ROUTING[workload]
    routed = test(dict(layer_self, matcher=m["matcher.match_s"])
                  if workload == "clinical_checkpointed" else layer_self)
    log(f"traced pass {t['pass_wall_s']:.3f} s, untraced {t['untraced_s']:.3f}"
        f" s; layer self times: " + ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(layer_self.items(),
                                              key=lambda x: -x[1])))
    cov = m["trace.ledger_coverage"]
    log(f"ledger coverage {cov:.3f} ("
        f"{'within' if abs(cov - 1) <= 0.1 else 'OUTSIDE'} 10% of the "
        f"traced wall time)")
    log(f"routing: {claim}: {'yes' if routed else 'NO'}")
    ledger = dict(t, workload=workload, seed=seed,
                  routing={"claim": claim, "holds": routed})
    path = os.path.join(ROOT, ".perfbench", f"ledger-{workload}-{seed}.json")
    with open(path, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
    log(f"ledger written to {os.path.relpath(path, ROOT)}")
    return m, LAYER_METRICS, tally


EVIDENCE = {
    "dataeng_match": [
        "kg_oracle: DuckDB re-derivation of the md5-bucketed subset's "
        "triples"],
    "clinical_checkpointed": [
        "sequential reference: splitter, matcher and per-document acronym "
        "pass over the subset's mentions",
        "checkpoint/commit/resume: triples checkpoint = committed snapshot "
        "= resumed output"],
    "large_vocab": [
        "expected CUIs: one triple per document, the CUI of its quoted "
        "term"],
}


def evidence(workload: str, tally: Tally) -> list[str]:
    """Every correctness evidence source with its status."""
    import checks
    status = (f"ran on {tally.attempted} passes, {len(tally.failures)} "
              f"failed" if tally.attempted else "not reached")
    rows = [f"{e}: {status}" for e in EVIDENCE[workload]]
    if workload != "dataeng_match":
        rows.append("kg_oracle: not applicable, it re-derives only the "
                    "closed dataeng vocabulary")
    rows.append("compiled-reference triple P/R: "
                + checks.reference_pr_status())
    return rows


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    import gen

    start = time.perf_counter()

    def log(msg: str) -> None:
        print(f"[{workload} {time.perf_counter() - start:6.1f}s] {msg}",
              flush=True)

    work = os.path.join(ROOT, ".perfbench", "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    canary = proc.canary_s()
    log(f"host canary (single-thread spin) {canary:.3f} s; "
        f"cpus {len(os.sched_getaffinity(0))}")
    gen.generate(workload, seed, os.path.join(work, "input"))
    evidence_rows = []
    try:
        if trace:
            metrics, units, tally = run_traced(workload, work, seed, canary,
                                               log)
            evidence_rows += evidence(workload, tally)
            if workload == "clinical_checkpointed":
                # large_vocab supplies the shuffle_match and terminology
                # layers: it is traced, never timed end to end
                sub = os.path.join(work, "large_vocab")
                gen.generate("large_vocab", seed, os.path.join(sub, "input"))
                m, _, t = run_traced("large_vocab", sub, seed, canary,
                                     lambda msg: log(f"[large_vocab] {msg}"))
                metrics.update({k: v for k, v in m.items() if k.split(".")[0]
                                in ("shuffle_match", "terminology")})
                tally.attempted += t.attempted
                tally.failures += t.failures
                evidence_rows += [f"[large_vocab] {r}" for r in
                                  evidence("large_vocab", t)[:1]]
        else:
            metrics, units, tally = run_timed(workload, work, seconds, log)
            evidence_rows += evidence(workload, tally)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for row in evidence_rows:
        log(f"evidence: {row}")
    for f in tally.failures:
        log(f"FAILED: {f[:2000]}")
    log(f"fail_frac {len(tally.failures)}/{tally.attempted}")
    for k, v in metrics.items():
        log(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not tally.failures, "attempted": tally.attempted,
        "failed": len(tally.failures),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}), flush=True)
    return 0


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    code = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            r = subprocess.run([sys.executable, __file__, "--workload", w,
                                "--seed", str(seed), "--seconds",
                                str(seconds), "--trace", str(trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            print("\n".join(lines[:-1]), flush=True)
            code = code or r.returncode
            if r.returncode == 0 and lines:
                res = json.loads(lines[-1])
                print(f"== {w} trace={trace}: correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']}")
                for k, v in res["metrics"].items():
                    print(f"   {k:36s} {v['value']:14.6g} {v['unit']}")
    return code


def _terminate(signum, frame) -> None:
    sys.exit(128 + signum)  # unwinds through the finally blocks: workers stop


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nobletools_spark")):
        print("perfbench: run from a checkout of the repository "
              "(nobletools_spark/ not found next to perfbench/)",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _terminate)
    if a.workload == "all":
        return run_all(a.seed, a.seconds)
    return run(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())

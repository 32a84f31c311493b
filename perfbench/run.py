"""Benchmark for the constraint-validation engine.

    python3 perfbench/run.py --workload validate_fresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run builds its input from
``--seed``, starts a taskset-pinned local[4] JVM, warms it, then times
a fixed number of ``validate()`` passes (``--seconds`` divided by the
workload's nominal pass time, at least 2). A pass is ``validate()``
plus ``violations.count()`` plus collecting ``verdicts``. Every pass is
checked against DuckDB counts over the same parquet files.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones. With ``--trace 1`` a second, local[1]
JVM pinned to one core joins, the timed loop runs pairs of an untraced
and a traced local[4] pass and one local[1] pass, and the metrics are
per-layer numbers read from Spark's status stores for each traced
call, the tracing overhead and the local[1] scaling figures. The line
before the result holds the details (every pass time, quartiles, set-up
phases, host, failures). All files go under ``.perfbench_work/`` in the
checkout; a traced run keeps its spans there as
``traces/<workload>-seed<seed>.json``.
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
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

ROWS = 30_000  # ~40 MB of parquet
TINY_ROWS = 2_000  # local[1] warms on this while the real input is written
PARTITIONS = 8
N_BUCKETS = 64
PRIOR_BUCKETS = list(range(N_BUCKETS // 2))  # the half a resumed run skips
# Untimed passes before the timed ones. On validate_resume the
# validate() call that seeds the ledger is the warm-up: a resumed pass
# keeps getting faster for four passes or so, more than a run can hold.
WARM_PASSES = {"validate_fresh": 2, "validate_resume": 0}
# The timed pass count depends on --seconds alone, never on how fast
# the passes run: passes keep getting faster for a while (JIT), so a
# count that grew with speed would move the median by itself.
# Nominal local[4] pass time per workload on a 4-core host: at
# --seconds 10, 3 timed passes on validate_fresh and 2 on
# validate_resume, whose set-up costs more, so that a run of either
# ends in about a minute.
PASS_S = {"validate_fresh": 3, "validate_resume": 5}
SECONDS_PER_CYCLE = 15  # one traced pair per 15 s, at least 1 (a traced run holds two JVMs)
HEAP_CAP_MB = 1024
WORKLOADS = ("validate_fresh", "validate_resume")


def heap_mb(n_jvms: int) -> int:
    """Heap per JVM: half of MemAvailable split over the JVMs alive at
    once, in 256 MB steps, capped so that every run on a roomy host
    gets the same heap."""
    with open("/proc/meminfo") as f:
        info = {line.split(":")[0]: int(line.split()[1]) for line in f}
    share = info["MemAvailable"] // 1024 // 2 // n_jvms
    return max(512, min(HEAP_CAP_MB, share // 256 * 256))


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": total_kb // 1024}


class WorkerError(RuntimeError):
    pass


class Worker:
    """Handle on one pinned ``worker.py`` process and its JVM."""

    def __init__(self, name: str, cpus: list[int], local_n: int, env: dict, log: Path):
        self.name = name
        self._log = open(log, "w")
        cmd = ["taskset", "-c", ",".join(map(str, cpus)), sys.executable,
               str(HERE / "worker.py"), "--cpus", str(local_n)]
        # own session, so close() can find and stop the whole tree
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, env=env, cwd=env["PERFBENCH_CWD"], start_new_session=True,
        )

    def send(self, op: str, **kw) -> None:
        self.proc.stdin.write(json.dumps({"op": op, **kw}) + "\n")
        self.proc.stdin.flush()

    def recv(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise WorkerError(f"{self.name} exited; see {self._log.name}")
        rep = json.loads(line)
        if not rep.pop("ok"):
            raise WorkerError(f"{self.name}: {rep['error']}")
        return rep

    def call(self, op: str, **kw) -> dict:
        self.send(op, **kw)
        return self.recv()

    def pids(self) -> list[int]:
        """Every live process in the worker's session (worker, JVM,
        Python UDF workers). A killed process stays a zombie until its
        parent reaps it, and has ended, so zombies are left out."""
        out = []
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                if int(fields[3]) == self.proc.pid and fields[0] != "Z":  # session id, state
                    out.append(int(d))
        return out

    def pin(self, cpu: int) -> None:
        """Move every thread of every process in the tree to one core;
        threads and processes started later inherit it."""
        for pid in self.pids():
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    os.sched_setaffinity(int(tid), {cpu})
                except OSError:
                    pass  # the thread ended in between

    def pss_kb(self) -> int:
        """Summed proportional set size of the tree: resident pages,
        with each shared page divided among the processes sharing it,
        so Python workers forked from one daemon are not counted once
        per fork."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass  # the process ended in between
        return total

    def kill(self) -> None:
        for pid in self.pids():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    def close(self) -> None:
        """Kill every process of the worker's session and wait until
        none of it remains. Nothing the worker holds needs a clean
        shutdown: its files are in the run directory, removed after."""
        for _ in range(100):
            if not self.pids():
                break
            self.kill()
            time.sleep(0.1)
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self._log.close()


class RssSampler:
    """Peak summed resident memory (PSS) of the workers' process trees
    while running."""

    def __init__(self, workers: list[Worker], period: float = 1.0):
        self.workers, self.period, self.peak_kb = workers, period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(w.pss_kb() for w in self.workers))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Tracer:
    """Spans kept in memory and written as one JSON file at the end."""

    def __init__(self, run_id: str):
        self.run_id, self.spans = run_id, []

    def span(self, name: str, start: float, end: float, parent: str | None = None, **attrs) -> str:
        sid = uuid.uuid4().hex[:12]
        self.spans.append({"span_id": sid, "parent": parent, "run_id": self.run_id,
                           "name": name, "start": start, "end": end, **attrs})
        return sid

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run_id": self.run_id, "spans": self.spans}, indent=1))


def quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def layer_metrics(res: dict, tokens_path: str, ledger_path: str | None) -> dict:
    import status as S

    v, c = res["records"]["validate"], res["records"]["consume"]
    vt, ct = S.stage_totals(v), S.stage_totals(c)
    nodes = S.node_totals(v, tokens_path, ledger_path)
    for k, x in S.node_totals(c, tokens_path, ledger_path).items():
        nodes[k] += x
    led = res.get("ledger_written", {"bytes": 0, "files": 0, "snapshots": 0})
    out = {f"validate.{k}": vt[k] for k in (
        "jobs", "tasks", "run_ms", "cpu_ms", "offjvm_ms", "gc_ms", "driver_only_ms",
        "shuffle_write_bytes", "spill_bytes")}
    out.update({
        "validate.wall_s": res["validate_s"],
        "validate.leaked_cached_frames": res["leaked_cached_frames"],
        "consume.wall_s": res["consume_s"],
        "consume.run_ms": ct["run_ms"],
        "ledger.bytes_written": led["bytes"],
        "ledger.files_written": led["files"],
        "ledger.snapshots_appended": led["snapshots"],
    })
    out.update(nodes)
    return out


UNITS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "leaked_cached_frames": "count",
    "files_read": "count", "files_written": "count", "snapshots_appended": "count",
    "rows_to_python": "rows", "heap_mb": "MB", "overhead_pct": "%",
    "seq_per_s_n1": "rows/s", "efficiency": "ratio",
}


def unit_of(name: str) -> str:
    leaf = name.split(".", 1)[1]
    if leaf in UNITS:
        return UNITS[leaf]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    return "bytes"


def run(args) -> dict:
    t_start = time.time()
    allowed = sorted(os.sched_getaffinity(0))
    n_hi = min(4, len(allowed))
    heap = heap_mb(2 if args.trace else 1)
    run_dir = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "cwd"):
        (run_dir / sub).mkdir(parents=True)
    logs = WORK / "logs"
    logs.mkdir(parents=True, exist_ok=True)

    base_env = dict(os.environ)
    base_env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
        "PERFBENCH_CWD": str(run_dir / "cwd"),
    })
    java_opts = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    env4 = {**base_env, "SPARK_GRAFT_CPUS": str(n_hi), "JAVA_TOOL_OPTIONS": java_opts}
    # local[1] warms on every core while sized as a one-core JVM, then
    # is pinned to one core before the first timed pass
    env1 = {**base_env, "SPARK_GRAFT_CPUS": "1",
            "JAVA_TOOL_OPTIONS": java_opts + " -XX:ActiveProcessorCount=1"}

    tracer = Tracer(uuid.uuid4().hex[:12])
    tag = f"{args.workload}-seed{args.seed}"
    fresh = args.workload == "validate_fresh"
    failures: list[str] = []
    attempted = 0
    failed_ops = set()  # which operations (by attempt number) failed

    def fail(where: str, messages: list[str]) -> None:
        if messages:
            failed_ops.add(attempted)
        for m in messages:
            failures.append(f"{where}: {m}")
            print(f"perfbench: {failures[-1]}", file=sys.stderr)
    setup = {}

    t_spawn = time.time()
    w4 = Worker("local4", allowed[:n_hi], n_hi, env4, logs / f"{tag}-local4.log")
    workers = [w4]
    if args.trace:
        w1 = Worker("local1", allowed, 1, env1, logs / f"{tag}-local1.log")
        workers.append(w1)

    def on_sigterm(signum, frame):
        # kill the workers first: threads blocked on their replies then
        # see end-of-file, and the finally block below can run
        for w in workers:
            w.kill()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_sigterm)
    try:
        # imported while the JVMs start
        from kglids_spark.operators import constraints as C
        from kglids_spark.sources.tokens import SOURCES

        import checks
        import gen

        suite = C.default_suite(SOURCES)
        # the input is written here while the JVMs start
        t = time.time()
        src = run_dir / "input"
        gen.write_tokens(src, ROWS, args.seed, PARTITIONS)
        if args.trace:
            gen.write_tokens(run_dir / "tiny-input", TINY_ROWS, args.seed, 2)
        setup["generate_s"] = time.time() - t
        tracer.span("setup.generate", t, time.time(), rows=ROWS)
        hello = {w.name: w.recv()["session_s"] for w in workers}
        setup["session_s"] = time.time() - t_spawn
        tracer.span("setup.session", t_spawn, time.time(), **hello)

        if fresh:
            data = {"layout": "parquet", "path": str(src)}
            tiny = {**data, "path": str(run_dir / "tiny-input")}
            glob = f"{src}/*.parquet"
        else:
            data = {"layout": "store", "path": str(run_dir / "table")}
            tiny = {**data, "path": str(run_dir / "tiny")}
            glob = f"{data['path']}/tokens/data/*/bucket_id=*/*.parquet"

        def pass_req(w: Worker, trace: bool = False, inp: dict = data) -> dict:
            if fresh:
                return {**inp, "trace": trace}
            return {**inp, "trace": trace, "ledger_seed": inp["path"] + "-ledger",
                    "ledger_copy": str(run_dir / f"ledger-{w.name}"),
                    "prior_buckets": PRIOR_BUCKETS}

        def store(w: Worker, inp: dict, src: Path) -> None:
            """validate_resume: the input as a bucketed TableStore table."""
            r = w.call("store", src=str(src), **inp)
            tracer.span(f"setup.{w.name}.store", time.time() - r["s"], time.time())

        def seed_ledger(w: Worker, inp: dict) -> None:
            """validate_resume: the ledger of a run that stopped after
            half of the buckets. This validate() call is the warm-up."""
            r = w.call("seed_ledger", ledger=inp["path"] + "-ledger", buckets=PRIOR_BUCKETS, **inp)
            tracer.span(f"setup.{w.name}.seed_ledger", time.time() - r["s"], time.time())

        # local[4] makes its warm-up passes; the oracle runs beside them
        # once the input is in place. In a traced run local[1] warms at
        # the same time, still on every core, on a small table of its
        # own, and is then pinned to one core.
        data_ready = threading.Event()

        def setup4() -> list:
            if fresh:
                data_ready.set()
            else:
                try:
                    store(w4, data, src)
                finally:
                    data_ready.set()
                seed_ledger(w4, data)
            n = WARM_PASSES[args.workload]
            return [("local4", w4.call("pass", **pass_req(w4))) for _ in range(n)]

        def setup1() -> list:
            if not fresh:
                store(w1, tiny, run_dir / "tiny-input")
                seed_ledger(w1, tiny)
            w1.call("pass", **pass_req(w1, inp=tiny))
            w1.pin(allowed[-1])
            return []

        t_warm = time.time()
        with ThreadPoolExecutor(2) as pool:
            futures = [pool.submit(setup4)] + ([pool.submit(setup1)] if args.trace else [])
            data_ready.wait()
            try:
                t = time.time()
                expected = checks.expected_counts(glob, suite, n_hi, bucketed=not fresh)
                expected["n_buckets"] = N_BUCKETS
                expected["buckets_completed_prior"] = 0 if fresh else len(PRIOR_BUCKETS)
                setup["oracle_s"] = time.time() - t
                tracer.span("setup.oracle", t, time.time(), expected=expected)
            finally:
                warm = [p for f in futures for p in f.result()]
        setup["warmup_s"] = time.time() - t_warm
        tracer.span("setup.warmup", t_warm, time.time())
        # validate_fresh: the local[4] verdict matrix is the reference
        # both JVMs must reproduce on every pass; validate_resume: the
        # matrix DuckDB computes from the stored bucket ids
        ref_digest = expected.get("verdict_digest") or warm[0][1]["verdict_digest"]
        for name, res in warm:
            attempted += 1
            fail(f"warm-up {name}", checks.check_pass(res, expected, ref_digest))
        setup_s = time.time() - t_start

        # timed loop: local[4] passes; a traced run alternates untraced
        # and traced local[4] passes (the order reverses every other
        # pair) with one local[1] pass after the first pair
        times = {"local4": [], "local4_traced": [], "local1": []}
        traced: list[dict] = []  # layer metrics of each traced pass
        rows_pass = None
        if args.trace:
            schedule = []
            for i in range(max(1, args.seconds // SECONDS_PER_CYCLE)):
                schedule += [(w4, True), (w4, False)] if i % 2 else [(w4, False), (w4, True)]
                if i == 0:
                    schedule.append((w1, False))
        else:
            schedule = [(w4, False)] * max(2, int(args.seconds / PASS_S[args.workload]))
        with RssSampler(workers) as rss:
            for w, tr in schedule:
                attempted += 1
                t = time.time()
                try:
                    res = w.call("pass", **pass_req(w, tr))
                except WorkerError as e:
                    if w.proc.poll() is not None:
                        raise
                    fail(f"pass {w.name}", [str(e)])
                    continue
                fail(f"pass {w.name}", checks.check_pass(res, expected, ref_digest))
                rows_pass = res["rows_this_pass"]
                key = w.name + ("_traced" if tr else "")
                times[key].append(res["wall_s"])
                if not tr:
                    tracer.span(f"pass.{key}", t, time.time(), wall_s=res["wall_s"])
                    continue
                lm = layer_metrics(res, data["path"], pass_req(w).get("ledger_copy"))
                traced.append(lm)
                sid = tracer.span(f"pass.{key}", t, time.time(), wall_s=res["wall_s"],
                                  layer_metrics=lm)
                for part in ("validate", "consume"):
                    rec = res["records"][part]
                    tracer.span(part, rec["start_ms"] / 1000, rec["end_ms"] / 1000, sid,
                                job_group=rec["group"], jobs=rec["jobs"], stages=rec["stages"])
        peak_rss_mb = rss.peak_kb / 1024
    finally:
        for w in workers:
            w.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    if not times["local4"] or (args.trace and not (traced and times["local1"])):
        raise RuntimeError("no timed pass completed; see the failures above")
    failed = len(failed_ops)
    detail = {
        "workload": args.workload, "seed": args.seed, "host": host_info(),
        "jvm_heap_mb": heap, "rows": ROWS, "rows_per_pass": rows_pass,
        "setup": setup, "pass_s": {k: v for k, v in times.items() if v},
        "quartiles_s": {k: quartiles(v) for k, v in times.items() if v},
        "attempted": attempted, "failed": failed, "error_rate": failed / attempted,
        "failures": failures[:20],
    }
    seq4 = rows_pass / statistics.median(times["local4"])
    if not fresh:
        detail["resume_s"] = statistics.median(times["local4"])
    if args.trace:
        metrics = {k: statistics.median(p[k] for p in traced) for k in traced[0]}
        metrics.update({f"setup.{k}": setup[k] for k in ("generate_s", "session_s", "warmup_s", "oracle_s")})
        metrics["jvm.heap_mb"] = heap
        base = statistics.median(times["local4"])
        metrics["trace.overhead_pct"] = (statistics.median(times["local4_traced"]) - base) / base * 100
        seq1 = rows_pass / statistics.median(times["local1"])
        metrics["scaling.seq_per_s_n1"] = seq1
        # reported, not gated: removing parallel work speeds up both
        # legs yet lowers this ratio
        metrics["scaling.efficiency"] = seq4 / (n_hi * seq1)
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
        trace_path = WORK / "traces" / f"{tag}.json"
        tracer.span("run", t_start, time.time(), workload=args.workload, seed=args.seed)
        tracer.write(trace_path)
        detail["trace_file"] = str(trace_path.relative_to(ROOT))
    else:
        out = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "seq_per_s": {"value": seq4, "unit": "rows/s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    print(json.dumps(detail))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "kglids_spark").is_dir():
        print(f"perfbench: no kglids_spark package under {ROOT}", file=sys.stderr)
        return 2
    if shutil.which("taskset") is None:
        print("perfbench: taskset not found", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT)]
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""One benchmark JVM: a Python process holding a local[N] SparkSession
and serving JSON-line commands from ``run.py``.

Run as ``python3 perfbench/worker.py --cpus N``. Requests arrive one per
line on stdin; each reply is one JSON line on the protocol channel
(the process's original stdout). Everything else the process or its
JVM prints goes to stderr, so log lines can never corrupt a reply.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import uuid

from checks import verdict_digest

N_BUCKETS = 64


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def _snapshots(ledger: str) -> int:
    n = 0
    for table in ("bucket_stats", "violations", "runs"):
        p = os.path.join(ledger, table, "manifest.json")
        if os.path.exists(p):
            with open(p) as f:
                n += len(json.load(f)["snapshots"])
    return n


def copy_ledger(src: str, dst: str) -> None:
    """Copy a TableStore ledger and point the copy's manifests at the
    copied data, so a pass never touches the seeded original."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    for table in os.listdir(dst):
        p = os.path.join(dst, table, "manifest.json")
        if not os.path.exists(p):
            continue
        with open(p) as f:
            manifest = json.load(f)
        for snap in manifest["snapshots"]:
            snap["path"] = snap["path"].replace(src, dst, 1)
        with open(p, "w") as f:
            json.dump(manifest, f)


class Worker:
    def __init__(self, cpus: int):
        from kglids_spark.operators import constraints as C
        from kglids_spark.session import get_spark
        from kglids_spark.sources.tokens import SOURCES

        from status import StatusReader

        t0 = time.time()
        self.spark = get_spark(app_name=f"perfbench_local{cpus}", cpus=cpus)
        self.session_s = time.time() - t0
        self.sc = self.spark.sparkContext
        self.suite = C.default_suite(SOURCES)
        self.chash = C.constraint_set_hash(self.suite)
        self.status = StatusReader(self.spark)
        self.frames: dict[str, object] = {}

    # ---- inputs -------------------------------------------------------
    def store(self, req: dict) -> dict:
        """Write the parquet table at ``src`` into a TableStore table
        partitioned by bucket, one file per bucket directory, as a
        bucketed table writer leaves it."""
        from kglids_spark.plans.buckets import BUCKET_COL, with_bucket
        from kglids_spark.sources.tables import TableStore

        t0 = time.time()
        df = with_bucket(self.spark.read.parquet(req["src"]), "doc_id", N_BUCKETS)
        TableStore(self.spark, req["path"]).append(
            "tokens", df.repartition(BUCKET_COL), partition_by=[BUCKET_COL])
        return {"s": time.time() - t0}

    def _frame(self, req: dict):
        """The input frame, read once per input and reused by every pass
        (file listing and schema discovery are not part of a pass)."""
        key = req["path"]
        if key not in self.frames:
            if req["layout"] == "store":
                from kglids_spark.sources.tables import TableStore

                self.frames[key] = TableStore(self.spark, key).read("tokens")
            else:
                self.frames[key] = self.spark.read.parquet(key)
        return self.frames[key]

    def seed_ledger(self, req: dict) -> dict:
        """Validate only ``buckets`` into ``ledger``: the state a job
        interrupted halfway leaves behind."""
        from pyspark.sql import functions as F

        from kglids_spark.operators.validate import validate
        from kglids_spark.sources.tables import TableStore

        t0 = time.time()
        shutil.rmtree(req["ledger"], ignore_errors=True)
        part = self._frame(req).filter(F.col("bucket_id").isin(req["buckets"]))
        res = validate(part, self.suite, n_buckets=N_BUCKETS,
                       ledger=TableStore(self.spark, req["ledger"]))
        res.violations.count()
        res.verdicts.collect()
        self.spark.catalog.clearCache()
        return {"s": time.time() - t0}

    # ---- one pass ------------------------------------------------------
    def _persistent(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def run_pass(self, req: dict) -> dict:
        from pyspark.sql import functions as F

        from kglids_spark.operators.validate import validate
        from kglids_spark.sources.tables import TableStore

        df = self._frame(req)
        ledger_dir = req.get("ledger_copy")
        ledger = None
        if ledger_dir:
            copy_ledger(req["ledger_seed"], ledger_dir)
            ledger = TableStore(self.spark, ledger_dir)
            l_bytes0, l_files0 = _tree_bytes(ledger_dir)
            l_snaps0 = _snapshots(ledger_dir)
        trace = bool(req.get("trace"))
        tag = uuid.uuid4().hex[:8]

        before = self._persistent()
        if trace:
            self.sc.setJobGroup(f"validate-{tag}", "perfbench validate()")
        t0 = time.time()
        res = validate(df, self.suite, n_buckets=N_BUCKETS, ledger=ledger,
                       extract_violation_rows=True)
        t1 = time.time()
        if trace:
            self.sc.setJobGroup(f"consume-{tag}", "perfbench ValidationResult")
        n_violation_rows = res.violations.count()
        verdicts = res.verdicts.collect()
        t2 = time.time()
        if trace:
            self.sc.setJobGroup(f"checks-{tag}", "perfbench checks")

        # untimed: what the pass produced, for the correctness checks
        out = {
            "wall_s": t2 - t0, "validate_s": t1 - t0, "consume_s": t2 - t1,
            "rows_validated": res.metrics["rows_validated"],
            "distinct_estimate": res.metrics["distinct_key_estimate"],
            "buckets_completed_prior": res.metrics["buckets_completed_prior"],
            "violation_rows_total": n_violation_rows,
        }
        rows = sorted(
            (r.bucket_id, r.constraint_id, r.n_checked, r.n_violations, r.passed)
            for r in verdicts
        )
        out["verdict_digest"] = verdict_digest(rows)
        totals: dict[str, int] = {}
        for b, cid, _, nv, _ in rows:
            totals[cid] = totals.get(cid, 0) + nv
        out["verdict_totals"] = totals
        first_cid = self.suite[0].cid
        prior = set(req.get("prior_buckets", []))
        out["rows_this_pass"] = sum(
            n for b, cid, n, _, _ in rows if cid == first_cid and b not in prior
        )
        out["violation_rows"] = {
            r.constraint_id: r["count"]
            for r in res.violations.groupBy("constraint_id").count().collect()
        }
        if ledger is not None:
            l_bytes1, l_files1 = _tree_bytes(ledger_dir)
            out["ledger_written"] = {
                "bytes": l_bytes1 - l_bytes0, "files": l_files1 - l_files0,
                "snapshots": _snapshots(ledger_dir) - l_snaps0,
            }
            stats = ledger.read("bucket_stats").filter(
                (F.col("constraint_hash") == self.chash) & (F.col("n_buckets") == N_BUCKETS)
            )
            out["ledger_bucket_rows"], out["ledger_buckets"] = stats.agg(
                F.count(F.lit(1)), F.countDistinct("bucket_id")
            ).first()

        # validate() without a ledger leaves its violations frame
        # persisted; record the growth, then release it from outside
        out["leaked_cached_frames"] = self._persistent() - before
        del res
        self.spark.catalog.clearCache()
        out["persistent_after_release"] = self._persistent()
        out["persistent_before"] = before

        if trace:
            self.sc._jsc.clearJobGroup()
            out["records"] = {
                "validate": self.status.harvest(f"validate-{tag}", t0 * 1000, t1 * 1000),
                "consume": self.status.harvest(f"consume-{tag}", t1 * 1000, t2 * 1000),
            }
        if ledger_dir:
            shutil.rmtree(ledger_dir, ignore_errors=True)
        return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args()

    # the protocol channel is a private copy of stdout; fd 1 itself now
    # points at stderr, and the JVM and Python workers inherit that
    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    def reply(obj: dict) -> None:
        proto.write(json.dumps(obj) + "\n")
        proto.flush()

    try:
        worker = Worker(args.cpus)
    except Exception:
        reply({"ok": False, "error": traceback.format_exc()})
        return 1
    reply({"ok": True, "session_s": worker.session_s, "pid": os.getpid()})
    ops = {"store": worker.store, "seed_ledger": worker.seed_ledger, "pass": worker.run_pass}
    for line in sys.stdin:
        req = json.loads(line)
        try:
            reply({"ok": True, **ops[req["op"]](req)})
        except Exception:
            reply({"ok": False, "error": traceback.format_exc()})
    worker.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

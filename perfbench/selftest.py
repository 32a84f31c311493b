"""Self-test of the benchmark's correctness checks; no JVM needed.

    python3 perfbench/selftest.py

Writes a ten-row tokens table with one planted violation per
constraint, checks that the DuckDB oracle counts exactly those, that a
pass reporting the right answer is accepted, and that tampering with
any one expected value makes the check fail. Also checks the parsing
of Spark's formatted SQL metric values. Exits 1 if any of these fails.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import checks  # noqa: E402
from status import parse_metric  # noqa: E402


def _table(path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        # doc_id, tokens, n_tok, source, bucket_id
        ("d0", [1, 2], 2, "web", 0),
        ("d1", [3], 1, "books", 0),
        ("d1", [4, 5, 6], 3, "code", 0),  # duplicate key
        (None, [7], 1, "wiki", 1),  # null key
        ("d3", [8, 9], 0, "web", 1),  # n_tok out of range (and != len)
        ("d4", [1, 2, 3], 2, "web", 1),  # n_tok != len(tokens)
        ("d5", [4], 1, "__unknown__", 1),  # unknown source
        ("d6", [5, 6], 2, "news", 0),
        ("d7", [7, 8, 9], 3, "papers", 0),
        ("d8", [1], 1, "forums", 1),
    ]
    for b in (0, 1):
        part = [r for r in rows if r[4] == b]
        d = path / f"bucket_id={b}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({
            "doc_id": [r[0] for r in part],
            "tokens": pa.array([r[1] for r in part], pa.list_(pa.int32())),
            "n_tok": pa.array([r[2] for r in part], pa.int32()),
            "source": [r[3] for r in part],
        }), d / "part-0.parquet")


def main() -> int:
    from kglids_spark.operators import constraints as C
    from kglids_spark.sources.tokens import SOURCES

    suite = C.default_suite(SOURCES)
    cid = {c.kind: c.cid for c in suite}
    work = HERE.parent / ".perfbench_work" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    _table(work)
    try:
        exp = checks.expected_counts(f"{work}/*/*.parquet", suite, threads=1, bucketed=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    exp["n_buckets"] = 2
    exp["buckets_completed_prior"] = 1
    want = {cid["not_null"]: 1, cid["unique"]: 1, cid["range"]: 1,
            cid["tok_len_consistency"]: 2, cid["referential"]: 1}
    problems = []
    if (exp["rows"], exp["distinct"], exp["violations"]) != (10, 8, want):
        problems.append(f"oracle counted {exp['rows']}, {exp['distinct']}, {exp['violations']}")

    # the verdict matrix a correct engine returns for this table
    per_bucket = {0: (5, {cid["unique"]: 1}),
                  1: (5, {cid["not_null"]: 1, cid["range"]: 1,
                          cid["tok_len_consistency"]: 2, cid["referential"]: 1})}
    verdicts = [(b, c, n, viol.get(c, 0), viol.get(c, 0) == 0)
                for b, (n, viol) in per_bucket.items() for c in want]
    verdicts += [(-1, c, 10, 0, True) for c in exp["drift"]]
    good = {
        "rows_validated": 10, "distinct_estimate": 8,
        "verdict_digest": checks.verdict_digest(verdicts),
        "verdict_totals": {**want, **exp["drift"]}, "violation_rows": dict(want),
        "violation_rows_total": sum(want.values()), "buckets_completed_prior": 1,
        "persistent_before": 0, "persistent_after_release": 0,
        "ledger_bucket_rows": 2, "ledger_buckets": 2,
    }
    if exp.get("verdict_digest") != good["verdict_digest"]:
        problems.append("oracle verdict matrix differs from the hand-written one")
    if checks.check_pass(good, exp, exp["verdict_digest"]):
        problems.append(f"a correct pass was rejected: {checks.check_pass(good, exp, exp['verdict_digest'])}")

    tampered = {
        "expected violation count": lambda e, r: e["violations"].__setitem__(cid["unique"], 2),
        "expected row count": lambda e, r: e.__setitem__("rows", 11),
        "expected distinct count": lambda e, r: e.__setitem__("distinct", 20),
        "reference verdict digest": lambda e, r: e.__setitem__("verdict_digest", "0" * 64),
        "reported violation rows": lambda e, r: r["violation_rows"].__setitem__(cid["range"], 0),
        "leaked cached frame": lambda e, r: r.__setitem__("persistent_after_release", 1),
        "ledger bucket rows": lambda e, r: r.__setitem__("ledger_bucket_rows", 3),
        "buckets skipped on resume": lambda e, r: r.__setitem__("buckets_completed_prior", 0),
    }
    for what, tamper in tampered.items():
        e = {**exp, "violations": dict(exp["violations"])}
        r = {**good, "violation_rows": dict(good["violation_rows"])}
        tamper(e, r)
        if not checks.check_pass(r, e, e["verdict_digest"]):
            problems.append(f"tampered {what} was not caught")

    for text, value in {
        "12,345": 12345.0, "1.8 s": 1800.0, "690.0 B": 690.0,
        "total (min, med, max (stageId: taskId))\n1.5 MiB (0.5 MiB, 0.5 MiB, 0.5 MiB (stage 3.0: task 5))": 1.5 * 2**20,
    }.items():
        if parse_metric(text)[0] != value:
            problems.append(f"parse_metric({text!r}) = {parse_metric(text)[0]}, want {value}")

    for p in problems:
        print(f"selftest: {p}", file=sys.stderr)
    print("selftest:", "FAILED" if problems else f"ok ({len(tampered)} tampered values caught)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

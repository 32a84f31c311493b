"""Independent expected values and the per-pass correctness checks.

The expected violation counts come from DuckDB reading the same
parquet files the engine validates, with constraint semantics written
out in SQL here rather than taken from the engine. ``check_pass``
returns one message per failed check; an empty list means the pass
produced the right answer.
"""

from __future__ import annotations

import hashlib
import math

# hll_sketch_agg's default lgConfigK is 12: relative standard error
# 1.04 / sqrt(2^12) ~ 1.6%; three of them bound the estimate
HLL_TOLERANCE = 3 * 1.04 / math.sqrt(2**12)

# SQL violation predicates per constraint kind, mirroring the
# documented semantics of the default suite (NULLs are not_null's job)
_ROW_SQL = {
    "not_null": "{col} IS NULL",
    "range": "{col} IS NOT NULL AND ({col} < {lo} OR {col} > {hi})",
    "tok_len_consistency": "{col} IS NOT NULL AND len({array_col}) <> {col}",
    "referential": "{col} IS NOT NULL AND {col} NOT IN ({values})",
}


def expected_counts(parquet_glob: str, suite, threads: int, bucketed: bool) -> dict:
    """Violation counts per constraint id, plus the row count and the
    exact distinct count of doc_id, computed by DuckDB. For a table that
    stores its ``bucket_id`` (hive-partitioned), also the digest of the
    whole verdict matrix the engine must return."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        con.execute("SET memory_limit = '1GB'")
        quoted = parquet_glob.replace("'", "''")
        con.execute(
            f"CREATE VIEW t AS SELECT * FROM read_parquet('{quoted}', hive_partitioning = true)"
        )
        sums, cids = [], []
        for c in suite:
            if c.kind in _ROW_SQL:
                p = dict(c.params)
                if c.kind == "referential":
                    p["values"] = ", ".join("'" + v.replace("'", "''") + "'" for v in p["valid_values"])
                pred = _ROW_SQL[c.kind].format(col=c.column, **p)
                sums.append(f"count(*) FILTER (WHERE {pred})")
                cids.append(c.cid)
        n_rows, n_distinct, *row_counts = con.execute(
            f"SELECT count(*), count(DISTINCT doc_id), {', '.join(sums)} FROM t"
        ).fetchone()
        viol = dict(zip(cids, row_counts))
        for c in suite:
            if c.kind == "unique":
                viol[c.cid] = con.execute(
                    f"SELECT count(*) FROM (SELECT {c.column} FROM t WHERE {c.column} IS NOT NULL "
                    f"GROUP BY {c.column} HAVING count(*) > 1)"
                ).fetchone()[0]
        # drift is checked against the run's own histogram: never violated
        drift = {c.cid: 0 for c in suite if c.kind in ("drift_ks", "drift_psi")}
        out = {"rows": n_rows, "distinct": n_distinct, "violations": viol, "drift": drift}
        if bucketed:
            out["verdict_digest"] = _verdict_digest(con, suite, sums, cids, drift, n_rows)
    finally:
        con.close()
    return out


def _verdict_digest(con, suite, sums, cids, drift, n_rows) -> str:
    """sha256 of the sorted (bucket_id, constraint_id, n_checked,
    n_violations, passed) rows: one per bucket and row-level or unique
    constraint, one global (bucket -1) row per drift constraint."""
    per_bucket = {
        b: (n, dict(zip(cids, vs)))
        for b, n, *vs in con.execute(
            f"SELECT bucket_id, count(*), {', '.join(sums)} FROM t GROUP BY bucket_id"
        ).fetchall()
    }
    for c in suite:
        if c.kind == "unique":
            dups = dict(con.execute(
                f"SELECT bucket_id, count(*) FROM (SELECT bucket_id FROM t "
                f"WHERE {c.column} IS NOT NULL GROUP BY bucket_id, {c.column} "
                f"HAVING count(*) > 1) GROUP BY bucket_id"
            ).fetchall())
            for b, (_, vs) in per_bucket.items():
                vs[c.cid] = dups.get(b, 0)
    rows = [(b, cid, n, nv, nv == 0) for b, (n, vs) in per_bucket.items() for cid, nv in vs.items()]
    rows += [(-1, cid, n_rows, nv, nv == 0) for cid, nv in drift.items()]
    return verdict_digest(rows)


def verdict_digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def check_pass(res: dict, exp: dict, reference_digest: str | None) -> list[str]:
    """Messages for every way ``res`` (one pass, as the worker reports
    it) differs from the expected values."""
    bad = []
    if res["rows_validated"] != exp["rows"]:
        bad.append(f"rows_validated {res['rows_validated']} != {exp['rows']}")
    for cid, n in {**exp["violations"], **exp["drift"]}.items():
        got = res["verdict_totals"].get(cid)
        if got != n:
            bad.append(f"verdict total {cid}: {got} != {n}")
    for cid, n in exp["violations"].items():
        got = res["violation_rows"].get(cid, 0)
        if got != n:
            bad.append(f"violation rows {cid}: {got} != {n}")
    if sum(res["violation_rows"].values()) != res["violation_rows_total"]:
        bad.append(
            f"violations.count() {res['violation_rows_total']} != "
            f"{sum(res['violation_rows'].values())} rows over the constraints"
        )
    extra = set(res["violation_rows"]) - set(exp["violations"])
    if extra:
        bad.append(f"violation rows for unexpected constraints {sorted(extra)}")
    est, exact = res["distinct_estimate"], exp["distinct"]
    if abs(est - exact) > HLL_TOLERANCE * exact:
        bad.append(f"distinct estimate {est} outside {HLL_TOLERANCE:.3f} of {exact}")
    if res["buckets_completed_prior"] != exp["buckets_completed_prior"]:
        bad.append(
            f"{res['buckets_completed_prior']} buckets skipped as done before, "
            f"want {exp['buckets_completed_prior']}"
        )
    if reference_digest is not None and res["verdict_digest"] != reference_digest:
        bad.append("verdict matrix differs from the reference pass")
    if res["persistent_after_release"] != res["persistent_before"]:
        bad.append(
            f"cached frames {res['persistent_after_release']} after release, "
            f"{res['persistent_before']} before the pass"
        )
    if "ledger_bucket_rows" in res:
        want = exp["n_buckets"]
        if (res["ledger_bucket_rows"], res["ledger_buckets"]) != (want, want):
            bad.append(
                f"ledger bucket_stats holds {res['ledger_bucket_rows']} rows over "
                f"{res['ledger_buckets']} buckets, want one row for each of {want}"
            )
    return bad

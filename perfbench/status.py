"""Per-call layer metrics read from Spark's status stores over py4j.

Every call the benchmark traces runs under its own Spark job group.
After the call returns (outside its timed window), ``harvest`` reads
that group's jobs and stages from the ``AppStatusStore`` and the
plan-node metrics of its SQL executions from the ``SQLAppStatusStore``.
Both stores are fed by listeners that run whether or not the UI is
enabled, so this works under ``spark.ui.enabled=false``.

Objects cross py4j as JSON: the stores' v1 API objects are serialized
by Jackson with its Scala module (the same mapper setup Spark's REST
API uses), which costs one round trip per object instead of one per
field.
"""

from __future__ import annotations

import json
import re

# SQL metric values come out of the store pre-formatted
# (SQLMetrics.stringValue): "12,345", "1.8 s", "690.0 B", or
# "total (min, med, max (stageId: taskId))\n20 ms (0 ms, 1 ms, 6 ms (stage 23.0: task 54))"
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1000.0, "m": 60000.0, "h": 3600000.0}
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                "BatchEvalPython", "MapInArrow", "FlatMapCoGroupsInPandas")


def parse_metric(text: str) -> tuple[float, int | None]:
    """(value, stage id of the max task or None) of one formatted SQL
    metric. Sizes come back in bytes, durations in milliseconds."""
    total = text.split("\n")[-1]
    m = _STAGE_RE.search(total)
    stage = int(m.group(1)) if m else None
    if total.startswith("("):  # average metrics print "(min, med, max ...)"
        head = total[1:].split(",")[0]
    else:
        head = total.split(" (")[0].replace(",", "")
    parts = head.split()
    number = float(parts[0])
    if len(parts) == 2:
        unit = parts[1]
        number *= _SIZE.get(unit) or _TIME_MS.get(unit) or 1.0
    return number, stage


class StatusReader:
    """Reads job, stage and SQL-node metrics for one job group."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def harvest(self, group: str, start_ms: float, end_ms: float) -> dict:
        """Raw per-call record: the group's jobs, its distinct stages
        and, per SQL execution that ran one of its jobs, the plan nodes
        with their parsed metric values."""
        jobs = [j for j in self._json(self._store.jobsList(None)) if j.get("jobGroup") == group]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            st = self._json(self._store.lastStageAttempt(sid))
            stages.append({
                k: st.get(k)
                for k in (
                    "stageId", "status", "numCompleteTasks", "submissionTime",
                    "completionTime", "executorRunTime", "executorCpuTime",
                    "jvmGcTime", "shuffleWriteBytes",
                    "memoryBytesSpilled", "diskBytesSpilled",
                )
            })
        executions = []
        for ex in self._json(self._sql.executionsList()):
            if not job_ids & {int(k) for k in (ex.get("jobs") or {})}:
                continue
            eid = ex["executionId"]
            graph = self._sql.planGraph(eid)
            values = self._json(self._sql.executionMetrics(eid)) or {}
            nodes = []
            for node in self._json(graph.allNodes()):
                metrics = {}
                for m in node["metrics"]:
                    raw = values.get(str(m["accumulatorId"]))
                    if raw is None:
                        continue
                    val, stage = parse_metric(raw)
                    metrics[m["name"]] = {"acc": m["accumulatorId"], "value": val, "stage": stage}
                nodes.append({"id": node["id"], "name": node["name"],
                              "desc": node["desc"], "metrics": metrics})
            edges = [(e["fromId"], e["toId"]) for e in self._json(graph.edges())]
            executions.append({"executionId": eid, "nodes": nodes, "edges": edges})
        return {"group": group, "start_ms": start_ms, "end_ms": end_ms,
                "jobs": [{"jobId": j["jobId"], "stageIds": j["stageIds"],
                          "status": j["status"]} for j in jobs],
                "stages": stages, "executions": executions}


def _busy_ms(stages: list[dict], start_ms: float, end_ms: float) -> float:
    """Milliseconds of [start_ms, end_ms] during which any stage ran."""
    spans = sorted(
        (max(s["submissionTime"], start_ms), min(s["completionTime"], end_ms))
        for s in stages
        if s.get("submissionTime") and s.get("completionTime")
    )
    busy, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in spans:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return busy


def stage_totals(rec: dict) -> dict:
    """Job/stage counters of one call record (skipped stages add 0)."""
    st = rec["stages"]
    run = sum(s["executorRunTime"] or 0 for s in st)
    cpu = sum(s["executorCpuTime"] or 0 for s in st) / 1e6
    wall = rec["end_ms"] - rec["start_ms"]
    return {
        "jobs": len(rec["jobs"]),
        "tasks": sum(s["numCompleteTasks"] or 0 for s in st if s["status"] != "SKIPPED"),
        "run_ms": run,
        "cpu_ms": cpu,
        "offjvm_ms": run - cpu,
        "gc_ms": sum(s["jvmGcTime"] or 0 for s in st),
        "driver_only_ms": wall - _busy_ms(st, rec["start_ms"], rec["end_ms"]),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] or 0 for s in st),
        "spill_bytes": sum((s["memoryBytesSpilled"] or 0) + (s["diskBytesSpilled"] or 0) for s in st),
    }


def _unique_nodes(rec: dict):
    """(execution, node) pairs, each plan-node accumulator counted once:
    a cached relation's inner scan reappears, with the same
    accumulator ids, in every execution that reads the cache."""
    seen: set[int] = set()
    for ex in rec["executions"]:
        for node in ex["nodes"]:
            accs = {m["acc"] for m in node["metrics"].values()}
            if accs and accs <= seen:
                continue
            seen |= accs
            yield ex, node


def node_totals(rec: dict, tokens_path: str, ledger_path: str | None) -> dict:
    """Plan-node counters of one call record, split by layer: the
    tokens scan (sources), the ledger scans, the Python UDF nodes
    (arrow_stats) and the shuffle exchanges (plans)."""
    out = {
        "sources.input_bytes": 0.0, "sources.files_read": 0.0, "sources.scan_ms": 0.0,
        "ledger.bytes_read": 0.0, "arrow_stats.rows_to_python": 0.0,
        "arrow_stats.bytes_to_python": 0.0, "plans.exchange_bytes": 0.0,
    }
    python_stages: set[int] = set()
    for ex, node in _unique_nodes(rec):
        m = {k: v["value"] for k, v in node["metrics"].items()}
        name = node["name"].strip()
        if name == "Scan parquet":
            if ledger_path and ledger_path in node["desc"]:
                out["ledger.bytes_read"] += m.get("size of files read", 0.0)
            elif tokens_path in node["desc"]:
                out["sources.input_bytes"] += m.get("size of files read", 0.0)
                out["sources.files_read"] += m.get("number of files read", 0.0)
                out["sources.scan_ms"] += m.get("scan time", 0.0)
        elif name in PYTHON_NODES:
            out["arrow_stats.bytes_to_python"] += m.get("data sent to Python workers", 0.0)
            out["arrow_stats.rows_to_python"] += _rows_into(ex, node["id"])
            python_stages |= {v["stage"] for v in node["metrics"].values() if v["stage"] is not None}
        elif name == "Exchange":
            out["plans.exchange_bytes"] += m.get("shuffle bytes written", 0.0)
    by_id = {s["stageId"]: s for s in rec["stages"]}
    out["arrow_stats.stage_offjvm_ms"] = sum(
        (by_id[s]["executorRunTime"] or 0) - (by_id[s]["executorCpuTime"] or 0) / 1e6
        for s in python_stages if s in by_id
    )
    return out


def _rows_into(ex: dict, node_id: int) -> float:
    """Rows a node consumed: the output-row count of its nearest
    descendant that records one (projections record none)."""
    children = {}
    for frm, to in ex["edges"]:
        children.setdefault(to, []).append(frm)
    nodes = {n["id"]: n for n in ex["nodes"]}
    total, frontier = 0.0, list(children.get(node_id, []))
    while frontier:
        nid = frontier.pop()
        rows = nodes[nid]["metrics"].get("number of output rows") if nid in nodes else None
        if rows is not None:
            total += rows["value"]
        else:
            frontier.extend(children.get(nid, []))
    return total

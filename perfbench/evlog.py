"""Spark event-log and physical-plan parser for the benchmark's traced runs.

Reads the plain-JSON event log a session writes with
``spark.eventLog.enabled=true``, ``compress=false`` and rolling off, and
aggregates it over a wall-clock window (one timed pass):

* per-stage-group rows: stage wall, task count, executor run / CPU / GC
  core-seconds, max/median task run-time ratio, input / shuffle / spill /
  output bytes;
* totals over the window, including the ratio of the longest stage;
* per-plan-node SQL accumulables (``data sent to Python workers``,
  ``number of files read``, broadcast ``data size``, commit times, ...)
  summed by (node, metric);
* Spark jobs started in the window and their descriptions.

``plan_counts`` counts operators in an ``explain`` string.
"""

from __future__ import annotations

import json
import os
import re
import statistics

_SQL = "org.apache.spark.sql.execution.ui."
# accumulables whose unit is milliseconds / nanoseconds, by SQL metric type
_TIME_TYPES = {"timing": 1e-3, "nsTiming": 1e-9}


def _scope_name(rdd_info: list[dict], fallback: str) -> str:
    """Stage-group key: the stage's distinct physical-operator scope names.
    Under AQE every stage's call-site name is the same scheduler lambda, so
    the RDD scopes are the signal of what a stage computes."""
    scopes = set()
    for r in rdd_info:
        sc = r.get("Scope")
        if not sc:
            continue
        try:
            nm = json.loads(sc).get("name", "").strip()
        except ValueError:
            continue
        if nm.startswith("WholeStageCodegen"):
            nm = "WSC"
        if nm:
            scopes.add(nm)
    return "+".join(sorted(scopes)) or fallback


def _walk_plan(info: dict, out: dict[int, tuple[str, str, str, str]]) -> None:
    name, simple = info.get("nodeName", "?"), info.get("simpleString", "")
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (name, simple, m["name"], m.get("metricType", "sum"))
    for c in info.get("children", []):
        _walk_plan(c, out)


class EventLog:
    """One application's event log, parsed once."""

    def __init__(self, path: str):
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.jobs: list[dict] = []
        self.executions: dict[int, int] = {}  # execution id -> start ms
        self.nodes: dict[int, tuple[str, str, str, str]] = {}  # accum id -> node
        self.stage_accums: dict[int, dict[int, float]] = {}
        self.driver_accums: dict[int, dict[int, float]] = {}  # exec id -> accums
        files = [path]
        if os.path.isdir(path):
            files = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs]
        for f in sorted(files):
            with open(f, errors="replace") as fh:
                for line in fh:
                    try:
                        e = json.loads(line)
                    except ValueError:
                        continue
                    self._event(e)

    def _event(self, e: dict) -> None:
        ev = e.get("Event", "")
        if ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si.get("Submission Time") is None or si.get("Completion Time") is None:
                return
            self.stages[si["Stage ID"]] = {
                "id": si["Stage ID"],
                "name": _scope_name(si.get("RDD Info", []), si.get("Stage Name", "?")),
                "submit": si["Submission Time"],
                "complete": si["Completion Time"],
                "n_tasks": si.get("Number of Tasks", 0),
            }
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            ti, tm = e.get("Task Info") or {}, e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            self.tasks.setdefault(sid, []).append({
                "failed": bool(ti.get("Failed")),
                "run_s": tm.get("Executor Run Time", 0) / 1e3,
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                "input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                "output_bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                "shuffle_read_bytes": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                "shuffle_write_bytes": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill_bytes": tm.get("Disk Bytes Spilled", 0),
            })
            acc = self.stage_accums.setdefault(sid, {})
            for a in ti.get("Accumulables", []):
                upd = a.get("Update")
                if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                    acc[a["ID"]] = acc.get(a["ID"], 0) + float(upd)
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs.append({
                "id": e["Job ID"],
                "submit": e.get("Submission Time", 0),
                "description": props.get("spark.job.description", ""),
            })
        elif ev == _SQL + "SparkListenerSQLExecutionStart":
            self.executions[e["executionId"]] = e.get("time", 0)
            _walk_plan(e.get("sparkPlanInfo") or {}, self.nodes)
        elif ev == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            _walk_plan(e.get("sparkPlanInfo") or {}, self.nodes)
        elif ev == _SQL + "SparkListenerDriverAccumUpdates":
            acc = self.driver_accums.setdefault(e["executionId"], {})
            for aid, val in e.get("accumUpdates", []):
                acc[aid] = acc.get(aid, 0) + float(val)

    # -- aggregation over one window ---------------------------------------

    def window(self, t0_ms: float, t1_ms: float) -> dict:
        """Aggregate every stage, job, and SQL execution submitted inside
        ``[t0_ms, t1_ms]`` (epoch milliseconds, the driver's clock)."""
        sids = [s for s, m in self.stages.items() if t0_ms <= m["submit"] <= t1_ms]
        groups: dict[str, dict] = {}
        totals = dict(run_s=0.0, cpu_s=0.0, gc_s=0.0, input_bytes=0, output_bytes=0,
                      shuffle_read_bytes=0, shuffle_write_bytes=0, fetch_wait_s=0.0,
                      spill_bytes=0, tasks=0, failed_tasks=0)
        longest = None
        for sid in sids:
            meta, tasks = self.stages[sid], self.tasks.get(sid, [])
            wall = (meta["complete"] - meta["submit"]) / 1e3
            runs = [t["run_s"] for t in tasks]
            ratio = max(runs) / statistics.median(runs) if runs and statistics.median(runs) > 0 else 1.0
            g = groups.setdefault(meta["name"], dict(name=meta["name"], stages=0, wall_s=0.0,
                                                     max_task_ratio=0.0, **{k: 0 for k in totals}))
            g["stages"] += 1
            g["wall_s"] += wall
            g["max_task_ratio"] = max(g["max_task_ratio"], ratio)
            for t in tasks:
                for k in ("run_s", "cpu_s", "gc_s", "input_bytes", "output_bytes",
                          "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_s",
                          "spill_bytes"):
                    g[k] += t[k]
                    totals[k] += t[k]
                g["tasks"] += 1
                totals["tasks"] += 1
                g["failed_tasks"] += t["failed"]
                totals["failed_tasks"] += t["failed"]
            if longest is None or wall > longest[0]:
                longest = (wall, ratio, meta["name"])
        jobs = [j for j in self.jobs if t0_ms <= j["submit"] <= t1_ms]
        execs = [x for x, t in self.executions.items() if t0_ms <= t <= t1_ms]
        return {
            "stage_groups": sorted(groups.values(), key=lambda g: -g["wall_s"]),
            "totals": totals,
            "skew_ratio": longest[1] if longest else 1.0,
            "longest_stage": longest[2] if longest else "",
            "n_jobs": len(jobs),
            "job_descriptions": sorted({j["description"] for j in jobs}),
            "sql_metrics": self._node_metrics(sids, execs),
        }

    def _node_metrics(self, sids: list[int], execs: list[int]) -> list[dict]:
        """Per (node, metric) sums of the SQL accumulables that the window's
        stages and driver-side updates carried. ``fn`` names the Python
        function of a Python-boundary node, ``stage_run_s`` the executor run
        time of the stages in which the node ran."""
        sums: dict[int, float] = {}
        node_stages: dict[int, set[int]] = {}
        for sid in sids:
            for aid, v in self.stage_accums.get(sid, {}).items():
                sums[aid] = sums.get(aid, 0) + v
                node_stages.setdefault(aid, set()).add(sid)
        for x in execs:
            for aid, v in self.driver_accums.get(x, {}).items():
                sums[aid] = sums.get(aid, 0) + v
        rows: dict[tuple[str, str, str], dict] = {}
        for aid, v in sums.items():
            if aid not in self.nodes:
                continue
            node, simple, metric, mtype = self.nodes[aid]
            m = re.match(r"\S+\s+(\w+)\(", simple)
            fn = m.group(1) if m and "Python" in metric else ""
            r = rows.setdefault((node, fn, metric), dict(node=node, fn=fn, metric=metric,
                                                         value=0.0, stages=set()))
            r["value"] += v * _TIME_TYPES.get(mtype, 1)
            r["stages"] |= node_stages.get(aid, set())
        out = []
        for r in rows.values():
            r["stage_run_s"] = sum(t["run_s"] for s in r.pop("stages") for t in self.tasks.get(s, []))
            out.append(r)
        return sorted(out, key=lambda r: (r["node"], r["fn"], r["metric"]))


def sql_metric(rows: list[dict], node: str | None, metric: str, fn: str | None = None) -> float:
    """Sum of ``metric`` over nodes named ``node`` (any node when None),
    restricted to Python function ``fn`` when given."""
    return sum(
        r["value"] for r in rows
        if r["metric"] == metric and (node is None or r["node"] == node)
        and (fn is None or r["fn"] == fn)
    )


def find_log(ev_dir: str) -> str:
    """The single application log a session wrote under ``ev_dir``."""
    entries = [os.path.join(ev_dir, p) for p in os.listdir(ev_dir)
               if not p.startswith(".") and not p.endswith(".inprogress")]
    if len(entries) != 1:
        raise FileNotFoundError(f"expected one finished event log in {ev_dir}, found {entries}")
    return entries[0]


def plan_counts(explain: str, scan_path: str = "") -> dict[str, int]:
    """Operator counts in the physical plan of an ``explain`` string: scans
    of files whose location contains ``scan_path``, shuffle exchanges,
    broadcast exchanges and ``MapInPandas`` nodes. Counts the initial plan
    (AQE has not re-optimized it yet), so the numbers repeat exactly."""
    phys = explain.split("== Physical Plan ==", 1)[-1]
    lines = phys.splitlines()
    return {
        "docs_scans": sum(1 for ln in lines if "FileScan parquet" in ln and scan_path in ln),
        "exchanges": sum(1 for ln in lines if re.search(r"(?<!Broadcast)Exchange \w", ln)
                         and "ReusedExchange" not in ln),
        "broadcast_exchanges": sum(1 for ln in lines if "BroadcastExchange" in ln
                                   and "ReusedExchange" not in ln),
        "map_in_pandas": sum(1 for ln in lines if re.search(r"\bMapInPandas\b", ln)),
    }

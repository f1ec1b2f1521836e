"""Layer spans around calls into the engine, and their Spark metrics.

A span sets a Spark job group for the duration of one call into a
layer, records its wall time and, from Spark's status tracker, the
jobs it ran. After the session stops, ``EventLog`` reads the
uncompressed event log and sums task metrics per job group: executor
run time, shuffle bytes written, Python-worker run time, and the rows
each plan node output (a parquet scan's node names its directory).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark settings for a plain, single-file JSON event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Records spans as (layer, group id, wall seconds, job count)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._n = 0

    @contextmanager
    def span(self, layer: str):
        self._n += 1
        gid = f"{layer}#{self._n}"
        self.sc.setJobGroup(gid, layer)
        rec = {"layer": layer, "group": gid}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(gid))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


_TIME_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


def _empty_group() -> dict:
    return {"executor_s": 0.0, "shuffle_bytes": 0, "python_s": 0.0, "rows": {}}


class EventLog:
    """Per-job-group sums parsed from a finished event log."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        stage_group: dict[int, str] = {}
        # accumulator id -> (node name, metric name, metric type, node text)
        accums: dict[int, tuple] = {}
        tasks: list[tuple[str, dict, list]] = []

        def walk(plan):
            text = plan.get("simpleString", "")
            for m in plan.get("metrics", ()):
                accums[m["accumulatorId"]] = (
                    plan["nodeName"], m["name"], m["metricType"], text
                )
            for c in plan.get("children", ()):
                walk(c)

        with open(files[0]) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        for s in e["Stage IDs"]:
                            stage_group[s] = gid
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(e["Stage ID"])
                    if gid and e.get("Task Metrics"):
                        tasks.append(
                            (gid, e["Task Metrics"], e["Task Info"].get("Accumulables", ()))
                        )
                elif "sparkPlanInfo" in e:
                    walk(e["sparkPlanInfo"])
        self.groups: dict[str, dict] = {}
        for gid, tm, acc in tasks:
            g = self.groups.setdefault(gid, _empty_group())
            g["executor_s"] += tm["Executor Run Time"] / 1e3
            g["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for a in acc:
                info = accums.get(a.get("ID"))
                if info is None or "Update" not in a:
                    continue
                node, name, mtype, text = info
                if name == "time to run Python workers":
                    g["python_s"] += float(a["Update"]) * _TIME_SCALE.get(mtype, 1e-3)
                elif name == "number of output rows":
                    k = (node, text)
                    g["rows"][k] = g["rows"].get(k, 0) + int(a["Update"])

    def group(self, gid: str) -> dict:
        return self.groups.get(gid) or _empty_group()

    def output_rows(self, gid: str, node_prefix: str, text_part: str = "") -> int:
        """Rows output by plan nodes whose name starts with
        ``node_prefix`` and whose description contains ``text_part``
        (a parquet scan's description holds its location), in one job
        group."""
        return sum(
            n
            for (node, text), n in self.group(gid)["rows"].items()
            if node.startswith(node_prefix) and text_part in text
        )


def tree_peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) over this process and all of
    its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    hwm: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                st = dict(
                    line.split(":", 1) for line in f.read().splitlines() if ":" in line
                )
        except OSError:
            continue
        pid = int(d)
        children.setdefault(int(st["PPid"].strip()), []).append(pid)
        if "VmHWM" in st:
            hwm[pid] = int(st["VmHWM"].split()[0])
    total, todo = 0, [os.getpid()]
    while todo:
        p = todo.pop()
        total += hwm.get(p, 0)
        todo.extend(children.get(p, ()))
    return total / 1024.0

"""Traced mode: spans recorded around the calls into each engine layer, and
counters read at the same boundaries from Spark's REST API, a
QueryExecutionListener (planning phases) and a StreamingQueryListener
(micro-batch progress), all registered by the benchmark itself. Spans and
events stay in memory; the optional span file is written once, at the end.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

PY_NODE = re.compile(r"InPandas|InArrow|EvalPython|PythonUDTF|ArrowPython")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """Total of a SQL UI metric string: '324 ms', '152.0 KiB', '60,000' or
    the 'total (min, med, max ...)' form whose first number is the total."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _ts(text: str | None) -> float | None:
    """Epoch seconds of a REST API time string like 2026-01-01T00:00:00.123GMT."""
    if not text:
        return None
    d = datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=timezone.utc).timestamp()


def _union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, edge = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, edge)
        if b > a:
            total, edge = total + b - a, b
    return total


class _PlanListener:
    """py4j implementation of org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self, sink: list) -> None:
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        phases, it = 0.0, qe.tracker().phases().iterator()
        while it.hasNext():
            phases += it.next()._2().durationMs() / 1000.0
        self.sink.append((time.time(), phases))

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _ProgressListener(StreamingQueryListener):
    def __init__(self, sink: list) -> None:
        self.sink = sink

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self.sink.append((time.time(), json.loads(event.progress.json)))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class Tracer:
    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.api = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.plan_events: list = []
        self.progress: list = []
        ensure_callback_server_started(sc._gateway)
        spark._jsparkSession.listenerManager().register(_PlanListener(self.plan_events))
        spark.streams.addListener(_ProgressListener(self.progress))
        self._last = {"job": -1, "stage": -1, "sql": -1}

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    # -- counters -------------------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.api}/{path}", timeout=30) as r:
            return json.load(r)

    def _new(self, key: str, rows: list, id_field: str) -> list:
        fresh = [r for r in rows if r[id_field] > self._last[key]]
        if fresh:
            self._last[key] = max(r[id_field] for r in fresh)
        return fresh

    def spark_counters(self, t0: float, t1: float) -> dict[str, float]:
        """Counters of every job, stage and SQL execution since the last
        call; [t0, t1] is the pass's wall-clock interval."""
        for _ in range(40):  # the status store trails the action slightly
            jobs = self._get("jobs")
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.05)
        jobs = self._new("job", jobs, "jobId")
        stages = self._new("stage", self._get("stages?status=complete"), "stageId")
        # the SQL list is paginated (20 by default): list ids, then fetch
        # each new execution with its plan-node metrics
        execs = [self._get(f"sql/{e['id']}?details=true&planDescription=false")
                 for e in self._new("sql", self._get("sql?details=false&length=100000"), "id")]
        out = {
            "spark.jobs": len(jobs),
            "plans.build_jobs": sum(1 for j in jobs if j.get("jobGroup") == "build"),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
            "sources.input_rows": sum(s["inputRecords"] for s in stages),
            "sources.input_bytes": sum(s["inputBytes"] for s in stages),
        }
        # wall time of the pass during which no stage had a task running
        busy = _union_s((max(_ts(s.get("firstTaskLaunchedTime")) or t0, t0),
                         min(_ts(s["completionTime"]) or t1, t1)) for s in stages)
        out["spark.no_task_s"] = max(0.0, (t1 - t0) - busy)
        scan = py_stages = to_py = from_py = 0.0
        for e in execs:
            for node in e.get("nodes", []):
                m = {x["name"]: x["value"] for x in node.get("metrics", [])}
                if node["nodeName"].startswith("Scan") and "scan time" in m:
                    scan += metric_value(m["scan time"])
                if PY_NODE.search(node["nodeName"]):
                    py_stages += 1
                    to_py += metric_value(m.get("data sent to Python workers", "0"))
                    from_py += metric_value(m.get("data returned from Python workers", "0"))
        out.update({
            "sources.scan_s": scan,
            "operators.py_stages": py_stages,
            "operators.py_bytes_to_python": to_py,
            "operators.py_bytes_from_python": from_py,
        })
        ex = self._get("executors")
        out["spark.storage_mb"] = sum(x["memoryUsed"] for x in ex) / 2**20
        return out

    def plan_s(self, t0: float, t1: float) -> float:
        return sum(p for t, p in list(self.plan_events) if t0 <= t < t1)

    def stream_counters(self, t0: float, t1: float, layer_s: float) -> dict[str, float]:
        """Micro-batches that started in [t0, t1), as counters and as
        micro-batch spans under the streaming layer span that holds them."""
        events = [p for _, p in list(self.progress)
                  if t0 <= _ts(p["timestamp"].replace("Z", "GMT")) < t1]
        dur = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1e3  # noqa: E731
        last: dict[str, dict] = {}
        batches = []
        for p in events:
            last[p["runId"]] = p
            start = _ts(p["timestamp"].replace("Z", "GMT"))
            batches.append((start, start + dur(p, "triggerExecution")))
            parent = next((s["id"] for s in self.spans if s["name"].startswith("streaming.")
                           and s["start"] <= start <= (s["end"] or t1)), None)
            self.spans.append({"id": len(self.spans), "parent": parent,
                               "name": f"micro_batch.{p['batchId']}", "start": start,
                               "end": batches[-1][1], "sink": p["sink"]["description"]})
        # concurrent queries overlap (bronze and silver each run two), so
        # the time spent outside micro-batches is the layer time minus the
        # union of the batch intervals, not minus their sum
        covered = _union_s(batches)
        ops = [op for p in events for op in p.get("stateOperators", [])]
        final_ops = [op for p in last.values() for op in p.get("stateOperators", [])]
        trigger = sum(dur(p, "triggerExecution") for p in events)
        return {
            "streaming.queries": len({p["runId"] for p in events}),
            "streaming.batches": len(events),
            "streaming.trigger_s": trigger,
            "streaming.add_batch_s": sum(dur(p, "addBatch") for p in events),
            "streaming.planning_s": sum(dur(p, "queryPlanning") for p in events),
            "streaming.commit_log_s": sum(dur(p, "walCommit") + dur(p, "commitOffsets")
                                          for p in events),
            "streaming.outside_batch_s": max(0.0, layer_s - covered) if events else 0.0,
            "streaming.state_commit_s": sum(op.get("commitTimeMs", 0) for op in ops) / 1e3,
            "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in final_ops),
            "streaming.state_mem_bytes": sum(op.get("memoryUsedBytes", 0) for op in final_ops),
        }

    def drain(self, quiet_s: float = 0.5, max_s: float = 5.0) -> None:
        """Wait until the asynchronous listeners stop delivering events."""
        deadline = time.time() + max_s
        n = -1
        while time.time() < deadline and n != len(self.plan_events) + len(self.progress):
            n = len(self.plan_events) + len(self.progress)
            time.sleep(quiet_s)

"""Per-layer tracing of benchmark queries, from outside the package.

A traced query runs in three phases, each under its own Spark job group:
``plans.build`` (the registry call), ``spark.catalyst.plan`` (forcing
``executedPlan()``) and ``exec`` (the ``noop`` write). After the query,
``harvest`` reads what the engine recorded:

- jobs and stages from ``SparkContext.statusStore()``;
- Python-worker metrics from the SQL status store;
- Catalyst phase times from the query's ``QueryExecution.tracker()``;
- stream batches from a ``StreamingQueryListener``;
- RDD storage from ``getRDDStorageInfo()``.

``mdx.parse_mdx`` and ``mdx.mdx_cells_many`` are wrapped on the module
attribute while a traced pass runs. Spans (name, start, end, parent) are
kept in memory and written by ``dump``. Every time is epoch seconds,
the clock the JVM stamps jobs and batches with.

Jobs launched by the query's own thread carry its job group. Stream
jobs run on the stream's thread under the stream's run id, so they are
placed by time under the batch, and batches under the phase, that
contain their start.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

MiB = 1024.0 * 1024.0
GROUP = "perfbench"
PHASES = ("plans.build", "spark.catalyst.plan", "exec")
PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "data sent to Python workers": "py_sent_mb",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / MiB, "KiB": 1 / 1024.0, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2,
}

#: per-layer metric -> (pass accumulator key, unit)
PER_PASS = {
    "plans.build_s": ("build_s", "s"),
    "plans.build_self_s": ("build_self_s", "s"),
    "plans.build_jobs": ("build_jobs", "count"),
    "mdx.calls": ("mdx_calls", "count"),
    "mdx.compile_s": ("mdx_s", "s"),
    "spark.catalyst.analysis_ms": ("analysis_ms", "ms"),
    "spark.catalyst.optimization_ms": ("optimization_ms", "ms"),
    "spark.catalyst.planning_ms": ("planning_ms", "ms"),
    "spark.exec_s": ("exec_s", "s"),
    "spark.jobs": ("jobs", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.failed_tasks": ("failed_tasks", "count"),
    "spark.task_run_s": ("task_run_s", "s"),
    "spark.task_cpu_s": ("task_cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "spark.spill_mb": ("spill_mb", "MB"),
    "sources.input_mb": ("input_mb", "MB"),
    "sources.output_mb": ("output_mb", "MB"),
    "pyworker.run_s": ("py_run_s", "s"),
    "pyworker.start_s": ("py_start_s", "s"),
    "pyworker.sent_mb": ("py_sent_mb", "MB"),
    "streaming.batches": ("batches", "count"),
    "streaming.trigger_ms": ("trigger_ms", "ms"),
    "streaming.planning_ms": ("stream_planning_ms", "ms"),
    "streaming.add_batch_ms": ("add_batch_ms", "ms"),
    "streaming.state_rows": ("state_rows", "count"),
}


def _metric_value(text: str | None) -> float:
    """Total of an aggregated SQL metric string such as
    ``total (min, med, max ...)\\n5.2 s (1.3 s, ...)``, in s or MiB."""
    if not text:
        return 0.0
    m = re.search(r"(?:^|\n)\s*([\d.,]+)\s*([A-Za-z]+)", text)
    if not m or m.group(2) not in _UNITS:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class _Batches(StreamingQueryListener):
    """Collects one record per finished stream batch."""

    def __init__(self):
        self.records: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        d = p.durationMs
        self.records.append({
            "run_id": str(p.runId),
            "batch": p.batchId,
            "start": start.replace(tzinfo=timezone.utc).timestamp(),
            "trigger_ms": d.get("triggerExecution", 0),
            "planning_ms": d.get("queryPlanning", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def drain(self) -> list[dict]:
        out, self.records = self.records, []
        return out


class Tracer:
    def __init__(self, cores: int):
        self.cores = cores
        self.spans: list[dict] = []
        self.passes: list[dict] = []
        self.coverage: list[float] = []
        self.storage_mb_peak = 0.0
        self._pending = None
        self._mdx: list[dict] = []
        self._mdx_depth = 0
        self._originals: dict = {}
        self._listening = False

    # -- set-up -------------------------------------------------------
    def attach(self, spark) -> None:
        from map_reduce_sf_crime_spark.functions import caching

        self.spark, self.sc = spark, spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        jvm = spark._jvm
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            .__getattr__("MODULE$")
        )
        self.listener = _Batches()
        self._caching = caching
        self._release_failures0 = caching._RELEASE_FAILURES
        self._stages_seen: set[int] = set()

    def _skip_history(self) -> None:
        """Mark every job and SQL execution so far as already seen."""
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)
        self._last_job = jobs.head().jobId() if jobs.nonEmpty() else -1
        execs = self.sql_store.executionsList()
        n = execs.length()
        self._last_exec = execs.apply(n - 1).executionId() if n else -1

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    # -- passes -------------------------------------------------------
    def begin_pass(self) -> None:
        from map_reduce_sf_crime_spark import mdx

        self._skip_history()
        self.spark.streams.addListener(self.listener)
        self._listening = True
        for name in ("parse_mdx", "mdx_cells_many"):
            self._originals[name] = getattr(mdx, name)
            setattr(mdx, name, self._wrap(name, self._originals[name]))
        self._acc = dict.fromkeys(
            [k for k, _ in PER_PASS.values()] + ["wall_s", "stages", "skipped_stages"],
            0.0,
        )

    def end_pass(self) -> float:
        """Finish a traced pass; returns its time (sum of query spans)."""
        self.detach()
        self.passes.append(self._acc)
        return self._acc["wall_s"]

    def detach(self) -> None:
        from map_reduce_sf_crime_spark import mdx

        for name, fn in self._originals.items():
            setattr(mdx, name, fn)
        self._originals = {}
        if self._listening:
            self.spark.streams.removeListener(self.listener)
            self._listening = False

    def _wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            self._mdx_depth += 1
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self._mdx_depth -= 1
                self._mdx.append({"name": f"mdx.{name}", "start": t0,
                                  "end": time.time(), "outer": self._mdx_depth == 0})

        return traced

    # -- one query ----------------------------------------------------
    def run_query(self, name: str, build, data_dir: str) -> None:
        qid = len(self.spans)
        marks = [time.time()]
        qe = None
        try:
            self.sc.setJobGroup(f"{GROUP}:{qid}:0", name)
            df = build(self.spark, data_dir)
            marks.append(time.time())
            self.sc.setJobGroup(f"{GROUP}:{qid}:1", name)
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            marks.append(time.time())
            self.sc.setJobGroup(f"{GROUP}:{qid}:2", name)
            df.write.format("noop").mode("overwrite").save()
            marks.append(time.time())
        finally:
            self.sc._jsc.clearJobGroup()
            if len(marks) < 4:
                marks.append(time.time())
            self._pending = (qid, name, marks, qe)

    def harvest(self) -> None:
        """Collect what the engine recorded for the query just run."""
        if self._pending is None:
            return
        qid, name, marks, qe = self._pending
        self._pending = None
        self.jsc.listenerBus().waitUntilEmpty()
        acc = self._acc
        root = {"id": f"q{qid}", "parent": None, "name": "query",
                "start": marks[0], "end": marks[-1], "query": name,
                "pass": len(self.passes)}
        self.spans.append(root)
        phases = []
        for i, (s, e) in enumerate(zip(marks, marks[1:])):
            span = {"id": f"q{qid}.{i}", "parent": root["id"], "name": PHASES[i],
                    "start": s, "end": e}
            phases.append(span)
            self.spans.append(span)
        wall = root["end"] - root["start"]
        acc["wall_s"] += wall
        self.coverage.append(
            sum(p["end"] - p["start"] for p in phases) / wall if wall > 0 else 1.0
        )

        def phase_at(t: float):
            for p in phases:
                if p["start"] <= t <= p["end"]:
                    return p
            return root

        for m in self._mdx:
            parent = phase_at(m["start"])
            self.spans.append({"id": f"{parent['id']}.m{len(self.spans)}",
                               "parent": parent["id"], "name": m["name"],
                               "start": m["start"], "end": m["end"]})
            acc["mdx_calls"] += 1
            if m["outer"]:
                acc["mdx_s"] += m["end"] - m["start"]
        self._mdx = []

        # stream batches, then jobs: each goes under the phase that was
        # running when it started; a stream job goes under its batch
        busy = {i: [] for i in range(len(phases))}  # phase -> job/batch intervals
        batch_spans = []
        batches = self.listener.drain()
        for b in batches:
            parent = phase_at(b["start"])
            end = b["start"] + b["trigger_ms"] / 1000.0
            span = {"id": f"{parent['id']}.b{len(self.spans)}", "parent": parent["id"],
                    "name": "streaming.batch", "start": b["start"], "end": end,
                    "run_id": b["run_id"], "batch": b["batch"]}
            self.spans.append(span)
            batch_spans.append(span)
            if parent in phases:
                busy[phases.index(parent)].append((b["start"], end))
            acc["batches"] += 1
            acc["trigger_ms"] += b["trigger_ms"]
            acc["stream_planning_ms"] += b["planning_ms"]
            acc["add_batch_ms"] += b["add_batch_ms"]
        last_state = {b["run_id"]: b["state_rows"] for b in batches}
        acc["state_rows"] += sum(last_state.values())

        for job in self._new_jobs():
            start = job["submissionTime"] / 1000.0
            end = (job.get("completionTime") or job["submissionTime"]) / 1000.0
            group = job.get("jobGroup") or ""
            if group.startswith(f"{GROUP}:{qid}:"):
                parent = phases[int(group.rsplit(":", 1)[1])]
            else:
                parent = phase_at(start)
            if parent in phases:
                busy[phases.index(parent)].append((start, end))
                if parent is phases[0]:
                    acc["build_jobs"] += 1
            for bs in batch_spans:
                if bs["run_id"] == group and bs["start"] <= start <= bs["end"]:
                    parent = bs
                    break
            self.spans.append({"id": f"job{job['jobId']}", "parent": parent["id"],
                               "name": "spark.job", "start": start, "end": end,
                               "job_id": job["jobId"], "group": group})
            acc["jobs"] += 1
            acc["tasks"] += job["numCompletedTasks"]
            acc["failed_tasks"] += job["numFailedTasks"]
            acc["stages"] += len(job["stageIds"])
            acc["skipped_stages"] += job["numSkippedStages"]
            self._add_stages(job["stageIds"])

        build = phases[0]
        acc["build_s"] += build["end"] - build["start"]
        acc["build_self_s"] += (build["end"] - build["start"]) - _covered(
            build["start"], build["end"], busy[0]
        )
        if len(phases) > 2:
            acc["exec_s"] += phases[2]["end"] - phases[2]["start"]
        if qe is not None:
            for ph, summary in self._json(qe.tracker().phases()).items():
                key = f"{ph}_ms"
                if key in acc:
                    acc[key] += summary["endTimeMs"] - summary["startTimeMs"]
        self._add_python_metrics()
        storage = sum(
            r.memSize() + r.diskSize() for r in self.jsc.getRDDStorageInfo()
        ) / MiB
        self.storage_mb_peak = max(self.storage_mb_peak, storage)

    def _new_jobs(self) -> list[dict]:
        jobs = self.store.jobsList(None)  # newest first
        if not jobs.nonEmpty():
            return []
        top = jobs.head().jobId()
        new = top - self._last_job
        self._last_job = top
        if new <= 0:
            return []
        return [j for j in self._json(jobs.take(new)) if j.get("submissionTime")]

    def _add_stages(self, stage_ids: list[int]) -> None:
        from py4j.protocol import Py4JJavaError

        acc = self._acc
        objs = []
        for sid in stage_ids:
            if sid in self._stages_seen:
                continue
            self._stages_seen.add(sid)
            try:
                objs.append(self.store.lastStageAttempt(sid))
            except Py4JJavaError:  # a stage that was skipped and never ran
                continue
        if not objs:
            return
        for st in self._json(objs):
            acc["task_run_s"] += st["executorRunTime"] / 1e3
            acc["task_cpu_s"] += st["executorCpuTime"] / 1e9
            acc["gc_s"] += st["jvmGcTime"] / 1e3
            acc["shuffle_write_mb"] += st["shuffleWriteBytes"] / MiB
            acc["spill_mb"] += st["diskBytesSpilled"] / MiB
            acc["input_mb"] += st["inputBytes"] / MiB
            acc["output_mb"] += st["outputBytes"] / MiB

    def _add_python_metrics(self) -> None:
        execs = self.sql_store.executionsList()
        i = execs.length() - 1
        new = []
        while i >= 0:
            ex = execs.apply(i)
            if ex.executionId() <= self._last_exec:
                break
            new.append(ex)
            i -= 1
        if new:
            self._last_exec = new[0].executionId()
        for ex in new:
            wanted = {
                str(m["accumulatorId"]): PY_METRICS[m["name"]]
                for m in self._json(ex.metrics()) if m["name"] in PY_METRICS
            }
            if not wanted:
                continue
            values = self._json(self.sql_store.executionMetrics(ex.executionId()))
            for acc_id, key in wanted.items():
                self._acc[key] += _metric_value(values.get(acc_id))

    # -- results ------------------------------------------------------
    def metrics(self, get_spark_s: float, plain_pass_s: float) -> dict:
        def med(key: str) -> float:
            return statistics.median(p[key] for p in self.passes)

        out = {"session.get_spark_s": (get_spark_s, "s")}
        for metric, (key, unit) in PER_PASS.items():
            out[metric] = (med(key), unit)
        out["spark.skipped_stage_ratio"] = (
            statistics.median(
                p["skipped_stages"] / p["stages"] if p["stages"] else 0.0
                for p in self.passes
            ),
            "ratio",
        )
        out["spark.busy_ratio"] = (
            statistics.median(
                p["task_run_s"] / (p["wall_s"] * self.cores) for p in self.passes
            ),
            "ratio",
        )
        out["caching.storage_mb_peak"] = (self.storage_mb_peak, "MB")
        out["caching.release_failures"] = (
            self._caching._RELEASE_FAILURES - self._release_failures0, "count"
        )
        traced = med("wall_s")
        out["trace.pass_s"] = (traced, "s")
        out["trace.overhead_ratio"] = (traced / plain_pass_s, "ratio")
        out["trace.span_coverage_min"] = (min(self.coverage), "ratio")
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "passes": self.passes}, f)
